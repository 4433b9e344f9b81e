"""Training-mix sampling and sequence-packing operators over the
``documents`` table — the steps between a curated corpus and a training
run: deterministic stratified downsampling and greedy token-budget
sequence packing. Split out of ``llm/pipeline.py`` (the curation
composition) into their own module.

Everything is salted-md5-bucket deterministic: stable across runs,
engines, cluster sizes and data order — no RNG state anywhere, so a
100 TB job is reproducible row-exactly for audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.llm import text as T
from flinkrunner_spark.tables import load_table


# Per-language sampling rates for the training mix (out of 10000);
# languages not listed fall back to the default rate.
STRATA_RATES = {"en": 5000, "de": 10000, "fr": 2500, "es": 2500, "zh": 10000}
STRATA_DEFAULT = 1000


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling by language — the
    training-mix re-weighting step (e.g. keep 50% of English, all of the
    low-resource strata). The keep decision is md5(doc_id || salt) mod
    10000 compared against the stratum's rate: stable across runs,
    engines, cluster sizes and data order — no RNG state, no shuffle, a
    pure filter projection that is embarrassingly parallel at 100 TB
    (and, unlike ``df.sample``, reproducible row-exactly for audit).
    The salt differs from ``docs_split``'s so the sample is independent
    of the train/val/test assignment."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        T.hex8_long(F.concat(F.col("doc_id").cast("string"), F.lit(":strata:v1")))
        % 10000
    )
    rate = F.lit(STRATA_DEFAULT)
    for lang, r in sorted(STRATA_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .select("doc_id", "lang", "bucket")
    )


PACK_BUDGET = 2048  # tokens per packed training sequence
PACK_SHARDS = 64  # parallel packing shards (each packs independently)


def docs_pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    budget: int = PACK_BUDGET,
    shards: int = PACK_SHARDS,
) -> DataFrame:
    """Greedy token-budget SEQUENCE PACKING: assign each document to a
    fixed-token-budget pack (training sequences are built by
    concatenating documents until ~``budget`` tokens), deterministically.

    Packing is SHARD-LOCAL by construction: shard = md5-bucket of doc_id,
    and each shard packs its own documents in hash order via a running
    token cumsum — pack_id = floor(start_offset / budget). Documents
    straddle pack boundaries exactly as greedy concatenation would
    (standard practice: the tokenizer truncates/continues at the
    boundary). At 100 TB the per-shard window is the ONLY ordered
    operation and shards are independent — raise ``shards`` with the
    cluster (one window partition each, no global sort anywhere). This is
    how real pretraining pipelines shard packing: sequences never span
    shard (= worker) boundaries."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":pack:v1"))
    base = docs.select(
        "doc_id",
        F.md5(key).alias("h"),
        (T.hex8_long(key) % shards).alias("shard"),
        T.bpe_tokens_col().alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        F.floor((cum - F.col("n_tokens")) / budget).alias("pack_id"),
        "n_tokens",
    )


SHUFFLE_SHARDS = 32  # training-order output shards


def docs_shuffle_shards(
    spark: SparkSession, sf_dir: str, shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """Deterministic GLOBAL SHUFFLE into training shards — the step that
    turns a curated corpus into a randomized training order without RNG
    state: shard = md5-bucket of doc_id, position = rank of the md5 hash
    within the shard. Reading shards round-robin replays one fixed
    pseudo-random permutation of the corpus, reproducible across runs,
    engines and cluster sizes (df.orderBy(rand()) is none of those).

    100 TB shape: one hash-partition exchange on the shard key plus a
    per-shard sort — shards are independent, scale the count with the
    cluster; no global sort anywhere."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle:v1"))
    base = docs.select(
        "doc_id",
        F.md5(key).alias("h"),
        (T.hex8_long(key) % shards).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return base.select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        F.row_number().over(w).alias("pos"),
    )


# Target training-mix percentages per language stratum (sum 100) — the
# knob a real pipeline sets per data source/quality tier.
MIXTURE_TARGETS = {"en": 40, "de": 15, "fr": 15, "es": 15, "zh": 15}


def docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-MIXTURE PLANNING: given target mixture percentages per
    stratum, compute each stratum's token inventory and the repetition
    factor (epochs) a sampler must apply for the training stream to hit
    the target — epochs = (target% · total_tokens) / (100 · stratum
    tokens), the standard mixture-reweighting arithmetic (cf. the
    sampling-weights tables of GPT-3/Gopher/LLaMA). Values > 1 mean the
    stratum repeats; < 1 means it is subsampled (feed
    ``docs_stratified_sample`` the implied rate).

    One map-side-combined aggregation over (lang); the corpus total
    arrives as a broadcast one-row aggregate — no driver round-trip,
    no second shuffle. epochs is a quotient of exact ints, bit-stable
    cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    target = F.lit(0)
    for lang, pct in sorted(MIXTURE_TARGETS.items()):
        target = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(target)
    per = (
        docs.select("lang", T.bpe_tokens_col().alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .withColumn("target_pct", target)
    )
    total = docs.select(T.bpe_tokens_col().alias("n_tok")).agg(
        F.sum("n_tok").alias("total_tokens")
    )
    epochs = (F.col("target_pct") * F.col("total_tokens")) / (
        F.lit(100) * F.col("n_tokens")
    )
    return per.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "target_pct",
        F.round(epochs, 6).alias("epochs"),
    )


WSAMPLE_K = 100


def docs_weighted_sample(
    spark: SparkSession, sf_dir: str, k: int = WSAMPLE_K
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, inclusion probability ∝
    n_chars — the Efraimidis & Spirakis (2006, "Weighted random
    sampling with a reservoir") A-ES scheme: each row gets the key
    ln(u)/w (u uniform, w its weight) and the sample is the top-k keys.
    The training-data use: length-weighted corpus subsampling (longer
    documents proportionally likelier) with a SINGLE deterministic
    pass.

    Reference scope note: no reference counterpart — LLM-data-pipeline
    extension family (SURVEY.md §2.5).

    100 TB shape: ONE projection + ONE TakeOrdered (no shuffle, no
    window over the corpus) — the same zero-exchange screen shape as
    ``docs_gopher_rules``. u derives from md5(doc_id), so the sample
    is reproducible across runs/engines/partitionings; the OUTPUT
    carries no float (doc_id, lang, n_chars, rk) — the verified object
    is the ranking itself, and the ln-parity contract is the one
    ``docs_lm_score`` already pins cross-engine. Rows with
    non-positive weight are excluded (both engines) per the paper's
    w > 0 domain."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    m = T.hex8_long(
        F.concat(F.col("doc_id").cast("string"), F.lit(":wsample:v1"))
    )
    u = (m + F.lit(1)).cast("double") / F.lit(4294967296.0)  # (0, 1]
    key = F.log(u) / F.col("n_chars")
    top = (
        docs.select("doc_id", "lang", "n_chars", key.alias("k_"))
        .orderBy(F.col("k_").desc(), "doc_id")
        .limit(k)
    )
    return top.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("k_").desc(), F.col("doc_id"))
        ),
    ).select("doc_id", "lang", "n_chars", "rk")
