"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169), Spark-shaped and exactly oracled.

``docs_dsir_sample`` scores every raw document with the hashed-n-gram
importance weight log(p_target(x) / p_raw(x)) and draws a deterministic
Gumbel-top-k sample — the paper's recipe end-to-end:

* **features** — unigram + bigram instances hashed into ``M = 1024``
  buckets (the paper's hashed generative model; hashing sidesteps any
  vocabulary build).
* **bag-of-hashed-ngrams models** — ``p_target`` from the target slice
  (here ``lang = 'en'``: "select raw text that looks like the English
  target"), ``p_raw`` from the whole corpus, both Laplace-smoothed
  (+1 per bucket).
* **importance weight** — ``log w(x) = Σ_b c_b(x) · llr_b`` with
  ``llr_b = ln(p_t(b) / p_r(b))``.
* **Gumbel-top-k resampling** — ``key = log w + G`` with
  ``G = -ln(-ln(u))``; taking the top k by key IS sampling without
  replacement ∝ w (the Gumbel-max trick), which is the paper's
  importance *resampling* rather than a biased plain top-k.

Reference scope note: no reference counterpart — LLM-data-pipeline
extension family (SURVEY.md §2.5).

Determinism contract (the exact-hash gate): every ``ln`` output is
quantized to 6 decimals (Spark ROUND semantics, mirrored by the
oracle's ``_r6`` VARCHAR route) and scaled to integer **micro-nats**,
so the per-document score is an exact BIGINT sum — order-independent
across partitions and engines. The Gumbel uniform comes from
``md5(doc_id)`` (u = (hex8 + 0.5) / 2^32, strictly inside (0,1)), so
the "noise" is reproducible in SQL.

100 TB shape: text never shuffles — only (doc_id, bucket) pairs move.
The two models ARE one 1024-row count table built with map-side
partial aggregation and ONE bucket-keyed shuffle (both models from the
same pass: COUNT(*) and a filtered count). The LLR table is 1024 rows,
broadcast; per-doc scoring is one doc_id-keyed integer SUM with
map-side combine; the sample is a TakeOrdered top-k, no global sort
materialization. Everything scales with corpus size except the model,
which is O(M) = O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark import memo
from flinkrunner_spark.llm.text import hex8_long, tokens_col

DSIR_BUCKETS = 1024
DSIR_SALT = ":dsir:v1"
DSIR_GUMBEL_SALT = ":dsir:g1"
DSIR_K = 64
DSIR_TARGET_LANG = "en"


def release_caches(sf_dir: str | None = None) -> None:
    memo.release("llm.dsir", sf_dir)


def _micro6(col):
    """Quantize to integer micro-units via Spark's ROUND(double, 6):
    round to 6 decimals first (shortest-repr HALF_UP — what the oracle's
    _r6 reproduces), then scale; the ×1e6 product sits within 1 ulp of
    an integer, so the final ROUND(…, 0) is unambiguous."""
    return F.round(F.round(col, 6) * F.lit(1000000.0), 0).cast("long")


def _bucketed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed (doc_id, lang, bucket) feature-instance frame,
    persisted once per corpus per session (``flinkrunner_spark.memo``)
    — text-free, same spill-clean trade as ``_sig_shingles`` at
    scale."""
    return memo.memo(
        spark, "llm.dsir.bucketed", sf_dir,
        lambda: _build_bucketed_features(spark, sf_dir),
    )


def _build_bucketed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = (
        docs.select("doc_id", "lang", tokens_col().alias("t"))
        .withColumn("n", F.size("t"))
    )
    # Unigram + bigram feature instances as ONE JVM projection (guard the
    # n<2 case: Spark's sequence(1, 0) walks DOWNWARD, unlike SQL's).
    bigrams = F.when(
        F.col("n") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("t", i), F.element_at("t", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = base.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("t"), bigrams)).alias("feat"),
    )
    bucketed = feats.select(
        "doc_id",
        "lang",
        (hex8_long(F.concat(F.col("feat"), F.lit(DSIR_SALT)))
         % DSIR_BUCKETS).alias("bucket"),
    )
    # Materialize the hashed feature instances ONCE (r13, guide §2.4):
    # the bucket-model aggregate and the per-doc scoring join otherwise
    # each re-run the explode + md5 pipeline (no exchange reuse — the
    # scoring branch joins broadcast llr before any exchange).
    # memo-persist rather than per-call localCheckpoint (r13 change 11):
    # the lazy checkpoint paid full physical planning at construction.
    return bucketed.persist()


def docs_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-64 DSIR sample of `documents` toward the lang='en'
    target: (doc_id, lang, source, logw_nats, key_nats)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucketed = _bucketed_features(spark, sf_dir)
    # Both models from one bucket-keyed pass: raw = COUNT(*),
    # target = count of instances from target-language documents.
    cnt = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit(1))
        ).alias("ct"),
    )
    totals = cnt.agg(
        F.sum("cr").alias("r_tot"), F.sum("ct").alias("t_tot")
    )
    grid = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bucket"))
    m = float(DSIR_BUCKETS)
    llr = (
        grid.join(cnt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            _micro6(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                        * (F.col("r_tot") + F.lit(m))
                    )
                    / (
                        (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0))
                        * (F.col("t_tot") + F.lit(m))
                    )
                )
            ).alias("llr_micro"),
        )
    )
    docw = (
        bucketed.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("llr_micro").alias("logw_micro"))
    )
    u = (
        hex8_long(
            F.concat(F.col("doc_id").cast("string"), F.lit(DSIR_GUMBEL_SALT))
        )
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    scored = (
        docs.select("doc_id", "lang", "source")
        .join(docw, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.coalesce(F.col("logw_micro"), F.lit(0)).alias("logw_micro"),
            _micro6(-F.log(-F.log(u))).alias("g_micro"),
        )
        .withColumn("key_micro", F.col("logw_micro") + F.col("g_micro"))
    )
    return (
        scored.orderBy(F.desc("key_micro"), "doc_id")
        .limit(DSIR_K)
        .select(
            "doc_id",
            "lang",
            "source",
            (F.col("logw_micro").cast("double") / F.lit(1000000.0)).alias(
                "logw_nats"
            ),
            (F.col("key_micro").cast("double") / F.lit(1000000.0)).alias(
                "key_nats"
            ),
        )
    )
