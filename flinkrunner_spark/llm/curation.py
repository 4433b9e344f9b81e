"""Corpus-curation operators a training-data pipeline runs between dedup
and packing: eval-set decontamination, PII detection/redaction, and
Gopher-style repetition quality signals.

All three are declarative DataFrame plans over the ``documents`` table —
no Python in the hot path — engineered for cross-engine bit-identity so
the DuckDB oracle checks them exactly (md5-derived eval buckets, integer
ratio arithmetic, identical sequential regexp_replace chains).

Scale design (100 TB):
* decontamination: the eval shingle set is tiny relative to the corpus
  (benchmarks are ~1e4-1e6 docs) — it broadcasts, so the contamination
  check is a map-side semi-join; the only wide exchange is the per-doc
  overlap count keyed by doc_id. Shingles come from the SAME persisted
  signature frame the MinHash-LSH family uses (``_sig_shingles``), so a
  curation run shingles the corpus once, not once per operator.
* PII redaction: a pure projection (regexp chains are whole-stage
  codegen) — embarrassingly parallel, zero shuffle.
* repetition: two explode→partial-agg pipelines keyed by doc_id; the
  n-gram exchange carries (doc_id, hash-sized gram) pairs after map-side
  combine, never the text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.llm.text import hex8_long, tokens_col
from flinkrunner_spark.tables import load_spread, load_table

# ---------------------------------------------------------------------------
# eval-set decontamination
# ---------------------------------------------------------------------------

EVAL_BUCKETS = 10  # 1-in-10 docs act as the held-out eval set
CONTAM_FRAC = 0.2  # distinct-shingle overlap fraction that flags a doc


def eval_bucket_col(doc_id: str = "doc_id") -> Column:
    """Deterministic eval-set membership bucket: first 32 bits of
    md5(doc_id || ':eval:v1') mod EVAL_BUCKETS. Same construction as
    ``docs_split`` — stable across runs, engines and cluster sizes, and
    exactly reproducible in DuckDB."""
    return (
        hex8_long(F.concat(F.col(doc_id).cast("string"), F.lit(":eval:v1")))
        % EVAL_BUCKETS
    )


def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training docs whose 3-word shingle
    sets overlap the eval set's shingle inventory.

    The eval set here is the deterministic 1-in-10 md5 bucket of the
    corpus itself (a real pipeline passes its benchmark suites); a
    training doc is contaminated when ≥ ``CONTAM_FRAC`` of its DISTINCT
    shingles appear anywhere in the eval set — the n-gram-overlap rule
    used for benchmark decontamination (cf. GPT-3 appendix C / Gopher
    appendix: 13-gram overlap; 3-grams here to match the corpus scale).

    Plan: the eval shingle inventory aggregates to a distinct-shingle
    frame that is small by construction → broadcast; each training doc's
    distinct shingles (from the persisted ``_sig_shingles`` frame — one
    shingling per corpus per session, shared with MinHash-LSH) semi-join
    against it map-side; one exchange keyed by doc_id counts the hits.
    Reference parity: extends the LLM-pipeline surface mandated by the
    build brief (no reference twin; epiphanous/flinkrunner has no
    document operators)."""
    from flinkrunner_spark.llm.dedup import _sig_shingles

    sigs = _sig_shingles(spark, sf_dir).select(
        "doc_id", F.col("shd"), (eval_bucket_col() == 0).alias("is_eval")
    )
    eval_sh = (
        sigs.filter("is_eval")
        .select(F.explode("shd").alias("s"))
        .distinct()
    )
    train = sigs.filter(~F.col("is_eval"))
    hits = (
        train.select("doc_id", F.explode("shd").alias("s"))
        .join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        train.select("doc_id", F.size("shd").alias("n_shingles"))
        .join(hits, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) / F.col("n_shingles")).alias(
                "overlap_frac"
            ),
            (
                F.coalesce("n_overlap", F.lit(0)) / F.col("n_shingles")
                >= CONTAM_FRAC
            ).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Patterns kept to the Java-regex ∩ RE2 dialect (no backrefs, no
# lookaround) so Spark and the DuckDB oracle compile them identically.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("emails", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("phones", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ssns", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Generic PII detect + redact: appends per-pattern hit counts and a
    ``redacted`` column with every match replaced by its placeholder.

    Counts are taken BEFORE redaction (on the original text); patterns
    then apply sequentially in PII_PATTERNS order — emails first so an
    address's digits can't be half-eaten by the phone pattern. A pure
    projection: regexp_count/regexp_replace are JVM codegen'd, zero
    shuffle at any scale."""
    out = df
    for name, pat, _ in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
    red = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn("redacted", red)


def _pii_fixture_text() -> Column:
    """The synthetic corpus contains no PII-shaped strings, so the
    queries() entry exercises redaction on a DETERMINISTIC augmentation:
    every 3rd doc gains an email, every 5th a phone, every 7th an SSN —
    derived from doc_id, reproduced verbatim in the DuckDB oracle, and
    clearly a test fixture (the operator itself, ``pii_redact``, takes
    any frame/column)."""
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact u"), did.cast("string"), F.lit("@example.com")
    )
    phone = F.concat(
        F.lit(" call "),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    ssn = F.concat(
        F.lit(" ssn "),
        F.lpad((did % 900).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 90).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((did % 9000).cast("string"), 4, "0"),
    )
    t = F.col("text")
    t = F.when(did % 3 == 0, F.concat(t, email)).otherwise(t)
    t = F.when(did % 5 == 0, F.concat(t, phone)).otherwise(t)
    t = F.when(did % 7 == 0, F.concat(t, ssn)).otherwise(t)
    return t


def docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection/redaction over the documents table (with the
    deterministic PII fixture — see ``_pii_fixture_text``). Emits hit
    counts per pattern and md5 of the redacted text (the hash pins the
    full redacted string cross-engine without shipping text through the
    comparator)."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", _pii_fixture_text().alias("text")
    )
    return pii_redact(docs).select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ssns",
        F.md5("redacted").alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition quality
# ---------------------------------------------------------------------------


def docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (Gopher §A1.1 repetition filters,
    adapted to the single-line corpus): per doc, the fraction of token
    occurrences whose token repeats, the fraction of 2-gram occurrences
    whose 2-gram repeats, and the fraction taken by the single most
    frequent 2-gram. (Gopher's duplicate-LINE fractions degenerate to 0
    on this corpus — every document is one line — so the token/2-gram
    family carries the signal.)

    All ratios are exact-int divisions → bit-identical doubles on both
    engines. Plan: two explode → map-side-combined aggregations keyed by
    doc_id (token level, 2-gram level) joined on doc_id; the exchanges
    carry (doc_id, gram, count) — never the text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col().alias("toks"))

    tok_counts = (
        toks.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_tok"),
    )

    n = F.size("toks")
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at("toks", i + 1), F.element_at("toks", i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram_counts = (
        toks.select("doc_id", F.explode_outer(grams).alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gram_stats = gram_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_2grams"),
        F.max("c").alias("top_2gram"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_2gram"),
    )

    return (
        tok_stats.join(gram_stats, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("dup_tok") / F.col("n_tokens")).alias("dup_token_frac"),
            F.coalesce("n_2grams", F.lit(0)).alias("n_2grams"),
            F.coalesce(
                F.col("top_2gram") / F.col("n_2grams"), F.lit(0.0)
            ).alias("top_2gram_frac"),
            F.coalesce(
                F.col("dup_2gram") / F.col("n_2grams"), F.lit(0.0)
            ).alias("dup_2gram_frac"),
        )
    )
