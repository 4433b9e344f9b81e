"""Duplicated-span detection over the ``documents`` table — the hashed
approximation of exact substring deduplication. Split out of
``llm/dedup.py`` (the document-level dedup family) into its own module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.tables import load_table


DUP_SPAN_TOKENS = 20  # span window length (tokens)
DUP_SPAN_STRIDE = 10  # window stride — 50% overlap catches shifted copies


def _window_starts(span: int, stride: int):
    """1-based window start positions for a ``toks`` column, empty for
    documents shorter than one span (guards Spark's sequence(1, n<=0)
    auto-negative-step, which would otherwise emit [1, 0])."""
    return F.when(
        F.size("toks") >= span,
        F.sequence(F.lit(1), F.size("toks") - span + 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))


def _span_windows(t: DataFrame, span: int, stride: int) -> DataFrame:
    """The shared window table: (doc_id, i, span_hash) — ONE explode
    with ``toks`` carried on the row (no join, no shuffle; the span
    TEXT never leaves the scan partition), hash projected immediately
    so only 16-byte hashes + two ints flow downstream."""
    return t.select(
        "doc_id", "toks", F.explode(_window_starts(span, stride)).alias("i")
    ).select(
        "doc_id",
        "i",
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("i"), span))
        ).alias("span_hash"),
    )


def docs_dup_spans(
    spark: SparkSession,
    sf_dir: str,
    span: int = DUP_SPAN_TOKENS,
    stride: int = DUP_SPAN_STRIDE,
) -> DataFrame:
    """Duplicated SPAN detection — the hashed approximation of exact
    substring deduplication (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499, which removes
    verbatim ≥50-token repeats the document-level dedups miss): hash
    every ``span``-token window at ``stride`` offsets and report hashes
    occurring in ≥2 documents. The suffix-array construction the paper
    uses is replaced by strided fingerprints — a copy of ≥ span+stride
    tokens always shares at least one full window with its source, so
    long verbatim repeats cannot escape; the trade is boundary precision,
    not recall of long repeats.

    100 TB shape: one explode (≈ tokens/stride rows per doc, each a
    16-byte hash + two ints — the span TEXT never shuffles), then one
    count-only aggregation with map-side partial combine; hot boilerplate
    spans skew the hash key but carry counts, not lists, so no bucket can
    OOM. EXACTLY oracled (md5 span hashes reproduce in SQL)."""
    from flinkrunner_spark.llm.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens_col().alias("toks"))
    s = _span_windows(t, span, stride).drop("i")
    return (
        s.groupBy("span_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def docs_remove_dup_spans(
    spark: SparkSession,
    sf_dir: str,
    span: int = DUP_SPAN_TOKENS,
    stride: int = DUP_SPAN_STRIDE,
) -> DataFrame:
    """The ACTION for :func:`docs_dup_spans`: excise duplicated spans
    from every document except the canonical owner (the smallest doc_id
    carrying the span), keeping first occurrences corpus-wide — the
    remove-verbatim-repeats rewrite of Lee et al. 2021 the span
    detection exists to feed.

    Semantics (deterministic, order-free): a window is REMOVED from a
    document iff its hash occurs in ≥2 documents AND this doc_id is
    greater than the hash's minimum doc_id; the owner keeps all its
    occurrences. Tokens covered by any removed window are dropped and
    the survivors re-join with single spaces — ``clean_text`` is
    normalized-token text (the tokenizer's casing/punctuation rules, the
    same normalization every hash in the family is computed over), not
    the raw original string.

    100 TB shape: the window table is :func:`_span_windows` — the
    identical zero-join explode ``docs_dup_spans`` uses (``toks`` rides
    the row through the explode, so the span TEXT never shuffles and no
    join sits below the span_hash aggregate); the duplicated-hash table
    is a count-style aggregate; each doc gets back a SMALL array of
    removed window starts (broadcast-friendly join on doc_id), and the
    token masking is a pure JVM higher-order-function projection — no
    Python in the path, no row ever carries more than its own tokens.
    EXACTLY oracled (same md5 windows + positional filter in SQL)."""
    from flinkrunner_spark.llm.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens_col().alias("toks"))
    w = _span_windows(t, span, stride)
    dup = (
        w.groupBy("span_hash")
        .agg(
            F.min("doc_id").alias("owner"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
        .select("span_hash", "owner")
    )
    rm = (
        w.join(dup, "span_hash")
        .filter(F.col("doc_id") > F.col("owner"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("i")).alias("rm"))
    )
    masked = t.join(rm, "doc_id", "left").withColumn(
        "rm", F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    )
    # keep token at 1-based position p iff no removed window covers it —
    # positions enumerate JVM-side, no index-lambda needed (the SQL
    # oracle uses the identical generate_series shape). The size()>0
    # guard matters: Spark's sequence(1, 0) auto-steps -1 and yields
    # [1, 0], whose element_at(toks, 0) raises INVALID_ARRAY_INDEX on a
    # zero-token document, while DuckDB's generate_series(1, 0) is empty.
    positions = F.when(
        F.size("toks") > 0, F.sequence(F.lit(1), F.size("toks"))
    ).otherwise(F.array().cast("array<int>"))
    kept = F.filter(
        positions,
        lambda p: ~F.exists(
            "rm", lambda s: (p >= s) & (p < s + F.lit(span))
        ),
    )
    return masked.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(kept, lambda p: F.element_at("toks", p)),
        ).alias("clean_text"),
        (F.size("toks") - F.size(kept)).cast("long").alias(
            "n_tokens_removed"
        ),
        F.size("rm").cast("long").alias("n_spans_removed"),
    )
