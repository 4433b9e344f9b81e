"""End-to-end training-data curation pipeline — the composition a 100 TB
corpus actually runs, as ONE declarative plan:

    exact-dup keeper → near-dup CLUSTER keeper → language filter
    → quality filter → token accounting

Every stage is an already-oracled operator (llm/dedup.py, llm/text.py);
this module only composes them, so the cross-engine guarantee carries to
the whole pipeline.

Scale notes: all stages key by doc_id, so Catalyst plans the stage joins
as co-partitioned shuffles on one key; the keeper filters are semi joins
(never duplicate surviving docs); text-derived frames carry only scalars
past their first aggregation — the text column itself never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.llm import dedup as D
from flinkrunner_spark.llm import text as T

QUALITY_THRESHOLD = 1.58


def docs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving documents with their language, quality and token counts.

    The three text stages (quality, language-ID, token count) are all
    per-row projections over the same documents scan, so the pipeline
    computes them FUSED in one projection (the stage operators' own
    Column builders — no expression drift) instead of three separate
    scans joined on doc_id: one scan + zero joins for the text half,
    leaving the two keeper semi-joins as the only exchanges besides the
    dedup machinery itself. Same outputs, same oracle.

    r13: the language screen is the PRODUCTION char-trigram Naive-Bayes
    classifier (llm/text.py langid_ngram_cols — integer log-prob
    profiles, zero-exchange scoring), not the stopword-vote heuristic;
    the heuristic stays behind docs_langid as the reference-parity
    form. Same fused-projection shape: the NB score is one more JVM
    fold over the shared scan. The language FILTER uses the classifier's
    lang_scorable column (provably ⇔ lang_pred != 'und'): Catalyst
    pushes filters through projections by substitution, so filtering on
    lang_pred itself would re-evaluate the NB folds per row inside a
    Filter at the scan (no subexpression elimination there — measured
    32x on the whole pipeline) while lang_scorable pushes down as a
    string-length check."""
    exact_keepers = D.docs_dedup_exact(spark, sf_dir).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    cluster_keepers = (
        D.docs_dup_clusters(spark, sf_dir)
        .filter(F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id")
    )
    langid = T.langid_ngram_cols()
    # r13 optimization: the expensive projections (NB langid pass, BPE
    # regexp) run AFTER the keeper semi-joins and screens, so only
    # SURVIVING docs pay them (the dedup screens drop most rows; the
    # r13-build form projected below the joins and scored every doc).
    # The screens themselves reference raw-text expressions, so
    # Catalyst still pushes them to the scan as before; nothing above
    # pulls the final projection back down through the joins.
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    kept = (
        base.join(exact_keepers, "doc_id", "left_semi")
        .join(cluster_keepers, "doc_id", "left_semi")
        .filter(
            (T.quality_score_col() >= QUALITY_THRESHOLD)
            & langid["lang_scorable"]
        )
    )
    return kept.select(
        "doc_id",
        langid["lang_pred"].alias("lang_pred"),
        T.quality_score_col().alias("quality_score"),
        T.bpe_tokens_col().alias("n_bpe_tokens"),
    )


def docs_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — the held-out-split
    operator every training-data pipeline needs. The split key is the
    first 32 bits of md5(doc_id || salt) mod 100: stable across runs,
    engines, cluster sizes and data order (no RNG, no shuffle — a pure
    projection that scales embarrassingly at 100 TB), and salted so a
    different salt yields an independent re-split. 90/5/5 train/val/test."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = (
        T.hex8_long(F.concat(F.col("doc_id").cast("string"), F.lit(":split:v1")))
        % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )
