"""RAG/pretraining document chunking over the ``documents`` table.

``docs_chunk`` splits each document into fixed-size token windows with
overlap (size 64, stride 48 → 16-token overlap) — the standard
retrieval-corpus / context-packing preparation step (e.g. the chunking
stage in RAG pipelines and long-document pretraining).

Reference scope note: the reference (epiphanous/flinkrunner) has no
chunking operator — this belongs to the mandated LLM-data-pipeline
extension family (SURVEY.md §2.5).

100 TB shape: a single zero-shuffle projection — tokenize, generate the
stride offsets per row (``sequence``), explode, slice. The document text
never shuffles; output rows carry only (doc_id, chunk_idx, n_tokens,
chunk_hash). Chunk text itself stays derivable (slice of the stored
doc), so the chunk table is a compact index, not a second copy of the
corpus. Everything is JVM-side (split/sequence/slice/md5 — whole-stage
codegen); no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.llm.text import tokens_col
from flinkrunner_spark.tables import load_table

CHUNK_SIZE = 64
CHUNK_STRIDE = 48
CHUNK_DUP_MIN_TOKENS = 16  # dedup ignores short tail windows


def docs_chunk(
    spark: SparkSession,
    sf_dir: str,
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Overlapping token-window chunks: one output row per (doc, window).

    ``chunk_hash`` is md5 of the space-joined chunk tokens — the join key
    for chunk-level dedup and for locating a chunk's text without storing
    it twice."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    base = (
        docs.select("doc_id", toks.alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
    )
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
    chunk = F.slice(F.col("t"), F.col("start") + 1, size)
    return (
        base.select("doc_id", "t", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            F.floor(F.col("start") / stride).cast("int").alias("chunk_idx"),
            F.size(chunk).cast("int").alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
    )


def docs_chunk_dedup(
    spark: SparkSession,
    sf_dir: str,
    min_tokens: int = CHUNK_DUP_MIN_TOKENS,
) -> DataFrame:
    """Chunk-level dedup (the sub-document/paragraph dedup of
    RefinedWeb, arXiv:2306.01116 §G): duplicated chunk hashes across
    the corpus, keeping the lowest (doc_id, chunk_idx) occurrence —
    the keeper rule every dedup family here shares. Emits one row per
    DUPLICATED hash with its copy count and keeper coordinates; short
    tail windows (< ``min_tokens``) are excluded so stride remainders
    don't alias as duplicates.

    100 TB shape: one hash-keyed exchange of (hash, doc_id, chunk_idx)
    triples — map-side combined min/count aggregates; chunk text never
    materializes, documents never shuffle."""
    chunks = docs_chunk(spark, sf_dir).filter(
        F.col("n_tokens") >= min_tokens
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.struct("doc_id", "chunk_idx")).alias("keep"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "chunk_hash",
            "n_copies",
            F.col("keep.doc_id").alias("keep_doc"),
            F.col("keep.chunk_idx").alias("keep_idx"),
        )
    )
