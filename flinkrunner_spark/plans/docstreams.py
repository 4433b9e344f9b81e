"""Streaming mirrors over the ``documents`` table — the LLM-pipeline
operators re-run as Structured Streaming jobs, under the SAME batch
oracles as their batch twins (the repo-wide mirror pattern of
``plans/events.py``).

``stream_topk_ngrams`` is the canonical stateful streaming word count:
documents arrive in event-order micro-batches, unigram+bigram counts
accumulate in streaming-aggregation state (complete output mode), and
the final emission is bit-identical to the batch vocabulary scan — the
counts are order-independent ints, so ANY micro-batch split yields the
batch answer. At 100 TB stream volume the same plan holds: map-side
partial counts per micro-batch, state keyed by term (O(vocabulary), not
O(corpus)), and the top-k cut applied on the final table.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.llm.text import tokens_col
from flinkrunner_spark.llm.vocab import VOCAB_TOP_K, bigrams_col
from flinkrunner_spark.tables import load_table


def _file_stream(
    spark: SparkSession, sf_dir: str, table: str, key: str, root: str,
    splits: int,
) -> DataFrame:
    """A stream over a /tmp copy of ``table`` range-partitioned on
    ``key`` into ``splits`` files with strictly increasing mtimes, read
    with ``maxFilesPerTrigger=1`` — under availableNow that is one
    micro-batch per file, oldest first (the same real-multi-batch
    harness as ``streaming/pipelines.stream_events``). The copy keeps the
    table's schema, so the stream takes it from ``load_table`` instead of
    inferring it from the copy."""
    path = root + hashlib.md5(f"{sf_dir}:{splits}".encode()).hexdigest()[:16]
    src = load_table(spark, sf_dir, table)
    if not os.path.exists(path + "/_SUCCESS"):
        df = src.repartitionByRange(splits, key) if splits > 1 else src
        df.write.mode("overwrite").parquet(path)
        if splits > 1:
            parts = sorted(glob.glob(path + "/part-*"))
            t0 = time.time() - len(parts) - 1
            for i, p in enumerate(parts):
                os.utime(p, (t0 + i, t0 + i))
    return (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def stream_documents(
    spark: SparkSession, sf_dir: str, splits: int = 4
) -> DataFrame:
    """File-backed documents stream, one micro-batch per file
    (``_file_stream``), range-partitioned on doc_id."""
    return _file_stream(
        spark, sf_dir, "documents", "doc_id",
        "/tmp/flinkrunner_docstream_src/", splits,
    )


def stream_topk_ngrams(
    spark: SparkSession, sf_dir: str, k: int = VOCAB_TOP_K
) -> DataFrame:
    """``docs_topk_ngrams`` as a streaming aggregation (see module
    docstring). The stream runs FOUR real micro-batches; the memory
    sink's complete-mode table holds the cumulative counts and the
    deterministic (cnt desc, n, ngram) cut picks the final top-k."""
    from flinkrunner_spark.streaming import pipelines as P

    docs = stream_documents(spark, sf_dir, splits=4)
    t = docs.select(tokens_col().alias("toks"))
    uni = t.select(F.explode("toks").alias("ngram"), F.lit(1).alias("n"))
    bi = t.select(
        F.explode(bigrams_col(F.col("toks"))).alias("ngram"),
        F.lit(2).alias("n"),
    )
    counts = (
        uni.unionByName(bi)
        .groupBy("n", "ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    final = P.run_to_memory(
        spark, counts, "q_stream_topk_ngrams", mode="complete"
    )
    return final.orderBy(F.col("cnt").desc(), "n", "ngram").limit(k)


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``docs_heavy_hitters`` with the Count-Min SKETCH BUILT AS
    STREAMING STATE — the deployment Count-Min exists for: per-micro-
    batch partial counts fold into a state of O(D×W) counters (4×1024
    here) REGARDLESS of how long the stream runs — contrast
    ``stream_topk_ngrams``, whose state is O(vocabulary). Four real
    micro-batches accumulate the sketch in complete mode; the final
    probe/rank stage then runs as a batch query against the frozen
    sketch (exactly the operational shape: the sketch is maintained
    online, heavy-hitter reports are periodic reads). Counter sums are
    order-independent ints, so ANY micro-batch split yields the batch
    sketch bit-for-bit — same oracle as the batch twin."""
    from flinkrunner_spark.llm.sketches import (
        CMS_DEPTH,
        cms_bucket,
        rank_heavy_hitters,
    )
    from flinkrunner_spark.streaming import pipelines as P

    docs = stream_documents(spark, sf_dir, splits=4)
    toks = docs.select(F.explode(tokens_col()).alias("tok"))
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                cms_bucket(F.col("tok"), r).alias("bucket"),
            )
            for r in range(CMS_DEPTH)
        ]
    )
    sketch_stream = (
        toks.select(F.explode(cells).alias("c"))
        .groupBy("c.row", "c.bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sketch = P.run_to_memory(
        spark, sketch_stream, "q_stream_heavy_hitters", mode="complete"
    )
    return rank_heavy_hitters(spark, sf_dir, sketch)


def stream_embeddings(
    spark: SparkSession, sf_dir: str, splits: int = 4
) -> DataFrame:
    """File-backed embeddings stream — same one-micro-batch-per-file
    harness as ``stream_documents``, range-partitioned on vec_id."""
    return _file_stream(
        spark, sf_dir, "embeddings", "vec_id",
        "/tmp/flinkrunner_embstream_src/", splits,
    )


def stream_emb_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``emb_dup_pairs`` with the RH-LSH BUCKET INDEX BUILT AS STREAMING
    STATE: vectors arrive in four real micro-batches, each row's
    (band, code) sign codes come out of the same Arrow-batched fold
    mapper as the batch plan (`rh_codes_mapper` — bit-identical codes),
    and a complete-mode streaming aggregation accumulates the per-bucket
    id sets — the online LSH index a streaming dedup service maintains.
    The probe/verify stage (super-bucket cap, flip-1 multi-probe,
    exact-cosine verify) then runs as a batch query over the frozen
    index — the operational shape: the index is maintained online,
    near-dup reports are periodic reads.

    State is the bucket index itself: (n × bands) int triples — the
    SAME frame the batch plan persists, so streaming state costs what
    the batch plan's cache costs at any corpus size (the cap bounds pair
    WORK; `rhlsh_bucket_stats` makes saturated buckets visible).
    Id-set accumulation is order-independent, so ANY micro-batch split
    yields the batch buckets exactly — same oracle as the batch twin."""
    from flinkrunner_spark.llm.similarity import (
        COSINE_DUP_THRESHOLD,
        RH_BANDS,
        RH_CODES_SCHEMA,
        _emb_count,
        resolve_rh_plan,
        rh_codes_mapper,
        rh_pairs_from_codes,
    )
    from flinkrunner_spark.streaming import pipelines as P

    # the SAME fixed-point (bits, probes) resolution as the batch twin,
    # so the streaming index and the batch oracle always agree
    nbits, probes = resolve_rh_plan(
        _emb_count(spark, sf_dir), COSINE_DUP_THRESHOLD
    )
    emb_stream = stream_embeddings(spark, sf_dir, splits=4)
    codes = emb_stream.select("vec_id", "embedding").mapInArrow(
        rh_codes_mapper(RH_BANDS, nbits), schema=RH_CODES_SCHEMA
    )
    index_stream = codes.groupBy("band", "code").agg(
        F.collect_set("vec_id").alias("ids")
    )
    index = P.run_to_memory(
        spark, index_stream, "q_stream_emb_dup_pairs", mode="complete"
    )
    # SNAPSHOT the online index for the batch report: the probe/verify
    # tail self-joins the codes frame (sizes guard + anti-join + probe
    # join), and a memory-sink view reused across those subtrees trips
    # conflicting-attribute resolution — a parquet snapshot is both the
    # fix and the operational shape (periodic reports read a frozen
    # copy while the index keeps accumulating). The frame is (n × bands)
    # int triples — tiny next to the embeddings at any corpus size.
    # The location is config-threaded (checkpoint-dir discipline): on a
    # cluster the snapshot must sit on shared storage, not the driver's
    # local /tmp — set spark.flinkrunner.scratchDir (or the
    # FLINKRUNNER_SCRATCH_DIR env var) to an hdfs://-style base.
    from flinkrunner_spark.util.paths import scratch_dir

    snap = scratch_dir(
        spark,
        "flinkrunner_embstream_idx/"
        + hashlib.md5(f"{sf_dir}:{nbits}".encode()).hexdigest()[:16],
    )
    index.select(
        "band", "code", F.explode("ids").alias("vec_id")
    ).write.mode("overwrite").parquet(snap)
    frozen_codes = spark.read.parquet(snap)
    emb = load_table(spark, sf_dir, "embeddings")
    return rh_pairs_from_codes(
        emb, frozen_codes, nbits, probes,
        threshold=COSINE_DUP_THRESHOLD,
    )
