"""Composed streaming curation pipeline (streaming/curation_pipeline.py):
screen-expression parity with llm/filters, batch-id idempotent Iceberg
foreachBatch sink, and the kill-and-resume contract (r6 verdict #4's
done-criterion: checkpoint restart MID-STREAM, no loss, no duplicates)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from flinkrunner_spark.streaming.curation_pipeline import (
    IcebergForeachBatchSink,
    badwords_keep_col,
    curate_stream,
    gopher_keep_col,
    start_curation_to_iceberg,
)

SF = "/root/testdata/sf0.001"


def test_keep_cols_match_filters_operators(spark):
    """The composed pipeline's screen Columns must agree row-for-row
    with the driver-verified llm/filters operators — expression drift
    between the batch screens and the streaming composition is exactly
    the bug class this module exists to prevent."""
    from flinkrunner_spark.llm.filters import docs_badwords, docs_gopher_rules

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mine = docs.select(
        "doc_id",
        gopher_keep_col().alias("gk"),
        badwords_keep_col().alias("bk"),
    )
    theirs = (
        docs_gopher_rules(spark, SF)
        .select("doc_id", F.col("keep").alias("gk2"))
        .join(
            docs_badwords(spark, SF).select(
                "doc_id", F.col("keep").alias("bk2")
            ),
            "doc_id",
        )
    )
    diff = (
        mine.join(theirs, "doc_id")
        .filter((F.col("gk") != F.col("gk2")) | (F.col("bk") != F.col("bk2")))
        .count()
    )
    assert diff == 0


def test_curate_stream_batch_twin_matches_manual(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "text", "lang", "n_chars"
    )
    out = curate_stream(docs)
    assert set(out.columns) == {"lang", "h", "n_chars", "redacted"}
    # dedup really deduped
    n = out.count()
    assert n == out.select("lang", "h").distinct().count()
    # screens really dropped something (documents contain short docs)
    assert n < docs.count()


def test_iceberg_sink_replayed_batch_is_noop(spark, tmp_path):
    loc = str(tmp_path / "t")
    sink = IcebergForeachBatchSink(loc)
    df = spark.range(5).selectExpr("id", "concat('x', id) AS s")
    sink(df, 0)
    sink(df, 1)
    from flinkrunner_spark.iceberg import IcebergFsTable

    t = IcebergFsTable(loc)
    assert t.read(spark).count() == 10
    # a replay of batch 1 (crash-recovery shape) commits NOTHING
    sink(df, 1)
    assert t.read(spark).count() == 10
    assert t.metadata()["properties"]["streaming.last-batch-id"] == "1"
    # and a NEW batch still lands
    sink(df, 2)
    assert t.read(spark).count() == 15


def test_iceberg_sink_fresh_checkpoint_not_mistaken_for_replay(
    spark, tmp_path
):
    """Spark batch ids restart at 0 for every new checkpoint. A table
    that outlives its checkpoint (or is shared by a second query) must
    NOT drop the new query's batches as replays — the stamp is scoped
    per batch-id sequence."""
    loc = str(tmp_path / "t")
    df = spark.range(5).selectExpr("id", "concat('x', id) AS s")
    s1 = IcebergForeachBatchSink(
        loc, scope=IcebergForeachBatchSink.scope_for_checkpoint("ckpt-a")
    )
    s1(df, 0)
    s1(df, 1)
    from flinkrunner_spark.iceberg import IcebergFsTable

    t = IcebergFsTable(loc)
    assert t.read(spark).count() == 10
    # new query, fresh checkpoint, batch ids restart at 0 — rows LAND
    s2 = IcebergForeachBatchSink(
        loc, scope=IcebergForeachBatchSink.scope_for_checkpoint("ckpt-b")
    )
    s2(df, 0)
    assert t.read(spark).count() == 15
    # while each scope's own replay guard still holds
    s1(df, 1)
    s2(df, 0)
    assert t.read(spark).count() == 15


def test_kill_and_resume_mid_stream(spark, tmp_path):
    """Kill the composed pipeline BETWEEN two committed catch-up batches,
    restart on the same checkpoint, drain — the final Iceberg profile
    must equal the batch composition exactly (no loss at the kill point,
    no duplicates from the resumed batch).

    The first trigger of a run is never capped (KafkaNativeStreamReader
    cannot see its start offset yet), so half the documents go in before
    the start and become batch 0; the rest arrive after batch 0 commits
    and drain in capped batches, and the kill lands after the first."""
    from flinkrunner_spark.iceberg import IcebergFsTable
    from flinkrunner_spark.sinks.factory import KafkaSinkConfig
    from flinkrunner_spark.sources.factory import KafkaSourceConfig
    from flinkrunner_spark.testing import LoopbackKafkaBroker

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang", "n_chars"
    )
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def wait_for_batch(q, batch_id):
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(p["batchId"] >= batch_id and p["numInputRows"] > 0
                   for p in q.recentProgress):
                return
            time.sleep(0.05)
        raise AssertionError(f"batch {batch_id} never committed")

    with LoopbackKafkaBroker(num_partitions=4) as broker:
        servers = f"localhost:{broker.port}"

        def produce(part):
            KafkaSinkConfig(
                "t",
                {"connector": "kafka", "transport": "native",
                 "bootstrap.servers": servers,
                 "topic": "cur", "key.column": "doc_id"},
            ).write(docs.filter(F.col("doc_id") % 2 == part))

        def stream():
            return KafkaSourceConfig(
                "t",
                {"connector": "kafka", "transport": "native",
                 "bootstrap.servers": servers,
                 "topic": "cur", "streaming": True,
                 "max.offsets.per.trigger": 64},
            ).load(spark)

        produce(0)
        q = start_curation_to_iceberg(stream(), table, ckpt)
        try:
            wait_for_batch(q, 0)
            produce(1)
            wait_for_batch(q, 1)
        finally:
            q.stop()
        t = IcebergFsTable(table)
        partial = t.read(spark).count() if t.exists() else 0

        q2 = start_curation_to_iceberg(stream(), table, ckpt)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    got = {
        (r["lang"], r["h"])
        for r in IcebergFsTable(table).read(spark).collect()
    }
    want = {
        (r["lang"], r["h"])
        for r in curate_stream(docs).select("lang", "h").collect()
    }
    assert got == want  # exact set: nothing lost, nothing duplicated
    # the kill landed mid-stream: something committed, not everything
    assert 0 < partial < len(want)


def test_bounded_state_dedup_matches_exact_within_horizon(spark, tmp_path):
    """dedup_within (watermark + dropDuplicatesWithinWatermark) is the
    bounded-state deployment mode: when every record arrives inside the
    horizon — the loopback produce happens in seconds — its output
    equals the exact-dedup composition, while the state store now
    evicts keys past the watermark instead of growing forever."""
    from flinkrunner_spark.iceberg import IcebergFsTable
    from flinkrunner_spark.sinks.factory import KafkaSinkConfig
    from flinkrunner_spark.sources.factory import KafkaSourceConfig
    from flinkrunner_spark.testing import LoopbackKafkaBroker

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang", "n_chars"
    )
    # inject real duplicates so the dedup has work to do
    docs = docs.union(docs.limit(50))
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    with LoopbackKafkaBroker(num_partitions=4) as broker:
        KafkaSinkConfig(
            "t",
            {"connector": "kafka", "transport": "native",
             "bootstrap.servers": f"localhost:{broker.port}",
             "topic": "bnd", "key.column": "doc_id"},
        ).write(docs)
        stream = KafkaSourceConfig(
            "t",
            {"connector": "kafka", "transport": "native",
             "bootstrap.servers": f"localhost:{broker.port}",
             "topic": "bnd", "streaming": True},
        ).load(spark)
        q = start_curation_to_iceberg(
            stream, table, ckpt, dedup_within="1 hour"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    got = {
        (r["lang"], r["h"])
        for r in IcebergFsTable(table).read(spark).collect()
    }
    want = {
        (r["lang"], r["h"])
        for r in curate_stream(
            docs.select("text", "lang", "n_chars")
        ).select("lang", "h").collect()
    }
    assert got == want
