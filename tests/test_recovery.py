"""Checkpoint recovery: the Structured Streaming analog of the reference's
Flink checkpointing story. A query killed mid-stream and restarted from
its checkpointLocation must deliver every input row exactly once to a
file sink (offset log + sink commit log give end-to-end exactly-once for
replayable sources + idempotent sinks)."""

from __future__ import annotations

import time


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # 4 single-file batches so maxFilesPerTrigger=1 yields 4 micro-batches
    for i in range(4):
        spark.range(i * 100, (i + 1) * 100).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        return (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            # a 2 s interval leaves the kill below room to land between
            # batch 2 and batch 3; back-to-back batches could finish all
            # four before it
            .trigger(processingTime="2 seconds")
            .start()
        )

    q = start()
    # let it commit at least one batch, then kill it mid-stream
    deadline = time.time() + 60
    while time.time() < deadline and len(q.recentProgress) < 2:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()

    interim = spark.read.parquet(out).count()
    assert interim < 400, "stream finished before the kill; test is vacuous"

    # restart from the same checkpoint: must resume, not replay
    q2 = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.read.parquet(out).count() >= 400:
            break
        time.sleep(0.5)
    q2.stop()
    q2.awaitTermination()

    got = spark.read.parquet(out)
    assert got.count() == 400, "lost or duplicated rows across restart"
    assert got.distinct().count() == 400
    total = got.agg({"id": "sum"}).collect()[0][0]
    assert total == sum(range(400))
