"""Structured Streaming mirrors: streaming results must equal the batch
plans on the same bounded input (the reference's CheckResults pattern
applied to streams)."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from flinkrunner_spark.streaming import pipelines as P

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark):
    return P.stream_events(spark, SF)


def test_streaming_tumbling_matches_batch(spark, events_stream):
    got = P.run_to_memory(
        spark, P.streaming_tumbling_agg(events_stream), "t_tumb", mode="complete"
    )
    from flinkrunner_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    from flinkrunner_spark.operators.aggregates import dsum

    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("_w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "event_type",
            "n",
            "total",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_dedup_keep_first(spark, events_stream):
    got = P.run_to_memory(
        spark,
        P.streaming_dedup_keep_first(events_stream),
        "t_dedup",
    )
    from flinkrunner_spark.operators.dedup import dedup_first
    from flinkrunner_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    want = dedup_first(ev, ["user_id", "event_type"], ["ts", "event_id"])
    assert sorted(r["event_id"] for r in got.collect()) == sorted(
        r["event_id"] for r in want.collect()
    )


def test_streaming_dedup_ttl_evicts_and_reemits(spark, tmp_path):
    """ttl_sec bounds the exact-dedup seen-set by one TTL horizon: a key
    whose last sighting fell off the horizon is EVICTED (its next
    arrival re-emits — the documented trade of TTL'd exact dedup), while
    a key still inside the horizon keeps deduplicating. Without ttl the
    same stream stays fully deduplicated."""
    import time as _time

    from pyspark.sql import functions as F

    from flinkrunner_spark.streaming import pipelines as P

    def mkstream(src):
        return (
            spark.readStream.schema("ts timestamp, event_id long, k string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    def write(src, rows):
        (
            spark.createDataFrame(rows, "ts string, event_id long, k string")
            .select(F.col("ts").cast("timestamp"), "event_id", "k")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        _time.sleep(1.1)

    batches = [
        # A last seen 10:00, B last seen 11:30; C seen TWICE in one
        # batch (10:00 kept + 11:30 duplicate) — refresh-on-every-
        # sighting must stamp C with its LAST occurrence (11:30), so at
        # 12:00 C is still inside the 1h horizon and stays deduped
        [
            ("2024-01-01 10:00:00", 1, "A"),
            ("2024-01-01 11:30:00", 2, "B"),
            ("2024-01-01 10:00:00", 5, "C"),
            ("2024-01-01 11:30:00", 6, "C"),
        ],
        # clock -> 12:00: A (10:00) is beyond the 1h horizon -> evicted,
        # re-emitted; B (11:30) is inside -> still a duplicate, dropped
        [
            ("2024-01-01 12:00:00", 3, "A"),
            ("2024-01-01 12:00:00", 4, "B"),
            ("2024-01-01 12:00:00", 7, "C"),
        ],
    ]
    for name, ttl, expect in [
        ("ttl", 3600.0, [1, 2, 3, 5]),
        ("nottl", None, [1, 2, 5]),
    ]:
        src = str(tmp_path / f"dd_{name}")
        for rows in batches:
            write(src, rows)
        got = P.run_to_memory(
            spark,
            P.streaming_dedup_keep_first(
                mkstream(src), key_cols=["k"], num_buckets=1, ttl_sec=ttl
            ),
            f"t_dedup_{name}",
        )
        assert sorted(r["event_id"] for r in got.collect()) == expect


def test_streaming_dedup_null_numeric_key_across_batches(spark, tmp_path):
    """A null ``long`` key reaches the Python state function as NaN; the
    streamed dedup still keeps one row per null key across micro-batches,
    as the batch ``dedup_first`` (``PARTITION BY``) does."""
    import time as _time

    from flinkrunner_spark.operators.dedup import dedup_first

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    src = str(tmp_path / "src")
    batches = [
        [(1, None, "a"), (2, None, "a"), (3, 7, "a")],
        [(4, None, "a"), (5, 7, "a"), (6, None, "b")],
    ]
    for rows in batches:
        (
            spark.createDataFrame(
                rows, "event_id long, user_id long, event_type string"
            )
            .select(
                "event_id",
                F.lit("2024-01-01 10:00:00").cast("timestamp").alias("ts"),
                "user_id",
                "event_type",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    got = P.run_to_memory(
        spark,
        P.streaming_dedup_keep_first(stream, num_buckets=2),
        "t_dedup_null_key",
    )
    want = dedup_first(
        spark.read.schema(schema).parquet(src),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    )
    assert sorted(r["event_id"] for r in got.collect()) == [1, 3, 6]
    assert sorted(r["event_id"] for r in want.collect()) == [1, 3, 6]


def test_streaming_dedup_sbf_invariants(spark, events_stream):
    """SBF streaming dedup on a key with real duplicates: no false
    negatives (no key passes twice at this tiny fill level, where the
    decrement can't clear a just-set cell schedule) and at most a
    handful of false-positive drops."""
    got = P.run_to_memory(
        spark,
        P.streaming_dedup_sbf(events_stream, dedupe_col="user_id"),
        "t_dedup_sbf",
    )
    from flinkrunner_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    n_distinct = ev.select("user_id").distinct().count()
    kept = [r["user_id"] for r in got.collect()]
    assert len(kept) == len(set(kept))  # no duplicate ever passes
    assert len(kept) <= n_distinct
    assert len(kept) >= int(n_distinct * 0.98)  # FPR-bounded drops


def test_streaming_session_agg_runs(spark, events_stream):
    got = P.run_to_memory(
        spark,
        P.streaming_session_agg(events_stream),
        "t_sess",
        mode="complete",
    )
    assert got.count() > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """BoundedLatenessGenerator parity: with 10-minute allowed lateness,
    a row arriving after the watermark passed its window is DROPPED from
    the append-mode windowed aggregate (not silently merged)."""
    import time as _time

    from pyspark.sql import functions as F

    src = str(tmp_path / "late_src")
    schema = "ts timestamp, k string"

    def write(rows):
        (
            spark.createDataFrame(rows, "ts string, k string")
            .select(F.col("ts").cast("timestamp"), "k")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        # distinct mtimes so the file source orders batches deterministically
        _time.sleep(1.1)

    # Spark applies the late-row filter with the PREVIOUS trigger's
    # watermark and evicts state with the current one, so the late row
    # must arrive ≥2 batches after the window's data to demonstrate the
    # drop: batch0 seeds + advances wm to 12:50; batch1 evicts+emits the
    # 10:00 window and lifts wm to 13:00; batch2's late row then hits the
    # filter (10:05:30 < 13:00) and is discarded.
    write([(f"2024-01-01 10:0{i}:00", "a") for i in range(3)]
          + [("2024-01-01 13:00:00", "a")])              # wm → 12:50
    write([("2024-01-01 13:10:00", "a")])                # wm → 13:00
    write([("2024-01-01 10:05:30", "a"),                 # LATE — dropped
           ("2024-01-01 14:30:00", "a")])                # wm → 14:20

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "k", "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("late_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        str(r["ws"]): r["n"]
        for r in spark.sql("SELECT * FROM late_probe").collect()
    }
    # 10:00 window emitted with ONLY the 3 on-time rows — the late 10:05:30
    # arrival was beyond the watermark and discarded
    assert got.get("2024-01-01 10:00:00") == 3, got
    # 13:00 window closed once wm reached 14:20
    assert got.get("2024-01-01 13:00:00") == 2, got
    # 14:00 window never closed (wm stops at 14:20 < 15:00) — not emitted
    assert "2024-01-01 14:00:00" not in got, got


def test_streaming_hll_merges_state_across_batches(spark, tmp_path):
    """streaming_hll: register state must persist and max-merge across
    micro-batches — the final estimate over a 3-batch stream equals the
    batch HLL over the union (register merge is order-independent), and
    seq > 1 proves more than one batch actually updated the state."""
    import time as _time

    import numpy as np
    from pyspark.sql import functions as F

    from flinkrunner_spark.algorithms import hll
    from flinkrunner_spark.streaming import pipelines as P

    src = str(tmp_path / "hll_src")
    all_users: dict[str, list[str]] = {"click": [], "view": []}
    rows_by_batch = []
    for batch in range(3):
        rows = []
        for i in range(200):
            typ = "click" if i % 2 == 0 else "view"
            # overlapping user ranges across batches → dedup matters
            uid = f"u{(batch * 120 + i) % 400}"
            all_users[typ].append(uid)
            rows.append((typ, uid))
        rows_by_batch.append(rows)

    for rows in rows_by_batch:
        (
            spark.createDataFrame(rows, "event_type string, user_id string")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        _time.sleep(1.1)  # distinct mtimes → deterministic batch order

    stream = (
        spark.readStream.schema("event_type string, user_id string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = P.run_to_memory(
        spark, P.streaming_hll(stream, b=12), "hll_multibatch"
    )
    rows = sink.collect()
    assert max(r["seq"] for r in rows) > 1, "expected multiple micro-batches"
    final = {}
    for r in rows:
        if r["event_type"] not in final or r["seq"] > final[r["event_type"]][0]:
            final[r["event_type"]] = (r["seq"], r["n_users_hll"])

    for typ, users in all_users.items():
        M = np.zeros(1 << 12, dtype=np.int8)
        hll.update_registers(M, users, 12)
        assert final[typ][1] == hll.estimate(M), typ


def test_streaming_control_gate_state_across_batches(spark, tmp_path):
    """streaming_filter_by_control: the last-control boolean must persist
    across micro-batches — a signup in batch 0 admits batch 1's data, an
    error in batch 1 blocks batch 2's data, all for the same key."""
    import time as _time

    from flinkrunner_spark.streaming import pipelines as P

    src = str(tmp_path / "ctl_src")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def write(rows):
        (
            spark.createDataFrame(
                rows,
                "event_id long, ts string, user_id long, event_type string, "
                "value double, props string",
            )
            .selectExpr(
                "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
                "event_type", "value", "props",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        _time.sleep(1.1)

    write([(1, "2024-01-01 10:00:00", 7, "signup", 0.0, "")])
    write([
        (2, "2024-01-01 10:05:00", 7, "view", 1.0, ""),     # admitted
        (3, "2024-01-01 10:06:00", 7, "error", 0.0, ""),    # deactivates
    ])
    write([
        (4, "2024-01-01 10:10:00", 7, "view", 2.0, ""),     # blocked
        (5, "2024-01-01 10:11:00", 8, "view", 3.0, ""),     # no control yet
    ])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = P.run_to_memory(
        spark, P.streaming_filter_by_control(stream), "ctl_multibatch"
    )
    got = sorted(r["event_id"] for r in sink.collect())
    assert got == [2], got


def test_streaming_asof_state_across_batches(spark, tmp_path):
    """streaming_asof_join: the latest-click state must persist across
    micro-batches — a click in batch 0 matches a purchase in batch 1, a
    newer click replaces it for batch 2, and a purchase with no prior
    click is dropped (inner as-of)."""
    import time as _time

    from flinkrunner_spark.streaming import pipelines as P

    src = str(tmp_path / "asof_src")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def write(rows):
        (
            spark.createDataFrame(
                rows,
                "event_id long, ts string, user_id long, event_type string, "
                "value double, props string",
            )
            .selectExpr(
                "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
                "event_type", "value", "props",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        _time.sleep(1.1)

    write([
        (1, "2024-01-01 10:00:00", 7, "click", 0.0, ""),
        (2, "2024-01-01 10:00:30", 9, "purchase", 1.0, ""),  # no click → drop
    ])
    write([(3, "2024-01-01 10:05:00", 7, "purchase", 2.0, "")])  # ← click 1
    write([
        (4, "2024-01-01 10:08:00", 7, "click", 0.0, ""),
        (5, "2024-01-01 10:09:00", 7, "purchase", 3.0, ""),  # ← click 4
    ])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = P.run_to_memory(
        spark, P.streaming_asof_join(stream), "asof_multibatch"
    )
    got = {r["event_id"]: r["click_id"] for r in sink.collect()}
    assert got == {3: 1, 5: 4}, got


def test_running_agg_tws_or_gated(spark, events_stream):
    """transformWithStateInPandas running aggregate: exact totals when the
    protobuf dependency is present; a clear ImportError gate otherwise."""
    import pytest

    from flinkrunner_spark.streaming import pipelines as P

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            P.streaming_running_agg(events_stream)
        return

    from pyspark.sql import functions as F

    out = P.run_to_memory(
        spark, P.streaming_running_agg(events_stream), "tws_run"
    )
    final = (
        out.groupBy("event_type")
        .agg(F.max(F.struct("n", "total")).alias("s"))
        .select("event_type", "s.n", "s.total")
    )
    from flinkrunner_spark.operators.aggregates import dsum
    from flinkrunner_spark.tables import load_table

    expect = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
    )
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, expect.collect())
    )


@pytest.mark.parametrize(
    "op", ["filter_by_control", "asof_join"], ids=["control-gate", "asof"]
)
def test_state_blob_growth_bounded_by_keys_not_batches(spark, tmp_path, op):
    """The bucketed keyed-state blobs (pickled {key: ...} dicts) must grow
    with DISTINCT KEYS, not with micro-batch count: processing the same
    events in 2 vs 4 micro-batches must leave byte-identical per-bucket
    state sizes. Read back through the state data source against the run's
    checkpoint — this pins the rewrite-cost trade-off documented on the
    operators (each touched bucket's whole blob is rewritten per batch,
    but the blob itself is O(keys in bucket))."""
    sizes = {}
    for splits in (2, 4):
        ev = P.stream_events(spark, SF, splits=splits)
        if op == "filter_by_control":
            out = P.streaming_filter_by_control(ev, num_buckets=8)
        else:
            out = P.streaming_asof_join(ev, num_buckets=8)
        ck = str(tmp_path / f"ck_{op}_{splits}")
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                out.writeStream.format("memory")
                .queryName(f"blob_{op}_{splits}")
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        st = spark.read.format("statestore").option("path", ck).load()
        rows = st.collect()
        assert rows, "state store empty"
        # key = the _bucket group key struct; value.groupState.<field> =
        # the pickled blob
        sizes[splits] = sorted(
            (tuple(r["key"]), len(bytes(r["value"]["groupState"][0])))
            for r in rows
        )
    assert sizes[2] == sizes[4], (
        f"state grew with batch count: {sizes[2]} vs {sizes[4]}"
    )


def test_ephemeral_checkpoint_unique_fresh_and_overridable(
    monkeypatch, tmp_path
):
    """r13 optimization: bounded mirrors checkpoint to a RAM-backed
    ephemeral dir. The contract that keeps it correctness-neutral:
    every call returns a FRESH empty directory (state can never leak
    between runs), and SPARK_GRAFT_STREAM_CKPT_BASE redirects the base
    (durable-storage opt-in)."""
    import os

    a = P.ephemeral_checkpoint()
    b = P.ephemeral_checkpoint()
    try:
        assert a != b
        assert os.path.isdir(a) and os.path.isdir(b)
        assert not os.listdir(a) and not os.listdir(b)
        if os.path.isdir("/dev/shm"):
            assert a.startswith("/dev/shm/")
    finally:
        os.rmdir(a)
        os.rmdir(b)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_BASE", str(tmp_path))
    c = P.ephemeral_checkpoint()
    assert c.startswith(str(tmp_path))
    os.rmdir(c)


def test_run_to_memory_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    """run_to_memory must not leave checkpoint litter behind (the
    ephemeral dir is created and removed per invocation)."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_BASE", str(tmp_path))
    src = str(tmp_path / "in")
    spark.range(10).write.mode("overwrite").parquet(src)
    df = (
        spark.readStream.schema("id long").parquet(src)
        .groupBy((F.col("id") % 2).alias("k"))
        .count()
    )
    out = P.run_to_memory(spark, df, "q_ckpt_cleanup", mode="complete")
    assert out.count() == 2
    left = [d for d in os.listdir(tmp_path) if d.startswith("flinkrunner-ckpt-")]
    assert left == [], f"checkpoint dirs left behind: {left}"


@pytest.mark.parametrize(
    "table, key, splits",
    [
        ("events", "ts", 4),
        ("documents", "doc_id", 4),
        ("events", "ts", 1),
        ("documents", "doc_id", 1),
    ],
)
def test_file_stream_batch_contract(spark, table, key, splits):
    """The contract every stream_* mirror's oracle relies on: under
    availableNow the harness drains in exactly ``splits`` non-empty
    micro-batches, the batches arrive in ascending key order, and no key
    value appears in two batches."""
    import shutil

    from flinkrunner_spark.plans.docstreams import stream_documents

    if table == "events":
        sdf = P.stream_events(spark, SF, splits=splits)
    else:
        sdf = stream_documents(spark, SF, splits=splits)
    ranges = []

    def record(bdf, bid):
        r = bdf.agg(F.min(key), F.max(key), F.count(F.lit(1))).first()
        if r[2]:
            ranges.append((bid, r[0], r[1]))

    ckpt = P.ephemeral_checkpoint()
    try:
        q = (
            sdf.select(key).writeStream.foreachBatch(record)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    filled = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(filled) == splits
    assert [b for b, _, _ in ranges] == filled
    for (_, _, hi), (_, lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, f"key ranges overlap or go backwards: {ranges}"


def _key_counts(spark, src: str, fail: bool):
    spark.range(10).write.mode("overwrite").parquet(src)
    ids = spark.readStream.schema("id long").parquet(src)
    k = F.col("id") % 2
    if fail:
        k = F.when(F.col("id") < 0, k).otherwise(F.raise_error("drain failed"))
    return ids.groupBy(k.cast("long").alias("k")).count()


@pytest.mark.parametrize("fail", [False, True], ids=["ok", "raises"])
@pytest.mark.parametrize(
    "drain",
    [
        lambda spark, df: P.run_to_memory(spark, df, "q_pin", mode="complete"),
        lambda spark, df: P.run_updates_final(spark, df, ["k"]),
    ],
    ids=["run_to_memory", "run_updates_final"],
)
def test_drain_restores_callers_shuffle_partitions(spark, tmp_path, drain, fail):
    """Both drains pin the shuffle/state partitions for the run of the
    query only: the caller's value is back afterwards, also when the
    streaming query raises."""
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        df = _key_counts(spark, str(tmp_path / "in"), fail)
        if fail:
            with pytest.raises(StreamingQueryException, match="drain failed"):
                drain(spark, df)
        else:
            got = sorted(map(tuple, drain(spark, df).collect()))
            assert got == [(0, 5), (1, 5)]
        assert spark.conf.get(conf) == "7"
    finally:
        spark.conf.set(conf, before)
