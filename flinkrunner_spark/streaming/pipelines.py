"""Structured Streaming mirrors of the batch operators.

The reference is a streaming framework; this module shows the same logical
plans running unbounded: file-backed streams of the input tables with
watermarks (bounded lateness), windowed aggregation, and stateful
keep-first dedup on JVM keyed state (``flatMapGroupsWithState``, the
Spark analog of the reference's keyed ValueState in
SBFDeduplicationFilter).

Each mirror decision lives in one function here:

* ``file_stream`` — how a bounded table becomes an event-time-ordered
  stream (one micro-batch per range split, arrival in key order);
* ``drain_partitions`` / ``_drain`` — how a bounded stream is driven to
  completion: the availableNow trigger + ``awaitTermination`` on an
  ephemeral checkpoint, under one set-and-restore shuffle/state-partition
  pin (``run_to_memory``, ``run_updates_final``);
* the window builders (``streaming_tumbling_agg``,
  ``streaming_sliding_agg``, ``streaming_session_agg``,
  ``tumbling_ema_agg``) — the one expression per window shape, built on
  ``operators.windows`` and called by the batch ``win_*`` plans and their
  ``stream_win_*`` mirrors alike.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from flinkrunner_spark.operators import aggregates as A
from flinkrunner_spark.operators import windows as W
from flinkrunner_spark.tables import load_table

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def ephemeral_checkpoint(prefix: str = "flinkrunner-ckpt-") -> str:
    """Unique checkpoint dir for a BOUNDED drive-to-completion streaming
    run, RAM-backed when the host offers it. Moving it to /dev/shm was
    measured 7.7s→3.2s on stream_win_tumbling and 12.0s→6.5s on
    stream_interval_join at sf0.1, credited then to the fsync of one
    state-store delta file per instance per micro-batch. It was not the
    disk: on a 4-core VM a 22-batch stateful file stream gave the same
    per-batch medians on tmpfs and ext4, ``walCommit`` 30–31 ms and a
    state commit of 143–157 ms through Spark's FileContext checkpoint
    manager, 7–8 ms and 1–4 ms through the FileSystem one ``get_spark``
    sets. The cost was Hadoop forking processes for every checkpoint
    file (``readlink`` in the FileContext manager's rename, ``chmod`` on
    each create until ``get_spark``'s ``NioLocalFileSystem``), so neither
    disk wins a phase now; the /dev/shm default stays until an A/B
    against a disk-backed dir says otherwise.

    Correctness-neutral: callers create a FRESH directory per invocation
    and remove it when the query finishes, exactly the lifecycle Spark's
    own temp-checkpoint default has — no state ever survives between
    runs. Durability is a non-goal for these bounded mirrors by
    construction; production queries (sinks/factory.py, the curation
    pipeline's restart surface) take their checkpoint locations from
    config and are untouched. ``SPARK_GRAFT_STREAM_CKPT_BASE`` overrides
    the base dir (point it at durable storage to measure durable-commit
    cost)."""
    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT_BASE")
    if not base:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


DRAIN_ROWS_PER_PARTITION = 100_000  # target keyed-state rows per store
DRAIN_PARTITIONS_FLOOR = 4  # see drain_partitions for the 2-vs-4 measure


@contextmanager
def drain_partitions(spark: SparkSession, n_rows: int | None = None):
    """Pin ``spark.sql.shuffle.partitions`` for a BOUNDED
    drive-to-completion drain and restore the caller's value on exit,
    also when the drain raises. A streaming query fixes its shuffle and
    state-store partition count when its first batch plans, so the pin
    must span the whole run of the query.

    Every state-store partition pays a fixed cost per micro-batch
    (measured r1/r4: 32→8 partitions took the local interval join
    9.5s→2.1s, 8→4 halved it again, flat below 4). Most of that cost was
    the checkpoint files each partition writes per batch (its delta, the
    delta's ``.crc`` and checksum file), each costing Hadoop forks
    (``readlink`` through the FileContext checkpoint manager, ``chmod``
    on every create); ``get_spark`` now writes them with neither.
    Re-measured without the forks and with keep-first dedup in the JVM,
    traced perfbench stream_events runs (local[4], 4-core VM, catch-up of
    80k events in 4 files, 16 batches; seeds 1541 / 1542):

    ======================  =============  =============
    measure                 floor 2        floor 4
    ======================  =============  =============
    state partitions (sum)  8              16
    drain_s win_tumbling    1.37 / 1.43 s  1.72 / 1.52 s
    drain_s dedup_first     1.37 / 1.18 s  1.58 / 1.31 s
    state update_ms (sum)   1,277 / 1,292  3,041 / 2,585
    state commit_ms (sum)   150 / 176      447 / 525
    state memory_bytes      3.02 / 3.02 M  2.82 / 2.82 M
    ======================  =============  =============

    The floor stays 4: state memory grew at 2, and the ``stream_*``
    mirrors' batch counts and the ``stream_curation_to_iceberg`` cold
    time were not re-measured at 2. A drain wants the FEWEST partitions
    that still hold state comfortably:

    * with a known drain volume (``n_rows`` — e.g. the curation catch-up
      counts its backlog), partitions =
      ceil(n_rows / DRAIN_ROWS_PER_PARTITION) clamped to
      [DRAIN_PARTITIONS_FLOOR, 8 × defaultParallelism]: a 100 TB backlog
      gets thousands of stores spread over the cluster, a 5k-row local
      mirror keeps the measured-optimal handful;
    * otherwise ``DRAIN_PARTITIONS_FLOOR``.
    """
    n = DRAIN_PARTITIONS_FLOOR
    if n_rows is not None:
        cap = 8 * spark.sparkContext.defaultParallelism
        n = max(n, min(cap, -(-int(n_rows) // DRAIN_ROWS_PER_PARTITION)))
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def file_stream(
    df: DataFrame, path: str, key: str, splits: int, schema: str | None = None
) -> DataFrame:
    """The event-time-ordered file stream every bounded mirror reads.

    ``df`` is written to ``path`` once (a later call finds ``_SUCCESS``
    and reuses the copy). With ``splits > 1`` the copy is
    range-partitioned on ``key`` into ``splits`` files whose modification
    times increase in range order, and the source reads with
    ``maxFilesPerTrigger=1``: under the availableNow trigger Spark then
    processes one file per micro-batch, oldest first, so batches arrive
    in ascending ``key`` order. Rows with EQUAL keys always share a file
    (range partitioning on ``key`` alone), so no key value straddles a
    batch boundary — on an event-time key the keyed-state mirrors'
    in-batch (ts, control/right-first, id) replay order is never split,
    and the batch oracles hold across real micro-batch transitions.
    With ``splits == 1`` the stream drains in ONE micro-batch
    (``stream_dedup_sbf`` relies on it). ``schema`` defaults to
    ``df``'s."""
    if not os.path.exists(path + "/_SUCCESS"):
        out = df.repartitionByRange(splits, key) if splits > 1 else df
        out.write.mode("overwrite").parquet(path)
        if splits > 1:
            # part-file names follow range-partition order; stamp strictly
            # increasing mtimes so the file source's oldest-first pickup
            # equals key order deterministically
            parts = sorted(glob.glob(path + "/part-*"))
            t0 = time.time() - len(parts) - 1
            for i, p in enumerate(parts):
                os.utime(p, (t0 + i, t0 + i))
    reader = df.sparkSession.readStream.schema(schema or df.schema)
    if splits > 1:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(path)


def table_stream(
    spark: SparkSession, sf_dir: str, table: str, key: str, splits: int,
    schema: str | None = None,
) -> DataFrame:
    """``file_stream`` over a /tmp copy of input table ``table``. The
    copy is keyed by md5 of (table, sf_dir, splits) — NOT the builtin
    hash(), which is salted per process and would rewrite the copy on
    every run and litter /tmp."""
    tag = hashlib.md5(f"{table}:{sf_dir}:{splits}".encode()).hexdigest()[:16]
    return file_stream(
        load_table(spark, sf_dir, table),
        "/tmp/flinkrunner_stream_src/" + tag,
        key,
        splits,
        schema,
    )


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    lateness: str = "10 minutes",
    splits: int = 1,
) -> DataFrame:
    """The events table as a stream with a bounded-lateness watermark,
    ``splits`` micro-batches in event-time order (``file_stream`` on
    ``ts``). The copy holds the loader's micros-truncated ``ts``; the
    stream reads it as ``timestamp`` (``EVENTS_SCHEMA``), the type every
    events mirror and its oracle agree on."""
    return table_stream(
        spark, sf_dir, "events", "ts", splits, EVENTS_SCHEMA
    ).withWatermark("ts", lateness)


def _count_total() -> list[Column]:
    return [F.count(F.lit(1)).alias("n"), A.dsum("value", "total")]


def streaming_tumbling_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type: (n, total).
    The one builder behind ``win_tumbling`` and the ``stream_win_tumbling``
    mirrors; the same expression runs on a batch or a streaming frame."""
    return W.tumbling_agg(events, "ts", "1 hour", ["event_type"], _count_total())


def streaming_sliding_agg(events: DataFrame) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes per event_type: the one
    builder behind ``win_sliding`` and the ``stream_win_sliding``
    mirrors."""
    return W.sliding_agg(
        events, "ts", "1 hour", "30 minutes", ["event_type"], _count_total()
    )


def streaming_session_agg(events: DataFrame) -> DataFrame:
    """Session windows (5-minute gap) per user: the one builder behind
    ``win_session`` and the ``stream_win_session`` mirrors."""
    return W.session_agg(events, "ts", "5 minutes", ["user_id"], _count_total())


def tumbling_ema_agg(events: DataFrame) -> DataFrame:
    """The reference's windowedAggregation with its order-dependent EMA
    aggregate (FlinkRunnerAggregateFunction + EMA.scala): per (tumbling
    1-hour window, event_type), fold values in (ts, event_id) order with
    α=0.7. The
    one builder behind ``win_ema`` and ``stream_win_ema``.

    On a stream, collect_list accumulates per-window state incrementally
    across micro-batches (arrival order, NOT event order); the sort is
    part of the aggregate's result expression (``array_sort``), so the
    fold is deterministic however the stream interleaves. State is
    bounded by the window — the same bound the reference gets from
    windowed AggregateFunction state."""
    vals = A._sorted_values(["ts", "event_id"], "value").alias("_vals")
    return W.tumbling_agg(events, "ts", "1 hour", ["event_type"], [vals]).select(
        "window_start",
        "window_end",
        "event_type",
        F.round(A.ema_fold(F.col("_vals"), 0.7), 6).alias("agg_ema"),
    )


def streaming_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment — the streaming form of
    EnrichmentAsyncFunction's cached lookup: the dimension is a bounded
    batch frame shipped to executors once; each micro-batch joins against
    it with no streaming state at all."""
    return (
        events.join(
            F.broadcast(dim), events["user_id"] == dim["c_custkey"], "left"
        ).select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")
    )


def _with_bucket(df: DataFrame, keys: list, num_buckets: int) -> DataFrame:
    """``df`` with ``_bucket = pmod(xxhash64(*keys), num_buckets)``, the
    one bucket rule of every bucketed state operator."""
    return df.withColumn(
        "_bucket", F.pmod(F.xxhash64(*keys), F.lit(num_buckets))
    )


def _bucketed_state(
    df: DataFrame,
    keys: list,
    num_buckets: int,
    fn,
    out_schema,
    state_schema: str,
) -> DataFrame:
    """Keyed state held per hash BUCKET of ``keys`` for a Python state
    function: rows get ``_bucket`` (``_with_bucket``) and ``fn`` runs once
    per touched bucket per micro-batch under ``applyInPandasWithState``
    (append output, no timeout), holding the bucket's state blob. ``fn``
    sees the ``_bucket`` column and must not emit it.

    Buckets, not keys, because each group costs one Python dispatch
    (~0.2 ms) per micro-batch: the per-key form pays it for every key in
    every batch, which at millions of keys per trigger IS the bottleneck,
    while a bucket pays it once for all of its keys. The trade: a touched
    bucket's whole blob is deserialized and re-written, so size
    ``num_buckets`` by key cardinality (≈ keys / ~100k) to keep blobs
    small and spread over state partitions."""
    return _with_bucket(df, keys, num_buckets).groupBy(
        "_bucket"
    ).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup_keep_first(
    events: DataFrame,
    key_cols: list[str] | None = None,
    num_buckets: int = 64,
    ttl_sec: float | None = None,
) -> DataFrame:
    """Stateful keep-first dedup (exact semantics of the reference's dedup
    filter) on JVM keyed state: ``flinkrunner_spark.jvm.KeepFirstDedup``
    (``jvm/KeepFirstDedup.java``), a typed
    ``groupByKey(_bucket).flatMapGroupsWithState``, as the reference keeps
    its seen keys in Flink's JVM keyed-state operator. Per micro-batch
    each touched bucket emits the (ts, event_id)-min row of every key of
    the batch it has not seen (a null ``ts`` sorts last) and records the
    key; the output has exactly the input's columns. No Python worker
    runs, so a micro-batch pays no Python round trip per state task.

    State is keyed by ``_bucket = pmod(xxhash64(keys), num_buckets)``
    (``_with_bucket``), one state row per bucket holding its seen keys as
    ``array<struct<key columns>>``. The buckets no longer save a Python
    dispatch per key (``_bucketed_state``); they stay to keep the TTL's
    per-bucket event-time clock, and the bucket count should scale with
    key cardinality (buckets ≈ keys / ~100k keeps each row small and the
    state store parallel). Checkpoints written by the earlier Python
    operator (a pickled blob per bucket) do not resume.

    For bounded state at unbounded key cardinality there are two levers:
    ``ttl_sec`` bounds a bucket's state by the key cardinality of one TTL
    horizon. Each bucket has its own event-time clock (the max ts of its
    batches); keys last seen before ``clock - ttl`` are evicted BEFORE
    the batch is tested (a duplicate arriving more than a TTL after its
    key was last seen re-emits, the documented trade of the exact form,
    as with Flink's StateTtlConfig on keyed dedup state), and every
    sighting refreshes its key's stamp to the key's LAST in-batch ts. The
    other lever is streaming_dedup_sbf (bucketed fixed-size SBF cells)
    for constant memory with probabilistic drops. The default
    (``ttl_sec=None``) keeps exact unbounded semantics: it is the oracle
    mirror. A bucket whose state did not change (no new key; with a TTL
    also no eviction and no newer stamp) is not written.

    The operator's class comes from the jar ``get_spark`` puts on the
    driver's class path; a session whose JVM started without it raises
    here."""
    from py4j.java_gateway import JavaClass

    key_cols = key_cols or ["user_id", "event_type"]
    if ttl_sec is not None and ttl_sec < 0:
        raise ValueError(f"ttl_sec must be >= 0, got {ttl_sec}")
    spark = events.sparkSession
    op = spark._jvm.flinkrunner_spark.jvm.KeepFirstDedup
    if not isinstance(op, JavaClass):
        raise RuntimeError(
            "this session's JVM cannot load flinkrunner_spark.jvm."
            "KeepFirstDedup: build the session with "
            "flinkrunner_spark.get_spark, which puts "
            "flinkrunner_spark/jvm/flinkrunner-jvm.jar on the driver's "
            "class path, before any other SparkSession starts the JVM"
        )
    # the order column is a long: with java8API a timestamp arrives in the
    # JVM as an Instant, else as a java.sql.Timestamp
    keyed = _with_bucket(events, key_cols, num_buckets).withColumn(
        "_ts_us", F.unix_micros("ts")
    )
    ttl_us = -1 if ttl_sec is None else int(ttl_sec * 1_000_000)
    return DataFrame(op.apply(keyed._jdf, key_cols, "event_id", ttl_us), spark)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    lookback: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join (the DataStream intervalJoin pattern,
    reachable in the reference via connectedSource + keyed state): each
    purchase matches clicks by the same user within [purchase_ts -
    lookback, purchase_ts].

    Structured Streaming plans this as a watermark-bounded symmetric hash
    join — state on both sides is pruned to the lookback window, so state
    size is O(rate × lookback) regardless of stream length.
    """
    p = left.select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("user_id").alias("p_user"),
    )
    c = right.select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        F.col("user_id").alias("c_user"),
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", "p_ts", "c_ts")


def streaming_dedup_sbf(
    events: DataFrame,
    dedupe_col: "str | list[str] | tuple[str, ...]" = "event_id",
    num_buckets: int = 32,
    num_cells: int | None = None,
    bits_per_cell: int | None = None,
    fpr: float | None = None,
) -> DataFrame:
    """Constant-memory approximate streaming dedup — the reference's
    SBFDeduplicationFilter (operator/SBFDeduplicationFilter.scala:21-63)
    semantics: drop events whose dedupe key was (probably) already seen,
    with a Stable Bloom Filter as the keyed state so state never grows
    with stream length. ``dedupe_col`` may be one column or a composite
    (joined with the same ``\\x1f`` separator the batch operator uses, so
    both forms hash the identical key string).

    SBF geometry defaults come from operators/dedup.py (the reference's
    sbf.* config) — one source of truth shared with the batch operator
    and the exact contract checks.

    Scale design: rows are grouped by a hash bucket of the dedupe key
    (``pmod(xxhash64(key), num_buckets)``) so every duplicate meets the
    same filter; each bucket's SBF cells (``num_cells`` bytes) live in
    the state store and ride checkpoints. num_buckets sets shuffle
    parallelism; state is O(num_buckets × num_cells) forever, regardless
    of stream volume — the point of the SBF over exact keep-first state.

    Note: the decrement RNG restarts each micro-batch (the paper's
    stability property only needs *some* random decrement schedule;
    persisting RNG state would buy nothing).
    """
    from flinkrunner_spark.operators.dedup import (
        SBF_BITS_PER_CELL,
        SBF_FPR,
        SBF_NUM_CELLS,
    )

    num_cells = SBF_NUM_CELLS if num_cells is None else num_cells
    bits_per_cell = SBF_BITS_PER_CELL if bits_per_cell is None else bits_per_cell
    fpr = SBF_FPR if fpr is None else fpr
    key_cols = [dedupe_col] if isinstance(dedupe_col, str) else list(dedupe_col)

    def fn(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        from flinkrunner_spark.algorithms.sbf import StableBloomFilter

        sbf = StableBloomFilter(num_cells, bits_per_cell, fpr, seed=42)
        if state.exists:
            (blob,) = state.get
            sbf.cells = np.frombuffer(blob, dtype=np.uint8).copy()
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return iter(())
        # a micro-batch arrives as MULTIPLE Arrow chunks in arbitrary row
        # order — keep-first semantics need the SBF to meet each key's
        # (ts, event_id)-earliest row first, so sort the WHOLE batch
        # before the sequential scan
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        keys = pdf[key_cols[0]].astype(str)
        for c in key_cols[1:]:
            keys = keys + "\x1f" + pdf[c].astype(str)
        seen = sbf.add_batch(keys.tolist())
        state.update((sbf.cells.tobytes(),))
        yield pdf[~seen].drop(columns=["_bucket"])

    key_expr = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols]
    )
    return _bucketed_state(
        events, [key_expr], num_buckets, fn, EVENTS_SCHEMA, "cells binary"
    )


def streaming_filter_by_control(
    events: DataFrame,
    key: str = "user_id",
    tiebreak: str = "event_id",
    control_types: tuple[str, ...] = ("signup", "error"),
    active_type: str = "signup",
    num_buckets: int = 64,
) -> DataFrame:
    """Streaming filterByControlSource (reference StreamJob.scala
    filterByControlSource): data events pass only while the latest control
    event for their key is active. The control/data split rides one keyed
    stream; logical state per key is a single boolean — the last
    control's active flag, the reference's connected-stream keyed state —
    physically held as a bucketed {key: flag} blob (see
    ``_bucketed_state`` for why bucketing beats per-key Python
    dispatch). The trade-off of bucketing: each touched bucket's WHOLE
    state dict is pickle round-tripped every micro-batch — O(keys in
    bucket) serialization even when one key changes — so size
    ``num_buckets`` ≈ distinct keys / ~100k to keep blobs small while
    spreading state across store partitions.

    Within a micro-batch rows are processed in (ts, control-first,
    tiebreak) order, so a control switch gates same-batch data rows after
    it; across batches the persisted flag gates everything until the next
    control arrives. As with any streaming gate (Flink's included), a
    control row arriving in a LATER batch than data it precedes in event
    time cannot retro-gate those already-emitted rows. The mirror
    (``stream_filter_by_control``) runs four micro-batches whose arrival
    order equals event-time order (``file_stream``), so that never
    happens there and the batch as-of oracle holds exactly."""

    def fn(key_tuple, pdfs, state: GroupState):
        import pickle

        import pandas as pd

        # bucketed state: {key: latest control's active flag}; the keyed
        # replay below is vectorized per bucket (groupby-ffill), so the
        # Python dispatch cost is per BUCKET per batch, not per key
        gates = pickle.loads(state.get[0]) if state.exists else {}
        pdf = pd.concat(list(pdfs), ignore_index=True)
        is_ctl = pdf["event_type"].isin(control_types)
        pdf["_kind"] = (~is_ctl).astype(int)  # control=0 sorts first on ties
        pdf = pdf.sort_values(["ts", "_kind", tiebreak])
        act = pd.Series(pd.NA, index=pdf.index, dtype="object")
        ctl_rows = pdf["_kind"] == 0
        act[ctl_rows] = pdf.loc[ctl_rows, "event_type"] == active_type
        # per-key forward fill in row order, seeded by the persisted gate
        gate = act.groupby(pdf[key]).ffill()
        gate = gate.fillna(pdf[key].map(gates))
        keep = (pdf["_kind"] == 1) & (gate == True)  # noqa: E712
        last_ctl = act[ctl_rows].groupby(pdf.loc[ctl_rows, key]).last()
        if len(last_ctl):
            gates.update(
                (int(k), bool(v)) for k, v in last_ctl.items()
            )
        state.update((pickle.dumps(gates),))
        yield pdf.loc[
            keep, ["event_id", "ts", "user_id", "event_type", "value"]
        ]

    return _bucketed_state(
        events.select(tiebreak, "ts", key, "event_type", "value"),
        [key],
        num_buckets,
        fn,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
        "gates binary",
    )


def streaming_asof_join(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
    num_buckets: int = 64,
) -> DataFrame:
    """Streaming as-of join (reference bounded-lateness join semantics,
    flink/StreamJob.scala connectedSource + keyed state): each left-side
    event picks up the latest right-side event at-or-before it, per key.
    Logical state per key is ONE (id, ts) pair — the running latest
    right event, the same O(1) keyed state a Flink KeyedCoProcessFunction
    would keep versus the unbounded buffer of a naive stream-stream join —
    physically bucketed as a {key: (id, ts)} blob so the Python dispatch
    cost is per bucket, not per key. As with the control gate, a touched
    bucket's whole blob is rewritten each micro-batch — size
    ``num_buckets`` to key cardinality (≈ keys / ~100k) to bound the
    per-batch serialization while keeping state-store parallelism.

    In-batch processing order is (ts, right-first, event_id): a right
    event at the same timestamp applies (`<=` as-of), and among same-ts
    right events the largest id wins — identical to the batch
    sorted-merge pass (operators/joins.asof_join_merge). Left events with
    no preceding right are dropped (inner as-of). Same caveat as every
    streaming gate: a right event arriving in a later batch cannot
    retro-match already-emitted left rows. The mirror
    (``stream_asof_join``) runs four micro-batches whose arrival order
    equals event-time order (``file_stream``), so the batch oracle holds
    exactly."""

    def fn(key_tuple, pdfs, state: GroupState):
        import pickle

        import pandas as pd

        # bucketed state: {user: (click_id, click_ts_micros)} — the
        # latest right event per key; replay below is vectorized per
        # bucket (groupby-ffill), Python dispatch per BUCKET per batch
        latest = pickle.loads(state.get[0]) if state.exists else {}
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf["_kind"] = (pdf["event_type"] != right_type).astype(int)
        pdf = pdf.sort_values(["ts", "_kind", "event_id"])
        right = pdf["_kind"] == 0
        cid = pd.Series(pd.NA, index=pdf.index, dtype="object")
        cus = pd.Series(pd.NA, index=pdf.index, dtype="object")
        cid[right] = pdf.loc[right, "event_id"]
        # normalize to micros regardless of the Arrow-side resolution
        cus[right] = (
            pdf.loc[right, "ts"].astype("datetime64[us]").astype("int64")
        )
        users = pdf["user_id"]
        fid = cid.groupby(users).ffill()
        fus = cus.groupby(users).ffill()
        fid = fid.fillna(users.map({u: v[0] for u, v in latest.items()}))
        fus = fus.fillna(users.map({u: v[1] for u, v in latest.items()}))
        keep = (pdf["_kind"] == 1) & (pdf["event_type"] == left_type) & fid.notna()
        out = pdf.loc[keep, ["event_id", "ts", "user_id"]].copy()
        out["click_id"] = fid[keep].astype("int64")
        out["click_ts"] = fus[keep].astype("int64").astype("datetime64[us]")
        last_right = pdf.loc[right]
        if len(last_right):
            grp = last_right.groupby("user_id").last()
            # column-wise extraction, no per-row Series construction
            latest.update(
                zip(
                    (int(u) for u in grp.index.tolist()),
                    zip(
                        (int(e) for e in grp["event_id"].tolist()),
                        (
                            int(v)
                            for v in (
                                grp["ts"].astype("datetime64[us]")
                                .astype("int64")
                                .tolist()
                            )
                        ),
                    ),
                )
            )
        state.update((pickle.dumps(latest),))
        yield out

    return _bucketed_state(
        events.filter(F.col("event_type").isin(left_type, right_type)).select(
            "event_id", "ts", "user_id", "event_type"
        ),
        ["user_id"],
        num_buckets,
        fn,
        "event_id long, ts timestamp, user_id long, "
        "click_id long, click_ts timestamp",
        "latest binary",
    )


def streaming_hll(
    events: DataFrame,
    key: str = "event_type",
    value: str = "user_id",
    b: int = 12,
) -> DataFrame:
    """Streaming HyperLogLog cardinality — the reference's HLL aggregate
    (algorithm/cardinality/HyperLogLog.scala) applied the way FlinkRunner
    applies aggregates to keyed streams: per-key register array as keyed
    state, updated every micro-batch, estimate emitted per (key, batch).

    The register max-merge is batch- and order-independent, so after the
    last micro-batch the state equals the batch-merged registers exactly
    — the final emitted row per key matches the batch `hll_users` oracle
    bit-for-bit (take the max-`seq` row per key; see plans/events.py).

    State is m = 2^b bytes per key, forever — constant in stream length,
    exactly the reference's accumulator contract."""
    m = 1 << b
    out_schema = f"{key} string, seq long, n_users_hll long"
    state_schema = "regs binary, seq long"

    def fn(key_tuple, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        from flinkrunner_spark.algorithms import hll

        if state.exists:
            blob, seq = state.get
            M = np.frombuffer(blob, dtype=np.int8).copy()
        else:
            M = np.zeros(m, dtype=np.int8)
            seq = 0
        for pdf in pdfs:
            hll.update_registers(M, pdf[value].tolist(), b)
        seq += 1
        state.update((M.tobytes(), seq))
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "seq": [seq],
                "n_users_hll": [hll.estimate(M)],
            }
        )

    return events.select(key, value).groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _RunningAgg:
    """StatefulProcessor for streaming_running_agg — defined lazily (the
    import must not run on clusters without the TWS API)."""

    def __new__(cls):
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        class RunningAgg(StatefulProcessor):
            def init(self, handle) -> None:
                from pyspark.sql.types import (
                    LongType,
                    StructField,
                    StructType,
                )

                self._state = handle.getValueState(
                    "acc",
                    StructType(
                        [
                            StructField("n", LongType()),
                            StructField("micros", LongType()),
                        ]
                    ),
                )

            def handleInputRows(self, key, rows, timer_values):
                import decimal

                import pandas as pd

                n, micros = (
                    tuple(self._state.get()) if self._state.exists() else (0, 0)
                )
                for pdf in rows:
                    n += len(pdf)
                    for v in pdf["value"]:
                        # exact decimal(·,6) of the double's shortest repr,
                        # HALF_UP — the same value Spark's double→decimal
                        # cast produces, accumulated as integer micro-units
                        # (order-independent, overflow-safe at this scale)
                        micros += int(
                            decimal.Decimal(repr(float(v))).scaleb(6).quantize(
                                decimal.Decimal(1),
                                rounding=decimal.ROUND_HALF_UP,
                            )
                        )
                self._state.update((n, micros))
                yield pd.DataFrame(
                    {
                        "event_type": [key[0]],
                        "n": [n],
                        "total": [micros / 10**6],
                    }
                )

            def close(self) -> None:
                pass

        return RunningAgg()


def streaming_running_agg(events: DataFrame) -> DataFrame:
    """Per-key running (count, exact sum) via transformWithStateInPandas —
    the Spark 4 analog of the reference's keyed state operators
    (flink/state/RichStateUtils.scala + KeyedProcessFunction): typed
    ValueState per key, explicit update per batch, one emitted row per
    (key, batch) carrying the running totals.

    State is two longs per key; the sum accumulates integer micro-units
    so totals are exact and order-independent (IEEE running float sums
    would drift by arrival order and break the cross-engine oracle).

    DEPENDENCY-GATED: the TWS python worker requires ``google.protobuf``
    (its state channel is protobuf-framed); environments without it get
    an ImportError here instead of an opaque worker crash mid-query.
    ``applyInPandasWithState`` (``_bucketed_state`` above) is the
    dependency-free alternative with the same state semantics."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package "
            "(google.protobuf) for its state-server protocol; use the "
            "applyInPandasWithState operators instead on this cluster"
        ) from e
    return events.select("event_type", "value").groupBy(
        "event_type"
    ).transformWithStateInPandas(
        statefulProcessor=_RunningAgg(),
        outputStructType="event_type string, n long, total double",
        outputMode="Append",
        timeMode="None",
    )


def _drain(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Drive a bounded stream to completion: ``writer`` (sink and output
    mode set) starts on a fresh ephemeral checkpoint with the availableNow
    trigger under ``drain_partitions``, and the call returns when the
    query has processed everything available — or raises its error. The
    checkpoint is removed either way."""
    ckpt = ephemeral_checkpoint()
    try:
        with drain_partitions(spark):
            writer.option("checkpointLocation", ckpt).trigger(
                availableNow=True
            ).start().awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_updates_final(
    spark: SparkSession,
    df: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Drive a (bounded) streaming aggregation in UPDATE output mode and
    return the FINAL emission per key — the upsert-sink configuration.

    Update mode is the at-scale middle ground between complete mode
    (re-emits the whole result every trigger — sink traffic O(keys) per
    batch) and append mode (emits only watermark-closed windows — needs
    finalization): each trigger emits exactly the keys whose aggregate
    changed, which is what a keyed upsert sink (JDBC merge, key-value
    store — the reference's CreateTableJdbcSinkFunction shape) consumes.
    Sink traffic is O(keys touched per batch), state never re-scanned.

    ``df`` is the streaming aggregate, built on ``spark``. It runs through
    the same drain as ``run_to_memory`` (``_drain``): the caller's
    ``spark.sql.shuffle.partitions`` is pinned for the run of the query
    and restored afterwards, so a query started on the same session
    concurrently with a drain plans with the pinned count.

    The sink is executor-side end to end: each micro-batch's update rows
    are stamped with the batch id and appended to a staging directory as
    parquet BY THE EXECUTORS (the driver never sees a row — the exact
    shape a JDBC MERGE / key-value upsert takes at scale, with parquet
    standing in for the store). The final emission per key is then
    selected read-side (max batch id wins); because streaming aggregate
    state is cumulative, that row IS the full-input aggregate, so for
    order-independent aggregates the result is bit-identical to the batch
    oracle. The returned frame is localCheckpoint-materialized (it is
    O(keys) small) so the staging directory can be deleted immediately."""
    # same RAM-backed ephemeral base as the checkpoints: the staging
    # dir is written and deleted within this call (the result is
    # localCheckpoint-materialized before the rmtree below), so its
    # durability is a non-goal
    staged = ephemeral_checkpoint(prefix="flinkrunner_updates_")

    def sink(bdf: DataFrame, bid: int) -> None:
        # executor-side append; at scale this body is MERGE INTO / upsert
        bdf.withColumn("_batch_id", F.lit(bid)).write.mode("append").parquet(
            staged
        )

    try:
        _drain(spark, df.writeStream.foreachBatch(sink).outputMode("update"))
        if not glob.glob(staged + "/part-*"):
            return spark.createDataFrame([], df.schema)
        w = Window.partitionBy(*keys).orderBy(F.col("_batch_id").desc())
        return (
            spark.read.parquet(staged)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_batch_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def run_to_memory(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    mode: str = "append",
) -> DataFrame:
    """Drive a (bounded) stream to completion into a memory sink; return
    the sink contents as a batch DataFrame. Use mode="complete" for
    watermarked aggregations so the trailing windows (still within
    lateness when input ends) are included.

    The drain (``_drain``) pins shuffle/state-store partitioning with
    ``drain_partitions`` for the run of the query: every stateful-op
    partition pays a fixed state-store maintenance cost PER MICRO-BATCH —
    including the empty watermark-flush batch — so local mirrors with
    small state want few partitions. Scan parallelism is unaffected
    (file splits, not shuffle partitions, drive the source)."""
    _drain(spark, df.writeStream.format("memory").queryName(name).outputMode(mode))
    return spark.sql(f"SELECT * FROM {name}")
