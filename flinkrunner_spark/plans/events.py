"""Event-stream query plans: the reference's keyed/windowed aggregation,
dedup, control-gating, enrichment and as-of patterns applied to the
``events`` table (event_id, ts, user_id, event_type, value, props).

Each of these is the batch expression of a streaming pipeline; the same
plans run under Structured Streaming via flinkrunner_spark.streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.operators import aggregates as A
from flinkrunner_spark.operators import windows as W
from flinkrunner_spark.operators.control import filter_by_control
from flinkrunner_spark.operators.dedup import dedup_first, dedup_sbf
from flinkrunner_spark.operators.enrichment import enrich_broadcast
from flinkrunner_spark.operators.joins import asof_join_merge
from flinkrunner_spark.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All order-independent reference aggregates keyed by event_type
    (FlinkRunnerAggregateFunction applied per key)."""
    return _events(spark, sf_dir).groupBy("event_type").agg(*A.basic_agg_exprs("value"))


def stream_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same keyed aggregate as `agg_basic`, run as a windowless
    Structured-Streaming aggregation in complete output mode — the
    canonical FlinkRunnerAggregateFunction-on-a-keyed-stream shape.
    Every aggregate is a decimal-exact (order-independent) expression,
    so the streamed result is bit-identical to the batch oracle no
    matter how the input splits into micro-batches."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, lateness="365 days", splits=4).drop(
        "props"
    )
    agg = ev.groupBy("event_type").agg(*A.basic_agg_exprs("value"))
    return P.run_to_memory(
        spark, agg, "q_stream_agg_basic", mode="complete"
    )


def stream_agg_basic_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`stream_agg_basic` in UPDATE output mode — each trigger emits only
    the keys whose aggregate changed (the upsert-sink configuration; at
    100 TB stream volume complete mode's re-emit-everything is a
    non-starter and append mode never finalizes a windowless aggregate).
    The mirror keeps the last emission per key, which — cumulative state,
    order-independent decimal-exact aggregates — is bit-identical to the
    batch `agg_basic` oracle across any micro-batch split."""
    from flinkrunner_spark.streaming import pipelines as P

    def build(s: SparkSession) -> DataFrame:
        ev = P.stream_events(s, sf_dir, lateness="365 days", splits=4).drop(
            "props"
        )
        return ev.groupBy("event_type").agg(*A.basic_agg_exprs("value"))

    return P.run_updates_final(spark, build, ["event_type"])


def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed quantiles per key: percentile_disc (the
    smallest actual data value whose cumulative distribution reaches p)
    for p50/p90/p95/p99 of ``value`` by event_type — the latency-SLO
    aggregate every event pipeline reports.

    Scale shape: Spark's percentile_disc is a single hash-aggregate —
    ONE shuffle keyed by event_type, per-key sorted buffers on the
    reduce side; no global sort, no per-row Python, no window function.
    DISC (not CONT) on purpose: it returns an actual stored double, so
    DuckDB's quantile_disc reproduces it bit-exactly — interpolated
    quantiles differ in last-ulp arithmetic across engines. At 100 TB
    the same plan holds (the per-key buffer is the documented memory
    cost of exact quantiles; the approximate path is percentile_approx
    and belongs to a different contract)."""
    ev = _events(spark, sf_dir)
    q = "percentile_disc({p}) WITHIN GROUP (ORDER BY value)"
    return ev.groupBy("event_type").agg(
        F.expr(q.format(p="0.5")).alias("p50"),
        F.expr(q.format(p="0.9")).alias("p90"),
        F.expr(q.format(p="0.95")).alias("p95"),
        F.expr(q.format(p="0.99")).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def agg_percentage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentage aggregate with base=20 (Percentage.scala semantics)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(A.percentage_expr("value", base=20.0))
    )


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram aggregate: log10-magnitude bins per event_type."""
    ev = _events(spark, sf_dir)
    bin_min, bin_max = A.histogram_bin_exprs("value")
    return (
        ev.select("event_type", bin_min, bin_max)
        .groupBy("event_type", "bin_min", "bin_max")
        .agg(F.count(F.lit(1)).alias("bin_count"))
    )


def agg_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExponentialMovingAverage (α=0.7) per event_type over event-time
    order."""
    return A.ema_agg(
        _events(spark, sf_dir), ["event_type"], ["ts", "event_id"], "value"
    ).withColumn("agg_ema", F.round("agg_ema", 6))


def agg_emvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExponentialMovingVariance + -StandardDeviation (α=0.7)."""
    return (
        A.emvar_agg(_events(spark, sf_dir), ["event_type"], ["ts", "event_id"], "value")
        .withColumn("agg_emvar", F.round("agg_emvar", 6))
        .withColumn("agg_emsd", F.round("agg_emsd", 6))
    )


def win_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowedAggregation(EMA): the order-dependent EMA aggregate applied
    per tumbling 1-hour window — the exact composition the reference's
    FlinkRunnerAggregateFunction runs inside window state."""
    ev = _events(spark, sf_dir)
    vals = A._sorted_values(["ts", "event_id"], "value")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("_w"), "event_type")
        .agg(vals.alias("_vals"))
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "event_type",
            F.round(A.ema_fold(F.col("_vals"), 0.7), 6).alias("agg_ema"),
        )
    )


def win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type."""
    return W.tumbling_agg(
        _events(spark, sf_dir),
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("n"), A.dsum("value", "total")],
    )


def win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes per event_type."""
    return W.sliding_agg(
        _events(spark, sf_dir),
        "ts",
        "1 hour",
        "30 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("n"), A.dsum("value", "total")],
    )


def win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) per user: session bounds + stats."""
    return W.session_agg(
        _events(spark, sf_dir),
        "ts",
        "5 minutes",
        ["user_id"],
        [F.count(F.lit(1)).alias("n"), A.dsum("value", "total")],
    )


def dedup_first_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: first event per (user_id, event_type) in event order."""
    return dedup_first(
        _events(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value"
        ),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    )


def dedup_sbf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (Stable-Bloom-Filter) dedup on the same key — the
    constant-memory streaming form; rows-only oracle (probabilistic)."""
    return dedup_sbf(
        _events(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value"
        ),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    ).select("user_id", "event_type", "event_id")


def _sbf_contract(
    kept: DataFrame, exact: DataFrame, fpr: float
) -> DataFrame:
    """Deterministic projection of the SBF dedup contract (shared by the
    batch and streaming checks — see dedup_sbf_check for the semantics).
    ``kept`` is (user_id, event_type, event_id); ``exact`` is the true
    keep-first result keyed the same way with ``first_id``."""
    joined = kept.join(exact, ["user_id", "event_type"], "left")
    stats = joined.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("first_id").isNull()
                    | (F.col("event_id") != F.col("first_id")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_non_first_kept"),
        F.countDistinct("user_id", "event_type").alias("n_kept_keys"),
        F.count(F.lit(1)).alias("n_kept_rows"),
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_keys"))
    return stats.crossJoin(n_exact).select(
        "n_exact_keys",
        "n_non_first_kept",
        (F.col("n_kept_rows") - F.col("n_kept_keys")).cast("long").alias(
            "n_multi_kept_keys"
        ),
        (
            (F.col("n_exact_keys") - F.col("n_kept_keys"))
            <= F.ceil(F.lit(3 * fpr) * F.col("n_exact_keys"))
        ).alias("fp_within_bound"),
    )


def dedup_sbf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-oracled verification of the probabilistic SBF dedup.

    The kept-row SET is probabilistic (false positives may drop keys), but
    the Stable Bloom Filter's CONTRACT is deterministic and checkable:

    * every kept row is its key's true first occurrence — an FP drops all
      occurrences of a key, it can never surface a later one
      (n_non_first_kept = 0);
    * no key is ever kept twice — a kept first occurrence inserts the key,
      so every later occurrence reads seen (n_multi_kept_keys = 0);
    * keys lost to false positives stay within 3× the configured FPR
      (fp_within_bound = true);
    * n_exact_keys anchors the check to the data (computed independently
      by both engines), so the oracle row is not a constant tautology.

    The FPR is imported from the operator (operators/dedup.SBF_FPR), so
    the bound can never silently drift from the configuration under test.

    This is the deterministic projection of SBFDeduplicationFilter.scala's
    guarantee set — the part of an approximate operator an exact
    cross-engine oracle CAN pin down."""
    from flinkrunner_spark.operators.dedup import SBF_FPR

    kept = dedup_sbf_q(spark, sf_dir)  # user_id, event_type, event_id
    exact = dedup_first_q(spark, sf_dir).select(
        "user_id", "event_type", F.col("event_id").alias("first_id")
    )
    return _sbf_contract(kept, exact, SBF_FPR)


def stream_dedup_sbf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact SBF contract projection, lifted over the STREAMING
    dedup output (stream_dedup_sbf) — the streaming mirror's exact driver
    signal. The streaming operator dedups on the identical composite key
    and SBF geometry as the batch one, so the contract row (and its
    DuckDB oracle) is shared verbatim; only the kept-row producer differs
    (bucketed applyInPandasWithState vs per-partition mapInPandas)."""
    from flinkrunner_spark.operators.dedup import SBF_FPR

    kept = stream_dedup_sbf(spark, sf_dir)  # user_id, event_type, event_id
    exact = dedup_first_q(spark, sf_dir).select(
        "user_id", "event_type", F.col("event_id").alias("first_id")
    )
    return _sbf_contract(kept, exact, SBF_FPR)


def filter_by_control_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filterByControlSource on events: 'signup' activates a user's stream,
    'error' deactivates it; other event types are the data stream."""
    ev = _events(spark, sf_dir)
    control = ev.filter(F.col("event_type").isin("signup", "error")).withColumn(
        "active", F.col("event_type") == "signup"
    )
    data = ev.filter(~F.col("event_type").isin("signup", "error")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return filter_by_control(control, data, "user_id", "ts", "event_id")


def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase picks up the user's latest click at or
    before the purchase time."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("c_user"),
    )
    return asof_join_merge(
        purchases,
        clicks,
        left_key="user_id",
        right_key="c_user",
        left_ts="ts",
        right_ts="click_ts",
        right_tiebreak="click_id",
        right_cols=["click_id", "click_ts"],
    )


def enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast enrichment of events with customer attributes (the Spark
    form of EnrichmentAsyncFunction's cached lookup)."""
    ev = _events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    return enrich_broadcast(
        ev,
        cust,
        ev["user_id"] == cust["c_custkey"],
        "left",
        ["event_id", "user_id", "event_type", "c_name", "c_mktsegment"],
    )


def connected_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connectedSource analog: two typed sources merged into one tagged
    stream (StreamJob.connectedSource — an event on the connected stream
    is from either input, distinguishable by tag)."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    return purchases.withColumn("src", F.lit("purchase")).unionByName(
        clicks.withColumn("src", F.lit("click"))
    )


def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type user cardinality (baseline for the HLL estimate)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def stream_win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming tumbling window run end-to-end (file stream →
    watermark → windowed agg → memory sink) over FOUR event-time-ordered
    micro-batches; complete-mode window aggregates are micro-batch-split
    independent (window state accumulates across triggers), so the result
    equals the batch ``win_tumbling`` plan and shares its exact oracle."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, splits=4)
    return P.run_to_memory(
        spark, P.streaming_tumbling_agg(ev), "q_stream_win_tumbling",
        mode="complete",
    )


def stream_win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming session windows run end-to-end over FOUR
    micro-batches; session-window merging across triggers converges to
    the batch result, so it shares ``win_session``'s exact oracle."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, splits=4)
    return P.run_to_memory(
        spark, P.streaming_session_agg(ev), "q_stream_win_session",
        mode="complete",
    )


def stream_win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming sliding windows (1h every 30min) end-to-end
    over FOUR micro-batches; complete-mode window state accumulates
    across triggers, so it shares ``win_sliding``'s exact oracle."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, splits=4)
    return P.run_to_memory(
        spark, P.streaming_sliding_agg(ev), "q_stream_win_sliding",
        mode="complete",
    )


APPEND_LATENESS = "30 minutes"


def stream_win_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows in APPEND output mode — the at-scale streaming
    configuration: a window emits exactly once, when the watermark
    (max event time − 30 min lateness) passes its end, and its state is
    evicted. Complete mode re-emits the whole result every trigger —
    fine for a bounded mirror, a non-starter at 100 TB stream volume;
    append mode's sink traffic is one immutable row per closed window.

    Exact oracle: the batch windows whose end ≤ final watermark — on the
    4-split event-time-ordered input every window except the open tail
    is closed by end of stream."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, lateness=APPEND_LATENESS, splits=4)
    return P.run_to_memory(
        spark,
        P.streaming_tumbling_agg(ev),
        "q_stream_win_tumbling_append",
        mode="append",
    )


def stream_win_sliding_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h every 30 min) in append mode with watermark
    finalization; same closed-window-subset oracle as the tumbling
    variant."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, lateness=APPEND_LATENESS, splits=4)
    return P.run_to_memory(
        spark,
        P.streaming_sliding_agg(ev),
        "q_stream_win_sliding_append",
        mode="append",
    )


def stream_win_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-min gap) in append mode: a session emits once
    the watermark passes its end (no further event can extend it), state
    evicted. Oracle: batch sessions whose end ≤ final watermark."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, lateness=APPEND_LATENESS, splits=4)
    return P.run_to_memory(
        spark,
        P.streaming_session_agg(ev),
        "q_stream_win_session_append",
        mode="append",
    )


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run end-to-end: purchases matched to
    same-user clicks within a 1-hour lookback, both sides unbounded
    streams with watermarks. Exact SQL oracle (bounded inner join)."""
    from flinkrunner_spark.streaming import pipelines as P

    ev1 = P.stream_events(spark, sf_dir, lateness="2 hours", splits=4)
    ev2 = P.stream_events(spark, sf_dir, lateness="2 hours", splits=4)
    purchases = ev1.filter(F.col("event_type") == "purchase")
    clicks = ev2.filter(F.col("event_type") == "click")
    return P.run_to_memory(
        spark,
        P.streaming_interval_join(purchases, clicks),
        "q_stream_interval_join",
    )


def stream_win_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed EMA (order-dependent aggregate under incremental
    window state) run end-to-end over FOUR micro-batches; the per-window
    collect_list state accumulates in arrival order but the fold sorts at
    emission, so the result is arrival-order-independent by construction
    and shares ``win_ema``'s exact oracle."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, splits=4)
    return P.run_to_memory(
        spark, P.streaming_ema_agg(ev), "q_stream_win_ema", mode="complete"
    )


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment run end-to-end over FOUR
    micro-batches; stateless per micro-batch (the dimension is static),
    so it shares ``enrich_events``'s exact oracle."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, splits=4)
    cust = load_table(spark, sf_dir, "customer")
    return P.run_to_memory(
        spark, P.streaming_enrich(ev, cust), "q_stream_enrich"
    )


def stream_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-state running aggregate (transformWithStateInPandas) run
    end-to-end; the LAST emitted row per key carries the final running
    totals, which must equal the batch groupBy. Not registered in
    queries(): the TWS python worker needs google.protobuf, absent in
    this environment (streaming/pipelines.streaming_running_agg raises a
    clear gate error) — tests cover both branches."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir)
    sink = P.run_to_memory(
        spark, P.streaming_running_agg(ev), "q_stream_running_agg"
    )
    final = F.max(F.struct("n", "total")).alias("s")
    return (
        sink.groupBy("event_type")
        .agg(final)
        .select("event_type", F.col("s.n").alias("n"), F.col("s.total").alias("total"))
    )


def stream_dedup_sbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming constant-memory dedup (SBF keyed state via
    applyInPandasWithState) run end-to-end, on the SAME composite key and
    SBF geometry as the batch ``dedup_sbf_q`` — a true mirror, so the
    exact contract projection (stream_dedup_sbf_check) applies to this
    very output. Kept-row set is probabilistic — rows-only oracle here;
    the contract row is the exact signal.

    Runs as a single availableNow trigger (splits=1) deliberately: the
    SBF's stability property *forgets* old keys by design, so across many
    micro-batches a decayed key may legitimately be re-kept — the
    keep-first projection is exact only within one filter pass, which is
    also true of the reference's per-operator-instance filter."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, lateness="365 days")
    return P.run_to_memory(
        spark,
        P.streaming_dedup_sbf(ev, dedupe_col=("user_id", "event_type")),
        "q_stream_dedup_sbf",
    ).select("user_id", "event_type", "event_id")


def hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog per-type user cardinality using the faithful register
    implementation (algorithms/hll.py), merged distributively."""
    from flinkrunner_spark.algorithms.hll import hll_cardinality_by_key

    return hll_cardinality_by_key(
        _events(spark, sf_dir), key="event_type", value="user_id", b=12
    )


def stream_filter_by_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming control-gating run end-to-end (keyed boolean state via
    applyInPandasWithState) over FOUR event-time-ordered micro-batches
    (maxFilesPerTrigger=1): gate state genuinely persists across batch
    boundaries, and because arrival order equals event-time order the
    batch as-of `filter_by_control` oracle holds exactly."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, lateness="365 days", splits=4)
    return P.run_to_memory(
        spark,
        P.streaming_filter_by_control(ev),
        "q_stream_filter_by_control",
    )


def stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact keep-first dedup run end-to-end (per-key boolean
    state) over FOUR event-time-ordered micro-batches: the first arrival
    across batches IS the (ts, event_id)-minimum (earlier batches hold
    strictly earlier timestamps; equal timestamps never straddle a batch
    boundary), so the batch `dedup_first` oracle holds exactly while the
    keyed state demonstrably survives batch transitions."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, lateness="365 days", splits=4).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return P.run_to_memory(
        spark,
        P.streaming_dedup_keep_first(ev),
        "q_stream_dedup_first",
    )


def stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of join run end-to-end: O(1) keyed state (latest
    click per user) instead of a stream-stream join buffer, over FOUR
    event-time-ordered micro-batches — right-state carries across batch
    boundaries and arrival order equals event-time order, so the batch
    `asof_join` oracle holds exactly."""
    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, lateness="365 days", splits=4)
    return P.run_to_memory(
        spark, P.streaming_asof_join(ev), "q_stream_asof_join"
    )


def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL run end-to-end: per-key register state updated every
    micro-batch (streaming/pipelines.streaming_hll). Register max-merge
    is batch-order-independent, so the final (max-seq) row per key equals
    the batch `hll_users` result exactly — same oracle."""
    from pyspark.sql.window import Window

    from flinkrunner_spark.streaming import pipelines as P

    ev = P.stream_events(spark, sf_dir, lateness="365 days", splits=4)
    sink = P.run_to_memory(spark, P.streaming_hll(ev), "q_stream_hll_users")
    w = Window.partitionBy("event_type").orderBy(F.col("seq").desc())
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_type", "n_users_hll")
    )
