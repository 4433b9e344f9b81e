"""The two workloads. Each takes a ``Run`` (session, inputs, spans,
counters) and fills ``run.metrics`` (end to end), ``run.layers`` (per
layer) and ``run.report`` (the workload's own named figures).

Every timed operation is checked: its collected result is hashed against
the key's DuckDB ``oracle_sql()`` result, computed untimed beforehand. An
operation that raises or mismatches counts as failed and stays in the loop.
"""

from __future__ import annotations

import glob
import json
import os
import random
import subprocess
import sys
import time

import harness as H

# batch_sql: class A is the SQL keys (TPC-H forms from plans.analytics and
# FlinkRunner batch operators from plans.events); at this input size their
# time is per-query fixed cost and barely moves with the data. Class B is
# the LLM-curation keys (llm.*, JVM plans: regex PII redaction, text quality
# signals, a brute-force cosine scan) over a corpus large enough that
# per-row work is most of their time.
SQL_KEYS = [
    "q1_pricing",
    "q6_forecast",
    "agg_basic",
    "win_session",
    "dedup_first",
]
LLM_TEXT = ["docs_pii_redact", "docs_quality"]
LLM_VEC = ["emb_knn"]
LLM_KEYS = LLM_TEXT + LLM_VEC
CLASSES = {"a": SQL_KEYS, "b": LLM_KEYS}
# warm passes per class at least: the class figures are medians over them
MIN_PASSES = {"a": 8, "b": 3}
RELEASE = ["dedup", "similarity", "pruning", "lm", "sketches", "collocations", "dsir"]

# stream_events catch-up drains, named after the batch key whose oracle
# their result must equal
DRAINS = ["win_tumbling", "dedup_first"]
PHASES = [
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets", "triggerExecution",
]
# the live feed: a fixed rate for ``--seconds``; 10 s or more give the 100
# latency samples a p90 needs
LIVE_FILES_PER_S = 10
LIVE_EVENTS_PER_S = 1000


def release_caches() -> None:
    """Drop every ``llm.*`` memo registry, so a pass re-executes its plans
    instead of reading frames an earlier pass persisted."""
    import importlib

    for m in RELEASE:
        importlib.import_module(f"flinkrunner_spark.llm.{m}").release_caches()


def module_of(fn) -> str:
    mod = fn.__module__.split(".")
    return ".".join(mod[-2:]) if mod[-2] == "plans" else "llm." + mod[-1]


# ---------------------------------------------------------------- closed loop


def timed_op(run, key: str, traced: bool) -> float | None:
    """Run one ``queries()`` key to a collected result; return its latency,
    or None when it raised or did not match its oracle. Traced, the call
    is split into spans ``<layer>.build`` (the ``queries()[key]`` call),
    ``<layer>.plan`` (the executed plan) and ``<layer>.exec`` (collecting
    every output column)."""
    fn = run.queries[key]
    layer = module_of(fn)
    run.attempted += 1
    try:
        with run.spans.span("op", key=key) as op:
            if traced:
                with run.spans.span(layer + ".build", key=key):
                    df = fn(run.spark, run.data_dir)
                with run.spans.span(layer + ".plan", key=key):
                    df._jdf.queryExecution().executedPlan()
                with run.spans.span(layer + ".exec", key=key):
                    pdf = df.toPandas()
            else:
                pdf = fn(run.spark, run.data_dir).toPandas()
    except Exception as e:  # noqa: BLE001 - a failing key stays in the loop
        run.fail(key, f"{type(e).__name__}: {str(e)[:200]}")
        return None
    if H.frame_hash(pdf) != run.expected[key]:
        run.fail(key, "oracle mismatch")
        return None
    return op.seconds


def closed_loop(run) -> dict:
    """A cold pass over every key, then warm passes of one class at a time.

    The next warm pass goes to the class with the least warm time so far
    among those short of ``MIN_PASSES`` (among all, once none is), until
    every class has its passes and ``run.seconds`` have passed. Key order
    is shuffled per pass from the seed, and every memo registry is released
    before each pass. Returns the cold pass time, the per-class pass sums
    (operation latencies only; a pass with a failed operation is left out
    of these figures), every warm latency per key, and the warm phase's
    completed operations and wall time."""
    rng = random.Random(run.seed)
    out = {
        "sums": {c: [] for c in CLASSES},
        "lat": {k: [] for ks in CLASSES.values() for k in ks},
        "ops": 0,
    }

    def one_pass(keys: list[str], traced: bool) -> dict[str, float] | None:
        order = list(keys)
        rng.shuffle(order)
        release_caches()
        lats = [timed_op(run, k, traced) for k in order]
        if None in lats:
            return None
        return dict(zip(order, lats))

    def untraced(cls: str) -> None:
        # the tracing baseline: a pass without spans or the phase split
        run.spans.enabled = False
        lats = one_pass(CLASSES[cls], False)
        run.spans.enabled = True
        if lats:
            out["untraced"][cls].append(sum(lats.values()))

    run.mark_first_timed()
    with run.spans.span("pass", kind="cold"):
        t0 = time.perf_counter()
        one_pass([k for ks in CLASSES.values() for k in ks], run.trace)
        out["cold_s"] = time.perf_counter() - t0
    out["untraced"] = {c: [] for c in CLASSES}
    spent = {c: 0.0 for c in CLASSES}
    done = {c: 0 for c in CLASSES}
    t0 = time.perf_counter()
    while True:
        short = [c for c in CLASSES if done[c] < MIN_PASSES[c]]
        if not short and time.perf_counter() - t0 >= run.seconds:
            break
        cls = min(short or CLASSES, key=lambda c: spent[c])
        p0, e0 = time.perf_counter(), time.time()
        with run.spans.span("pass", kind="warm", cls=cls):
            lats = one_pass(CLASSES[cls], run.trace)
        spent[cls] += time.perf_counter() - p0
        run.windows.append((e0, time.time()))
        done[cls] += 1
        if run.trace:
            untraced(cls)
        if lats is not None:
            out["sums"][cls].append(sum(lats.values()))
            out["ops"] += len(lats)
            for k, v in lats.items():
                out["lat"][k].append(v)
    out["warm_s"] = time.perf_counter() - t0
    out["passes"] = done
    return out


LAYER_CLASS = {"plans": "a", "llm": "b"}


def layer_phases(run, passes: dict[str, int]) -> None:
    """Per-layer build/plan/exec self seconds per warm pass of the layer's
    class, and each class's build/plan/exec shares for the report."""
    recs = run.spans.records
    warm, parent = set(), {r["id"]: r["parent"] for r in recs}
    for r in recs:
        p = r["parent"]
        while p is not None and p not in warm:
            p = parent[p]
        if p is not None or (r["name"] == "pass" and r.get("kind") == "warm"):
            warm.add(r["id"])
    split: dict[str, dict[str, float]] = {c: {} for c in CLASSES}
    for name, t in H.self_times([r for r in recs if r["id"] in warm]).items():
        phase = name.rsplit(".", 1)[-1]
        cls = LAYER_CLASS.get(name.split(".", 1)[0])
        if cls is None or phase not in ("build", "plan", "exec"):
            continue
        run.layers[name + "_s"] = t / passes[cls]
        split[cls][phase] = split[cls].get(phase, 0.0) + t
    for cls, ph in split.items():
        total = sum(ph.values())
        run.report[f"class_{cls}_phase_share"] = {
            k: round(v / total, 3) for k, v in sorted(ph.items())
        }


def batch_sql(run) -> None:
    res = closed_loop(run)
    sums = res["sums"]
    class_a_s = H.median(sums["a"])
    class_b_s = H.median(sums["b"])
    throughput = res["ops"] / res["warm_s"]
    run.metrics.update(
        cold_s=res["cold_s"],
        throughput_per_s=throughput,
        class_a_s=class_a_s,
        class_b_s=class_b_s,
    )
    sql = [x for k in SQL_KEYS for x in res["lat"][k]]
    sql_qps = len(sql) / sum(sql) if sql else 0.0
    run.named("ops_per_s", throughput, "1/s", ops=res["ops"], warm_s=res["warm_s"])
    run.named("sql_qps", sql_qps, "1/s", samples=len(sql))
    run.named("sql_p50_s", H.percentile(sql, 50), "s", samples=len(sql))
    run.named("sql_p90_s", H.percentile(sql, 90), "s", samples=len(sql))
    run.named("sql_cold_s", res["cold_s"], "s", keys=len(SQL_KEYS) + len(LLM_KEYS))
    for name, keys, n in (
        ("llm_docs_per_s", LLM_TEXT, run.n_docs),
        ("llm_vecs_per_s", LLM_VEC, run.n_vecs),
    ):
        t = sum(H.median(res["lat"][k]) for k in keys)
        run.named(name, n * len(keys) / t if t else 0.0, "1/s")
    run.report["warm_passes"] = res["passes"]
    if run.trace:
        layer_phases(run, res["passes"])
        traced = class_a_s + class_b_s
        base = sum(H.median(res["untraced"][c]) for c in CLASSES)
        run.layers["bench.tracing_overhead_share"] = (traced - base) / base


# ---------------------------------------------------------------- streaming


def events_stream(spark, path: str, lateness: str, max_files: int | None = None):
    from flinkrunner_spark.streaming import pipelines as P

    reader = spark.readStream.schema(P.EVENTS_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(path).withWatermark("ts", lateness)


def drain(run, name: str, src: str):
    """One catch-up drain through the ``streaming.pipelines`` builders, as
    the matching ``stream_*`` key composes them, over the backlog at
    ``src`` (one event-time-ordered file per micro-batch). Returns the
    collected result."""
    from flinkrunner_spark.streaming import pipelines as P

    spark = run.spark
    if name == "win_tumbling":
        ev = events_stream(spark, src, "10 minutes", 1)
        out = P.run_to_memory(
            spark, P.streaming_tumbling_agg(ev), "bench_tumbling", mode="complete"
        )
    elif name == "dedup_first":
        ev = events_stream(spark, src, "365 days", 1).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        out = P.run_to_memory(spark, P.streaming_dedup_keep_first(ev), "bench_dedup")
    else:
        raise KeyError(name)
    return out.toPandas()


class Progress:
    """Collects ``StreamingQueryProgress`` JSON per query id."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        store: dict[str, list[dict]] = {}
        self.by_query = store

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                store.setdefault(p["id"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def close(self, spark) -> None:
        spark.streams.removeListener(self.listener)


def batch_end_s(p: dict) -> float:
    """Epoch seconds at which a micro-batch ended: trigger start plus its
    ``triggerExecution`` duration."""
    import datetime as dt

    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def batch_phase_layers(run, prefix: str, progress: list[dict]) -> None:
    """Batch count, empty-batch share and per-batch median phase times."""
    run.layers[f"{prefix}.batches"] = len(progress)
    empty = sum(1 for p in progress if p.get("numInputRows", 0) == 0)
    run.layers[f"{prefix}.empty_batch_share"] = empty / len(progress) if progress else 0.0
    for ph in PHASES:
        run.layers[f"{prefix}.{ph}_ms"] = H.median(
            [p["durationMs"].get(ph, 0) for p in progress]
        )


def state_layers(run, progress: list[dict]) -> None:
    """State-store figures summed over the drains: rows, memory and
    partitions of each drain's last batch, commit and update time of all
    its batches."""
    acc = {"rows_total": 0, "memory_bytes": 0, "commit_ms": 0, "update_ms": 0, "partitions": 0}
    for qs in progress:
        if not qs:
            continue
        for op in qs[-1].get("stateOperators", []):
            acc["rows_total"] += op.get("numRowsTotal", 0)
            acc["memory_bytes"] += op.get("memoryUsedBytes", 0)
            acc["partitions"] += op.get("numShufflePartitions", 0)
        for p in qs:
            for op in p.get("stateOperators", []):
                acc["commit_ms"] += op.get("commitTimeMs", 0)
                acc["update_ms"] += op.get("allUpdatesTimeMs", 0)
    for k, v in acc.items():
        run.layers[f"streaming.state.{k}"] = v


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the file
    source's log in the query checkpoint (plain and compacted entries)."""
    out = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(f).split(".")[0].isdigit():
            continue
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def checked_drain(run, name: str, progress, into: list | None) -> float | None:
    """One drain, timed and checked against its oracle. With a progress
    listener, the drain's micro-batch progress is appended to ``into``."""
    seen = set(progress.by_query) if progress else set()
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        pdf = drain(run, name, run.backlog_dir)
    except Exception as e:  # noqa: BLE001 - a failing drain stays in the loop
        run.fail(name, f"{type(e).__name__}: {str(e)[:200]}")
        return None
    seconds = time.perf_counter() - t0
    if progress:
        time.sleep(0.2)  # let the listener bus deliver the last progress
        new = [q for q in progress.by_query if q not in seen]
        into.append([p for q in new for p in progress.by_query[q]])
    if H.frame_hash(pdf) != run.expected["stream_" + name]:
        run.fail(name, "oracle mismatch")
        return None
    return seconds


def stream_events(run) -> None:
    spark = run.spark
    # the progress listener is tracing machinery: untraced runs go without
    progress = Progress(spark) if run.trace else None
    rng = random.Random(run.seed)
    order = list(DRAINS)
    rng.shuffle(order)

    # (a) catch-up: drain the backlog through each builder, cold (the first
    # drain of each in this session) and then warm
    run.mark_first_timed()
    t0 = time.time()
    drain_s: dict[str, dict[str, float]] = {"cold": {}, "warm": {}}
    catchup: list[list[dict]] = []
    for kind in ("cold", "warm"):
        with run.spans.span("pass", kind=kind):
            for name in order:
                with run.spans.span("streaming.drain", key=name):
                    t = checked_drain(run, name, progress, catchup)
                if t is not None:
                    drain_s[kind][name] = t
    cold, warm = drain_s["cold"], drain_s["warm"]
    eps = {
        kind: run.n_backlog * len(d) / sum(d.values()) if d else 0.0
        for kind, d in drain_s.items()
    }
    run.metrics.update(cold_s=sum(cold.values()), throughput_per_s=eps["warm"])
    run.named("drain_eps_warm", eps["warm"], "1/s", events=run.n_backlog)
    run.named("drain_eps_cold", eps["cold"], "1/s", events=run.n_backlog)
    for kind, d in drain_s.items():
        for k, v in d.items():
            run.named(f"drain_s.{kind}.{k}", v, "s")
    if progress:
        progress.close(spark)
        for k, v in warm.items():
            run.layers[f"streaming.drain_s.{k}"] = v
        batch_phase_layers(run, "streaming.catchup", [p for qs in catchup for p in qs])
        state_layers(run, catchup)

    # (b) live, open loop
    live = live_phase(run)
    run.windows.append((t0, time.time()))
    run.metrics.update(class_a_s=live["win_p50"] or 0.0, class_b_s=live["dedup_p50"] or 0.0)
    for q in ("win", "dedup"):
        for p in ("p50", "p90"):
            run.named(f"live_{q}_{p}_s", live[f"{q}_{p}"], "s", samples=live["files"])
        run.named(f"live_{q}_batch_s", live[f"{q}_batch_s"], "s")
    run.named("gen_late_max_s", live["late_max"], "s")
    run.named("live_backlog_end", live["backlog_end"], "files")
    if run.trace:
        batch_phase_layers(run, "streaming.live", live["progress"])
        run.layers["bench.gen_late_max_s"] = live["late_max"]
        run.layers["bench.live_backlog_end"] = live["backlog_end"]
        # tracing overhead, outside the event-log window: warm tumbling
        # drains without, with and again without the progress listener and
        # spans. The event log is on for all three, so it is not priced.
        timed = []
        for traced in (False, True, False):
            run.spans.enabled = traced
            listener = Progress(spark) if traced else None
            with run.spans.span("streaming.drain", key="win_tumbling") as d:
                drain(run, "win_tumbling", run.backlog_dir)
            if listener:
                time.sleep(0.2)
                listener.close(spark)
            timed.append(d.seconds)
        run.spans.enabled = True
        base = (timed[0] + timed[2]) / 2
        run.layers["bench.tracing_overhead_share"] = (timed[1] - base) / base


def live_phase(run) -> dict:
    """Two standing queries over a directory an external generator fills
    at a fixed rate: the tumbling window (JVM state) and keep-first dedup
    (Python state). A file's latency runs from its due time to the end of
    the micro-batch that read it."""
    from flinkrunner_spark.streaming import pipelines as P

    spark = run.spark
    src = os.path.join(run.work, "live", "in")
    os.makedirs(src)
    files_per_s = LIVE_FILES_PER_S
    n_files = round(run.seconds * files_per_s)
    rows = LIVE_EVENTS_PER_S // files_per_s
    ev = events_stream(spark, src, "10 minutes")
    queries = {
        "win": (P.streaming_tumbling_agg(ev), "complete", "bench_live_win"),
        "dedup": (
            P.streaming_dedup_keep_first(
                ev.select("event_id", "ts", "user_id", "event_type", "value")
            ),
            "append",
            "bench_live_dedup",
        ),
    }
    handles, ckpts = {}, {}
    sc = spark.sparkContext
    for name, (df, mode, qname) in queries.items():
        ckpts[name] = os.path.join(run.work, "live", "ckpt-" + name)
        # one FAIR pool per standing query, so neither queues behind the
        # other's jobs
        sc.setLocalProperty("spark.scheduler.pool", name)
        handles[name] = (
            df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(mode)
            .option("checkpointLocation", ckpts[name])
            .start()
        )
    sc.setLocalProperty("spark.scheduler.pool", None)
    # start the schedule once both queries have run their first batch
    deadline = time.time() + 30
    while time.time() < deadline and not all(
        h.lastProgress for h in handles.values()
    ):
        time.sleep(0.05)
    manifest = os.path.join(run.work, "live", "manifest.json")
    start = time.time() + 0.5
    gen = subprocess.Popen(
        [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "livegen.py"),
            src,
            manifest,
            str(run.seed),
            repr(start),
            str(n_files),
            str(rows),
            str(files_per_s),
        ]
    )
    run.rss.exclude.add(gen.pid)
    gen.wait(timeout=run.seconds + 60)
    gen_done = time.time()
    with open(manifest) as fh:
        log = json.load(fh)
    names = [r["file"] for r in log]
    # wait for both queries to consume every file
    deadline = time.time() + 30
    while time.time() < deadline:
        if all(set(names) <= set(file_batches(c)) for c in ckpts.values()):
            break
        time.sleep(0.1)
    for h in handles.values():
        h.processAllAvailable()
    time.sleep(0.3)
    for h in handles.values():
        h.stop()

    due = [r["due"] for r in log]
    out = {"files": len(names), "progress": [], "backlog_end": 0, "shortfall": {}}
    out["late_max"] = max(r["published"] - r["due"] for r in log)
    for name, h in handles.items():
        prog = [json.loads(p.json) for p in h.recentProgress]
        ends = {p["batchId"]: batch_end_s(p) for p in prog}
        fb = file_batches(ckpts[name])
        done = [ends.get(fb.get(f)) for f in names]
        lats = [e - d for d, e in zip(due, done) if e is not None]
        batch_s = H.median(
            [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in prog if p.get("numInputRows")]
        )
        out[name + "_p50"] = H.percentile(lats, 50)
        out[name + "_p90"] = H.percentile(lats, 90)
        out[name + "_batch_s"] = batch_s
        out["backlog_end"] = max(out["backlog_end"], H.backlog_at(done, gen_done))
        out["shortfall"][name] = H.live_shortfall(due, done, gen_done, batch_s, files_per_s)
        out["progress"] += prog

    # correctness of the live outputs against DuckDB over the files written
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}/part-*.parquet')"
    )
    for name, key in (("win", "win_tumbling"), ("dedup", "dedup_first")):
        run.attempted += 1
        qname = queries[name][2]
        got = H.frame_hash(spark.sql(f"SELECT * FROM {qname}").toPandas())
        if got != H.frame_hash(con.execute(run.oracles[key]).fetchdf()):
            run.fail("live_" + name, "oracle mismatch")
    con.close()
    # the feed was not sustained if the generator fell behind its schedule
    # or either query fell behind the feed
    run.attempted += 1
    why = [f"{q}: {w}" for q, w in out["shortfall"].items() if w]
    if out["late_max"] > H.MAX_GEN_LATE_S:
        why.append(f"generator {out['late_max']:.3f} s late")
    if why:
        run.fail("live", "rate not sustained: " + "; ".join(why))
    return out
