"""Repository benchmark: two workloads over the public ``queries()`` keys,
the ``streaming.pipelines`` builders and the ``llm.*`` operators, every
result checked against its DuckDB oracle.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/.work`` and removed at exit. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the ``end_to_end`` ones of BENCHMARK.json, with
``--trace 1`` the ``per_layer`` ones. The line before it is a report with
the workload's own named figures, the host stamp and any failures. See
perfbench/README.md for what each metric means per workload.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

WORKLOADS = ("batch_sql", "stream_events")
BATCH_SCALE = 0.01  # 60k lineitem, 10k events
CORPUS_ROWS = 2000  # documents and vectors before replication
LLM_FACTOR = 4  # corpus replicas: 8,000 documents, 8,000 vectors
BACKLOG_EVENTS = 80_000
BACKLOG_FILES = 4
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


class Run:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spans = H.Spans(f"{args.workload}-{args.seed}-{os.getpid()}", self.trace)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict = {"metrics": {}}
        self.expected: dict[str, str] = {}
        self.first_timed = None
        # epoch-second spans of the timed work the event log is summed over
        self.windows: list[tuple[float, float]] = []
        self.rss = H.RssSampler()

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {why}")
        print(f"FAILED {what}: {why}", file=sys.stderr)

    def named(self, name: str, value, unit: str, **extra) -> None:
        """A figure of the workload's own, printed in the report line."""
        self.report["metrics"][name] = {"value": value, "unit": unit, **extra}

    def mark_first_timed(self) -> None:
        if self.first_timed is None:
            self.first_timed = time.perf_counter()


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def configure_env(work: str, trace: bool, cpus: int) -> None:
    """Keep every file the run writes inside ``work`` and pin the session
    shape before the JVM starts."""
    for d in ("tmp", "local", "ckpt", "events"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_STREAM_CKPT_BASE=os.path.join(work, "ckpt"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.scheduler.mode": "FAIR",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(args) + f' --driver-java-options "{java}" pyspark-shell'
    )


def duck(views: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def make_inputs(run: Run) -> None:
    """Seeded inputs and the expected oracle hash of every timed key."""
    import datagen
    import workloads as W

    from flinkrunner_spark.plans.oracle_sql import ORACLES

    run.oracles = ORACLES
    data = os.path.join(run.work, "data")
    if run.workload == "stream_events":
        import numpy as np
        import pyarrow.parquet as pq

        rng = np.random.default_rng(run.seed)
        ev = datagen.events(
            rng, BACKLOG_EVENTS, 0, datagen.epoch_us(2024, 1, 1), 30 * datagen.DAY_US
        )
        run.backlog_dir = os.path.join(run.work, "backlog")
        os.makedirs(run.backlog_dir)
        step = -(-BACKLOG_EVENTS // BACKLOG_FILES)
        t0 = time.time() - BACKLOG_FILES - 1
        for i in range(BACKLOG_FILES):
            # event-time ranges in file order, mtimes in the same order: the
            # file source reads them oldest first, one per micro-batch
            p = os.path.join(run.backlog_dir, f"part-{i:05d}.parquet")
            pq.write_table(ev.slice(i * step, step), p)
            os.utime(p, (t0 + i, t0 + i))
        run.n_backlog = BACKLOG_EVENTS
        con = duck({"events": f"{run.backlog_dir}/*.parquet"})
        keys = ["stream_" + d for d in W.DRAINS]
    else:
        tabs = datagen.tables(run.seed, BATCH_SCALE, CORPUS_ROWS)
        tabs.update(datagen.replicate_corpus(tabs, LLM_FACTOR, run.seed))
        keys = W.SQL_KEYS + W.LLM_KEYS
        run.n_docs = tabs["documents"].num_rows
        run.n_vecs = tabs["embeddings"].num_rows
        datagen.write_tables(data, tabs)
        run.data_dir = data
        con = duck({t: f"{data}/{t}.parquet" for t in TABLES})
    for key in keys:
        run.expected[key] = H.frame_hash(con.execute(ORACLES[key]).fetchdf())
    con.close()


def start_session(run: Run, cpus: int):
    from flinkrunner_spark import get_spark

    with run.spans.span("session.start") as s:
        spark = get_spark("perfbench", cpus=cpus)
    run.layers["session.start_s"] = s.seconds
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(run: Run) -> None:
    """First-use work that would otherwise land in the first timed
    operation: JIT of the scan/aggregate paths, the parquet reader, and for
    streaming the micro-batch engine and a Python state function."""
    spark = run.spark
    with run.spans.span("warm_up"):
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        if run.workload == "stream_events":
            import workloads as W

            from flinkrunner_spark.streaming import pipelines as P

            src = os.path.join(run.work, "warm")
            spark.read.parquet(os.path.join(run.backlog_dir, "part-00000.parquet")).limit(
                50
            ).write.parquet(src)
            ev = W.events_stream(spark, src, "365 days").select(
                "event_id", "ts", "user_id", "event_type", "value"
            )
            P.run_to_memory(spark, P.streaming_dedup_keep_first(ev), "bench_warm").count()
        else:
            spark.read.parquet(os.path.join(run.data_dir, "region.parquet")).collect()


def stop_session(spark) -> None:
    """Stop the session and the JVM it runs in; wait for both to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def reap_children(timeout: float = 20.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.time() + timeout
    while True:
        kids = H.descendants(os.getpid(), set())[1:]
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            for pid in kids:
                try:
                    os.waitpid(pid, 0)
                except OSError:
                    pass
            return
        time.sleep(0.1)


def local1_drain_eps(run: Run) -> float:
    """Single-core reference for the drain rate: one tumbling-window drain
    on a local[1] session."""
    import workloads as W

    from flinkrunner_spark import get_spark

    run.spark.stop()
    run.spark = get_spark("perfbench-local1", cpus=1)
    t0 = time.perf_counter()
    W.drain(run, "win_tumbling", run.backlog_dir)
    return run.n_backlog / (time.perf_counter() - t0)


def measure(run: Run, cpus: int) -> None:
    """Inputs, session, warm-up and the workload; fills ``run``."""
    import workloads as W

    t0 = time.perf_counter()
    make_inputs(run)
    run.excluded_s = time.perf_counter() - t0
    import __spark_entry__ as E

    run.queries = E.queries()
    spark = None
    try:
        spark = run.spark = start_session(run, cpus)
        app_id = spark.sparkContext.applicationId
        warm_up(run)
        getattr(W, run.workload)(run)
        if run.trace and run.workload == "stream_events":
            run.layers["spark.drain_eps_local1"] = local1_drain_eps(run)
        spark = run.spark
    finally:
        if spark is not None:
            stop_session(spark)
        reap_children()
        run.rss.stop()
    if run.trace:
        log = os.path.join(run.work, "events", app_id)
        windows = [(t0 * 1000, t1 * 1000) for t0, t1 in run.windows]
        for k, v in H.parse_event_log(log, windows).items():
            run.layers["spark." + k] = v
        for part in ("jvm", "driver", "workers"):
            run.layers[f"proc.{part}_rss_peak_mb"] = run.rss.peak[part]
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        run.spans.write(os.path.join(HERE, "out", f"spans-{run.spans.run_id}.jsonl"))
    run.metrics["setup_s"] = run.first_timed - T_START - run.excluded_s
    run.metrics["peak_mem_mb"] = run.rss.peak["pss"]
    run.named("setup_s", run.metrics["setup_s"], "s")
    run.named(
        "peak_mem_mb",
        run.metrics["peak_mem_mb"],
        "MB",
        rss_peak_mb={k: round(v) for k, v in run.rss.peak.items() if k != "pss"},
    )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "flinkrunner_spark"))
    ):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2
    bench = spec()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args, work)
    run.rss.start()
    stamp = H.host_stamp()
    try:
        configure_env(work, run.trace, cpus)
        sys.path.insert(0, ROOT)
        measure(run, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    end = H.host_stamp()

    declared = bench["per_layer" if run.trace else "end_to_end"]
    values = run.layers if run.trace else run.metrics
    if not run.trace:
        missing = [m["name"] for m in declared if not values.get(m["name"])]
        if missing:
            run.fail("metrics", f"not measured: {missing}")
    run.named("failed_share", run.failed / max(run.attempted, 1), "share")
    run.report.update(
        workload=args.workload,
        seed=args.seed,
        cpus=cpus,
        failures=run.failures,
        stamp_start=stamp,
        stamp_end=end,
        steal_jiffies_delta=end["steal_jiffies"] - stamp["steal_jiffies"],
    )
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    print(json.dumps({"report": run.report}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": max(run.attempted, 1),
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        code = main(sys.argv[1:])
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else 1
    except BaseException:
        import traceback

        traceback.print_exc()
        code = 1
    # py4j's callback server thread (the streaming listener) can outlive
    # the JVM it served; the JVM and its workers have ended by here
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
