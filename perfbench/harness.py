"""Measurement helpers shared by the workloads; standard library only, so
the unit tests run without Spark.

* ``percentile`` applies the ten-samples-beyond rule: a percentile is
  reported only when at least ten samples lie beyond it.
* ``canon_hash`` is the oracle comparison: columns sorted by name, values
  stringified, rows sorted, md5.
* ``Spans`` records timed spans (name, start, end, parent, run id) in
  memory and writes them as JSON lines at the end; ``self_times`` gives
  each span name its time net of child spans.
* ``parse_event_log`` reads an uncompressed, non-rolling Spark event log.
* ``RssSampler`` tracks the peak memory of a process tree.
* ``host_stamp`` identifies the conditions a run was taken under.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict

MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float | None:
    """The ``p``-th percentile (0 < p < 100, nearest rank) of ``samples``,
    or None unless at least ``MIN_BEYOND`` samples lie above it: p50 needs
    20 samples, p90 needs 100."""
    n = len(samples)
    if n == 0 or n * (100 - p) / 100 < MIN_BEYOND:
        return None
    xs = sorted(samples)
    return xs[max(0, math.ceil(n * p / 100) - 1)]


def canon_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, every
    value stringified, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(str(row[i]) for i in order) for row in rows)
    return hashlib.md5(str(canon).encode()).hexdigest()


def frame_hash(pdf) -> str:
    """``canon_hash`` of a pandas frame."""
    return canon_hash(list(pdf.columns), pdf.itertuples(index=False))


class Spans:
    """In-memory span recorder. ``with spans.span(name):`` nests; the
    innermost open span is the parent of the next one opened."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.records:
                fh.write(json.dumps(rec) + "\n")


class _Span:
    def __init__(self, owner: Spans, name: str, attrs: dict):
        self.owner, self.name, self.attrs = owner, name, attrs
        self.seconds = 0.0

    def __enter__(self):
        self.start = time.perf_counter()
        o = self.owner
        if o.enabled:
            self.idx = len(o.records)
            o.records.append(
                {
                    "id": self.idx,
                    "name": self.name,
                    "parent": o._stack[-1] if o._stack else None,
                    "run": o.run_id,
                    "start": self.start,
                    "end": None,
                    **self.attrs,
                }
            )
            o._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.seconds = end - self.start
        o = self.owner
        if o.enabled:
            o._stack.pop()
            o.records[self.idx]["end"] = end
        return False


def self_times(records: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the
    durations of its direct children."""
    child = defaultdict(float)
    for r in records:
        if r["parent"] is not None:
            child[r["parent"]] += r["end"] - r["start"]
    out: dict[str, float] = defaultdict(float)
    for r in records:
        out[r["name"]] += (r["end"] - r["start"]) - child[r["id"]]
    return dict(out)


PYTHON_METRICS = {
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
}
PYTHON_ROWS = "number of output rows"  # on a Python node: rows it returned


def parse_event_log(path: str, windows=((0, math.inf),)) -> dict:
    """Totals over the tasks that finished inside one of ``windows``
    (``(start, end)`` pairs, epoch ms) of an uncompressed, non-rolling
    event log: stage and task counts, executor CPU/run/GC seconds, shuffle
    and spill bytes, and the Python node SQL metrics (bytes to and from
    Python workers, rows returned)."""
    out = defaultdict(float)
    stages = set()
    python_acc: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_accumulators(ev.get("sparkPlanInfo", {}), python_acc)
            if kind != "SparkListenerTaskEnd":
                continue
            info = ev.get("Task Info", {})
            finish = info.get("Finish Time", 0)
            if not any(t0 <= finish <= t1 for t0, t1 in windows):
                continue
            m = ev.get("Task Metrics") or {}
            stages.add((ev.get("Stage ID"), ev.get("Stage Attempt ID")))
            out["tasks"] += 1
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in info.get("Accumulables", []):
                name = python_acc.get(acc.get("ID"))
                if name:
                    out["python." + name] += float(acc.get("Update") or 0)
    out["stages"] = len(stages)
    return dict(out)


def _python_accumulators(plan: dict, acc: dict[int, str]) -> None:
    """Accumulator ids of the Python nodes' SQL metrics. A node is a Python
    node when it carries one of the Python worker byte metrics."""
    metrics = plan.get("metrics", [])
    if any(m.get("name") in PYTHON_METRICS for m in metrics):
        for m in metrics:
            name = m.get("name")
            if name in PYTHON_METRICS:
                acc[m["accumulatorId"]] = PYTHON_METRICS[name]
            elif name == PYTHON_ROWS:
                acc[m["accumulatorId"]] = "rows_received"
    for c in plan.get("children", []):
        _python_accumulators(c, acc)


class RssSampler(threading.Thread):
    """Samples the memory of this process and its descendants every
    ``interval`` seconds: RSS split into the JVM, this driver and the other
    Python processes (the workers), and the summed PSS. PSS splits pages
    shared after a fork between the processes sharing them, so the Python
    workers forked from one daemon are not counted once per worker.
    ``exclude`` holds pids whose subtrees are not counted."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak = {"jvm": 0.0, "driver": 0.0, "workers": 0.0, "pss": 0.0}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()

    def sample(self) -> None:
        now = {"jvm": 0.0, "driver": 0.0, "workers": 0.0, "pss": 0.0}
        me = os.getpid()
        for pid in descendants(me, self.exclude):
            rss = _kb(pid, "status", "VmRSS:") / 1024.0
            if pid == me:
                now["driver"] += rss
            elif _comm(pid) == "java":
                now["jvm"] += rss
            else:
                now["workers"] += rss
            now["pss"] += _kb(pid, "smaps_rollup", "Pss:") / 1024.0
        for k, v in now.items():
            self.peak[k] = max(self.peak[k], v)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def descendants(root: int, exclude: set[int]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo += _children(pid)
    return out


def _kb(pid: int, name: str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/{name}") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def steal_jiffies() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def calibration_s(n: int = 3_000_000) -> float:
    """Wall time of a fixed single-threaded Python loop: slows down when the
    hypervisor takes CPU from this machine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i
    return time.perf_counter() - t0


def host_stamp() -> dict:
    import pyarrow
    import pyspark

    l1, l5, l15 = os.getloadavg()
    return {
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "load": [round(l1, 2), round(l5, 2), round(l15, 2)],
        "steal_jiffies": steal_jiffies(),
        "cal_s": round(calibration_s(), 4),
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against ``xs`` (0 for fewer than two
    distinct ``xs``)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


# a consumer at share f of the feed rate falls behind by (1/f - 1) seconds
# per second of feed: 0.35 fails any consumer below ~74% of the rate, while
# the saw-tooth lag of one that keeps up tilts a 10 s window by under 0.2
MAX_LAG_SLOPE = 0.35
# files unread when the feed ends: one that keeps up leaves between one and
# two batch durations' worth
MAX_BACKLOG_BATCHES = 2.5
MAX_GEN_LATE_S = 0.5


def live_shortfall(
    due: list[float],
    done: list[float | None],
    gen_done: float,
    batch_s: float,
    files_per_s: float,
) -> str | None:
    """Why a standing query did not sustain an open-loop feed, or None.

    ``due[i]`` is the time file ``i`` was due, ``done[i]`` the end of the
    micro-batch that read it (None if never read), ``gen_done`` the time
    the feed ended and ``batch_s`` the query's median batch duration. The
    feed was not sustained if the lag (done - due) grew with due time by
    more than ``MAX_LAG_SLOPE`` s/s, or if more files were unread at
    ``gen_done`` than ``MAX_BACKLOG_BATCHES`` batch durations hold."""
    read = [(d, e) for d, e in zip(due, done) if e is not None]
    if len(read) < len(due):
        return f"{len(due) - len(read)} files never read"
    tilt = slope([d for d, _ in read], [e - d for d, e in read])
    if tilt > MAX_LAG_SLOPE:
        return f"lag grew {tilt:.2f} s per s of feed"
    backlog = backlog_at(done, gen_done)
    allowed = MAX_BACKLOG_BATCHES * batch_s * files_per_s + 1
    if backlog > allowed:
        return f"{backlog} files unread at feed end (allowed {allowed:.0f})"
    return None


def backlog_at(done: list[float | None], t: float) -> int:
    """Files not yet read at time ``t``."""
    return sum(1 for e in done if e is None or e > t)
