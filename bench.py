"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "queries_warm": {name: sec}, "value_warm": sec,
"sf": ...}.

Each query is executed to completion with a count() action (materializes
the whole result without driver-side collection overhead).

Two passes per query set: COLD (first execution — pays plan compilation +
whole-stage codegen, the number comparable across rounds at ±3s noise) and
WARM (second execution — codegen/classloading amortized, the number that
tracks actual executed-plan cost round over round). Set
SPARK_GRAFT_BENCH_PASSES=1 to skip the warm pass.

Honest-measurement rules (r3 verdict #4):
* ``memo.release("llm")`` frees every memoized ``llm.*`` frame between
  passes, so warm numbers measure executed plans, not cache hits. The
  input tables' memoized schemas (``tables.schema``) stay, as they do in
  a long-lived session, so warm reads start no schema-inference job;
* ``memo.release("llm.dedup")`` also runs before ``docs_pipeline``
  within each pass, so the composed pipeline pays its own
  signature/cluster computation instead of reading the frames its
  alphabetical predecessors persisted. (The OTHER dedup-family keys
  intentionally share one persisted signature frame per pass — that
  single-scan reuse is the documented architecture, and the per-key
  deltas measure each operator's own marginal plan.)

The JSON line is also written to BENCH_LOCAL_r{N}.json in-repo (N inferred
from existing CORRECTNESS_r*.json artifacts, override with
SPARK_GRAFT_ROUND) so round-over-round cold comparisons don't depend on
the driver's tail buffer (r3 verdict #6).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from flinkrunner_spark import get_spark  # noqa: E402
from flinkrunner_spark.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark("flinkrunner-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen/parquet-footer paths so the first timed query
    # doesn't absorb session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    load_table(spark, sf_dir, "region").count()
    # ...and the STREAMING engine: the first streaming query of a session
    # pays several seconds of micro-batch-engine/state-store init, which
    # otherwise lands on whichever stream_* key sorts first and makes its
    # cold number incomparable across rounds
    import shutil
    import tempfile

    warm_dir = tempfile.mkdtemp(prefix="bench-stream-warm-")
    try:
        spark.range(10).write.mode("overwrite").parquet(warm_dir + "/in")
        wq = (
            spark.readStream.schema("id long")
            .parquet(warm_dir + "/in")
            .writeStream.format("memory")
            .queryName("_bench_stream_warm")
            .option("checkpointLocation", warm_dir + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        wq.awaitTermination(60)
        wq.stop()
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    queries = entrymod.queries()
    from flinkrunner_spark import memo

    def run_pass() -> dict[str, float]:
        timings: dict[str, float] = {}
        for name, fn in sorted(queries.items()):
            if name == "docs_pipeline":
                # the composed pipeline must pay its own signature/CC
                # computation, not read its predecessors' persisted frames
                # (dedup-family only: the similarity caches share nothing
                # with the pipeline's stages and belong to other keys)
                memo.release("llm.dedup")
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 3)
        return timings

    def _is_connector(name: str) -> bool:
        # keys whose runtime is dominated by loopback wire-protocol
        # harnesses (or storage-format write/read cycles), not by a
        # query plan — reported as a separate subtotal so the analytics
        # trend stays readable round-over-round (r6 verdict #6)
        return "roundtrip" in name or name in (
            "iceberg_pruned_scan",
            "iceberg_transform_pruned",
            "stream_curation_to_iceberg",
        )

    def _subtotals(timings: dict[str, float]) -> tuple[float, float]:
        conn = sum(v for k, v in timings.items() if _is_connector(k))
        return round(sum(timings.values()) - conn, 3), round(conn, 3)

    # resolve the round number UP FRONT and stamp it into the JSON: the
    # r7 verdict flagged two rounds of off-by-one confusion between
    # driver rounds and local passes — artifacts are now self-describing
    # (round + pass counter + wall-clock) regardless of their filename.
    repo = os.path.dirname(os.path.abspath(__file__))
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is None:
        import re

        ns = [
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", f))
        ]
        rnd = str(max(ns, default=0) + 1)
    rnd = int(rnd)
    import re as _re

    # 1 + MAX existing index, not 1 + count: a sparse pass sequence
    # (pass2 committed without pass1) made the count collide with and
    # OVERWRITE an existing artifact (r12 session opener)
    pass_k = 1 + max(
        (
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := _re.match(
                rf"BENCH_LOCAL_r{rnd:02d}_pass(\d+)\.json$", f
            ))
        ),
        default=0,
    )

    def _host_stamp() -> dict:
        """Host-state stamp (r11/r12 verdict item): pass-to-pass swings
        of 100+s were host load, and every round burned forensics
        proving it. Load averages + MemAvailable make each artifact
        self-qualifying: compare passes with similar stamps, discount
        the rest."""
        stamp: dict = {}
        try:
            l1, l5, l15 = os.getloadavg()
            stamp.update(
                load_1m=round(l1, 2), load_5m=round(l5, 2),
                load_15m=round(l15, 2),
            )
        except OSError:
            pass
        try:
            with open("/proc/meminfo") as f:
                for ln in f:
                    if ln.startswith("MemAvailable:"):
                        stamp["mem_available_kb"] = int(ln.split()[1])
                        break
        except OSError:
            pass
        # single-thread CPU calibration (r13): this sandbox is a VM
        # whose effective CPU speed swings 2-4x with HYPERVISOR load
        # that os.getloadavg() cannot see (measured: the same fixed
        # python loop 0.5s ... 2.0s across one afternoon while local
        # load was ~0). A fixed-work loop timed at pass start/end makes
        # each artifact self-qualifying for that too: ratios between
        # passes with similar cal_s stamps are real, the rest are host.
        t0 = time.perf_counter()
        acc = 0
        for i in range(10_000_000):
            acc += i
        stamp["cal_s"] = round(time.perf_counter() - t0, 3)
        # cumulative hypervisor STEAL jiffies (/proc/stat field 8): the
        # cal loop only sees slowdowns while IT runs; the steal delta
        # between two stamps quantifies how much CPU the hypervisor took
        # from the whole pass (r13: warm-pass spikes on python-worker
        # keys tracked steal bursts, not plan changes).
        try:
            with open("/proc/stat") as f:
                stamp["steal_jiffies"] = int(f.readline().split()[8])
            # record the jiffy unit alongside the counter (r13 advisor):
            # cross-host/kernel comparisons need USER_HZ to derive cpu-s
            stamp["clk_tck"] = os.sysconf("SC_CLK_TCK")
        except (OSError, IndexError, ValueError):
            pass
        return stamp

    host_start = _host_stamp()
    cold = run_pass()
    host_after_cold = _host_stamp()
    analytics_total, connector_total = _subtotals(cold)
    out = {
        "metric": "total_query_runtime",
        "value": round(sum(cold.values()), 3),
        "unit": "sec",
        "round": rnd,
        "pass": pass_k,
        "written_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "analytics_total": analytics_total,
        "connector_total": connector_total,
        "queries": cold,
        "sf": sf,
        "host_start": host_start,
        "host_after_cold": host_after_cold,
    }
    if os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2") != "1":
        memo.release("llm")  # warm must re-execute, not cache-hit
        warm = run_pass()
        out["queries_warm"] = warm
        out["value_warm"] = round(sum(warm.values()), 3)
        aw, cw = _subtotals(warm)
        out["analytics_total_warm"] = aw
        out["connector_total_warm"] = cw
    out["host_end"] = _host_stamp()
    line = json.dumps(out)

    # stdout contract: the driver captures only the LAST ~2000 chars of
    # stdout, so a full 88-query line truncates at the FRONT and fails to
    # parse (BENCH_r02-r04 all recorded parsed: null). Print a compact
    # line that fits whole: headline numbers + the slowest cold queries,
    # as many as fit the budget; the full per-query maps live in the
    # committed BENCH_LOCAL_r{N}.json artifact either way.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "round": rnd,
        "pass": pass_k,
        "n_queries": len(cold),
        "analytics_total": analytics_total,
        "connector_total": connector_total,
        "full_map": "BENCH_LOCAL_r{N}.json (committed in-repo)",
    }
    if "value_warm" in out:
        compact["value_warm"] = out["value_warm"]
    compact["load_start"] = host_start.get("load_1m")
    compact["load_end"] = out["host_end"].get("load_1m")
    compact["queries"] = {}
    for name, sec in sorted(cold.items(), key=lambda kv: -kv[1]):
        compact["queries"][name] = round(sec, 2)
        if len(json.dumps(compact)) > 1700:
            del compact["queries"][name]
            break
    compact["queries_shown"] = len(compact["queries"])
    print(json.dumps(compact))

    out_name = os.environ.get("SPARK_GRAFT_BENCH_OUT")  # e.g. sf1 passes
    if out_name is None:
        # one immutable file PER PASS (never overwritten — the r7
        # verdict's bookkeeping item: a later pass clobbering an earlier
        # committed one left the tree dirty and the numbering ambiguous)
        # plus the round-level name as a latest-pass alias for
        # round-over-round diffs.
        out_name = f"BENCH_LOCAL_r{rnd:02d}_pass{pass_k}.json"
        with open(
            os.path.join(repo, f"BENCH_LOCAL_r{rnd:02d}.json"), "w"
        ) as f:
            f.write(line + "\n")
    with open(os.path.join(repo, out_name), "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
