"""Scale-up study: run the LLM operator family at 1x and Nx corpus size
and report warm executed-plan times + result row counts.

Reconstructs the r4 fixture (committed this time, so the study is
reproducible round over round): documents replicated ``--factor`` times
with offset ids — a corpus with factor-x exact duplication, the realistic
dedup stress — and embeddings replicated with small hash-decorrelated
jitter (factor near-duplicate replicas per base vector, cosine ~= 0.999
inside a replica family, so near-dup ops face factor^2-x the PAIR work by
construction).

Usage: python scale_study.py [--factor 8] [--keys k1,k2,...]
Writes the fixture under /tmp/scale_study/sfNx (rebuilt only if absent)
and prints one JSON line: {"factor": N, "ops": {key: {"t1": s, "tN": s,
"ratio": r, "rows1": n, "rowsN": n}}}.

Method: each key's plan is executed once at 1x before timing (codegen +
classloading amortized), then timed at 1x and Nx; memoized frames are
released between timings so every number is an executed plan, not a cache
hit (same honesty rule as bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from flinkrunner_spark import get_spark  # noqa: E402
from flinkrunner_spark import memo  # noqa: E402

DEFAULT_KEYS = [
    "docs_dedup_exact",
    "docs_pii_redact",
    "docs_decontaminate",
    "docs_minhash_lsh",
    "docs_repetition",
    "docs_ngram_jaccard",
    "docs_cluster_assign",
    "docs_dup_clusters",
    "emb_knn_join",
    "emb_knn_join_label",
    "emb_dup_pairs",
    "emb_dup_pairs_rhlsh",
    "rhlsh_bucket_stats",
    "emb_knn_ivf_kmeans",
    "docs_heavy_hitters",
    "docs_weighted_sample",
    "docs_pmi_bigrams",
    "stream_heavy_hitters",
    "rhlsh_recall_stats",
    "emb_dup_clusters",
    "stream_emb_dup_pairs",
    "agg_quantiles",
    "docs_remove_dup_spans",
    # r10 continuation: the pruning screens (r11: rank-boundary
    # selection over the assignment / LM frames — no group windows)
    "emb_outliers",
    "docs_ccnet_buckets",
    # r11: the dedup action report (rides the shared dup-clusters CC;
    # the kafka/iceberg lifecycle roundtrips are loopback-broker-bound
    # and stay out — their cost is the harness, not the plan; r13 note:
    # that covers the r12 additions too — kafka_ts_offsets_roundtrip,
    # stream_kafka_ts_offsets_roundtrip and hive_stats_roundtrip drain
    # a single-process loopback broker/metastore, so their 8x number
    # would measure the harness socket, like txn/rpw before them)
    "docs_dedup_report",
    # r12: the char-trigram NB langid (zero-exchange scan — the ratio
    # should track the corpus factor ~linearly, nothing superlinear)
    "docs_langid_ngram",
    # r13: the flagship curation pipeline now that it carries the NB
    # langid screen — composed exact-dedup ∘ cluster-keeper ∘ fused
    # screens; its dedup half rides the 10x-exact-duplicate corpus the
    # fixture builds, the harder (and realistic) keeper-selection case
    "docs_pipeline",
]

BASE_SF = "/root/testdata/sf0.1"
FIXTURE_ROOT = "/tmp/scale_study"
DOC_STRIDE = 10_000_000
VEC_STRIDE = 1_000_000


def build_fixture(spark, factor: int) -> str:
    """factor-x replicated corpus; idempotent (skips if already written)."""
    from pyspark.sql import functions as F

    out = f"{FIXTURE_ROOT}/sf{factor}x"
    # _OK is versioned: v2 fixtures carry events.parquet (r10 — the
    # events-table keys joined DEFAULT_KEYS in r9 but the fixture never
    # grew the table, so the sweep crashed at agg_quantiles)
    if os.path.exists(f"{out}/_OK") and os.path.exists(
        f"{out}/events.parquet"
    ):
        return out
    docs = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    reps = None
    for i in range(factor):
        r = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * DOC_STRIDE))
        reps = r if reps is None else reps.unionByName(r)
    reps.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    # jitter replica i of vec v by a deterministic +/-1e-3 per component
    # (md5-driven) so replicas are near- but not exact duplicates
    reps = None
    for i in range(factor):
        jit = F.transform(
            F.col("embedding"),
            lambda x, p: (
                x
                + (
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        ":",
                                        F.col("vec_id"),
                                        F.lit(i),
                                        p.cast("string"),
                                    )
                                ),
                                1,
                                4,
                            ),
                            16,
                            10,
                        ).cast("double")
                        / F.lit(65535.0)
                        - F.lit(0.5)
                    )
                    * F.lit(0.002 * min(i, 1))
                ).cast("float")
            ),
        )
        r = emb.withColumn(
            "vec_id", F.col("vec_id") + F.lit(i * VEC_STRIDE)
        ).withColumn("embedding", jit)
        reps = r if reps is None else reps.unionByName(r)
    reps.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    # events: K replicas at the SAME time range (a K-x denser stream —
    # the realistic shape of a busier pipeline and the harder case for
    # window state), event ids offset per replica. Loaded through
    # load_table (the events parquet carries nanos timestamps).
    from flinkrunner_spark.tables import load_table

    ev = load_table(spark, BASE_SF, "events")
    reps = None
    for i in range(factor):
        r = ev.withColumn(
            "event_id", F.col("event_id") + F.lit(i * DOC_STRIDE)
        )
        reps = r if reps is None else reps.unionByName(r)
    reps.write.mode("overwrite").parquet(f"{out}/events.parquet")
    with open(f"{out}/_OK", "w") as fh:
        fh.write("ok")
    return out


def main() -> None:
    factor = 8
    keys = DEFAULT_KEYS
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        a = args[i]
        if a.startswith("--factor"):
            if "=" in a:
                factor = int(a.split("=", 1)[1])
            else:  # the space-separated form the usage line shows
                i += 1
                factor = int(args[i])
        elif a.startswith("--keys"):
            if "=" in a:
                keys = a.split("=", 1)[1].split(",")
            else:
                i += 1
                keys = args[i].split(",")
        else:
            raise SystemExit(f"unknown argument {a!r}")
        i += 1
    spark = get_spark("flinkrunner-spark-scale-study")
    spark.sparkContext.setLogLevel("ERROR")
    big = build_fixture(spark, factor)
    qs = entrymod.queries()
    ops: dict[str, dict] = {}
    for key in keys:
        fn = qs[key]
        fn(spark, BASE_SF).count()  # pre-compile / JVM-warm
        memo.release()
        t0 = time.time()
        rows1 = fn(spark, BASE_SF).count()
        t1 = time.time() - t0
        memo.release()
        t0 = time.time()
        rows_n = fn(spark, big).count()
        tn = time.time() - t0
        memo.release()
        ops[key] = {
            "t1": round(t1, 2),
            f"t{factor}": round(tn, 2),
            "ratio": round(tn / max(t1, 1e-9), 1),
            "rows1": rows1,
            f"rows{factor}": rows_n,
        }
        print(f"# {key}: {ops[key]}", file=sys.stderr)
    print(json.dumps({"factor": factor, "ops": ops}))


if __name__ == "__main__":
    main()
