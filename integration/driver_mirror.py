"""Local rehearsal of the driver's correctness gate.

Runs every queries() key (or the first-50 cap with --cap, or named keys)
through ``flinkrunner_spark.parity.check`` against its DuckDB oracle at
sf0.01 (``SPARK_GRAFT_SF_DIR`` overrides), printing one line per key.

    python integration/driver_mirror.py [--cap] [key ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> int:
    import __spark_entry__ as E
    from flinkrunner_spark import get_spark, parity

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args = [a for a in sys.argv[1:] if a != "--cap"]
    cap_only = "--cap" in sys.argv[1:]

    spark = get_spark("driver-mirror")
    con = parity.duck(sf)
    queries = E.queries()
    oracles = E.oracle_sql()
    keys = args or list(queries)
    if cap_only and not args:
        keys = keys[:50]
    bad = []
    for i, key in enumerate(keys):
        rec = parity.check(spark, con, queries[key], oracles.get(key), sf)
        head = f"[{i+1}/{len(keys)}] {key}:"
        if key not in oracles and rec["spark_rows"] is not None:
            print(
                f"{head} rows-only ({rec['spark_rows']} rows, "
                f"spark_hash {rec['spark_hash']})"
            )
        elif rec["oracle_rows"] is None:
            print(f"{head} {rec['err']}")
        else:
            status = "OK" if parity.passed(rec) else "FAIL"
            print(
                f"{head} {status} (rows {rec['spark_rows']}/{rec['oracle_rows']}, "
                f"cols {rec['schema_match']}, hash {rec['hash_match']})"
            )
            if "diff" in rec:
                print(f"    first differing rows: {rec['diff']}")
        if not parity.passed(rec):
            bad.append(key)
    spark.stop()
    print(f"\n{len(keys) - len(bad)}/{len(keys)} green; failures: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
