"""Iceberg partition TRANSFORMS (reference parity:
`model/IcebergPartitionColumn.scala:14-27` — identity/year/month/day/
hour/bucket[N]/truncate[W]) — spec-vector hash checks, Spark/driver
evaluation lockstep, hive-layout roundtrips, manifest-level pruning on
transformed values, and partition-scoped position deletes."""

from __future__ import annotations

from datetime import date, datetime, timezone

import pytest

from flinkrunner_spark import iceberg as I
from flinkrunner_spark import iceberg_transforms as T


# ---------------------------------------------------------------------------
# spec Appendix-B hash vectors (the published murmur3 requirements)
# ---------------------------------------------------------------------------


def test_spec_hash_vectors():
    assert T.hash_long(34) == 2017239379  # int and long 34
    assert T.murmur3_x86_32(b"iceberg") == 1210000089
    assert T.murmur3_x86_32(bytes([0, 1, 2, 3])) == -188683207
    days = (date(2017, 11, 16) - date(1970, 1, 1)).days
    assert days == 17486 and T.hash_long(days) == -653330422
    us = int(
        datetime(
            2017, 11, 16, 22, 31, 8, tzinfo=timezone.utc
        ).timestamp() * 1_000_000
    )
    assert T.hash_long(us) == -2047944441


def test_vectorized_murmur3_matches_scalar():
    import numpy as np

    vals = np.array(
        [0, 1, -1, 34, 17486, 2**31, -(2**31), 2**62, -(2**62),
         1510871468000000],
        dtype=np.int64,
    )
    got = T._mmh3_long_vec(vals).tolist()
    want = [T.hash_long(int(v)) for v in vals]
    assert got == want


def test_parse_spec_entry_forms():
    assert T.parse_spec_entry("lang") == T.ParsedTransform(
        "lang", "identity", None
    )
    assert T.parse_spec_entry("day(ts)") == T.ParsedTransform(
        "ts", "day", None
    )
    assert T.parse_spec_entry("bucket[8](user_id)") == T.ParsedTransform(
        "user_id", "bucket[8]", 8
    )
    # the reference's config shape (IcebergPartitionColumn.scala:33-37)
    assert T.parse_spec_entry(
        {"column": "name", "transform": "truncate[4]"}
    ) == T.ParsedTransform("name", "truncate[4]", 4)
    with pytest.raises(ValueError, match="invalid iceberg partition"):
        T.parse_spec_entry("zorder(ts)")
    with pytest.raises(ValueError, match="positive"):
        T.parse_spec_entry("bucket[0](x)")


def test_transform_validation():
    with pytest.raises(ValueError, match="does not apply"):
        T.validate_source(T.parse_spec_entry("hour(d)"), "date")
    with pytest.raises(ValueError, match="does not apply"):
        T.validate_source(T.parse_spec_entry("truncate[2](v)"), "double")


def test_ntz_transforms_are_session_timezone_proof(spark):
    """timestamp_ntz ordinals come from the LOCAL value (spec) — they
    must not move when the session timezone does (a cast to an instant
    would silently shift them)."""
    from pyspark.sql import functions as F

    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2017-11-16 22:31:08.123456' AS ts"
    )
    cols = [
        T.spark_column(T.parse_spec_entry(e), "timestamp").alias(f"c{i}")
        for i, e in enumerate(
            ["day(ts)", "hour(ts)", "year(ts)", "month(ts)",
             "bucket[16](ts)"]
        )
    ]
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        got = {}
        for tz in ("UTC", "Asia/Kolkata", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got[tz] = tuple(df.select(*cols).first())
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert len(set(got.values())) == 1, got
    day, hour, year, month, bucket = next(iter(got.values()))
    assert (day, hour, year, month) == (17486, 17486 * 24 + 22, 47,
                                        47 * 12 + 10)
    # bucket hashes the exact local-value micros (incl. the fraction)
    us = 1510871468123456
    assert bucket == (T.hash_long(us) & 0x7FFFFFFF) % 16


def test_py_value_time_ordinals():
    ts = datetime(2017, 11, 16, 22, 31, 8, tzinfo=timezone.utc)
    assert T.py_value(T.parse_spec_entry("day(ts)"), ts, "timestamptz") == 17486
    assert T.py_value(T.parse_spec_entry("year(ts)"), ts, "timestamptz") == 47
    assert (
        T.py_value(T.parse_spec_entry("month(ts)"), ts, "timestamptz")
        == 47 * 12 + 10
    )
    assert (
        T.py_value(T.parse_spec_entry("hour(ts)"), ts, "timestamptz")
        == 17486 * 24 + 22
    )
    # pre-epoch values floor toward -inf (spec ordinals)
    old = datetime(1969, 12, 31, 23, 0, 0, tzinfo=timezone.utc)
    assert T.py_value(T.parse_spec_entry("day(ts)"), old, "timestamptz") == -1
    assert T.py_value(T.parse_spec_entry("hour(ts)"), old, "timestamptz") == -1
    assert T.py_value(T.parse_spec_entry("year(ts)"), old, "timestamptz") == -1
    d = date(2017, 11, 16)
    assert T.py_value(T.parse_spec_entry("day(d)"), d, "date") == 17486


def test_py_value_truncate_and_bucket():
    tr = T.parse_spec_entry("truncate[10](v)")
    assert T.py_value(tr, 1, "long") == 0
    assert T.py_value(tr, -1, "long") == -10  # spec floors toward -inf
    assert T.py_value(T.parse_spec_entry("truncate[3](s)"), "iceberg",
                      "string") == "ice"
    b = T.parse_spec_entry("bucket[16](v)")
    assert T.py_value(b, 34, "long") == (2017239379 & 0x7FFFFFFF) % 16
    bs = T.parse_spec_entry("bucket[16](s)")
    assert T.py_value(bs, "iceberg", "string") == (1210000089 & 0x7FFFFFFF) % 16


# ---------------------------------------------------------------------------
# Spark column ↔ driver twin lockstep
# ---------------------------------------------------------------------------


def test_spark_columns_match_py_values(spark):
    from pyspark.sql import functions as F

    rows = [
        (1, 34, "iceberg", datetime(2017, 11, 16, 22, 31, 8),
         date(2017, 11, 16)),
        (2, -7, "fr", datetime(1969, 12, 31, 23, 0, 0), date(1969, 12, 31)),
        (3, 2**40, "a much longer string", datetime(2031, 1, 1, 0, 0, 1),
         date(2031, 6, 15)),
        (4, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "id int, v long, s string, ts timestamp, d date"
    )
    specs = [
        ("day(ts)", "timestamptz"),
        ("hour(ts)", "timestamptz"),
        ("year(ts)", "timestamptz"),
        ("month(ts)", "timestamptz"),
        ("day(d)", "date"),
        ("year(d)", "date"),
        ("month(d)", "date"),
        ("bucket[16](v)", "long"),
        ("bucket[16](s)", "string"),
        ("bucket[16](ts)", "timestamptz"),
        ("bucket[16](d)", "date"),
        ("truncate[10](v)", "long"),
        ("truncate[3](s)", "string"),
    ]
    sel = [F.col("id")] + [
        T.spark_column(T.parse_spec_entry(e), st).alias(f"c{i}")
        for i, (e, st) in enumerate(specs)
    ]
    got = {r["id"]: r for r in df.select(*sel).collect()}
    for rid, _v, _s, _ts, _d in rows:
        by_col = {"v": _v, "s": _s, "ts": _ts, "d": _d}
        for i, (e, st) in enumerate(specs):
            pt = T.parse_spec_entry(e)
            src = by_col[pt.column]
            if src is not None and st == "timestamptz":
                src = src.replace(tzinfo=timezone.utc)
            want = T.py_value(pt, src, st)
            assert got[rid][f"c{i}"] == want, (rid, e, got[rid][f"c{i}"], want)


# ---------------------------------------------------------------------------
# table roundtrips / pruning / deletes on transform specs
# ---------------------------------------------------------------------------


def _events_df(spark, n=400):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000)
                + F.col("id") * 9_000_000_000  # 2.5h apart → several days
            ).alias("ts"),
            F.concat(F.lit("u"), (F.col("id") % 37).cast("string")).alias(
                "user_id"
            ),
            (F.col("id") % 5).cast("int").alias("kind"),
            (F.col("id") * 1.5).alias("value"),
        )
    )


def test_transform_partitioned_roundtrip(spark, tmp_path):
    df = _events_df(spark)
    t = I.IcebergFsTable(str(tmp_path / "t"))
    t.append(df, partition_by=["day(ts)", "bucket[4](user_id)"])

    md = t.metadata()
    spec = md["partition-specs"][0]["fields"]
    assert [f["transform"] for f in spec] == ["day", "bucket[4]"]
    assert [f["name"] for f in spec] == ["ts_day", "user_id_bucket"]

    # manifests carry INT transform tuples matching the driver twin
    entries = t.live_entries()
    assert len(entries) > 1
    for e in entries:
        assert isinstance(e["partition"]["ts_day"], int)
        assert 0 <= e["partition"]["user_id_bucket"] < 4

    back = t.read(spark)
    assert sorted(back.columns) == sorted(df.columns)
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b  # nothing lost, source columns stored intact


def test_transform_partition_pruning(spark, tmp_path):
    df = _events_df(spark)
    t = I.IcebergFsTable(str(tmp_path / "t"))
    t.append(df, partition_by=["day(ts)", "bucket[4](user_id)"])

    row = df.orderBy("ts").first()
    day = T.py_value(
        T.parse_spec_entry("day(ts)"),
        row["ts"].replace(tzinfo=timezone.utc),
        "timestamptz",
    )
    bucket = T.py_value(
        T.parse_spec_entry("bucket[4](user_id)"), row["user_id"], "string"
    )
    pf = {"ts_day": day, "user_id_bucket": bucket}
    pruned = t.data_files(partition_filter=pf)
    assert 0 < len(pruned) < len(t.data_files())  # IO actually changed

    got = (
        t.read(spark, partition_filter=pf)
        .filter(f"user_id = '{row['user_id']}'")
        .count()
    )
    from pyspark.sql import functions as F

    want = (
        df.filter(F.col("user_id") == row["user_id"])
        .filter(
            T.spark_column(T.parse_spec_entry("day(ts)"), "timestamptz")
            == day
        )
        .count()
    )
    assert got == want > 0


def test_truncate_partitioned_roundtrip(spark, tmp_path):
    rows = [(i, f"word{i % 7}xyz", i * 3 - 50) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, s string, v long")
    t = I.IcebergFsTable(str(tmp_path / "t"))
    t.append(df, partition_by=["truncate[5](s)", "truncate[40](v)"])
    spec = t.metadata()["partition-specs"][0]["fields"]
    assert [f["transform"] for f in spec] == ["truncate[5]", "truncate[40]"]
    for e in t.live_entries():
        assert len(e["partition"]["s_trunc"]) <= 5
        assert e["partition"]["v_trunc"] % 40 == 0
    assert sorted(map(tuple, t.read(spark).collect())) == sorted(rows)
    # pruned read on the truncated string prefix
    pf = {"s_trunc": "word3"}
    assert 0 < len(t.data_files(partition_filter=pf)) < len(t.data_files())
    assert (
        t.read(spark, partition_filter=pf).count()
        == df.filter("s LIKE 'word3%'").count()
    )


def test_delete_where_is_partition_scoped(spark, tmp_path):
    """r6 advice: position delete files on a partitioned table must carry
    the DATA FILE'S partition tuple (spec: partition-scoped delete files)
    — an all-null tuple would make external readers (iceberg-spark,
    Trino) prune the deletes away and resurrect rows."""
    df = _events_df(spark, 200)
    t = I.IcebergFsTable(str(tmp_path / "t"))
    t.append(df, partition_by=["day(ts)", "bucket[4](user_id)"])
    n = t.delete_where(spark, "kind = 3")
    assert n == df.filter("kind = 3").count() > 0

    _data, _eq, pos = t._live()
    assert pos, "expected position delete files"
    data_tuples = {
        tuple(sorted(e["partition"].items())) for e in t._live()[0]
    }
    for p in pos:
        items = tuple(sorted(p["partition"].items()))
        # every delete file is scoped to a REAL partition of the table
        assert all(v is not None for _k, v in items), p["partition"]
        assert items in data_tuples

    # and merge-on-read still agrees, including under a partition filter
    assert t.read(spark).count() == df.filter("kind != 3").count()
    some_day = next(iter(t._live()[0]))["partition"]["ts_day"]
    got = t.read(spark, partition_filter={"ts_day": some_day})
    want = df.filter(
        T.spark_column(T.parse_spec_entry("day(ts)"), "timestamptz")
        == some_day
    ).filter("kind != 3")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_upsert_on_transform_partitioned_table(spark, tmp_path):
    df = _events_df(spark, 100).select("event_id", "ts", "user_id", "value")
    t = I.IcebergFsTable(str(tmp_path / "t"))
    t.upsert(df, ["event_id", "ts"], partition_by=["day(ts)"])
    upd = df.filter("event_id < 10").withColumn(
        "value", df["value"] - 1000.0
    )
    t.upsert(upd, ["event_id", "ts"], partition_by=["day(ts)"])
    back = t.read(spark)
    assert back.count() == 100
    assert back.filter("value < 0").count() == 10
    # partition SOURCE column must be inside the key
    with pytest.raises(ValueError, match="SOURCE columns"):
        t2 = I.IcebergFsTable(str(tmp_path / "t2"))
        t2.upsert(df, ["event_id"], partition_by=["day(ts)"])


def test_read_stream_allows_transform_partitions(spark, tmp_path):
    df = _events_df(spark, 50)
    t = I.IcebergFsTable(str(tmp_path / "t"))
    t.append(df, partition_by=["bucket[4](user_id)"])
    out = (
        t.read_stream(spark)
        .writeStream.format("memory")
        .queryName("ice_transform_stream")
        .trigger(availableNow=True)
        .start()
    )
    assert out.awaitTermination(120)
    got = spark.sql("SELECT count(*) c FROM ice_transform_stream").first()["c"]
    assert got == 50
    # identity partitions still refuse (constants can't be reattached)
    t2 = I.IcebergFsTable(str(tmp_path / "t2"))
    t2.append(
        df.withColumn("k", df["kind"].cast("long")), partition_by=["k"]
    )
    with pytest.raises(ValueError, match="IDENTITY"):
        t2.read_stream(spark)


def test_duplicate_generated_field_names_refused(spark, tmp_path):
    """bucket[4](id) + bucket[8](id) both generate 'id_bucket' — a spec
    whose written layout could not agree with its own fields. create()
    must refuse clearly instead of committing the corrupt spec."""
    df = _events_df(spark, 10)
    t = I.IcebergFsTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="duplicate partition field"):
        t.append(
            df,
            partition_by=["bucket[4](user_id)", "bucket[8](user_id)"],
        )
    # the same entry twice is the same refusal
    t2 = I.IcebergFsTable(str(tmp_path / "t2"))
    with pytest.raises(ValueError, match="duplicate partition field"):
        t2.append(df, partition_by=["day(ts)", "day(ts)"])
    # distinct field names on one source column remain fine
    t3 = I.IcebergFsTable(str(tmp_path / "t3"))
    t3.append(df, partition_by=["day(ts)", "month(ts)"])
    assert t3.read(spark).count() == 10
