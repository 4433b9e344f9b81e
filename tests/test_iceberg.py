"""Pure-Python Iceberg v2 filesystem-table subset
(flinkrunner_spark/iceberg.py): round-trips, snapshot lineage, manifest
structure against the public spec's constants, honest refusals, and the
source/sink config wiring (reference parity:
model/sink/IcebergSinkConfig.scala, model/source/IcebergSourceConfig.scala)."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkrunner_spark import iceberg as I  # noqa: E402
from flinkrunner_spark.serde import avro_codec as AC  # noqa: E402


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, name string, score double, tags array<string>"
    )


ROWS1 = [(1, "a", 1.5, ["x"]), (2, "b", 2.5, ["y", "z"])]
ROWS2 = [(3, "c", 3.5, [])]


def test_append_read_roundtrip(spark, tmp_path):
    loc = str(tmp_path / "t1")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))
    out = sorted(t.read(spark).collect())
    assert [(r["id"], r["name"], r["score"], r["tags"]) for r in out] == ROWS1
    # second append: both snapshots' files visible
    t.append(_df(spark, ROWS2))
    out = sorted(r["id"] for r in t.read(spark).collect())
    assert out == [1, 2, 3]
    assert len(t.snapshots()) == 2
    s1, s2 = t.snapshots()
    assert s2["parent-snapshot-id"] == s1["snapshot-id"]
    assert (s1["sequence-number"], s2["sequence-number"]) == (1, 2)


def test_overwrite_replaces_data(spark, tmp_path):
    loc = str(tmp_path / "t2")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))
    t.overwrite(_df(spark, ROWS2))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [3]
    assert t.snapshots()[-1]["summary"]["operation"] == "overwrite"
    # old files still on disk (time travel data), just not referenced
    assert len(os.listdir(os.path.join(loc, "data"))) >= 2


def test_metadata_layout_matches_spec(spark, tmp_path):
    """v2 metadata invariants from the public spec: required top-level
    fields, version-hint commit point, manifest avro metadata keys, and
    the spec's field-ids on manifest/list schemas."""
    loc = str(tmp_path / "t3")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))
    md = t.metadata()
    for key in [
        "format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "current-schema-id", "schemas",
        "default-spec-id", "partition-specs", "last-partition-id",
        "default-sort-order-id", "sort-orders", "current-snapshot-id",
        "snapshots", "refs",
    ]:
        assert key in md, key
    assert md["format-version"] == 2
    assert md["last-partition-id"] >= 999  # partition field ids start at 1000
    assert md["refs"]["main"]["snapshot-id"] == md["current-snapshot-id"]
    # name mapping present for field-id-less parquet (spec fallback)
    nm = json.loads(md["properties"]["schema.name-mapping.default"])
    assert nm[0] == {"field-id": 1, "names": ["id"]}
    assert nm[3]["fields"][0]["names"] == ["element"]  # list element id
    # column ids 1..4, list element id 5
    ice = md["schemas"][0]
    assert [f["id"] for f in ice["fields"]] == [1, 2, 3, 4]
    assert ice["fields"][3]["type"]["element-id"] == 5

    snap = md["snapshots"][0]
    ml_meta = AC.read_container_meta(open(snap["manifest-list"], "rb").read())
    assert ml_meta["snapshot-id"] == str(snap["snapshot-id"]).encode()
    assert ml_meta["format-version"] == b"2"
    _, mfs = AC.read_container(open(snap["manifest-list"], "rb").read())
    assert mfs[0]["sequence_number"] == 1 and mfs[0]["content"] == 0
    mf_meta = AC.read_container_meta(open(mfs[0]["manifest_path"], "rb").read())
    assert mf_meta["format-version"] == b"2" and mf_meta["content"] == b"data"
    assert json.loads(mf_meta["schema"]) == ice
    # spec field-ids on the manifest entry schema
    raw_schema = json.loads(
        AC.read_container_meta(open(mfs[0]["manifest_path"], "rb").read())[
            "avro.schema"
        ]
    )
    ids = {f["name"]: f.get("field-id") for f in raw_schema["fields"]}
    assert ids == {
        "status": 0, "snapshot_id": 1, "sequence_number": 3,
        "file_sequence_number": 4, "data_file": 2,
    }
    entries = AC.read_container(open(mfs[0]["manifest_path"], "rb").read())[1]
    assert all(e["status"] == I.STATUS_ADDED for e in entries)
    assert all(e["data_file"]["file_format"] == "PARQUET" for e in entries)
    total = sum(e["data_file"]["record_count"] for e in entries)
    assert total == len(ROWS1)


def test_schema_mismatch_and_unsupported_refused(spark, tmp_path):
    loc = str(tmp_path / "t4")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(1,)], "only_id bigint"))
    # unsupported spark types refused at schema conversion
    with pytest.raises(ValueError, match="does not support"):
        I.iceberg_schema_from_spark(
            spark.createDataFrame([({"a": 1},)], "m map<string,int>").schema
        )
    # UNKNOWN partition transforms still refused on read (bucket/
    # truncate/time transforms are supported since r7 — see
    # tests/test_iceberg_transforms.py)
    md = t.metadata()
    md["partition-specs"] = [
        {"spec-id": 0, "fields": [{"name": "id_z", "transform":
                                   "zorder", "source-id": 1,
                                   "field-id": 1000}]}
    ]
    t._commit(md, t._version() + 1)
    with pytest.raises(ValueError, match="invalid iceberg partition"):
        t.read(spark)


def test_empty_table_reads_empty_with_schema(spark, tmp_path):
    loc = str(tmp_path / "t5")
    t = I.IcebergFsTable(loc)
    t.create(_df(spark, ROWS1).schema)
    out = t.read(spark)
    assert out.count() == 0
    assert out.columns == ["id", "name", "score", "tags"]


def test_sink_source_config_wiring(spark, tmp_path):
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    loc = str(tmp_path / "t6")
    sink = IcebergSinkConfig("s", {"connector": "iceberg", "path": loc})
    sink.write(_df(spark, ROWS1))
    sink.write(_df(spark, ROWS2))  # default mode appends
    src = IcebergSourceConfig("r", {"connector": "iceberg", "table": loc})
    assert sorted(r["id"] for r in src.load(spark).collect()) == [1, 2, 3]
    over = IcebergSinkConfig(
        "s", {"connector": "iceberg", "path": loc, "mode": "overwrite"}
    )
    over.write(_df(spark, ROWS1))
    assert sorted(r["id"] for r in src.load(spark).collect()) == [1, 2]


def test_time_travel(spark, tmp_path):
    import time as _t

    loc = str(tmp_path / "t8")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))
    _t.sleep(0.01)  # distinct commit timestamps for the as-of check
    t.append(_df(spark, ROWS2))
    s1, s2 = t.snapshots()
    assert sorted(r["id"] for r in t.read(spark, snapshot_id=s1["snapshot-id"]).collect()) == [1, 2]
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3]
    # as-of-timestamp: at s1's commit time only s1's rows exist
    got = t.read(spark, as_of_ms=s1["timestamp-ms"]).collect()
    assert sorted(r["id"] for r in got) == [1, 2]
    with pytest.raises(ValueError, match="no snapshot"):
        t.read(spark, as_of_ms=s1["timestamp-ms"] - 10_000)
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.read(spark, snapshot_id=123)
    # source-config surface
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    src = IcebergSourceConfig(
        "r", {"connector": "iceberg", "path": loc,
              "snapshot-id": s1["snapshot-id"]},
    )
    assert sorted(r["id"] for r in src.load(spark).collect()) == [1, 2]


def test_compact_and_expire(spark, tmp_path):
    """Compaction rewrites live rows into fewer files (row-identical);
    expiration drops old snapshots and deletes ONLY files no kept
    snapshot references."""
    loc = str(tmp_path / "t9")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))
    t.append(_df(spark, ROWS2))
    n_files_before = len(t.data_files())
    before = sorted(
        (r["id"], r["name"], r["score"], tuple(r["tags"]))
        for r in t.read(spark).collect()
    )
    t.compact(spark, target_partitions=1)
    assert len(t.data_files()) == 1 < n_files_before
    after = sorted(
        (r["id"], r["name"], r["score"], tuple(r["tags"]))
        for r in t.read(spark).collect()
    )
    assert after == before
    assert t.snapshots()[-1]["summary"]["operation"] == "replace"

    # all pre-compaction files still on disk (time travel works) ...
    s_old = t.snapshots()[0]
    assert t.read(spark, snapshot_id=s_old["snapshot-id"]).count() == len(ROWS1)
    # ... until expiration deletes exactly the unreferenced ones
    deleted = t.expire_snapshots(keep_last=1)
    assert deleted  # old data files + manifests + manifest lists
    assert len(t.snapshots()) == 1
    live = set(t.data_files())
    assert all(os.path.exists(p) for p in live)
    assert not any(p in live for p in deleted)
    assert after == sorted(
        (r["id"], r["name"], r["score"], tuple(r["tags"]))
        for r in t.read(spark).collect()
    )
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.read(spark, snapshot_id=s_old["snapshot-id"])


def test_identity_partitioned_write_read_prune(spark, tmp_path):
    """Identity-partitioned tables: hive-style data layout, per-file
    partition tuples in manifests, partition columns reconstructed as
    metadata constants on read, and MANIFEST-LEVEL pruning — a filtered
    read must touch only matching partitions' files."""
    loc = str(tmp_path / "tp")
    t = I.IcebergFsTable(loc)
    df = spark.createDataFrame(
        [(1, "en", 1.0), (2, "en", 2.0), (3, "de", 3.0), (4, "fr", 4.0)],
        "id bigint, lang string, score double",
    )
    t.append(df, partition_by=["lang"])
    # layout + manifest partition tuples
    assert os.path.isdir(os.path.join(loc, "data", "lang=en"))
    entries = t.live_entries()
    assert {e["partition"]["lang"] for e in entries} == {"en", "de", "fr"}
    # full read restores partition columns and row set
    got = sorted(
        (r["id"], r["lang"], r["score"]) for r in t.read(spark).collect()
    )
    assert got == [(1, "en", 1.0), (2, "en", 2.0), (3, "de", 3.0), (4, "fr", 4.0)]
    # pruned read: only en files listed and read
    pruned = t.data_files(partition_filter={"lang": "en"})
    assert pruned and all("lang=en" in p for p in pruned)
    assert len(pruned) < len(t.data_files())
    got = sorted(
        r["id"] for r in
        t.read(spark, partition_filter={"lang": "en"}).collect()
    )
    assert got == [1, 2]
    # append keeps the spec; overwrite + compact round-trip too
    t.append(spark.createDataFrame([(5, "de", 5.0)],
                                   "id bigint, lang string, score double"))
    assert sorted(
        r["id"] for r in
        t.read(spark, partition_filter={"lang": "de"}).collect()
    ) == [3, 5]
    t.compact(spark)
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3, 4, 5]
    # config wiring: partitioned sink + pruned source
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    loc2 = str(tmp_path / "tp2")
    IcebergSinkConfig(
        "s", {"connector": "iceberg", "path": loc2, "partition-by": ["lang"]}
    ).write(df)
    src = IcebergSourceConfig(
        "r", {"connector": "iceberg", "path": loc2,
              "partition-filter": {"lang": "fr"}},
    )
    assert [r["id"] for r in src.load(spark).collect()] == [4]


def test_column_bounds_written_and_data_skipping(spark, tmp_path):
    """Manifests must carry per-file numeric lower/upper bounds from the
    parquet footers, and a range_filter must prune non-intersecting files
    at the metadata level while never changing results."""
    loc = str(tmp_path / "tb")
    t = I.IcebergFsTable(loc)
    # range-partition the write so files cover disjoint id ranges
    df = spark.range(0, 1000).selectExpr(
        "id", "cast(id % 7 as double) as score",
        "cast(id as string) as name", "array('x') as tags",
    ).select("id", "name", "score", "tags").repartitionByRange(4, "id")
    t.append(df)
    entries = t.live_entries()
    assert len(entries) == 4
    for e in entries:
        lows = {kv["key"]: kv["value"] for kv in e["lower_bounds"]}
        ups = {kv["key"]: kv["value"] for kv in e["upper_bounds"]}
        assert 1 in lows and 1 in ups  # id column bounds present
        assert I.bound_value("long", lows[1]) <= I.bound_value("long", ups[1])
        assert 3 in lows  # score (double) bounds too; name (string) absent
        name_fid = 2
        assert name_fid not in lows
    # pruning: ids 100..150 live in one file of the four
    pruned = t.data_files(range_filter={"id": (100, 150)})
    assert len(pruned) == 1
    got = sorted(
        r["id"] for r in
        t.read(spark, range_filter={"id": (100, 150)})
        .filter("id between 100 and 150").collect()
    )
    assert got == list(range(100, 151))
    # open-ended ranges
    assert len(t.data_files(range_filter={"id": (900, None)})) == 1
    assert len(t.data_files(range_filter={"id": (None, 10)})) == 1
    # a range outside all bounds prunes everything
    assert t.data_files(range_filter={"id": (5000, 6000)}) == []
    # unknown column refused
    with pytest.raises(ValueError, match="unknown range_filter"):
        t.data_files(range_filter={"nope": (1, 2)})


def test_add_column_schema_evolution(spark, tmp_path):
    """Additive evolution: a new current schema with a fresh field-id;
    old files read back with nulls for the added column, new writes carry
    it, and both generations coexist in one scan."""
    loc = str(tmp_path / "tev")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))
    t.add_column("rank", "long")
    md = t.metadata()
    assert md["current-schema-id"] == 1 and len(md["schemas"]) == 2
    new_field = md["schemas"][1]["fields"][-1]
    assert new_field["name"] == "rank" and new_field["id"] == md["last-column-id"]
    # old files: null-filled
    out = t.read(spark)
    assert out.columns == ["id", "name", "score", "tags", "rank"]
    assert all(r["rank"] is None for r in out.collect())
    # new write with the evolved schema
    t.append(
        spark.createDataFrame(
            [(9, "z", 9.5, ["q"], 7)],
            "id bigint, name string, score double, tags array<string>, rank bigint",
        )
    )
    rows = {r["id"]: r["rank"] for r in t.read(spark).collect()}
    assert rows == {1: None, 2: None, 9: 7}
    # duplicate / bogus additions refused
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("rank", "long")
    with pytest.raises(ValueError, match="unsupported"):
        t.add_column("x", "struct")


def test_streaming_sink_commits_per_microbatch(spark, tmp_path):
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig

    loc = str(tmp_path / "t7")
    sink = IcebergSinkConfig("s", {"connector": "iceberg", "path": loc})
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .selectExpr(
            "value as id", "cast(value as string) as name",
            "cast(value as double) as score", "array('t') as tags",
        )
    )
    q = sink.write_stream(sdf)
    try:
        import time as _t

        deadline = _t.time() + 30
        while _t.time() < deadline:
            t = I.IcebergFsTable(loc)
            if t.exists() and t.read(spark).count() > 0:
                break
            _t.sleep(0.5)
    finally:
        q.stop()
    t = I.IcebergFsTable(loc)
    assert t.read(spark).count() > 0
    assert len(t.snapshots()) >= 1


# ---------------------------------------------------------------------------
# upsert (v2 equality deletes; reference IcebergSinkConfig.scala:140)
# ---------------------------------------------------------------------------


def _kv(spark, rows):
    return spark.createDataFrame(rows, "id bigint, name string, v bigint")


def test_upsert_latest_wins_and_chains(spark, tmp_path):
    loc = str(tmp_path / "up1")
    t = I.IcebergFsTable(loc)
    t.upsert(_kv(spark, [(1, "a", 10), (2, "b", 20)]), ["id"])
    t.upsert(_kv(spark, [(2, "B", 200), (3, "c", 30)]), ["id"])
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a", 10), (2, "B", 200), (3, "c", 30)
    ]
    # chain further: the max-sequence delete wins, older deletes stay inert
    t.upsert(_kv(spark, [(3, "C", 300)]), ["id"])
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a", 10), (2, "B", 200), (3, "C", 300)
    ]


def test_upsert_time_travel_sees_pre_upsert_state(spark, tmp_path):
    loc = str(tmp_path / "up2")
    t = I.IcebergFsTable(loc)
    t.upsert(_kv(spark, [(1, "a", 10)]), ["id"])
    t.upsert(_kv(spark, [(1, "A", 100)]), ["id"])
    first = t.snapshots()[0]["snapshot-id"]
    assert [tuple(r) for r in t.read(spark, snapshot_id=first).collect()] == [
        (1, "a", 10)
    ]


def test_upsert_manifest_structure_matches_spec(spark, tmp_path):
    """The upsert snapshot's manifest list holds a DELETE manifest
    (content=1) whose entries are equality-delete files (content=2,
    equality_ids = key field-ids) — the spec shape the jar would read."""
    loc = str(tmp_path / "up3")
    t = I.IcebergFsTable(loc)
    t.upsert(_kv(spark, [(1, "a", 10)]), ["id"])
    t.upsert(_kv(spark, [(1, "A", 100)]), ["id"])
    snap = t.metadata()["snapshots"][-1]
    with open(snap["manifest-list"], "rb") as fh:
        _, manifests = AC.read_container(fh.read())
    by_content = {m["content"]: m for m in manifests}
    assert set(by_content) == {I.CONTENT_DATA, I.CONTENT_DELETES}
    dm = by_content[I.CONTENT_DELETES]
    assert dm["sequence_number"] == snap["sequence-number"]
    with open(dm["manifest_path"], "rb") as fh:
        _, entries = AC.read_container(fh.read())
    f = entries[0]["data_file"]
    assert f["content"] == I.FILE_CONTENT_EQ_DELETES
    md = t.metadata()
    id_field = next(
        fl for fl in I.current_schema(md)["fields"] if fl["name"] == "id"
    )
    assert f["equality_ids"] == [id_field["id"]]


def test_upsert_refusals(spark, tmp_path):
    loc = str(tmp_path / "up4")
    t = I.IcebergFsTable(loc)
    t.upsert(_kv(spark, [(1, "a", 10)]), ["id"])
    t.upsert(_kv(spark, [(1, "A", 100)]), ["id"])
    # duplicate keys inside one batch
    with pytest.raises(ValueError, match="duplicate key"):
        t.upsert(_kv(spark, [(5, "x", 1), (5, "y", 2)]), ["id"])
    # raw file listing would expose replaced rows
    with pytest.raises(ValueError, match="delete files"):
        t.data_files()
    # unknown key column
    with pytest.raises(ValueError, match="unknown upsert key"):
        t.upsert(_kv(spark, [(6, "x", 1)]), ["nope"])


def test_upsert_partitioned_prunes_and_requires_key_superset(spark, tmp_path):
    loc = str(tmp_path / "up5")
    t = I.IcebergFsTable(loc)
    rows = spark.createDataFrame(
        [(1, "en", 5), (2, "de", 6), (3, "en", 7)],
        "id bigint, lang string, v bigint",
    )
    t.upsert(rows, ["lang", "id"], partition_by=["lang"])
    upd = spark.createDataFrame(
        [(3, "en", 70), (9, "fr", 8)], "id bigint, lang string, v bigint"
    )
    t.upsert(upd, ["lang", "id"])
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "en", 5), (2, "de", 6), (3, "en", 70), (9, "fr", 8)
    ]
    en = t.read(spark, partition_filter={"lang": "en"})
    assert sorted(tuple(r) for r in en.collect()) == [(1, "en", 5), (3, "en", 70)]
    with pytest.raises(ValueError, match="partition"):
        t.upsert(upd, ["id"])


def test_upsert_compact_merges_and_drops_deletes(spark, tmp_path):
    loc = str(tmp_path / "up6")
    t = I.IcebergFsTable(loc)
    t.upsert(_kv(spark, [(1, "a", 10), (2, "b", 20)]), ["id"])
    t.upsert(_kv(spark, [(2, "B", 200)]), ["id"])
    t.compact(spark)
    # the replace snapshot holds merged rows and no delete manifests
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a", 10), (2, "B", 200)
    ]
    assert len(t.data_files()) == 1  # no refusal -> no delete files live


def test_upsert_via_sink_config_primary_key(spark, tmp_path):
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig

    loc = str(tmp_path / "up7")
    sink = IcebergSinkConfig(
        "t", {"connector": "iceberg", "path": loc, "primary.key": "id"}
    )
    sink.write(_kv(spark, [(1, "a", 10)]))
    sink.write(_kv(spark, [(1, "A", 100), (2, "b", 20)]))
    out = I.IcebergFsTable(loc).read(spark)
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "A", 100), (2, "b", 20)
    ]


# ---------------------------------------------------------------------------
# incremental / streaming reads (reference IcebergSourceConfig.scala:39-85)
# ---------------------------------------------------------------------------


def test_incremental_read_between_snapshots(spark, tmp_path):
    loc = str(tmp_path / "inc1")
    t = I.IcebergFsTable(loc)
    t.append(_kv(spark, [(1, "a", 1)]))
    s1 = t.metadata()["current-snapshot-id"]
    t.append(_kv(spark, [(2, "b", 2)]))
    s2 = t.metadata()["current-snapshot-id"]
    t.append(_kv(spark, [(3, "c", 3)]))
    # (s1, current] = rows of snapshots 2 and 3
    got = sorted(r["id"] for r in t.read_incremental(spark, s1).collect())
    assert got == [2, 3]
    # (s1, s2] = snapshot 2 only
    got = sorted(r["id"] for r in t.read_incremental(spark, s1, s2).collect())
    assert got == [2]
    # from table start
    got = sorted(r["id"] for r in t.read_incremental(spark).collect())
    assert got == [1, 2, 3]
    # empty range
    cur = t.metadata()["current-snapshot-id"]
    assert t.read_incremental(spark, cur).count() == 0


def test_incremental_refuses_non_append_ranges(spark, tmp_path):
    loc = str(tmp_path / "inc2")
    t = I.IcebergFsTable(loc)
    t.append(_kv(spark, [(1, "a", 1)]))
    s1 = t.metadata()["current-snapshot-id"]
    t.overwrite(_kv(spark, [(9, "z", 9)]))
    with pytest.raises(ValueError, match="overwrite"):
        t.read_incremental(spark, s1)


def test_streaming_source_picks_up_appended_snapshots(spark, tmp_path):
    """File-stream over the append-only table: first run sees both
    initial snapshots; after another commit, the SAME checkpoint resumes
    and emits only the new snapshot's rows — the incremental cadence of
    the reference's streaming source."""
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    loc = str(tmp_path / "stream1")
    ckpt = str(tmp_path / "ckpt")
    t = I.IcebergFsTable(loc)
    t.append(_kv(spark, [(1, "a", 1)]))
    t.append(_kv(spark, [(2, "b", 2)]))

    out = str(tmp_path / "out")

    def drain():
        src = IcebergSourceConfig(
            "s",
            {"connector": "iceberg", "path": loc, "streaming": True,
             "start.strategy": "earliest"},
        ).load(spark)
        q = (
            src.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        return sorted(r["id"] for r in spark.read.parquet(out).collect())

    assert drain() == [1, 2]
    t.append(_kv(spark, [(3, "c", 3)]))
    # checkpoint resumes: the second run appends ONLY the new snapshot
    assert drain() == [1, 2, 3]


def test_streaming_source_refusals(spark, tmp_path):
    loc = str(tmp_path / "stream2")
    t = I.IcebergFsTable(loc)
    t.append(_kv(spark, [(1, "a", 1)]))
    t.overwrite(_kv(spark, [(2, "b", 2)]))
    with pytest.raises(ValueError, match="append-only"):
        t.read_stream(spark)
    # upsert tables refuse too (equality deletes are 'overwrite' ops)
    loc2 = str(tmp_path / "stream3")
    t2 = I.IcebergFsTable(loc2)
    t2.upsert(_kv(spark, [(1, "a", 1)]), ["id"])
    t2.upsert(_kv(spark, [(1, "A", 2)]), ["id"])
    with pytest.raises(ValueError, match="append-only"):
        t2.read_stream(spark)
    # offset-tracking strategies stay gated
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    with pytest.raises(RuntimeError, match="start.strategy"):
        IcebergSourceConfig(
            "s",
            {"connector": "iceberg", "path": loc, "streaming": True,
             "start.strategy": "latest"},
        ).load(spark)


def test_streaming_upsert_sink_commits_per_microbatch(spark, tmp_path):
    """primary.key + write_stream: each micro-batch commits one
    equality-delete upsert snapshot (the Flink sink's checkpoint-commit
    cadence with upsert mode on)."""
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig

    loc = str(tmp_path / "sup")
    src_dir = str(tmp_path / "src")
    # two source files -> two micro-batches (maxFilesPerTrigger=1);
    # batch 2 rewrites id=1
    _kv(spark, [(1, "a", 10), (2, "b", 20)]).coalesce(1).write.parquet(
        src_dir + "/f1"
    )
    _kv(spark, [(1, "A", 100), (3, "c", 30)]).coalesce(1).write.parquet(
        src_dir + "/f2"
    )
    import glob
    import os
    import time

    paths = sorted(glob.glob(src_dir + "/f*/part-*.parquet"))
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    t0 = time.time() - 10
    for i, p in enumerate(paths):
        dst = f"{flat}/{i}.parquet"
        os.rename(p, dst)
        os.utime(dst, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("id bigint, name string, v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    sink = IcebergSinkConfig(
        "t",
        {"connector": "iceberg", "path": loc, "primary.key": "id",
         "checkpoint": str(tmp_path / "ck")},
    )
    q = sink.write_stream(stream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t = I.IcebergFsTable(loc)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "A", 100), (2, "b", 20), (3, "c", 30)
    ]
    assert len(t.snapshots()) == 2  # one commit per micro-batch


def test_first_upsert_is_an_append_keeps_streaming_usable(spark, tmp_path):
    """A first upsert commits no deletes, records operation=append, and
    the append-only streaming/incremental gates stay open until a real
    row-level commit happens."""
    loc = str(tmp_path / "up8")
    t = I.IcebergFsTable(loc)
    t.upsert(_kv(spark, [(1, "a", 10)]), ["id"])
    assert t.snapshots()[0]["summary"]["operation"] == "append"
    t.read_stream(spark)  # no raise
    assert t.read_incremental(spark).count() == 1
    t.upsert(_kv(spark, [(1, "A", 100)]), ["id"])
    assert t.snapshots()[-1]["summary"]["operation"] == "overwrite"
    with pytest.raises(ValueError, match="append-only"):
        t.read_stream(spark)


def test_time_travel_reads_snapshot_schema(spark, tmp_path):
    """Explicit time travel resolves the snapshot's recorded schema-id:
    a snapshot taken before add_column must NOT grow the new column,
    while current-state reads always use the current schema."""
    loc = str(tmp_path / "tts")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))
    s1 = t.metadata()["current-snapshot-id"]
    t.add_column("rank", "long")
    # current read: evolved schema, null-filled
    assert t.read(spark).columns == ["id", "name", "score", "tags", "rank"]
    # time travel to the pre-evolution snapshot: original columns only
    old = t.read(spark, snapshot_id=s1)
    assert old.columns == ["id", "name", "score", "tags"]
    assert old.count() == len(ROWS1)


def test_partition_filter_unknown_column_raises(spark, tmp_path):
    loc = str(tmp_path / "pfv")
    t = I.IcebergFsTable(loc)
    rows = spark.createDataFrame(
        [(1, "en", 5)], "id bigint, lang string, v bigint"
    )
    t.append(rows, partition_by=["lang"])
    with pytest.raises(ValueError, match="partition_filter"):
        t.read(spark, partition_filter={"v": 5})
    # unpartitioned table: any partition_filter is a mistake
    loc2 = str(tmp_path / "pfv2")
    t2 = I.IcebergFsTable(loc2)
    t2.append(rows)
    with pytest.raises(ValueError, match="partition_filter"):
        t2.read(spark, partition_filter={"lang": "en"})


def test_delete_files_live_outside_streamed_dir_and_orphan_gc(spark, tmp_path):
    """Equality-delete files land under data/_deletes (invisible to a
    directory-tailing stream); remove_orphan_files deletes only
    unreferenced parquet."""
    loc = str(tmp_path / "orph")
    t = I.IcebergFsTable(loc)
    t.upsert(_kv(spark, [(1, "a", 10)]), ["id"])
    t.upsert(_kv(spark, [(1, "A", 100)]), ["id"])
    deletes = [
        os.path.join(r, n)
        for r, _d, ns in os.walk(os.path.join(loc, "data"))
        for n in ns
        if "_deletes" in r and n.endswith(".parquet")
    ]
    assert deletes, "delete files should exist under data/_deletes"
    # orphan: a stray parquet nothing references
    stray = os.path.join(loc, "data", "99999-deadbeef.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"PAR1junkPAR1")
    gone = t.remove_orphan_files()
    assert gone == [stray]
    assert not os.path.exists(stray)
    # referenced files (incl. deletes) survive; merged read still exact
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "A", 100)
    ]


def test_upsert_model_based_random_sequences(spark, tmp_path):
    """Model check: any sequence of key-unique upsert batches must read
    back exactly as a dict replayed in commit order (latest write per
    key wins). Deterministic seeds, three independent sequences."""
    import random

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        loc = str(tmp_path / f"model{seed}")
        t = I.IcebergFsTable(loc)
        model: dict[int, tuple] = {}
        for _step in range(5):
            ids = rng.sample(range(12), rng.randint(1, 6))
            rows = [
                (i, f"s{seed}-{_step}-{i}", rng.randint(0, 10_000))
                for i in ids
            ]
            t.upsert(_kv(spark, rows), ["id"])
            for r in rows:
                model[r[0]] = r
        got = sorted(tuple(r) for r in t.read(spark).collect())
        assert got == sorted(model.values()), f"seed {seed}"
        # and time travel to the first snapshot still shows only step 0
        first = t.snapshots()[0]["snapshot-id"]
        n0 = t.read(spark, snapshot_id=first).count()
        assert n0 <= 6


# -- position deletes (spec content=1) --------------------------------------


def test_delete_where_basic(spark, tmp_path):
    t = I.IcebergFsTable(str(tmp_path / "pd1"))
    t.append(_kv(spark, [(i, f"n{i}", i * 10) for i in range(20)]))
    n = t.delete_where(spark, "v >= 100")
    assert n == 10
    left = sorted(r.id for r in t.read(spark).collect())
    assert left == list(range(10))
    # snapshot op recorded as delete; data files untouched on disk
    assert t.snapshots()[-1]["summary"]["operation"] == "delete"


def test_delete_where_counts_only_live_rows(spark, tmp_path):
    t = I.IcebergFsTable(str(tmp_path / "pd2"))
    t.append(_kv(spark, [(i, "x", i) for i in range(10)]))
    assert t.delete_where(spark, "id < 4") == 4
    # second delete over an overlapping predicate only counts survivors
    assert t.delete_where(spark, "id < 6") == 2
    assert sorted(r.id for r in t.read(spark).collect()) == [6, 7, 8, 9]
    # nothing matches -> no snapshot committed
    before = len(t.snapshots())
    assert t.delete_where(spark, "id > 1000") == 0
    assert len(t.snapshots()) == before


def test_delete_where_column_condition_and_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    t = I.IcebergFsTable(str(tmp_path / "pd3"))
    t.append(_kv(spark, [(1, "keep", 1), (2, "drop", 2), (3, "drop", 3)]))
    pre = t.metadata()["current-snapshot-id"]
    assert t.delete_where(spark, F.col("name") == "drop") == 2
    assert [r.id for r in t.read(spark).collect()] == [1]
    # time travel to the pre-delete snapshot still sees all rows
    assert sorted(r.id for r in t.read(spark, snapshot_id=pre).collect()) == [
        1, 2, 3
    ]


def test_delete_then_append_keeps_old_positions_dead(spark, tmp_path):
    t = I.IcebergFsTable(str(tmp_path / "pd4"))
    t.append(_kv(spark, [(1, "a", 1), (2, "b", 2)]))
    assert t.delete_where(spark, "id = 2") == 1
    # rows appended AFTER the delete live in new files at a higher
    # sequence number: the position delete (seq <=) must not touch them
    t.append(_kv(spark, [(2, "b2", 22)]))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a", 1), (2, "b2", 22)
    ]


def test_delete_where_partitioned_table(spark, tmp_path):
    t = I.IcebergFsTable(str(tmp_path / "pd5"))
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(12)],
        "id bigint, grp string, v bigint",
    )
    t.append(df, partition_by=["grp"])
    assert t.delete_where(spark, "grp = 'a' AND v < 6") == 3
    got = sorted((r.id, r.grp) for r in t.read(spark).collect())
    assert len(got) == 9
    assert all(not (g == "a" and i < 6) for i, g in got)


def test_delete_where_composes_with_upserts(spark, tmp_path):
    t = I.IcebergFsTable(str(tmp_path / "pd6"))
    t.upsert(_kv(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)]), ["id"])
    t.upsert(_kv(spark, [(2, "B", 20)]), ["id"])
    # delete the upserted row — position delete lands on the NEW file
    assert t.delete_where(spark, "name = 'B'") == 1
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3]


def test_compact_after_delete_drops_tombstones(spark, tmp_path):
    t = I.IcebergFsTable(str(tmp_path / "pd7"))
    t.append(_kv(spark, [(i, "x", i) for i in range(10)]))
    t.delete_where(spark, "id % 2 = 0")
    t.compact(spark)
    # the replace snapshot carries plain data files only
    files = t.data_files()  # would raise if delete files were still live
    assert files
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3, 5, 7, 9]


def test_data_files_refuses_pos_deleted_table(spark, tmp_path):
    t = I.IcebergFsTable(str(tmp_path / "pd8"))
    t.append(_kv(spark, [(1, "a", 1), (2, "b", 2)]))
    t.delete_where(spark, "id = 1")
    with pytest.raises(ValueError, match="delete files"):
        t.data_files()


def test_pos_delete_files_are_spec_shaped(spark, tmp_path):
    import pyarrow.parquet as pq

    t = I.IcebergFsTable(str(tmp_path / "pd9"))
    t.append(_kv(spark, [(i, "x", i) for i in range(8)]))
    t.delete_where(spark, "id >= 5")
    _data, _eq, pos = t._live()
    assert len(pos) >= 1
    for f in pos:
        assert f["content"] == I.FILE_CONTENT_POS_DELETES
        tbl = pq.read_table(f["file_path"])
        assert tbl.column_names == ["file_path", "pos"]
        rows = list(
            zip(tbl.column("file_path").to_pylist(), tbl.column("pos").to_pylist())
        )
        assert rows == sorted(rows)  # spec: sorted by (file_path, pos)
        # paths are normalized os paths that point at live data files
        assert all(p.startswith("/") and os.path.exists(p) for p, _ in rows)


def test_delete_where_survives_partition_filtered_reads(spark, tmp_path):
    """Regression: global position-delete files (all-None partition
    tuples) must NOT be pruned by partition_filter — pruning them
    resurrected deleted rows in partition-scoped reads."""
    t = I.IcebergFsTable(str(tmp_path / "pdpf"))
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(12)],
        "id bigint, grp string, v bigint",
    )
    t.append(df, partition_by=["grp"])
    assert t.delete_where(spark, "grp = 'a' AND v < 6") == 3
    got = sorted(
        r.id
        for r in t.read(spark, partition_filter={"grp": "a"}).collect()
    )
    assert got == [6, 8, 10]  # the deleted ids 0,2,4 stay dead


# -- partition-spec evolution (spec §Partition Evolution) -------------------


def test_evolve_spec_mixed_layout_roundtrip(spark, tmp_path):
    """identity(name) -> evolve to bucket[4](id): old files keep their
    hive layout (name reconstructed from old tuples), new files lay out
    under the new spec, and a full read returns the union whole."""
    loc = str(tmp_path / "ev1")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1), partition_by=["name"])
    new_id = t.evolve_spec(["bucket[4](id)"])
    assert new_id == 1
    md = t.metadata()
    assert md["default-spec-id"] == 1
    assert [s["spec-id"] for s in md["partition-specs"]] == [0, 1]
    # old spec untouched; new field got a FRESH field-id
    fids = {
        f["field-id"]
        for s in md["partition-specs"]
        for f in s["fields"]
    }
    assert len(fids) == 2 and md["last-partition-id"] == max(fids)
    t.append(_df(spark, ROWS2))
    got = sorted(
        (r["id"], r["name"], r["score"]) for r in t.read(spark).collect()
    )
    assert got == [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)]
    # manifests carry their own spec ids
    sids = sorted(
        r["partition_spec_id"] for r in t.manifests_df(spark).collect()
    )
    assert sids == [0, 1]


def test_evolve_spec_identity_filter_row_filters_old_files(spark, tmp_path):
    """A partition_filter on the NEW identity field must still be exact:
    old-spec files cannot be pruned on it, so read() applies the
    residual row filter; the metadata-only listing refuses instead of
    over-returning."""
    loc = str(tmp_path / "ev2")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))  # unpartitioned spec 0
    t.evolve_spec(["name"])  # identity(name) becomes default
    t.append(_df(spark, ROWS2))
    got = t.read(spark, partition_filter={"name": "a"}).collect()
    assert [(r["id"], r["name"]) for r in got] == [(1, "a")]
    with pytest.raises(ValueError, match="partition evolution"):
        t.live_entries(partition_filter={"name": "a"})
    # filters on retired identity fields row-filter the NEW files too
    got = t.read(spark, partition_filter={"name": "c"}).collect()
    assert [(r["id"], r["name"]) for r in got] == [(3, "c")]


def test_evolve_spec_transform_filter_prunes_new_refuses_old(spark, tmp_path):
    """A transform partition field exists only in the new spec: filtering
    on it prunes new-spec files exactly, and refuses (loudly) when
    old-spec files would need a transform value they never recorded."""
    loc = str(tmp_path / "ev3")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))  # unpartitioned
    t.evolve_spec(["bucket[4](id)"])
    t.append(_df(spark, ROWS2))
    with pytest.raises(ValueError, match="transform fields"):
        t.read(spark, partition_filter={"id_bucket": 0})
    # after compaction rewrites everything under the new spec, the same
    # filter becomes a pure metadata prune
    t.compact(spark)
    by_bucket = t.read(spark, partition_filter={"id_bucket": 0}).collect()
    full = t.read(spark).collect()
    assert {r["id"] for r in by_bucket} <= {r["id"] for r in full}
    assert len(full) == 3


def test_evolve_spec_field_id_reuse_and_refusals(spark, tmp_path):
    """A field shared between specs keeps its field-id (the tuple slot
    means the same thing); evolving to an identical spec or on a missing
    table refuses."""
    loc = str(tmp_path / "ev4")
    t = I.IcebergFsTable(loc)
    with pytest.raises(ValueError, match="no iceberg table"):
        t.evolve_spec(["name"])
    t.append(_df(spark, ROWS1), partition_by=["name"])
    with pytest.raises(ValueError, match="identical"):
        t.evolve_spec(["name"])
    t.evolve_spec(["name", "bucket[4](id)"])
    md = t.metadata()
    s0, s1 = md["partition-specs"]
    assert s0["fields"][0]["field-id"] == s1["fields"][0]["field-id"]
    assert s1["fields"][1]["field-id"] == s0["fields"][0]["field-id"] + 1


def test_evolve_spec_to_unpartitioned_and_incremental(spark, tmp_path):
    """Evolving to unpartitioned: new files store every column while old
    hive-layout files still reconstruct; incremental reads spanning the
    evolution assemble each snapshot under its own spec."""
    loc = str(tmp_path / "ev5")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1), partition_by=["name"])
    s1 = t.current_snapshot_id() if hasattr(t, "current_snapshot_id") else (
        t.snapshots()[-1]["snapshot-id"]
    )
    t.evolve_spec([])
    t.append(_df(spark, ROWS2))
    inc = t.read_incremental(spark, from_snapshot_id=s1)
    assert sorted(r["id"] for r in inc.collect()) == [3]
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3]
    # upsert (merge-on-read) across mixed specs still resolves
    t.upsert(
        spark.createDataFrame(
            [(1, "a2", 9.9, ["w"])],
            "id bigint, name string, score double, tags array<string>",
        ),
        key_cols=["id"],
    )
    rows = {r["id"]: r["name"] for r in t.read(spark).collect()}
    assert rows == {1: "a2", 2: "b", 3: "c"}


def test_parse_sort_entry_bad_direction_is_value_error():
    """A malformed direction — including non-strings like ("col", None)
    — must surface as the documented ValueError, never AttributeError."""
    t = I.IcebergFsTable("/tmp/never-created")
    assert t._parse_sort_entry(("c", "DESC")) == ("c", "desc")
    for bad in [("c", None), ("c", 5), "c sideways"]:
        with pytest.raises(ValueError, match="asc|desc"):
            t._parse_sort_entry(bad)


# -- binpack small-file compaction ------------------------------------------


def test_rewrite_small_files_binpack(spark, tmp_path):
    """Only sub-threshold files rewrite; big files carry forward as
    EXISTING entries keeping their ORIGINAL sequence numbers; rows are
    identical before/after; the big file's parquet is untouched on
    disk (same path still live)."""
    loc = str(tmp_path / "bp1")
    t = I.IcebergFsTable(loc)
    big_df = spark.createDataFrame(
        [(i, f"x{i}", 1.0, []) for i in range(500)],
        "id bigint, name string, score double, tags array<string>",
    ).coalesce(1)
    t.append(big_df)
    for j in range(3):  # three tiny streaming-style commits
        t.append(_df(spark, [(1000 + j, f"s{j}", 0.5, [])]))
    entries_before = t.live_entries()
    n_small = sum(1 for f in entries_before if f["record_count"] < 10)
    assert n_small >= 3  # the three tiny commits (+ any empty part files)
    big_path = next(
        f["file_path"] for f in entries_before if f["record_count"] == 500
    )

    n = t.rewrite_small_files(spark, min_rows=10)
    assert n == n_small
    rows = t.read(spark).collect()
    assert len(rows) == 503
    assert {r["id"] for r in rows} == set(range(500)) | {1000, 1001, 1002}
    after = t.live_entries()
    # big file carried AT ITS OLD PATH; small files replaced by one
    paths = [f["file_path"] for f in after]
    assert big_path in paths and len(paths) == 2
    carried = next(f for f in after if f["file_path"] == big_path)
    assert carried["_seq"] == 1  # original sequence preserved
    last = t.snapshots()[-1]
    assert last["summary"]["operation"] == "replace"
    # spec conformance: EVERY manifest-list row of the replace snapshot —
    # including the carried-EXISTING manifest — stamps the COMMITTING
    # snapshot's id as added_snapshot_id (0 would misattribute it for
    # snapshot-scoped planning by external readers)
    from flinkrunner_spark.serde import avro_codec as AC

    with open(last["manifest-list"], "rb") as fh:
        _, mlist = AC.read_container(fh.read())
    assert len(mlist) == 2  # one rewritten-adds + one carried manifest
    assert {m["added_snapshot_id"] for m in mlist} == {last["snapshot-id"]}
    carried_mf = next(m for m in mlist if m["existing_files_count"] > 0)
    assert carried_mf["added_files_count"] == 0
    # nothing to do below threshold → no-op, no snapshot
    n_snaps = len(t.snapshots())
    assert t.rewrite_small_files(spark, min_rows=10) == 0
    assert len(t.snapshots()) == n_snaps


def test_rewrite_small_files_across_spec_evolution(spark, tmp_path):
    """Carried files grouped per spec (old identity layout untouched),
    rewritten smalls land under the CURRENT spec; read stays whole."""
    loc = str(tmp_path / "bp2")
    t = I.IcebergFsTable(loc)
    rows = [(i, f"x{i}", 1.0, ["t"]) for i in range(300)]
    t.append(
        spark.createDataFrame(
            rows, "id bigint, name string, score double, tags array<string>"
        ).coalesce(1),
        partition_by=["name"],
    )  # 300 one-row-ish partitions? name unique -> many small files
    t.evolve_spec(["bucket[4](id)"])
    t.append(_df(spark, [(9000, "zz", 2.0, [])]))
    n = t.rewrite_small_files(spark, min_rows=5)
    assert n > 0
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == sorted([r[0] for r in rows] + [9000])


def test_compact_zorder_prunes_on_every_dimension(spark, tmp_path):
    """Z-order compaction: after rewriting with zorder=[x, y], a narrow
    range_filter on EITHER column prunes to a strict minority of the
    files via manifest bounds — a lexicographic sort can only serve its
    leading column. Rows identical; the z-expression is JVM-only."""
    import random

    loc = str(tmp_path / "zt")
    t = I.IcebergFsTable(loc)
    rng = random.Random(7)
    rows = [
        (i, rng.uniform(0.0, 1000.0), rng.uniform(0.0, 1000.0))
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    t.append(df.repartition(4))
    before = sorted(r["id"] for r in t.read(spark).collect())

    t.compact(spark, target_partitions=16, zorder=["x", "y"])
    assert sorted(r["id"] for r in t.read(spark).collect()) == before
    n_files = len(t.live_entries())
    assert n_files >= 8
    # a 0.12-span band lives in one top-level Morton cell per dim: its 4
    # (dim-fixed) cells are non-contiguous in z, so with straddle the
    # worst case is half the files — BOTH dims prune to <= half
    # simultaneously, which no lexicographic order can do (its trailing
    # column keeps every file)
    for col in ("x", "y"):
        kept = t.live_entries(range_filter={col: (100.0, 220.0)})
        assert len(kept) <= n_files / 2, (col, len(kept), n_files)
    # row-level read under the pruning filter still exact
    got = sorted(
        r["id"]
        for r in t.read(spark, range_filter={"x": (100.0, 220.0)})
        .filter("x >= 100 and x <= 220").collect()
    )
    want = sorted(i for i, x, y in rows if 100.0 <= x <= 220.0)
    assert got == want


def test_compact_zorder_refuses_unrankable_and_unknown_columns(spark, tmp_path):
    loc = str(tmp_path / "zt2")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1))
    with pytest.raises(ValueError, match="not in the table"):
        t.compact(spark, zorder=["ghost"])
    with pytest.raises(ValueError, match="byte-prefix"):
        t.compact(spark, zorder=["name"])
    with pytest.raises(ValueError, match="at most 4"):
        t.compact(spark, zorder=["id", "score", "id", "score", "id"])


def test_rewrite_position_delete_files_consolidates_and_prunes(spark, tmp_path):
    """rewrite_position_delete_files: many per-commit tombstone files
    consolidate into ranged sorted files; DANGLING rows (targets no
    longer live — here left by a delete-aware binpack that rewrote some
    targets) are dropped; reads identical before/after; data files keep
    their original sequence numbers."""
    import pyarrow.parquet as pq

    loc = str(tmp_path / "rpd")
    t = I.IcebergFsTable(loc)
    big_df = spark.createDataFrame(
        [(i, f"x{i}", 1.0, []) for i in range(400)],
        "id bigint, name string, score double, tags array<string>",
    ).coalesce(1)
    t.append(big_df)
    for j in range(3):
        t.append(_df(spark, [(1000 + j, f"s{j}", 0.5, [])]))
    # three separate delete commits -> three live delete files; the
    # first names BOTH the big file and a small one (mixed targets)
    assert t.delete_where(spark, "id = 3 or id = 1000") == 2
    assert t.delete_where(spark, "id = 5") == 1
    assert t.delete_where(spark, "id = 7") == 1
    # binpack rewrites the smalls, carrying the mixed delete file whole:
    # its id=1000 tombstone row is now DANGLING (target rewritten)
    assert t.rewrite_small_files(spark, min_rows=10) >= 2
    _, _, pos_before = t._live()
    assert len(pos_before) >= 2
    rows_of = lambda dels: sum(int(d["record_count"]) for d in dels)
    assert rows_of(pos_before) == 4  # 3 big-file rows + 1 dangling
    before = sorted(r["id"] for r in t.read(spark).collect())

    n = t.rewrite_position_delete_files(spark)
    assert n == len(pos_before)
    after_data, after_eq, pos_after = t._live()
    assert after_eq == []
    assert sorted(r["id"] for r in t.read(spark).collect()) == before
    # consolidated: fewer files, dangling row gone, rows sorted
    assert len(pos_after) < len(pos_before)
    assert rows_of(pos_after) == 3
    for d in pos_after:
        tab = pq.read_table(d["file_path"])
        pairs = list(zip(tab.column("file_path").to_pylist(),
                         tab.column("pos").to_pylist()))
        assert pairs == sorted(pairs)
    # carried data files keep their ORIGINAL sequence numbers
    assert min(f["_seq"] for f in after_data) < pos_after[0]["_seq"]
    # idempotent below the threshold: one consolidated file -> no-op
    assert t.rewrite_position_delete_files(spark) == 0


def test_rewrite_position_delete_files_keeps_equality_deletes(spark, tmp_path):
    """Equality tombstones carry forward UNTOUCHED at their original
    sequence numbers (their strictly-smaller-seq applicability must not
    widen) while position files consolidate around them."""
    loc = str(tmp_path / "rpd2")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, ROWS1 + ROWS2))
    # an upsert AFTER the base append writes an equality delete file
    t.upsert(_df(spark, [(1, "one-v2", 1.5, ["a"])]), ["id"])
    assert t.delete_where(spark, "id = 2") == 1
    assert t.delete_where(spark, "id = 3") == 1
    before = sorted(
        (r["id"], r["name"]) for r in t.read(spark).collect()
    )
    assert before == [(1, "one-v2")]
    _, eq_before, pos_before = t._live()
    assert len(eq_before) >= 1 and len(pos_before) == 2

    assert t.rewrite_position_delete_files(spark) == 2
    after = sorted((r["id"], r["name"]) for r in t.read(spark).collect())
    assert after == before
    _, eq_after, pos_after = t._live()
    assert len(pos_after) == 1
    assert sorted(
        (d["file_path"], d["_seq"]) for d in eq_after
    ) == sorted((d["file_path"], d["_seq"]) for d in eq_before)


def test_rewrite_small_files_under_equality_deletes_carries(spark, tmp_path):
    """Equality-delete-aware binpack (r9 verdict item 5): small files
    rewrite MERGE-ON-READ under live equality tombstones (the same
    strictly-greater-seq join reads use); the tombstone carries forward
    at its ORIGINAL sequence number because the carried big file is
    still in its applicability scope; row-level reads match exactly."""
    loc = str(tmp_path / "bp_eq1")
    t = I.IcebergFsTable(loc)
    big_df = spark.createDataFrame(
        [(i, f"x{i}", 1.0, []) for i in range(500)],
        "id bigint, name string, score double, tags array<string>",
    ).coalesce(1)
    t.append(big_df)                                       # seq 1 (big)
    t.append(_df(spark, [(1000, "a", 1.0, [])]))           # seq 2 (small)
    t.append(_df(spark, [(1001, "b", 1.0, [])]))           # seq 3 (small)
    # upsert replaces a big-file row AND a small-file row: eq delete at
    # seq 4 (applies to seqs 1-3), fresh 2-row data file also at seq 4
    t.upsert(
        _df(spark, [(5, "five-v2", 9.9, []), (1000, "a-v2", 8.8, [])]),
        ["id"],
    )
    _, eq_before, _ = t._live()
    assert len(eq_before) >= 1
    assert len({int(d["_seq"]) for d in eq_before}) == 1
    eq_seq = int(eq_before[0]["_seq"])
    before = sorted((r["id"], r["name"]) for r in t.read(spark).collect())
    assert (5, "five-v2") in before and (5, "x5") not in before
    assert (1000, "a-v2") in before and (1000, "a") not in before
    n_small = sum(
        1 for f in t._live()[0] if int(f["record_count"]) < 10
    )
    assert n_small >= 3

    assert t.rewrite_small_files(spark, min_rows=10) == n_small
    after = sorted((r["id"], r["name"]) for r in t.read(spark).collect())
    assert after == before
    data, eq_after, pos_after = t._live()
    # tombstones carried UNCHANGED: the big file (seq 1) is still in
    # their strictly-smaller-seq scope, and reads still need id=5 dead
    assert sorted((d["file_path"], d["_seq"]) for d in eq_after) == sorted(
        (d["file_path"], d["_seq"]) for d in eq_before
    )
    assert pos_after == []
    # the carried big file kept its original seq; the rewritten file's
    # seq exceeds the tombstone's (it escapes by construction)
    seqs = sorted(int(f["_seq"]) for f in data)
    assert seqs[0] < eq_seq < seqs[-1]
    # stale small-file rows are physically gone from the new file, not
    # merely masked: drop the tombstone and re-read
    raw = t._read_merged(
        spark, data, [], [], t.metadata()
    )
    names = {r["name"] for r in raw.select("name").collect()}
    assert "a" not in names and "a-v2" in names
    # id=5 is only masked (it lives in the carried big file)
    assert "x5" in names


def test_rewrite_small_files_drops_fully_applied_equality_deletes(
    spark, tmp_path
):
    """When EVERY data file an equality tombstone could apply to is
    rewritten (with the delete folded in), the tombstone is dropped —
    no dead read-side work survives the binpack."""
    loc = str(tmp_path / "bp_eq2")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, [(1, "one", 1.0, [])]))            # seq 1
    t.append(_df(spark, [(2, "two", 2.0, [])]))            # seq 2
    t.upsert(_df(spark, [(1, "one-v2", 1.5, [])]), ["id"])  # seq 3
    before = sorted((r["id"], r["name"]) for r in t.read(spark).collect())
    assert before == [(1, "one-v2"), (2, "two")]
    n_small = len(t._live()[0])

    assert t.rewrite_small_files(spark, min_rows=10) == n_small
    after = sorted((r["id"], r["name"]) for r in t.read(spark).collect())
    assert after == before
    data, eq_after, pos_after = t._live()
    assert eq_after == [] and pos_after == []
    assert len(data) == 1


def test_rewrite_small_files_under_position_deletes(spark, tmp_path):
    """Delete-aware binpack (r8 verdict item 4): small files rewrite
    with their tombstones APPLIED; a position-delete file naming a
    carried big file survives at its original sequence number; one
    naming only rewritten files is dropped; row-level reads match the
    pre-compaction table exactly."""
    loc = str(tmp_path / "bp4")
    t = I.IcebergFsTable(loc)
    big_df = spark.createDataFrame(
        [(i, f"x{i}", 1.0, []) for i in range(500)],
        "id bigint, name string, score double, tags array<string>",
    ).coalesce(1)
    t.append(big_df)
    for j in range(3):
        t.append(_df(spark, [(1000 + j, f"s{j}", 0.5, [])]))
    # tombstones into BOTH worlds: one row of the big file, one small row
    assert t.delete_where(spark, "id = 7") == 1      # targets the big file
    assert t.delete_where(spark, "id = 1001") == 1   # targets a small file
    before = sorted(r["id"] for r in t.read(spark).collect())
    assert 7 not in before and 1001 not in before and len(before) == 501

    n = t.rewrite_small_files(spark, min_rows=10)
    assert n >= 3
    after = sorted(r["id"] for r in t.read(spark).collect())
    assert after == before  # row-identical through the rewrite

    # manifest truth: exactly one live delete file remains (the one
    # naming the carried big file), at its ORIGINAL sequence number
    data, eq_dels, pos_dels = t._live()
    assert eq_dels == []
    assert len(pos_dels) == 1
    big_path = next(
        f["file_path"] for f in data if f["record_count"] == 500
    )
    import pyarrow.parquet as pq

    targets = set(
        pq.read_table(pos_dels[0]["file_path"], columns=["file_path"])
        .column("file_path").to_pylist()
    )
    assert targets == {big_path}
    # the carried delete kept a seq BELOW the replace commit's
    replace_seq = t.snapshots()[-1]["sequence-number"]
    assert pos_dels[0]["_seq"] < replace_seq
    # and binpack under deletes is repeat-safe: nothing small remains
    assert t.rewrite_small_files(spark, min_rows=10) == 0


def test_zvalue_nulls_rank_at_low_corner(spark, tmp_path):
    """r9 advisor: least/greatest SKIP NULLs, so the old clamp sent NULL
    values to rank 65535 (high corner) while the docstring promised 0.
    NULLs must interleave as rank 0 — the z-value of an all-NULL row
    equals the z-value of the minimum row, and z-ordering a table with
    NULLs clusters them with the low corner, not the high one."""
    loc = str(tmp_path / "znull")
    t = I.IcebergFsTable(loc)
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, None, None), (3, 1000.0, 1000.0)],
        "id bigint, x double, y double",
    )
    t.append(df)
    z = t._zvalue(spark, t.read(spark), ["x", "y"])
    rows = {
        r["id"]: r["z"]
        for r in t.read(spark).withColumn("z", z).collect()
    }
    assert rows[2] == rows[1] == 0  # NULL ranks 0 == the min row
    assert rows[3] > 0


def test_rewrite_position_delete_files_dedups_overlapping_tombstones(
    spark, tmp_path
):
    """r9 advisor: the same (file_path, pos) row present in multiple old
    delete files (overlapping delete_where commits) must consolidate to
    ONE row, like the jar action — duplicated tombstones inflate record
    counts and read-side work."""
    import pyarrow.parquet as pq

    loc = str(tmp_path / "rpd_dup")
    t = I.IcebergFsTable(loc)
    t.append(
        spark.createDataFrame(
            [(i, f"x{i}", 1.0, []) for i in range(100)],
            "id bigint, name string, score double, tags array<string>",
        ).coalesce(1)
    )
    # first commit tombstones id 7 and 9; a second, OVERLAPPING delete
    # file re-tombstones one of the same (file_path, pos) rows — the
    # shape external writers / concurrent engines produce (delete_where
    # itself targets live rows only, so it can't make the overlap)
    assert t.delete_where(spark, "id = 7 or id = 9") == 2
    _, _, pos0 = t._live()
    tab0 = pq.read_table(pos0[0]["file_path"])
    dup = spark.createDataFrame(
        [(tab0.column("file_path").to_pylist()[0],
          tab0.column("pos").to_pylist()[0], "{}")],
        "file_path string, pos bigint, _pkey string",
    )
    files, _ = t._write_pos_delete_parquets(dup, [], n_targets=1)
    t._write_snapshot(None, "delete", pos_delete_files=files)
    _, _, pos_before = t._live()
    total_before = sum(int(d["record_count"]) for d in pos_before)
    assert len(pos_before) == 2 and total_before == 3  # one row duplicated
    before = sorted(r["id"] for r in t.read(spark).collect())

    assert t.rewrite_position_delete_files(spark) == len(pos_before)
    _, _, pos_after = t._live()
    total_after = sum(int(d["record_count"]) for d in pos_after)
    assert total_after == 2  # distinct positions only
    pairs = [
        p
        for d in pos_after
        for p in zip(
            pq.read_table(d["file_path"]).column("file_path").to_pylist(),
            pq.read_table(d["file_path"]).column("pos").to_pylist(),
        )
    ]
    assert len(pairs) == len(set(pairs)) == 2
    assert sorted(r["id"] for r in t.read(spark).collect()) == before


def test_rewrite_manifests_consolidates_per_spec_and_content(spark, tmp_path):
    """rewrite_manifests (the jar action): N append commits accrete N
    manifests; consolidation rewrites the live entries into one
    EXISTING-entry manifest per (content, spec) with ORIGINAL sequence
    numbers — metadata only, reads identical, time travel intact."""
    loc = str(tmp_path / "rm1")
    t = I.IcebergFsTable(loc)
    for j in range(6):
        t.append(_df(spark, [(10 * j + k, f"x{j}.{k}", 1.0, [])
                             for k in range(3)]))
    md = t.metadata()
    before_manifests = t._manifest_list_records(md)
    assert len(before_manifests) == 6
    before_rows = sorted(r["id"] for r in t.read(spark).collect())
    old_snap = md["current-snapshot-id"]
    seqs_before = sorted(int(f["_seq"]) for f in t._live()[0])

    n_files = len(t._live()[0])
    assert t.rewrite_manifests() == 6
    after = t._manifest_list_records(t.metadata())
    assert len(after) == 1  # one spec, data only
    assert after[0]["existing_files_count"] == n_files
    assert after[0]["added_files_count"] == 0
    # entries keep their original sequence numbers (applicability must
    # not move) and the data files were not rewritten
    assert sorted(int(f["_seq"]) for f in t._live()[0]) == seqs_before
    assert sorted(r["id"] for r in t.read(spark).collect()) == before_rows
    # time travel to the pre-consolidation snapshot still sees its own
    # manifest list
    assert (
        sorted(r["id"] for r in
               t.read(spark, snapshot_id=old_snap).collect())
        == before_rows
    )
    # idempotent below the threshold
    assert t.rewrite_manifests() == 0


def test_rewrite_manifests_keeps_delete_applicability(spark, tmp_path):
    """Position AND equality tombstones consolidate into a deletes
    manifest at their original sequence numbers; merge-on-read results
    are identical before/after."""
    loc = str(tmp_path / "rm2")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, [(i, f"x{i}", 1.0, []) for i in range(8)]))
    t.append(_df(spark, [(100, "y", 2.0, [])]))
    t.upsert(_df(spark, [(3, "three-v2", 3.0, [])]), ["id"])
    assert t.delete_where(spark, "id = 5") == 1
    before = sorted((r["id"], r["name"]) for r in t.read(spark).collect())
    assert (3, "three-v2") in before and all(i != 5 for i, _ in before)
    _, eq_b, pos_b = t._live()
    seqs_b = sorted(
        int(d["_seq"]) for d in eq_b + pos_b
    )

    n = t.rewrite_manifests(min_manifests=2)
    assert n >= 4
    after_list = t._manifest_list_records(t.metadata())
    # one data manifest + one deletes manifest (single spec)
    assert len(after_list) == 2
    assert sorted(m["content"] for m in after_list) == [0, 1]
    _, eq_a, pos_a = t._live()
    assert sorted(int(d["_seq"]) for d in eq_a + pos_a) == seqs_b
    assert (
        sorted((r["id"], r["name"]) for r in t.read(spark).collect())
        == before
    )


def test_rewrite_manifests_across_spec_evolution(spark, tmp_path):
    """Mixed-spec snapshots consolidate into one manifest PER SPEC —
    each entry must stay under the spec its partition tuple was written
    with, or pruning would misread the tuples."""
    loc = str(tmp_path / "rm3")
    t = I.IcebergFsTable(loc)
    t.append(_df(spark, [(1, "a", 1.0, []), (2, "b", 2.0, [])]))
    t.evolve_spec(["name"])
    t.append(_df(spark, [(3, "c", 3.0, []), (4, "d", 4.0, [])]))
    t.append(_df(spark, [(5, "e", 5.0, [])]))
    before = sorted(r["id"] for r in t.read(spark).collect())

    assert t.rewrite_manifests(min_manifests=2) == 3
    after_list = t._manifest_list_records(t.metadata())
    assert len(after_list) == 2  # one per partition spec
    assert sorted(r["id"] for r in t.read(spark).collect()) == before


def test_expire_after_rewrite_manifests_keeps_live_files(spark, tmp_path):
    """GC interplay: after consolidation, expiring every older snapshot
    must keep all data files (they are referenced by the consolidated
    EXISTING manifest) while the superseded per-commit manifests become
    eligible; reads stay identical."""
    loc = str(tmp_path / "rm_gc")
    t = I.IcebergFsTable(loc)
    for j in range(5):
        t.append(_df(spark, [(j, f"x{j}", 1.0, [])]))
    before = sorted(r["id"] for r in t.read(spark).collect())
    assert t.rewrite_manifests(min_manifests=2) == 5
    t.expire_snapshots(keep_last=1)
    assert sorted(r["id"] for r in t.read(spark).collect()) == before
    # and the consolidated state is still maintainable
    assert t.rewrite_manifests() == 0  # single manifest already
