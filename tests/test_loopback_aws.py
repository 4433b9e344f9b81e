"""Loopback Kinesis / Elasticsearch harness tests — the e2e proof for
the two AWS-shaped sinks that were previously network-gated-only
(reference `model/sink/KinesisSinkConfig.scala:25-67`,
`model/sink/ElasticsearchSinkConfig.scala`; source
`model/source/KinesisSourceConfig.scala`).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from flinkrunner_spark.testing import LoopbackElasticsearch, LoopbackKinesis


# -- kinesis ----------------------------------------------------------------


def _signed_post(endpoint, target, body: bytes) -> dict:
    from flinkrunner_spark.util.aws_signer import AwsJsonClient

    return AwsJsonClient(
        "kinesis", "us-east-1", "k", "s", endpoint=endpoint
    ).post(target, body)


def test_kinesis_put_list_iterate_get():
    import base64

    with LoopbackKinesis(num_shards=2) as ks:
        recs = [
            {"Data": base64.b64encode(f"m{i}".encode()).decode(),
             "PartitionKey": f"k{i}"}
            for i in range(50)
        ]
        out = _signed_post(
            ks.endpoint, "Kinesis_20131202.PutRecords",
            json.dumps({"StreamName": "s", "Records": recs}).encode(),
        )
        assert out["FailedRecordCount"] == 0
        assert len(out["Records"]) == 50
        shards = _signed_post(
            ks.endpoint, "Kinesis_20131202.ListShards",
            json.dumps({"StreamName": "s"}).encode(),
        )["Shards"]
        assert len(shards) == 2
        got = []
        for sh in shards:
            it = _signed_post(
                ks.endpoint, "Kinesis_20131202.GetShardIterator",
                json.dumps({"StreamName": "s", "ShardId": sh["ShardId"],
                            "ShardIteratorType": "TRIM_HORIZON"}).encode(),
            )["ShardIterator"]
            rr = _signed_post(
                ks.endpoint, "Kinesis_20131202.GetRecords",
                json.dumps({"ShardIterator": it, "Limit": 100}).encode(),
            )
            assert rr["MillisBehindLatest"] == 0
            got += [
                base64.b64decode(r["Data"]).decode() for r in rr["Records"]
            ]
        assert sorted(got) == sorted(f"m{i}" for i in range(50))
        # both shards got traffic (hash-ring routing spreads keys)
        # and sequence numbers are monotonic within each shard
        for sh in shards:
            assert ks.streams["s"][sh["ShardId"]]
            seqs = [int(r[0]) for r in ks.streams["s"][sh["ShardId"]]]
            assert seqs == sorted(seqs)


def test_kinesis_latest_iterator_skips_history():
    import base64

    with LoopbackKinesis(num_shards=1) as ks:
        put = lambda i: _signed_post(  # noqa: E731
            ks.endpoint, "Kinesis_20131202.PutRecords",
            json.dumps({"StreamName": "s", "Records": [
                {"Data": base64.b64encode(f"m{i}".encode()).decode(),
                 "PartitionKey": "k"}]}).encode(),
        )
        put(1)
        it = _signed_post(
            ks.endpoint, "Kinesis_20131202.GetShardIterator",
            json.dumps({"StreamName": "s", "ShardId": "shardId-000000000000",
                        "ShardIteratorType": "LATEST"}).encode(),
        )["ShardIterator"]
        put(2)
        rr = _signed_post(
            ks.endpoint, "Kinesis_20131202.GetRecords",
            json.dumps({"ShardIterator": it, "Limit": 100}).encode(),
        )
        import base64 as b64

        assert [b64.b64decode(r["Data"]).decode() for r in rr["Records"]] == ["m2"]


def test_kinesis_unsigned_rejected():
    with LoopbackKinesis() as ks:
        req = urllib.request.Request(
            ks.endpoint, data=b"{}",
            headers={"X-Amz-Target": "Kinesis_20131202.ListShards"},
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 403


def test_kinesis_sink_source_e2e(spark):
    """The full config-surface path the driver key exercises, at unit
    scale: executor-signed PutRecords → shard-parallel polling read."""
    from flinkrunner_spark.sinks.factory import KinesisSinkConfig
    from flinkrunner_spark.sources.factory import KinesisSourceConfig

    df = spark.range(0, 100).selectExpr("id", "id % 5 AS grp")
    with LoopbackKinesis(num_shards=3) as ks:
        creds = {"aws.access.key.id": "k", "aws.secret.access.key": "s"}
        KinesisSinkConfig(
            "t",
            {"connector": "kinesis", "stream": "ids", "key.column": "id",
             "region": "us-east-1", "endpoint": ks.endpoint, **creds},
        ).write(df)
        back = KinesisSourceConfig(
            "t",
            {"connector": "kinesis", "stream": "ids",
             "starting.position": "TRIM_HORIZON",
             "aws.region": "us-east-1", "aws.endpoint": ks.endpoint,
             **creds},
        ).load(spark)
        rows = back.collect()
        assert len(rows) == 100
        ids = {json.loads(r.value)["id"] for r in rows}
        assert ids == set(range(100))
        assert {r.partition_key for r in rows} == {str(i) for i in range(100)}
        assert len({r.shard_id for r in rows}) == 3


# -- elasticsearch ----------------------------------------------------------


def test_es_bulk_and_search():
    with LoopbackElasticsearch() as es:
        body = "\n".join([
            json.dumps({"index": {"_index": "i1", "_id": "a"}}),
            json.dumps({"x": 1}),
            json.dumps({"index": {"_index": "i1", "_id": "b"}}),
            json.dumps({"x": 2}),
            json.dumps({"index": {"_index": "i1", "_id": "a"}}),  # upsert
            json.dumps({"x": 10}),
        ]) + "\n"
        req = urllib.request.Request(
            f"{es.transport}/_bulk", data=body.encode(),
            headers={"Content-Type": "application/x-ndjson"}, method="POST",
        )
        out = json.loads(urllib.request.urlopen(req).read().decode())
        assert out["errors"] is False and len(out["items"]) == 3
        hits = json.loads(
            urllib.request.urlopen(
                f"{es.transport}/i1/_search?size=100"
            ).read().decode()
        )["hits"]["hits"]
        docs = {h["_id"]: h["_source"] for h in hits}
        assert docs == {"a": {"x": 10}, "b": {"x": 2}}  # id upsert won


def test_es_sink_e2e(spark):
    from flinkrunner_spark.sinks.factory import ElasticsearchSinkConfig

    df = spark.range(0, 120).selectExpr("id", "concat('n', id) AS name")
    with LoopbackElasticsearch() as es:
        ElasticsearchSinkConfig(
            "t",
            {"connector": "elasticsearch", "index": "ids",
             "id.column": "id", "transports": [es.transport],
             "bulk.flush.max.actions": 32},
        ).write(df)
        hits = json.loads(
            urllib.request.urlopen(
                f"{es.transport}/ids/_search?size=1000"
            ).read().decode()
        )["hits"]["hits"]
        assert len(hits) == 120
        assert {h["_source"]["name"] for h in hits} == {
            f"n{i}" for i in range(120)
        }


def test_kinesis_streaming_micro_batches(spark):
    """kinesis-native Simple stream reader: rate-capped catch-up
    batches, live appends, per-shard sequence offsets."""
    from flinkrunner_spark.sinks.factory import KinesisSinkConfig
    from flinkrunner_spark.sources.factory import KinesisSourceConfig

    with LoopbackKinesis(num_shards=2) as ks:
        creds = {"aws.access.key.id": "k", "aws.secret.access.key": "s"}
        sink = KinesisSinkConfig(
            "t",
            {"connector": "kinesis", "stream": "st", "key.column": "id",
             "region": "us-east-1", "endpoint": ks.endpoint, **creds},
        )
        sink.write(spark.range(0, 50).selectExpr("id"))
        sdf = KinesisSourceConfig(
            "t",
            {"connector": "kinesis", "stream": "st", "streaming": True,
             "aws.region": "us-east-1", "aws.endpoint": ks.endpoint,
             "max.records.per.shard": 10, **creds},
        ).load(spark)
        assert sdf.isStreaming
        q = sdf.writeStream.format("memory").queryName("kin_t").start()
        try:
            q.processAllAvailable()
            sink.write(spark.range(50, 60).selectExpr("id"))
            q.processAllAvailable()
        finally:
            q.stop()
        ids = sorted(
            json.loads(r.value)["id"]
            for r in spark.sql("SELECT value FROM kin_t").collect()
        )
        assert ids == list(range(60))
        nb = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        assert nb >= 3


def test_kinesis_streaming_checkpoint_restart(spark, tmp_path):
    """Sequence-number offsets checkpoint and REPLAY deterministically
    (AFTER_SEQUENCE_NUMBER) — restart resumes with no loss and no
    duplicates, the exactly-once property AMQP cannot offer."""
    from flinkrunner_spark.sinks.factory import KinesisSinkConfig
    from flinkrunner_spark.sources.factory import KinesisSourceConfig

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    with LoopbackKinesis(num_shards=2) as ks:
        creds = {"aws.access.key.id": "k", "aws.secret.access.key": "s"}
        sink = KinesisSinkConfig(
            "t",
            {"connector": "kinesis", "stream": "ck", "key.column": "id",
             "region": "us-east-1", "endpoint": ks.endpoint, **creds},
        )
        src = KinesisSourceConfig(
            "t",
            {"connector": "kinesis", "stream": "ck", "streaming": True,
             "aws.region": "us-east-1", "aws.endpoint": ks.endpoint,
             **creds},
        )

        def run_once():
            q = (
                src.load(spark)
                .selectExpr("value AS v")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        sink.write(spark.range(0, 30).selectExpr("id"))
        run_once()
        ids = sorted(
            json.loads(r.v)["id"] for r in spark.read.parquet(out).collect()
        )
        assert ids == list(range(30))
        sink.write(spark.range(30, 45).selectExpr("id"))
        run_once()
        ids = sorted(
            json.loads(r.v)["id"] for r in spark.read.parquet(out).collect()
        )
        assert ids == list(range(45))  # resumed, no loss, no dupes


def test_firehose_sink_e2e(spark):
    """Firehose PutRecordBatch against the loopback endpoint — the
    delivery-stream twin of the kinesis sink (no partition keys, no
    read-back API; stored records are the assertion surface)."""
    import base64

    from flinkrunner_spark.sinks.factory import FirehoseSinkConfig

    df = spark.range(0, 80).selectExpr("id", "concat('f', id) AS tag")
    with LoopbackKinesis() as ks:
        FirehoseSinkConfig(
            "t",
            {"connector": "firehose", "stream": "dlv",
             "region": "us-east-1", "endpoint": ks.endpoint,
             "aws.access.key.id": "k", "aws.secret.access.key": "s",
             "max.batch.size.in.number": 25},
        ).write(df)
        stored = [
            json.loads(base64.b64decode(d).decode())
            for d in ks.deliveries["dlv"]
        ]
        assert len(stored) == 80
        assert {r["tag"] for r in stored} == {f"f{i}" for i in range(80)}


def test_kinesis_latest_pins_tip_without_draining_history(spark):
    """Regression (r6 advice): startingposition=LATEST must pin the tip
    in O(1) — an AT_TIMESTAMP position ("@ts:<ms>") — NOT by reading
    every shard's full retention window through the driver. History is
    skipped, records produced after query start stream in."""
    from flinkrunner_spark.sinks.factory import KinesisSinkConfig
    from flinkrunner_spark.sources.kinesis_datasource import (
        KinesisSimpleStreamReader,
    )

    with LoopbackKinesis(num_shards=2) as ks:
        creds = {"aws.access.key.id": "k", "aws.secret.access.key": "s"}
        sink = KinesisSinkConfig(
            "t",
            {"connector": "kinesis", "stream": "lt", "key.column": "id",
             "region": "us-east-1", "endpoint": ks.endpoint, **creds},
        )
        sink.write(spark.range(0, 500).selectExpr("id"))  # history

        # latest.skew.ms=0: exact-boundary pin for the loopback, where
        # client and "service" share one clock. The default backs the
        # pin off 5s so real-AWS clock skew can't skip post-start
        # records — asserted separately below.
        reader = KinesisSimpleStreamReader(
            {"stream": "lt", "region": "us-east-1",
             "endpoint": ks.endpoint, "accesskey": "k", "secretkey": "s",
             "startingposition": "LATEST", "latest.skew.ms": "0"}
        )
        calls_before = ks._seq  # GetRecords never mutates _seq; produce does
        off = reader.initialOffset()
        assert set(off) == {"shardId-000000000000", "shardId-000000000001"}
        assert all(v.startswith("@ts:") for v in off.values()), off
        assert ks._seq == calls_before  # no data touched at pin time

        # history is invisible from the pin...
        rows, end = reader.read(off)
        assert list(rows) == []
        assert end == off  # the position rides through unchanged
        # ...but post-start records arrive (wall clock moved past the pin)
        import time as _t

        _t.sleep(0.01)
        sink.write(spark.range(500, 520).selectExpr("id"))
        rows, end2 = reader.read(end)
        got = sorted(json.loads(r[5])["id"] for r in rows)
        assert got == list(range(500, 520))
        assert all(not v.startswith("@ts:") for v in end2.values())
        # replay of the first (empty) batch plans nothing
        assert list(reader.readBetweenOffsets(off, end)) == []
        # replay of the data batch is exact
        replay = sorted(
            json.loads(r[5])["id"]
            for r in reader.readBetweenOffsets(end, end2)
        )
        assert replay == list(range(500, 520))

        # default pin backs off by the skew allowance (at-least-once on
        # the boundary: driver clock ahead of the service must not make
        # post-start records invisible forever)
        import time as _time

        dflt = KinesisSimpleStreamReader(
            {"stream": "lt", "region": "us-east-1",
             "endpoint": ks.endpoint, "accesskey": "k", "secretkey": "s",
             "startingposition": "LATEST"}
        )
        now_ms = _time.time() * 1000
        for v in dflt.initialOffset().values():
            pin_ms = int(v.removeprefix("@ts:"))
            assert 3000 <= now_ms - pin_ms <= 8000  # ~5s, clock-tolerant


def test_kinesis_replay_stops_at_sequence_bound(spark):
    """Regression (r6 advice): readBetweenOffsets must stop at the
    NUMERIC sequence bound — if the exact stop record has aged out of
    retention, the drain otherwise runs to the tip and the replayed
    batch returns MORE rows than originally planned."""
    from flinkrunner_spark.sinks.factory import KinesisSinkConfig
    from flinkrunner_spark.sources.kinesis_datasource import (
        KinesisSimpleStreamReader,
    )

    with LoopbackKinesis(num_shards=1) as ks:
        creds = {"aws.access.key.id": "k", "aws.secret.access.key": "s"}
        KinesisSinkConfig(
            "t",
            {"connector": "kinesis", "stream": "bd", "key.column": "id",
             "region": "us-east-1", "endpoint": ks.endpoint, **creds},
        ).write(spark.range(0, 20).selectExpr("id"))
        reader = KinesisSimpleStreamReader(
            {"stream": "bd", "region": "us-east-1",
             "endpoint": ks.endpoint, "accesskey": "k", "secretkey": "s"}
        )
        shard = "shardId-000000000000"
        rows, end = reader.read({shard: ""})
        seqs = [r[2] for r in rows]
        assert len(seqs) == 20
        # simulate a trimmed stop record: drop the 10th record from the
        # log, then replay to its (now absent) sequence number
        with ks.lock:
            log = ks.streams["bd"][shard]
            stop = log[9][0]
            del log[9]
        replay = list(reader.readBetweenOffsets({shard: ""}, {shard: stop}))
        # bounded at the sequence number: 9 survivors ≤ stop, and NONE
        # of the 10 records beyond the bound leak into the batch
        assert [r[2] for r in replay] == seqs[:9]


def test_firehose_roundtrip_matches_duckdb_oracle(spark):
    """The r11-slated firehose driver key, rehearsed with the driver's
    own compare at sf0.001: PutRecordBatch → buffered NDJSON object
    delivery → spark.read.json over the landing prefix."""
    from flinkrunner_spark import parity
    from flinkrunner_spark.plans.connectors import firehose_roundtrip
    from flinkrunner_spark.plans.oracle_sql import ORACLES

    sf = "/root/testdata/sf0.001"
    rec = parity.check(
        spark, parity.duck(sf), firehose_roundtrip, ORACLES["firehose_roundtrip"], sf
    )
    assert parity.passed(rec) and rec["spark_rows"] > 0, rec
