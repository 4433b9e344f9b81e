"""SigV4 signer: validated against the worked example in the AWS General
Reference "Signature Version 4 signing process" documentation (the
AKIDEXAMPLE ListUsers request on iam, 2015-08-30), plus behavioral checks
mirroring the reference's AWSSigner (service inference, s3 content-hash
header)."""

from __future__ import annotations

from flinkrunner_spark.util.aws_signer import (
    AwsCredentials,
    resolve_service,
    sign_request,
)

CREDS = AwsCredentials(
    access_key="AKIDEXAMPLE",
    secret_key="wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
)


def test_documented_iam_example_vector():
    """The AWS-documented GET ListUsers example: the published expected
    signature is 5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7."""
    out = sign_request(
        method="GET",
        url="https://iam.amazonaws.com/?Action=ListUsers&Version=2010-05-08",
        headers={
            "Content-Type": "application/x-www-form-urlencoded; charset=utf-8",
        },
        payload=b"",
        credentials=CREDS,
        region="us-east-1",
        amz_date="20150830T123600Z",
    )
    from flinkrunner_spark.util.aws_signer import signing_key

    # documented intermediates from the same worked example
    assert (
        signing_key(CREDS.secret_key, "20150830", "us-east-1", "iam").hex()
        == "c4afb1cc5771d871763a393e44b703571b55cc28424d1a5e86da6ed3c154a4b9"
    )
    auth = out["authorization"]
    assert auth.startswith(
        "AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20150830/us-east-1/iam/"
        "aws4_request, SignedHeaders=content-type;host;x-amz-date, Signature="
    )
    assert auth.endswith(
        "5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7"
    )


def test_service_inference_matches_reference_pattern():
    assert resolve_service("iam.amazonaws.com") == "iam"
    assert resolve_service("kinesis.us-west-2.amazonaws.com") == "kinesis"
    assert resolve_service("firehose.eu-west-1.amazonaws.com") == "firehose"
    assert resolve_service("example.org") is None


def test_s3_gets_content_sha_and_single_encoding():
    out = sign_request(
        method="PUT",
        url="https://mybucket.s3.amazonaws.com/path with space/key",
        headers={},
        payload=b"hello",
        credentials=CREDS,
        region="us-east-1",
        amz_date="20150830T123600Z",
        service="s3",
    )
    import hashlib

    assert out["x-amz-content-sha256"] == hashlib.sha256(b"hello").hexdigest()
    assert "x-amz-content-sha256" in out["authorization"]


def test_session_token_is_signed():
    creds = AwsCredentials("AK", "SK", session_token="TOK")
    out = sign_request(
        method="POST",
        url="https://kinesis.us-east-1.amazonaws.com/",
        headers={"Content-Type": "application/x-amz-json-1.1"},
        payload=b"{}",
        credentials=creds,
        region="us-east-1",
        amz_date="20240101T000000Z",
    )
    assert out["x-amz-security-token"] == "TOK"
    assert "x-amz-security-token" in out["authorization"]


def test_signature_changes_with_inputs():
    base = dict(
        method="GET",
        url="https://iam.amazonaws.com/?Action=ListUsers&Version=2010-05-08",
        headers={"Content-Type": "application/x-www-form-urlencoded; charset=utf-8"},
        payload=b"",
        credentials=CREDS,
        region="us-east-1",
        amz_date="20150830T123600Z",
    )
    sig = lambda o: o["authorization"].rsplit("Signature=", 1)[1]  # noqa: E731
    ref = sig(sign_request(**base))
    assert sig(sign_request(**{**base, "amz_date": "20150830T123601Z"})) != ref
    assert sig(sign_request(**{**base, "region": "us-west-2"})) != ref
    assert sig(sign_request(**{**base, "payload": b"x"})) != ref


def test_kinesis_batching_and_request_shape(spark):
    """Kinesis PutRecords prep: batches respect count and byte limits,
    bodies are valid API payloads, headers sign correctly — all offline
    (reference KinesisSinkConfig's max.batch.size knobs)."""
    import base64
    import json

    from flinkrunner_spark.sinks.factory import (
        FirehoseSinkConfig,
        KinesisSinkConfig,
    )

    df = spark.createDataFrame(
        [(i, f"ev{i}", float(i)) for i in range(25)],
        "event_id long, event_type string, value double",
    )
    sink = KinesisSinkConfig(
        "events-stream",
        {
            "connector": "kinesis",
            "key.column": "event_id",
            "max.batch.size.in.number": 10,
        },
    )
    batches = sink.prepare_batches(df.coalesce(1)).collect()
    assert [b["n_records"] for b in batches] == [10, 10, 5]
    body = json.loads(batches[0]["body"])
    assert body["StreamName"] == "events-stream"
    rec = body["Records"][0]
    assert set(rec) == {"Data", "PartitionKey"}
    decoded = json.loads(base64.b64decode(rec["Data"]))
    assert set(decoded) == {"event_id", "event_type", "value"}
    assert rec["PartitionKey"] == str(decoded["event_id"])

    # byte-limit path: tiny cap forces one record per batch
    tiny = KinesisSinkConfig(
        "s", {"connector": "kinesis", "max.batch.size.in.bytes": 10}
    )
    nb = tiny.prepare_batches(df.coalesce(1)).collect()
    assert all(b["n_records"] == 1 for b in nb) and len(nb) == 25

    hdrs = sink._aws().signed_headers(
        sink._API_TARGET, batches[0]["body"].encode(), "20240101T000000Z"
    )
    assert hdrs["x-amz-target"] == "Kinesis_20131202.PutRecords"
    assert "Credential=/20240101/us-east-1/kinesis/aws4_request" in hdrs[
        "authorization"
    ]

    # firehose: same machinery, PutRecordBatch shape, no partition keys
    fh = FirehoseSinkConfig("d-stream", {"connector": "firehose"})
    fb = json.loads(fh.prepare_batches(df.coalesce(1)).first()["body"])
    assert fb["DeliveryStreamName"] == "d-stream"
    assert set(fb["Records"][0]) == {"Data"}

    # posting without credentials raises the honest gate
    import pytest

    with pytest.raises(NotImplementedError, match="credentials"):
        sink.write(df)


def test_nondefault_port_lands_in_signed_host_header():
    """A localstack-style endpoint override (http://localhost:4566) must
    sign the SAME host header urllib will send — host:port for
    non-default ports, bare host for scheme defaults."""
    out = sign_request(
        method="POST",
        url="http://localhost:4566/",
        headers={},
        payload=b"{}",
        credentials=CREDS,
        region="us-east-1",
        amz_date="20150830T123600Z",
        service="kinesis",
    )
    assert out["host"] == "localhost:4566"
    default = sign_request(
        method="POST",
        url="https://kinesis.us-east-1.amazonaws.com:443/",
        headers={},
        payload=b"{}",
        credentials=CREDS,
        region="us-east-1",
        amz_date="20150830T123600Z",
    )
    assert default["host"] == "kinesis.us-east-1.amazonaws.com"


def test_partial_failure_extraction_kinesis_firehose_es():
    """PutRecords / PutRecordBatch / _bulk all return 200 with per-record
    failures in the body; the sinks must extract exactly the failed
    subset."""
    from flinkrunner_spark.sinks.factory import (
        ElasticsearchSinkConfig,
        FirehoseSinkConfig,
        KinesisSinkConfig,
    )

    recs = [{"Data": "a"}, {"Data": "b"}, {"Data": "c"}]
    ksink = KinesisSinkConfig("s", {"connector": "kinesis"})
    ok = {"FailedRecordCount": 0, "Records": [{}, {}, {}]}
    assert ksink.failed_records(ok, recs) == []
    partial = {
        "FailedRecordCount": 2,
        "Records": [
            {"SequenceNumber": "1"},
            {"ErrorCode": "ProvisionedThroughputExceededException"},
            {"ErrorCode": "InternalFailure"},
        ],
    }
    assert ksink.failed_records(partial, recs) == recs[1:]

    fsink = FirehoseSinkConfig("s", {"connector": "firehose"})
    fresp = {
        "FailedPutCount": 1,
        "RequestResponses": [{"RecordId": "x"}, {"ErrorCode": "Throttled"}, {}],
    }
    assert fsink.failed_records(fresp, recs) == [recs[1]]

    pairs = [("a1", "d1"), ("a2", "d2")]
    bulk_ok = {"errors": False, "items": [{}, {}]}
    assert ElasticsearchSinkConfig.failed_actions(bulk_ok, pairs) == []
    bulk_bad = {
        "errors": True,
        "items": [
            {"index": {"status": 201}},
            {"index": {"status": 429, "error": {"type": "es_rejected"}}},
        ],
    }
    assert ElasticsearchSinkConfig.failed_actions(bulk_bad, pairs) == [pairs[1]]


def test_post_with_partial_retry_retries_only_failed_subset():
    """The retry loop re-POSTs only the failed records with backoff, and
    raises (never drops) when retries exhaust."""
    import json

    import pytest

    from flinkrunner_spark.sinks.factory import post_with_partial_retry

    posted, slept = [], []
    # fail record 'b' once, then succeed
    state = {"calls": 0}

    def post(body):
        posted.append(json.loads(body))
        state["calls"] += 1
        recs = posted[-1]["Records"]
        if state["calls"] == 1:
            return {
                "FailedRecordCount": 1,
                "Records": [
                    {} if r["Data"] != "b" else {"ErrorCode": "Throttled"}
                    for r in recs
                ],
            }
        return {"FailedRecordCount": 0, "Records": [{}] * len(recs)}

    def failed(resp, records):
        if not resp.get("FailedRecordCount"):
            return []
        return [
            r
            for r, st in zip(records, resp["Records"])
            if st.get("ErrorCode")
        ]

    recs = [{"Data": "a"}, {"Data": "b"}, {"Data": "c"}]
    post_with_partial_retry(
        post,
        recs,
        lambda rs: json.dumps({"Records": rs}).encode(),
        failed,
        max_retries=3,
        backoff_s=0.5,
        sleep=slept.append,
    )
    assert [len(p["Records"]) for p in posted] == [3, 1]
    assert posted[1]["Records"] == [{"Data": "b"}]
    assert slept == [0.5]

    # permanent failure: raises after max_retries, with backoff doubling
    slept.clear()
    with pytest.raises(RuntimeError, match="still failing"):
        post_with_partial_retry(
            lambda body: {
                "FailedRecordCount": 1,
                "Records": [{"ErrorCode": "Boom"}],
            },
            [{"Data": "x"}],
            lambda rs: json.dumps({"Records": rs}).encode(),
            failed,
            max_retries=2,
            backoff_s=0.1,
            sleep=slept.append,
        )
    assert slept == [0.1, 0.2]


def test_kinesis_source_request_construction_and_parsing():
    """KinesisSourceConfig (reference model/source/KinesisSourceConfig
    .scala): stream list forms, starting positions incl. AT_TIMESTAMP
    with fractional-epoch and formatted timestamps, request bodies, and
    GetRecords response parsing — all offline."""
    import base64
    import json

    import pytest

    from flinkrunner_spark.sources.factory import KinesisSourceConfig

    c = KinesisSourceConfig(
        "src", {"connector": "kinesis", "stream": "a, b"}
    )
    assert c.streams() == ["a", "b"]
    assert KinesisSourceConfig(
        "src", {"connector": "kinesis", "streams": ["x", "y"]}
    ).streams() == ["x", "y"]

    tgt, body = c.list_shards_request("a")
    assert tgt == "Kinesis_20131202.ListShards"
    assert json.loads(body) == {"StreamName": "a"}

    tgt, body = c.shard_iterator_request("a", "shardId-000")
    b = json.loads(body)
    assert tgt == "Kinesis_20131202.GetShardIterator"
    assert b["ShardIteratorType"] == "TRIM_HORIZON"  # reference default
    assert b["ShardId"] == "shardId-000"

    at = KinesisSourceConfig(
        "src",
        {"connector": "kinesis", "stream": "a",
         "starting.position": "at_timestamp", "starting.timestamp": "1700000000.5"},
    )
    assert json.loads(at.shard_iterator_request("a", "s")[1])["Timestamp"] == 1700000000.5
    fmt = KinesisSourceConfig(
        "src",
        {"connector": "kinesis", "stream": "a",
         "starting.position": "AT_TIMESTAMP",
         "starting.timestamp": "2024-01-01T00:00:00.000+0000"},
    )
    assert json.loads(fmt.shard_iterator_request("a", "s")[1])["Timestamp"] == 1704067200.0
    with pytest.raises(ValueError, match="starting.timestamp"):
        KinesisSourceConfig(
            "src", {"connector": "kinesis", "stream": "a",
                    "starting.position": "AT_TIMESTAMP"},
        ).shard_iterator_request("a", "s")
    with pytest.raises(ValueError, match="starting.position"):
        KinesisSourceConfig(
            "src", {"connector": "kinesis", "stream": "a",
                    "starting.position": "MIDDLE"},
        ).shard_iterator_request("a", "s")

    resp = {
        "Records": [
            {"SequenceNumber": "42", "PartitionKey": "pk",
             "ApproximateArrivalTimestamp": 1.5,
             "Data": base64.b64encode("hello".encode()).decode()},
        ],
        "NextShardIterator": "n",
        "MillisBehindLatest": 0,
    }
    rows = KinesisSourceConfig.parse_records(resp, "a", "s0")
    assert rows == [("a", "s0", "42", "pk", 1.5, "hello")]


def test_kinesis_source_gates(spark):
    import pytest

    from flinkrunner_spark.sources.factory import KinesisSourceConfig

    with pytest.raises(NotImplementedError, match="credentials"):
        KinesisSourceConfig(
            "src", {"connector": "kinesis", "stream": "a"}
        ).load(spark)
    # EFO is real as of r7 (SubscribeToShard over HTTP/2) but still
    # needs credentials first, same as the polling path ...
    with pytest.raises(NotImplementedError, match="credentials"):
        KinesisSourceConfig(
            "src", {"connector": "kinesis", "stream": "a", "use.efo": True}
        ).load(spark)
    # ... and is the BOUNDED path only: streaming + use.efo refuses.
    with pytest.raises(NotImplementedError, match="use.efo"):
        KinesisSourceConfig(
            "src", {"connector": "kinesis", "stream": "a",
                    "use.efo": True, "streaming": True}
        ).load(spark)
    with pytest.raises(NotImplementedError, match="streaming"):
        KinesisSourceConfig(
            "src", {"connector": "kinesis", "stream": "a",
                    "streaming": True}
        ).load(spark)
