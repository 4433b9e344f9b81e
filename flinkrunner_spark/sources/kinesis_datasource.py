"""`kinesis-native` — a Spark 4 Python Data Source streaming reader
over the signed polling client shared with `KinesisSourceConfig`.

The reference's Kinesis source (`model/source/KinesisSourceConfig
.scala`) is a STREAMING consumer; the jar-free path previously offered
bounded snapshot reads only. This reader makes it a true micro-batch
source on `SimpleDataSourceStreamReader`:

* offsets are ``{shard_id: last_sequence_number}`` dicts (empty string
  = shard start) — checkpointed by the engine;
* ``read(start)`` polls each shard from AFTER_SEQUENCE_NUMBER (or the
  configured starting position for fresh shards) to the current tip
  (``MillisBehindLatest == 0``);
* ``readBetweenOffsets(start, end)`` REPLAYS deterministically —
  Kinesis retains records addressable by sequence number for the
  retention window, so failure recovery re-reads the exact range
  (stronger than the AMQP case: no redelivery dedup needed);
* driver-side reads (the Simple reader's contract) suit the polling
  model; for firehose-scale fan-in use the bounded
  `KinesisSourceConfig.load` snapshot + incremental scheduling, or the
  EFO jar transport on a real cluster.

Options (strings): ``stream``, ``region``, ``endpoint``,
``accesskey``/``secretkey``/``sessiontoken``, ``startingposition``
(TRIM_HORIZON | LATEST), ``maxrecordspershard`` per trigger,
``latest.skew.ms`` (default 5000) — LATEST is pinned as an
AT_TIMESTAMP boundary backed off by this allowance so a driver clock
running ahead of the service never skips post-start records; the trade
is that up to this much PRE-start data can be admitted at query start
(expect a few duplicate records if producers were active — set "0" for
a strict boundary when clocks are trusted, as the loopback tests do).
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

RECORD_SCHEMA = (
    "stream string, shard_id string, sequence_number string, "
    "partition_key string, arrival_ts double, value string"
)


class KinesisSimpleStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, opts: dict):
        self.opts = opts
        self.stream = opts["stream"]
        self.max_per_shard = int(opts.get("maxrecordspershard", 10_000))

    # -- signed transport (same request builders as the batch source) -------

    def _post(self, target: str, body: bytes) -> dict:
        from flinkrunner_spark.util.aws_signer import AwsJsonClient

        return AwsJsonClient(
            "kinesis",
            self.opts.get("region", "us-east-1"),
            self.opts.get("accesskey", ""),
            self.opts.get("secretkey", ""),
            self.opts.get("sessiontoken"),
            self.opts.get("endpoint"),
        ).post(target, body)

    def _shard_ids(self) -> list[str]:
        resp = self._post(
            "Kinesis_20131202.ListShards",
            json.dumps({"StreamName": self.stream}).encode(),
        )
        return sorted(sh["ShardId"] for sh in resp.get("Shards", []))

    def _iterator(self, shard: str, last_seq: str) -> str:
        if last_seq.startswith("@ts:"):
            # LATEST pinned as a TIMESTAMP position (see initialOffset):
            # resolves in O(1) on the server and replays to the same
            # boundary after a restart
            body = {
                "StreamName": self.stream,
                "ShardId": shard,
                "ShardIteratorType": "AT_TIMESTAMP",
                "Timestamp": float(last_seq[4:]) / 1000.0,
            }
        elif last_seq:
            body = {
                "StreamName": self.stream,
                "ShardId": shard,
                "ShardIteratorType": "AFTER_SEQUENCE_NUMBER",
                "StartingSequenceNumber": last_seq,
            }
        else:
            # an empty checkpoint entry always means "from the shard
            # start": LATEST is resolved ONCE in initialOffset (which
            # pins the tip sequence); a shard that was empty then — or
            # appeared later via resharding — holds only records newer
            # than query start, so TRIM_HORIZON is the loss-free
            # position (a fresh LATEST iterator here would skip
            # anything produced before this trigger)
            body = {
                "StreamName": self.stream,
                "ShardId": shard,
                "ShardIteratorType": "TRIM_HORIZON",
            }
        return self._post(
            "Kinesis_20131202.GetShardIterator", json.dumps(body).encode()
        )["ShardIterator"]

    def _drain(
        self, shard: str, last_seq: str, stop_seq: str | None, cap: int
    ):
        """Rows after ``last_seq`` up to ``stop_seq`` (inclusive; None =
        to the tip), capped at ``cap`` records. The stop is a NUMERIC
        BOUND, not an exact-match: Kinesis sequence numbers order
        numerically within a shard, so a replayed batch whose stop
        record has aged out of retention still stops at the bound
        instead of silently draining to the tip (returning more rows
        than the original batch planned)."""
        import base64

        def _num(s):
            try:
                return int(s)
            except (TypeError, ValueError):
                return None

        stop_n = _num(stop_seq) if stop_seq is not None else None
        rows = []
        itr = self._iterator(shard, last_seq)
        while itr and len(rows) < cap:
            rr = self._post(
                "Kinesis_20131202.GetRecords",
                json.dumps(
                    {"ShardIterator": itr,
                     "Limit": min(cap - len(rows), 10_000)}
                ).encode(),
            )
            for r in rr.get("Records", []):
                seq = r.get("SequenceNumber")
                if stop_n is not None and (_num(seq) or 0) > stop_n:
                    return rows  # past the replay bound
                rows.append(
                    (
                        self.stream,
                        shard,
                        seq,
                        r.get("PartitionKey"),
                        float(r.get("ApproximateArrivalTimestamp") or 0.0),
                        base64.b64decode(r.get("Data", "")).decode(
                            "utf-8", errors="replace"
                        ),
                    )
                )
                if stop_seq is not None and seq == stop_seq:
                    return rows
            itr = rr.get("NextShardIterator")
            if not rr.get("Records") and rr.get("MillisBehindLatest", 0) == 0:
                break
        return rows

    # -- SimpleDataSourceStreamReader contract ------------------------------

    def initialOffset(self) -> dict:
        # empty last-seq = "resolve the configured starting position on
        # first read"; LATEST must pin the tip NOW so records produced
        # after query start are not skipped. The pin is an AT_TIMESTAMP
        # position ("@ts:<epoch_ms>"), resolved O(1) — never a drain of
        # the shard's whole retention window through the driver (on a
        # real stream that is hours of data per shard at query start).
        # Kinesis exposes no "tip sequence number" API; a raw LATEST
        # iterator is neither serializable nor replayable, while the
        # timestamp pin restarts to the same boundary. AT_TIMESTAMP
        # resolves against SERVICE-side ApproximateArrivalTimestamp, so
        # a driver clock running AHEAD of the service would skip the
        # first seconds of post-start records — back the pin off by a
        # skew allowance (latest.skew.ms, default 5s): records produced
        # after query start are never skipped for skew within the
        # allowance, at the cost of possibly including up to that much
        # pre-start data (LATEST is an approximate boundary in every
        # connector; at-least-once is the safe side of it).
        if str(self.opts.get("startingposition", "")).upper() == "LATEST":
            import time

            skew = int(self.opts.get("latest.skew.ms", "5000"))
            pin = f"@ts:{int(time.time() * 1000) - skew}"
            return {shard: pin for shard in self._shard_ids()}
        return {shard: "" for shard in self._shard_ids()}

    def read(self, start: dict):
        end = dict(start)
        rows = []
        for shard in self._shard_ids():
            got = self._drain(
                shard, start.get(shard, ""), None, self.max_per_shard
            )
            if got:
                end[shard] = got[-1][2]
                rows.extend(got)
            else:
                end.setdefault(shard, "")
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        rows = []
        for shard, stop_seq in sorted(end.items()):
            lo = start.get(shard, "")
            # an "@ts:" end means that batch planned NO rows for the
            # shard (the position rode through unchanged) — nothing to
            # replay; real ends are sequence numbers and bound the drain
            if stop_seq and stop_seq != lo and not stop_seq.startswith("@"):
                rows.extend(self._drain(shard, lo, stop_seq, 10**9))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # sequence numbers are replayable; nothing to ack


class KinesisNativeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesis-native"

    def schema(self) -> str:
        return RECORD_SCHEMA

    def simpleStreamReader(self, schema) -> KinesisSimpleStreamReader:
        return KinesisSimpleStreamReader(dict(self.options))


def register(spark) -> None:
    """Idempotent registration of the `kinesis-native` format."""
    spark.dataSource.register(KinesisNativeDataSource)
