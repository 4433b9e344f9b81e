"""The keep-first dedup operator of ``streaming_dedup_keep_first``
(``flinkrunner_spark.jvm.KeepFirstDedup``), driven end to end through
seeded multi-file streams: it emits the rows of the pandas body the
Python operator ran before it (kept here as the reference), with in-batch
duplicates, ts ties, null ``ts``, null numeric keys and TTL on and off;
a run stopped after a batch and resumed from its checkpoint emits what an
uninterrupted run does; duplicates spread over the files of one batch are
one batch; and a bucket whose state did not change is not written."""

from __future__ import annotations

import os
import pickle
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flinkrunner_spark.streaming import pipelines as P

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
ARROW = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)
BUCKETS = 4


def reference_fn(key_cols, ttl_us):
    """The pandas body ``streaming_dedup_keep_first`` ran in Python
    workers: concat, sort, drop_duplicates, itertuples, Series, loc."""

    def fn(key, pdfs, state):
        seen = pickle.loads(state.get[0]) if state.exists else (
            {} if ttl_us is not None else set()
        )
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return iter(())
        full = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        pdf = full.drop_duplicates(subset=key_cols, keep="first")
        keys = [tuple(t) for t in pdf[key_cols].itertuples(index=False)]
        if ttl_us is None:
            fresh = pd.Series([k not in seen for k in keys], index=pdf.index)
            seen.update(k for k, f in zip(keys, fresh) if f)
        else:
            last_seen = (
                full.assign(_us=full["ts"].astype("int64") // 1000)
                .groupby(key_cols, sort=False)["_us"]
                .max()
            )
            stamps = [
                int(last_seen[k if len(key_cols) > 1 else k[0]])
                for k in keys
            ]
            clock = max(stamps + list(seen.values()))
            seen = {k: t for k, t in seen.items() if t >= clock - ttl_us}
            fresh = pd.Series([k not in seen for k in keys], index=pdf.index)
            for k, t in zip(keys, stamps):
                prev = seen.get(k)
                seen[k] = t if prev is None else max(prev, t)
        state.update((pickle.dumps(seen),))
        yield pdf.loc[fresh].drop(columns=["_bucket"])

    return fn


class FakeState:
    """The part of ``GroupState`` the reference uses."""

    def __init__(self):
        self.blob = None

    @property
    def exists(self) -> bool:
        return self.blob is not None

    @property
    def get(self) -> tuple:
        return (self.blob,)

    def update(self, value: tuple) -> None:
        self.blob = value[0]


def _batch(rng, n, id0, t0_min, span_min, users, nulls=0.0):
    """``n`` events: few distinct minutes (ts ties), ids unique but
    shuffled, so equal ts are broken by event_id; a ``nulls`` share of
    ``ts`` and of ``user_id`` is null."""
    ids = id0 + rng.permutation(n)
    mins = t0_min + rng.integers(0, span_min, n)
    ts = pd.Series(
        pd.to_datetime("2024-01-01", utc=True) + pd.to_timedelta(mins, "min")
    )
    ts[rng.random(n) < nulls] = pd.NaT
    users = pd.array(rng.integers(0, users, n), dtype="Int64")
    users[rng.random(n) < nulls] = pd.NA
    return pd.DataFrame(
        {
            "event_id": ids.astype("int64"),
            "ts": ts,
            "user_id": users,
            "event_type": rng.choice(["click", "view", "buy"], n),
            "value": rng.random(n),
        }
    )


def _split(rng, pdf, parts):
    """``pdf`` split into ``parts`` frames (some may be empty), in a
    shuffled row order."""
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    cuts = [0, *np.sort(rng.integers(0, len(pdf) + 1, parts - 1)), len(pdf)]
    return [pdf.iloc[a:b].reset_index(drop=True) for a, b in zip(cuts, cuts[1:])]


class Source:
    """A directory of parquet files read ``per_batch`` files per
    micro-batch, oldest first (mtimes increase in write order)."""

    def __init__(self, path, per_batch):
        self.path, self.per_batch = str(path), per_batch
        self.batches: list[list[pd.DataFrame]] = []
        os.makedirs(self.path)
        self._t0 = time.time() - 100_000

    def add(self, files: list[pd.DataFrame]) -> None:
        assert len(files) == self.per_batch
        n0 = sum(map(len, self.batches))
        for n, part in enumerate(files, n0):
            f = os.path.join(self.path, f"part-{n:05d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(part, schema=ARROW, preserve_index=False), f
            )
            os.utime(f, (self._t0 + n, self._t0 + n))
        self.batches.append(files)

    def stream(self, spark):
        return (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", self.per_batch)
            .parquet(self.path)
        )


def _run(spark, src, ckpt, name, **kw):
    """Drain ``src`` from the checkpoint ``ckpt`` into the memory table
    ``name``, or, for a ``name`` that is a path, into a parquet sink
    there (which, unlike the memory sink, resumes): the rows the sink
    holds, and the progress of each micro-batch that read rows."""
    df = P.streaming_dedup_keep_first(
        src.stream(spark), num_buckets=BUCKETS, **kw
    )
    sink = name if os.path.isabs(name) else None
    w = df.writeStream.outputMode("append").option("checkpointLocation", str(ckpt))
    w = w.format("parquet").option("path", sink) if sink else (
        w.format("memory").queryName(name)
    )
    with P.drain_partitions(spark):
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
    progress = [p for p in q.recentProgress if p.numInputRows]
    out = spark.read.parquet(sink) if sink else spark.sql(f"SELECT * FROM {name}")
    assert out.columns == ["event_id", "ts", "user_id", "event_type", "value"]
    return out.toPandas(), progress


def _vals(col: pd.Series) -> list:
    return [None if pd.isna(v) else v for v in col]


def _updated(progress) -> list[int]:
    """State rows (buckets) written per micro-batch."""
    return [p.stateOperators[0].numRowsUpdated for p in progress]


def _reference_ids(spark, src, key_cols, ttl_us) -> list:
    """Event ids the reference emits over ``src``'s batches, one fake
    state per bucket; each batch reaches a bucket as one chunk per file.
    The reference's pandas ``groupby`` drops null keys, so null key
    values are fed to it as a value the data never holds."""
    fn = reference_fn(key_cols, ttl_us)
    bucket = (
        spark.read.schema(SCHEMA).parquet(src.path)
        .select("event_id", F.pmod(F.xxhash64(*key_cols), F.lit(BUCKETS)).alias("b"))
        .toPandas()
        .set_index("event_id")["b"]
    )
    states: dict = {}
    ids = []
    for files in src.batches:
        chunks = []
        for part in files:
            part = part.assign(
                ts=part["ts"].dt.tz_localize(None),
                user_id=part["user_id"].fillna(-1).astype("int64"),
                _bucket=part["event_id"].map(bucket),
            )
            chunks.append(part)
        for b in sorted(set(pd.concat(chunks)["_bucket"])):
            mine = [c[c["_bucket"] == b] for c in chunks]
            for out in fn((b,), iter(mine), states.setdefault(b, FakeState())):
                ids += out["event_id"].tolist()
    return sorted(ids)


@pytest.mark.parametrize("ttl_min", [None, 30])
@pytest.mark.parametrize("key_cols", [["user_id", "event_type"], ["user_id"]])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_kernel_matches_reference(spark, tmp_path, seed, key_cols, ttl_min):
    """Seeded 6-batch streams of 1–3 files per batch: in-batch
    duplicates, ts ties, null ts and null user ids, TTL on and off."""
    rng = np.random.default_rng(seed)
    ttl_sec = None if ttl_min is None else ttl_min * 60
    src = Source(tmp_path / "src", 1 + seed % 3)
    for b in range(6):
        pdf = _batch(rng, int(rng.integers(1, 300)), 1000 * b, 20 * b, 40, 25, 0.05)
        src.add(_split(rng, pdf, src.per_batch))
    got, progress = _run(
        spark, src, tmp_path / "ckpt", f"dk_{seed}_{len(key_cols)}_{ttl_min}",
        key_cols=key_cols, ttl_sec=ttl_sec,
    )
    assert len(progress) == 6
    want = _reference_ids(
        spark, src, key_cols, None if ttl_sec is None else ttl_sec * 1_000_000
    )
    assert sorted(got["event_id"]) == want
    assert len(want) > 0
    # every emitted row is its input row, unchanged
    rows = pd.concat(f for files in src.batches for f in files)
    merged = got.merge(
        rows.assign(ts=rows["ts"].dt.tz_localize(None)),
        on="event_id", suffixes=("", "_in"),
    )
    for c in ("ts", "user_id", "event_type", "value"):
        assert _vals(merged[c]) == _vals(merged[c + "_in"]), c


@pytest.mark.parametrize("ttl_us", [None, 45 * 60 * 1_000_000])
def test_operator_resumes_from_its_checkpoint(spark, tmp_path, ttl_us):
    """Stop after batch 3, resume from the same checkpoint: the two runs
    emit what one uninterrupted run does, and what the reference does."""
    rng = np.random.default_rng(7)
    key_cols = ["user_id", "event_type"]
    ttl_sec = None if ttl_us is None else ttl_us / 1_000_000
    batches = [
        _split(rng, _batch(rng, 200, 1000 * b, 15 * b, 30, 300, 0.02), 2)
        for b in range(6)
    ]
    whole = Source(tmp_path / "whole", 2)
    split = Source(tmp_path / "split", 2)
    for files in batches:
        whole.add(files)
    tag = "ttl" if ttl_us else "nottl"
    want, _ = _run(spark, whole, tmp_path / "c1", f"dk_whole_{tag}", ttl_sec=ttl_sec)
    for files in batches[:3]:
        split.add(files)
    out = str(tmp_path / "out")
    head, p1 = _run(spark, split, tmp_path / "c2", out, ttl_sec=ttl_sec)
    for files in batches[3:]:
        split.add(files)
    both, p2 = _run(spark, split, tmp_path / "c2", out, ttl_sec=ttl_sec)
    assert (len(p1), len(p2)) == (3, 3)
    assert set(head["event_id"]) < set(both["event_id"])
    got = sorted(both["event_id"])
    assert got == sorted(want["event_id"])
    assert got == _reference_ids(spark, whole, key_cols, ttl_us)


def test_kernel_single_chunk_and_empty_chunks(spark, tmp_path):
    """One micro-batch read as one file, or as five files (one empty)
    whose duplicates cross file boundaries, emits the same rows: those
    of the batch ``dedup_first``."""
    from flinkrunner_spark.operators.dedup import dedup_first

    rng = np.random.default_rng(11)
    pdf = _batch(rng, 120, 0, 0, 10, 6)
    one = Source(tmp_path / "one", 1)
    one.add([pdf])
    # rows in (ts, event_id) order dealt round-robin over four files: a
    # key's rows sit in several files, its earliest in any of them
    order = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    files = [order.iloc[i::4].reset_index(drop=True) for i in range(4)]
    files.insert(2, order.iloc[:0])
    many = Source(tmp_path / "many", 5)
    many.add(files)
    spread = pd.concat(
        f.assign(_f=i) for i, f in enumerate(files)
    ).groupby(["user_id", "event_type"])["_f"].nunique()
    assert (spread > 1).sum() > 10
    got_one, p_one = _run(spark, one, tmp_path / "c1", "dk_one")
    got_many, p_many = _run(spark, many, tmp_path / "c2", "dk_many")
    assert (len(p_one), len(p_many)) == (1, 1)
    want = dedup_first(
        spark.read.schema(SCHEMA).parquet(one.path),
        ["user_id", "event_type"], ["ts", "event_id"],
    )
    ids = sorted(r["event_id"] for r in want.collect())
    assert sorted(got_one["event_id"]) == ids
    assert sorted(got_many["event_id"]) == ids


@pytest.mark.parametrize("ttl_us", [None, 3600 * 1_000_000])
def test_seen_keys_only_make_no_state_update(spark, tmp_path, ttl_us):
    """A batch of seen keys only (none later than its key's last
    sighting) emits nothing and writes no state row; a new key writes
    its bucket's."""
    rng = np.random.default_rng(5)
    first = _batch(rng, 100, 0, 0, 30, 10)
    again = first.copy()
    again["event_id"] += 10_000
    again["ts"] -= pd.Timedelta(minutes=1)
    new = again.iloc[:1].assign(user_id=pd.array([999], dtype="Int64"))
    src = Source(tmp_path / "src", 2)
    for pdf in (first, again, new):
        src.add(_split(rng, pdf, 2))
    ttl_sec = None if ttl_us is None else ttl_us / 1_000_000
    got, progress = _run(spark, src, tmp_path / "ckpt", f"dk_seen_{ttl_us is not None}", ttl_sec=ttl_sec)
    assert [p.numInputRows for p in progress] == [100, 100, 1]
    updated = _updated(progress)
    assert updated[0] > 0 and updated[1:] == [0, 1]
    assert sorted(got["event_id"]) == sorted(
        first.sort_values(["ts", "event_id"])
        .drop_duplicates(["user_id", "event_type"])["event_id"].tolist()
        + new["event_id"].tolist()
    )


def test_ttl_refresh_alone_updates_state(spark, tmp_path):
    """A seen key sighted later changes only its stamp: the state is
    still written, or the refresh would be lost."""
    src = Source(tmp_path / "src", 1)

    def ev(eid, minute):
        return pd.DataFrame(
            {
                "event_id": [eid],
                "ts": [pd.Timestamp("2024-01-01", tz="UTC") + pd.Timedelta(minutes=minute)],
                "user_id": [1],
                "event_type": ["a"],
                "value": [0.0],
            }
        )

    for eid, minute in ((1, 0), (2, 50), (3, 100)):
        src.add([ev(eid, minute)])
    got, progress = _run(
        spark, src, tmp_path / "ckpt", "dk_refresh", key_cols=["user_id"],
        ttl_sec=3600.0,
    )
    # 100 min: inside the horizon of the 50-min sighting, not of the first
    assert sorted(got["event_id"]) == [1]
    assert _updated(progress) == [1, 1, 1]


def test_null_numeric_key_matches_across_batches(spark, tmp_path):
    """A null ``long`` key matches itself in a later batch, as the batch
    ``PARTITION BY`` keeps one row per null key; so does a null ``ts``
    row, which sorts after every timed row of its key."""
    src = Source(tmp_path / "src", 1)

    def ev(ids, users, mins):
        n = len(ids)
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": [
                    pd.NaT if m is None
                    else pd.Timestamp("2024-01-01", tz="UTC") + pd.Timedelta(minutes=m)
                    for m in mins
                ],
                "user_id": pd.array(users, dtype="Int64"),
                "event_type": ["a"] * n,
                "value": [0.0] * n,
            }
        )

    src.add([ev([1, 2, 3, 8, 10], [None, None, 7, 9, 9], [0, 0, 0, None, 5])])
    src.add([ev([4, 5, 6], [None, 7, 9], [1, 1, 1])])
    for ttl_sec in (None, 3600.0):
        got, _ = _run(
            spark, src, tmp_path / f"ckpt_{ttl_sec}", f"dk_null_{ttl_sec is not None}",
            ttl_sec=ttl_sec,
        )
        assert sorted(got["event_id"]) == [1, 3, 10]
