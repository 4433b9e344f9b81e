"""The per-bucket kernel of ``streaming_dedup_keep_first``
(``pipelines.keep_first_state_fn``), driven directly with a fake
``GroupState``: on seeded micro-batches it emits the rows, and leaves the
state blob, of the pandas body it replaced (kept here as the reference),
reads that body's blobs, skips ``state.update`` when nothing changed, and
keys null numeric keys as equal."""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
import pytest

from flinkrunner_spark.streaming.pipelines import keep_first_state_fn


def reference_fn(key_cols, ttl_us):
    """The pandas body ``streaming_dedup_keep_first`` ran before the
    kernel: concat, sort, drop_duplicates, itertuples, Series, loc."""

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
    """The part of ``GroupState`` the kernel uses, counting updates."""

    def __init__(self, blob: bytes | None = None):
        self.blob = blob
        self.updates = 0

    @property
    def exists(self) -> bool:
        return self.blob is not None

    @property
    def get(self) -> tuple:
        return (self.blob,)

    def update(self, value: tuple) -> None:
        self.blob = value[0]
        self.updates += 1

    def seen(self):
        return None if self.blob is None else pickle.loads(self.blob)


def _rows(out) -> list:
    """Emitted rows in emission order, as plain tuples."""
    frames = list(out)
    if not frames:
        return []
    pdf = pd.concat(frames)
    assert "_bucket" not in pdf.columns
    return [tuple(r) for r in pdf.itertuples(index=False)]


def _batch(rng, n, id0, t0_min, span_min, users):
    """``n`` events: few distinct minutes (ts ties), ids unique but
    shuffled, so equal ts are broken by event_id."""
    ids = id0 + rng.permutation(n)
    mins = t0_min + rng.integers(0, span_min, n)
    return pd.DataFrame(
        {
            "event_id": ids.astype("int64"),
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(mins, "min"),
            "user_id": rng.integers(0, users, n).astype("int64"),
            "event_type": rng.choice(["click", "view", "buy"], n),
            "value": rng.random(n),
            "_bucket": np.zeros(n, dtype="int64"),
        }
    )


def _chunks(rng, pdf, parts):
    """``pdf`` split into ``parts`` Arrow-like chunks (some may be
    empty), in a shuffled row order."""
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    cuts = [0, *np.sort(rng.integers(0, len(pdf) + 1, parts - 1)), len(pdf)]
    return [
        pdf.iloc[a:b].reset_index(drop=True) for a, b in zip(cuts, cuts[1:])
    ]


def _drive(fn, batches, state=None):
    state = state or FakeState()
    emitted = [_rows(fn(("b",), iter(chunks), state)) for chunks in batches]
    return emitted, state


@pytest.mark.parametrize("ttl_min", [None, 30])
@pytest.mark.parametrize("key_cols", [["user_id", "event_type"], ["user_id"]])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_kernel_matches_reference(seed, key_cols, ttl_min):
    rng = np.random.default_rng(seed)
    ttl_us = None if ttl_min is None else ttl_min * 60 * 1_000_000
    batches = [
        _chunks(
            rng,
            _batch(rng, int(rng.integers(1, 300)), 1000 * b, 20 * b, 40, 25),
            int(rng.integers(1, 5)),
        )
        for b in range(8)
    ]
    want, want_state = _drive(reference_fn(key_cols, ttl_us), batches)
    got, got_state = _drive(keep_first_state_fn(key_cols, ttl_us), batches)
    assert got == want
    assert got_state.seen() == want_state.seen()
    assert sum(map(len, got)) > 0


@pytest.mark.parametrize("ttl_us", [None, 45 * 60 * 1_000_000])
def test_kernel_resumes_from_reference_blob(ttl_us):
    """A checkpoint written by the pandas body resumes unchanged."""
    rng = np.random.default_rng(7)
    key_cols = ["user_id", "event_type"]
    batches = [
        _chunks(rng, _batch(rng, 200, 1000 * b, 15 * b, 30, 30), 3)
        for b in range(6)
    ]
    want, want_state = _drive(reference_fn(key_cols, ttl_us), batches)
    head, mid = _drive(reference_fn(key_cols, ttl_us), batches[:3])
    tail, got_state = _drive(
        keep_first_state_fn(key_cols, ttl_us), batches[3:], FakeState(mid.blob)
    )
    assert head + tail == want
    assert got_state.seen() == want_state.seen()


def test_kernel_single_chunk_and_empty_chunks():
    rng = np.random.default_rng(11)
    pdf = _batch(rng, 50, 0, 0, 10, 5)
    empty = pdf.iloc[:0]
    key_cols = ["user_id", "event_type"]
    want, _ = _drive(reference_fn(key_cols, None), [[empty, pdf, empty]])
    got, _ = _drive(keep_first_state_fn(key_cols, None), [[pdf]])
    assert got == want
    state = FakeState()
    fn = keep_first_state_fn(key_cols, None)
    assert _rows(fn(("b",), iter([empty]), state)) == []
    assert state.updates == 0 and not state.exists


@pytest.mark.parametrize("ttl_us", [None, 3600 * 1_000_000])
def test_seen_keys_only_make_no_state_update(ttl_us):
    rng = np.random.default_rng(5)
    first = _batch(rng, 100, 0, 0, 30, 10)
    fn = keep_first_state_fn(["user_id", "event_type"], ttl_us)
    state = FakeState()
    assert _rows(fn(("b",), iter([first]), state))
    assert state.updates == 1
    blob = state.blob
    # the same keys again, no later than each key's last sighting
    again = first.copy()
    again["event_id"] += 10_000
    again["ts"] -= pd.Timedelta(minutes=1)
    assert _rows(fn(("b",), iter(_chunks(rng, again, 2)), state)) == []
    assert state.updates == 1 and state.blob == blob
    # a new key does update
    new = again.iloc[:1].assign(user_id=999)
    assert len(_rows(fn(("b",), iter([new]), state))) == 1
    assert state.updates == 2


def test_ttl_refresh_alone_updates_state():
    """A seen key sighted later changes only its stamp: the state is
    still written, or the refresh would be lost."""
    fn = keep_first_state_fn(["user_id"], 3600 * 1_000_000)
    state = FakeState()

    def ev(eid, minute):
        return pd.DataFrame(
            {
                "event_id": [eid],
                "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=minute)],
                "user_id": [1],
                "_bucket": [0],
            }
        )

    assert len(_rows(fn(("b",), iter([ev(1, 0)]), state))) == 1
    assert _rows(fn(("b",), iter([ev(2, 50)]), state)) == []
    assert state.updates == 2
    # 100 min: inside the horizon of the 50-min sighting, not of the first
    assert _rows(fn(("b",), iter([ev(3, 100)]), state)) == []


def test_null_numeric_key_matches_across_batches():
    """A null ``long`` key reaches pandas as float NaN; it must match
    itself in a later batch, as the batch ``PARTITION BY`` keeps one
    row per null key."""
    fn = keep_first_state_fn(["user_id", "event_type"], None)
    state = FakeState()

    def ev(ids, users):
        n = len(ids)
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": [pd.Timestamp("2024-01-01")] * n,
                "user_id": np.array(users, dtype="float64"),
                "event_type": ["a"] * n,
                "_bucket": [0] * n,
            }
        )

    got1 = _rows(fn(("b",), iter([ev([1, 2, 3], [np.nan, np.nan, 7])]), state))
    assert [r[0] for r in got1] == [1, 3]
    got2 = _rows(fn(("b",), iter([ev([4, 5], [np.nan, 7])]), state))
    assert got2 == []
    assert state.seen() == {(None, "a"), (7.0, "a")}
