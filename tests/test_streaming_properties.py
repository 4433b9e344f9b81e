"""Randomized multi-batch tests for the bucketed keyed-state mirrors.

The fixture dataset has fixed tie patterns; these tests throw seeded
adversarial inputs (heavy timestamp ties, tiny key space, control-only
users, empty range splits) at the streaming mirrors across REAL
micro-batch boundaries and compare against independently-written pandas
oracles — the same semantics the DuckDB oracles encode, re-derived here
with none of the Spark code shared.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from flinkrunner_spark.streaming.pipelines import file_stream, run_to_memory


def _random_events(seed: int, n: int = 400) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2024-01-01")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            # coarse ts grid → many exact ties, within and across keys
            "ts": base + pd.to_timedelta(rng.integers(0, 40, n), unit="s"),
            "user_id": rng.integers(0, 8, n).astype(np.int64),
            "event_type": rng.choice(
                ["signup", "error", "click", "purchase", "view"], n
            ),
            "value": rng.normal(size=n),
        }
    )


def _stream_from_pdf(spark, pdf: pd.DataFrame, tmpdir: str, splits: int):
    """pdf as `splits` event-time-ordered micro-batches (equal ts never
    straddle a batch) — the harness behind stream_events."""
    return file_stream(spark.createDataFrame(pdf), tmpdir, "ts", splits).withWatermark(
        "ts", "365 days"
    )


def _run(spark, sdf, name: str) -> pd.DataFrame:
    return run_to_memory(spark, sdf, name).toPandas()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bucketed_dedup_first_random_multibatch(spark, tmp_path, seed):
    from flinkrunner_spark.streaming.pipelines import streaming_dedup_keep_first

    pdf = _random_events(seed)
    ev = _stream_from_pdf(spark, pdf, str(tmp_path / "src"), splits=5)
    got = _run(spark, streaming_dedup_keep_first(ev), f"p_dedup_{seed}")

    want = (
        pdf.sort_values(["ts", "event_id"])
        .drop_duplicates(subset=["user_id", "event_type"], keep="first")
    )
    assert sorted(got["event_id"]) == sorted(want["event_id"])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bucketed_filter_by_control_random_multibatch(spark, tmp_path, seed):
    from flinkrunner_spark.streaming.pipelines import streaming_filter_by_control

    pdf = _random_events(seed)
    ev = _stream_from_pdf(spark, pdf, str(tmp_path / "src"), splits=5)
    got = _run(spark, streaming_filter_by_control(ev), f"p_ctl_{seed}")

    # independent oracle: per user, replay (ts, control-first, event_id);
    # data rows pass while the latest control is 'signup'
    keep = []
    o = pdf.copy()
    o["kind"] = (~o["event_type"].isin(["signup", "error"])).astype(int)
    o = o.sort_values(["ts", "kind", "event_id"])
    gate: dict = {}
    for r in o.to_dict("records"):
        if r["kind"] == 0:  # control
            gate[r["user_id"]] = r["event_type"] == "signup"
        elif gate.get(r["user_id"], False):
            keep.append(r["event_id"])
    assert sorted(got["event_id"]) == sorted(keep)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bucketed_asof_join_random_multibatch(spark, tmp_path, seed):
    from flinkrunner_spark.streaming.pipelines import streaming_asof_join

    pdf = _random_events(seed)
    ev = _stream_from_pdf(spark, pdf, str(tmp_path / "src"), splits=5)
    got = _run(spark, streaming_asof_join(ev), f"p_asof_{seed}")
    got_map = {
        r["event_id"]: (r["click_id"], pd.Timestamp(r["click_ts"]))
        for _, r in got.iterrows()
    }

    # independent oracle: (ts, right-first, event_id) replay per user;
    # same-ts clicks apply, largest event_id among same-ts clicks wins
    o = pdf[pdf["event_type"].isin(["purchase", "click"])].copy()
    o["kind"] = (o["event_type"] != "click").astype(int)
    o = o.sort_values(["ts", "kind", "event_id"])
    latest: dict = {}
    want = {}
    for r in o.to_dict("records"):
        if r["kind"] == 0:  # click
            latest[r["user_id"]] = (r["event_id"], pd.Timestamp(r["ts"]))
        elif r["user_id"] in latest:
            want[r["event_id"]] = latest[r["user_id"]]
    assert got_map == want
