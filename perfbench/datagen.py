"""Seeded synthetic inputs with the schema of the repo's test tables.

``tables(seed, scale, corpus_rows)`` builds the ten tables the
``queries()`` keys read (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``); ``write_tables`` writes them as one
parquet file each. ``scale`` is the TPC-H scale factor: 0.01 gives 60k
lineitem rows and 10k events; ``corpus_rows`` sizes the last two. Value
domains (dates, brands, types, nation and region names, event types) match
the literals the query plans filter on, so every query returns rows.

``replicate_corpus`` builds the LLM scale-up: documents replicated with
offset ids (exact duplicates) and embeddings replicated with a small seeded
jitter (near-duplicate families), as ``scale_study.py`` does in Spark.

The same seed gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "bright", "dark"]
PART_NOUN = ["ring", "widget", "anvil", "bolt", "gear", "pipe", "valve", "plate"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
N_USERS = 1500
EMB_DIM = 64
DOC_STRIDE = 10_000_000
VEC_STRIDE = 1_000_000

_US = 1_000_000
DAY_US = 86_400 * _US


def epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * _US


def _days(rng, n: int, start: tuple, end: tuple) -> pa.Array:
    lo, hi = epoch_us(*start) // DAY_US, epoch_us(*end) // DAY_US
    us = rng.integers(lo, hi + 1, n, dtype=np.int64) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    lang = rng.choice(LANGS, n, p=LANG_P)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(VOCAB, int(rng.integers(8, 100)))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embedding_column(mat: np.ndarray) -> pa.Array:
    flat = pa.array(mat.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _unit_rows(rng, n: int) -> np.ndarray:
    m = rng.standard_normal((n, EMB_DIM))
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def tables(seed: int, scale: float, corpus_rows: int) -> dict[str, pa.Table]:
    """The ten tables at TPC-H scale ``scale``, with ``corpus_rows`` rows
    each in ``documents`` and ``embeddings``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_li = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_doc = n_emb = corpus_rows

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array(_names("Customer", n_cust), pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array(_names("Supplier", n_supp), pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    pname = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(pname, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
            "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    out["events"] = events(rng, n_ev, 0, epoch_us(2024, 1, 1), 30 * DAY_US)
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": _embedding_column(_unit_rows(rng, n_emb)),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def events(rng, n: int, first_id: int, start_us: int, span_us: int) -> pa.Table:
    """``n`` events with ids from ``first_id`` and distinct, increasing
    microsecond timestamps spread over ``[start_us, start_us + span_us)``."""
    ts = np.unique(rng.integers(start_us, start_us + span_us, n + n // 8 + 16))
    return events_at(rng, np.sort(rng.choice(ts, n, replace=False)), first_id)


def events_at(rng, ts_us: np.ndarray, first_id: int) -> pa.Table:
    """Events with the given timestamps and consecutive ids."""
    n = len(ts_us)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def replicate_corpus(
    base: dict[str, pa.Table], factor: int, seed: int
) -> dict[str, pa.Table]:
    """``factor`` replicas of ``documents`` (ids offset, text verbatim) and
    of ``embeddings`` (ids offset, replica i > 0 jittered by up to ±1e-3
    per component and renormalised, so each family stays cosine ~0.999)."""
    rng = np.random.default_rng(seed + 1)
    docs = base["documents"]
    doc_reps = []
    for i in range(factor):
        ids = pc.add(docs["doc_id"], i * DOC_STRIDE)
        doc_reps.append(docs.set_column(0, "doc_id", ids))
    emb = base["embeddings"]
    mat = np.asarray(emb["embedding"].combine_chunks().values).reshape(-1, EMB_DIM)
    emb_reps = []
    for i in range(factor):
        m = mat if i == 0 else mat + rng.uniform(-1e-3, 1e-3, mat.shape)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        emb_reps.append(
            pa.table(
                {
                    "vec_id": pc.add(emb["vec_id"], i * VEC_STRIDE),
                    "embedding": _embedding_column(m),
                    "label": emb["label"],
                }
            )
        )
    return {
        "documents": pa.concat_tables(doc_reps),
        "embeddings": pa.concat_tables(emb_reps),
    }


def write_tables(out_dir: str, tabs: dict[str, pa.Table]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
