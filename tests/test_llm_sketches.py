"""Round-8 §2.5 additions: Count-Min heavy hitters + A-ES weighted
sampling — full independent Python mirrors (Counter / math.log), the
same exactness gate every md5-deterministic op here carries."""

from __future__ import annotations

import hashlib
import math
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import re

from flinkrunner_spark.llm import sampling, sketches

SF = "/root/testdata/sf0.001"


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _hex8(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _cms_mirror(spark, width: int):
    rows = spark.read.parquet(f"{SF}/documents.parquet").collect()
    toks = [t for r in rows for t in _tokens(r["text"])]
    exact = Counter(toks)
    depth = sketches.CMS_DEPTH
    sketch: Counter = Counter()
    for t, c in exact.items():
        for r in range(depth):
            sketch[(r, _hex8(f"{t}:cms:{r}") % width)] += c
    est = {
        t: min(
            sketch[(r, _hex8(f"{t}:cms:{r}") % width)] for r in range(depth)
        )
        for t in exact
    }
    expected = sorted(est.items(), key=lambda kv: (-kv[1], kv[0]))[
        : sketches.HH_TOP_K
    ]
    return exact, est, expected


def test_docs_heavy_hitters_matches_counter_mirror(spark):
    """Sketch counters, estimates and the top-k ranking must equal an
    independent Counter-based CMS; every estimate must respect the CMS
    one-sided bound (never undercounts)."""
    exact, est, expected = _cms_mirror(spark, sketches.CMS_WIDTH)
    out = sketches.docs_heavy_hitters(spark, SF).orderBy("rk").collect()
    assert [(r["token"], r["est_count"]) for r in out] == expected
    for r in out:
        assert r["exact_count"] == exact[r["token"]]
        assert r["est_count"] >= r["exact_count"]  # CMS one-sided bound


def test_docs_heavy_hitters_overcounts_under_collisions(spark):
    """With the width squeezed below the vocabulary, buckets MUST
    collide: estimates stay one-sided (never undercount), at least one
    token genuinely overcounts, and the ranking still equals the
    mirror — the error columns carry real signal, not vacuous zeros."""
    exact, est, expected = _cms_mirror(spark, 16)
    assert any(e > exact[t] for t, e in est.items())  # real collisions
    out = (
        sketches.docs_heavy_hitters(spark, SF, width=16)
        .orderBy("rk")
        .collect()
    )
    assert [(r["token"], r["est_count"]) for r in out] == expected
    for r in out:
        assert r["est_count"] >= r["exact_count"] == exact[r["token"]]


def test_docs_weighted_sample_matches_log_mirror(spark):
    """The A-ES ranking must equal the independent math.log mirror:
    key = ln((md5_32(doc_id)+1)/2^32)/n_chars, top-k by key desc."""
    rows = spark.read.parquet(f"{SF}/documents.parquet").collect()
    keyed = []
    for r in rows:
        if r["n_chars"] <= 0:
            continue
        u = (_hex8(f"{r['doc_id']}:wsample:v1") + 1) / 4294967296.0
        keyed.append((math.log(u) / r["n_chars"], r["doc_id"], r["n_chars"]))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    expected = [(d, n) for _, d, n in keyed[: sampling.WSAMPLE_K]]

    out = sampling.docs_weighted_sample(spark, SF).orderBy("rk").collect()
    assert [(r["doc_id"], r["n_chars"]) for r in out] == expected
    assert [r["rk"] for r in out] == list(range(1, len(expected) + 1))
    # weighting has signal: the sample over-represents long documents
    med_all = sorted(r["n_chars"] for r in rows)[len(rows) // 2]
    med_sample = sorted(n for _, n in expected)[len(expected) // 2]
    assert med_sample > med_all


def test_docs_heavy_hitters_sketch_is_bounded(spark):
    """The sketch table itself is the fixed D×W frame — the O(1)-size
    summary the op exists for (never O(vocabulary) on the reduce side)."""
    toks = sketches._token_stream(spark, SF)
    tab = sketches.cms_table(toks).collect()
    assert len(tab) <= sketches.CMS_DEPTH * sketches.CMS_WIDTH
    assert {r["row"] for r in tab} == set(range(sketches.CMS_DEPTH))
    total = sum(r["cnt"] for r in tab)
    n_toks = toks.count()
    assert total == sketches.CMS_DEPTH * n_toks  # every token in every row


def test_rank_heavy_hitters_unseen_candidate_estimates_zero(spark):
    """An external candidate the sketch never saw must come back with
    est_count 0 (the CMS contract for unseen items), not silently vanish
    — and seen candidates keep their sketch estimates (>= exact)."""
    from pyspark.sql import functions as F

    toks = sketches._token_stream(spark, SF)
    sketch = sketches.cms_table(toks)
    cands = spark.createDataFrame(
        [("the", 10), ("zz-never-seen-token-zz", 3)],
        "tok string, exact_count long",
    )
    out = {
        r["token"]: r["est_count"]
        for r in sketches.rank_heavy_hitters(
            spark, SF, sketch, k=10, candidates=cands
        ).collect()
    }
    assert set(out) == {"the", "zz-never-seen-token-zz"}
    real_the = toks.filter(F.col("tok") == "the").count()
    assert out["the"] >= real_the > 0
    # unseen item: min over D rows of (cell count, or 0 when the cell is
    # absent from the sparse sketch frame) — presence in the output is
    # the regression (an inner join dropped it); the value stays the
    # usual one-sided CMS estimate
    assert out["zz-never-seen-token-zz"] >= 0


def test_stream_heavy_hitters_matches_batch_and_state_is_bounded(spark):
    """The streaming-state sketch must equal the batch twin exactly
    (order-independent counters — any micro-batch split is fine), and
    the state the stream carries is the O(D×W) counter table, never
    O(vocabulary)."""
    from flinkrunner_spark.plans import docstreams

    batch = [
        (r["token"], r["est_count"], r["exact_count"], r["rk"])
        for r in sketches.docs_heavy_hitters(spark, SF).orderBy("rk").collect()
    ]
    streamed = [
        (r["token"], r["est_count"], r["exact_count"], r["rk"])
        for r in docstreams.stream_heavy_hitters(spark, SF)
        .orderBy("rk")
        .collect()
    ]
    assert streamed == batch and len(batch) > 0
    # the complete-mode state table the stream materialized is the
    # bounded sketch itself
    state = spark.table("q_stream_heavy_hitters")
    assert state.count() <= sketches.CMS_DEPTH * sketches.CMS_WIDTH


def test_docs_pmi_bigrams_matches_counter_mirror(spark):
    """PMI collocations must equal an independent Counter + math.log
    mirror: same position stream, marginals, floor, rounded ranking."""
    from flinkrunner_spark.llm import collocations

    rows = spark.read.parquet(f"{SF}/documents.parquet").collect()
    c12: Counter = Counter()
    for r in rows:
        t = _tokens(r["text"])
        for a, b in zip(t, t[1:]):
            c12[(a, b)] += 1
    c1: Counter = Counter()
    c2: Counter = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        c2[b] += c
    n = sum(c12.values())
    scored = [
        (round(math.log(c * n / (c1[a] * c2[b])), 6), a, b, c)
        for (a, b), c in c12.items()
        if c >= collocations.PMI_MIN_COUNT
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    expected = [
        (a, b, c, p) for p, a, b, c in scored[: collocations.PMI_TOP_K]
    ]

    out = collocations.docs_pmi_bigrams(spark, SF).orderBy("rk").collect()
    assert [
        (r["w1"], r["w2"], r["pair_count"], r["pmi"]) for r in out
    ] == expected
    assert len(expected) > 0
    # PMI has signal on this corpus: scores are not all equal
    assert len({p for p, *_ in scored}) > 1


def test_stream_emb_dup_pairs_matches_batch(spark):
    """The streaming RH-LSH index must yield EXACTLY the batch pair set:
    id-set accumulation is order-independent, so four real micro-batches
    produce the batch buckets, and the shared probe/verify tail does the
    rest. Also pins that the stream really ran multiple batches and the
    state table is the (band, code) index."""
    from flinkrunner_spark.llm import similarity
    from flinkrunner_spark.plans import docstreams

    batch = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.emb_dup_pairs_rhlsh(spark, SF).collect()
    }
    streamed = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in docstreams.stream_emb_dup_pairs(spark, SF).collect()
    }
    assert streamed == batch and len(batch) > 0
    state = spark.table("q_stream_emb_dup_pairs")
    assert set(state.columns) == {"band", "code", "ids"}
    # every vector appears in every band exactly once across the index
    from pyspark.sql import functions as F

    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    total_ids = state.select(
        F.sum(F.size("ids")).alias("s")
    ).first()["s"]
    assert total_ids == n * similarity.RH_BANDS


def test_sketches_memo_persist_lifecycle(spark):
    """r13 change 11: the exploded token stream is memo-persisted per
    (applicationId, sf_dir) — one frame serves the batch build, the
    exact-count twin and the streaming probe — and release_caches()
    unpersists both the stream and the per-call sketch pins."""
    from flinkrunner_spark import memo

    sketches.release_caches()
    assert memo.entries("llm.sketches") == {}
    out1 = sketches.docs_heavy_hitters(spark, SF).collect()
    key = ("llm.sketches.tokens", spark.sparkContext.applicationId, SF)
    toks = memo.entries("llm.sketches.tokens")[key]
    assert toks.storageLevel.useMemory  # persisted
    assert len(memo.entries("llm.sketches.sketch")) == 1
    # a second call reuses the SAME persisted frame (memo hit) and
    # produces identical rows
    assert sketches._token_stream_cached(spark, SF) is toks
    out2 = sketches.docs_heavy_hitters(spark, SF).collect()
    assert out2 == out1
    sketches.release_caches(SF)
    assert memo.entries("llm.sketches") == {}
    assert not toks.storageLevel.useMemory  # unpersisted
    # recompute-from-scratch path yields the same rows
    assert sketches.docs_heavy_hitters(spark, SF).collect() == out1
    sketches.release_caches()


def test_collocations_memo_persist_lifecycle(spark):
    """r13 change 11: the (w1, w2, c12) pair-count frame is
    memo-persisted per (applicationId, sf_dir); every k/min_count
    parameterization shares it, release_caches() unpersists it, and
    cache-hit and recompute paths agree."""
    from flinkrunner_spark import memo
    from flinkrunner_spark.llm import collocations

    collocations.release_caches()
    assert memo.entries("llm.collocations") == {}
    out1 = collocations.docs_pmi_bigrams(spark, SF).collect()
    key = (
        "llm.collocations.pair_counts", spark.sparkContext.applicationId, SF
    )
    c12 = memo.entries("llm.collocations")[key]
    assert c12.storageLevel.useMemory
    assert collocations._pair_counts(spark, SF) is c12  # memo hit
    assert collocations.docs_pmi_bigrams(spark, SF).collect() == out1
    collocations.release_caches(SF)
    assert memo.entries("llm.collocations") == {}
    assert not c12.storageLevel.useMemory
    assert collocations.docs_pmi_bigrams(spark, SF).collect() == out1
    collocations.release_caches()
