"""Property tests for DSIR importance resampling (llm/dsir.py).
Cross-engine parity is covered by test_oracle_parity; these pin the
operator-specific invariants: the full Python mirror of the hashed-
bigram importance weights (Counter + Decimal HALF_UP quantization),
Gumbel determinism, sample-size/ordering contracts, and the plan shape
(broadcast LLR join, no cartesian)."""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkrunner_spark.llm import dsir  # noqa: E402

SF = "/root/testdata/sf0.001"


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _hex8(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _micro6(x: float) -> int:
    """Spark ROUND(double, 6) mirror: shortest decimal repr, HALF_UP,
    then scaled to integer micro-units."""
    q = Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
    return int(q * 1_000_000)


def _mirror(docs):
    """Recompute every document's logw_micro / g_micro / key_micro in
    pure Python, expression-for-expression."""
    m = dsir.DSIR_BUCKETS
    raw = Counter()
    tgt = Counter()
    doc_buckets: dict[int, Counter] = {}
    for doc_id, lang, text in docs:
        toks = _tokens(text)
        feats = toks + [
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        ]
        buckets = Counter(
            _hex8(f + dsir.DSIR_SALT) % m for f in feats
        )
        doc_buckets[doc_id] = buckets
        raw.update(buckets)
        if lang == dsir.DSIR_TARGET_LANG:
            tgt.update(buckets)
    r_tot = sum(raw.values())
    t_tot = sum(tgt.values())
    llr = {
        b: _micro6(
            math.log(
                ((tgt.get(b, 0) + 1.0) * (r_tot + float(m)))
                / ((raw.get(b, 0) + 1.0) * (t_tot + float(m)))
            )
        )
        for b in range(m)
    }
    out = {}
    for doc_id, lang, text in docs:
        logw = sum(
            c * llr[b] for b, c in doc_buckets[doc_id].items()
        )
        u = (
            _hex8(str(doc_id) + dsir.DSIR_GUMBEL_SALT) + 0.5
        ) / 4294967296.0
        g = _micro6(-math.log(-math.log(u)))
        out[doc_id] = (logw, g, logw + g)
    return out


def test_dsir_matches_python_mirror(spark):
    rows = spark.read.parquet(f"{SF}/documents.parquet").collect()
    docs = [(r["doc_id"], r["lang"], r["text"]) for r in rows]
    mirror = _mirror(docs)
    expect = sorted(
        mirror.items(), key=lambda kv: (-kv[1][2], kv[0])
    )[: dsir.DSIR_K]

    out = dsir.docs_dsir_sample(spark, SF).collect()
    assert len(out) == min(dsir.DSIR_K, len(docs))
    got_ids = [r["doc_id"] for r in out]
    assert got_ids == [doc_id for doc_id, _ in expect]
    for r, (doc_id, (logw, g, key)) in zip(out, expect):
        assert r["logw_nats"] == logw / 1e6, (doc_id, r["logw_nats"], logw)
        assert r["key_nats"] == key / 1e6, (doc_id, r["key_nats"], key)


def test_dsir_upweights_target_language(spark):
    """The sample must over-represent the target language relative to
    the corpus — the entire point of importance resampling."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus_frac = (
        docs.filter(docs.lang == dsir.DSIR_TARGET_LANG).count()
        / docs.count()
    )
    out = dsir.docs_dsir_sample(spark, SF).collect()
    sample_frac = sum(
        1 for r in out if r["lang"] == dsir.DSIR_TARGET_LANG
    ) / len(out)
    assert sample_frac > corpus_frac


def test_dsir_deterministic_across_runs(spark):
    a = [tuple(r) for r in dsir.docs_dsir_sample(spark, SF).collect()]
    b = [tuple(r) for r in dsir.docs_dsir_sample(spark, SF).collect()]
    assert a == b


def test_dsir_plan_broadcasts_llr_no_cartesian(spark):
    plan = dsir.docs_dsir_sample(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dsir_memo_persist_lifecycle(spark):
    """r13 change 11: the hashed feature frame is memo-persisted per
    (applicationId, sf_dir); release_caches() unpersists it, and
    cache-hit and recompute paths yield identical samples."""
    from flinkrunner_spark import memo

    dsir.release_caches()
    assert memo.entries("llm.dsir") == {}
    out1 = dsir.docs_dsir_sample(spark, SF).collect()
    key = ("llm.dsir.bucketed", spark.sparkContext.applicationId, SF)
    bucketed = memo.entries("llm.dsir")[key]
    assert bucketed.storageLevel.useMemory
    assert dsir._bucketed_features(spark, SF) is bucketed  # memo hit
    assert dsir.docs_dsir_sample(spark, SF).collect() == out1
    dsir.release_caches(SF)
    assert memo.entries("llm.dsir") == {}
    assert not bucketed.storageLevel.useMemory
    assert dsir.docs_dsir_sample(spark, SF).collect() == out1
    dsir.release_caches()
