"""Algorithm tests (mirror of reference StableBloomFilterTest.scala and the
HLL relative-error contract)."""

from __future__ import annotations

import numpy as np
import pytest

from flinkrunner_spark.algorithms.hll import estimate, update_registers
from flinkrunner_spark.algorithms.sbf import StableBloomFilter


def test_hll_relative_error():
    b = 12
    m = 1 << b
    M = np.zeros(m, dtype=np.int8)
    n = 20_000
    update_registers(M, (f"item-{i}" for i in range(n)), b)
    est = estimate(M)
    rel_err = 1.04 / (m**0.5)  # HyperLogLog.scala relativeError
    assert abs(est - n) / n < 3 * rel_err


def test_hll_merge_equals_union():
    b = 10
    m = 1 << b
    M1 = np.zeros(m, dtype=np.int8)
    M2 = np.zeros(m, dtype=np.int8)
    Mall = np.zeros(m, dtype=np.int8)
    a = [f"a{i}" for i in range(5000)]
    bb = [f"b{i}" for i in range(5000)]
    update_registers(M1, a, b)
    update_registers(M2, bb, b)
    update_registers(Mall, a + bb, b)
    merged = np.maximum(M1, M2)
    assert estimate(merged) == estimate(Mall)


def test_sbf_detects_duplicates():
    sbf = StableBloomFilter(m=100_000, d=3, fpr=0.01)
    assert sbf.add("x") is False  # first sighting
    assert sbf.add("x") is True  # duplicate detected


def test_sbf_no_false_negatives_recent_window():
    sbf = StableBloomFilter(m=1_000_000, d=3, fpr=0.01)
    items = [f"k{i}" for i in range(2000)]
    for it in items:
        sbf.add(it)
    # recent items must still be present (stability property)
    recent = items[-500:]
    assert all(sbf.might_contain(it) for it in recent)


def test_sbf_bounded_false_positive_rate():
    sbf = StableBloomFilter(m=1_000_000, d=3, fpr=0.01)
    for i in range(5000):
        sbf.add(f"seen{i}")
    fp = sum(sbf.might_contain(f"unseen{i}") for i in range(5000))
    assert fp / 5000 < 0.05


def test_sbf_merge():
    a = StableBloomFilter(m=10_000, d=3, fpr=0.01)
    b = StableBloomFilter(m=10_000, d=3, fpr=0.01)
    a.add("only-a")
    b.add("only-b")
    a.merge(b)
    assert a.might_contain("only-a") and a.might_contain("only-b")


def test_emb_dup_pairs_blas_matches_fold(spark):
    """The BLAS gram-matrix path must find the same near-dup pair set as
    the exact expression fold (emb_dup_pairs_blocked, the small-N
    verification baseline)."""
    from flinkrunner_spark.llm.similarity import (
        emb_dup_pairs_blas,
        emb_dup_pairs_blocked,
    )

    sf = "/root/testdata/sf0.01"
    fold = {
        (r["vec_a"], r["vec_b"])
        for r in emb_dup_pairs_blocked(spark, sf).collect()
    }
    blas = {
        (r["vec_a"], r["vec_b"])
        for r in emb_dup_pairs_blas(spark, sf).collect()
    }
    assert fold == blas and len(fold) > 0


def test_emb_dup_pairs_default_is_rhlsh_and_blocked_guard(spark):
    """r7 verdict item 1a pinned: the default emb_dup_pairs surface IS
    the RH-LSH plan (same pair set, no label column in the output), and
    the demoted all-pairs baseline HARD-REFUSES oversized label blocks
    instead of launching O(block²) work."""
    import pytest

    from flinkrunner_spark.llm import similarity

    sf = "/root/testdata/sf0.001"
    similarity.release_caches(sf)
    default = similarity.emb_dup_pairs(spark, sf)
    assert set(default.columns) == {"vec_a", "vec_b", "cosine"}
    got = {(r["vec_a"], r["vec_b"]) for r in default.collect()}
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.emb_dup_pairs_rhlsh(spark, sf).collect()
    }
    assert got == lsh and got
    with pytest.raises(ValueError, match="quadratic"):
        similarity.emb_dup_pairs_blocked(spark, sf, max_block=10)
    similarity.release_caches(sf)


# recall@10 of emb_knn_ivf_kmeans against the exact emb_knn scan, pinned
# at the values the learned quantizer reaches on the test corpora
KMEANS_RECALL_FLOOR = {"sf0.001": 0.8, "sf0.01": 0.4}


@pytest.mark.parametrize("sf_name", ["sf0.001", "sf0.01"])
def test_emb_knn_ivf_kmeans_exact_within_probed_cells(spark, sf_name):
    """The learned-quantizer IVF must return EXACTLY the cosine top-k of
    the probed cells (computed independently in numpy), the probe must
    genuinely prune the scan, and recall@10 against the exact scan must
    not drop below its pinned floor."""
    import numpy as np

    from flinkrunner_spark.llm.similarity import (
        KMEANS_ITERS,
        KNN_K,
        _cells,
        emb_knn,
        emb_knn_ivf_kmeans,
    )

    sf = f"/root/testdata/{sf_name}"
    assigned, cents_df, _ = _cells(spark, sf, 16, KMEANS_ITERS)
    qv = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter("vec_id = 0")
        .first()["embedding"]
    )
    # independent numpy probe selection (top-4 cells by centroid cosine,
    # cell-id tiebreak) — cross-checks the production broadcast-join probe
    qn = np.asarray(qv, dtype=np.float64)
    crows = sorted(cents_df.collect(), key=lambda r: r["cell"])
    C = np.array([r["centroid"] for r in crows], dtype=np.float64)
    ccos = (C @ qn) / (np.sqrt((C * C).sum(axis=1)) * np.sqrt(qn @ qn))
    cells = [int(c) for c in np.lexsort((np.arange(len(C)), -ccos))[:4]]
    cand = assigned.filter(assigned["cell"].isin(cells)).filter(
        assigned["vec_id"] != 0
    )
    rows = cand.select("vec_id", "embedding").collect()
    n_total = assigned.count()
    assert 0 < len(rows) < n_total  # pruned, not empty

    q = np.asarray(qv, dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cos = np.round(
        (E @ q) / (np.sqrt((E * E).sum(axis=1)) * np.sqrt(q @ q)), 6
    )
    order = np.lexsort((ids, -cos))[:10]
    expected = [(int(ids[i]), float(cos[i])) for i in order]

    got = [
        (r["vec_id"], r["cosine"])
        for r in emb_knn_ivf_kmeans(spark, sf).collect()
    ]
    assert [g[0] for g in got] == [e[0] for e in expected]
    assert all(abs(g[1] - e[1]) < 1e-9 for g, e in zip(got, expected))

    exact = {r["vec_id"] for r in emb_knn(spark, sf).collect()}
    recall = len(exact & {g[0] for g in got}) / KNN_K
    assert recall >= KMEANS_RECALL_FLOOR[sf_name]


@pytest.mark.parametrize("shape", ["kmeans", "ivf"])
def test_cells_assign_each_row_to_its_nearest_centroid(spark, shape):
    """Both quantizer shapes the callers build — (16, KMEANS_ITERS) and
    (ivf_cells(n), 12) — assign every row to the argmin over the
    returned centroid table (recomputed here as explicit squared
    differences), and the per-cell counts sum to n."""
    from flinkrunner_spark.llm import similarity

    sf = "/root/testdata/sf0.001"
    n = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    n_cells, iters = (
        (16, similarity.KMEANS_ITERS)
        if shape == "kmeans"
        else (similarity.ivf_cells(n), 12)
    )
    assigned, cents_df, C = similarity._cells(spark, sf, n_cells, iters)
    crows = sorted(cents_df.collect(), key=lambda r: r["cell"])
    assert [r["cell"] for r in crows] == list(range(n_cells))
    table = np.array([r["centroid"] for r in crows], dtype=np.float64)
    assert np.array_equal(table, C)

    rows = assigned.select("vec_id", "embedding", "cell").collect()
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cell = np.array([r["cell"] for r in rows])
    d = ((E[:, None, :] - table[None, :, :]) ** 2).sum(axis=2)
    best = d.min(axis=1)
    # the assigned cell is a minimum up to the BLAS form's rounding
    assert np.all(d[np.arange(len(E)), cell] <= best + 1e-9 * (1 + best))
    counts = assigned.groupBy("cell").count().collect()
    assert all(0 <= r["cell"] < n_cells for r in counts)
    assert sum(r["count"] for r in counts) == n == len(rows)


def test_nearest_takes_lowest_index_on_exact_tie():
    from flinkrunner_spark.llm.similarity import nearest

    # the origin is at distance 1 from all three centroids
    C = np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]])
    assert nearest(np.zeros((1, 2)), C).tolist() == [0]
    # (0, -1) ties between cells 1 and 2; cell 0 is farther
    C = np.array([[3.0, 3.0], [1.0, -1.0], [-1.0, -1.0]])
    assert nearest(np.array([[0.0, -1.0], [3.0, 2.0]]), C).tolist() == [1, 0]


def test_dup_pairs_blas_tiled_on_skewed_label(spark):
    """One label holding 50% of all rows must decompose into bounded
    chunk-pair tiles — identical pair set to the exact fold, and no task
    ever sees more than ~2·tile_cap rows (the straggler/OOM guard)."""
    import numpy as np
    from pyspark.sql import functions as F

    from flinkrunner_spark.llm.similarity import as_double, dot, dup_pairs_blas

    rng = np.random.default_rng(7)
    n, dim, cap = 400, 8, 50
    labels = [0] * (n // 2) + list(1 + np.arange(n // 2) % 10)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=dim)], int(lbl))
        for i, lbl in enumerate(labels)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )

    # exact fold reference (same expression as emb_dup_pairs)
    normed = emb.select(
        "label", "vec_id", as_double("embedding").alias("e")
    ).withColumn("nrm", dot(F.col("e"), F.col("e")))
    a = normed.select(
        F.col("label").alias("l"), F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"), F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("label").alias("l"), F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"), F.col("nrm").alias("nb"),
    )
    thr = 0.2
    cos = dot(F.col("ea"), F.col("eb")) / F.sqrt(F.col("na") * F.col("nb"))
    fold = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, ["l"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("c"))
        .filter(F.col("c") >= thr)
        .collect()
    }
    blas = {
        (r["vec_a"], r["vec_b"])
        for r in dup_pairs_blas(emb, threshold=thr, tile_cap=cap).collect()
    }
    assert blas == fold and len(fold) > 0

    # tile-boundedness: the biggest (label, ci, cj) task group stays
    # within the hash-imbalance slack of 2·cap rows
    counts = emb.groupBy("label").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(cap)).cast("int").alias("nck")
    )
    chunked = emb.join(F.broadcast(counts), "label").select(
        "label",
        F.pmod(F.xxhash64("vec_id"), F.col("nck")).cast("int").alias("ck"),
        "nck",
    )
    tasks = chunked.select(
        "label", "ck",
        F.explode(F.sequence(F.lit(0), F.col("nck") - 1)).alias("ok"),
    ).select(
        "label",
        F.least("ck", "ok").alias("ci"),
        F.greatest("ck", "ok").alias("cj"),
    )
    biggest = (
        tasks.groupBy("label", "ci", "cj").count().agg(F.max("count")).first()[0]
    )
    assert biggest <= 3 * cap  # 2·cap nominal + hash-imbalance slack


def test_emb_dup_pairs_rhlsh_recall_and_precision(spark):
    """Random-hyperplane LSH near-dup: every returned pair must be a TRUE
    pair (cosine >= tau — precision 1 by construction of the verify
    step), and recall against brute-force ALL-pairs (cross-label, numpy)
    must clear the deterministic floor the md5 planes give at tau=0.35.
    Also guards non-vacuity: the synthetic data must yield pairs."""
    import numpy as np

    from flinkrunner_spark.llm.similarity import (
        COSINE_DUP_THRESHOLD,
        emb_dup_pairs_rhlsh,
    )

    sf = "/root/testdata/sf0.001"
    rows = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = np.sqrt((E * E).sum(axis=1))
    C = (E @ E.T) / np.outer(nrm, nrm)
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = np.round(C[iu, ju], 6) >= COSINE_DUP_THRESHOLD
    true_pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[keep]], ids[ju[keep]])
    }

    got = {
        (r["vec_a"], r["vec_b"])
        for r in emb_dup_pairs_rhlsh(spark, sf).collect()
    }
    assert len(got) > 0
    assert got <= true_pairs  # precision 1.0: verify step filters exactly
    recall = len(got) / len(true_pairs)
    # deterministic planes + flip-1 multi-probe (auto at low thresholds,
    # r8 verdict item 1) -> recall >= 0.9 even at the near-orthogonal
    # worst-case threshold (was 0.78 exact-bucket)
    assert recall >= 0.9, recall

    # the unprobed plan is strictly weaker at the same bits — pins that
    # multi-probe is doing the lifting, not a data accident
    unprobed = {
        (r["vec_a"], r["vec_b"])
        for r in emb_dup_pairs_rhlsh(spark, sf, probes=0).collect()
    }
    assert unprobed <= got


def test_rhlsh_recall_stats_is_true_recall_at_small_n(spark):
    """The oracled recall-telemetry row (r8 verdict item 1): at corpora
    under the sample cap the md5 sample mod is 1, so n_true_pairs is the
    FULL cross-label all-pairs count and recall is true recall — which
    must match an independent numpy recomputation exactly, and clear the
    0.9 contract floor at tau=0.35."""
    import numpy as np

    from flinkrunner_spark.llm.similarity import (
        COSINE_DUP_THRESHOLD,
        emb_dup_pairs_rhlsh,
        rhlsh_recall_stats,
    )

    sf = "/root/testdata/sf0.001"
    row = rhlsh_recall_stats(spark, sf).first()
    rows = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    assert row["n_sample"] == len(rows)
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = np.sqrt((E * E).sum(axis=1))
    C = (E @ E.T) / np.outer(nrm, nrm)
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = np.round(C[iu, ju], 6) >= COSINE_DUP_THRESHOLD
    true_pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[keep]], ids[ju[keep]])
    }
    got = {
        (r["vec_a"], r["vec_b"])
        for r in emb_dup_pairs_rhlsh(spark, sf).collect()
    }
    assert row["n_true_pairs"] == len(true_pairs)
    assert row["n_found_pairs"] == len(got & true_pairs)
    assert row["probes"] == 1  # auto_probes is ON at the low threshold
    assert row["recall"] >= 0.9, row["recall"]


def test_emb_dup_clusters_matches_union_find(spark):
    """Connected components over the RH-LSH pair graph must equal an
    independent union-find over the SAME pairs: min vec_id labels,
    singletons cluster to themselves, transitive links collapse."""
    from flinkrunner_spark.llm.similarity import (
        emb_dup_clusters,
        emb_dup_pairs_rhlsh,
    )

    sf = "/root/testdata/sf0.001"
    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in emb_dup_pairs_rhlsh(spark, sf).collect()
    ]
    ids = [
        r["vec_id"]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id").collect()
    ]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: min(j for j in ids if find(j) == find(i)) for i in ids}
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in emb_dup_clusters(spark, sf).collect()
    }
    assert got == want
    assert len(pairs) > 0  # non-vacuous: real merges happened
    assert any(got[i] != i for i in ids)


def test_rh_bands_for_recall_sizes_the_cost_knob():
    """The band count the helper returns must actually deliver the
    target on the predicted-recall curve, and be minimal (one fewer
    band falls short)."""
    from flinkrunner_spark.llm.similarity import (
        predicted_recall,
        rh_bands_for_recall,
    )

    for tau, bits in [(0.35, 6), (0.35, 10), (0.35, 12), (0.9, 8)]:
        L = rh_bands_for_recall(tau, bits, target_recall=0.9)
        if L < 256:  # unclamped: exact minimality
            assert predicted_recall(tau, bits, L, 1) >= 0.9
            if L > 1:
                assert predicted_recall(tau, bits, L - 1, 1) < 0.9
    # the sf1 operating point (bits=12) needs ~4x the default 24 bands —
    # the documented linear cost of holding recall at 10x corpus growth
    assert rh_bands_for_recall(0.35, 12) > 24


def test_auto_probes_threshold_aware():
    """probes=1 only where exact-bucket recall can't reach the target:
    on at the near-orthogonal tau=0.35, off at a realistic 0.9 dup
    threshold (where exact buckets already exceed 0.9 recall)."""
    from flinkrunner_spark.llm.similarity import (
        auto_bits,
        auto_probes,
        predicted_recall,
    )

    assert auto_probes(0.35) == 1
    assert auto_probes(0.9) == 0
    assert predicted_recall(0.35, 6, 24, 1) >= 0.99
    assert predicted_recall(0.9, 6, 24, 0) >= 0.99
    # auto_bits prices the probe fan-out in: the probed width keeps the
    # expected per-band candidate fan-in under the target
    for n in (500, 5_000, 50_000, 500_000):
        b = auto_bits(n, probes=1)
        assert n * (1 + b) / (1 << b) <= 64 or b == 20
        assert b >= auto_bits(n)  # never narrower than the unprobed width


def test_emb_knn_join_matches_numpy_mirror(spark):
    """The learned-cell k-NN join (r7 verdict item 1b) must agree with a
    FULL independent numpy mirror: same hash-ordered bounded training
    sample, same BLAS Lloyd's sweeps, same first-argmin cell assignment,
    same per-query probe choice (rounded centroid cosine, cell
    tiebreak), same candidate set and same top-k ranking."""
    import hashlib

    import numpy as np

    from flinkrunner_spark.llm import similarity
    from flinkrunner_spark.llm.pq import _lloyds_blas

    sf = "/root/testdata/sf0.001"
    similarity.release_caches(sf)
    rows = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = sorted(
        range(len(ids)),
        key=lambda j: (hashlib.md5(str(ids[j]).encode()).hexdigest(), ids[j]),
    )
    sample = E[order[: similarity.KMEANS_SAMPLE_CAP]]
    k_cells = similarity.ivf_cells(len(ids))
    C = _lloyds_blas(sample, k_cells)
    d = (C * C).sum(axis=1)[None, :] - 2.0 * (E @ C.T)
    cell = d.argmin(axis=1)

    # probe + scoring mirrored through the SAME numpy expressions the
    # implementation batches (GEMM probe matrix, row-wise (A*Q).sum dots)
    cnorm = np.sqrt((C * C).sum(axis=1))
    qidx = np.flatnonzero(ids % similarity.KNN_JOIN_STRIDE == 0)
    Q = E[qidx]
    qn = np.sqrt((Q * Q).sum(axis=1))
    ccos_all = np.round((Q @ C.T) / (qn[:, None] * cnorm[None, :]), 6)
    expected = {}
    for row, qi in enumerate(qidx):
        q = E[qi]
        probed = set(
            int(c)
            for c in np.lexsort((np.arange(k_cells), -ccos_all[row]))[
                : similarity.KNN_JOIN_NPROBE
            ]
        )
        mask = np.array(
            [int(cell[j]) in probed and ids[j] != ids[qi] for j in range(len(ids))]
        )
        cids, CE = ids[mask], E[mask]
        cos = np.round(
            (CE * q[None, :]).sum(axis=1)
            / np.sqrt((CE * CE).sum(axis=1) * (q * q).sum()),
            6,
        )
        top = np.lexsort((cids, -cos))[: similarity.KNN_JOIN_K]
        expected[int(ids[qi])] = [
            (int(cids[t]), float(cos[t])) for t in top
        ]

    got = {}
    for r in similarity.emb_knn_join(spark, sf).collect():
        got.setdefault(r["q_vec_id"], []).append(
            (r["rk"], r["vec_id"], r["cosine"])
        )
    assert set(got) == set(expected)
    for q, exp in expected.items():
        g = sorted(got[q])
        assert [t[1] for t in g] == [e[0] for e in exp], q
        assert all(abs(t[2] - e[1]) < 2e-6 for t, e in zip(g, exp)), q
    # the quantizer is genuinely corpus-scaled, not the fixed label count
    assert k_cells == 32 and len(set(cell.tolist())) > 10
    similarity.release_caches(sf)


def test_emb_knn_join_label_query_cap_binds(spark):
    """The exactly-oracled label twin's query block is CONSTANT-SIZE:
    with a tight cap only that many hash-chosen queries return, and the
    probe frame (the broadcast side) is bounded by cap·nprobe rows."""
    from flinkrunner_spark.llm import similarity

    sf = "/root/testdata/sf0.001"
    out = similarity.emb_knn_join_label(spark, sf, query_cap=3).toPandas()
    assert out["q_vec_id"].nunique() == 3
    full = similarity.emb_knn_join_label(spark, sf).toPandas()
    # cap not binding at this scale -> every stride query present
    n_queries = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(f"vec_id % {similarity.KNN_JOIN_STRIDE} = 0")
        .count()
    )
    assert full["q_vec_id"].nunique() == n_queries
    # the capped block is a subset of the full query set
    assert set(out["q_vec_id"]) <= set(full["q_vec_id"])


def test_lsh_super_bucket_cap_drops_degenerate_buckets(spark):
    """A band bucket above MAX_LSH_BUCKET must be dropped BEFORE pair
    expansion (no O(bucket²) blowup from boilerplate collisions), the
    drop must be observable (no silent truncation), and under-cap
    buckets must be unaffected."""
    from pyspark.sql import functions as F

    from flinkrunner_spark.llm import dedup

    # 6 docs with identical signatures -> every band bucket has size 6
    sigs = spark.range(6).select(
        F.col("id").alias("doc_id"),
        *[F.lit(f"h{j}").alias(f"mh{j}") for j in range(dedup.MINHASH_K)],
    )
    capped = dedup._candidate_pairs(sigs, max_bucket=5)
    assert capped.count() == 0  # all buckets over cap -> no pairs

    uncapped = dedup._candidate_pairs(sigs, max_bucket=6)
    assert uncapped.count() == 15  # C(6,2): under-cap buckets intact


def test_rhlsh_super_bucket_cap_and_stats(spark):
    """The RH-LSH count-first guard must drop over-cap (band, code)
    buckets BEFORE any id set collects (mirroring _candidate_pairs), the
    drop must be observable via rhlsh_bucket_stats, and at test scale the
    default cap must be inactive (pair set unchanged vs an effectively
    infinite cap)."""
    from flinkrunner_spark.llm import similarity

    sf = "/root/testdata/sf0.001"
    similarity.release_caches(sf)
    default_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.emb_dup_pairs_rhlsh(spark, sf).collect()
    }
    huge_cap = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.emb_dup_pairs_rhlsh(
            spark, sf, max_bucket=10**9
        ).collect()
    }
    assert default_pairs == huge_cap and default_pairs
    # cap=1: every multi-member bucket dropped -> zero candidates
    assert similarity.emb_dup_pairs_rhlsh(spark, sf, max_bucket=1).count() == 0

    row = similarity.rhlsh_bucket_stats(spark, sf).first()
    assert row["dropped_buckets"] == 0
    assert 0 < row["max_bucket_size"] <= similarity.RH_MAX_BUCKET
    tight = similarity.rhlsh_bucket_stats(spark, sf, max_bucket=1).first()
    assert tight["dropped_buckets"] > 0
    similarity.release_caches(sf)


def test_label_centroids_two_level_fold_bounded_and_exact(spark, monkeypatch):
    """The centroid fold must (a) never hold more than CENT_FOLD_FAN_IN
    values in one aggregation buffer — forced here with a tiny fan-in on
    a group far larger than it — and (b) reproduce the independent numpy
    two-level fold bit-for-bit (rank-chunked sorted slices, chunk sums
    folded in chunk order), i.e. chunking changes memory shape, not
    determinism."""
    import numpy as np
    from pyspark.sql import functions as F

    from flinkrunner_spark.llm import similarity

    rng = np.random.default_rng(7)
    vals = rng.normal(size=(100, 3)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, 0, [float(x) for x in vals[i]]) for i in range(len(vals))],
        "vec_id long, label int, embedding array<float>",
    )
    monkeypatch.setattr(similarity, "CENT_FOLD_FAN_IN", 7)
    got = similarity._label_centroids(emb).first()["centroid"]

    V = vals.astype(np.float64)
    expect = []
    for pos in range(3):
        xs = np.sort(V[:, pos], kind="stable")
        csums = []
        for c in range(0, len(xs), 7):
            acc = 0.0
            for x in xs[c : c + 7]:
                acc += x
            csums.append(acc)
        total = 0.0
        for s in csums:
            total += s
        expect.append(total / len(xs))
    assert got == expect  # exact float equality, not approx

    # flat-fold degenerate case: fan-in above the group size
    monkeypatch.setattr(similarity, "CENT_FOLD_FAN_IN", 4096)
    flat = similarity._label_centroids(emb).first()["centroid"]
    acc = [0.0] * 3
    for pos in range(3):
        for x in np.sort(V[:, pos], kind="stable"):
            acc[pos] += x
    assert flat == [a / len(V) for a in acc]


def test_rhlsh_auto_bits_tracks_corpus_size():
    """auto_bits keeps the EXPECTED bucket under the target as n grows
    (the 8x-study lever made automatic), clamps small corpora to the
    static default (oracle parity at sf0.01) and wide codes to int32-safe
    20 bits."""
    from flinkrunner_spark.llm.similarity import (
        RH_BITS,
        RH_TARGET_BUCKET,
        auto_bits,
    )

    assert auto_bits(500) == RH_BITS  # min-clamp: sf0.01 matches the oracle
    assert auto_bits(2_000) == RH_BITS
    for n in (100_000, 1_000_000, 50_000_000):
        b = auto_bits(n)
        assert n / (1 << b) <= RH_TARGET_BUCKET
        assert b >= RH_BITS
    assert auto_bits(10**9) == 20  # int32-code clamp


def test_lsh_real_corpus_under_cap(spark):
    """At test scale no bucket approaches the cap — the production guard
    must not change results (the oracle carries the same HAVING bound) —
    and the stats query reports the drop count as a first-class signal."""
    from flinkrunner_spark.llm import dedup

    dedup.release_caches("/root/testdata/sf0.001")
    n = dedup.docs_minhash_lsh(spark, "/root/testdata/sf0.001").count()
    assert n > 0
    row = dedup.lsh_bucket_stats(spark, "/root/testdata/sf0.001").first()
    assert row["dropped_buckets"] == 0
    assert 0 < row["max_bucket_size"] <= dedup.MAX_LSH_BUCKET
    # a tighter cap WOULD drop buckets, and the stats surface it
    tight = dedup.lsh_bucket_stats(
        spark, "/root/testdata/sf0.001", max_bucket=1
    ).first()
    assert tight["dropped_buckets"] > 0
    dedup.release_caches("/root/testdata/sf0.001")


def test_sbf_aggregate_per_group(spark):
    """BloomFilterAggregateFunction parity (operator/
    BloomFilterAggregateFunction.scala): one SBF per group via a grouped
    vectorized aggregate — no false negatives within a group, bounded
    false positives against other groups' values, and the OR-merge of
    slice-partial filters covers everything the full build does."""
    from flinkrunner_spark.operators.bloomagg import (
        sbf_aggregate,
        sbf_merge_blobs,
        sbf_might_contain,
    )
    from flinkrunner_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id"
    )
    out = {
        r["event_type"]: r
        for r in sbf_aggregate(ev, ["event_type"], "user_id").collect()
    }
    pdf = ev.toPandas()
    by_type = pdf.groupby("event_type")["user_id"].apply(
        lambda s: set(s.astype(str))
    )
    for et, members in by_type.items():
        blob = out[et]["sbf"]
        assert out[et]["n_items"] == (pdf.event_type == et).sum()
        # no false negatives
        assert all(sbf_might_contain(blob, m) for m in members)
    # bounded false positives: probe values no group contains
    fp = sum(
        sbf_might_contain(out[et]["sbf"], f"ghost-{i}")
        for et in by_type.index
        for i in range(200)
    )
    assert fp <= 0.05 * 200 * len(by_type.index)
    # slice-partials OR-merge to cover the full membership
    et0 = by_type.index[0]
    sl = ev.filter(f"event_type = '{et0}'")
    a = sbf_aggregate(sl.filter("user_id % 2 = 0"), ["event_type"], "user_id")
    b = sbf_aggregate(sl.filter("user_id % 2 = 1"), ["event_type"], "user_id")
    merged = sbf_merge_blobs(
        a.collect()[0]["sbf"], b.collect()[0]["sbf"]
    )
    assert all(sbf_might_contain(merged, m) for m in by_type[et0])


def test_resolve_rh_plan_fixed_point_at_corpus_width():
    """r9 advisor: probes must be decided at the CORPUS-RESOLVED code
    width, not the minimum. At a mid threshold (0.9) the 6-bit curve
    clears the target (old auto_probes said 0), but a large corpus
    widens codes to ~20 bits where exact-bucket recall collapses — the
    resolver must enable probing there and re-widen for the fan-out."""
    from flinkrunner_spark.llm.similarity import (
        RH_BANDS,
        RH_BITS,
        RH_TARGET_RECALL,
        auto_bits,
        predicted_recall,
        resolve_rh_plan,
    )

    # small corpus, mid threshold: min width suffices, no probes
    bits, probes = resolve_rh_plan(500, 0.9)
    assert bits == RH_BITS and probes == 0
    assert predicted_recall(0.9, bits, RH_BANDS, 0) >= RH_TARGET_RECALL

    # large corpus, same threshold: auto width ~20 bits, exact-bucket
    # recall falls below target → probing must kick in, width re-priced
    n_big = 50_000_000
    b0 = auto_bits(n_big, probes=0)
    assert predicted_recall(0.9, b0, RH_BANDS, 0) < RH_TARGET_RECALL
    bits_big, probes_big = resolve_rh_plan(n_big, 0.9)
    assert probes_big == 1
    assert bits_big == auto_bits(n_big, probes=1) >= b0
    # probed recall at the resolved width beats the silent exact plan
    assert predicted_recall(0.9, bits_big, RH_BANDS, 1) > predicted_recall(
        0.9, bits_big, RH_BANDS, 0
    )

    # explicit pins are honored verbatim
    assert resolve_rh_plan(n_big, 0.9, bits=8, probes=0) == (8, 0)
    assert resolve_rh_plan(n_big, 0.9, probes=1)[1] == 1

    # the default low threshold resolves exactly as the shipped plans
    # expect (oracle parity at the driver's sf0.01: bits=6, probes=1)
    assert resolve_rh_plan(500, 0.35) == (RH_BITS, 1)


def test_scratch_dir_resolution_order(spark, monkeypatch):
    """Snapshot locations thread through config (r9 verdict item 4):
    session conf wins, then the env var, then the /tmp default."""
    from flinkrunner_spark.util.paths import (
        SCRATCH_CONF_KEY,
        SCRATCH_ENV_KEY,
        scratch_dir,
    )

    monkeypatch.delenv(SCRATCH_ENV_KEY, raising=False)
    spark.conf.unset(SCRATCH_CONF_KEY)
    assert scratch_dir(spark, "x/y") == "/tmp/x/y"
    monkeypatch.setenv(SCRATCH_ENV_KEY, "/srv/shared")
    assert scratch_dir(spark, "x/y") == "/srv/shared/x/y"
    spark.conf.set(SCRATCH_CONF_KEY, "hdfs:///scratch/")
    assert scratch_dir(spark, "x/y") == "hdfs:///scratch/x/y"
    spark.conf.unset(SCRATCH_CONF_KEY)


def _emb_batch(rows):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array(range(len(rows)), pa.int64()),
            pa.array(rows, pa.list_(pa.float32())),
        ],
        ["vec_id", "embedding"],
    )


def test_arrow_matrix_rejects_null_and_ragged_rows():
    """A null or short embedding raises a ValueError naming the column,
    in the helper and through the RH-LSH code mapper — flatten() alone
    would drop the null slot or run rows together, shifting every later
    row's vector. (The ragged case sums to 3×64 values, so a bare
    reshape would succeed silently.)"""
    import pytest

    from flinkrunner_spark.llm.similarity import arrow_matrix, rh_codes_mapper

    good = [[1.0] * 64, [-1.0] * 64, [0.5] * 64]
    col = _emb_batch(good).column(1)
    m = arrow_matrix(col, "embedding")
    assert m.shape == (3, 64) and m.dtype == np.float64
    assert (m[1] == -1.0).all()
    assert (arrow_matrix(col.slice(1), "embedding") == m[1:]).all()
    codes = list(rh_codes_mapper(2, 4)(iter([_emb_batch(good)])))
    assert sum(b.num_rows for b in codes) == 3 * 2
    for bad in (
        [good[0], None, good[2]],
        [good[0], [1.0] * 63, [1.0] * 65],
    ):
        batch = _emb_batch(bad)
        with pytest.raises(ValueError, match="'embedding'"):
            arrow_matrix(batch.column(1), "embedding")
        with pytest.raises(ValueError, match="'embedding'"):
            list(rh_codes_mapper(2, 4)(iter([batch])))
