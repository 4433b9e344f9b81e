"""Physical-plan shape checks for the analytics queries — the written-down
proof of the 100 TB design claims in SURVEY §2.4: dimension joins are
broadcast (no fact-side shuffle for dims), EXISTS/NOT EXISTS compile to
semi/anti joins (never a row-duplicating inner join + distinct), and
single-scan claims hold (no join-back in Q18).

These assert on the executed plan string, so they fail loudly if a code
change silently degrades a broadcast into a shuffle join."""

from __future__ import annotations

import pytest

from flinkrunner_spark.plans import analytics

SF = "/root/testdata/sf0.001"


def _plan(spark, fn):
    return fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_q4_uses_semi_join(spark):
    plan = _plan(spark, analytics.q4_priority)
    assert "LeftSemi" in plan, plan


def test_q22_uses_anti_join_and_broadcast_scalar(spark):
    plan = _plan(spark, analytics.q22_opportunity)
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_q5_all_dims_broadcast(spark):
    # 6-way join: the ONLY non-broadcast join is lineitem⋈orders
    plan = _plan(spark, analytics.q5_supplier)
    n_broadcast = plan.count("BroadcastHashJoin")
    n_shuffle_join = plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert n_broadcast >= 3, plan
    assert n_shuffle_join <= 1, plan


def test_q8_market_dims_broadcast(spark):
    plan = _plan(spark, analytics.q8_market)
    n_shuffle_join = plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert n_shuffle_join <= 1, plan  # only lineitem⋈orders may shuffle


def test_q18_single_lineitem_scan(spark):
    # no join-back: lineitem appears exactly once in the scan list
    plan = _plan(spark, analytics.q18_bigorders)
    assert plan.count("lineitem.parquet") == 1, plan


def test_q17_avg_side_broadcast(spark):
    plan = _plan(spark, analytics.q17_smallqty)
    assert "BroadcastHashJoin" in plan, plan


def test_q6_filters_reach_scan(spark):
    # predicate pushdown: the parquet scan itself carries the filters
    df = analytics.q6_forecast(spark, SF)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    assert "PushedFilters: [" in formatted, formatted
    pushed = [
        line for line in formatted.splitlines() if "PushedFilters" in line
    ]
    assert any("l_shipdate" in line or "l_discount" in line for line in pushed), (
        formatted
    )


@pytest.mark.parametrize(
    "fn",
    [analytics.q1_pricing, analytics.q6_forecast],
    ids=["q1", "q6"],
)
def test_scan_prunes_columns(spark, fn):
    # column pruning: the scan schema must not include unused wide columns
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(spark, SF).explain("formatted")
    formatted = buf.getvalue()
    read_schema = [
        line for line in formatted.splitlines() if "ReadSchema" in line
    ]
    assert read_schema, formatted
    assert all("l_partkey" not in line for line in read_schema), formatted


def test_lsh_jaccard_consumes_shingles_from_cache(spark):
    """docs_ngram_jaccard must read the signature/shingle frame from the
    persisted InMemoryRelation in ALL consumers (candidate generation +
    both verify-join sides) — a bare FileScan of documents in the
    top-level plan would mean the shingle pipeline is being recomputed.

    Asserted on the optimized LOGICAL plan tree, not a plan string: once
    the cache is materialized (e.g. after the parity suite ran in the
    same session), cached-relation nodes *print* their cached child plan
    — including FileScans — so string-counting false-positives; and the
    physical tree hides behind an AdaptiveSparkPlan leaf under AQE. In
    the optimized logical plan, cache substitution has already happened:
    every leaf must be an InMemoryRelation — an uncached consumer would
    surface as a bare parquet Relation leaf."""
    from flinkrunner_spark.llm.dedup import docs_ngram_jaccard

    plan = docs_ngram_jaccard(spark, SF)._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    cached = [n for n in names if "InMemoryRelation" in n]
    assert len(cached) >= 2, names
    assert len(cached) == len(names), names


def test_release_caches_frees_executor_storage(spark):
    """The persist/memoize lifecycle: after release_caches(sf_dir) the
    signature frame's blocks are gone from executor storage and both
    registry entries (signatures, clusters) are dropped — a long-lived
    service sweeping many corpora must not accumulate pinned frames."""
    from flinkrunner_spark import memo
    from flinkrunner_spark.llm import dedup as llm_dedup

    def storage_ids():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {infos[i].id() for i in range(len(infos))}

    llm_dedup.release_caches(SF)
    baseline = storage_ids()
    llm_dedup.docs_ngram_jaccard(spark, SF).count()
    llm_dedup.docs_dup_clusters(spark, SF).count()
    assert memo.entries("llm.dedup.signatures", SF)
    assert memo.entries("llm.dedup.clusters", SF)
    grown = storage_ids() - baseline
    assert grown  # the signature frame materialized into storage
    llm_dedup.release_caches(SF)
    assert not memo.entries("llm.dedup", SF)
    # persisted signature blocks, per-round CC checkpoints (freed when
    # superseded inside connected_components) and the cluster frame's
    # own checkpoint must ALL be gone — nothing this run pinned survives
    leaked = storage_ids() & grown
    assert not leaked, leaked


# ---------------------------------------------------------------------------
# round-5 second-half operators: the scale claims, asserted on the plan
# ---------------------------------------------------------------------------


def test_filter_screens_are_zero_exchange_scans(spark):
    """Gopher/badword screens are pure projections — a plan with any
    Exchange would mean the filter stopped being embarrassingly
    parallel."""
    from flinkrunner_spark.llm import filters

    for fn in (filters.docs_gopher_rules, filters.docs_badwords):
        plan = _plan(spark, fn)
        assert plan.count("Exchange") == 0, plan


def test_shuffle_shards_single_exchange_no_global_sort(spark):
    """One hash-partition exchange on the shard key; ordering is the
    per-shard window sort, never a global range exchange."""
    from flinkrunner_spark.llm import sampling

    plan = _plan(spark, sampling.docs_shuffle_shards)
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_mixture_weights_broadcasts_total(spark):
    """The corpus-total side of the cross join is a broadcast one-row
    aggregate — no driver .count() round-trip, no shuffled cross join."""
    from flinkrunner_spark.llm import sampling

    plan = _plan(spark, sampling.docs_mixture_weights)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # per-stratum agg + (tiny) total agg: partial/final pairs only
    assert "partial_" in plan.lower() or "partial" in plan, plan


def test_emb_decontaminate_broadcasts_eval_block(spark):
    """The eval block broadcasts (zero shuffle for the scoring); the
    only real exchange is the count-sized per-vector max."""
    from flinkrunner_spark.llm import similarity

    plan = _plan(spark, similarity.emb_decontaminate)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_upsert_merged_read_broadcasts_delete_side(spark, tmp_path):
    """Merge-on-read compiles to ONE anti-join with the aggregated
    delete keys on the broadcast side (AQE picks it from runtime
    stats) — the data side never shuffles on the key."""
    from flinkrunner_spark.iceberg import IcebergFsTable

    loc = str(tmp_path / "mor")
    t = IcebergFsTable(loc)
    df1 = spark.range(0, 2000).selectExpr("id", "id * 2 AS v")
    t.upsert(df1, ["id"])
    t.upsert(spark.range(0, 50).selectExpr("id", "id * 3 AS v"), ["id"])
    merged = t.read(spark)
    assert merged.count() == 2000  # plan executes -> AQE final plan
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "mod_fn,banned",
    [
        ("filters.docs_gopher_rules", ["source", "n_chars"]),
        ("sampling.docs_shuffle_shards", ["text", "source", "n_chars"]),
        ("vocab.docs_topk_ngrams", ["doc_id", "source", "n_chars"]),
    ],
    ids=["gopher", "shuffle", "vocab"],
)
def test_new_ops_scans_prune_columns(spark, mod_fn, banned):
    """The round-5 operators must not drag unused document columns
    through the scan — a filter screen reading `text` has no business
    scanning `source`/`n_chars`, and the vocabulary scan needs no ids."""
    import contextlib
    import importlib
    import io

    mod_name, fn_name = mod_fn.split(".")
    mod = importlib.import_module(f"flinkrunner_spark.llm.{mod_name}")
    fn = getattr(mod, fn_name)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(spark, SF).explain("formatted")
    lines = [
        line for line in buf.getvalue().splitlines() if "ReadSchema" in line
    ]
    assert lines
    for col in banned:
        assert all(col not in line for line in lines), (col, lines)


# ---------------------------------------------------------------------------
# round-7 operators: the scale claims, asserted on the plan
# ---------------------------------------------------------------------------


def test_docs_chunk_is_zero_exchange_projection(spark):
    """Chunking is tokenize → sequence → explode → slice → md5, all one
    JVM projection; any Exchange would mean document text started
    shuffling."""
    from flinkrunner_spark.llm import chunking

    plan = _plan(spark, chunking.docs_chunk)
    assert plan.count("Exchange") == 0, plan


def test_docs_chunk_dedup_single_hash_exchange(spark):
    """Chunk dedup moves only (hash, doc_id, chunk_idx) triples through
    ONE hash exchange with map-side combine — chunk text never
    materializes."""
    from flinkrunner_spark.llm import chunking

    plan = _plan(spark, chunking.docs_chunk_dedup)
    assert plan.count("Exchange") == 1, plan
    assert "partial_" in plan, plan  # map-side combine before the shuffle


def test_emb_knn_sq8_stats_are_one_aggregate_no_vector_shuffle(spark):
    """SQ8's quantization grid is one map-side-combined min/max
    aggregate; vectors stay put. The only exchanges are the stats
    single-partition gather and the global top-k (TakeOrdered plans no
    sort materialization)."""
    from flinkrunner_spark.llm import pq

    plan = _plan(spark, pq.emb_knn_sq8)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastExchange") >= 1, plan  # stats + query row
    # no hash-partitioned repartition of the embeddings themselves
    assert "hashpartitioning(vec_id" not in plan, plan


def test_docs_dsir_text_never_shuffles(spark):
    """DSIR's exchanges move hashed-bucket instances and per-doc sums —
    never the document text; the model rides a broadcast and the sample
    is a TakeOrdered top-k."""
    from flinkrunner_spark.llm import dsir

    plan = _plan(spark, dsir.docs_dsir_sample)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastExchange") >= 1, plan  # 1024-row LLR table
    # the text column appears in scans/projections only, not in any
    # exchange partitioning expression
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_docs_weighted_sample_is_takeordered_zero_exchange(spark):
    """A-ES sampling is ONE projection + ONE TakeOrdered: no Exchange
    before the top-k (the k-row rank window after it is free), text
    never moves."""
    from flinkrunner_spark.llm import sampling

    plan = _plan(spark, sampling.docs_weighted_sample)
    assert "TakeOrderedAndProject" in plan, plan
    pre_topk = plan.split("TakeOrderedAndProject", 1)[1]
    assert "Exchange hashpartitioning" not in pre_topk, plan


def test_docs_heavy_hitters_sketch_shuffle_is_bounded_keyspace(spark):
    """The CMS build shuffles (row, bucket) int pairs with a partial
    aggregate — the reduce side is O(D×W), never O(vocabulary) — and
    the sketch probes ride broadcast joins; the final top-k is a
    TakeOrdered, not a global sort."""
    from flinkrunner_spark.llm import sketches

    plan = _plan(spark, sketches.docs_heavy_hitters)
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial" in plan.lower(), plan
    assert plan.count("BroadcastExchange") >= sketches.CMS_DEPTH, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_emb_knn_join_no_forced_probe_broadcast(spark):
    """The learned-cell k-NN join must never row-duplicate via a
    nested-loop product, and its probe/scoring stages are Arrow-native
    (mapInArrow, r14 port — zero per-row Python, no pandas
    materialization) — no interpreted per-element folds in the hot
    path."""
    from flinkrunner_spark.llm import similarity

    similarity.release_caches(SF)
    plan = _plan(spark, similarity.emb_knn_join)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("MapInArrow") >= 2, plan  # probe + scoring
    assert "MapInPandas" not in plan, plan  # fully ported (r14)
    similarity.release_caches(SF)


def test_emb_outliers_adds_no_shuffle_over_assignment(spark):
    # the pruning screen adds ZERO shuffle exchanges on top of the
    # broadcast-argmax assignment (r11: the per-cluster ranking
    # shuffle+sort became a broadcast boundary-tuple join — the
    # cluster-key window would put a whole cluster through one task)
    from flinkrunner_spark.llm.pruning import emb_outliers
    from flinkrunner_spark.llm.similarity import (
        docs_cluster_assign,
        release_caches,
    )

    release_caches()  # all sf_dirs — a stale cached frame would skew the baseline
    from flinkrunner_spark.llm import pruning as _pruning

    _pruning.release_caches()
    plan = _plan(spark, emb_outliers)
    # the returned plan is a broadcast boundary-tuple join over the
    # PERSISTED assignment frame: everything ABOVE the cache boundary
    # must be shuffle-free (a materialized InMemoryRelation prints its
    # child lineage twice, so counting the whole string is cache-state
    # dependent — only the above-cache segment is this operator's own)
    assert "InMemoryTableScan" in plan, plan
    above = plan.split("InMemoryRelation", 1)[0]
    assert "Exchange hashpartitioning" not in above, above
    assert "windowspecdefinition(assigned_label" not in plan, plan


def test_changelog_append_commits_scan_only_added_files(spark, tmp_path):
    # an append-only changelog never rescans the table: each commit's
    # insert frame reads just its own files — the plan carries no join
    # and exactly one scan per commit in the range
    from flinkrunner_spark.iceberg import IcebergFsTable

    t = IcebergFsTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(
            spark.createDataFrame([(i, f"s{i}")], "id long, s string")
        )
    s1 = t.snapshots()[0]["snapshot-id"]
    cl = t.read_changelog(spark, from_snapshot_id=s1)
    plan = cl._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 2, plan


def test_docs_pipeline_nb_folds_stay_out_of_filters(spark):
    """r13 regression pin: docs_pipeline's language screen filters on
    the classifier's cheap lang_scorable column, and the argmax keeps
    each per-language NB fold at EXACTLY ONE occurrence. Filtering on
    lang_pred != 'und' instead lets Catalyst substitute the fold
    expressions into a pushed-down Filter (no subexpression elimination
    there) — measured 32x on the whole pipeline at sf0.1."""
    from flinkrunner_spark.llm.pipeline import docs_pipeline
    from flinkrunner_spark.llm.text import LANGID_LANGS

    plan = (
        docs_pipeline(spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the argmax (array_max over score structs) exists exactly once,
    # in a Project — never substituted into a Filter
    assert plan.count("array_max(") == 1, plan.count("array_max(")
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-")
        agg = line.count("aggregate(")
        if stripped.startswith("Filter"):
            # the substituted quality-score predicate carries one small
            # fold; NB folds leaking back in would push this to ~25
            assert "array_max(" not in line, line[:300]
            assert agg <= 2, (agg, line[:300])
        elif stripped.startswith("Project"):
            # 5 NB folds (one per language, each appearing ONCE) +
            # the quality-score fold; the r12 chained-when argmax form
            # would put ~30 here
            assert agg <= len(LANGID_LANGS) + 2, (agg, line[:300])
