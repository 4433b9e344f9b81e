"""Document deduplication for LLM data pipelines: exact, MinHash+LSH,
n-gram Jaccard and SimHash — all as declarative DataFrame plans.

Scale design (100 TB):
* exact dedup: one shuffle on the 128-bit content hash (never on the text).
* MinHash+LSH: per-doc signatures are a parallel scan; candidate
  generation is a self-join on (band hash) — the shuffle key is the band
  bucket, so cost is proportional to collisions, never the n² cross
  product.
* Jaccard verification runs only on LSH candidate pairs.
* SimHash: parallel scan + one small aggregation keyed by (doc, bit).

Hashing is md5 (identical on Spark and DuckDB) so every stage is
oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark import memo
from flinkrunner_spark.llm.text import tokens_col
from flinkrunner_spark.tables import load_table

MINHASH_K = 8  # minhash permutations
LSH_BANDS = 4  # bands of 2 rows each
JACCARD_THRESHOLD = 0.2
MAX_LSH_BUCKET = 1000  # super-bucket guard: skip degenerate band buckets


def shingles_col(toks: Column) -> Column:
    """3-word shingles (whole doc as one shingle for short docs)."""
    n = F.size(toks)
    tri = F.transform(
        F.sequence(F.lit(0), n - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    return F.when(n >= 3, tri).otherwise(F.array(F.array_join(toks, " ")))


def minhash_sig(sh: Column, k: int = MINHASH_K) -> list[Column]:
    """k minhashes: lexicographic min of md5(j || ':' || shingle)."""
    return [
        F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{j}:"), s)))
        ).alias(f"mh{j}")
        for j in range(k)
    ]


def _docs_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Small inputs arrive as one parquet split; spread the hash-heavy work
    # across all cores (at 100 TB the scan itself provides the splits).
    # Tokenize into a materialized column FIRST: higher-order-function
    # lambdas are interpreted, and a non-column child expression would be
    # re-evaluated on every element access (O(tokens × shingles) per doc).
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", tokens_col().alias("toks"))
    sh = toks.select("doc_id", shingles_col(F.col("toks")).alias("sh"))
    # Exchange barrier: materialize the shingle arrays once. Without it,
    # downstream explode/array ops re-evaluate the interpreted shingle
    # expression several times per row (~4× observed).
    return sh.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def band_hashes(k: int = MINHASH_K, bands: int = LSH_BANDS) -> Column:
    rows = k // bands
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"{b}:"),
                    *[F.col(f"mh{b * rows + r}") for r in range(rows)],
                )
            )
            for b in range(bands)
        ]
    )


def release_caches(sf_dir: str | None = None) -> None:
    memo.release("llm.dedup", sf_dir)


def _sig_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc minhash signature AND distinct shingle set, one scan.

    One explode → codegen'd md5 → single (doc_id) aggregate producing both
    the k signature minima and ``collect_set(shingle)``. The LSH candidate
    stage and the exact-Jaccard verify stage both consume this frame, so
    the shingle pipeline — the expensive interpreted part — runs once per
    query instead of once per consumer. The md5s run inside whole-stage
    codegen (≈5× over interpreted higher-order lambdas), and the only wide
    exchange carries (doc_id, k hashes, distinct shingles) — never the
    document text.

    The frame is persisted (deserialized, spill-to-disk): it is corpus-
    sized but text-free, so docs_minhash_lsh / docs_ngram_jaccard /
    docs_dup_clusters / docs_pipeline in one session all share a single
    materialization per sf_dir (memoized in ``flinkrunner_spark.memo``;
    call ``release_caches`` to unpersist when done with an sf_dir). At
    100 TB the same persist call spills cleanly; recompute-instead-of-
    cache only pays if the cluster is disk-starved."""
    return memo.memo(
        spark, "llm.dedup.signatures", sf_dir,
        lambda: _build_sig_shingles(spark, sf_dir),
    )


def _build_sig_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode_outer, not explode: plain explode adds an implicit
    # `size(sh)>0` filter that Catalyst pushes below the exchange with the
    # whole interpreted shingle expression inlined — evaluated twice extra
    # on the unparallelized scan. Every doc has ≥1 shingle, so the outer
    # variant is semantically identical here.
    ex = _docs_shingled(spark, sf_dir).select(
        "doc_id", F.explode_outer("sh").alias("s")
    )
    hashed = ex.select(
        "doc_id",
        "s",
        *[
            F.md5(F.concat(F.lit(f"{j}:"), F.col("s"))).alias(f"h{j}")
            for j in range(MINHASH_K)
        ],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{j}").alias(f"mh{j}") for j in range(MINHASH_K)],
        F.collect_set("s").alias("shd"),
    )
    return sig.persist()


def _candidate_pairs(
    sigs: DataFrame, max_bucket: int = MAX_LSH_BUCKET
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band hash.

    Shaped as groupBy(band) → in-bucket pair expansion rather than a
    band=band self-join: one scan of the signatures and one shuffle on
    the band hash, where the self-join form scans and shuffles the whole
    signature pipeline twice. Bucket pair expansion is quadratic only in
    the bucket size, which LSH keeps small by construction; the expansion
    itself is JVM array exprs (no Python).

    SUPER-BUCKET GUARD: a degenerate band (a boilerplate shingle shared
    by millions of docs) would otherwise build one giant collect_set row
    and O(bucket²) pairs on a single task. Buckets above ``max_bucket``
    are dropped BEFORE the set is collected — bucket sizes aggregate
    first (a cheap count-only shuffle of the band column), the over-cap
    band list (tiny by construction) broadcast-anti-joins the band rows,
    and only then does the pair expansion run. Production LSH drops (or
    re-bands) such buckets: their members collide on boilerplate, not
    similarity, and recall for genuinely similar pairs survives via the
    other bands. NOT silent: ``lsh_bucket_stats`` reports
    dropped_buckets / max_bucket_size as a first-class oracled query
    (a dataflow Observation cannot carry the numbers out — the size
    aggregate executes inside the broadcast-exchange thread, whose
    observed metrics never reach the session listener; measured empty)."""
    bands = sigs.select("doc_id", F.explode(band_hashes()).alias("band"))
    sizes = bands.groupBy("band").agg(F.count(F.lit(1)).alias("n"))
    big = sizes.filter(F.col("n") > max_bucket).select("band")
    buckets = (
        bands.join(F.broadcast(big), "band", "left_anti")
        .groupBy("band")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
    )
    # two flat explodes (first element × strict suffix) rather than one
    # nested transform/flatten lambda — same rows, far simpler generated
    # code (deeply nested lambdas cost seconds of one-off plan compilation)
    left = buckets.filter(F.size("ids") >= 2).select(
        F.posexplode("ids").alias("i", "doc_a"), "ids"
    )
    pairs = left.select(
        "doc_a",
        F.explode(
            F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
        ).alias("doc_b"),
    )
    return pairs.distinct()


def docs_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by md5(text), keep the smallest doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def docs_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (banded signature collision)."""
    return _candidate_pairs(_sig_shingles(spark, sf_dir).drop("shd"))


def lsh_bucket_stats(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_LSH_BUCKET
) -> DataFrame:
    """LSH bucket health: total band buckets, the largest bucket, and how
    many buckets the super-bucket guard in ``_candidate_pairs`` drops at
    the current cap — the no-silent-truncation companion to
    ``docs_minhash_lsh``. One count-only aggregate over the persisted
    signature frame (the shingle pipeline is shared, the stats row is a
    scalar); a pipeline operator alerts on dropped_buckets > 0."""
    sigs = _sig_shingles(spark, sf_dir).drop("shd")
    bands = sigs.select("doc_id", F.explode(band_hashes()).alias("band"))
    sizes = bands.groupBy("band").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket_size"),
        F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0)).alias(
            "dropped_buckets"
        ),
    )


def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard over the LSH candidate pairs.

    Candidate generation and verification both read the persisted
    ``_sig_shingles`` frame — the shingle/md5 pipeline runs ONCE; the
    verify side just joins the candidates back to the cached distinct-
    shingle sets (Jaccard via intersect/union sizes, order-independent,
    so ``collect_set`` is equivalent to the sorted-distinct the DuckDB
    oracle computes)."""
    sigs = _sig_shingles(spark, sf_dir)
    pairs = _candidate_pairs(sigs.drop("shd"))
    shd = sigs.select("doc_id", "shd")
    j = pairs.join(
        shd.select(F.col("doc_id").alias("doc_a"), F.col("shd").alias("sh_a")),
        "doc_a",
    ).join(
        shd.select(F.col("doc_id").alias("doc_b"), F.col("shd").alias("sh_b")),
        "doc_b",
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        j.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from the jaccard-verified near-dup pairs:
    connected components with the smallest doc_id as the cluster id, so
    "keep one per cluster" is `doc_id == cluster_id`. Pairs alone under-
    delete — transitively linked copies (A~B, B~C, A!~C by threshold)
    must land in one cluster. Runs the distributed min-label propagation
    from operators/graph.py; every doc appears (singletons cluster to
    themselves).

    Connected components is iterative (localCheckpoint per round breaks
    plan identity), so Spark's plan-keyed cache manager can never share
    the result between queries: the small (doc_id, cluster_id) frame is
    memoized per session instead, and docs_dedup_report and
    docs_pipeline read the same CC run. Its blocks are freed eagerly on
    release (``_free_checkpoint``), not left to the JVM ContextCleaner."""
    from flinkrunner_spark.operators.graph import (
        _free_checkpoint,
        connected_components,
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        pairs = docs_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        return connected_components(
            pairs, docs, src="doc_a", dst="doc_b",
            id_col="doc_id", label_col="cluster_id",
        )  # already eagerly checkpointed; intermediates freed inside

    return memo.memo(
        spark, "llm.dedup.clusters", sf_dir, build, free=_free_checkpoint
    )


def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit SimHash per document: per-token md5, bit-vote, sign-pack.

    (63 bits, not 64, so the packed value stays positive in an int64 on
    both engines.)

    Plan note: the 63-rows-per-token explode looks like 63× inflation but
    is NOT a 63× shuffle — the (doc_id, k) hash aggregate partial-combines
    map-side, so the exchange carries ~63 values per doc either way. A
    measured alternative (one wide agg with 63 sum columns) shuffles the
    same bytes but loses whole-stage codegen (2.5× slower warm) — keep the
    explode form.
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # explode_outer avoids the pushed-down size() filter (see _signatures);
    # the null guard afterwards is an attribute test, not a recomputation.
    ex = (
        docs.select("doc_id", F.explode_outer(tokens_col()).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .withColumn("h", F.md5("tok"))
    )
    bits = ex.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(62))).alias("k"),
    ).selectExpr(
        "doc_id",
        "k",
        "(shiftright(instr('0123456789abcdef', substring(h, CAST(k div 4 AS INT) + 1, 1)) - 1,"
        " 3 - CAST(k % 4 AS INT)) & 1) AS bit",
    )
    votes = bits.groupBy("doc_id", "k").agg(
        F.sum(F.when(F.col("bit") == 1, 1).otherwise(-1)).alias("vote")
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), k)"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def docs_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION + audit report for near-dup clustering (the number a
    curation run actually publishes): keep the smallest doc_id of every
    verified dup cluster, and report per language how many documents
    and characters survive vs drop. Completes the detect→act symmetry
    the span family has (`docs_dup_spans` → `docs_remove_dup_spans`)
    for the document-level MinHash/Jaccard path.

    100 TB shape: the cluster frame is two ints per doc (the cached
    `docs_dup_clusters` output — its CC cost is shared, not re-paid),
    the keep decision is a pure projection (`doc_id == cluster_id`),
    and the report is ONE map-side-combined aggregate over
    (lang, 2 ints) — no text ever moves. EXACTLY oracled (the recursive
    cluster closure replayed in SQL + the same conditional sums)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    cl = docs_dup_clusters(spark, sf_dir)
    keep = (F.col("cluster_id") == F.col("doc_id")).cast("int")
    return (
        docs.join(cl, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep).alias("n_kept"),
            F.sum(1 - keep).alias("n_removed"),
            F.sum(F.col("n_chars") * keep).cast("long").alias("chars_kept"),
        )
    )
