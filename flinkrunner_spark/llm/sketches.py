"""Count-Min sketch heavy hitters over the ``documents`` token stream.

The reference's sketch family covers cardinality (HyperLogLog,
`algorithms/HyperLogLog.scala`) and membership (StableBloomFilter,
`algorithms/StableBloomFilter.scala`); Count-Min (Cormode &
Muthukrishnan 2005, "An improved data stream summary: the count-min
sketch and its applications") is the FREQUENCY member of the same
family and the standard heavy-hitters primitive of a training-data
pipeline (vocabulary screens, boilerplate detection, badword telemetry
at corpus scale).

Reference scope note: no reference counterpart — LLM-data-pipeline
extension family (SURVEY.md §2.5), same standing as the HLL/SBF-
adjacent ops.

100 TB shape:
* the sketch is a FIXED D×W counter table (4×1024 = 4096 rows here) no
  matter the corpus size — built with ONE shuffle of (row, bucket)
  int pairs, map-side combined, exactly like ``docs_topk_ngrams``'s
  count shuffle but with a BOUNDED key space (the whole point: the
  reduce side is O(D·W), not O(vocabulary));
* point queries broadcast the 4096-row sketch and take the min over D
  bucket counts — a zero-shuffle lookup against any candidate set;
* hashes are md5-derived (``md5(token:cms:<row>)``), so the sketch is
  deterministic across runs, engines, and cluster sizes, and the
  DuckDB oracle reproduces every counter and every estimate
  bit-for-bit — the same reproducibility discipline as the HLL
  register pipeline and the RH-LSH planes.

The ``docs_heavy_hitters`` surface also carries each hitter's EXACT
count: ``est >= exact`` is the CMS one-sided guarantee (never
undercounts), and ``est - exact`` is the collision overcount — shipped
as first-class columns so the sketch's error is observable, the same
no-silent-degradation rule as ``rhlsh_bucket_stats``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark import memo
from flinkrunner_spark.llm.text import hex8_long, tokens_col
from flinkrunner_spark.tables import load_table

CMS_DEPTH = 4  # hash rows (error probability ~ e^-D)
CMS_WIDTH = 1024  # buckets per row (overcount ~ N·e/W)
HH_TOP_K = 50


def release_caches(sf_dir: str | None = None) -> None:
    memo.release("llm.sketches", sf_dir)


def _token_stream_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded single-column token stream, persisted once per
    corpus per session (``flinkrunner_spark.memo``) — text-free and
    spill-clean, the same persist trade ``_sig_shingles`` documents at
    100 TB (recomputing the tokenize+explode pass twice costs more than
    spilling the token column once). The exact-count twin of
    docs_heavy_hitters and the probe path of stream_heavy_hitters read
    the same frame."""
    return memo.memo(
        spark, "llm.sketches.tokens", sf_dir,
        lambda: _token_stream(spark, sf_dir).persist(),
    )


def cms_bucket(tok: Column, row: int, width: int = CMS_WIDTH) -> Column:
    """Deterministic bucket of ``tok`` in hash row ``row``: the first 8
    md5 hex digits of ``token:cms:<row>`` mod width — the md5-derived
    hash discipline every cross-engine-exact op here uses."""
    return (hex8_long(F.concat(tok, F.lit(f":cms:{row}"))) % width).cast("int")


def _token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.explode(tokens_col()).alias("tok"))


def cms_table(
    toks: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """The D×W counter table: one projection fans each token into its D
    (row, bucket) cells (an array literal of fixed length — no join, no
    per-row Python), then ONE count shuffle over the bounded key space."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                cms_bucket(F.col("tok"), r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        toks.select(F.explode(cells).alias("c"))
        .groupBy("c.row", "c.bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def docs_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    k: int = HH_TOP_K,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Top-``k`` tokens by Count-Min ESTIMATE, each row carrying the
    exact count so the one-sided error is visible: (token, est_count,
    exact_count, rk). est_count >= exact_count ALWAYS (CMS never
    undercounts); ties rank by token for cross-engine determinism.

    The candidate set here is the distinct-token table (so the exact
    twin is free for the error columns); a pipeline sizing vocabulary
    screens at 100 TB queries the broadcast sketch with whatever
    candidate set it has — the sketch build never depends on the
    candidate cardinality."""
    # ONE tokenize+explode for both aggregations (r13, guide §2.4): the
    # sketch build and the exact-count twin otherwise each re-ran the
    # token pipeline (and the per-depth-row sketch broadcasts re-ran it
    # again — 5 scans of documents in the before-plan, 1 after).
    # memo-persist rather than per-call localCheckpoint (r13 change 11):
    # the lazy checkpoint paid full physical planning inside the
    # constructor, and stream_heavy_hitters' probe re-built the same
    # stream — one persisted frame now serves both keys per session.
    toks = _token_stream_cached(spark, sf_dir)
    sketch = cms_table(toks, depth, width)
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    return rank_heavy_hitters(
        spark, sf_dir, sketch, k, depth, width, candidates=exact
    )


def rank_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    sketch: DataFrame,
    k: int = HH_TOP_K,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """The probe/rank stage over a (row, bucket, cnt) sketch frame —
    shared by the batch build and the streaming-state build
    (plans/docstreams.stream_heavy_hitters): broadcast the D×W sketch,
    min over the D bucket counts per candidate token, distributed
    top-k. ``candidates`` (a (tok, exact_count) frame) defaults to the
    corpus's own distinct-token table; any external candidate set may
    probe — tokens the sketch never saw estimate 0 (left join +
    coalesce), they are not dropped."""
    if candidates is None:
        toks = _token_stream_cached(spark, sf_dir)
        exact = toks.groupBy("tok").agg(
            F.count(F.lit(1)).alias("exact_count")
        )
    else:
        exact = candidates
    # materialize the D×W frame once — each of the ``depth`` broadcast
    # probes below otherwise re-executes the whole sketch-build subtree
    # (it is ≤ depth×width rows by construction, so this is always
    # cheap, for the batch build and the streaming-state build alike).
    # persist over localCheckpoint (r13 change 11): the lazy checkpoint
    # paid full physical planning at construction. Pinned, not memoized
    # (stream_heavy_hitters passes a different sketch for the same
    # sf_dir); release_caches frees the ≤4096-row cache.
    sketch = memo.pin(spark, "llm.sketches.sketch", sf_dir, sketch.persist())
    est = None
    probed = exact
    for r in range(depth):
        s_r = sketch.filter(F.col("row") == r).select(
            F.col("bucket").alias(f"b{r}"), F.col("cnt").alias(f"c{r}")
        )
        # LEFT join + coalesce-0: a candidate whose bucket cell never
        # received a count estimates 0 (the CMS contract for unseen
        # items) instead of vanishing from the output — any candidate
        # set may probe the sketch, not just tokens the build saw
        probed = probed.withColumn(
            f"b{r}", cms_bucket(F.col("tok"), r, width)
        ).join(F.broadcast(s_r), f"b{r}", "left")
        cnt_r = F.coalesce(F.col(f"c{r}"), F.lit(0))
        est = cnt_r if est is None else F.least(est, cnt_r)
    from pyspark.sql import Window

    # distributed top-k FIRST (TakeOrdered — no global single-task
    # sort of the vocabulary), then rank the k surviving rows (a k-row
    # window is free; a corpus-wide one is not)
    top = (
        probed.select(
            F.col("tok").alias("token"),
            est.alias("est_count"),
            "exact_count",
        )
        .orderBy(F.col("est_count").desc(), "token")
        .limit(k)
    )
    return top.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("est_count").desc(), F.col("token"))
        ),
    )
