"""Corpus-trained bigram language-model scoring (the CCNet-style
perplexity screen, Spark-shaped).

``docs_lm_score`` trains a maximum-likelihood bigram LM on the corpus
itself (no smoothing needed — every document's bigrams are, by
construction, in the training counts) and scores each document with its
per-bigram cross-entropy in nats. Low-entropy documents are repetitive/
templated text; high-entropy documents are unusual relative to the
corpus — both tails are what a perplexity filter trims (CCNet,
arXiv:1911.00359 §4.3 uses a KenLM 5-gram the same way; the sufficient
statistics and the join shape are identical, only the model order
differs).

Reference scope note: no reference counterpart — LLM-data-pipeline
extension family (SURVEY.md §2.5).

100 TB shape: the model IS two count tables — bigram counts
(O(distinct bigrams)) and bigram-prefix counts (O(vocabulary)) — built
with map-side partial aggregation and ONE shuffle each, exactly like
``docs_topk_ngrams``. Scoring joins the exploded doc bigrams against
those counts: hash joins keyed on the bigram/prefix (broadcast when the
vocabulary is small; AQE decides), then one doc_id-keyed aggregation.
Document text never shuffles — only (doc_id, bigram) pairs move.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark import memo
from flinkrunner_spark.llm.text import tokens_col


def release_caches(sf_dir: str | None = None) -> None:
    memo.release("llm.lm", sf_dir)


def docs_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy: xent_nats =
    -avg(ln c(w1 w2) / c(w1 ·)) over the doc's bigram positions.

    MLE conditionals from the corpus' own counts; documents with fewer
    than 2 tokens have no bigram positions and drop out (both engines).

    Memoized per corpus with its persisted bigram base: constructing
    this plan is expensive DRIVER work (the tokenize expression tree +
    the persist call pays full analysis; measured 3.2s steady / 12.4s
    cold per construction at sf0.1), and three operators (the bench
    key, the ccnet frame, dsir's scoring twin) each re-built it per
    call.
    """
    out, _dpairs = memo.memo(
        spark, "llm.lm.scores", sf_dir, lambda: _build_lm(spark, sf_dir)
    )
    return out


def _build_lm(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = (
        docs.select("doc_id", tokens_col().alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= 2)
    )
    # (w1, 'w1 w2') per position — built as one JVM transform over the
    # token array, exploded once; the oracle zips the same two lists.
    pair = F.transform(
        F.sequence(F.lit(1), F.col("n") - 1),
        lambda i: F.struct(
            F.element_at("t", i).alias("w1"),
            F.concat_ws(
                " ", F.element_at("t", i), F.element_at("t", i + 1)
            ).alias("bigram"),
        ),
    )
    pairs = base.select("doc_id", F.explode(pair).alias("p")).select(
        "doc_id", "p.w1", "p.bigram"
    )
    # Pre-aggregate per-document bigram MULTIPLICITY before the model
    # joins: the stream probing the count tables shrinks by the per-doc
    # repetition factor (real money on repetitive web text) at zero
    # semantic cost — cnt weights the average exactly as the
    # per-position rows did, and the count tables sum the same totals.
    dpairs = pairs.groupBy("doc_id", "w1", "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Materialize the aggregated bigram frame ONCE (r13, guide §2.4):
    # three consumers (c2, c1, the scoring join) each project different
    # columns, so Spark's exchange reuse never fires and the tokenize +
    # explode + per-doc aggregation pipeline executed three times per
    # run. persist() computes it once and hands all three branches the
    # cached rows; at 100 TB this is the same persist-the-text-free-
    # frame trade _sig_shingles makes (MEMORY_AND_DISK spills cleanly,
    # text never moves). persist over localCheckpoint (r13 follow-up):
    # the lazy checkpoint paid full physical planning inside the
    # CONSTRUCTOR (~2s driver latency per call); persist defers that to
    # the first action, and the function-level memo above makes repeat
    # constructions free.
    dpairs = dpairs.persist()
    c2 = dpairs.groupBy("bigram").agg(F.sum("cnt").alias("c2"))
    c1 = dpairs.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    nll = -F.log(F.col("c2") / F.col("c1"))
    out = (
        dpairs.join(c2, "bigram")
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.round(F.sum(F.col("cnt") * nll) / F.sum("cnt"), 6).alias(
                "xent_nats"
            ),
        )
    )
    return out, dpairs
