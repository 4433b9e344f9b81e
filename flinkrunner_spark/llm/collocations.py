"""PMI collocation extraction over the ``documents`` token stream —
Church & Hanks 1990 ("Word association norms, mutual information, and
lexicography"): rank bigrams by pointwise mutual information
ln(N·c(w1w2) / (c(w1·)·c(·w2))), the standard phrase-mining /
multi-word-expression primitive of a vocabulary pipeline (what feeds
tokenizer merge candidates and stop-phrase lists).

Reference scope note: no reference counterpart — LLM-data-pipeline
extension family (SURVEY.md §2.5), sibling of ``docs_topk_ngrams`` /
``docs_lm_score`` (same position stream, different statistic).

100 TB shape (the ``docs_lm_score`` discipline):
* positions pre-aggregate to distinct (w1, w2) pairs with counts
  BEFORE any join — the join payload shrinks by the repetition factor;
* prefix/suffix marginals are two more bounded-key count shuffles
  (O(vocabulary) reduce side);
* N (total positions) is a broadcast 1-row aggregate;
* the cut is a ``min_count`` floor (PMI's classic low-count-noise
  guard — rare pairs otherwise dominate the ranking) + distributed
  TakeOrdered top-k on the ROUNDED score (rank on round-6 keeps the
  ordering bit-identical cross-engine; ln parity is the contract
  ``docs_lm_score`` already pins).
Document text never shuffles — only token pairs and counts move.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark import memo
from flinkrunner_spark.llm.text import tokens_col
from flinkrunner_spark.tables import load_table

PMI_TOP_K = 50
PMI_MIN_COUNT = 5


def release_caches(sf_dir: str | None = None) -> None:
    memo.release("llm.collocations", sf_dir)


def _pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (w1, w2, c12) pair-count frame, persisted once per
    corpus per session (``flinkrunner_spark.memo``) — text-free and
    O(distinct bigrams), the same spill-clean persist trade
    docs_lm_score documents. The frame is independent of the
    k/min_count knobs, so every parameterization shares it."""
    return memo.memo(
        spark, "llm.collocations.pair_counts", sf_dir,
        lambda: _build_pair_counts(spark, sf_dir),
    )


def _build_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(tokens_col().alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= 2)
    )
    pair = F.transform(
        F.sequence(F.lit(1), F.col("n") - 1),
        lambda i: F.struct(
            F.element_at("t", i).alias("w1"),
            F.element_at("t", i + 1).alias("w2"),
        ),
    )
    pos = base.select(F.explode(pair).alias("p")).select("p.w1", "p.w2")
    return (
        pos.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist()
    )


def docs_pmi_bigrams(
    spark: SparkSession,
    sf_dir: str,
    k: int = PMI_TOP_K,
    min_count: int = PMI_MIN_COUNT,
) -> DataFrame:
    """Top-``k`` bigram collocations by PMI (count floor ``min_count``):
    (w1, w2, pair_count, pmi, rk) — pmi rounded 6, ties on (w1, w2)."""
    # ONE tokenize+pair-explode+count for all four consumers (r13, guide
    # §2.4): c12 feeds the floor-filtered rank branch, both marginals
    # and the N aggregate, each projecting different columns — exchange
    # reuse never fires and the position pipeline ran 4x per query.
    # memo-persist rather than per-call localCheckpoint (r13 change 11):
    # the lazy checkpoint paid full physical planning at construction.
    c12 = _pair_counts(spark, sf_dir)
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = c12.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n_total = c12.agg(F.sum("c12").alias("n_pos"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") * F.col("n_pos"))
            / (F.col("c1").cast("double") * F.col("c2"))
        ),
        6,
    )
    from pyspark.sql import Window

    top = (
        c12.filter(F.col("c12") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            F.col("c12").alias("pair_count"),
            pmi.alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )
    return top.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
        ),
    )
