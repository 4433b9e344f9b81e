"""Vocabulary / term-statistics operators over the ``documents`` table:
global top-k n-gram counts (the term inventory a tokenizer or vocab
build starts from) and per-document tf-idf keyword extraction.

Split out of ``llm/text.py`` (same family, same tokenization helpers) so
the per-document text operators keep their own module. All expressions
are built-in Column functions (JVM, whole-stage codegen); scores are
quotients of exact integers (no transcendentals) so the DuckDB oracle
sees bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.llm.text import tokens_col
from flinkrunner_spark.tables import load_table

VOCAB_TOP_K = 100


def bigrams_col(toks: Column) -> Column:
    """Adjacent-token bigram array ('a b'); empty below two tokens."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.slice(toks, 1, F.size(toks) - 1),
            lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def docs_topk_ngrams(
    spark: SparkSession, sf_dir: str, k: int = VOCAB_TOP_K
) -> DataFrame:
    """Corpus vocabulary: global top-k unigrams + bigrams by frequency —
    the term-inventory scan every tokenizer/vocab build starts from.

    Plan shape at 100 TB: explode → count is the canonical word-count —
    partial (map-side) aggregation combines within each task before the
    single shuffle on the term key, so shuffled bytes are O(distinct
    terms), not O(corpus tokens); the top-k is ``orderBy().limit(k)``,
    which Spark executes as TakeOrdered (per-partition heaps + a k-row
    driver merge — no global sort, no second shuffle). Ties are broken
    (n, ngram) so the cut is deterministic cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens_col().alias("toks"))
    uni = t.select(F.explode("toks").alias("ngram"), F.lit(1).alias("n"))
    bi = t.select(
        F.explode(bigrams_col(F.col("toks"))).alias("ngram"),
        F.lit(2).alias("n"),
    )
    return (
        uni.unionByName(bi)
        .groupBy("n", "ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "n", "ngram")
        .limit(k)
    )


TFIDF_TOP = 3


def docs_tfidf(spark: SparkSession, sf_dir: str, top: int = TFIDF_TOP) -> DataFrame:
    """Top-``top`` characteristic terms per document by RATIONAL tf-idf:
    score = (tf / doc_tokens) · (n_docs / df) — the log-free form, so the
    score is a quotient of exact integers and bit-identical cross-engine
    (the repo-wide no-transcendentals rule; the log only compresses the
    range, it does not change per-document ranking order for fixed tf).

    Plan shape at 100 TB: one explode into ONE (doc, term) aggregation;
    per-doc token totals and per-term document frequencies are WINDOWS
    over that same tf frame (tf has one row per (doc, term), so
    ``count() over (partition by term)`` IS the document frequency) —
    no second aggregation, no joins: the whole query is one partial-agg
    shuffle plus three window exchanges (doc → term → doc), everything
    shuffled is (id, term, int) and the text column never survives the
    explode. n_docs arrives as a broadcast 1-row aggregate, not a driver
    ``.count()`` round-trip. Rank compares the ROUNDED score (then term)
    so the cut is deterministic at ulp level."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(tokens_col()).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    ndocs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w_doc = Window.partitionBy("doc_id")
    w_term = Window.partitionBy("term")
    score = F.round(
        (F.col("tf") / F.col("n_tok")) * (F.col("n_docs") / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        tf.withColumn("n_tok", F.sum("tf").over(w_doc))
        .withColumn("df", F.count(F.lit(1)).over(w_term))
        .crossJoin(F.broadcast(ndocs))
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top)
        .select("doc_id", "term", "tf", "df", "score", F.col("rk").cast("int").alias("rk"))
    )
