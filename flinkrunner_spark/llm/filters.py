"""Heuristic document-quality FILTERS over the ``documents`` table — the
rule screens a pretraining corpus runs before training:

* ``docs_gopher_rules`` — the Gopher §A1.1 document-level rule set
  (Rae et al. 2021, arXiv:2112.11446): word-count bounds, mean-word-
  length bounds, a minimum stopword presence (the English-data screen —
  on a multilingual corpus it flags non-English documents, exactly as
  the original does). Emits per-rule booleans plus the final ``keep``,
  so downstream mixes can relax individual rules without recomputing.
* ``docs_badwords`` — the C4-style blocklist screen (Raffel et al.
  2020, arXiv:1910.10683 §2.2: drop any page containing a term from a
  blocklist). The inventory here is a tiny corpus-appropriate stand-in;
  swap the list for a real deployment.

Both are pure JVM projections — zero shuffle, embarrassingly parallel
at 100 TB, whole-stage-codegen friendly — and every ratio is a quotient
of exact integers so the DuckDB oracle matches bit-for-bit. Complements
``llm/text.py`` (scores) and ``llm/curation.py`` (repetition): those
measure, these decide.

Reference parity: extends the LLM-pipeline surface mandated by the
build brief (epiphanous/flinkrunner has no document operators).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.llm.text import LANG_STOPWORDS, TOKEN_SPLIT, tokens_col
from flinkrunner_spark.tables import load_table

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2  # distinct stopword hits required
# the English stopword screen (shared inventory with llm/text.py's
# language-ID so the two operators agree on what "English signal" means)
GOPHER_STOPWORDS = list(LANG_STOPWORDS["en"])

BADWORDS = ["dup"]  # corpus-appropriate stand-in for the C4 blocklist


def _sum_lengths(toks: Column) -> Column:
    """Total characters across tokens — an exact-int fold."""
    return F.aggregate(
        F.transform(toks, lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _gopher_stats_sql(text: str = "text") -> str:
    """The Gopher rule inputs as a struct<n:int,c:int,sh:int> (word
    count, total token chars, distinct stopword hits) in ONE tokenize
    pass. The r12 form re-ran the split per signal reference (~12
    passes/row through the rule flags + keep under interpreted HOF
    eval, since higher-order functions are CodegenFallback); tokens are
    LET-BOUND once here via the single-element-transform idiom and each
    field folds over the bound array. Identical ints → every derived
    double/boolean is bit-identical."""
    stop_arr = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    toks = f"filter(split(lower(`{text}`), '{TOKEN_SPLIT}'), x -> x != '')"
    return (
        f"transform(array({toks}), tk -> named_struct("
        "'n', size(tk), "
        "'c', aggregate(tk, 0, (a, x) -> a + length(x)), "
        f"'sh', size(array_intersect(array_distinct(tk), "
        f"array({stop_arr})))))[0]"
    )


def docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule flags and the conjunctive ``keep``.

    mean_word_len is the quotient of two exact ints (total chars /
    words) — deterministic cross-engine; the bounds comparison happens
    on the UNROUNDED quotient in both engines (rounding only the
    reported column).

    Two-phase projection (r13): the inner select materializes the
    stats struct once per row (see _gopher_stats_sql); the outer
    derives every flag from O(1) struct accesses."""
    docs = load_table(spark, sf_dir, "documents")
    inner = docs.select("doc_id", F.expr(_gopher_stats_sql()).alias("_gs"))
    n_words = F.expr("_gs.n")
    mean_wl = F.expr("_gs.c") / F.expr("_gs.n")
    stop_hits = F.expr("_gs.sh")
    pass_words = (n_words >= GOPHER_MIN_WORDS) & (
        n_words <= GOPHER_MAX_WORDS
    )
    pass_word_len = (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN) & (
        mean_wl <= GOPHER_MAX_MEAN_WORD_LEN
    )
    pass_stopwords = stop_hits >= GOPHER_MIN_STOPWORDS
    return inner.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        stop_hits.alias("stopword_hits"),
        pass_words.alias("pass_words"),
        pass_word_len.alias("pass_word_len"),
        pass_stopwords.alias("pass_stopwords"),
        (pass_words & pass_word_len & pass_stopwords).alias("keep"),
    )


def docs_badwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screen: per-document blocked-term occurrence count
    (with multiplicity — auditors want magnitude, not membership) and
    the C4 keep decision (any hit drops the document)."""
    docs = load_table(spark, sf_dir, "documents")
    bad = F.array(*[F.lit(b) for b in BADWORDS])
    n_bad = F.size(
        F.filter(tokens_col(), lambda x: F.array_contains(bad, x))
    )
    return docs.select(
        "doc_id",
        n_bad.alias("n_bad"),
        (n_bad == 0).alias("keep"),
    )
