"""Deterministic BPE tokenizer TRAINING + ENCODING over the
``documents`` table — the vocabulary-learning step between corpus
curation and token counting (Sennrich et al. 2016, arXiv:1508.07909;
the sentencepiece/HF recipe).

Why this is Spark-shaped at 100 TB: BPE training never needs the
corpus — its sufficient statistic is the WORD-COUNT TABLE (every
implementation trains on word frequencies). That table is one
map-side-combined aggregation whose size is the distinct vocabulary,
not the corpus; a deterministic (count desc, word) cap bounds what the
driver sees, exactly like the kmeans quantizer's bounded training
sample (`llm/similarity.py`). Encoding then never touches Python per
document either: the learned word → pieces mapping is materialized for
the capped vocabulary and BROADCAST-JOINED onto the distinct-word
frame — documents only pay an explode + join on the word key; words
outside the cap fall back to character pieces (the untrained fallback,
flagged per word so the miss rate is observable).

The merge loop itself is pure deterministic Python over the bounded
count table (ties broken lexicographically), so training is
reproducible across runs, engines and cluster sizes. Not
SQL-expressible → the query key is rows-only, with an independent
mirror test re-deriving the merges from raw text in
tests/test_llm_filters.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.llm.text import tokens_col
from flinkrunner_spark.tables import load_table

BPE_MERGES = 300  # merge operations to learn
BPE_WORD_CAP = 65_536  # driver-side word-count rows (count desc, word)
EOW = "</w>"  # end-of-word marker (standard BPE)


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training sufficient statistic: (word, n) — one partial-agg
    shuffle of O(distinct words)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def train_merges(
    counts: list[tuple[str, int]], n_merges: int = BPE_MERGES
) -> list[tuple[str, str]]:
    """Classic BPE on a word-count table: repeatedly merge the most
    frequent adjacent symbol pair (ties → lexicographically smallest
    pair), ``n_merges`` times or until no pair repeats.

    Incremental trainer: pair counts maintain under each merge (only
    the words containing the merged pair re-count) and a lazy max-heap
    picks the next pair — O(affected words) per merge instead of a full
    vocabulary rescan, which is what makes hundreds of merges cheap on
    a 65k-word table. Selection order is identical to the naive rescan
    (same (count desc, pair asc) key; the independent mirror test in
    tests/test_llm_filters.py re-derives the merges with a rescan
    trainer and must agree merge-for-merge)."""
    import heapq

    words: list[list] = [[list(w) + [EOW], n] for w, n in counts]
    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for i, (syms, n) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + n
            where.setdefault(p, set()).add(i)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, p = heapq.heappop(heap)
        c = pair_counts.get(p, 0)
        if -negc != c:  # stale entry; re-queue at the live count
            if c >= 2:
                heapq.heappush(heap, (-c, p))
            continue
        if c < 2:
            # live max < 2: every pair with a live count ≥2 has a fresh
            # heap entry at that count, which would have popped first
            break
        a, b = p
        merges.append(p)
        merged = a + b
        changed: set[tuple[str, str]] = set()
        for i in list(where.get(p, ())):
            syms, n = words[i]
            # stale membership (the word lost the pair under an earlier
            # merge) nets out: decrement + re-increment cancel exactly
            for q in zip(syms, syms[1:]):
                left = pair_counts.get(q, 0) - n
                if left:
                    pair_counts[q] = left
                else:
                    pair_counts.pop(q, None)
                changed.add(q)
            j = 0
            while j < len(syms) - 1:
                if syms[j] == a and syms[j + 1] == b:
                    syms[j : j + 2] = [merged]
                else:
                    j += 1
            for q in zip(syms, syms[1:]):
                pair_counts[q] = pair_counts.get(q, 0) + n
                where.setdefault(q, set()).add(i)
                changed.add(q)
        where.pop(p, None)
        for q in changed:
            c2 = pair_counts.get(q, 0)
            if c2 >= 2:
                heapq.heappush(heap, (-c2, q))
    return merges


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply learned merges to one word, in training order (the standard
    greedy application)."""
    syms = list(word) + [EOW]
    for a, b in merges:
        i = 0
        while i < len(syms) - 1:
            if syms[i] == a and syms[i + 1] == b:
                syms[i : i + 2] = [a + b]
            else:
                i += 1
    return syms


def train_bpe(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_MERGES,
    word_cap: int = BPE_WORD_CAP,
) -> tuple[list[tuple[str, str]], list[tuple[str, int]]]:
    """(merges, capped word counts). The cap is the deterministic
    (n desc, word) head — at 100 TB the head of a Zipfian vocabulary
    carries essentially all pair mass, the faiss-style bounded-training
    trade already used by the kmeans quantizer."""
    wc = word_counts(spark, sf_dir)
    rows = (
        wc.orderBy(F.col("n").desc(), "word").limit(word_cap).collect()
    )
    counts = [(r["word"], r["n"]) for r in rows]
    return train_merges(counts, n_merges), counts


def docs_bpe_encode(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Per-document BPE piece accounting under the learned vocabulary:
    (doc_id, n_words, n_pieces, pieces_fingerprint) — the token budget a
    trained tokenizer actually produces, plus an md5 over the full piece
    sequence so any encoding drift is a hash mismatch, not a silent
    off-by-one.

    Plan: the learned word → (pieces, n_pieces) table (bounded, driver-
    built from the SAME capped count table training used) broadcasts;
    documents explode to (doc_id, pos, word), join the mapping on the
    word key map-side, and one exchange on doc_id re-assembles ordered
    piece sequences. Python touches the bounded vocabulary only — never
    a per-document row."""
    merges, counts = train_bpe(spark, sf_dir, n_merges)
    mapping = [
        (w, encode_word(w, merges)) for w, _n in counts
    ]
    map_df = spark.createDataFrame(
        [(w, p, len(p)) for w, p in mapping],
        "word string, pieces array<string>, n_p int",
    )
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos", "word")
    )
    # OOV fallback = character pieces (flagged via n_p null -> computed)
    char_pieces = F.concat(
        F.split(F.col("word"), "(?!$)"), F.array(F.lit(EOW))
    )
    joined = words.join(F.broadcast(map_df), "word", "left_outer").select(
        "doc_id",
        "pos",
        F.coalesce("pieces", char_pieces).alias("pieces"),
        F.coalesce("n_p", F.size(char_pieces)).alias("n_p"),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_p").cast("long").alias("n_pieces"),
            F.md5(
                F.array_join(
                    F.flatten(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("pos", "pieces"))
                            ),
                            lambda s: s["pieces"],
                        )
                    ),
                    " ",
                )
            ).alias("pieces_fingerprint"),
        )
    )
