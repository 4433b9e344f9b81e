"""Quantized approximate-nearest-neighbor search over ``embeddings`` —
the compressed-index scale path (faiss's SQ/PQ families, Spark-shaped).

Two quantizers:

* ``emb_knn_sq8`` — scalar quantization (SQ8): per-dimension [min, max]
  over the corpus, each coordinate stored as an 8-bit level, search runs
  against the DEQUANTIZED vectors with the raw query (asymmetric
  distance — the faiss ``SQ8`` recipe). Data-independent arithmetic →
  the whole pipeline (stats, codes, dequantization, cosine ranking) is
  reproduced expression-for-expression in the DuckDB oracle: an EXACTLY
  ORACLED quantized index.
* ``emb_knn_pq`` — product quantization (PQ, Jégou et al. 2011): the
  vector splits into M=8 subspaces, each with its own K=256-centroid
  codebook trained by the coarse quantizer's recipe from
  ``llm.similarity`` (the bounded ``_train_sample``, the deterministic
  BLAS Lloyd's ``_lloyds_blas``, and ``nearest`` — the one
  nearest-centroid rule, which also encodes the sub-codes); a vector
  stores as M code bytes (8 bytes vs 256 float bytes — 32×), a query
  scores candidates via ADC table lookups, and the ADC shortlist
  re-ranks by exact cosine (faiss IndexRefineFlat).
  Training is not SQL-expressible → rows-only driver key; the numpy
  mirror in tests re-derives codebooks, codes, and the top-k exactly.

Reference scope note: no reference counterpart — LLM-data-pipeline
extension family (SURVEY.md §2.5), the ANN scale ladder:
brute → IVF → quantized (this module).

100 TB shape: SQ8 stats are ONE map-side-combined aggregate (128
partial min/max buffers, no shuffle of vectors); code assignment and
scoring are zero-shuffle projections against broadcast stats; the only
exchange is the global top-k (TakeOrdered). PQ trains on the bounded
hash-ordered sample (≤16,384 rows, fixed as the corpus grows), encodes
via Arrow-batched numpy (vectorized across rows × subspaces × codes),
and ships the query's ADC tables (M×K doubles) in the task closure —
search is a scan of M byte-lookups per row, no vector data moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.llm.similarity import (
    KNN_K,
    _emb,
    _lloyds_blas,
    _train_sample,
    arrow_matrix,
    as_double,
    dot,
    nearest,
)

EMB_DIM = 64
SQ_LEVELS = 255  # 8-bit levels
PQ_M = 8  # subspaces
PQ_K = 256  # centroids per subspace (8-bit codes; 64-bit total — the standard PQ8x8)
PQ_TRAIN_CAP = 16384  # bounded training sample (faiss's train-on-sample recipe)


def emb_knn_sq8(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = KNN_K,
    dim: int = EMB_DIM,
) -> DataFrame:
    """SQ8 top-k: quantize the corpus to per-dimension 8-bit levels,
    rank by cosine(dequantized vector, raw query).

    The quantization grid is derived from per-dimension corpus [min,max]
    (a constant-width aggregate, map-side combined); a flat dimension
    (max == min) stores level 0 and dequantizes to the constant. The
    floor(x·255 + 0.5) level arithmetic and the left-fold dot products
    are bit-identical in the oracle."""
    emb = _emb(spark, sf_dir).select("vec_id", as_double("embedding").alias("v"))
    stats = emb.agg(
        F.array(
            *[F.min(F.element_at("v", i)) for i in range(1, dim + 1)]
        ).alias("mn"),
        F.array(
            *[F.max(F.element_at("v", i)) for i in range(1, dim + 1)]
        ).alias("mx"),
    )
    q = emb.filter(F.col("vec_id") == query_id).select(F.col("v").alias("qv"))

    def _dq(i):
        x = F.element_at("v", i)
        mn = F.element_at("mn", i)
        mx = F.element_at("mx", i)
        step = (mx - mn) / F.lit(float(SQ_LEVELS))
        code = F.floor(((x - mn) / (mx - mn)) * F.lit(float(SQ_LEVELS)) + F.lit(0.5))
        return F.when(mx == mn, mn).otherwise(mn + code * step)

    dq = F.transform(F.sequence(F.lit(1), F.lit(dim)), _dq)
    acos = F.round(
        dot(F.col("d"), F.col("qv"))
        / F.sqrt(dot(F.col("d"), F.col("d")) * dot(F.col("qv"), F.col("qv"))),
        6,
    )
    return (
        emb.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", dq.alias("d"), "qv")
        .select("vec_id", acos.alias("acos"))
        .orderBy(F.col("acos").desc(), "vec_id")
        .limit(k)
    )


def _pq_codebooks(spark: SparkSession, sf_dir: str, m: int = PQ_M, kc: int = PQ_K):
    """Train M per-subspace codebooks on the bounded deterministic sample
    (hash-ordered top-``PQ_TRAIN_CAP`` of the L2-NORMALIZED corpus — the
    faiss train-on-sample recipe, cap fixed as the corpus grows). Returns
    a numpy array of shape (m, kc, dim/m)."""
    import numpy as np

    S = _train_sample(spark, sf_dir, PQ_TRAIN_CAP)
    S = S / np.linalg.norm(S, axis=1, keepdims=True)
    sub = S.shape[1] // m
    return np.stack(
        [
            _lloyds_blas(S[:, j * sub : (j + 1) * sub].copy(), kc)
            for j in range(m)
        ]
    )


PQ_SHORTLIST = 250  # ADC shortlist feeding the exact re-rank (fixed as the corpus grows)


def emb_knn_pq(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = KNN_K,
    m: int = PQ_M,
    kc: int = PQ_K,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """PQ/ADC top-k with exact re-rank: encode every (normalized) vector
    as M sub-codes by ``nearest`` sub-centroid (squared euclidean,
    first-on-ties — the trainer's own rule); score candidates as the sum of the
    query's per-subspace inner products with the candidate's
    reconstruction (ADC table lookups); keep the top ``shortlist`` by
    ADC and re-rank THOSE by exact cosine — the standard
    compressed-scan-then-refine recipe (faiss ``IndexRefineFlat``): the
    full corpus is touched only through its M-byte codes, and exact
    vectors are read for the shortlist alone. Encoding is an
    Arrow-batched zero-shuffle map; the ADC tables (m×kc doubles) ride
    the task closure; the shortlist re-rank is a broadcast semi-join.
    Deterministic end-to-end; not SQL-expressible (trained codebooks) →
    rows-only driver key, numpy mirror in tests."""
    import numpy as np

    C = _pq_codebooks(spark, sf_dir, m, kc)  # (m, kc, sub)
    emb = _emb(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == query_id).select(
        as_double("embedding").alias("e")
    ).collect()
    qv = np.asarray(qrow[0]["e"], dtype=np.float64)
    qv = qv / np.linalg.norm(qv)
    sub = qv.shape[0] // m
    # ADC tables: adc[j, c] = <q_subj, C[j, c]>
    adc = np.stack(
        [C[j] @ qv[j * sub : (j + 1) * sub] for j in range(m)]
    )  # (m, kc)

    def gen_score(it):
        # mapInArrow (guide §4.2, r14): the embedding matrix reshapes out
        # of the list column's flat values buffer — zero per-row Python
        # over the full-corpus compressed scan; the input is projected to
        # the two columns the function reads (guide §4.1), so the scan
        # prunes the rest instead of shipping every column through the
        # Python boundary.
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            cols = {
                name: batch.column(i)
                for i, name in enumerate(batch.schema.names)
            }
            E = arrow_matrix(cols["embedding"], "embedding")
            E = E / np.linalg.norm(E, axis=1, keepdims=True)
            score = np.zeros(n)
            for j in range(m):
                score += adc[j, nearest(E[:, j * sub : (j + 1) * sub], C[j])]
            yield pa.RecordBatch.from_arrays(
                [
                    cols["vec_id"],
                    pa.array(np.round(score, 6), type=pa.float64()),
                ],
                ["vec_id", "adc_score"],
            )

    scored = emb.select("vec_id", "embedding").mapInArrow(
        gen_score, schema="vec_id long, adc_score double"
    )
    cand = (
        scored.filter(F.col("vec_id") != query_id)
        .orderBy(F.col("adc_score").desc(), "vec_id")
        .limit(shortlist)
    )
    # exact re-rank of the shortlist: broadcast the candidate ids, read
    # their true vectors, rank by exact cosine against the raw query.
    q = emb.filter(F.col("vec_id") == query_id).select(
        as_double("embedding").alias("qv")
    )
    cos = F.round(
        dot(F.col("e"), F.col("qv"))
        / F.sqrt(dot(F.col("e"), F.col("e")) * dot(F.col("qv"), F.col("qv"))),
        6,
    )
    return (
        emb.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .select("vec_id", as_double("embedding").alias("e"))
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )
