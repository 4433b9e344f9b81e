"""Similarity search over the ``embeddings`` table (vec_id,
embedding: array<float>, label).

* ``emb_knn`` — brute-force cosine top-k against a query vector. The query
  vector is a one-row broadcast; the scan is embarrassingly parallel and
  the only data movement is the global top-k (a tiny sort) — the correct
  baseline at any scale.
* ``emb_dup_pairs`` — near-duplicate pairs via random-hyperplane LSH
  (the data-independent scale path: banded sign-bit buckets with a hard
  super-bucket cap, exact cosine verify on candidates only). The
  label-blocked all-pairs form survives as ``emb_dup_pairs_blocked`` — a
  SMALL-N VERIFICATION BASELINE behind a hard block-size guard: its pair
  work is Σ block² with a fixed label cardinality, i.e. quadratic in the
  corpus (measured 25.4× time at 10× data), so it must never be the
  default surface.
* ``emb_knn_ivf`` — IVF-style: coarse centroids (here: per-label
  elementwise means), probe the nearest cell, exact search inside it.
  At scale the probed cell is a partition-pruned read of a
  centroid-bucketed table.
* ``emb_knn_ivf_kmeans``, ``emb_semantic_dedup_kmeans``, ``emb_knn_join``
  — the same search over cells of ONE learned quantizer (``_cells``:
  Lloyd's on a bounded md5-ordered sample, corpus assigned by
  ``nearest``); ``llm.pq`` trains its PQ codebooks with the same parts.

Dot products are JVM-side ``zip_with``/``aggregate`` folds over doubles —
the same left-fold the DuckDB oracle's ``list_reduce`` performs, so
cosines are bit-identical (no Python, no Arrow transfer in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark import memo
from flinkrunner_spark.llm.text import hex8_long
from flinkrunner_spark.tables import load_table

COSINE_DUP_THRESHOLD = 0.35  # synthetic embeddings are near-orthogonal; max in-label cosine ~0.51
KNN_K = 10


def as_double(arr) -> Column:
    c = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def arrow_matrix(col, name: str):
    """The ``(rows, dim)`` float64 matrix of an Arrow list column,
    reshaped out of its flat values buffer with zero per-row Python —
    the conversion every mapInArrow stage here starts from.

    Raises ``ValueError`` naming the column on a null row or on rows of
    unequal length: ``flatten()`` drops null slots and ignores row
    boundaries, so one bad embedding would otherwise shift the vector
    of every later row in the batch."""
    import numpy as np
    import pyarrow.compute as pc

    if col.null_count:
        raise ValueError(f"column {name!r}: {col.null_count} null row(s)")
    lengths = np.asarray(pc.list_value_length(col))
    if len(lengths) and lengths.min() != lengths.max():
        raise ValueError(
            f"column {name!r}: ragged rows, lengths "
            f"{lengths.min()}..{lengths.max()}"
        )
    return np.asarray(col.flatten(), dtype=np.float64).reshape(len(col), -1)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def emb_knn(spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = KNN_K) -> DataFrame:
    """Brute-force cosine top-k neighbors of ``query_id``."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("qv")
    )
    cos = cosine(as_double("embedding"), as_double("qv"))
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def emb_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """Embedding near-dup pairs — the DEFAULT surface routes through
    random-hyperplane LSH (:func:`emb_dup_pairs_rhlsh`): banded sign-bit
    buckets (bits sized to the corpus via ``auto_bits``), a count-first
    super-bucket cap with oracled drop telemetry (``rhlsh_bucket_stats``),
    and exact cosine verification on candidates only.

    This key previously ran the label-blocked all-pairs join
    (:func:`emb_dup_pairs_blocked`). That plan is quadratic at scale —
    label cardinality is fixed, so blocks grow linearly with the corpus
    and pair work quadratically (measured 25.4× time at 10× data, the
    worst ratio in the suite) — and it misses cross-label duplicates.
    The LSH plan's work is Σ bucket² with buckets capped and bucket
    count tracking n, i.e. ~n·target_bucket; it finds pairs regardless
    of label. Recall is a MEASURED, ORACLED contract
    (``rhlsh_recall_stats``): threshold-aware flip-1 multi-probe
    (:func:`auto_probes`) lifts it to ≥0.9 even at the synthetic
    near-orthogonal worst case τ=0.35 (0.999 predicted at the driver's
    sf0.01; was 0.76–0.78 exact-bucket in r8) at the same candidate
    budget — ``auto_bits`` widens codes to absorb the probe fan-out.
    The output is EXACTLY oracled — sign bits, buckets, cap, probe
    expansion, candidates and verified cosines reproduce bit-identically
    in DuckDB."""
    return emb_dup_pairs_rhlsh(spark, sf_dir, threshold)


DUP_BLOCK_GUARD = 4096  # emb_dup_pairs_blocked refuses blocks past this


def emb_dup_pairs_blocked(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
    max_block: int = DUP_BLOCK_GUARD,
) -> DataFrame:
    """Label-blocked EXACT all-pairs near-dups — the small-N verification
    baseline (recall 1 by construction), NOT a scale path: pair work is
    Σ block² and label blocks grow linearly with the corpus, so this is
    quadratic at scale. A count-first HARD GUARD (one count-only
    aggregate over the label column — no embedding moves) refuses to
    build any block larger than ``max_block`` rows, raising with the
    scale-safe alternatives (``emb_dup_pairs`` = RH-LSH for approximate,
    ``emb_dup_pairs_blas`` for exact with bounded tiles) instead of
    silently launching O(block²) tasks.

    Norms are computed once per row BEFORE the pair join (O(n) instead of
    O(pairs) norm folds — 3× less per-pair work)."""
    emb = _emb(spark, sf_dir)
    biggest = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    if biggest and biggest > max_block:
        raise ValueError(
            f"emb_dup_pairs_blocked: largest label block has {biggest} "
            f"rows (> max_block={max_block}); the all-pairs baseline is "
            "quadratic — use emb_dup_pairs (RH-LSH) or "
            "emb_dup_pairs_blas (bounded tiles) at this scale"
        )
    normed = emb.select(
        "label",
        "vec_id",
        as_double("embedding").alias("e"),
    ).withColumn("nrm", dot(F.col("e"), F.col("e")))
    a = normed.select(
        F.col("label").alias("l"),
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("label").alias("l"),
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot(F.col("ea"), F.col("eb")) / F.sqrt(F.col("na") * F.col("nb"))
    return (
        a.join(b, ["l"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            F.col("l").alias("label"),
            "vec_a",
            "vec_b",
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


RH_BANDS = 24  # random-hyperplane LSH: bands (OR over bands → recall)
RH_BITS = 6  # sign bits per band (AND within a band → precision/bucket size)
RH_MAX_BUCKET = 1000  # super-bucket guard: skip degenerate (band, code) buckets
RH_TARGET_BUCKET = 64  # auto_bits sizes codes so expected bucket ≤ this
RH_TARGET_RECALL = 0.9  # auto_probes turns on multi-probe below this
RECALL_SAMPLE_CAP = 1024  # rhlsh_recall_stats: bounded exact-baseline sample


def predicted_recall(
    threshold: float, bits: int, bands: int = RH_BANDS, probes: int = 0
) -> float:
    """The standard RH-LSH recall curve at cosine ``threshold``: per-bit
    agreement p = 1 - θ/π, a band matches when codes differ in ≤ ``probes``
    bits (q = Σ_{j≤probes} C(bits,j)·p^(bits-j)·(1-p)^j), bands OR
    (recall = 1-(1-q)^bands). Deterministic given the md5 planes — the
    measured companion is ``rhlsh_recall_stats``."""
    import math

    theta = math.acos(max(-1.0, min(1.0, threshold)))
    p = 1.0 - theta / math.pi
    q = sum(
        math.comb(bits, j) * p ** (bits - j) * (1.0 - p) ** j
        for j in range(min(probes, bits) + 1)
    )
    return 1.0 - (1.0 - q) ** bands


def auto_probes(
    threshold: float,
    bands: int = RH_BANDS,
    target_recall: float = RH_TARGET_RECALL,
) -> int:
    """Threshold-aware multi-probe switch: 1 (flip-1-bit neighbor buckets)
    when exact-bucket matching cannot reach ``target_recall`` even at the
    MINIMUM code width (recall only falls as bits grow), else 0.

    Flip-1 probing dominates exact matching at equal candidate budget:
    ``auto_bits`` absorbs the (1+bits)× probe fan-out by widening codes,
    and at every corpus size the probed plan's recall is strictly higher
    for the same expected random-pair candidate rate (e.g. at τ=0.35,
    sf0.1-scale: exact bits=7 → recall .55 @ 17% rand-cand rate vs probed
    bits=10 → recall .75 @ 23%; at the driver's sf0.01 bits stays 6 and
    probing lifts recall .73 → .999).

    NOTE (r9 advisor): this predicate alone only guarantees the target
    at the MINIMUM width — ``auto_bits`` widens codes with the corpus,
    where exact-bucket recall falls further. Plan entry points therefore
    resolve through :func:`resolve_rh_plan`, which re-checks the recall
    curve at the corpus-resolved width (fixed point), so probing kicks
    in whenever the width actually planned can't hit the target."""
    if predicted_recall(threshold, RH_BITS, bands, 0) >= target_recall:
        return 0
    return 1


def resolve_rh_plan(
    n_rows: int,
    threshold: float,
    bands: int = RH_BANDS,
    target_recall: float = RH_TARGET_RECALL,
    bits: int | None = None,
    probes: int | None = None,
) -> tuple[int, int]:
    """Fixed-point (bits, probes) resolution against the CORPUS-RESOLVED
    code width (r9 advisor): resolve bits with probes=0, re-check
    ``predicted_recall`` at that width, and if it misses the target
    enable flip-1 probing and re-widen (``auto_bits`` prices the probe
    fan-out back into the candidate budget). Explicit ``probes`` pins
    the probe count (bits still auto-widen around it); explicit ``bits``
    pins the width (probes then decided at THAT width, not the minimum).
    If even the probed plan's predicted recall misses the target, the
    documented escalation is ``rh_bands_for_recall`` — band count is the
    caller's recall-vs-cost knob, never silently raised here."""
    if probes is not None:
        return (
            bits if bits is not None else auto_bits(n_rows, probes=probes),
            probes,
        )
    if bits is not None:
        p = (
            0
            if predicted_recall(threshold, bits, bands, 0) >= target_recall
            else 1
        )
        return bits, p
    b0 = auto_bits(n_rows, probes=0)
    if predicted_recall(threshold, b0, bands, 0) >= target_recall:
        return b0, 0
    return auto_bits(n_rows, probes=1), 1


def auto_bits(
    n_rows: int,
    target_bucket: int = RH_TARGET_BUCKET,
    min_bits: int = RH_BITS,
    max_bits: int = 20,
    probes: int = 0,
) -> int:
    """Derive the per-band code width from the corpus size: the smallest
    ``bits`` where the EXPECTED per-band candidate fan-in —
    ``n·(1 + bits·probes)/2^bits`` (each row lands in 1+bits buckets when
    flip-1 probing) — stays ≤ ``target_bucket`` rows.

    This is the scale lever the 8× study measured (bits 6→8 cut candidate
    time 6× on a dup-dense corpus) made automatic: bucket count tracks the
    corpus, so Σ bucket² stays ~n·target instead of degrading toward n²/2^bits
    as n grows past the static default; with probes the fan-out multiplier
    is priced in, keeping the probed plan's candidate budget equal to the
    unprobed one. Clamped to ``min_bits`` below (small corpora keep the
    documented default, so sf0.01 oracle runs are bit-identical to the
    static-plane SQL) and 20 above (int32 codes, diminishing recall past
    that — add bands instead)."""
    for b in range(min_bits, max_bits):
        mult = 1 + b * max(0, probes)
        if n_rows * mult / (1 << b) <= max(1, target_bucket):
            return b
    return max_bits


def rh_planes(
    bands: int = RH_BANDS, bits: int = RH_BITS, dim: int = 64
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes for random-hyperplane (SimHash) LSH.

    Plane (b, r) draws its 64 signs from md5("rh:b:r") — no RNG, so the
    bucketing is reproducible across runs, engines, and cluster sizes,
    and the DuckDB oracle can inline the exact same matrix as literals.
    ±1 components are a standard choice (Achlioptas-style sparse/rademacher
    projections): sign(e·w) is what matters, not the weight distribution.
    Returns bands*bits rows of `dim` doubles, band-major."""
    import hashlib

    out = []
    for b in range(bands):
        for r in range(bits):
            h = hashlib.md5(f"rh:{b}:{r}".encode()).digest()
            out.append(
                [1.0 if (h[i // 8] >> (i % 8)) & 1 else -1.0 for i in range(dim)]
            )
    return out


def release_caches(sf_dir: str | None = None) -> None:
    memo.release("llm.similarity", sf_dir)


def rh_codes_mapper(bands: int, bits: int):
    """The sign-code generator for ``mapInArrow`` over a
    (vec_id, embedding) frame — shared by the batch path (`_rh_codes`)
    and the streaming twin (`plans/docstreams.stream_emb_dup_pairs`).

    mapInArrow (guide §4.2, r14 — same rewrite as `gen_cosine`): the
    embedding list column is ONE contiguous values buffer + offsets per
    batch, so the (n, dim) matrix reshapes out of the flat buffer with
    zero per-row Python, where the previous mapInPandas form paid a
    per-row ndarray conversion for every corpus row (this mapper runs
    over the FULL embedding table — the widest Python boundary in the
    family).

    Bit-identical to the JVM/DuckDB left-fold dot (aggregate/
    list_reduce): accumulate over the DIMS in a Python loop of
    vectorized column ops — each scalar in the accumulator evolves
    exactly as the sequential fold 0+x0·w0+x1·w1+…, just computed for
    every row (and plane) at once. A plain E@W.T would be numpy's
    pairwise summation — a different add order that can flip a
    near-zero sign bit vs the SQL oracle. (The float32→float64 widening
    is the same IEEE-exact conversion numpy applied to the pandas rows.)"""
    planes = rh_planes(bands, bits)

    def gen_codes(it):
        import numpy as np
        import pyarrow as pa

        W = np.asarray(planes, dtype=np.float64)  # (bands*bits, dim)
        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            cols = {
                name: batch.column(i)
                for i, name in enumerate(batch.schema.names)
            }
            E = arrow_matrix(cols["embedding"], "embedding")
            D = np.zeros((n, W.shape[0]))
            for i in range(W.shape[1]):  # exact left fold over dims
                D = D + E[:, i, None] * W[None, :, i]
            S = D >= 0
            for b in range(bands):
                code = np.zeros(n, dtype=np.int32)
                for r in range(bits):
                    code |= S[:, b * bits + r].astype(np.int32) << r
                # one batch per band: same rows in the same order as the
                # old per-band concat, no pandas assembly
                yield pa.RecordBatch.from_arrays(
                    [
                        cols["vec_id"],
                        pa.array(np.full(n, b, dtype=np.int32)),
                        pa.array(code),
                    ],
                    ["vec_id", "band", "code"],
                )

    return gen_codes


RH_CODES_SCHEMA = "vec_id long, band int, code int"


def _rh_codes(
    spark: SparkSession, sf_dir: str, bands: int, bits: int
) -> DataFrame:
    """Per-row (band, code) sign codes — one Arrow-batched scan, persisted.

    The frame is (n × bands) rows of three fixed-width ints (text- and
    embedding-free), so persisting it is cheap at any scale; the guard
    pass (bucket sizes) and the pair expansion both read it, paying the
    numpy projection once.

    Memoized per (sf_dir, bands, bits): the Arrow-batched code
    generation — the Python-side cost of the family — runs once per
    corpus per session; the count-first super-bucket guard, the pair
    expansion and rhlsh_bucket_stats all read it."""
    return memo.memo(
        spark, "llm.similarity.rh_codes", sf_dir,
        lambda: _emb(spark, sf_dir)
        .select("vec_id", "embedding")
        .mapInArrow(rh_codes_mapper(bands, bits), schema=RH_CODES_SCHEMA)
        .persist(),
        key=(bands, bits),
    )


def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    """Corpus row count — one metadata-only parquet count, memoized per
    corpus so repeated calls (bits resolution, recall sampling) do not
    re-pay the count job."""
    return memo.memo(
        spark, "llm.similarity.emb_count", sf_dir,
        lambda: _emb(spark, sf_dir).count(),
    )


def emb_dup_pairs_rhlsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
    bands: int = RH_BANDS,
    bits: int | None = None,
    max_bucket: int = RH_MAX_BUCKET,
    probes: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH — the
    DATA-INDEPENDENT scale path: no blocking column needed (unlike
    ``emb_dup_pairs_blocked``'s label key, which a skewed or absent label
    breaks),
    and it surfaces cross-label duplicates the label-blocked form cannot.

    Plan shape (reference parity: the reference has no ANN operator; this
    extends the mandated LLM-pipeline surface like ``docs_minhash_lsh``,
    whose band/bucket shape it reuses):
    * per row, ``bands`` codes of ``bits`` sign bits each — one scan, no
      shuffle, Arrow-batched numpy (vectorized across rows AND planes;
      the equivalent 144 JVM expression folds ran interpreted per element
      and benched 8× slower); persisted once per session (``_rh_codes``);
    * ``bits`` derives from the corpus size by default (``auto_bits``:
      expected bucket ≤ 64 rows) — the measured scale lever made
      automatic, so bucket count tracks n instead of degrading toward
      n²/2^bits past a static width;
    * SUPER-BUCKET GUARD (same count-first shape as
      ``llm.dedup._candidate_pairs``): (band, code) bucket sizes
      aggregate first — a count-only shuffle of two ints — and buckets
      above ``max_bucket`` are dropped via a broadcast anti-join BEFORE
      any id set is collected, so a degenerate code (all-near-zero dots
      on boilerplate-correlated embeddings) can never build one giant
      array row + an O(bucket²) task. NOT silent: ``rhlsh_bucket_stats``
      reports n_buckets / max_bucket_size / dropped_buckets as a
      first-class oracled query;
    * one shuffle on (band, code) → in-bucket pair expansion (cost
      Σ bucket², buckets ~ n/2^bits per band by construction, each
      ≤ max_bucket by the guard);
    * exact cosine verify on the candidates only (never all pairs), so
      precision is exactly 1 by construction — also Arrow-batched numpy,
      with the fold order preserved (see _rh_codes) and rounding left on
      the JVM side.

    MULTI-PROBE (``probes``, default auto via :func:`auto_probes`): at
    thresholds too low for exact-bucket recall (τ=0.35 on near-orthogonal
    data), a pair is a candidate when its codes in some band differ in
    ≤1 bit — each kept row probes its own bucket plus the ``bits``
    flip-1-bit neighbors, joined back against kept native codes (one
    (band, code) shuffle join; no giant array rows). ``auto_bits``
    absorbs the (1+bits)× fan-out by widening codes, so the candidate
    budget matches the unprobed plan while recall strictly improves
    (predicted_recall: τ=0.35 @ sf0.01 goes 0.73 → 0.999; measured by
    the oracled ``rhlsh_recall_stats``). Both probe endpoints must be in
    kept (uncapped) buckets, so a degenerate bucket can neither expand
    pairs nor flood its neighbors. EXACTLY oracled: sign bits, buckets,
    the bucket cap, the probe expansion, the candidate set, and verified
    cosines are all reproduced bit-identically in DuckDB (left-fold dot
    products, literal plane matrix, xor probes)."""
    emb = _emb(spark, sf_dir)
    nbits, probes = resolve_rh_plan(
        _emb_count(spark, sf_dir), threshold, bands, bits=bits, probes=probes
    )
    codes = _rh_codes(spark, sf_dir, bands, nbits)
    return rh_pairs_from_codes(
        emb, codes, nbits, probes, max_bucket, threshold
    )


def rh_pairs_from_codes(
    emb: DataFrame,
    codes: DataFrame,
    nbits: int,
    probes: int,
    max_bucket: int = RH_MAX_BUCKET,
    threshold: float = COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """The guard → (multi-probe) candidate expansion → exact-verify tail
    of :func:`emb_dup_pairs_rhlsh`, over an EXPLICIT (vec_id, band,
    code) frame — shared by the batch path and the streaming twin
    (`plans/docstreams.stream_emb_dup_pairs`, whose codes come out of
    accumulated streaming state)."""
    sizes = codes.groupBy("band", "code").agg(F.count(F.lit(1)).alias("n"))
    big = sizes.filter(F.col("n") > max_bucket).select("band", "code")
    kept = codes.join(F.broadcast(big), ["band", "code"], "left_anti")
    if probes:
        flips = F.array(
            F.col("code"),
            *[
                F.col("code").bitwiseXOR(F.lit(1 << r))
                for r in range(nbits)
            ],
        )
        probe_side = kept.select(
            F.col("vec_id").alias("vec_p"),
            "band",
            F.explode(flips).alias("code"),
        )
        pairs = (
            probe_side.join(
                kept.select(F.col("vec_id").alias("vec_n"), "band", "code"),
                ["band", "code"],
            )
            .filter(F.col("vec_p") != F.col("vec_n"))
            .select(
                F.least("vec_p", "vec_n").alias("vec_a"),
                F.greatest("vec_p", "vec_n").alias("vec_b"),
            )
            .distinct()
        )
    else:
        buckets = kept.groupBy("band", "code").agg(
            F.array_sort(F.collect_set("vec_id")).alias("ids")
        )
        left = buckets.filter(F.size("ids") >= 2).select(
            F.posexplode("ids").alias("i", "vec_a"), "ids"
        )
        pairs = left.select(
            "vec_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
            ).alias("vec_b"),
        ).distinct()
    return _verify_pairs(pairs, emb, threshold)


def _verify_pairs(
    pairs: DataFrame, emb: DataFrame, threshold: float
) -> DataFrame:
    """Exact cosine of every (vec_a, vec_b) in ``pairs`` over ``emb``'s
    (vec_id, embedding) rows, kept at rounded cosine ≥ ``threshold`` —
    the one verify kernel the RH-LSH pairs plan and its recall baseline
    (:func:`rhlsh_recall_stats`) share, so a pair's membership at the
    threshold is decided identically on both sides."""
    # Per-vector squared norms fold ONCE on the JVM (r13, guide §4.1/§2.3):
    # the aggregate/zip_with left fold is bit-identical to the numpy
    # per-pair fold it replaces (same IEEE adds in the same index order —
    # the repo-wide fold-parity contract), so attaching two 8-byte
    # scalars per pair replaces two O(dim) folds per pair in Python.
    d2 = as_double("embedding")
    emb_n = emb.select(
        "vec_id", "embedding", dot(d2, d2).alias("_n2")
    )
    j = pairs.join(
        emb_n.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("ea"),
            F.col("_n2").alias("na"),
        ),
        "vec_a",
    ).join(
        emb_n.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("eb"),
            F.col("_n2").alias("nb"),
        ),
        "vec_b",
    )

    def gen_cosine(it):
        # mapInArrow (guide §4.2): the embedding list columns are ONE
        # contiguous values buffer + offsets per batch — reshape to an
        # (n, dim) matrix with zero per-row Python, where the previous
        # mapInPandas form paid a per-row ndarray conversion for every
        # candidate pair. The dot stays the exact left fold over dims
        # (bit-identical to SQL aggregate / DuckDB list_reduce).
        import numpy as np
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            A = arrow_matrix(cols["ea"], "ea")
            B = arrow_matrix(cols["eb"], "eb")
            d = np.zeros(n)
            for i in range(A.shape[1]):  # exact left fold (see rh_codes_mapper)
                d = d + A[:, i] * B[:, i]
            na = np.asarray(cols["na"], dtype=np.float64)
            nb = np.asarray(cols["nb"], dtype=np.float64)
            yield pa.RecordBatch.from_arrays(
                [
                    cols["vec_a"],
                    cols["vec_b"],
                    pa.array(d / np.sqrt(na * nb), type=pa.float64()),
                ],
                ["vec_a", "vec_b", "cosine_raw"],
            )

    verified = j.select("vec_a", "vec_b", "ea", "eb", "na", "nb").mapInArrow(
        gen_cosine, schema="vec_a long, vec_b long, cosine_raw double"
    )
    # round on the JVM side: Spark's Round (shortest-decimal-repr HALF_UP)
    # is what every embedding oracle's _r6 reproduces; np.round is not.
    return verified.select(
        "vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def rhlsh_bucket_stats(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int = RH_MAX_BUCKET,
    bands: int = RH_BANDS,
    bits: int | None = None,
    probes: int | None = None,
) -> DataFrame:
    """RH-LSH bucket health: total (band, code) buckets, the largest one,
    and how many the super-bucket guard in ``emb_dup_pairs_rhlsh`` drops
    at the current cap — the no-silent-truncation companion, mirroring
    ``llm.dedup.lsh_bucket_stats``. Bits resolve exactly as the default
    pairs plan resolves them (probe fan-out priced in), so the telemetry
    describes the buckets that plan actually builds. Reads the persisted
    codes frame (one count-only aggregate; the numpy projection is shared
    with the pairs query); a pipeline operator alerts on
    dropped_buckets > 0."""
    nbits, probes = resolve_rh_plan(
        _emb_count(spark, sf_dir),
        COSINE_DUP_THRESHOLD,
        bands,
        bits=bits,
        probes=probes,
    )
    codes = _rh_codes(spark, sf_dir, bands, nbits)
    sizes = codes.groupBy("band", "code").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket_size"),
        F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0)).alias(
            "dropped_buckets"
        ),
    )


def rh_bands_for_recall(
    threshold: float,
    bits: int,
    target_recall: float = RH_TARGET_RECALL,
    probes: int = 1,
    max_bands: int = 256,
) -> int:
    """The band count needed to hit ``target_recall`` at ``threshold``
    with ``bits``-wide codes — the cost knob that keeps recall constant
    as ``auto_bits`` widens codes with the corpus (each band adds one
    linear pass of candidate work; recall = 1-(1-q)^L ⇒
    L = ln(1-target)/ln(1-q)). Clamped to ``max_bands``; callers pass
    the result as ``bands=`` when a pipeline pins a recall SLO instead
    of the default fixed-cost 24 bands (the default stays fixed-cost
    because candidate work scales with bands — recall-vs-cost is the
    caller's trade to make, and ``rhlsh_recall_stats`` measures what
    they got)."""
    import math

    theta = math.acos(max(-1.0, min(1.0, threshold)))
    p = 1.0 - theta / math.pi
    q = sum(
        math.comb(bits, j) * p ** (bits - j) * (1.0 - p) ** j
        for j in range(min(probes, bits) + 1)
    )
    if q <= 0.0 or q >= 1.0:
        return 1
    need = math.log(max(1e-12, 1.0 - target_recall)) / math.log(1.0 - q)
    return max(1, min(max_bands, math.ceil(need)))


def emb_dup_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """Embedding near-dup CLUSTERS: connected components over the
    RH-LSH pair graph (:func:`emb_dup_pairs_rhlsh`, multi-probe
    default), smallest vec_id as the cluster id — the embedding twin of
    ``docs_dup_clusters`` (llm/dedup.py), sharing the same distributed
    min-label pointer-doubling operator (operators/graph.py). Pairs
    alone under-delete: transitively linked near-dups (A~B, B~C, A!~C
    at the threshold) must collapse to ONE keeper, and "keep one per
    cluster" is `vec_id == cluster_id`. Every vector appears
    (singletons cluster to themselves). Exactly oracled via the
    recursive-closure SQL (components are tiny, so the closure is
    cheap; the Spark side stays O(E·log D) pointer doubling at scale).

    EDGE CONTRACTION before the CC loop (r9 verdict item 2 — the raw
    verified pair list is replica-dense, near-clique shaped, so feeding
    it straight to the iterative operator made every round pay an
    O(E) join): one HOOK pass — ``hook(v) = min(v, neighbors(v))``,
    the first step of the Shiloach/Vishkin hook-and-shortcut family —
    provably stays inside v's component (it is v or a direct
    neighbor), so rewriting every edge (a, b) → (hook(a), hook(b)) and
    dropping self-loops preserves connectivity exactly while a
    k-clique's k²/2 edges collapse to ZERO contracted edges (all hooks
    equal the clique min, which hooks to itself since every neighbor
    is larger). The pointer-doubling loop then runs on the contracted
    remainder (chains and clique-bridges only), and each vector's
    final label is ``cc_label(hook(v))`` — identical output, one
    cheap pass traded for rounds × O(E) joins."""
    from flinkrunner_spark.operators.graph import (
        _free_checkpoint,
        connected_components,
    )

    vecs = _emb(spark, sf_dir).select("vec_id")
    pairs = (
        emb_dup_pairs_rhlsh(spark, sf_dir, threshold)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=False)  # hook + remap both read it
    )
    sym = pairs.union(
        pairs.select(F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b"))
    )
    hook = (
        sym.groupBy("vec_a")
        .agg(F.least(F.first("vec_a"), F.min("vec_b")).alias("h"))
        .select(F.col("vec_a").alias("vec_id"), "h")
        .localCheckpoint(eager=False)
    )
    ha = hook.select(
        F.col("vec_id").alias("vec_a"), F.col("h").alias("la")
    )
    hb = hook.select(
        F.col("vec_id").alias("vec_b"), F.col("h").alias("lb")
    )
    contracted = (
        pairs.join(ha, "vec_a")
        .join(hb, "vec_b")
        .filter(F.col("la") != F.col("lb"))
        .select(F.col("la"), F.col("lb"))
        .distinct()
    )
    cc = connected_components(
        contracted,
        hook.select(F.col("h").alias("vec_id")).distinct(),
        src="la", dst="lb",
        id_col="vec_id", label_col="cluster_id",
    )
    touched = hook.join(
        cc.withColumnRenamed("vec_id", "h"), "h"
    ).select("vec_id", "cluster_id")
    result = (
        vecs.join(touched, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    for frame in (cc, hook, pairs):
        _free_checkpoint(frame)
    return result


def rhlsh_recall_stats(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
    bands: int = RH_BANDS,
    bits: int | None = None,
    probes: int | None = None,
    sample_cap: int = RECALL_SAMPLE_CAP,
) -> DataFrame:
    """MEASURED RH-LSH recall as an oracled contract (the
    ``ann_recall_stats`` pattern): the exact all-pairs baseline — full
    cross-label, no blocking — is computed on a bounded deterministic
    sample and the default pairs plan's hits are counted against it.

    * the sample is md5-bucketed (``md5(vec_id || ':rhrecall:v1')`` first
      32 bits mod ceil(n/sample_cap)) — at the driver's sf0.01 the mod is
      1, so the row IS true corpus recall; at any larger corpus it is a
      fixed-cost unbiased estimate (≤ sample_cap rows → ≤ sample_cap²/2
      exact pairs, constant as n grows);
    * baseline cosines go through the LSH verify stage itself
      (``_verify_pairs``: Arrow-batched LEFT-FOLD, bit-identical to the
      SQL ``list_reduce``, rounded on the JVM) — so pair membership at
      the threshold matches the oracle exactly (no BLAS summation-order
      ulps);
    * the LSH side is the REAL default plan (:func:`emb_dup_pairs_rhlsh`
      with auto bits/probes), not a reimplementation.

    One row: n_sample, n_true_pairs, n_found_pairs, recall (+ the
    resolved bits/bands/probes so the telemetry names the plan it
    measured). Done-criterion row for the r8 verdict item 1: recall
    ≥ 0.9 at τ=0.35."""
    n = _emb_count(spark, sf_dir)
    nbits, probes = resolve_rh_plan(
        n, threshold, bands, bits=bits, probes=probes
    )
    mod = max(1, -(-n // max(1, sample_cap)))
    emb = _emb(spark, sf_dir)
    h = (
        hex8_long(
            F.concat(F.col("vec_id").cast("string"), F.lit(":rhrecall:v1"))
        )
        % mod
    )
    sample = emb.filter(h == 0).select("vec_id", "embedding")
    ids = sample.select("vec_id")
    cand = ids.select(F.col("vec_id").alias("vec_a")).join(
        F.broadcast(ids.select(F.col("vec_id").alias("vec_b"))),
        F.col("vec_a") < F.col("vec_b"),
    )
    true_pairs = _verify_pairs(cand, sample, threshold).select("vec_a", "vec_b")
    lsh = emb_dup_pairs_rhlsh(
        spark, sf_dir, threshold, bands, nbits, probes=probes
    ).select("vec_a", "vec_b", F.lit(1).alias("hit"))
    flagged = true_pairs.join(lsh, ["vec_a", "vec_b"], "left")
    n_sample = sample.count()
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(
            "n_found_pairs"
        ),
    ).select(
        F.lit(n_sample).cast("long").alias("n_sample"),
        "n_true_pairs",
        "n_found_pairs",
        F.when(
            F.col("n_true_pairs") > 0,
            F.round(F.col("n_found_pairs") / F.col("n_true_pairs"), 6),
        )
        .otherwise(F.lit(1.0))
        .alias("recall"),
        F.lit(nbits).cast("int").alias("bits"),
        F.lit(bands).cast("int").alias("bands"),
        F.lit(probes).cast("int").alias("probes"),
    )


TILE_CAP = 2048  # max rows per chunk → gram tiles ≤ CAP² doubles (~32 MB)


def emb_dup_pairs_blas(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
    tile_cap: int = TILE_CAP,
) -> DataFrame:
    """Same semantics as ``emb_dup_pairs_blocked`` (exact label-blocked
    all-pairs), computed with numpy/BLAS gram
    TILES (``applyInPandas``) instead of a per-pair expression fold — the
    100 TB hot path: O(pairs · dim) runs inside vectorized BLAS at memory
    bandwidth, ~two orders of magnitude faster per pair than interpreted
    array folds.

    Scale shape — no unbounded block ever materializes:
    * rows hash into ``ceil(block/tile_cap)`` chunks within their label
      (``xxhash64 % n_chunks`` — stateless, no window function, no extra
      shuffle before the replicate-explode);
    * each unordered chunk pair (i ≤ j) is an independent task holding at
      most ``2·tile_cap`` rows, so a gram tile is ≤ tile_cap² doubles
      (~32 MB at the default) no matter how skewed the label blocks are —
      a label with 50% of all rows becomes (n/cap)²/2 bounded tasks
      instead of one O(n²) straggler;
    * each row is replicated once per chunk of its label (n·m rows total,
      m = chunk count) — far below the n² pair space the tasks then cover;
      off-diagonal tiles compute only cross-side pairs, the diagonal tile
      the upper triangle, so every pair lands in exactly one task.

    Rounded cosines can differ from the fold in the last ulp (pairwise vs
    sequential summation), hence the rows-only oracle; the pair SET is
    identical at any sane threshold (tested against the fold path on a
    skewed synthetic block in tests/test_algorithms.py).
    """
    return dup_pairs_blas(_emb(spark, sf_dir), threshold, tile_cap)


def dup_pairs_blas(
    emb: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    tile_cap: int = TILE_CAP,
) -> DataFrame:
    """DataFrame-level core of :func:`emb_dup_pairs_blas` — input needs
    (label, vec_id, embedding)."""
    counts = emb.groupBy("label").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(tile_cap)).cast("int").alias("nck")
    )
    chunked = emb.join(F.broadcast(counts), "label").select(
        "label",
        "vec_id",
        "embedding",
        "nck",
        F.pmod(F.xxhash64("vec_id"), F.col("nck")).cast("int").alias("ck"),
    )
    # replicate each row into every chunk-pair task it participates in:
    # row in chunk c joins task (min(c,o), max(c,o)) for every chunk o
    tasks = chunked.select(
        "label",
        "vec_id",
        "embedding",
        "ck",
        F.explode(F.sequence(F.lit(0), F.col("nck") - 1)).alias("ok"),
    ).select(
        "label",
        "vec_id",
        "embedding",
        "ck",
        F.least("ck", "ok").alias("ci"),
        F.greatest("ck", "ok").alias("cj"),
    )

    def tile_pairs(key, pdf):
        import numpy as np
        import pandas as pd

        label, ci, cj = key
        empty = pd.DataFrame(
            {"label": [], "vec_a": [], "vec_b": [], "cosine": []}
        ).astype({"label": "int64", "vec_a": "int64", "vec_b": "int64",
                  "cosine": "float64"})

        def mat(sub):
            E = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in sub["embedding"]]
            )
            nrm = np.sqrt((E * E).sum(axis=1))
            return sub["vec_id"].to_numpy(), E, nrm

        if ci == cj:  # diagonal tile: upper triangle within the chunk
            ids, E, nrm = mat(pdf)
            n = len(ids)
            if n < 2:
                return empty
            G = (E @ E.T) / np.outer(nrm, nrm)
            iu, ju = np.triu_indices(n, k=1)
            cos = np.round(G[iu, ju], 6)
            keep = cos >= threshold
            a, b, cos = ids[iu[keep]], ids[ju[keep]], cos[keep]
        else:  # off-diagonal tile: cross-side pairs only
            left, right = pdf[pdf["ck"] == ci], pdf[pdf["ck"] == cj]
            if left.empty or right.empty:
                return empty
            ia, A, na = mat(left)
            ib, B, nb = mat(right)
            G = (A @ B.T) / np.outer(na, nb)
            cos = np.round(G.ravel(), 6)
            keep = cos >= threshold
            ii, jj = np.divmod(np.flatnonzero(keep), len(ib))
            a, b, cos = ia[ii], ib[jj], cos[keep]
        swap = a > b
        return pd.DataFrame(
            {
                "label": label,
                "vec_a": np.where(swap, b, a),
                "vec_b": np.where(swap, a, b),
                "cosine": cos,
            }
        )

    return tasks.groupBy("label", "ci", "cj").applyInPandas(
        tile_pairs, schema="label long, vec_a long, vec_b long, cosine double"
    )


KMEANS_SAMPLE_CAP = 65536  # training-sample bound — fixed wrt corpus size
KMEANS_ITERS = 20


def nearest(E, C):
    """Index of each row's nearest centroid: argmin ‖x−c‖² =
    argmin(c·c − 2x·Cᵀ), one GEMM, the FIRST (lowest) index on exact
    ties. The one distance rule the Lloyd's trainer, the corpus
    assignment map and PQ's sub-code encoder (``llm.pq``) share, so
    training, assignment and the numpy mirrors in tests agree
    bit-for-bit."""
    return ((C * C).sum(axis=1)[None, :] - 2.0 * (E @ C.T)).argmin(axis=1)


def _lloyds_blas(sample, k: int, iters: int = 12):
    """Deterministic Lloyd's over an in-memory sample (strided
    hash-order init, first-argmin ties, emptied cells keep their
    centroid) with the distance in BLAS form (``nearest``): one GEMM per
    sweep instead of an (n, k, dim) broadcast tensor — the difference
    between ~16 s and <1 s at the training cap, and ~1 GB less temp per
    sweep as k grows with √corpus."""
    import numpy as np

    n = len(sample)
    cents = sample[[(i * n) // k for i in range(k)]].copy()
    for _ in range(iters):
        lab = nearest(sample, cents)
        # vectorized recenter (per-dim weighted bincount): the per-cell
        # boolean-mask loop is O(k·n) per sweep — at k=256 it, not the
        # GEMM, dominated training. Emptied cells keep their centroid.
        counts = np.bincount(lab, minlength=k).astype(np.float64)
        sums = np.stack(
            [
                np.bincount(lab, weights=sample[:, t], minlength=k)
                for t in range(sample.shape[1])
            ],
            axis=1,
        )
        nz = counts > 0
        cents[nz] = sums[nz] / counts[nz, None]
    return cents


def _train_sample(spark: SparkSession, sf_dir: str, cap: int):
    """The quantizer training sample as an (n, dim) float64 matrix: the
    first ``cap`` corpus rows by md5(vec_id) — a TakeOrdered (one pass,
    no full sort) whose size stays fixed as the corpus grows (faiss's
    train-on-sample recipe). Arrow transport (toPandas), not a py4j row
    collect: identical doubles, ~10× less driver deserialize time at the
    64k cap."""
    import numpy as np

    pdf = (
        _emb(spark, sf_dir)
        .select("vec_id", as_double("embedding").alias("e"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(cap)
        .toPandas()
    )
    return np.array([np.asarray(v, dtype=np.float64) for v in pdf["e"]])


def _cells(
    spark: SparkSession, sf_dir: str, n_cells: int, iters: int
) -> tuple[DataFrame, DataFrame, "object"]:
    """The learned coarse quantizer: (corpus with a ``cell`` column —
    persisted, the (cell, centroid) table as a DataFrame, the centroid
    matrix C).

    100 TB shape: ``_lloyds_blas`` trains driver-side on the bounded
    ``_train_sample`` (``KMEANS_SAMPLE_CAP`` rows, fixed as the corpus
    grows), and full-corpus assignment is a ZERO-SHUFFLE Arrow-batched
    ``nearest`` against the closure-broadcast C — embarrassingly
    parallel, vectorized across rows and cells (the JVM higher-order-fold
    equivalent runs interpreted per element; same trade as
    ``_rh_codes``), with the trainer's distance arithmetic. The
    n_cells × dim centroid table re-exposes as a broadcastable frame so
    probe selection can stay JVM-side.

    Memoized per (sf_dir, n_cells, iters): training and the assignment
    scan run once per corpus per session."""

    def build():
        C = _lloyds_blas(
            _train_sample(spark, sf_dir, KMEANS_SAMPLE_CAP), n_cells, iters
        )
        cents = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(C)],
            "cell int, centroid array<double>",
        )
        emb = _emb(spark, sf_dir)
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in emb.schema.fields
        ) + ", cell int"

        def gen_assign(it):
            # mapInArrow (guide §4.2, r14): the embedding matrix reshapes
            # out of the list column's flat values buffer and every
            # pass-through column is the untouched Arrow array — no pandas
            # materialization of the corpus on either side of the boundary
            import numpy as np
            import pyarrow as pa

            for batch in it:
                if not batch.num_rows:
                    continue
                i_emb = batch.schema.names.index("embedding")
                E = arrow_matrix(batch.column(i_emb), "embedding")
                yield pa.RecordBatch.from_arrays(
                    [*batch.columns, pa.array(nearest(E, C).astype(np.int32))],
                    list(batch.schema.names) + ["cell"],
                )

        assigned = emb.mapInArrow(gen_assign, schema=out_schema).persist()
        return assigned, cents, C

    return memo.memo(
        spark, "llm.similarity.cells", sf_dir, build, key=(n_cells, iters)
    )


def emb_knn_ivf_kmeans(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = KNN_K,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k with a LEARNED coarse quantizer — KMeans cells instead
    of the label column, the data-independent form real ANN indexes use
    (the label-IVF twin ``emb_knn_ivf`` assumes a blocking column
    exists). Probe the ``nprobe`` nearest cells, exact cosine inside.

    Probe selection is fully JVM-side: the one-row query frame and the
    n_cells-row centroid frame broadcast, cells rank by centroid cosine
    inside the join, and the corpus filter is a broadcast semi-join on
    the probed cell ids — no ``.first()``, no driver numpy, no
    collect-based round-trip anywhere in the plan (the only driver-held
    bytes are the fitted model's own coefficients).

    Rows-only driver oracle: KMeans training is iterative and not
    SQL-expressible. The hard invariant — the result equals the exact
    top-k restricted to the probed cells, and the probe genuinely prunes
    the scan — is verified against an independent numpy computation in
    tests/test_algorithms.py."""
    assigned, cents, _ = _cells(spark, sf_dir, n_cells, KMEANS_ITERS)
    q = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == query_id)
        .select(F.col("embedding").alias("qv"))
    )
    if q.isEmpty():  # a typo'd id must error, not return an empty top-k
        raise ValueError(f"unknown query vec_id {query_id}")
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cell",
            cosine(F.col("centroid"), as_double("qv")).alias("ccos"),
        )
        .orderBy(F.col("ccos").desc(), F.col("cell"))
        .limit(nprobe)
        .select("cell")
    )
    cos = cosine(as_double("embedding"), as_double("qv"))
    return (
        assigned.join(F.broadcast(probe), "cell")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


CENT_FOLD_FAN_IN = 4096  # max values any single fold buffer ever holds


def _label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label elementwise-mean centroids for ``docs_cluster_assign``
    and ``emb_knn_join`` — n_labels × dim values, the size IVF keeps tiny
    by design.

    Each component is the mean computed as a deterministic FOLD OVER THE
    SORTED values (not ``avg``): ``avg``'s partial-aggregate merge order
    is partition-dependent, so its low-order ulps differ run-to-run and
    engine-to-engine — fine when centroids only RANK well-separated cells
    (``emb_knn_ivf``), not when centroid cosines appear in output values.

    BOUNDED GROUP STATE: the fold is TWO-LEVEL with a fixed fan-in —
    values rank within their (label, pos) group (one shuffle+sort, no
    per-row state), chunk ``(rank-1) // 4096`` folds its own ≤4096-value
    sorted slice, and the component sum folds the chunk sums in chunk
    order (≤ n/4096 values — 2 MB of doubles even at a billion rows per
    label, vs the unbounded single-level collect_list this replaces,
    which put EVERY value of a label in one aggregation buffer row). The
    chunking follows the global sort order, so the result is exactly as
    deterministic as the flat sorted fold, and the DuckDB oracle
    (_CENT_FOLD in plans/oracle_sql.py) performs the identical two-level
    fold — init 0.0 + s₁ ≡ s₁ exactly, so Spark's explicit-init
    ``aggregate`` matches duckdb's init-free ``list_reduce``
    bit-for-bit."""
    from pyspark.sql import Window

    ex = emb.select(
        "label", F.posexplode(as_double("embedding")).alias("pos", "x")
    )
    w = Window.partitionBy("label", "pos").orderBy("x")
    chunked = ex.withColumn(
        "chunk",
        F.floor((F.row_number().over(w) - 1) / CENT_FOLD_FAN_IN).cast("int"),
    )
    chunks = chunked.groupBy("label", "pos", "chunk").agg(
        F.aggregate(
            F.array_sort(F.collect_list("x")), F.lit(0.0), lambda a, v: a + v
        ).alias("csum"),
        F.count("x").alias("cnt"),
    )
    comps = chunks.groupBy("label", "pos").agg(
        (
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk", "csum"))),
                    lambda s: s["csum"],
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            / F.sum("cnt")
        ).alias("cx")
    )
    return comps.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cx"))),
            lambda s: s["cx"],
        ).alias("centroid")
    )


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, persisted per-label centroid frame (n_labels rows).

    ``docs_cluster_assign`` and ``emb_knn_join`` both broadcast it; the
    memo means the explode + two-level fold executes once per corpus per
    session instead of inside every consumer's plan (the r4 driver bench
    showed emb_knn_join re-paying the centroid subtree on the warm
    pass)."""
    return memo.memo(
        spark, "llm.similarity.centroids", sf_dir,
        lambda: _label_centroids(_emb(spark, sf_dir)).persist(),
    )


def docs_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic semantic-cluster assignment: every vector goes to
    its nearest centroid by cosine (max cosine, lowest label on ties).

    The centroid table (here: the per-label means of ``emb_knn_ivf``; in
    a real pipeline, trained centroids loaded as a table) collapses to
    ONE broadcast row holding all centroids sorted by label, and the
    argmax runs as an array fold inside a projection — assignment is a
    pure map over the corpus: zero shuffle, embarrassingly parallel at
    100 TB. Cosines fold left over dims (same order as the oracle's
    list_reduce) and round to 6 before comparison, so the argmax is
    bit-identical cross-engine; the strict ``>`` keeps the FIRST (lowest
    label) centroid on rounded ties, matching the oracle's
    row_number(ORDER BY cosine DESC, label).

    EXACTLY oracled: per-label means and the fold are deterministic —
    a hard cross-engine row (the learned-KMeans twin of this op is
    ``emb_knn_ivf_kmeans``, rows-only for the training reasons documented
    there)."""
    emb = _emb(spark, sf_dir)
    carr = _centroids(spark, sf_dir).select(
        F.struct("label", "centroid").alias("lc")
    ).groupBy().agg(F.array_sort(F.collect_list("lc")).alias("cents"))

    e = as_double("embedding")
    # score every centroid once, then fold for the argmax (scoring inside
    # the fold lambda would evaluate each cosine twice — cond + value)
    cands = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            F.round(cosine(e, c["centroid"]), 6).alias("cos"),
            c["label"].alias("lbl"),
        ),
    )
    best = F.aggregate(
        cands,
        F.struct(
            F.lit(-2.0).alias("cos"), F.lit(-1).cast("int").alias("lbl")
        ),
        lambda acc, x: F.when(x["cos"] > acc["cos"], x).otherwise(acc),
    )
    return (
        emb.crossJoin(F.broadcast(carr))
        .select("vec_id", "label", best.alias("b"))
        .select(
            "vec_id",
            "label",
            F.col("b.lbl").alias("assigned_label"),
            F.col("b.cos").alias("cosine"),
        )
    )


def emb_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster drop every vector that has a near-duplicate with a lower id —
    the published recipe for pruning semantically redundant web data
    before pretraining (the paper removes ~50% of LAION with no quality
    loss).

    Stages, all reusing oracled machinery:
    1. assignment — nearest deterministic centroid by cosine (the
       ``docs_cluster_assign`` broadcast argmax fold: zero shuffle);
    2. within-cluster pairs — self-join ON THE CLUSTER KEY with norms
       precomputed per row (the ``emb_dup_pairs_blocked`` shape; cost
       Σ cluster², never n² — at 100 TB the cluster count scales with
       the corpus via the kmeans quantizer, holding cluster size ~
       corpus/k bounded, which is exactly the paper's k ∝ n setting);
    3. keep-lowest — a vector is dropped iff some LOWER-id vector in its
       cluster has cosine ≥ threshold (left-semi on the drop set,
       broadcast when small).

    Output: every vector with its cluster and a ``keep`` flag — the
    audit-friendly form (filter keep for the surviving corpus). EXACTLY
    oracled end-to-end: centroids, assignment, pair cosines (rounded 6)
    and the drop set are all deterministic."""
    assigned = docs_cluster_assign(spark, sf_dir).select(
        "vec_id", "assigned_label"
    )
    cells = _emb(spark, sf_dir).select("vec_id", "embedding").join(
        assigned, "vec_id"
    )
    return _keep_lowest(cells, "assigned_label", threshold)


def _keep_lowest(cells: DataFrame, cell: str, threshold: float) -> DataFrame:
    """SemDeDup's within-cell step over (vec_id, ``cell``, embedding):
    self-join on the cell key with norms precomputed per row (the
    ``emb_dup_pairs_blocked`` shape; cost Σ cell²), and drop every
    vector with a LOWER-id vector of rounded cosine ≥ ``threshold`` in
    its cell. Returns (vec_id, ``cell``, keep)."""
    normed = cells.select(
        "vec_id", F.col(cell).alias("c"), as_double("embedding").alias("e")
    ).withColumn("nrm", dot(F.col("e"), F.col("e")))
    a = normed.select(
        "c",
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        "c",
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot(F.col("ea"), F.col("eb")) / F.sqrt(F.col("na") * F.col("nb"))
    dropped = (
        a.join(b, ["c"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(F.round(cos, 6) >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return (
        cells.select("vec_id", cell)
        .join(dropped.withColumn("is_dropped", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            cell,
            F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("keep"),
        )
    )


def emb_semantic_dedup_kmeans(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
    n_cells: int = 16,
) -> DataFrame:
    """SemDeDup over LEARNED quantizer cells — the form whose cluster
    count actually scales: ``emb_semantic_dedup`` clusters on the fixed
    label-centroid table (Σ cluster² degrades as the corpus grows past
    the label count), while here k tracks corpus size through the same
    sampled-Lloyd's quantizer as ``emb_knn_ivf_kmeans`` (the paper's
    k ∝ n setting: cluster size ~ n/k stays bounded, so within-cluster
    pair work stays linear in n).

    Rows-only driver oracle (iterative training, like the other kmeans
    keys); the full invariant — assignment matches an independent numpy
    Lloyd's run, kept set pairwise dup-free per cell, every drop
    justified by a lower-id near-dup — is verified in
    tests/test_llm_round5.py."""
    assigned, _, _ = _cells(spark, sf_dir, n_cells, KMEANS_ITERS)
    return _keep_lowest(assigned, "cell", threshold)


KNN_JOIN_K = 5
KNN_JOIN_STRIDE = 25  # query set: vec_id % STRIDE == 0
KNN_JOIN_NPROBE = 4
KNN_JOIN_QUERY_CAP = 256  # emb_knn_join_label's constant-size query block

IVF_MIN_CELLS = 8
IVF_MAX_CELLS = 65536  # centroid table ≤ 65536×64 doubles (~33 MB): broadcastable


def ivf_cells(
    n_rows: int,
    min_cells: int = IVF_MIN_CELLS,
    max_cells: int = IVF_MAX_CELLS,
) -> int:
    """Coarse-quantizer cell count ≈ √n, rounded up to a power of two —
    the published FAISS index-selection guideline (K in [4√n, 16√n] for
    IVF; we take the low end since the verify step is exact). √n
    balances the two per-query costs — probe ranking scans K centroids,
    the candidate scan reads nprobe·n/K rows — so each grows as √n
    instead of one of them growing linearly (fixed K) or the probe
    degenerating (K ∝ n). Clamped so the centroid table always
    broadcasts (at the 65536 cap the table is ~33 MB; corpora big
    enough to hit the cap want a two-level IMI quantizer, out of scope
    for the reference surface)."""
    import math

    root = max(1.0, math.sqrt(max(1, n_rows)))
    return max(min_cells, min(max_cells, 1 << math.ceil(math.log2(root))))


def emb_knn_join(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_JOIN_K,
    nprobe: int = KNN_JOIN_NPROBE,
    stride: int = KNN_JOIN_STRIDE,
) -> DataFrame:
    """k-NN JOIN: top-k cosine neighbors for EVERY query vector (the
    set-valued generalization of ``emb_knn``'s single query), searched
    over cells of a LEARNED corpus-scaled coarse quantizer.

    Query set: the deterministic ``vec_id % stride == 0`` slice (a real
    pipeline passes a query table) — it GROWS with the corpus, which is
    the realistic k-NN-join workload, so every per-query cost must stay
    sub-linear. Plan shape at 100 TB (r7 verdict item 1b — replaces the
    label-cell plan whose fixed cell count made candidate work quadratic
    and whose forced probe broadcast grew linearly):
    * cells come from the learned quantizer (``_cells``, 12 Lloyd's
      sweeps) with K = ``ivf_cells(n)`` ≈ √n (FAISS guideline), so cell
      size ~√n and per-query candidate work is nprobe·√n, not
      nprobe·n/constant;
    * probe selection scans the BROADCAST centroid table (≤ 33 MB by
      the IVF_MAX_CELLS clamp) per query — no shuffle;
    * candidate generation joins probes to the assigned corpus ON THE
      CELL KEY with NO broadcast hint: the probe frame is
      O(#queries·nprobe) rows each carrying the query vector — it grows
      with the corpus, so it must never be force-broadcast; AQE
      broadcasts while it fits and switches to a shuffle hash join on
      the cell key past the threshold (executors never hold more than
      their cell partitions);
    * per-query top-k is one exchange keyed by the query id over the
      already-pruned candidates.

    Both numeric stages are Arrow-batched numpy (the centroid matrix
    ships in the task closure): the equivalent JVM ``aggregate`` folds
    ran interpreted per element and dominated the sf1 measurement —
    ~450k cosines × 64 dims of lambda evals (the same trade every
    vectorized op here made, see ``_rh_codes``). Cosines round to 6
    before ranking; tiebreaks on (cell) / (vec_id) keep the result
    deterministic.

    Rows-only driver oracle (KMeans training is iterative, like the
    other learned-quantizer keys); the full pipeline — sample, training
    sweeps, assignment, probe choice, ranking — reproduces bit-for-bit
    in the numpy mirror test (tests/test_algorithms.py). The
    exactly-oracled companion is :func:`emb_knn_join_label` (constant
    query block over deterministic label cells)."""
    n_cells = ivf_cells(_emb_count(spark, sf_dir))
    assigned, _, C = _cells(spark, sf_dir, n_cells, 12)
    queries = _emb(spark, sf_dir).filter(
        F.col("vec_id") % stride == 0
    ).select(F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qv"))

    def gen_probe(it):
        # mapInArrow (guide §4.2, r14): the query matrix reshapes out of
        # the qv list column's flat buffer; the nprobe-way row expansion
        # is one vectorized take() per column instead of a per-query
        # pandas frame + concat. A stable argsort on -ccos is exactly the
        # old per-row lexsort((cells_idx, -ccos[i])): equal cosines keep
        # the original (ascending cell id) order.
        import numpy as np
        import pyarrow as pa

        cn = np.sqrt((C * C).sum(axis=1))
        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            cols = {
                name: batch.column(i)
                for i, name in enumerate(batch.schema.names)
            }
            Q = arrow_matrix(cols["qv"], "qv")
            qn = np.sqrt((Q * Q).sum(axis=1))
            ccos = np.round((Q @ C.T) / (qn[:, None] * cn[None, :]), 6)
            top = np.argsort(-ccos, axis=1, kind="stable")[:, :nprobe]
            idx = pa.array(
                np.repeat(np.arange(n, dtype=np.int64), top.shape[1])
            )
            yield pa.RecordBatch.from_arrays(
                [
                    cols["q_vec_id"].take(idx),
                    cols["qv"].take(idx),
                    pa.array(top.ravel().astype(np.int32)),
                ],
                ["q_vec_id", "qv", "cell"],
            )

    probe = queries.mapInArrow(
        gen_probe, schema="q_vec_id long, qv array<float>, cell int"
    )

    def gen_score(it):
        # mapInArrow (guide §4.2, r14): both matrices reshape out of the
        # list columns' flat buffers — zero per-row Python over the
        # candidate set, the family's hot loop
        import numpy as np
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            cols = {
                name: batch.column(i)
                for i, name in enumerate(batch.schema.names)
            }
            A = arrow_matrix(cols["embedding"], "embedding")
            Qm = arrow_matrix(cols["qv"], "qv")
            cos = np.round(
                (A * Qm).sum(axis=1)
                / np.sqrt((A * A).sum(axis=1) * (Qm * Qm).sum(axis=1)),
                6,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    cols["q_vec_id"],
                    cols["vec_id"],
                    pa.array(cos, type=pa.float64()),
                ],
                ["q_vec_id", "vec_id", "cosine"],
            )

    from pyspark.sql import Window

    scored = (
        assigned.join(probe, "cell")  # hash join on the cell key; AQE sizes it
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "qv", "vec_id", "embedding")
        .mapInArrow(
            gen_score, schema="q_vec_id long, vec_id long, cosine double"
        )
    )
    return scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("q_vec_id").orderBy(
                F.col("cosine").desc(), F.col("vec_id")
            )
        ),
    ).filter(F.col("rk") <= k)


def emb_knn_join_label(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_JOIN_K,
    nprobe: int = 2,
    stride: int = KNN_JOIN_STRIDE,
    query_cap: int = KNN_JOIN_QUERY_CAP,
) -> DataFrame:
    """k-NN join over the deterministic label cells for a CONSTANT-SIZE
    query block — the exactly-oracled companion of :func:`emb_knn_join`
    (whose learned quantizer is iterative and rows-only by nature).

    The query block is the first ``query_cap`` of the ``% stride``
    slice in md5 hash order — the same constant-size construction as
    ``emb_decontaminate``'s eval block (real fixed query sets — an eval
    suite, a probe panel — are constant-size by nature). That cap is
    what makes this plan scale-safe where the old uncapped form was
    quadratic: total candidate work is query_cap · nprobe · (n/labels)
    — LINEAR in the corpus — and the probe frame is O(query_cap·nprobe)
    rows, so its broadcast is bounded no matter the corpus size.
    Deterministic centroid folds + rounded cosines make probe choice,
    candidate set and ranking reproduce bit-identically in DuckDB.

    Probe ranking stays a JVM fold (query_cap × n_labels cosines —
    trivial); candidate SCORING is Arrow-batched numpy with the fold
    order preserved (the ``_rh_codes`` exact-left-fold trick: accumulate
    over dims in a vectorized loop, bit-identical to the SQL
    list_reduce) and rounds on the JVM side — the oracle is unchanged,
    only the interpreter is gone from the ~cap·nprobe·cellsize hot
    loop."""
    emb = _emb(spark, sf_dir)
    h = F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":knnq:v1")))
    queries = (
        emb.filter(F.col("vec_id") % stride == 0)
        .orderBy(h, "vec_id")
        .limit(query_cap)
        .select(F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qv"))
    )
    cents = _centroids(spark, sf_dir)
    from pyspark.sql import Window

    ccos = F.round(cosine(F.col("centroid"), as_double("qv")), 6)
    probe = (
        queries.crossJoin(F.broadcast(cents))
        .select("q_vec_id", "qv", "label", ccos.alias("ccos"))
        .withColumn(
            "crk",
            F.row_number().over(
                Window.partitionBy("q_vec_id").orderBy(
                    F.col("ccos").desc(), F.col("label")
                )
            ),
        )
        .filter(F.col("crk") <= nprobe)
        .select("q_vec_id", "qv", "label")
    )
    def gen_fold_cosine(it):
        # mapInArrow (guide §4.2, r14): matrices reshape out of the list
        # columns' flat buffers; the dot and both norms stay the exact
        # left fold over dims, bit-identical to the SQL/DuckDB oracle
        import numpy as np
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            cols = {
                name: batch.column(i)
                for i, name in enumerate(batch.schema.names)
            }
            A = arrow_matrix(cols["embedding"], "embedding")
            B = arrow_matrix(cols["qv"], "qv")
            d = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for i in range(A.shape[1]):  # exact left folds (see _rh_codes)
                d = d + A[:, i] * B[:, i]
                na = na + A[:, i] * A[:, i]
                nb = nb + B[:, i] * B[:, i]
            yield pa.RecordBatch.from_arrays(
                [
                    cols["q_vec_id"],
                    cols["vec_id"],
                    pa.array(d / np.sqrt(na * nb), type=pa.float64()),
                ],
                ["q_vec_id", "vec_id", "cosine_raw"],
            )

    scored = (
        emb.join(F.broadcast(probe), "label")  # bounded: ≤ query_cap·nprobe rows
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "qv", "vec_id", "embedding")
        .mapInArrow(
            gen_fold_cosine,
            schema="q_vec_id long, vec_id long, cosine_raw double",
        )
    )
    # round on the JVM side: Spark's Round matches the oracle's _r6
    return (
        scored.select(
            "q_vec_id", "vec_id", F.round("cosine_raw", 6).alias("cosine")
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_vec_id").orderBy(
                    F.col("cosine").desc(), F.col("vec_id")
                )
            ),
        )
        .filter(F.col("rk") <= k)
    )


def emb_knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = KNN_K,
    nprobe: int = 2,
) -> DataFrame:
    """IVF top-k: coarse centroids → ``nprobe`` nearest cells → exact
    search inside the probed cells only.

    The inverted-file structure here uses the label column as the cell
    assignment (per-label elementwise means as centroids); at scale the
    cells are a centroid-bucketed table and the probe is a partition-
    pruned read touching nprobe/N of the data. Multi-probe (default 2)
    is the standard recall lever — still pruned, better neighbor
    coverage than nprobe=1.

    EXACTLY oracled: the pruned search is deterministic given the cell
    assignment (probe ranking, in-cell cosines, global top-k are all
    reproduced in SQL), so this is a hard cross-engine row, not a
    recall-bound check."""
    emb = _emb(spark, sf_dir)
    cells = (
        emb.select("label", F.posexplode(as_double("embedding")).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s["cx"],
            ).alias("centroid")
        )
    )
    q = emb.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("qv")
    )
    probe = (
        cells.crossJoin(F.broadcast(q))
        .select(
            "label",
            cosine(F.col("centroid"), as_double("qv")).alias("ccos"),
        )
        .orderBy(F.col("ccos").desc(), F.col("label"))
        .limit(nprobe)
        .select("label")
    )
    cos = cosine(as_double("embedding"), as_double("qv"))
    return (
        emb.join(F.broadcast(probe), "label")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


EVAL_VEC_BUCKETS = 16  # 1-in-16 vectors act as the held-out eval set
# Real eval sets are CONSTANT-SIZE (a fixed benchmark suite), not a
# corpus fraction — the md5 bucket here is only a stand-in, so the block
# is capped deterministically (hash order) to keep the broadcast and the
# per-vector work bounded no matter the corpus size. Not binding at the
# driver's SFs; binding (and linear-scaling-preserving) at the 8× study.
EVAL_VEC_MAX = 512


def emb_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """SEMANTIC eval-set decontamination: flag training vectors whose
    embedding is near-duplicate (cosine ≥ τ) to ANY eval-set vector —
    the embedding-space complement of ``docs_decontaminate``'s n-gram
    overlap (paraphrased benchmark leakage that shares no shingle still
    lands next to the eval point in embedding space).

    The eval set is the deterministic 1-in-16 md5 bucket of vec_id
    (same construction as ``llm/curation.py``'s eval bucket; a real
    pipeline passes its benchmark embeddings). 100 TB shape: eval sets
    are SMALL BY NATURE → broadcast once, every train partition scans
    its vectors against the in-memory eval block (zero shuffle for the
    scoring), and the per-vector max collapses map-side before the one
    count-sized exchange. The reported nearest eval vector breaks
    cosine ties on the LOWEST eval id (struct-max on (rounded cosine,
    -id)) so the answer is deterministic cross-engine."""
    emb = _emb(spark, sf_dir)
    bucket = (
        hex8_long(F.concat(F.col("vec_id").cast("string"), F.lit(":eval:v1")))
        % EVAL_VEC_BUCKETS
    )
    h = F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":eval:v1")))
    tagged = emb.withColumn("bkt", bucket)
    ev = (
        tagged.filter(F.col("bkt") == 0)
        .orderBy(h, "vec_id")  # deterministic constant-size eval block
        .limit(EVAL_VEC_MAX)
        .select(F.col("vec_id").alias("eval_id"), F.col("embedding").alias("ev"))
    )
    train = tagged.filter(F.col("bkt") != 0).select("vec_id", "embedding")
    cos = F.round(cosine(as_double("embedding"), as_double("ev")), 6)
    best = (
        train.crossJoin(F.broadcast(ev))
        .select(
            "vec_id",
            F.struct(
                cos.alias("c"), (-F.col("eval_id")).alias("nid")
            ).alias("s"),
        )
        .groupBy("vec_id")
        .agg(F.max("s").alias("m"))
    )
    return best.select(
        "vec_id",
        F.col("m.c").alias("max_eval_cosine"),
        (-F.col("m.nid")).alias("nearest_eval_id"),
        (F.col("m.c") >= threshold).alias("contaminated"),
    )


def ann_recall_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY TELEMETRY: recall of the IVF-pruned top-k against the
    exact brute-force top-k for the canonical probe — the companion
    health row every approximate index ships with (the LSH families
    have ``docs_lsh_stats`` / ``rhlsh_bucket_stats``; this is the IVF
    analog). recall = |IVF ∩ exact| / k, a quotient of exact ints.

    Both sides are already-oracled deterministic queries, so the stat is
    exactly oracled too; at scale this runs over a sampled probe set and
    the same one-row-per-index-build shape holds (tiny frames, a
    broadcast semi-join of two k-row lists)."""
    exact = emb_knn(spark, sf_dir)
    appr = emb_knn_ivf(spark, sf_dir)
    return (
        appr.join(F.broadcast(exact), "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            "n_overlap",
            F.lit(KNN_K).alias("k"),
            F.round(F.col("n_overlap") / F.lit(KNN_K), 6).alias("recall"),
        )
    )
