"""Similarity search over embedding columns (array<float>).

Two paths, per the standard ANN playbook:
  * ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
    set against the corpus; dot/norm built from JVM-side higher-order array
    functions (zip_with + aggregate) — no UDF, whole-stage codegen. At
    100 TB the corpus side stays partitioned; cost is one corpus scan per
    query batch.
  * ``lsh_topk`` — random-hyperplane (signed random projection) LSH:
    bucket corpus+queries by signature bands, search only within matching
    buckets. Sub-linear candidate generation; recall tunable via
    (n_planes, bands).

Parity discipline: each elementwise product is snapped to an integer grid
(units of 1e-13) and folded as exact longs — order-independent, so cosine
scores hash-match the DuckDB oracle bit-for-bit. Grid error analysis: for
unit-ish 64-dim vectors, |x·y|·1e13 ≲ 3e12 per element (double round-off
≪ 0.5 grid units) and Σ ≲ 2e14 < 2^53, so long→double casts stay exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SCALE = 1e13  # integer grid: 13 decimal digits of the elementwise product


def _round_half_away_np(P: "np.ndarray") -> "np.ndarray":
    """Vectorized round-half-away-from-zero matching SQL ``round()`` on
    the SAME float64 inputs, with the +0.5 boundary guarded (ADVICE r12):
    ``sign·floor(|x|+0.5)`` mis-rounds when ``|x|+0.5`` is INEXACT and
    lands on / across the integer — canonically |x| = 0.5 − 2⁻⁵⁴ (the
    largest double below 0.5), where |x|+0.5 ties to 1.0 under
    round-to-nearest-even and the trick yields 1 while the exact value
    rounds to 0. Entries whose fractional part sits within 1e-9 of 0.5
    are recomputed with ``decimal.Decimal`` HALF_UP on the EXACT binary
    value of the double — DuckDB's round() semantics exactly, and
    Spark's (BigDecimal HALF_UP) everywhere the shortest decimal repr
    sits on the same side of the .5 boundary as the exact value (all
    but adversarially-constructed doubles). The guard path is scalar
    but fires on a measure-zero slice of real products."""
    d = np.abs(P)
    d += 0.5
    fd = np.floor(d)
    R = np.sign(P) * fd
    # boundary detection without a second floor/abs pass: |P| had a
    # fractional part within 1e-9 of 0.5 iff d = |P|+0.5 landed within
    # 1e-9 of an integer (from either side)
    d -= fd
    sus = (d < 1e-9) | (d > 1.0 - 1e-9)
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        flatR = R.reshape(-1)
        flatP = P.reshape(-1)
        for i in np.flatnonzero(sus.reshape(-1)):
            flatR[i] = float(
                Decimal(float(flatP[i])).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
    return R


def _dot_grid(a: Column, b: Column) -> Column:
    """Σ round(aᵢ·bᵢ·1e13) as an exact long (order-independent fold)."""
    prods = F.zip_with(
        a, b, lambda x, y: F.round(x.cast("double") * y.cast("double") * F.lit(_SCALE)).cast("long")
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, p: acc + p)


def cosine(a: Column, b: Column) -> Column:
    """Grid units cancel: cos = dotL / sqrt(naL · nbL), all inputs < 2^53."""
    dot = _dot_grid(a, b).cast("double")
    na = _dot_grid(a, a).cast("double")
    nb = _dot_grid(b, b).cast("double")
    return _safe_cos(dot, na, nb)


def _safe_cos(dot: Column, na: Column, nb: Column) -> Column:
    """cos := 0.0 when either norm is zero (the usual zero-vector
    convention) — under ANSI mode the raw division would error, and the
    numpy prefilter's NaN row would silently drop the id; the lazy
    ``when`` branch keeps the divide from ever firing on zero."""
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
        dot / F.sqrt(na * nb)
    )


def _safe_cos_np(dot: "np.ndarray", na: "np.ndarray", nb: "np.ndarray") -> "np.ndarray":
    """numpy mirror of ``_safe_cos``: zero-norm rows get cos = 0.0.

    Without this the prefilter's NaN cosines (0/0) fail the isfinite
    keep-mask and the id is silently DROPPED, while the single-phase JVM
    plan emits the row with cos = 0.0 — a two-phase/single-phase parity
    break whenever a zero vector exists. A zero-norm QUERY degenerates to
    an all-ties-at-0.0 candidate set (full fan-out for that one query);
    acceptable — the JVM confirm still produces the exact _safe_cos
    ranking, and zero-norm queries are pathological inputs."""
    with np.errstate(invalid="ignore", divide="ignore"):
        S = dot / np.sqrt(np.outer(na, nb))
    S[np.isnan(S)] = 0.0
    return S


def norm_grid(v: Column) -> Column:
    """Self-dot in grid units as double (exact: ≤ ~6e14 < 2^53).

    Computed once per vector and carried through joins — recomputing the
    two self-dots per candidate pair triples the hot-path array work.
    """
    return _dot_grid(v, v).cast("double")


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine() with precomputed norms; bit-identical result."""
    return _safe_cos(_dot_grid(a, b).cast("double"), na, nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query (excluding self).
    Queries are broadcast; ties broken by neighbor id ascending."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_grid(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_grid(F.col(vec_col)).alias("c_norm"),
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


# SQ8 scalar quantization (Faiss IndexScalarQuantizer QT_8bit_uniform
# shape): per-vector symmetric int8 codes over the repo's 1e6 snap grid.
# Quantizer and dequantizer are the same pure-integer round-half-away-
# from-zero rationals as emb_int8_quant_error (queries/llmq.py), so codes
# and reconstructions are engine-identical by construction:
#   g_i = round(x_i · 1e6)            (snap grid, bigint)
#   m   = max(max_i |g_i|, 1)         (per-vector scale)
#   q_i = sign(g_i) · ((254·|g_i| + m) div (2m))      ∈ [−127, 127]
#   r_i = sign(g_i) · ((2·|q_i|·m + 127) div 254)     (dequant, bigint)
_SQ8_RECON = (
    "transform({g}, gi -> (case when gi < 0 then -1 else 1 end)"
    " * ((2 * ((254 * abs(gi) + {m}) div (2 * {m})) * {m} + 127) div 254))"
)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (SQ8) retrieval: corpus vectors are symmetric-int8
    quantized per row and ranking runs over the DEQUANTIZED corpus against
    the full-precision query — the asymmetric-distance convention of
    Faiss's ``IndexScalarQuantizer`` (QT_8bit). The compression audit twin
    is ``emb_int8_quant_error`` (same quantizer); the retrieval-quality
    audit is ``sim_sq8_recall`` against exact-cosine ground truth.

    Exactness: the snap grid ``g``, the codes, and the reconstructions
    ``r`` are pure-integer in both engines; dot and self-dot sums are
    exact int64 (|g|,|r| ≲ 3e6 at 64 dims → Σ ≤ ~6e14 < 2^53), so the one
    cosine division and the (cos DESC, id ASC) window rank identically.

    Scale shape: quantize + reconstruct is per-row codegen — no shuffle,
    no Python; queries broadcast; ONE corpus scan; per-query top-k via the
    same window class as ``brute_force_topk``. In a real deployment the
    scan side reads 1-byte codes + one scale per vector instead of 4-byte
    floats (4× scan I/O at 100 TB); here both live in the same parquet,
    so the benefit shows in the recall audit, not I/O.
    """
    g = "transform({v}, x -> cast(round(cast(x as double) * 1000000.0) as bigint))"
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.expr(g.format(v=vec_col)).alias("cg"),
        )
        .withColumn("m", F.expr("greatest(array_max(transform(cg, a -> abs(a))), 1L)"))
        .withColumn("r", F.expr(_SQ8_RECON.format(g="cg", m="m")))
        .select(
            "neighbor_id",
            "r",
            F.expr("aggregate(r, 0L, (acc, x) -> acc + x * x)").alias("rn"),
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(g.format(v=vec_col)).alias("qg"),
    ).select(
        "query_id",
        "qg",
        F.expr("aggregate(qg, 0L, (acc, x) -> acc + x * x)").alias("qn"),
    )
    dot = F.expr("aggregate(zip_with(qg, r, (a, b) -> a * b), 0L, (acc, p) -> acc + p)")
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        _safe_cos(
            dot.cast("double"),
            F.col("qn").cast("double"),
            F.col("rn").cast("double"),
        ).alias("cos_sq8"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sq8"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sq8", F.col("rank").cast("int").alias("rank"))
    )


def dim_covariance(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Embedding-DIMENSION covariance/correlation audit: population
    covariance and Pearson correlation for every dimension pair (i ≤ j)
    across the corpus — the dimension-collapse / redundancy diagnostic a
    pipeline reads before trusting a space (near-1 off-diagonal
    correlations mean wasted dims; near-0 diagonal variance means dead
    dims) and the input statistic for any whitening decision.

    Exactness: components snap to the 1e6 grid; per-row pair products
    are exact int64 (≤ ~9e12); all moment sums widen to DECIMAL(38,0)
    (exact past int64 at 100 TB row counts); covariance and the
    correlation numerator are decimal rationals with one double division
    each; the two variance factors cast to double BEFORE the multiply
    (their decimal product could exceed 38 digits) — IEEE-identical in
    both engines. Zero-variance dims yield NULL correlation (NULLIF).

    Scale shape: the upper-triangle products are built IN-ROW (nested
    ``transform`` + ``flatten`` — no self-join) and one posexplode feeds
    a (i, j)-keyed hash aggregate whose map-side partials collapse each
    partition to d(d+1)/2 rows, so the shuffle carries
    #partitions·d(d+1)/2 moment rows, never corpus-sized data; the
    d-row marginal table broadcasts onto the pair moments. Explode cost
    is d(d+1)/2 struct rows per vector — the honest price of exact
    second moments; at 100 TB with large d, sample rows first, not
    pairs (sampling pairs biases the estimate, sampling rows doesn't).
    """
    g = df.select(
        F.expr(
            f"transform({vec_col}, x -> cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("g")
    )
    pair_structs = F.expr(
        "flatten(transform(sequence(0, size(g) - 1), i ->"
        " transform(sequence(i, size(g) - 1), j ->"
        " struct(i AS i, j AS j, g[i] * g[j] AS xy))))"
    )
    dec = "decimal(38,0)"
    pairs = (
        g.select(F.explode(pair_structs).alias("p"))
        .select("p.i", "p.j", "p.xy")
        .groupBy("i", "j")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("xy").cast(dec)).alias("sxy"),
        )
    )
    marg = (
        g.select(F.posexplode("g").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(F.col("x").cast(dec)).alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        )
    )
    mi = marg.select(F.col("i"), F.col("sx").alias("sx_i"), F.col("sxx").alias("sxx_i"))
    mj = marg.select(
        F.col("i").alias("j"), F.col("sx").alias("sx_j"), F.col("sxx").alias("sxx_j")
    )
    jn = pairs.join(F.broadcast(mi), "i").join(F.broadcast(mj), "j")
    n = F.col("n").cast(dec)
    num = n * F.col("sxy") - F.col("sx_i") * F.col("sx_j")
    var_i = (n * F.col("sxx_i") - F.col("sx_i") * F.col("sx_i")).cast("double")
    var_j = (n * F.col("sxx_j") - F.col("sx_j") * F.col("sx_j")).cast("double")
    grid2 = F.lit(1.0e12)  # (1e6 grid)² → original embedding units²
    return jn.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        F.col("n").cast("long").alias("n_vectors"),
        (num.cast("double") / (n * n).cast("double") / grid2).alias("cov"),
        F.when(
            (var_i <= 0) | (var_j <= 0), F.lit(None).cast("double")
        )
        .otherwise(num.cast("double") / F.sqrt(var_i * var_j))
        .alias("corr"),
    )


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-signature retrieval — the 1-bit extreme of the quantization
    ladder (binary → SQ8 → PQ → IVF-PQ): each vector collapses to a sign
    bitmap (bit i = 1 iff the 1e6-grid component is strictly positive)
    packed into 32-bit words, and ranking is Hamming distance — the
    cheap-prefilter mode real systems run before an exact rerank (64
    dims → 8 bytes per vector, XOR+popcount per comparison).

    Parity: the signature is pure integer (grid sign test + left
    shifts ≤ 31, positive in every engine); Hamming is
    Σ bit_count(xor(word, word)) — exact ints; ties (Hamming is
    coarse) break to the smaller neighbor id, so rankings are
    engine-identical by construction. ``sim_bin_hamming_recall``
    measures what the 1-bit collapse costs against exact cosine.

    Scale shape: signatures are per-row codegen; queries broadcast; one
    corpus scan; the per-query top-k window is the brute_force_topk
    class over (id, distance) pairs — and in a real deployment the scan
    reads 8-byte signatures, 32× less I/O than float vectors."""
    words = F.expr(
        "transform(sequence(0, (size({v}) + 31) div 32 - 1), w ->"
        " aggregate(sequence(w * 32, least(w * 32 + 31, size({v}) - 1)), 0L,"
        " (acc, i) -> acc + (case when cast(round(cast({v}[i] as double)"
        " * 1000000.0) as bigint) > 0 then shiftleft(1L, i - w * 32)"
        " else 0L end)))".format(v=vec_col)
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), words.alias("cw"))
    q = queries.select(F.col(id_col).alias("query_id"), words.alias("qw"))
    ham = F.expr(
        "aggregate(zip_with(qw, cw, (a, b) -> bit_count(a ^ b)), 0,"
        " (acc, x) -> acc + x)"
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", ham.cast("int").alias("hamming")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", F.col("rank").cast("int").alias("rank"))
    )


def pca_power_top(
    df: DataFrame, vec_col: str = "embedding", iters: int = 3
) -> DataFrame:
    """Top principal component of the embedding space via ``iters``
    UNROLLED power iterations on the exact dimension-covariance matrix
    (:func:`dim_covariance`) — the first step of any whitening/PCA
    decision, kept fully inside the engine: the corpus is touched once
    (the covariance moments), and every iteration is a d²-row
    matrix-vector product — joins + aggregates over frames of at most
    d(d+1)/2 rows, nothing corpus-sized. Same fixed-unroll discipline as
    the BPE merge rounds and the Hilbert automaton.

    Determinism/parity: v₀ = 0.125·1 (an exact binary fraction); v is
    carried as INTEGER 1e-9-grid units; each matvec product snaps with
    ``floor(C·v_units·1e3)`` to exact 1e-12-unit longs summed
    order-independently; the norm and the one division per component are
    IEEE-identical; every re-snap is a floor (no decimal-cast midpoint
    hazard). Covariance entries are themselves oracle-stable doubles, so
    the whole recursion is bit-reproducible in both engines. Output: one
    row per dimension with its loading, the Rayleigh eigenvalue estimate
    (‖C·v‖ at the final unit v — exact for the converged dominant pair,
    the standard power-iteration readout), and the explained-variance
    ratio against the exact-snapped trace."""
    if iters < 1:
        # norm/eigenvalue are only defined after at least one matvec;
        # iters=0 would broadcast a None norm and crash opaquely.
        raise ValueError("pca_power_top requires iters >= 1")
    cov = dim_covariance(df, vec_col).select("i", "j", "cov")
    # 3+ consumers below; 2080-row frame — pin once, never replay the
    # corpus-moment scan per iteration (the distribution_drift rule)
    cov = cov.localCheckpoint(eager=True)
    sym = cov.unionAll(
        cov.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("cov")
        )
    )
    v = sym.select("i").distinct().select(
        "i", F.lit(125_000_000).cast("long").alias("vu")  # 0.125 in 1e-9 units
    )
    norm = None
    for _ in range(iters):
        w = (
            sym.join(
                F.broadcast(v.select(F.col("i").alias("j"), "vu")), "j"
            )
            .groupBy("i")
            .agg(
                F.sum(
                    F.floor(F.col("cov") * F.col("vu").cast("double") * F.lit(1e3))
                ).alias("su")  # 1e-12 units of (C·v)_i
            )
            .withColumn("w", F.col("su").cast("double") / F.lit(1e12))
            # w feeds the norm AND the renormalized carry; v's lineage
            # otherwise doubles per round (measured 45 exchanges unpinned
            # vs 12 pinned for iters=3) — pin the d-row frame each round
            .localCheckpoint(eager=True)
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(F.floor(F.col("w") * F.col("w") * F.lit(1e12))).cast("double")
                / F.lit(1e12)
            ).alias("nrm")
        )
        v = (
            w.crossJoin(F.broadcast(nrm))
            .select(
                "i",
                F.when(F.col("nrm") == 0, F.lit(0).cast("long"))
                .otherwise(F.floor(F.col("w") / F.col("nrm") * F.lit(1e9)).cast("long"))
                .alias("vu"),
            )
        )
        norm = nrm
    trace = cov.filter(F.col("i") == F.col("j")).agg(
        (F.sum(F.floor(F.col("cov") * F.lit(1e12))).cast("double") / F.lit(1e12)).alias(
            "trace"
        )
    )
    return (
        v.crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(trace))
        .select(
            F.col("i").cast("int").alias("i"),
            (F.col("vu").cast("double") / F.lit(1e9)).alias("loading"),
            F.col("nrm").alias("eigenvalue"),
            F.when(F.col("trace") <= 0, F.lit(None).cast("double"))
            .otherwise(F.col("nrm") / F.col("trace"))
            .alias("explained_ratio"),
        )
    )


def brute_force_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors — bit-identical output to
    ``brute_force_topk`` — via the two-phase numpy kernel (the
    ``semantic_dedup_pairs`` discipline).

    Phase 1 (Arrow-batched ``mapInPandas`` over the *corpus*): the query
    matrix (the small curated eval side — collect + closure-broadcast it)
    is scored against each corpus batch with ONE BLAS matmul in float,
    and per query we keep every batch row whose float cosine is within
    1e-6 of the batch's k-th best. Float-vs-grid cosine deviation is
    ≤ ~1e-11 (≤0.5+ε grid units per element, dim-bounded over
    O(1e13)-unit norms), so the margin makes the prefilter provably
    lossless, including grid ties — and a float-only *filter* carries no
    oracle-parity obligation. Candidates are (query_id, neighbor_id)
    pairs only: Arrow transfer is O(n·dim) in and O(m·(k+ties)) out per
    batch, never O(n·m).

    Phase 2 (JVM): the tiny candidate set is broadcast back against the
    corpus for its vectors, the exact integer-grid cosine is recomputed
    with the same JVM expressions as the single-phase plan (so emitted
    doubles are bit-identical — numpy's float rounding never reaches an
    output value), and one window takes rank ≤ k with the (cos DESC,
    neighbor ASC) tie-break.

    Scale shape: corpus stays partitioned and is scanned once; per-task
    memory is one chunk×m float block (chunk=4096); the only shuffle is
    the m·(k+ties)-row candidate window. This replaces the quadratic
    BroadcastNestedLoopJoin + interpreted-HOF scorer (measured 160.7s →
    ~2s at sf0.1 for the 5-NN eval).
    """
    from pyspark.sql import types as T

    qside = _collect_query_side(queries, id_col, vec_col)
    if qside is None:
        return corpus.sparkSession.createDataFrame(
            [],
            "query_id long, neighbor_id long, cos_sim double, rank int",
        )
    qids, Q, qn_f = qside  # float norms: prefilter-only, margin covers
    QT = Q.T
    margin = 1e-6
    cand_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
        ]
    )

    def _cand_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V_all = np.stack(pdf["c_vec"].to_numpy()).astype(np.float64)
            ids_all = pdf["neighbor_id"].to_numpy().astype(np.int64)
            for lo in range(0, len(ids_all), 4096):
                V = V_all[lo : lo + 4096]
                ids = ids_all[lo : lo + 4096]
                cn_f = (V * V).sum(axis=1)
                S = _safe_cos_np(V @ QT, cn_f, qn_f)
                S[ids[:, None] == qids[None, :]] = -np.inf
                ci, qj = _kept_candidates(S, k, margin)
                # a chunk with ≤ k rows has kth = −inf, and −inf ≥
                # −inf − margin is TRUE — without this mask the −inf
                # self-match would leak through as a candidate and the
                # JVM confirm would rank the query as its own neighbor
                keep = np.isfinite(S[ci, qj])
                ci, qj = ci[keep], qj[keep]
                if len(ci) == 0:
                    continue
                yield pd.DataFrame(
                    {"query_id": qids[qj], "neighbor_id": ids[ci]}
                )

    cand = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).mapInPandas(_cand_batches, cand_schema)
    return _confirm_topk_jvm(corpus, queries, cand, k, id_col, vec_col)


def random_planes(dim: int = 64, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Fixed Gaussian hyperplanes shared by Spark and the oracle generator."""
    import random

    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def _signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign bits against fixed random hyperplanes, packed into a long."""
    packed = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = _dot_grid(vec, F.array(*[F.lit(w) for w in plane]))
        packed = packed.bitwiseOR(
            F.shiftleft(F.when(proj >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")), i)
        )
    return packed


def plane_signatures(
    df: DataFrame, planes: list[list[float]], id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, sig) signatures via an Arrow-batched pandas UDF: one numpy
    einsum-style matmul per batch (n×dim×planes), per-element HALF_UP
    grid rounding to match the SQL expression semantics bit-for-bit
    (``np.sign·floor(|x|+0.5)`` ≡ Spark ``round()`` away-from-zero;
    parity asserted against ``plane_signatures_expr`` in tests on every
    SF). Measured ~7× faster than the expression formulation — projecting
    onto 32 planes is a dense matmul, exactly the shape vectorized UDFs
    exist for. Embarrassingly parallel: no shuffle at all (the expression
    path needed two hash-aggregates).
    """
    from pyspark.sql.functions import pandas_udf

    P = np.array(planes, dtype=np.float64).T  # dim × n_planes
    n_planes = len(planes)

    @pandas_udf("long")
    def sig_np(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)  # n × dim
        prod = V[:, :, None] * P[None, :, :] * _SCALE  # n × dim × n_planes
        r = np.sign(prod) * np.floor(np.abs(prod) + 0.5)  # round half away from zero
        bits = (r.sum(axis=1) >= 0).astype(np.int64)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        return pd.Series((bits * weights).sum(axis=1))

    return df.select(F.col(id_col).alias("id"), sig_np(F.col(vec_col)).alias("sig"))


def plane_signatures_expr(
    df: DataFrame, planes: list[list[float]], id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Pure-SQL-expression twin of ``plane_signatures`` (posexplode +
    broadcast plane matrix + two hash-aggregates). Semantics reference for
    the DuckDB oracle and the parity test; the pandas-UDF path above is
    the production default.
    """
    spark = df.sparkSession
    plane_rows = [
        (pos, plane_id, w) for plane_id, plane in enumerate(planes) for pos, w in enumerate(plane)
    ]
    pdf = spark.createDataFrame(plane_rows, "pos int, plane_id int, w double")
    pe = df.select(F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("pos", "val"))
    sums = (
        pe.join(F.broadcast(pdf), "pos")
        .groupBy("id", "plane_id")
        .agg(
            F.sum(
                F.round(F.col("val").cast("double") * F.col("w") * F.lit(_SCALE)).cast("long")
            ).alias("d")
        )
    )
    return sums.groupBy("id").agg(
        F.sum(F.expr("CASE WHEN d >= 0 THEN shiftleft(CAST(1 AS BIGINT), plane_id) ELSE CAST(0 AS BIGINT) END")).alias("sig")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    two_phase: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing ≥1 signature
    band with the query, then exact cosine rank within candidates.

    ``two_phase=True`` scores candidates with the shared numpy
    discipline (``brute_force_topk_np``): the query side — ids,
    signatures, vectors — is collected and closure-broadcast, one Arrow
    pass over the corpus computes the band-collision mask from the SAME
    integer signatures the JVM plan uses (bit-identical candidate set)
    plus float cosines in one matmul, keeps per query everything within
    1e-6 of the batch k-th best among candidates (provably lossless vs
    the 1e-13 grid), and the JVM re-scores only the tiny survivor set
    with the exact grid cosine — bit-identical output to the
    single-phase plan (the parity test pins them equal).

    Default is the single-phase JVM plan: MEASURED at the sf0.1 bench
    (5k vectors × 200 queries ≈ 250k collision pairs) the two-phase
    path is SLOWER (2.0s vs 1.8s) — its 3 extra Python stages cost
    ~0.5s each while the interpreted-HOF cosine it replaces is only
    ~1s there. The knn-fix measurement put the crossover near ~1M
    scored pairs; above it (bigger corpora, wider buckets) pass
    ``two_phase=True`` — the candidate mask and output are identical
    either way, so the flag is purely a cost choice."""
    planes = random_planes(dim=dim, n_planes=n_planes, seed=seed)
    rows_per_band = n_planes // bands
    if two_phase:
        return _lsh_topk_np(
            corpus, queries, planes, rows_per_band, bands, k, id_col, vec_col
        )

    def banded(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        sig_df = plane_signatures(df, planes, id_col=id_col, vec_col=vec_col)
        vecs = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias(vec_alias),
            norm_grid(F.col(vec_col)).alias(f"{id_alias}_norm"),
        )
        band_arr = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("sig"), i * rows_per_band)
                    .bitwiseAND(F.lit((1 << rows_per_band) - 1))
                    .alias("bucket"),
                )
                for i in range(bands)
            ]
        )
        return (
            sig_df.join(vecs, "id")
            .select(
                F.col("id").alias(id_alias),
                vec_alias,
                f"{id_alias}_norm",
                F.explode(band_arr).alias("bb"),
            )
            .select(
                id_alias,
                vec_alias,
                f"{id_alias}_norm",
                F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"),
            )
        )

    cb = banded(corpus, "neighbor_id", "c_vec")
    qb = banded(queries, "query_id", "q_vec")
    cand = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_vec", "query_id_norm", "neighbor_id", "c_vec", "neighbor_id_norm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("q_vec"), F.col("c_vec"), F.col("query_id_norm"), F.col("neighbor_id_norm")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def _collect_query_side(queries: DataFrame, id_col: str, vec_col: str):
    """(qids, Q, float-norms) of the small collected query side, or None
    when empty — shared by the two-phase ANN kernels."""
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return None
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    return qids, Q, (Q * Q).sum(axis=1)


def _kept_candidates(S, k, margin):
    """Row/col indices of entries within ``margin`` of each column's k-th
    best (masked entries must already be −inf). The per-batch k-th bound
    is ≤ the global k-th, so the kept set is a provable superset of the
    global top-k under the grid tie-break (brute_force_topk_np's
    argument)."""
    n = S.shape[0]
    if n > k:
        kth = np.partition(S, n - k, axis=0)[n - k, :]
    else:
        kth = np.full(S.shape[1], -np.inf)
    return np.nonzero(S >= (kth[None, :] - margin))


def _confirm_topk_jvm(
    corpus: DataFrame, queries: DataFrame, cand: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Phase 2 of the two-phase ANN kernels: re-score the (small,
    broadcast) candidate set with the exact grid cosine and take the
    final (cos DESC, neighbor ASC) top-k — emitted values come from the
    same JVM expressions as the single-phase plans."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_grid(F.col(vec_col)).alias("c_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_grid(F.col(vec_col)).alias("q_norm"),
    )
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
        )
    )


def _lsh_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    rows_per_band: int,
    bands: int,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Two-phase LSH top-k (see ``lsh_topk``): the band-collision mask is
    computed from the SAME integer signatures the JVM plan banded on, so
    the candidate set is bit-identical; scoring inside the mask is one
    float matmul with the per-query k-th margin."""
    from pyspark.sql import types as T

    qside = _collect_query_side(queries, id_col, vec_col)
    if qside is None:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int"
        )
    qids, Q, qn_f = qside
    qsig_rows = plane_signatures(queries, planes, id_col=id_col, vec_col=vec_col).collect()
    sig_by_id = {int(r["id"]): int(r["sig"]) for r in qsig_rows}
    block_mask = (1 << rows_per_band) - 1
    qblocks = np.array(
        [
            [(sig_by_id[int(i)] >> (b * rows_per_band)) & block_mask for b in range(bands)]
            for i in qids
        ],
        dtype=np.int64,
    )  # m × bands
    QT = Q.T
    margin = 1e-6
    cand_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
        ]
    )

    def _cand_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V_all = np.stack(pdf["c_vec"].to_numpy()).astype(np.float64)
            ids_all = pdf["neighbor_id"].to_numpy().astype(np.int64)
            sigs_all = pdf["sig"].to_numpy().astype(np.int64)
            for lo in range(0, len(ids_all), 4096):
                V = V_all[lo : lo + 4096]
                ids = ids_all[lo : lo + 4096]
                sigs = sigs_all[lo : lo + 4096]
                cblocks = np.stack(
                    [(sigs >> (b * rows_per_band)) & block_mask for b in range(bands)],
                    axis=1,
                )  # n × bands
                collide = (cblocks[:, None, :] == qblocks[None, :, :]).any(axis=2)
                collide &= ids[:, None] != qids[None, :]
                if not collide.any():
                    continue
                cn_f = (V * V).sum(axis=1)
                S = _safe_cos_np(V @ QT, cn_f, qn_f)
                S[~collide] = -np.inf
                ci, qj = _kept_candidates(S, k, margin)
                keep = collide[ci, qj] & np.isfinite(S[ci, qj])
                ci, qj = ci[keep], qj[keep]
                if len(ci) == 0:
                    continue
                yield pd.DataFrame({"query_id": qids[qj], "neighbor_id": ids[ci]})

    csig = plane_signatures(corpus, planes, id_col=id_col, vec_col=vec_col)
    cveced = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).join(csig.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
    cand = cveced.mapInPandas(_cand_batches, cand_schema)
    return _confirm_topk_jvm(corpus, queries, cand, k, id_col, vec_col)


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 32,
    bands: int = 4,
    seed: int = 42,
    max_bucket: int = 2000,
    two_phase: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: candidates via random-hyperplane
    banding (pairs must agree on ≥1 of ``bands`` signature blocks), then
    exact cosine ≥ threshold within candidates.

    ``two_phase=True`` prunes each LSH bucket with the
    ``semantic_dedup_pairs`` kernel shape: one applyInPandas per
    (band, block) bucket does a V·Vᵀ float matmul and keeps pairs with
    float cosine ≥ threshold − 1e-6 (provably lossless vs the grid —
    deviation ≤ ~1e-12); the exact grid cosine then re-scores only the
    deduplicated survivors, so emitted values are bit-identical to the
    single-phase plan (kept as ``two_phase=False``, parity-pinned). The
    bucket-collision pair grid is ~n²·bands/2^block_bits — paying the
    interpreted-HOF cosine there was the last >2s HOF hot spot on the
    bench; the matmul is milliseconds and Arrow transfer is O(n·bands)
    vectors, never O(pairs). Oversized buckets (> ``max_bucket``, a
    degenerate band hash at scale) are dropped inside the kernel —
    exactly ``candidate_pairs_in_buckets``'s enforced skew guard.
    Default single-phase: MEASURED at sf0.1 (8-bit blocks keep the pair
    grid ~100k) two-phase is slower (3.0s vs 2.4s) — below the ~1M-pair
    crossover the applyInPandas stage's fixed cost outweighs the HOF
    saving; flip it for denser buckets or bigger corpora.

    Single-phase plan shape: in-bucket pair enumeration and pair dedup
    run over bare (id, band, block) rows — vectors and norms join back
    onto the deduplicated pair list, so the widest shuffle carries
    16-byte rows, not embeddings. 8-bit blocks (32 planes / 4 bands)
    keep bucket occupancy, and thus candidate count, ~16× below 4-bit
    blocks; recall for true near-dups (cos ≥ 0.95) stays ≈ 90%, with
    brute_force_topk as the exact baseline.
    """
    planes = random_planes(dim=dim, n_planes=n_planes, seed=seed)
    rows_per_band = n_planes // bands
    sig_df = plane_signatures(corpus, planes, id_col=id_col, vec_col=vec_col)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("sig"), i * rows_per_band)
                .bitwiseAND(F.lit((1 << rows_per_band) - 1))
                .alias("block"),
            )
            for i in range(bands)
        ]
    )
    banded = sig_df.select("id", F.explode(band_arr).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.block").alias("block")
    )
    vecs = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("norm"),
    )
    if two_phase:
        from pyspark.sql import types as T

        margin = 1e-6
        pair_schema = T.StructType(
            [
                T.StructField("id_a", T.LongType(), False),
                T.StructField("id_b", T.LongType(), False),
            ]
        )

        def _bucket_pairs(key, pdf):
            n = len(pdf)
            if n < 2 or n > max_bucket:
                return pd.DataFrame({"id_a": [], "id_b": []}).astype(np.int64)
            V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            ids = pdf["id"].to_numpy().astype(np.int64)
            nrm = (V * V).sum(axis=1)
            C = _safe_cos_np(V @ V.T, nrm, nrm)
            iu = np.triu_indices(n, k=1)
            vals = C[iu]
            keep = np.isfinite(vals) & (vals >= threshold - margin)
            a, b = ids[iu[0][keep]], ids[iu[1][keep]]
            return pd.DataFrame(
                {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)}
            )

        cand_pairs = (
            banded.join(vecs.withColumnRenamed("vid", "id"), "id")
            .groupBy("band", "block")
            .applyInPandas(_bucket_pairs, pair_schema)
            .distinct()
        )
    else:
        from securities_pricing_data_pipeline_spark.llmdata.dedup import (
            candidate_pairs_in_buckets,
        )

        cand_pairs = candidate_pairs_in_buckets(
            banded, ["band", "block"], max_bucket=max_bucket
        )
    cand = (
        cand_pairs.join(
            vecs.select(F.col("vid"), F.col("vec").alias("vec_a"), F.col("norm").alias("norm_a")),
            F.col("id_a") == F.col("vid"),
        )
        .drop("vid")
        .join(
            vecs.select(F.col("vid"), F.col("vec").alias("vec_b"), F.col("norm").alias("norm_b")),
            F.col("id_b") == F.col("vid"),
        )
        .drop("vid")
    )
    return (
        cand.withColumn(
            "cos_sim",
            cosine_with_norms(F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b")),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def nearest_centroid(
    c: DataFrame,
    centroids: DataFrame,
    collect_limit: int = 65536,
) -> DataFrame:
    """Exact nearest-centroid assignment ``(id, centroid_id)`` shared by
    SemDeDup clustering, IVF list building, and the k-means iteration —
    argmax over grid cosine with the (cos DESC, centroid_id ASC)
    tie-break, identical to a full JVM pass.

    ``c`` must have columns (id, vec, norm) with ``norm = norm_grid(vec)``;
    ``centroids`` must have (centroid_id, cent_vec, cent_norm).

    Two-phase (the ``semantic_dedup_pairs`` discipline, factored out in
    round 7 so every k·n assignment in the repo shares it): when the
    centroid matrix is collectable (k ≤ ``collect_limit`` — SemDeDup/IVF's
    k ≪ n), a pandas_udf computes FLOAT cosines to every centroid with one
    V·Cᵀ matmul per Arrow batch and emits the centroid ids within 1e-6 of
    the row max — the true grid argmax is provably among them (grid vs
    float cosine deviate ≤ ~1e-12, so the margin can never exclude it;
    usually the list is a single id). Phase 2 evaluates the exact grid
    cosine ONLY for those candidate (vector, centroid) rows JVM-side and
    ``max_by`` over (cos, -centroid_id) picks the final cluster. The JVM
    broadcast-join full pass remains the fallback for web-scale centroid
    sets.

    Scale shape: phase 1 is map-side only (no shuffle; Arrow transfer is
    O(n·dim) in, O(n·|candidates|) ids out); the max_by aggregate
    partially aggregates map-side, so the one shuffle carries (id,
    max_by-state) narrow rows — never vectors, never the k·n expansion
    the single-phase window plan pays."""
    cent_rows = None
    try:
        cent_rows = (
            centroids.select("centroid_id", "cent_vec", "cent_norm")
            .limit(collect_limit + 1)
            .collect()
        )
        if len(cent_rows) > collect_limit:
            cent_rows = None
    except Exception:  # noqa: BLE001 — any collect surprise → JVM path
        cent_rows = None

    if cent_rows:
        from pyspark.sql.functions import pandas_udf

        C = np.stack([np.asarray(r["cent_vec"], dtype=np.float64) for r in cent_rows])
        cids = np.array([r["centroid_id"] for r in cent_rows], dtype=np.int64)
        cnorms = np.array([r["cent_norm"] for r in cent_rows], dtype=np.float64)

        all_cids = cids.tolist()

        @pandas_udf("array<long>")
        def _cand_np(vecs: pd.Series) -> pd.Series:
            V = np.stack(vecs.to_numpy()).astype(np.float64)
            cos = (V @ C.T) * _SCALE / np.sqrt(
                np.outer((V * V).sum(axis=1) * _SCALE, cnorms)
            )
            mx = cos.max(axis=1, keepdims=True)
            out = []
            for row, m in zip(cos, mx):
                idx = np.nonzero(row >= m - 1e-6)[0]
                # zero-norm vectors (or zero-norm centroids) yield NaN
                # cosines, which compare False everywhere → an empty
                # candidate list would silently DROP the id at explode().
                # Fall back to all centroids so phase 2 decides exactly
                # as the JVM full-pass path would (ADVICE r7 item).
                out.append(cids[idx].tolist() if idx.size else all_cids)
            return pd.Series(out)

        cand_assign = c.select(
            "id", "vec", "norm", F.explode(_cand_np(F.col("vec"))).alias("centroid_id")
        ).join(F.broadcast(centroids), "centroid_id")
    else:
        cand_assign = c.join(F.broadcast(centroids))
    return (
        cand_assign.withColumn(
            "cent_cos",
            cosine_with_norms(
                F.col("vec"), F.col("cent_vec"), F.col("norm"), F.col("cent_norm")
            ),
        )
        .groupBy("id")
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("cent_cos"), -F.col("centroid_id"))
            ).alias("centroid_id")
        )
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    max_cluster: int = 2000,
    observation=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then prune only
    WITHIN clusters — pairs in different clusters are never compared, so
    the quadratic cost is bounded per cluster instead of corpus-wide.

    Returns (cluster_id, id_a, id_b, cos_sim) for in-cluster pairs with
    exact cosine ≥ threshold; the caller's keep-rule (SemDeDup keeps the
    member farthest from the centroid; min-id is the reproducible
    default) collapses pairs via the existing ``connected_components``
    machinery.

    Centroids default to the ``n_centroids`` lowest-id vectors —
    deterministic and SQL-expressible, so the DuckDB oracle replicates
    assignment exactly; pass ``centroids=kmeans_centroids(...)`` for
    trained clusters at deploy time (better balance, same plan shape).

    Scale shape: centroids broadcast → assignment is one map-side pass;
    the corpus shuffles ONCE on cluster id as bare (id, cluster) rows;
    in-cluster pairs come from a cluster-keyed self-join gated by the
    ENFORCED ``max_cluster`` cap (an over-full cluster means k is too
    small for the corpus — grow k rather than pay k²);
    embeddings join back onto the deduplicated pair list only. This is
    the documented SemDeDup cost model: n/k-bounded quadratic work per
    cluster, linear everything else.

    The cap is NOT silent: pass a pyspark ``Observation`` as
    ``observation`` to read ``dropped_clusters`` / ``dropped_vectors``
    (rides the normal action via ``df.observe``, no extra job — the
    ``ngram_jaccard_pairs`` pattern). A nonzero count means recall is
    collapsing because k is undersized for the corpus: scale
    ``n_centroids`` (or pass trained ``kmeans_centroids``) until it
    reads 0."""
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("cent_vec"),
            norm_grid(F.col(vec_col)).alias("cent_norm"),
        )
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("norm"),
    )
    # Assignment via the shared two-phase kernel (numpy float prefilter
    # per Arrow batch, exact grid-cosine confirm JVM-side — see
    # nearest_centroid). Cuts the k·n interpreted-lambda cosine pass
    # (10.6s of the 100k×256 probe) to one BLAS matmul + an O(n)-row
    # exact verify (~1.5s).
    assigned = (
        nearest_centroid(c, centroids)
        # the cluster map is consumed three times below (size gate + both
        # self-join sides); it is (id, cluster) rows — 16 bytes × corpus —
        # and the assignment above it is the k·n cosine pass, so pin it
        # once rather than recompute the expensive parent per consumer
        .localCheckpoint(eager=True)
    )
    # Two-phase in-cluster prune. Phase 1 is a per-cluster numpy kernel
    # (applyInPandas): one V·Vᵀ BLAS matmul per cluster finds candidate
    # pairs with FLOAT cosine ≥ threshold − 1e-6. The margin makes the
    # prefilter provably lossless (grid vs float cosine deviate ≤ ~1e-12:
    # ≤0.5 grid units/element, dim-bounded over O(1e13)-unit norms), and
    # a float-only filter has no oracle-parity obligation. Dense pairwise
    # similarity is the one shape Spark's higher-order functions can't
    # express efficiently — the expression form pays ~100ns/element of
    # interpreted-lambda overhead (measured 30s+ for 22M pairs × dim 16
    # at the 100k×256 probe; the matmul is milliseconds), the same
    # rationale as plane_signatures. Arrow transfer is O(n·dim) vectors,
    # never O(pairs). Phase 2 re-verifies the ~0.1% survivors with the
    # exact grid cosine JVM-side, so emitted values stay bit-identical
    # to the single-phase plan. Memory: one max_cluster² float block per
    # task (2000² = 32 MB) — the cap is also the kernel's memory bound.
    from pyspark.sql import types as T

    sizes = assigned.groupBy("centroid_id").agg(F.count("*").alias("csz"))
    if observation is not None:
        sizes = sizes.observe(
            observation,
            F.coalesce(
                F.sum((F.col("csz") > max_cluster).cast("long")), F.lit(0)
            ).alias("dropped_clusters"),
            F.coalesce(
                F.sum(F.when(F.col("csz") > max_cluster, F.col("csz"))), F.lit(0)
            ).alias("dropped_vectors"),
        )
    ok = sizes.filter(
        (F.col("csz") >= 2) & (F.col("csz") <= max_cluster)
    ).select("centroid_id")
    vecs = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        norm_grid(F.col(vec_col)).alias("nrm"),
    )
    mem_vec = (
        assigned.join(F.broadcast(ok), "centroid_id")
        .join(vecs, F.col("id") == F.col("vid"))
        .select("centroid_id", "id", "v", "nrm")
    )
    margin = 1e-6
    pair_schema = T.StructType(
        [
            T.StructField("centroid_id", T.LongType(), False),
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
        ]
    )

    def _pairs_np(key, pdf):
        import numpy as np
        import pandas as pd

        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        ids = pdf["id"].to_numpy()
        norms = pdf["nrm"].to_numpy().astype(np.float64)
        C = _safe_cos_np((V @ V.T) * _SCALE, norms, norms)
        iu = np.triu_indices(len(ids), k=1)
        keep = C[iu] >= (threshold - margin)
        a, b = ids[iu[0][keep]], ids[iu[1][keep]]
        return pd.DataFrame(
            {
                "centroid_id": np.full(len(a), key[0], dtype=np.int64),
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
            }
        )

    cand_pairs = mem_vec.groupBy("centroid_id").applyInPandas(_pairs_np, pair_schema)
    cand = (
        cand_pairs.join(
            vecs.select(
                F.col("vid"), F.col("v").alias("vec_a"), F.col("nrm").alias("norm_a")
            ),
            F.col("id_a") == F.col("vid"),
        )
        .drop("vid")
        .join(
            vecs.select(
                F.col("vid"), F.col("v").alias("vec_b"), F.col("nrm").alias("norm_b")
            ),
            F.col("id_b") == F.col("vid"),
        )
        .drop("vid")
    )
    return (
        cand.withColumn(
            "cos_sim",
            cosine_with_norms(
                F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b")
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("centroid_id").alias("cluster_id"), "id_a", "id_b", "cos_sim")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means over cosine assignment, producing a
    centroid frame for ``ivf_topk(..., centroids=...)``.

    Init: the ``n_centroids`` lowest-id vectors (reproducible across
    runs/retries — never sample). Each iteration is one distributed pass:
    broadcast the k current centroids, assign every vector to its best
    centroid by cosine, recompute per-cluster elementwise means via
    posexplode + one hash-aggregate keyed (cluster, pos). Only the k×dim
    centroid matrix is collected per iteration (k·dim doubles — a
    metrics-sized collect), so the loop is iterative-driver /
    distributed-data: the classic Spark k-means shape. Empty clusters
    keep their previous centroid.
    """
    cur = [
        (int(r["centroid_id"]), [float(x) for x in r["cent_vec"]])
        for r in corpus.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cent_vec"))
        .collect()
    ]
    spark = corpus.sparkSession
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("norm"),
    )
    for _ in range(iters):
        cent_df = spark.createDataFrame(
            cur, "centroid_id int, cent_vec array<double>"
        ).withColumn("cent_norm", norm_grid(F.col("cent_vec")))
        # per-iteration assignment via the shared two-phase kernel (see
        # nearest_centroid) — same argmax/tie-break as the old window
        # plan, one matmul instead of a k·n HOF pass
        assigned = (
            nearest_centroid(c, cent_df)
            .join(c, "id")
            .select("centroid_id", "vec")
        )
        means = (
            assigned.select("centroid_id", F.posexplode("vec").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("centroid_id", F.transform("pm", lambda s: s["m"]).alias("cent_vec"))
        )
        got = {int(r["centroid_id"]): [float(x) for x in r["cent_vec"]] for r in means.collect()}
        cur = [(cid, got.get(cid, vec)) for cid, vec in cur]
    return (
        spark.createDataFrame(cur, "centroid_id int, cent_vec array<double>")
        .withColumn("cent_norm", norm_grid(F.col("cent_vec")))
    )


def _ivf_parts(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    nprobe: int,
    centroids: DataFrame | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared IVF structure build — ``(centroids, assigned, probes)`` —
    factored out of :func:`ivf_topk` (r14) so the nprobe TUNING SWEEP can
    reuse ONE corpus assignment + ONE probe ranking across all its
    nprobe levels instead of paying the full IVF pipeline per level
    (guide §2.4: remove repeated shuffles outright; the r14 plan audit
    showed the 5-level sweep at 120 Exchanges / 10 ArrowEvalPython — 5
    identical assignments).

    ``probes`` keeps the 1-based probe rank as ``probe_rn`` (ordered
    cent_cos DESC, centroid_id ASC — the exact ivf_topk probe order);
    filtering ``probe_rn <= nprobe`` reproduces ivf_topk's probed-list
    set for that nprobe bit-identically, which is what makes the shared
    sweep provably equivalent to per-level retrievals.

    Inverted-list assignment: best centroid per corpus vector, via the
    shared two-phase kernel (numpy float prefilter, exact grid confirm;
    see nearest_centroid) — one map-side matmul + a narrow-row shuffle,
    replacing the k·n HOF-cosine expansion the window plan paid. The
    vectors rejoin the (id, centroid_id) map on id: a hash join of
    n narrow rows against the corpus scan, never n·k vector rows."""
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("cent_vec"),
            norm_grid(F.col(vec_col)).alias("cent_norm"),
        )
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("norm"),
    )
    assigned = (
        nearest_centroid(c, centroids)
        .join(c, "id")
        .select(
            F.col("id").alias("neighbor_id"),
            F.col("vec").alias("c_vec"),
            F.col("norm").alias("c_norm"),
            "centroid_id",
        )
    )
    # probe lists: nprobe best centroids per query
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_grid(F.col(vec_col)).alias("q_norm"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cent_cos"), F.asc("centroid_id"))
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn(
            "cent_cos",
            cosine_with_norms(
                F.col("q_vec"), F.col("cent_vec"), F.col("q_norm"), F.col("cent_norm")
            ),
        )
        .withColumn("probe_rn", F.row_number().over(w_probe))
        .filter(F.col("probe_rn") <= nprobe)
        .select("query_id", "q_vec", "q_norm", "centroid_id", "probe_rn")
    )
    return centroids, assigned, probes


def ivf_sweep_scored(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe_max: int = 16,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """ALL scored IVF candidates up to ``nprobe_max`` probed lists, with
    the probe rank attached: ``(query_id, neighbor_id, cos_sim,
    probe_rn)``. For any nprobe ≤ nprobe_max, the rows with
    ``probe_rn <= nprobe`` are EXACTLY the scored candidate set of
    ``ivf_topk(..., nprobe=nprobe)`` (same assignment, same probe order,
    same exact grid cosine, same self-exclusion) — the nested-lists
    property every IVF tuning sweep exploits: one pass at nprobe_max
    subsumes every smaller operating point. Cost: one corpus assignment
    + one scoring join, vs one full IVF pipeline PER LEVEL."""
    _, assigned, probes = _ivf_parts(
        corpus, queries, id_col, vec_col, n_centroids, nprobe_max, centroids
    )
    return (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos_sim"),
            "probe_rn",
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
    two_phase: bool = False,
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into inverted
    lists by nearest centroid, probe only the ``nprobe`` lists closest to
    each query, rank candidates by exact cosine.

    Centroid selection defaults to deterministic (the ``n_centroids``
    lowest-id vectors) so results are reproducible and oracle-checkable;
    pass ``centroids=kmeans_centroids(...)`` for trained lists (better
    recall, still deterministic, but iterative → not SQL-expressible).
    Centroids are broadcast — the corpus is scanned once for assignment
    and shuffles once on centroid_id, which is the IVF scale contract
    (cost ∝ probed lists).

    ``two_phase=True`` replaces the in-list interpreted-HOF cosine —
    nprobe/n_centroids of the full n·m pair grid — with the shared
    numpy discipline: the probe table (computed JVM-side with the exact
    grid cosine, so the probed-list set is bit-identical) is collected
    with the query matrix, one Arrow pass over the assigned corpus
    masks rows to each query's probed lists, scores them in one float
    matmul, keeps the per-query k-th margin superset, and the JVM
    re-scores only the survivors exactly (parity-pinned, identical
    output). Default single-phase: at the sf0.1 bench (~250k in-list
    pairs) two-phase measured slower (2.5s vs 1.7s — Python-stage fixed
    cost exceeds the ~1s HOF saving); flip it past the ~1M-pair
    crossover."""
    centroids, assigned, probes = _ivf_parts(
        corpus, queries, id_col, vec_col, n_centroids, nprobe, centroids
    )
    if two_phase:
        return _ivf_topk_np(
            assigned.select("neighbor_id", "c_vec", "centroid_id"),
            corpus,
            queries,
            probes.select("query_id", "centroid_id"),
            k,
            id_col,
            vec_col,
        )
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def _ivf_topk_np(
    assigned: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Two-phase IVF list scoring (see ``ivf_topk``): rows are masked to
    each query's probed lists (the probe table itself was computed with
    the exact grid cosine JVM-side, so the candidate set is identical),
    scored with one float matmul under the per-query k-th margin, and
    exactly re-scored JVM-side."""
    from pyspark.sql import types as T

    qside = _collect_query_side(queries, id_col, vec_col)
    if qside is None:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int"
        )
    qids, Q, qn_f = qside
    QT = Q.T
    probe_rows = probes.collect()
    q_index = {int(q): j for j, q in enumerate(qids)}
    cent_ids = sorted({int(r["centroid_id"]) for r in probe_rows})
    c_index = {c: i for i, c in enumerate(cent_ids)}
    allowed = np.zeros((len(cent_ids), len(qids)), dtype=bool)  # centroid × query
    for r in probe_rows:
        allowed[c_index[int(r["centroid_id"])], q_index[int(r["query_id"])]] = True
    margin = 1e-6
    cand_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
        ]
    )

    def _cand_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V_all = np.stack(pdf["c_vec"].to_numpy()).astype(np.float64)
            ids_all = pdf["neighbor_id"].to_numpy().astype(np.int64)
            cents_all = pdf["centroid_id"].to_numpy()
            ci_all = np.array(
                [c_index.get(int(c), -1) for c in cents_all], dtype=np.int64
            )
            for lo in range(0, len(ids_all), 4096):
                V = V_all[lo : lo + 4096]
                ids = ids_all[lo : lo + 4096]
                cidx = ci_all[lo : lo + 4096]
                in_probed = cidx >= 0
                mask = np.zeros((len(ids), len(qids)), dtype=bool)
                if in_probed.any():
                    mask[in_probed] = allowed[cidx[in_probed]]
                mask &= ids[:, None] != qids[None, :]
                if not mask.any():
                    continue
                cn_f = (V * V).sum(axis=1)
                S = _safe_cos_np(V @ QT, cn_f, qn_f)
                S[~mask] = -np.inf
                ri, qj = _kept_candidates(S, k, margin)
                keep = mask[ri, qj] & np.isfinite(S[ri, qj])
                ri, qj = ri[keep], qj[keep]
                if len(ri) == 0:
                    continue
                yield pd.DataFrame({"query_id": qids[qj], "neighbor_id": ids[ri]})

    cand = assigned.mapInPandas(_cand_batches, cand_schema)
    return _confirm_topk_jvm(corpus, queries, cand, k, id_col, vec_col)


def _pq_slices(vec_col: str, n_sub: int, sub: int, prefix: str):
    """Explode a ``dim``-vector into ``n_sub`` contiguous ``sub``-wide
    slices as ``(m, <prefix>)`` rows — the shared decomposition under
    every PQ step (codebook build, code assignment, ADC tables)."""
    return F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice(F.col(vec_col).cast("array<double>"), m * sub + 1, sub).alias(prefix),
                )
                for m in range(n_sub)
            ]
        )
    )


def _pq_dist_units(a: str, b: str) -> Column:
    """Squared-L2 between two slice columns folded on the 1e-13 integer
    grid — exact longs, so argmin/sum ties can never flip between
    engines."""
    d = F.zip_with(
        F.col(a),
        F.col(b),
        lambda x, y: F.round((x - y) * (x - y) * F.lit(_SCALE)).cast("long"),
    )
    return F.aggregate(d, F.lit(0).cast("long"), lambda acc, p: acc + p)


def _pq_codebook(
    corpus: DataFrame, id_col: str, vec_col: str, n_sub: int, sub: int, n_codes: int
) -> DataFrame:
    """Per-subspace codebook ``(cid, m, cvec)``: the slices of the
    ``n_codes`` lowest-id vectors (the reproducible-init convention shared
    with ``ivf_topk`` / ``kmeans_centroids``)."""
    return (
        corpus.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("cid"), vec_col)
        .select("cid", _pq_slices(vec_col, n_sub, sub, "cvec"))
    )


def pq_assignments(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 20,
    n_sub: int = 4,
    n_codes: int = 16,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Nearest-codeword assignment per (vector, subspace): one row per
    ``(id, m)`` with ``best.cid`` / ``best.dist_units`` — the shared core
    of :func:`pq_codes` (code strings) and :func:`pq_adc_topk` (compressed
    scan). Codebook broadcasts; slices join map-side; the argmin
    aggregate shuffles only narrow ``(id, m, dist, cid)`` rows."""
    sub = dim // n_sub
    if codebook is None:  # pass one to train on a different frame (residual PQ)
        codebook = _pq_codebook(corpus, id_col, vec_col, n_sub, sub, n_codes)
    sliced = corpus.select(F.col(id_col), _pq_slices(vec_col, n_sub, sub, "sub"))
    return (
        sliced.join(F.broadcast(codebook), "m")
        .select(id_col, "m", _pq_dist_units("sub", "cvec").alias("dist_units"), "cid")
        .groupBy(id_col, "m")
        .agg(F.min(F.struct("dist_units", "cid")).alias("best"))
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 20,
    n_sub: int = 4,
    n_codes: int = 16,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the scan an IVF-PQ
    index actually executes at retrieval time (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): each query
    precomputes an ``n_sub × n_codes`` table of exact slice distances to
    every codeword, then every corpus vector is scored by summing ``n_sub``
    table lookups over its code ids — the raw floats are never touched.

    Distance semantics: approximate squared L2 ``d(q, code(x))`` on the
    1e-13 integer grid (exact longs end-to-end; ties break to the lowest
    neighbor id), so the result is deterministic and oracle-reproducible.

    Scale posture — this is the 100 TB retrieval path: the corpus side
    carries only ``(id, m, cid)`` code rows (n_sub bytes/vector in a real
    index vs dim·4 raw); the ADC tables (queries × n_sub × n_codes longs)
    broadcast; scoring is a map-side lookup join + one hash aggregate on
    ``(query_id, id)`` partial-summed map-side. No pairwise float math,
    no raw-vector shuffle. Recall is the PQ approximation's; rerank the
    top candidates against raw vectors (as ``ivf_topk`` does) when exact
    order matters.
    """
    sub = dim // n_sub
    codebook = _pq_codebook(corpus, id_col, vec_col, n_sub, sub, n_codes)
    assigned = pq_assignments(corpus, id_col, vec_col, dim, n_sub, n_codes).select(
        F.col(id_col).alias("neighbor_id"), "m", F.col("best.cid").alias("cid")
    )
    q_sliced = queries.select(
        F.col(id_col).alias("query_id"), _pq_slices(vec_col, n_sub, sub, "qv")
    )
    adc = (
        q_sliced.join(F.broadcast(codebook), "m")
        .select("query_id", "m", "cid", _pq_dist_units("qv", "cvec").alias("units"))
    )
    scored = (
        assigned.join(F.broadcast(adc), ["m", "cid"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("units").alias("total_units"))
    )
    w = Window.partitionBy("query_id").orderBy("total_units", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("total_units").cast("double") / F.lit(_SCALE)).alias("adc_dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def pq_codes(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 20,
    n_sub: int = 4,
    n_codes: int = 16,
) -> DataFrame:
    """Product-quantization codes: split each vector into ``n_sub``
    contiguous subvectors and replace each with the id of its nearest
    codeword — the standard ANN compression step (an IVF-PQ index stores
    these codes instead of raw floats, ~dim·4/n_sub bytes → n_sub bytes).

    Codebook: per subspace, the slices of the ``n_codes`` lowest-id
    vectors (the same reproducible-init convention as ``ivf_topk`` /
    ``kmeans_centroids`` — swap in trained centroids for production
    recall). Assignment distance is squared L2 folded on the 1e-13
    integer grid, so the argmin compares exact longs and can never flip
    between engines; ties break to the lowest codeword id.

    Scale posture: the codebook (n_sub·n_codes rows) broadcasts; each
    vector expands to n_sub slice rows joined map-side; the argmin
    aggregate shuffles on (vec_id, m) and the code assembly on vec_id —
    two exchanges total, both carrying only (id, m, code, dist) narrow
    rows. No pairwise blowup anywhere.
    """
    best = pq_assignments(corpus, id_col, vec_col, dim, n_sub, n_codes)
    return (
        best.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("m", F.col("best")))).alias("parts"))
        .select(
            id_col,
            F.concat_ws(
                "-", F.transform("parts", lambda s: s["best"]["cid"].cast("string"))
            ).alias("pq_code"),
            (
                F.aggregate(
                    "parts", F.lit(0).cast("long"), lambda acc, s: acc + s["best"]["dist_units"]
                ).cast("double")
                / F.lit(_SCALE)
            ).alias("qerr"),
        )
    )


def mmr_select(
    slim: DataFrame,
    pairs: DataFrame,
    k: int = 3,
    lam: float = 0.5,
) -> DataFrame:
    """Greedy Maximal Marginal Relevance selection (Carbonell &
    Goldstein 1998) over a per-query candidate set, k steps UNROLLED
    into windows + broadcast joins (the BPE-merge / Hilbert-automaton
    fixed-unroll discipline — the greedy recursion is not
    window-expressible, but k is a small serving constant).

    Inputs: ``slim`` = (query_id, cid, rel) candidates; ``pairs`` =
    (query_id, ci, cj, sim) pairwise candidate sims (both already
    materialized by the caller — they feed every step). Step score is
    ``lam·rel − (1−lam)·max_{s∈selected} sim``; ties break (score DESC,
    cid). ``lam`` must be an exact binary fraction (0.5, 0.25, …) or
    engine/oracle float literals diverge. Returns one row per selection:
    (query_id, cid, rel, max_sim, score, mmr_rank), rank 1 = pure
    relevance (max_sim = 0.0 by convention).

    Scale shape: every frame is candidate-set-sized (n_queries × c), the
    windows are per-query, the per-step joins are broadcast-hinted
    (pinned inputs are LogicalRDDs with unknown stats — without hints
    they plan as SMJs). Cost is k × (3 joins + 1 window) over those
    rows: linear in n_queries with NO driver involvement (probed at 100k
    queries — SCALE_PROBE.md mmr_100k). Crossover note: past k ≈ 15-20
    selections the k-fold plan repetition beats the ~0.5s fixed cost of
    ONE Arrow stage — flip to a per-query applyInPandas greedy kernel
    (each query's candidate list is tiny and independent), the same
    measured-crossover rule as the numpy-vs-HOF cosine kernels."""
    lam_c, inv_c = F.lit(lam), F.lit(1.0 - lam)
    w_rel = Window.partitionBy("query_id").orderBy(F.desc("rel"), "cid")
    s1 = (
        slim.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "cid",
            "rel",
            F.lit(0.0).alias("max_sim"),
            (lam_c * F.col("rel") - inv_c * F.lit(0.0)).alias("score"),
            F.lit(1).cast("int").alias("mmr_rank"),
        )
    )
    out = s1
    sel_ids = s1.select("query_id", "cid")
    for rank in range(2, k + 1):
        rem = slim.join(F.broadcast(sel_ids), ["query_id", "cid"], "left_anti")
        ms = (
            pairs.join(
                F.broadcast(sel_ids.withColumnRenamed("cid", "cj")),
                ["query_id", "cj"],
            )
            .groupBy("query_id", "ci")
            .agg(F.max("sim").alias("max_sim"))
        )
        scored = rem.join(
            F.broadcast(ms), (rem.query_id == ms.query_id) & (rem.cid == ms.ci)
        ).select(
            rem.query_id.alias("query_id"),
            "cid",
            "rel",
            "max_sim",
            (lam_c * F.col("rel") - inv_c * F.col("max_sim")).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), "cid")
        step = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "cid",
                "rel",
                "max_sim",
                "score",
                F.lit(rank).cast("int").alias("mmr_rank"),
            )
        )
        out = out.unionByName(step)
        sel_ids = sel_ids.unionByName(step.select("query_id", "cid"))
    return out


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 20,
    n_sub: int = 4,
    n_codes: int = 16,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ retrieval — the composed index structure production ANN
    actually deploys (Jégou et al. 2011 §V; Faiss ``IVFPQ`` with
    ``by_residual=False``): a coarse quantizer restricts each query to
    ``nprobe`` inverted lists, and candidates inside those lists are
    scored by the ADC table-lookup scan over their PQ codes — raw
    vectors are touched by NEITHER stage at query time. Composes the
    repo's two existing kernels: the IVF coarse assignment/probing
    (``ivf_topk``'s deterministic lowest-id centroids, exact grid-cosine
    probe ranking) and the PQ codebook/ADC machinery (``pq_adc_topk``).

    Scale posture — the 100 TB serving shape: per query the scan cost is
    nprobe/n_centroids of the corpus, and each scanned vector costs
    ``n_sub`` integer table lookups on (m, cid) code rows (n_sub bytes a
    vector, not dim·4 floats); the ADC tables and probe lists broadcast;
    the only corpus-sized exchange is the one-time list build. Recall
    compounds the IVF probe miss and the PQ approximation — audit with
    ``sim_pq_adc_recall``'s pattern and re-rank survivors on raw vectors
    when exact order matters.

    Exactness: probe ranking uses the exact grid cosine and ADC
    distances are 1e-13-grid integer sums, so the whole result is
    bit-reproducible in DuckDB."""
    sub = dim // n_sub
    cents = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        norm_grid(F.col(vec_col)).alias("cent_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("norm"),
    )
    coarse = nearest_centroid(c, cents)  # (id, centroid_id)
    codebook = _pq_codebook(corpus, id_col, vec_col, n_sub, sub, n_codes)
    codes = (
        pq_assignments(corpus, id_col, vec_col, dim, n_sub, n_codes)
        .select(F.col(id_col).alias("neighbor_id"), "m", F.col("best.cid").alias("cid"))
        .join(
            coarse.select(F.col("id").alias("neighbor_id"), "centroid_id"),
            "neighbor_id",
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_grid(F.col(vec_col)).alias("q_norm"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("cent_cos"), F.asc("centroid_id")
    )
    probes = (
        q.join(F.broadcast(cents))
        .withColumn(
            "cent_cos",
            cosine_with_norms(
                F.col("q_vec"), F.col("cent_vec"), F.col("q_norm"), F.col("cent_norm")
            ),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "centroid_id")
    )
    adc = (
        queries.select(
            F.col(id_col).alias("query_id"), _pq_slices(vec_col, n_sub, sub, "qv")
        )
        .join(F.broadcast(codebook), "m")
        .select("query_id", "m", "cid", _pq_dist_units("qv", "cvec").alias("units"))
    )
    scored = (
        codes.join(F.broadcast(probes), "centroid_id")
        .join(F.broadcast(adc), ["query_id", "m", "cid"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("units").alias("total_units"))
    )
    w = Window.partitionBy("query_id").orderBy("total_units", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("total_units").cast("double") / F.lit(_SCALE)).alias("adc_dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 20,
    n_sub: int = 4,
    n_codes: int = 16,
    n_centroids: int = 16,
    nprobe: int = 4,
    cb_lo: int = 16,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the Faiss default
    (``IVFPQ by_residual=True``; Jégou et al. 2011 §V.B): PQ quantizes
    r = x − c(x) (the vector's offset from its coarse centroid), which
    concentrates the quantized distribution near the origin and is why
    residual IVFPQ beats the plain variant at equal code budget. At
    query time each probed list gets its OWN ADC table over
    q − c_list — the per-(query, list) table build is the price of
    residual encoding, bounded by nprobe × n_sub × n_codes tiny rows per
    query. Codebook: residual slices of ids [cb_lo, cb_lo + n_codes)
    (ids < n_centroids are the centroids themselves — their residuals
    are ~0 and would degenerate the codebook; same reproducible-init
    spirit as the lowest-id conventions elsewhere).

    Scale: identical to ``ivfpq_topk`` — one corpus-sized list build +
    residual projection, code rows thereafter; ADC tables and probe
    lists broadcast. All distances on the 1e-13 integer grid; residual
    components are single exact IEEE subtractions — bit-reproducible."""
    sub = dim // n_sub
    cents = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        norm_grid(F.col(vec_col)).alias("cent_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("norm"),
    )
    coarse = nearest_centroid(c, cents)  # (id, centroid_id)
    resid = (
        c.join(coarse, "id")
        .join(F.broadcast(cents.select("centroid_id", "cent_vec")), "centroid_id")
        .select(
            "id",
            "centroid_id",
            # cast BEFORE subtracting: the source arrays are float32, and
            # a float subtraction then widened differs from the oracle's
            # double subtraction in the last ~8 digits
            F.zip_with(
                F.col("vec").cast("array<double>"),
                F.col("cent_vec").cast("array<double>"),
                lambda a, b: a - b,
            ).alias("rvec"),
        )
        .localCheckpoint(eager=True)  # codebook + code assignment both read it
    )
    cb_frame = resid.filter(
        (F.col("id") >= cb_lo) & (F.col("id") < cb_lo + n_codes)
    ).select((F.col("id") - cb_lo).alias("rid"), "rvec")
    codebook = _pq_codebook(cb_frame, "rid", "rvec", n_sub, sub, n_codes)
    codes = (
        pq_assignments(resid, "id", "rvec", dim, n_sub, n_codes, codebook=codebook)
        .select(F.col("id").alias("neighbor_id"), "m", F.col("best.cid").alias("cid"))
        .join(
            resid.select(F.col("id").alias("neighbor_id"), "centroid_id"),
            "neighbor_id",
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_grid(F.col(vec_col)).alias("q_norm"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("cent_cos"), F.asc("centroid_id")
    )
    probes = (
        q.join(F.broadcast(cents))
        .withColumn(
            "cent_cos",
            cosine_with_norms(
                F.col("q_vec"), F.col("cent_vec"), F.col("q_norm"), F.col("cent_norm")
            ),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select(
            "query_id",
            "centroid_id",
            F.zip_with(
                F.col("q_vec").cast("array<double>"),
                F.col("cent_vec").cast("array<double>"),
                lambda a, b: a - b,
            ).alias("qrvec"),
        )
    )
    adc = (
        probes.select("query_id", "centroid_id", _pq_slices("qrvec", n_sub, sub, "qv"))
        .join(F.broadcast(codebook), "m")
        .select(
            "query_id", "centroid_id", "m", "cid",
            _pq_dist_units("qv", "cvec").alias("units"),
        )
    )
    scored = (
        codes.join(F.broadcast(adc), ["centroid_id", "m", "cid"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("units").alias("total_units"))
    )
    w = Window.partitionBy("query_id").orderBy("total_units", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("total_units").cast("double") / F.lit(_SCALE)).alias("adc_dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def crossmodal_project(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64, w: int = 4
) -> DataFrame:
    """Deterministic second-encoder projection for the CLIP-shaped
    cross-modal retrieval eval: image_vec[i] = w·v[i] + v[(i+1) mod d] —
    a fixed full-rank circulant map, so the "image" embedding of an item
    is strongly correlated with (but not equal to) its "text" embedding,
    exactly the joint-space geometry a two-tower contrastive encoder
    produces for paired items. Cosine is scale-invariant, so the
    unnormalized map needs no renormalization.

    Parity: every element casts to double BEFORE the arithmetic (the
    parquet column is float32; DuckDB's ``::DOUBLE[]`` cast happens
    first too), and w·x + y is two IEEE ops on identical doubles — the
    projected vector is bit-equal in both engines, after which the
    standard 1e13 grid-snap cosine discipline applies unchanged. Pure
    codegen projection: no shuffle, no Python."""
    expr = (
        f"transform(sequence(0, {dim - 1}), i -> "
        f"cast({w} as double) * cast(element_at({vec_col}, i + 1) as double)"
        f" + cast(element_at({vec_col}, (i + 1) % {dim} + 1) as double))"
    )
    return df.withColumn(vec_col, F.expr(expr))


def nsw_build_edges(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    m_neighbors: int = 16,
    shortcuts: bool = False,
    dropped_bucket_acc=None,
) -> DataFrame:
    """NSW graph build — the INDEX-BUILD half of :func:`nsw_topk`, split
    out so callers can materialize it once per session/corpus (a real
    deployment writes it as a silver table and serves many searches from
    it; paying the build per query would misprice the paradigm). Output:
    NARROW ``(src, dst)`` adjacency — each node's ``m_neighbors`` best
    LSH-banded candidates by exact grid cosine, symmetrized.

    r11 → r12 shape change: the edges used to denormalize the
    destination vector+norm on (``dvec``/``dnrm``) so beam rounds never
    re-joined the corpus. That made the index ~16× the corpus bytes
    (m=16 copies of every 64-double vector): the cached silver ran
    ~500 MB at sf0.1, the top-m window shuffled ~550 B rows, and — the
    r11 driver-bench lesson — under session memory pressure the frame
    evicted to disk and EVERY beam round paid a full ~500 MB deserialize
    scan (driver 11.0 s vs local 2.3 s for the same query). Narrow
    adjacency is ~16 B/row (~15 MB at sf0.1, corpus-linear not
    corpus×m×dim at 100 TB); rounds fetch candidate vectors by joining
    the tiny frontier-expansion set against a pinned corpus-vector
    frame instead (one |corpus| scan per round of 1× data beats one
    scan of 16× data — denormalizing avoided a JOIN, not a SCAN).

    ``shortcuts=True`` unions :func:`shortcut_edges` (deterministic
    long-range links at exponentially spaced id-rank offsets) onto the
    LSH adjacency — the r12 navigability fix: an LSH-built graph only
    wires nodes sharing a band, so beam search can never traverse
    between angularly distant clusters (the 50k probe measured descent
    recall@5 capped at 0.15); the shortcut ring restores global
    reachability in O(log n) hops (Malkov & Yashunin 2016 §4.1 get the
    same property from incremental insertion; the ring is the
    deterministic, oracle-replayable equivalent).

    ``dropped_bucket_acc`` (optional pyspark Accumulator) surfaces the
    count of degenerate buckets silently skipped by the ``max_bucket``
    cap (ADVICE r12: the cap never fires on the oracle-checked corpora
    — tests assert that — but at larger SFs a degenerate band would
    otherwise be undiagnosable)."""
    from pyspark.sql import types as T

    planes = random_planes(dim=dim, n_planes=n_planes, seed=seed)
    rpb = n_planes // bands
    mask = (1 << rpb) - 1
    max_bucket = 2000  # same enforced degenerate-band cap as candidate_pairs_in_buckets
    sig = plane_signatures(corpus, planes, id_col=id_col, vec_col=vec_col)
    block_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col("sig"), rpb * i).bitwiseAND(F.lit(mask)).alias("val"),
            )
            for i in range(bands)
        ]
    )
    blocked = sig.select("id", F.explode(block_arr).alias("bb")).select(
        "id", F.col("bb.blk").alias("blk"), F.col("bb.val").alias("val")
    )
    # Per-bucket EXACT-grid scoring kernel (applyInPandas), replacing the
    # r11 enumerate-pairs → join-both-vector-sides → interpreted-HOF-cosine
    # plan: that plan shuffled every candidate pair carrying BOTH 64-double
    # arrays (~1 KB/pair — ~0.5 GB at sf0.1) and paid ~60M interpreted
    # zip_with/aggregate lambda evals; here Arrow moves O(members·dim)
    # vectors once and one numpy pass per bucket scores all pairs. The
    # grid dot is computed EXACTLY in int64 (np.sign·floor(|x|+0.5) ≡
    # Spark round() HALF_UP on identical float64 products — the sig_np
    # rounding identity, parity-tested), and the division is the same
    # IEEE double op in both engines, so per-node (cos DESC, dst ASC)
    # ordering is bit-identical to the JVM/oracle formulation. Each
    # member's per-bucket top-m is a superset of its contribution to the
    # global top-m (standard distributed top-k), so the JVM window below
    # reproduces the oracle's all-pairs window exactly.
    out_schema = T.StructType(
        [
            T.StructField("src", T.LongType(), False),
            T.StructField("dst", T.LongType(), False),
            T.StructField("cos", T.DoubleType(), False),
        ]
    )
    m = m_neighbors

    def _topm_np(key, pdf):
        sz = len(pdf)
        if sz < 2 or sz > max_bucket:
            if sz > max_bucket and dropped_bucket_acc is not None:
                dropped_bucket_acc.add(1)
            return pd.DataFrame({"src": [], "dst": [], "cos": []}).astype(
                {"src": np.int64, "dst": np.int64, "cos": np.float64}
            )
        ids = pdf["id"].to_numpy().astype(np.int64)
        order = np.argsort(ids)  # ascending ids → stable argsort = dst-asc ties
        ids = ids[order]
        V = np.stack(pdf["vec"].to_numpy())[order].astype(np.float64)
        prods_self = V * V * _SCALE
        norms = _round_half_away_np(prods_self).sum(
            axis=1
        )  # exact: int-valued doubles < 2^53
        keep = min(m, sz - 1)
        srcs, dsts, coss = [], [], []
        chunk = 64  # bounds the chunk×sz×dim product tensor (≤ 65 MB at cap)
        for lo in range(0, sz, chunk):
            hi = min(lo + chunk, sz)
            P = V[lo:hi, None, :] * V[None, :, :] * _SCALE
            dot = _round_half_away_np(P).sum(axis=2)
            denom = np.sqrt(norms[lo:hi, None] * norms[None, :])
            with np.errstate(invalid="ignore", divide="ignore"):
                C = dot / denom
            C[~np.isfinite(C)] = 0.0  # zero-norm convention (_safe_cos)
            C[np.arange(lo, hi)[:, None] == np.arange(sz)[None, :]] = -np.inf
            rk = np.argsort(-C, axis=1, kind="stable")[:, :keep]
            rows = np.repeat(np.arange(hi - lo), keep)
            cols = rk.ravel()
            srcs.append(np.repeat(ids[lo:hi], keep))
            dsts.append(ids[cols])
            coss.append(C[rows, cols])
        return pd.DataFrame(
            {
                "src": np.concatenate(srcs),
                "dst": np.concatenate(dsts),
                "cos": np.concatenate(coss),
            }
        )

    mem = blocked.join(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "id"
    )
    directed = mem.groupBy("blk", "val").applyInPandas(_topm_np, out_schema)
    # a pair can share up to `bands` buckets — dedup before the global
    # window (cos is identical in every copy, so max() is a no-op pick)
    best = directed.groupBy("src", "dst").agg(F.max("cos").alias("cos"))
    we = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    out = (
        best.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= m_neighbors)
        .select("src", "dst")
    )
    if shortcuts:
        # duplicates with the LSH edges are harmless: every search round
        # GROUP BYs (query, node) before the beam cut
        out = out.unionByName(shortcut_edges(corpus, id_col=id_col))
    return out


def shortcut_edges(
    corpus: DataFrame,
    id_col: str = "vec_id",
    broadcast_threshold: int = 8_000_000,
    rank_buckets: int | None = None,
    force_path: str | None = None,
) -> DataFrame:
    """Deterministic LONG-RANGE links for graph-ANN navigability: rank
    the corpus ids ascending and wire each rank r to rank
    (r + 2^j) mod N for every j with 2^j < N, both directions — the
    Chord/Kleinberg small-world ring. ~2·log₂N extra narrow (src, dst)
    rows per node.

    Why: an LSH-built kNN graph (``nsw_build_edges``) only creates
    edges inside shared signature bands, so the graph decomposes into
    angular clusters with NO path between them — beam search is then
    capped by entry placement alone (the r12 50k probe measured
    hierarchical-descent recall@5 at 0.15 with fixed entries at 0.00).
    Real HNSW gets long-range links for free from incremental insertion
    (each node is wired by searching the graph built so far — Malkov &
    Yashunin 2016 §4), which is inherently sequential; the exponential
    id-rank ring is the deterministic, oracle-replayable substitute: id
    ranks are uncorrelated with geometry, so each node gets ~log₂N
    uniformly-spread probes, any frontier reaches every cluster within
    a few rounds, and the monotone beam keeps whichever landings score.
    Measured at the 50k clustered probe: descent recall@5 0.15 → 0.60
    (see SCALE_PROBE.md hnsw_50k row; the batched-insertion alternative
    measures 0.46 at 4× the build wall — hnsw_50k_incremental row).

    100-TB rank path (r14 — replaces the r13 single-task global
    ``row_number`` window + unconditional full-rank-table broadcast):

    * **dense** — when ids are integral and CONTIGUOUS (max−min+1 ==
      count, e.g. the embeddings table's 0..N−1 ``vec_id``), rank is
      ``id − min`` and the destination id is computed arithmetically:
      the whole ring is one map-side projection — no window, no
      shuffle, no join, at ANY corpus size.
    * **ranked** — otherwise (e.g. the hash-selected upper HNSW
      layer), a range-partitioned rank: a monotone bucketing of id
      (min/max-scaled for numeric ids; one bucket for other orderable
      types) gives per-bucket ``row_number`` sorts that run in
      PARALLEL, plus a tiny (≤``rank_buckets`` rows, broadcast)
      cumulative-offset table — the DataFrame form of
      ``zipWithIndex``. The rank→dst-id mapping joins BROADCAST below
      ``broadcast_threshold`` ids and falls back to a plain shuffled
      join on the rank key above it (the broadcast side grows with
      |corpus| and would hit Spark's broadcast limit long before the
      window would die — the r13 advice note).

    Both paths are provably identical (unit-tested against each other
    and against the DuckDB closed-form replay); ``force_path``
    ("dense" | "ranked") pins one for tests. One 3-scalar (count, min,
    max) driver-side action chooses the path — the repo-wide 1-row
    collect budget applies.

    Exactness: rank = position in id ASC order (unique ids ⇒ both
    engines agree); offsets are exact longs; the 2^j < N hop list is
    computed driver-side so the plan carries only literal offsets."""
    from pyspark.sql.types import IntegralType, NumericType

    if force_path not in (None, "dense", "ranked"):
        raise ValueError(f"shortcut_edges: unknown force_path {force_path!r}")
    ids = corpus.select(F.col(id_col).alias("id"))
    id_type = ids.schema[0].dataType
    numeric = isinstance(id_type, NumericType)
    stats = ids.agg(
        F.count("*").alias("m"),
        *([F.min("id").alias("lo"), F.max("id").alias("hi")] if numeric else []),
    ).collect()[0]
    m = stats["m"]
    empty = ids.select(
        F.col("id").alias("src"), F.col("id").alias("dst")
    ).limit(0)
    if m <= 1:
        return empty  # a ring needs ≥2 nodes; also guards int(None) below
    offs = [1 << j for j in range(m.bit_length()) if (1 << j) < m]
    dense = (
        isinstance(id_type, IntegralType)
        and int(stats["hi"]) - int(stats["lo"]) + 1 == m
    )
    if force_path == "dense" and not dense:
        raise ValueError("shortcut_edges: ids are not contiguous-integral")
    if dense and force_path != "ranked":
        lo = int(stats["lo"])
        e = ids.select(
            F.col("id").alias("src"),
            F.explode(F.array(*[F.lit(o) for o in offs])).alias("o"),
        ).select(
            "src",
            (
                F.lit(lo) + (F.col("src") - F.lit(lo) + F.col("o")) % F.lit(m)
            ).cast(id_type).alias("dst"),
        )
    else:
        if numeric:
            b_target = rank_buckets or int(
                corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
            )
            n_b = max(1, min(b_target, m))
            lo_d, hi_d = float(stats["lo"]), float(stats["hi"])
            span = max(hi_d - lo_d, 1.0)
            # monotone in id (double cast, affine map, floor) — so
            # bucket-local rank + bucket offset == the global rank
            bucket = F.least(
                F.lit(n_b - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("id").cast("double") - F.lit(lo_d))
                        / F.lit(span)
                        * F.lit(n_b)
                    ).cast("int"),
                ),
            )
        else:
            bucket = F.lit(0)  # orderable-but-non-numeric ids: one sort task
        bids = ids.withColumn("b", bucket)
        w_in = Window.partitionBy("b").orderBy("id")
        cum = (
            Window.orderBy("b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )  # ≤ n_b rows: the single-task window is over the COUNTS table
        off_tbl = (
            bids.groupBy("b")
            .agg(F.count("*").alias("c"))
            .withColumn("off", F.coalesce(F.sum("c").over(cum), F.lit(0)))
            .select("b", "off")
        )
        rk = (
            bids.withColumn("lr", F.row_number().over(w_in) - 1)
            .join(F.broadcast(off_tbl), "b")
            .select("id", (F.col("lr") + F.col("off")).alias("r"))
        )
        hops = rk.select(
            "id",
            F.explode(F.array(*[F.lit(o) for o in offs])).alias("o"),
            "r",
        ).select("id", ((F.col("r") + F.col("o")) % F.lit(m)).alias("dr"))
        dst_map = rk.select(F.col("r").alias("dr"), F.col("id").alias("dst"))
        if m <= broadcast_threshold:
            dst_map = F.broadcast(dst_map)
        e = hops.join(dst_map, "dr").select(F.col("id").alias("src"), "dst")
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _beam_rounds(
    frontier: DataFrame,
    edges: DataFrame,
    c: DataFrame,
    q: DataFrame,
    beam: int,
    rounds: int,
) -> DataFrame:
    """``rounds`` unrolled NSW beam expansions over one graph layer —
    the shared search loop of :func:`nsw_topk` (layer 0 alone) and
    :func:`hnsw_topk` (greedy-descent upper layers, then layer 0).

    Per round: (a) adjacency expansion — narrow (src, dst) scan with the
    frontier side broadcast; (b) vector fetch — the ≤|q|·beam·m
    expansion set is broadcast into ONE pass over the corpus-vector
    frame ``c`` (1× corpus bytes per round, vs 16× when edges carried
    denormalized vectors — the r11 lesson); (c) exact grid-cosine
    scoring against the broadcast query frame ``q``; (d) monotone cut —
    the frontier unions its expansion before the per-query ``beam`` cut
    (cos DESC, node ASC), so scores never regress. The incoming
    frontier is pinned at the TOP of each round: it feeds BOTH the
    expansion and the union, and an unpinned plan doubles per round
    (2^rounds replays — measured 11.5s → 0.9s at sf0.1); pinning at the
    top also keeps the last round's join shape visible for the
    broadcast plan-lock test."""
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("node"))
    for _ in range(rounds):
        frontier = frontier.localCheckpoint(eager=True)
        exp = edges.join(
            F.broadcast(frontier.select("query_id", F.col("node").alias("src"))),
            "src",
        ).select("query_id", F.col("dst").alias("id"))
        scored = (
            c.join(F.broadcast(exp), "id")
            .join(F.broadcast(q), "query_id")
            .filter(F.col("id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("id").alias("node"),
                cosine_with_norms(
                    F.col("qv"), F.col("vec"), F.col("qn"), F.col("nrm")
                ).alias("cos"),
            )
        )
        frontier = (
            frontier.unionByName(scored)
            .groupBy("query_id", "node")
            .agg(F.max("cos").alias("cos"))
            .withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= beam)
            .drop("rn")
        )
    return frontier


def nsw_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    m_neighbors: int = 16,
    beam: int = 16,
    rounds: int = 4,
    n_entry: int = 32,
    edges: DataFrame | None = None,
    cvec: DataFrame | None = None,
) -> DataFrame:
    """Graph-traversal ANN (the NSW/HNSW layer-0 shape of Malkov &
    Yashunin 2016 — what production vector DBs serve from), completing
    the third ANN paradigm next to the tree/list family (IVF) and the
    quantization family (PQ/SQ8/Hamming):

    1. GRAPH BUILD (one-time index): LSH-banded candidate pairs (the
       same signed-random-projection signatures ``lsh_topk`` uses, so
       the build is deterministic and oracle-replayable) → exact grid
       cosine → each node keeps its ``m_neighbors`` best neighbors,
       symmetrized, stored as NARROW ``(src, dst)`` adjacency (see
       :func:`nsw_build_edges` for why narrow — the r11 driver bench
       showed the denormalized-vector variant evicting to disk and
       recharging ~500 MB of scan into every beam round). The edge
       frame is pinned — it is the index artifact; at 100 TB it is a
       written silver table built once and served many times.
    2. BEAM SEARCH (``rounds`` UNROLLED expansions — the BPE/PCA fixed
       unroll discipline): the frontier starts at ``n_entry`` fixed
       entry nodes; each round (a) expands the frontier's graph
       neighbors via a BROADCAST frontier-side hash join against the
       pinned adjacency, (b) fetches candidate vectors by broadcasting
       the ≤|queries|·beam·m expansion set into ONE scan of the
       corpus-vector frame (pass ``cvec`` to serve this from a pinned
       silver instead of re-reading the source), (c) scores with the
       exact grid cosine against the broadcast query side, and keeps
       the per-query ``beam`` best (ties: cos DESC, node ASC).
       Monotone: the frontier is unioned with its expansion before the
       cut, so scores never regress.

    Entry points are the nodes with ``id < n_entry`` — a documented
    DENSE-ID precondition (corpus ids must include [0, n_entry); the
    driver's `embeddings.vec_id` does). A corpus violating it would
    silently return empty results, so an empty entry set raises.

    Self-matches are excluded throughout (query ids live in the corpus
    id space, as in every sim_* eval). Scale shape: after the build,
    each round touches |frontier|·m candidate rows plus one scan of 1×
    corpus bytes — never corpus×m×dim — and every join is broadcast
    (the plan-lock test asserts no SortMergeJoin survives in the
    search plan)."""
    if edges is None:
        edges = nsw_build_edges(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            n_planes=n_planes,
            bands=bands,
            seed=seed,
            m_neighbors=m_neighbors,
        ).localCheckpoint(eager=True)
    c = cvec if cvec is not None else corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("nrm"),
    )
    # pin the query frame once: it is broadcast into EVERY round's
    # scoring join, and unpinned each broadcast re-runs the query-side
    # source scan (a parquet read per round in the llmq wrappers)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_grid(F.col(vec_col)).alias("qn"),
    ).localCheckpoint(eager=True)
    entries = c.filter(F.col("id") < n_entry)
    if not entries.take(1):
        raise ValueError(
            f"nsw_topk: empty entry set — no corpus ids in [0, {n_entry}); "
            "entry selection assumes dense ids from 0 (documented "
            "precondition), so a sparse/offset id space must remap ids "
            "or raise rather than silently return no neighbors"
        )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("node"))
    frontier = (
        q.crossJoin(F.broadcast(entries))
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("node"),
            cosine_with_norms(F.col("qv"), F.col("vec"), F.col("qn"), F.col("nrm")).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= beam)
        .drop("rn")
    )
    frontier = _beam_rounds(frontier, edges, c, q, beam, rounds)
    return (
        frontier.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("node").alias("neighbor_id"),
            F.col("cos").alias("cos_sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def nsw_build_edges_incremental(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    m_neighbors: int = 16,
    n_cohorts: int = 4,
    beam: int = 8,
    rounds: int = 2,
    n_entry: int = 32,
) -> DataFrame:
    """BATCHED-INSERTION graph build — the 'standard distributed
    compromise' for real HNSW construction (Malkov & Yashunin 2016 wire
    each node by searching the graph built so far, which is inherently
    sequential; the batch substitute inserts id-rank COHORTS: cohort 0
    gets the LSH build, every later cohort is wired by beam-searching
    the graph-so-far and symmetrizing its top-``m_neighbors`` results).
    Implemented so the ring-vs-insertion choice in :func:`shortcut_edges`
    is settled by MEASUREMENT, not argument — see
    ``tools/scale_probe.py`` ``probe_hnsw_incremental``: at the 50k
    clustered probe, pure batched insertion records recall@5 well below
    the shortcut ring's 0.60 because cohort 0's LSH graph is already
    cluster-fragmented, so insertion searches land (and wire) inside
    whatever cluster the fixed entries can reach — fragmentation is
    INHERITED, which is exactly why production distributed HNSW builds
    interleave insertion with repair passes. The ring needs neither.

    Same dense-id entry precondition as :func:`nsw_topk` (cohort 0 must
    contain ids [0, n_entry)); cost is ``n_cohorts − 1`` beam searches
    of |corpus|/n_cohorts queries each over growing prefixes — every
    join broadcast, the searched side never exceeds 1× corpus."""
    ids = corpus.select(F.col(id_col).alias("id"))
    n = ids.count()
    ranked = ids.withColumn(
        "r", F.row_number().over(Window.orderBy("id")) - 1
    ).localCheckpoint(eager=True)
    bounds = [n * k // n_cohorts for k in range(n_cohorts + 1)]

    def cohort(k: int) -> DataFrame:
        return ranked.filter(
            (F.col("r") >= bounds[k]) & (F.col("r") < bounds[k + 1])
        ).select("id")

    def sub(idset: DataFrame) -> DataFrame:
        return corpus.join(
            F.broadcast(idset.withColumnRenamed("id", id_col)),
            id_col,
            "left_semi",
        )

    edges = nsw_build_edges(
        sub(cohort(0)), id_col=id_col, vec_col=vec_col, dim=dim,
        n_planes=n_planes, bands=bands, seed=seed, m_neighbors=m_neighbors,
    ).localCheckpoint(eager=True)
    prev_ids = cohort(0)
    for k in range(1, n_cohorts):
        prev = sub(prev_ids)
        cvec = prev.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            norm_grid(F.col(vec_col)).alias("nrm"),
        ).localCheckpoint(eager=True)
        wired = nsw_topk(
            prev, sub(cohort(k)), k=m_neighbors, id_col=id_col,
            vec_col=vec_col, dim=dim, n_planes=n_planes, bands=bands,
            seed=seed, m_neighbors=m_neighbors, beam=beam, rounds=rounds,
            n_entry=n_entry, edges=edges, cvec=cvec,
        ).select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
        )
        edges = (
            edges.unionByName(wired)
            .unionByName(
                wired.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .localCheckpoint(eager=True)
        )
        prev_ids = prev_ids.unionByName(cohort(k))
    return edges


def rank_agreement_rbo(
    run_a: DataFrame,
    run_b: DataFrame,
    k: int = 5,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between two
    retrieval runs over the same queries — the standard top-weighted
    ranker-agreement audit (Kendall/Spearman need conjoint lists;
    retrieval top-k lists aren't). Inputs: (query_id, neighbor_id, rank)
    frames. Output: per query, the common-item count and the truncated
    RBO@k normalized so identical rankings score 1.0, plus the mean over
    queries (queries with zero overlap count as 0 — the spine comes from
    run_a's query set).

    Exactness trick: truncated RBO@k = Σ_d (1−p)·p^(d−1)·ov_d/d, and a
    common pair first counted at depth m = max(rank_a, rank_b)
    contributes the SUFFIX sum S(m) = Σ_{d≥m} (1−p)p^(d−1)/d — for
    p = 0.9 every S(m) is an exact terminating decimal, precomputed here
    with ``decimal.Decimal`` and summed in DECIMAL(20,10) per query, so
    the only float op is the final normalization division. Plan: one
    (query, neighbor) equi-join of two k-row-per-query frames, one hash
    aggregate, one broadcast mean — nothing corpus-sized."""
    from decimal import Decimal

    dp = Decimal(repr(p))
    coef = [(Decimal(1) - dp) * dp ** (d - 1) / d for d in range(1, k + 1)]
    for c in coef:
        # p must make (1−p)·p^(d−1)/d terminate (p=0.9 does for k ≤ 5);
        # a non-terminating coefficient would raise InvalidOperation
        # here. ValueError, not assert: the exactness contract must
        # survive ``python -O`` (ADVICE r11)
        if c != c.quantize(Decimal("1e-10")):
            raise ValueError(
                f"rank_agreement_rbo: p={p} yields non-exact RBO weights "
                f"at k={k} — pick p whose (1−p)·p^(d−1)/d terminate in "
                "10 decimal digits"
            )
    suffix = [sum(coef[m:], Decimal(0)) for m in range(k)]  # S(m+1)
    # identical rankings have ov_d = d at every depth, so the normalizer
    # is Σ d·coef_d = Σ (1−p)p^(d−1) = 1 − p^k — NOT Σ coef_d
    full = Decimal(1) - dp ** k  # RBO of identical rankings
    a = run_a.select("query_id", "neighbor_id", F.col("rank").alias("rank_a"))
    b = run_b.select("query_id", "neighbor_id", F.col("rank").alias("rank_b"))
    m = F.greatest(F.col("rank_a"), F.col("rank_b"))
    weight = F.lit(None).cast("decimal(20,10)")
    for i, s in enumerate(suffix):
        weight = F.when(m == i + 1, F.lit(str(s)).cast("decimal(20,10)")).otherwise(
            weight
        )
    pairs = a.join(b, ["query_id", "neighbor_id"]).select(
        "query_id", weight.alias("w")
    )
    spine = a.select("query_id").distinct()
    per_q = (
        spine.join(
            pairs.groupBy("query_id").agg(
                F.count("*").alias("n_common"), F.sum("w").alias("rbo_dec")
            ),
            "query_id",
            "left",
        )
        .na.fill({"n_common": 0})
        .select(
            "query_id",
            "n_common",
            (
                F.coalesce(F.col("rbo_dec"), F.lit(0).cast("decimal(20,10)"))
                .cast("double")
                / F.lit(float(full))
            ).alias("rbo"),
        )
    )
    # snap rbo on an explicit round(…, 14) grid BEFORE the decimal cast:
    # Spark's bare double→decimal(20,14) cast rounds HALF_UP while
    # DuckDB's casts round half-even — a 1-ulp mean_rbo parity hazard on
    # exact-tie fractions; after round() both engines cast the same
    # already-snapped double (ADVICE r11)
    mean = per_q.agg(
        (
            F.sum(F.round(F.col("rbo"), 14).cast("decimal(20,14)")).cast("double")
            / F.count("*")
        ).alias("mean_rbo")
    )
    return (
        per_q.crossJoin(F.broadcast(mean))
        .select("query_id", "n_common", "rbo", "mean_rbo")
        .orderBy("query_id")
    )


def semantic_decontam(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of the n-gram ``text.decontaminate`` gate: flag every
    TRAIN item whose embedding cosine to ANY benchmark item reaches
    ``threshold`` (the modern eval-hygiene pass — n-gram overlap misses
    paraphrased contamination, so pipelines since Phi/Llama-3 run a
    cosine screen against the eval sets too). Output: one row per
    flagged train item — (train id, its BEST-matching benchmark id by
    (cos DESC, bench ASC), the exact grid cosine).

    Bucketed, never all-pairs (the SemDeDup kernel pointed at a
    benchmark table instead of self-pairs): BOTH sides take the same
    deterministic nearest-centroid assignment ``semantic_dedup_pairs``
    uses (lowest-``n_centroids``-id anchors from the TRAIN side, exact
    grid-cosine argmax, (cos DESC, centroid ASC) ties — the shared
    two-phase ``nearest_centroid`` kernel), and train×benchmark
    candidates form only WITHIN a shared cluster. Per-cluster cost is
    |train_cluster|·|bench_cluster| with a SMALL bench side (an eval
    set), so no cluster cap is needed — the benchmark side bounds the
    fan-out, not a cap. Same miss model as SemDeDup: a contaminated
    pair split across a cluster boundary is not compared; grow
    ``n_centroids`` (or pass trained centroids through the same seam)
    to tighten.

    Parity: scoring is the exact integer-grid cosine with precomputed
    norms — emitted values are bit-identical to the oracle's replay."""
    cents = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        norm_grid(F.col(vec_col)).alias("cent_norm"),
    )
    t = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("norm"),
    )
    b = benchmark.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("norm"),
    )
    ta = nearest_centroid(t, cents).join(t, "id")
    ba = (
        nearest_centroid(b, cents)
        .join(b, "id")
        .select(
            F.col("id").alias("bench_id"),
            "centroid_id",
            F.col("vec").alias("bvec"),
            F.col("norm").alias("bnorm"),
        )
    )
    scored = (
        ta.join(F.broadcast(ba), "centroid_id")
        .filter(F.col("id") != F.col("bench_id"))
        .select(
            "id",
            "bench_id",
            cosine_with_norms(
                F.col("vec"), F.col("bvec"), F.col("norm"), F.col("bnorm")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos_sim"), F.asc("bench_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("id").alias(id_col), "bench_id", "cos_sim")
    )


def hnsw_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    m_neighbors: int = 16,
    layer_mod: int = 8,
    n_entry_top: int = 16,
    beam_top: int = 16,
    rounds_top: int = 2,
    beam: int = 16,
    rounds: int = 4,
    edges: DataFrame | None = None,
    edges_top: DataFrame | None = None,
    cvec: DataFrame | None = None,
) -> DataFrame:
    """HIERARCHICAL graph ANN — the full HNSW shape of Malkov & Yashunin
    2016 on top of :func:`nsw_topk`'s layer 0: a sparse UPPER layer
    (every node whose hashed id ≡ 0 mod ``layer_mod`` — the
    deterministic, oracle-replayable stand-in for the paper's
    exponential level draw) gets its own NSW graph; search greedy-
    descends — a cheap beam pass over the upper layer picks per-query
    entry points, which seed the layer-0 beam instead of nsw_topk's
    FIXED low-id entries. The hierarchy is what keeps recall at
    10–100× corpus: fixed entries drift arbitrarily far from a query
    as the corpus grows, while upper-layer descent lands the layer-0
    beam in the query's neighborhood after O(log n) coarse hops.

    NAVIGABILITY (r13): both layers' default builds union
    :func:`shortcut_edges` — deterministic long-range links at
    exponentially spaced id-rank offsets — onto the LSH adjacency. An
    LSH-built graph only wires nodes sharing a signature band, so it
    decomposes into angular clusters with no inter-cluster path; the
    r12 50k clustered probe measured descent recall@5 capped at 0.15
    no matter the beam width. With the shortcut ring (real HNSW gets
    the same property from inherently-sequential incremental insertion,
    Malkov & Yashunin 2016 §4; the ring is the oracle-replayable
    batch substitute) the same probe records descent at **0.60** while
    fixed-entry NSW stays 0.00, and at the bench SFs descent now beats
    the fixed seed too: recall@5 0.96 vs 0.94 at sf0.01 (500 vecs),
    0.84 vs 0.80 at sf0.1 (2000 vecs). Measured, not asserted:
    ``tools/scale_probe.py`` ``probe_hnsw_entry``, SCALE_PROBE.md.

    Entry points on the upper layer are its ``n_entry_top`` smallest
    ids via row_number — NO dense-id precondition (unlike nsw_topk's
    ``id < n_entry`` filter): the upper layer is a hash-selected subset,
    so rank-based selection is the only deterministic choice. An empty
    upper layer (corpus smaller than ``layer_mod``) raises.

    Index artifacts: TWO pinned silvers — layer-0 adjacency (shared
    with nsw_topk) and the upper-layer adjacency (built by the same
    :func:`nsw_build_edges` kernel over the subset, |corpus|/layer_mod
    nodes). Search plan is broadcast-only end to end (same plan-lock
    contract as NSW); every scoring join fetches vectors from the one
    corpus-vector frame ``cvec``. Exact grid cosine everywhere —
    bit-identical to the DuckDB replay."""
    from securities_pricing_data_pipeline_spark.llmdata.dedup import portable_hash60

    if edges is None:
        edges = nsw_build_edges(
            corpus, id_col=id_col, vec_col=vec_col, dim=dim,
            n_planes=n_planes, bands=bands, seed=seed, m_neighbors=m_neighbors,
            shortcuts=True,
        ).localCheckpoint(eager=True)
    layer_pred = (
        portable_hash60(F.col(id_col).cast("string")) % layer_mod == 0
    )
    if edges_top is None:
        edges_top = nsw_build_edges(
            corpus.filter(layer_pred), id_col=id_col, vec_col=vec_col, dim=dim,
            n_planes=n_planes, bands=bands, seed=seed, m_neighbors=m_neighbors,
            shortcuts=True,
        ).localCheckpoint(eager=True)
    c = cvec if cvec is not None else corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_grid(F.col(vec_col)).alias("nrm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_grid(F.col(vec_col)).alias("qn"),
    ).localCheckpoint(eager=True)
    # upper-layer membership + rank-based entry selection on an id-ONLY
    # projection (the heaps_growth lesson: never funnel wide rows
    # through a global window); entries join vectors back after the cut
    member_ids = c.select("id").filter(
        portable_hash60(F.col("id").cast("string")) % layer_mod == 0
    )
    we = Window.orderBy("id")
    entry_ids = (
        member_ids.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= n_entry_top)
        .select("id")
    )
    entries = c.join(F.broadcast(entry_ids), "id")
    if not entries.take(1):
        raise ValueError(
            f"hnsw_topk: empty upper layer — no corpus id hashes to "
            f"0 mod {layer_mod}; shrink layer_mod below the corpus size"
        )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("node"))
    frontier = (
        q.crossJoin(F.broadcast(entries))
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("node"),
            cosine_with_norms(
                F.col("qv"), F.col("vec"), F.col("qn"), F.col("nrm")
            ).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= beam_top)
        .drop("rn")
    )
    # greedy descent: coarse beam over the sparse upper graph...
    frontier = _beam_rounds(frontier, edges_top, c, q, beam_top, rounds_top)
    # ...whose survivors seed the layer-0 beam (all upper-layer nodes
    # are layer-0 nodes, so the frontier is valid as-is)
    frontier = _beam_rounds(frontier, edges, c, q, beam, rounds)
    return (
        frontier.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("node").alias("neighbor_id"),
            F.col("cos").alias("cos_sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
