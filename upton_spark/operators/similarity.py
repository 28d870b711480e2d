"""Similarity search over embedding columns (ARRAY<FLOAT>).

Baseline: brute-force cosine top-k entirely in codegen
(``F.zip_with`` + ``F.aggregate`` dot products — no Python in the scan).
Scale path: random-hyperplane LSH bucketing so the scan only scores the
query's bucket neighborhood (IVF-style would swap the bucketer for k-means
centroids; the plumbing is identical).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T


# single-slot cache of the latest semantic_dedup assignment per session:
# the IVF-assignment matmul output is scanned up to three times (hot-cell
# probe + both sides of the pair join), so it is persisted — and the pin
# must outlive the call (the returned plan reads it lazily), so each new
# call releases the previous one instead of leaking a cache per call
_ASSIGNED_PIN: dict[str, DataFrame] = {}


def _pin_assigned(assigned: DataFrame) -> DataFrame:
    app_id = assigned.sparkSession.sparkContext.applicationId
    for k in list(_ASSIGNED_PIN):
        old = _ASSIGNED_PIN.pop(k)
        if k == app_id:
            try:
                old.unpersist()
            except Exception:
                pass  # a pin from a stopped session has nothing to free
    assigned = assigned.persist()
    _ASSIGNED_PIN[app_id] = assigned
    return assigned


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. The per-row score
    is whole-stage-codegen; top-k is a TakeOrdered (no full sort)."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


_QUANT = 1_000_000  # embedding fixed-point scale
_PLANE_QUANT = 1_000  # hyperplane fixed-point scale


def _quantize(mat: np.ndarray, scale: int) -> np.ndarray:
    """floor(x*scale + 0.5) — round-half-up in exact float64, identical to
    the SQL floor(x*scale + 0.5), unlike np.round (half-to-even)."""
    return np.floor(mat * scale + 0.5).astype(np.int64)


def _hyperplanes(dim: int, n_planes: int, seed: int = 13) -> np.ndarray:
    """Integer-quantized random hyperplanes. Quantizing both the planes and
    the vectors makes every dot product exact int64 arithmetic — the bucket
    of a vector is order-of-summation-independent and bit-reproducible by a
    DuckDB oracle (float dots near zero could flip sign between engines)."""
    rng = np.random.RandomState(seed)
    return _quantize(rng.standard_normal((n_planes, dim)), _PLANE_QUANT)


def with_lsh_bucket(
    embeddings: DataFrame, dim: int, n_planes: int = 12, vec_col: str = "embedding", seed: int = 13
) -> DataFrame:
    """Random-hyperplane signature → integer bucket (Charikar SimHash for
    vectors). One vectorized matmul per Arrow batch, in exact int64."""
    planes = _hyperplanes(dim, n_planes, seed)

    @F.pandas_udf(T.IntegerType())
    def bucket(vec: pd.Series) -> pd.Series:
        mat = _quantize(np.array(vec.tolist(), dtype=np.float64), _QUANT)
        signs = (mat @ planes.T) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int32))

    return embeddings.withColumn("lsh_bucket", bucket(F.col(vec_col)))


def kmeans_unit_centroids(
    mat: np.ndarray, n_centroids: int = 16, n_iters: int = 5
) -> np.ndarray:
    """Seeded Lloyd k-means on unit-normalized rows — pure numpy so both the
    Spark trainer and the SQL-oracle generator produce bit-identical
    centroids from the same (sorted) sample matrix."""
    mat = np.asarray(mat, dtype=np.float64)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(29)
    cent = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(n_iters):
        assign = np.argmax(mat @ cent.T, axis=1)  # cosine on unit vectors
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def train_ivf_centroids(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int = 1,
    n_iters: int = 5,
    max_sample_rows: int = 1_000_000,
) -> np.ndarray:
    """IVF coarse quantizer: k-means on a deterministic key-sampled subset.

    The sample (``id % sample_mod == 0``) is collected to the driver — at
    100 TB you train on a bounded sample exactly like this (centroids are a
    (k, dim) matrix regardless of corpus size); assignment stays fully
    distributed. Deterministic: sample sorted by id (partition-order
    independent), seeded init, fixed Lloyd iteration count, no RNG in the
    loop.

    The collect is HARD-BOUNDED: if the sample exceeds ``max_sample_rows``
    the call raises BEFORE any rows land on the driver (a bounded probe,
    not a count of the full table), so a forgotten ``sample_mod`` on a
    corpus-scale table can never become an unbounded ``toPandas()``."""
    sample = embeddings.filter(F.col(id_col) % sample_mod == 0).select(id_col, vec_col)
    # bounded size probe: never scans past the threshold
    if sample.limit(max_sample_rows + 1).count() > max_sample_rows:
        raise ValueError(
            f"IVF training sample exceeds max_sample_rows={max_sample_rows}: "
            f"raise sample_mod (currently {sample_mod}) so the driver-side "
            "k-means sample stays bounded"
        )
    pdf = sample.toPandas().sort_values(id_col)
    mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    return kmeans_unit_centroids(mat, n_centroids, n_iters)


def with_ivf_cell(
    embeddings: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Assign every vector its nearest-centroid cell id (one matmul per
    Arrow batch — the distributed half of the IVF index). Dots are rounded
    to 6 decimals before the argmax so assignment is reproducible across
    engines (summation-order float noise cannot flip a cell)."""
    cent = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def cell(vec: pd.Series) -> pd.Series:
        mat = np.array(vec.tolist(), dtype=np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        dots = np.round(mat @ cent.T, 6)
        return pd.Series(np.argmax(dots, axis=1).astype(np.int32))

    return embeddings.withColumn("ivf_cell", cell(F.col(vec_col)))


def ivf_topk(
    embeddings_with_cell: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only the ``nprobe`` cells nearest the query
    (partition-pruned scan when the table is written partitioned by cell)."""
    cent = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    order = np.argsort(-(cent @ q))[:nprobe]
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        embeddings_with_cell.filter(F.col("ivf_cell").isin([int(c) for c in order]))
        .select(F.col(id_col), F.round(cosine_col(F.col(vec_col), qcol), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: LSH-bucket self-join candidates, exact
    cosine verify — the vector sibling of MinHash near-dup. The only shuffle
    is the bucket exchange; the pair join is proportional to bucket density,
    never n²."""
    bucketed = with_lsh_bucket(embeddings, dim, n_planes, vec_col).select(
        id_col, vec_col, "lsh_bucket"
    )
    a = bucketed.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("vec_a"), "lsh_bucket"
    )
    b = bucketed.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vec_b"), "lsh_bucket"
    )
    return (
        a.join(b, "lsh_bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine_col(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def lsh_topk(
    embeddings_with_bucket: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 1,
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k: score only rows whose bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe LSH)."""
    planes = _hyperplanes(dim, n_planes, seed)
    q = _quantize(np.asarray(query_vec, dtype=np.float64), _QUANT)
    qsig = int(((q @ planes.T) > 0) @ (1 << np.arange(n_planes)))
    probes = {qsig}
    if probe_hamming >= 1:
        probes |= {qsig ^ (1 << b) for b in range(n_planes)}
    if probe_hamming >= 2:
        probes |= {
            qsig ^ (1 << b1) ^ (1 << b2)
            for b1 in range(n_planes)
            for b2 in range(b1 + 1, n_planes)
        }
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        embeddings_with_bucket.filter(F.col("lsh_bucket").isin([int(p) for p in probes]))
        .select(F.col(id_col), F.round(cosine_col(F.col(vec_col), qcol), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _with_pair_keys(
    assigned: DataFrame,
    centroids: np.ndarray,
    vec_col: str,
    sub_planes: int,
    hot_cell_threshold: int | None,
    max_sub_planes: int = 16,
) -> tuple[DataFrame, list[str]]:
    """The candidate-pair keying half of :func:`semantic_dedup`, factored
    out so tests can count candidate pairs (sum over groups of c*(c-1)/2)
    without running the join itself.

    ``sub_planes > 0`` splits EVERY cell by an lsh signature (the original
    opt-in trade). Otherwise, when ``hot_cell_threshold`` is set (the
    default), one O(n_centroids)-row groupBy probe finds cells whose count
    exceeds the threshold and ONLY those are split — each hot cell by just
    enough signature bits (ceil(log2(count/threshold)), capped) to bring
    its expected sub-bucket size back under the threshold. Cold cells keep
    ``_sub = 0``, so their pair sets — and recall — are bit-identical to
    the unprotected operator."""
    pair_keys = ["ivf_cell"]
    if sub_planes > 0:
        assigned = with_lsh_bucket(
            assigned, dim=len(centroids[0]), n_planes=sub_planes, vec_col=vec_col
        ).withColumnRenamed("lsh_bucket", "_sub")
        return assigned, pair_keys + ["_sub"]
    if hot_cell_threshold is None:
        return assigned, pair_keys
    counts = assigned.groupBy("ivf_cell").count().collect()  # O(k cells)
    hot = {
        int(r["ivf_cell"]): min(
            max_sub_planes,
            int(np.ceil(np.log2(r["count"] / hot_cell_threshold))),
        )
        for r in counts
        if r["count"] > hot_cell_threshold
    }
    if not hot:
        return assigned, pair_keys
    # full-width signature once per row, then mask to each hot cell's bit
    # budget via a broadcast (cell -> mask) join; cold cells keep _sub = 0
    masks = [(c, (1 << p) - 1) for c, p in sorted(hot.items())]
    spark = assigned.sparkSession
    mask_df = spark.createDataFrame(masks, "ivf_cell int, _mask int")
    assigned = (
        with_lsh_bucket(
            assigned, dim=len(centroids[0]), n_planes=max_sub_planes, vec_col=vec_col
        )
        .join(F.broadcast(mask_df), "ivf_cell", "left")
        .withColumn(
            "_sub",
            F.coalesce(
                F.col("lsh_bucket").bitwiseAND(F.col("_mask")), F.lit(0)
            ),
        )
        .drop("lsh_bucket", "_mask")
    )
    return assigned, pair_keys + ["_sub"]


def semantic_dedup(
    embeddings: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_planes: int = 0,
    hot_cell_threshold: int | None = 65_536,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings with the k-means coarse quantizer, compute pairwise
    cosine ONLY within each cluster, and drop every vector that has an
    EARLIER (lower-id) cluster-mate above ``threshold``. Returns the kept
    rows as (id, ivf_cell), ordered semantics left to the caller.

    Keep rule: b survives iff no a < b in b's cluster has
    round(cos(a,b), 6) >= threshold. The "earlier row wins" rule (rather
    than the sequential "earlier KEPT row wins") keeps the operator a plain
    EXISTS — one cluster-bucketed self-join, deterministic, and replayable
    in SQL; like the paper, cross-cluster duplicates are out of scope by
    design (that is the approximation that makes it O(sum cell²), not n²).

    100-TB shape: the only shuffle is the cluster-key exchange; pair work is
    proportional to cluster density, never all-pairs. The quantizer trains
    on a bounded sample (train_ivf_centroids); assignment is one Arrow-batch
    matmul per partition. Hot-cell protection is ON BY DEFAULT: on a
    Zipf-skewed corpus a single k-means cell can collect a constant
    fraction of all embeddings and its within-cell pair join explodes
    quadratically, so a one-probe groupBy finds cells past
    ``hot_cell_threshold`` rows and splits ONLY those by a quantized-
    hyperplane signature (just enough bits to bound the expected sub-bucket
    size), pairing within (cell, sub-bucket). Cold cells are untouched —
    recall there is identical to the flat operator; on hot cells it is the
    usual LSH recall-for-cost trade (near-dups almost always share the
    signature), found ⊆ the exact-cell result by construction.
    ``sub_planes > 0`` instead splits every cell (the original opt-in
    trade); ``hot_cell_threshold=None`` disables protection entirely."""
    # pin the assignment: the Arrow-batch matmul output is read by the
    # hot-cell probe AND both sides of the pair join — unpersisted, each
    # read would re-run the full-corpus assignment (see _pin_assigned)
    assigned = _pin_assigned(
        with_ivf_cell(embeddings, centroids, vec_col).select(
            id_col, vec_col, "ivf_cell"
        )
    )
    assigned, pair_keys = _with_pair_keys(
        assigned, centroids, vec_col, sub_planes, hot_cell_threshold
    )
    # hoist each row's norm out of the pair join: the SAME _norm expression
    # evaluated once per row instead of once per pair — operand doubles are
    # bit-identical, so cosine (dot / (na * nb)) is unchanged while the
    # per-pair work drops to one dot product
    normed = assigned.withColumn("_n", _norm(F.col(vec_col)))
    a = normed.select(
        F.col(id_col).alias("_a"),
        F.col(vec_col).alias("_vec_a"),
        F.col("_n").alias("_na"),
        *pair_keys,
    )
    cos = _dot(F.col("_vec_a"), F.col(vec_col)) / (F.col("_na") * F.col("_n"))
    dupes = (
        a.join(normed, pair_keys)
        .filter(F.col("_a") < F.col(id_col))
        .filter(F.round(cos, 6) >= threshold)
        .select(id_col)
        .distinct()
    )
    return assigned.join(dupes, id_col, "left_anti").select(id_col, "ivf_cell")


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector int8 scalar quantization (SQ8 — the FAISS/IVF-SQ storage
    family): each float dimension maps to ``floor((x - vmin) / step + 0.5)``
    with per-vector ``(qmin, qstep)`` carried alongside, cutting embedding
    storage 4× — at 100 TB the embedding column IS the storage bill, and
    ANN recall loss at 8 bits is small (verified by the recall test).
    Degenerate constant vectors (step 0) quantize to all-zeros with the
    reconstruction carried entirely by ``qmin``.

    Every output is a deterministic double expression evaluated
    identically by any IEEE engine (floor-half-up, no libm), so the int
    codes are bit-reproducible by a SQL oracle — same reason the LSH
    hyperplanes are integer-quantized. Map-only codegen, no Python, no
    shuffle."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vmin = F.array_min(vec)
    vmax = F.array_max(vec)
    step = (vmax - vmin) / F.lit(255.0)
    q = F.when(
        step > 0,
        F.transform(vec, lambda x: F.floor((x - vmin) / step + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(vec, lambda x: F.lit(0)))
    return df.select(
        id_col,
        vmin.alias("qmin"),
        step.alias("qstep"),
        q.alias("qvec"),
    )


def dequantize_col(qmin: Column, qstep: Column, qvec: Column) -> Column:
    """Reconstruct the float vector: x̂_i = qmin + q_i * qstep (codegen)."""
    return F.transform(qvec, lambda q: qmin + q.cast("double") * qstep)


def sq8_topk(
    quantized: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k over DEQUANTIZED SQ8 vectors — the memory-
    bound scan the 4× compression buys runs entirely in codegen
    (TakeOrderedAndProject top-k, no Python). ``query_vec`` is a 1-row
    DataFrame with a ``qvec_query`` double-array column (quantize the
    query too, or pass it exact)."""
    deq = dequantize_col(F.col("qmin"), F.col("qstep"), F.col("qvec"))
    return (
        quantized.crossJoin(F.broadcast(query_vec))
        .select(
            id_col,
            F.round(cosine_col(deq, F.col("qvec_query")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _kmeans_plain(mat: np.ndarray, k: int, n_iters: int = 5, seed: int = 31) -> np.ndarray:
    """Seeded Lloyd k-means in PLAIN (non-normalized) Euclidean space — the
    PQ codebook trainer. Pure numpy, seeded init, fixed iteration count,
    distances rounded to 6 decimals before each argmin so assignment can
    never flip on summation-order float noise: trainer and oracle
    generator produce bit-identical codebooks from the same matrix."""
    mat = np.asarray(mat, dtype=np.float64)
    rng = np.random.RandomState(seed)
    cent = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)].copy()
    for _ in range(n_iters):
        d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = np.argmin(np.round(d, 6), axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def train_pq_codebooks(
    embeddings: DataFrame,
    dim: int,
    m: int = 4,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int = 1,
    n_iters: int = 5,
    max_sample_rows: int = 1_000_000,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011, public): the
    vector splits into ``m`` contiguous subspaces, each with its own
    ``n_centroids``-entry Euclidean codebook — storage per vector drops
    to m small ints while distances reconstruct per-subspace (the
    FAISS IVF+PQ pairing; SQ8 is the 4× cut, PQ is the 16-64× cut).

    Same driver-side discipline as :func:`train_ivf_centroids`: a
    deterministic key-sampled subset, HARD-BOUNDED before any rows land
    on the driver, sorted by id so training is partition-order
    independent. Codebooks are a (m, n_centroids, dim/m) array regardless
    of corpus size; encoding stays fully distributed."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sample = embeddings.filter(F.col(id_col) % sample_mod == 0).select(id_col, vec_col)
    n_sample = sample.limit(max_sample_rows + 1).count()
    if n_sample > max_sample_rows:
        raise ValueError(
            f"PQ training sample exceeds max_sample_rows={max_sample_rows}: "
            f"raise sample_mod (currently {sample_mod})"
        )
    if n_sample < max(1, n_centroids):
        # fewer rows than centroids would silently train truncated codebooks
        raise ValueError(
            f"PQ training sample too small: {n_sample} rows for "
            f"n_centroids={n_centroids}: lower sample_mod (currently {sample_mod})"
        )
    pdf = sample.toPandas().sort_values(id_col)
    mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    if mat.ndim != 2 or mat.shape[1] != dim:
        raise ValueError(
            f"embedding length {mat.shape[1] if mat.ndim == 2 else 'ragged'} "
            f"!= dim={dim}: a mismatched dim would silently train and "
            "encode only a prefix of every vector"
        )
    sub = dim // m
    return np.stack(
        [
            _kmeans_plain(mat[:, s * sub : (s + 1) * sub], n_centroids, n_iters, seed=31 + s)
            for s in range(m)
        ]
    )


def pq_codes_for(mat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, dim) matrix → (n, m) int codes: per-subspace argmin of the
    rounded squared distance (ties → lowest centroid id). Pure numpy —
    THE shared encoder: the Spark UDF and the oracle generator both call
    this exact function, so driver replay and distributed encode agree
    bit-for-bit."""
    m, _k, sub = codebooks.shape
    mat = np.asarray(mat, dtype=np.float64)
    if len(mat) == 0:
        # an empty Arrow batch must yield an empty (0, m) code array, not
        # an IndexError aborting the whole encode task
        return np.empty((0, m), dtype=np.int32)
    codes = np.empty((len(mat), m), dtype=np.int32)
    for s in range(m):
        x = mat[:, s * sub : (s + 1) * sub]
        d = ((x[:, None, :] - codebooks[s][None, :, :]) ** 2).sum(-1)
        codes[:, s] = np.argmin(np.round(d, 6), axis=1)
    return codes


def pq_reconstruct_for(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, m) codes → (n, dim) reconstructed vectors (concatenated
    per-subspace centroids). Pure numpy, shared with the oracle."""
    return np.concatenate(
        [codebooks[s][codes[:, s]] for s in range(codebooks.shape[0])], axis=1
    )


def pq_encode(
    embeddings: DataFrame, codebooks: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Distributed PQ encode: one Arrow batch → one numpy matmul-free
    distance pass per subspace (pq_codes_for). Adds ``pq_code``
    ARRAY<INT> of length m."""
    books = np.asarray(codebooks, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(vec: pd.Series) -> pd.Series:
        mat = np.array(vec.tolist(), dtype=np.float64)
        return pd.Series(pq_codes_for(mat, books).tolist())

    return embeddings.withColumn("pq_code", enc(F.col(vec_col)))


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric distance computation — THE PQ query path: the query
    stays exact while corpus vectors are their codes; per subspace a
    16-entry lookup table of squared distances from the query subvector
    to each centroid is precomputed driver-side (m×k floats, O(1) in
    corpus size) and shipped as codegen literals, so scoring a vector is
    m array lookups + adds — NO reconstruction, NO Python, and the scan
    reads only the int codes (the 16-64× compressed column), never the
    float vectors. Top-k by ascending approximate L2 (TakeOrdered).
    Distances round to 6 decimals (the family's argmin convention) so
    ranking is engine-reproducible."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, _kc, sub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape != (m * sub,):
        # a longer query would silently score only its first m*sub dims
        raise ValueError(
            f"query_vec shape {q.shape} != ({m * sub},): codebooks are "
            f"{m} subspaces x {sub} dims"
        )
    luts = [
        np.round(((books[s] - q[s * sub : (s + 1) * sub]) ** 2).sum(axis=1), 6)
        for s in range(m)
    ]
    lut_cols = [F.array(*[F.lit(float(v)) for v in luts[s]]) for s in range(m)]
    dist = None
    for s in range(m):
        term = F.element_at(lut_cols[s], F.col("pq_code")[s] + 1)
        dist = term if dist is None else dist + term
    return (
        encoded.select(id_col, F.round(dist, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )
