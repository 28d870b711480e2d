"""Document-level deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The training-data-pipeline counterpart of the crawl's URL dedup: exact dedup
is a hash groupBy (pure codegen); near-dup follows the classic
shingle → MinHash signature → banded LSH → bucket join → exact-Jaccard
verify pipeline. Signatures are computed in Arrow-batched pandas UDFs with
numpy (deterministic CRC-based shingle hashing — never Python's salted
``hash``); candidate generation and verification are DataFrame joins so
Catalyst/AQE own the shuffle strategy.

Scale notes: LSH banding means the only big shuffle is groupBy(band_hash) —
at 100 TB the band table is (n_docs × n_bands) rows of two longs, and the
pair join stays proportional to true-near-dup density instead of n².
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

_MERSENNE = (1 << 61) - 1


def _tok64_md5(tok: str, cache: dict) -> int:
    """64-bit token hash: little-endian uint64 of md5 digest bytes [8:16] —
    exactly DuckDB's md5_number_lower(tok), so every signature built on it
    (simhash, MinHash shingles) is reproducible by a SQL oracle. Memoized
    across the Arrow batch (webtext vocabulary is highly repetitive)."""
    v = cache.get(tok)
    if v is None:
        v = int.from_bytes(hashlib.md5(tok.encode()).digest()[8:16], "little")
        cache[tok] = v
    return v


def exact_duplicates(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_dups, doc_ids)."""
    return (
        df.withColumn("text_hash", F.sha2(F.col(text_col), 256))
        .groupBy("text_hash")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.sort_array(F.collect_list(key_col)).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


# Odd multiplier for the positional shingle combine (splitmix64 constant).
_SHINGLE_C = np.uint64(0x9E3779B97F4A7C15)


def _shingle_hashes(text: str, k: int, _cache: dict | None = None) -> np.ndarray:
    """Distinct k-token shingle hashes, numpy-vectorized.

    Each token is md5-hashed once to 62 bits (memoized across the Arrow
    batch via ``_cache``; 62 = md5_number_lower >> 2 so a DuckDB oracle can
    replay the combine in HUGEINT without overflow), then the k-window
    combine is a sliding-window dot product with powers of an odd 64-bit
    constant (uint64 wraparound arithmetic). Equivalent discriminating power
    to hashing the joined shingle string, without materializing any joined
    strings — the per-shingle cost drops from O(k·len(token)) string work to
    one vectorized multiply-add."""
    toks = (text or "").lower().split()
    if _cache is None:
        _cache = {}
    th = np.fromiter(
        (_tok64_md5(t, _cache) >> 2 for t in toks),
        dtype=np.uint64,
        count=len(toks),
    )
    with np.errstate(over="ignore"):  # uint64 wraparound is the intended math
        if len(toks) < k:
            acc = np.uint64(k)  # length-salt so short docs of equal prefix differ
            for v in th:
                acc = acc * _SHINGLE_C + v
            return np.array([acc], dtype=np.uint64)
        windows = np.lib.stride_tricks.sliding_window_view(th, k)
        weights = _SHINGLE_C ** np.arange(k, dtype=np.uint64)
        return np.unique(windows @ weights)


def _minhash_params(n_hashes: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)  # fixed seed → deterministic engine-wide
    a = rng.randint(1, _MERSENNE, size=n_hashes, dtype=np.uint64) | np.uint64(1)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n_hashes: int = 64, shingle_k: int = 5
) -> DataFrame:
    """Add ``signature ARRAY<BIGINT>`` of MinHash values."""
    a, b = _minhash_params(n_hashes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(text: pd.Series) -> pd.Series:
        out = []
        cache: dict = {}  # token-hash memo shared across the Arrow batch
        for t in text:
            sh = _shingle_hashes(t, shingle_k, cache)
            # (a*x + b) mod p, min over shingles, per hash function
            vals = (a[None, :] * sh[:, None] + b[None, :]) % np.uint64(_MERSENNE)
            out.append(vals.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    return df.withColumn("signature", sig(F.col(text_col)))


def _band_table(signed: DataFrame, key_col: str, n_bands: int) -> DataFrame:
    """(key, band, band_hash) rows: contiguous signature slices hashed
    JVM-side — the shared banding step of the symmetric and incremental
    LSH joins."""
    rows_per_band = F.floor(F.size("signature") / n_bands).cast("int")
    return (
        signed.select(key_col, "signature")
        .withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))))
        .withColumn(
            "band_hash",
            F.xxhash64(
                F.col("band"),
                F.slice(
                    "signature", F.col("band") * rows_per_band + 1, rows_per_band
                ).cast("string"),
            ),
        )
        .select(key_col, "band", "band_hash")
    )


def lsh_candidate_pairs(
    signed: DataFrame, key_col: str = "doc_id", n_bands: int = 16
) -> DataFrame:
    """Band the signatures, bucket-join, emit candidate (a, b) pairs with
    a < b. Bands are contiguous signature slices hashed JVM-side."""
    banded = _band_table(signed, key_col, n_bands)
    left = banded.withColumnRenamed(key_col, "a")
    right = banded.withColumnRenamed(key_col, "b")
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _exact_jaccard_udf(shingle_k: int):
    """Arrow-batched exact shingle-set Jaccard — THE shared verifier of the
    symmetric and incremental LSH paths (one definition, so the two can
    never diverge on shingle params or the empty-union convention)."""

    @F.pandas_udf(T.DoubleType())
    def jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = []
        cache: dict = {}
        for x, y in zip(ta, tb):
            sa = _shingle_hashes(x, shingle_k, cache)
            sb = _shingle_hashes(y, shingle_k, cache)
            # both sides are sorted-unique arrays; intersect1d beats set ops
            n_inter = np.intersect1d(sa, sb, assume_unique=True).size
            union = sa.size + sb.size - n_inter
            out.append(n_inter / union if union else 1.0)
        return pd.Series(out)

    return jac


def verify_jaccard_pairs(
    pairs: DataFrame,
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs (kills LSH false
    positives — the same confirm-behind-the-filter pattern as the URL
    Bloom)."""
    docs = df.select(F.col(key_col), F.col(text_col))
    joined = (
        pairs.join(docs.withColumnRenamed(key_col, "a").withColumnRenamed(text_col, "text_a"), "a")
        .join(docs.withColumnRenamed(key_col, "b").withColumnRenamed(text_col, "text_b"), "b")
    )
    jac = _exact_jaccard_udf(shingle_k)
    return (
        joined.withColumn("jaccard", jac("text_a", "text_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def near_duplicates_minhash(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Full pipeline: signatures → LSH candidates → exact verify."""
    signed = minhash_signatures(df, text_col, n_hashes, shingle_k)
    pairs = lsh_candidate_pairs(signed, key_col, n_bands)
    return verify_jaccard_pairs(pairs, df, key_col, text_col, shingle_k, threshold)


def simhash(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over md5 token hashes (sign-sum of bit contributions;
    token hash = DuckDB md5_number_lower, so the whole signature carries a
    SQL oracle)."""

    @F.pandas_udf(T.LongType())
    def sh(text: pd.Series) -> pd.Series:
        out = []
        cache: dict = {}
        for t in text:
            toks = (t or "").lower().split()
            if not toks:
                out.append(0)
                continue
            hs = np.fromiter(
                (_tok64_md5(w, cache) for w in toks), dtype=np.uint64, count=len(toks)
            )
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
                np.int64
            )
            acc = (2 * bits - 1).sum(axis=0)
            val = int(
                ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
                    dtype=np.uint64
                )
            )
            # to signed int64
            out.append(val - (1 << 64) if val >= (1 << 63) else val)
        return pd.Series(out, dtype="int64")

    return df.select(key_col, F.col(text_col)).withColumn("simhash", sh(F.col(text_col))).drop(
        text_col
    )


def word_ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    sample_mod: int = 25,
) -> DataFrame:
    """Word n-gram Jaccard near-dup over a deterministic key sample — the
    exact-set sibling of the MinHash estimate, fully JVM-side (split →
    transform/slice n-grams → array_intersect/array_union), so it carries a
    DuckDB oracle. Docs shorter than n tokens are excluded (no stable
    cross-engine semantics for degenerate grams)."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )
    sampled = (
        df.filter(F.col(key_col) % sample_mod == 0)
        .withColumn("_words", words)
        .filter(F.size("_words") >= n)
        .select(key_col, grams.alias("grams"))
    )
    a = sampled.select(F.col(key_col).alias("a"), F.col("grams").alias("grams_a"))
    b = sampled.select(F.col(key_col).alias("b"), F.col("grams").alias("grams_b"))
    return a.join(b, F.col("a") < F.col("b")).select(
        "a",
        "b",
        F.round(
            F.size(F.array_intersect("grams_a", "grams_b"))
            / F.size(F.array_union("grams_a", "grams_b")),
            4,
        ).alias("ngram_jaccard"),
    )


def char_jaccard_pairs(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text", sample_mod: int = 100
) -> DataFrame:
    """Character-set Jaccard over a deterministic key sample — fully
    codegen-expressible (array_distinct/array_intersect/array_union), so it
    carries a DuckDB oracle unlike the shingle pipelines."""
    sampled = df.filter(F.col(key_col) % sample_mod == 0).select(
        key_col,
        F.array_remove(F.array_distinct(F.split(F.lower(text_col), "")), "").alias("chars"),
    )
    a = sampled.select(F.col(key_col).alias("a"), F.col("chars").alias("chars_a"))
    b = sampled.select(F.col(key_col).alias("b"), F.col("chars").alias("chars_b"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                F.size(F.array_intersect("chars_a", "chars_b"))
                / F.size(F.array_union("chars_a", "chars_b")),
                4,
            ).alias("char_jaccard"),
        )
    )


def duplicate_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iters: int = 32
) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS: connected components by
    min-label propagation (the standard MinHash postprocessing — "keep one
    doc per component" needs components, not pairs).

    Each iteration joins current labels across edges and takes the per-node
    min — pure DataFrame joins/aggregations, so Catalyst/AQE own the
    shuffles; iterations needed = graph diameter in label-hops (near-dup
    components are small and dense, so single digits even at corpus scale —
    this is the standard large-graph CC recipe absent GraphFrames).
    Convergence is detected with one small count per iteration; plans stay
    shallow because each round's labels are just (node, label) pairs.

    Returns (doc_id, component) where component = min doc_id reachable —
    only docs that appear in ``pairs`` (singletons are their own trivial
    component and are omitted, matching the pairs table's domain).
    """
    edges = pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
    edges = edges.unionByName(
        edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).distinct()
    # checkpoint the edge list once (pays any upstream UDF pipeline a single
    # time) and each label generation (iterative joins otherwise stack into
    # a combinatorial plan — the same lineage-truncation rule the crawl
    # round loop applies)
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("x").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    def _improvable(lbls: DataFrame) -> int:
        """1 if another propagation pass would still lower some label."""
        neighbor_min = (
            edges.join(lbls, edges.y == lbls.node)
            .groupBy("x")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("x", "node")
        )
        return (
            lbls.join(neighbor_min, "node")
            .filter(F.col("nlabel") < F.col("label"))
            .limit(1)
            .count()
        )

    changed = None
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.y == labels.node)
            .groupBy("x")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("x", "node")
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
                (F.col("nlabel").isNotNull() & (F.col("nlabel") < F.col("label"))).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("_chg").limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    # Convergence must be PROVEN, never assumed: if the loop's last pass
    # still changed labels (or never ran, max_iters=0), one extra probe
    # checks whether a further pass would lower anything — the last pass
    # may legitimately have been the finishing one. Falling through
    # silently would hand callers PARTIALLY-propagated labels ("keep one
    # doc per component" would under-dedup with no signal); label-hop
    # diameter of near-dup components is single digits, so an actual raise
    # means a pathological graph or a lowered max_iters.
    if (changed is None or changed != 0) and _improvable(labels) != 0:
        raise RuntimeError(
            f"duplicate_components did not converge within max_iters={max_iters}; "
            "labels are partially propagated — raise max_iters"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------


def shingle_table(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(key, shingle) — the document's DISTINCT k-token shingle hashes,
    exploded to one row each. Same hash chain as MinHash (md5 token hashes
    >> 2, uint64 sliding combine — see _shingle_hashes), stored as the
    int64 wraparound cast; equality joins are preserved under the cast, so
    a DuckDB oracle can replay collision COUNTS in HUGEINT without
    converting."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sh(text: pd.Series) -> pd.Series:
        cache: dict = {}
        return pd.Series(
            [_shingle_hashes(t, k, cache).astype(np.int64).tolist() for t in text]
        )

    return df.select(
        F.col(key_col).alias("key"), F.explode(sh(F.col(text_col))).alias("shingle")
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: which corpus docs share >= 1 exact
    k-token shingle with a benchmark item, and what fraction of the doc's
    shingles that overlap covers — the standard pre-training contamination
    check (exact n-gram collision, the conservative first pass before any
    fuzzy matching).

    Scale shape: the benchmark side is SMALL by definition (eval sets are
    10^3-10^5 items), so its shingle table broadcasts and the 100-TB corpus
    streams through a broadcast hash join — no corpus shuffle. Collision
    counting is a groupBy on the (sparse) matched pairs only, proportional
    to true contamination density, never |corpus| x |benchmark|.

    Returns (doc_id, bench_id, n_shared, n_shingles, overlap)."""
    c = shingle_table(corpus, text_col, key_col, k).withColumnRenamed("key", "doc_id")
    b = shingle_table(benchmark, text_col, key_col, k).withColumnRenamed(
        "key", "bench_id"
    )
    hits = (
        c.join(F.broadcast(b), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sizes = c.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_shingles"))
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "bench_id",
        "n_shared",
        "n_shingles",
        F.round(F.col("n_shared") / F.col("n_shingles"), 4).alias("overlap"),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_para: int = 3,
) -> DataFrame:
    """CCNet-style corpus-wide paragraph-level exact dedup: split every
    document into fixed-width word windows ("paragraphs" — the synthetic
    corpus is single-line, so windows stand in for newline paragraphs),
    keep only the globally FIRST occurrence of each distinct paragraph
    (min (doc_id, pos)), and rebuild each document from its surviving
    paragraphs.

    Returns (id, n_paras, n_kept, clean_text). All codegen — the explode,
    the first-occurrence groupBy, and the ordered rebuild are builtin
    expressions; the only shuffles are the paragraph-hash exchange and the
    per-doc regroup, both key-partitioned (the 100-TB shape: paragraph
    dedup is one groupBy over the exploded corpus, never pairwise).

    The first-occurrence key is the STRUCT (doc_id, pos) under min — exact
    lexicographic first occurrence for any doc_id/paragraph count (the
    scalar doc_id*2^20+pos form this replaces silently corrupts the choice
    once a doc has >= 2^20 paragraphs or doc_id >= 2^43; the SQL oracle
    still replays the scalar form, which is identical in-range)."""
    toks = F.split(F.col(text_col), " ")
    n_paras = F.ceil(F.size(toks) / F.lit(float(words_per_para))).cast("int")
    paras = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_paras - 1),
                lambda k: F.concat_ws(
                    " ", F.slice(toks, k * words_per_para + 1, words_per_para)
                ),
            )
        ).alias("pos", "para"),
    )
    key = F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
    firsts = paras.groupBy("para").agg(F.min(key).alias("first_key"))
    flagged = paras.join(firsts, "para").withColumn("kept", key == F.col("first_key"))
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("pos", "para")))
                ),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("clean_text"),
    )


def _positional_shingle_hashes(text: str, k: int, _cache: dict) -> np.ndarray:
    """Per-POSITION k-token shingle hashes (same md5>>2 token hash + uint64
    sliding combine as _shingle_hashes, WITHOUT the distinct): index i
    hashes tokens[i:i+k] of text.lower().split(). Empty for docs shorter
    than k — no full window exists, so exact-substring dedup skips them."""
    toks = (text or "").lower().split()
    if len(toks) < k:
        return np.empty(0, dtype=np.uint64)
    th = np.fromiter(
        (_tok64_md5(t, _cache) >> 2 for t in toks),
        dtype=np.uint64,
        count=len(toks),
    )
    with np.errstate(over="ignore"):
        windows = np.lib.stride_tricks.sliding_window_view(th, k)
        weights = _SHINGLE_C ** np.arange(k, dtype=np.uint64)
        return windows @ weights


def cdc_chunks(
    df: DataFrame,
    mask_bits: int = 6,
    max_len: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking at token granularity (the storage-dedup
    primitive — LBFS, Muthitacharoen et al. 2001; FastCDC 2016, both
    public): a chunk boundary falls AFTER token i when the token's 64-bit
    hash satisfies ``hash % 2^mask_bits == 0`` (expected chunk length
    2^mask_bits tokens), so an insertion early in a document shifts only
    the chunk it lands in — every later chunk re-aligns and its hash still
    matches the dedup store. Fixed-width chunking has no such property
    (one inserted token shifts every downstream boundary).

    Declarative deviation from FastCDC, documented: no min-size
    normalization; instead any mask-defined segment longer than
    ``max_len`` is re-split into fixed ``max_len`` windows — this keeps
    the whole operator a pure array-expression pipeline (cut positions →
    segments → oversized re-split → explode), map-only with no UDF except
    the Arrow-batched token-hash stream, and exactly SQL-replayable (the
    hash is md5_number_lower >> 2, the same chain every signature op here
    uses). Returns (id, chunk_id, n_tokens, chunk_hash, chunk_text);
    equal chunk_hash across documents = shared content block."""
    mask = 1 << mask_bits

    # ONE UDF yields both the token array and its hash stream from the SAME
    # Python str.split() (unicode whitespace, empties dropped) — deriving
    # tokens Spark-side (ASCII-\s split of a space-trimmed string) while
    # hashing Python-split tokens misaligns the two arrays on any leading/
    # unicode whitespace, silently cutting on the wrong token's hash.
    # Output text is therefore token-normalized (single spaces), the same
    # contract exact_substring_dedup's rebuild documents.
    @F.pandas_udf("toks array<string>, hs array<long>")
    def tok_and_hash(text: pd.Series) -> pd.DataFrame:
        cache: dict = {}
        toks_out, hs_out = [], []
        for t in text:
            toks = (t or "").split()
            toks_out.append(toks)
            hs_out.append(
                _positional_shingle_hashes(t, 1, cache).astype(np.int64).tolist()
            )
        return pd.DataFrame({"toks": toks_out, "hs": hs_out})

    base = (
        df.select(F.col(id_col), tok_and_hash(F.col(text_col)).alias("_th"))
        .select(
            id_col,
            F.col("_th.toks").alias("_toks"),
            F.col("_th.hs").alias("_hs"),
        )
        .filter(F.size("_toks") > 0)
    )
    n = F.size("_toks")
    # ordered cut positions (1-based, cut AFTER the position); the doc end
    # is always a cut
    cuts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (F.element_at("_hs", i) % mask == 0) | (i == n),
    )
    # mask segments -> fixed re-split of any segment past max_len
    def seg_chunks(c, j):
        start = F.when(j == 0, F.lit(1)).otherwise(F.element_at("_cuts", j) + 1)
        seg_len = c - start + 1
        n_sub = F.ceil(seg_len / F.lit(float(max_len))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_sub - 1),
            lambda k: F.slice(
                F.col("_toks"),
                start + k * max_len,
                F.least(F.lit(max_len), seg_len - k * F.lit(max_len)),
            ),
        )

    chunks = base.withColumn("_cuts", cuts).select(
        id_col,
        F.posexplode(F.flatten(F.transform(F.col("_cuts"), seg_chunks))).alias(
            "chunk_id", "_chunk"
        ),
    )
    text_of = F.array_join("_chunk", " ")
    return chunks.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size("_chunk").cast("long").alias("n_tokens"),
        F.md5(text_of).alias("chunk_hash"),
        text_of.alias("chunk_text"),
    )


def exact_substring_dedup(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public): every k-token
    span that occurs MORE THAN ONCE corpus-wide is removed from every
    occurrence except the globally first (min (doc_id, pos)); overlapping
    removed spans merge, and each document is rebuilt from its surviving
    tokens (single-space token-normalized — the contract of a token-level
    dedup). Returns (id, n_tokens, n_removed, clean_text).

    Distributed shape (vs the paper's single-node suffix array): one
    positional-shingle explode (O(corpus tokens) rows), one hash-grouped
    first-occurrence aggregation, a gaps-and-islands window per doc to
    merge spans, and an array-lambda rebuild — shuffles are the shingle
    hash exchange and the per-doc regroup, nothing pairwise. The
    first-occurrence key is the STRUCT (doc_id, pos) under min — exact for
    any token count / doc_id (no 2^20-position or 2^43-id overflow); the
    SQL oracle replays the equivalent scalar doc_id*2^20+pos, identical
    in-range.

    The shingle UDF evaluates twice (once under the firsts aggregation,
    once on the join probe) — deliberate: a min/count window over sh would
    evaluate once but buffers each shingle's occurrence list in ONE task,
    and a viral boilerplate shingle has unbounded occurrence counts; the
    groupBy keeps partial aggregation (skew-safe) at the price of one
    extra cheap map pass."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def psh(text: pd.Series) -> pd.Series:
        cache: dict = {}
        return pd.Series(
            [
                _positional_shingle_hashes(t, k, cache).astype(np.int64).tolist()
                for t in text
            ]
        )

    occ = df.select(
        F.col(id_col), F.posexplode(psh(F.col(text_col))).alias("pos", "sh")
    )
    key = F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
    firsts = occ.groupBy("sh").agg(
        F.min(key).alias("first_key"), F.count("*").alias("n_occ")
    )
    spans = (
        occ.join(firsts, "sh")
        .filter((F.col("n_occ") > 1) & (key != F.col("first_key")))
        .select(id_col, F.col("pos").alias("start"), (F.col("pos") + k).alias("end"))
    )
    w = Window.partitionBy(id_col).orderBy("start")
    prev_max_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        spans.withColumn(
            "new_island",
            F.when(prev_max_end.isNull() | (F.col("start") > prev_max_end), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "island")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("start", "end")).alias("spans"))
    )
    # original-case tokens for the rebuild (hash positions align: lowering
    # never changes whitespace); empty docs get an empty token list, not
    # split('')'s ['']
    toks = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    joined = df.join(islands, id_col, "left").select(
        F.col(id_col),
        toks.alias("toks"),
        F.coalesce(
            "spans", F.array().cast("array<struct<start:long,end:long>>")
        ).alias("spans"),
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("spans"), lambda s: (i >= s["start"]) & (i < s["end"])
    )
    kept = F.filter(F.col("toks"), lambda x, i: ~covered(i.cast("long")))
    return joined.select(
        id_col,
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


# --------------------------------------------------------------------------
# quality-aware representative selection
# --------------------------------------------------------------------------


def select_representatives(
    members: DataFrame,
    quality: DataFrame,
    key_col: str = "doc_id",
    cluster_col: str = "component",
    quality_col: str = "quality_micro",
) -> DataFrame:
    """Duplicate clusters + a per-doc quality signal → ONE kept doc per
    cluster: the member with the highest quality, ties broken by lowest
    ``key_col`` (the first-occurrence convention the rest of the dedup
    family uses). This is the "which copy do we train on" step that
    follows :func:`duplicate_components` — public pipelines keep the
    longest / highest-quality copy, not an arbitrary one (C4 keeps first
    occurrence; quality-aware selection is the refinement).

    ``quality_col`` must be an INTEGER (micro-unit) score — the same
    pre-quantization convention as the planning priorities
    (webgraph.pagerank/authority_priorities): integer comparisons are
    bit-stable across engines, so the argmax can never flip on float
    noise. Docs in ``members`` missing from ``quality`` rank below every
    scored doc (quality -2^62), loud in the output via a NULL
    ``rep_quality``.

    Scale shape: one join on ``key_col`` (rides the corpus bucketing) +
    ONE partial-aggregable groupBy(cluster) taking a struct-min of
    (-quality, key) — the identical single-exchange argmin pattern as
    paragraph_dedup's first-occurrence keys; a mega-cluster costs its
    member count in partial aggregation, never a window sort.
    """
    q = quality.select(
        F.col(key_col), F.col(quality_col).cast("long").alias("_q")
    )
    scored = members.join(q, key_col, "left").select(
        F.col(key_col),
        F.col(cluster_col),
        F.coalesce("_q", F.lit(-(1 << 62))).alias("_q"),
    )
    best = F.min(F.struct((-F.col("_q")).alias("nq"), F.col(key_col).alias("k")))
    agg = scored.groupBy(cluster_col).agg(
        best.alias("_best"),
        F.count("*").cast("long").alias("n_members"),
    )
    return agg.select(
        F.col(cluster_col),
        F.col("_best.k").alias("rep_" + key_col),
        F.when(F.col("_best.nq") != (1 << 62), -F.col("_best.nq")).alias(
            "rep_quality"
        ),
        "n_members",
        (F.col("n_members") - 1).alias("n_dropped"),
    )


_BAND_PARAMS = "minhash_band_params"


def minhash_band_table(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """(key, band, band_hash) rows for a corpus — a pure function of its
    texts, so a continuously-running crawl computes it ONCE per snapshot,
    persists it next to the snapshot, and feeds it to every later
    :func:`incremental_near_dups` call as ``old_bands`` instead of
    re-signing the unchanged history (the expensive per-doc shingle +
    minhash pass) on every new shard. ``band_hash`` carries the banding
    parameters as field metadata (it survives a parquet round trip), so
    a persisted table built with other parameters is refused rather than
    silently colliding on no band."""
    params = {"n_hashes": n_hashes, "n_bands": n_bands, "shingle_k": shingle_k}
    return _band_table(
        minhash_signatures(docs, text_col, n_hashes, shingle_k), key_col, n_bands
    ).withMetadata("band_hash", {_BAND_PARAMS: params})


def incremental_near_dups(
    new_docs: DataFrame,
    old_docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    old_bands: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW shard against an already-deduped HISTORY — the
    operational shape of a continuously-running crawl (each monthly
    Common-Crawl-style snapshot dedups against every prior snapshot, not
    just itself): the band join is ASYMMETRIC, new × old ONLY. Never
    new × new (that is the ordinary :func:`near_duplicates_minhash` over
    the shard) and never old × old (history is already deduped — at
    10^10 accumulated pages the old × old pair space is the dominant
    cost, and skipping it is the whole point).

    Returns (new_id, old_id, jaccard) — new docs whose text
    near-duplicates history; the caller anti-joins these out of the new
    shard before appending it. Band hashes are the same contiguous-slice
    xxhash as the symmetric path, so a (new, old) pair collides here
    exactly when it would collide in a full-corpus run.

    Scale shape: signatures are per-doc Arrow batches on each side; the
    bucket join shuffles band tables (n_docs × n_bands rows), never
    texts; exact-Jaccard verify touches only candidate pairs. At scale
    pass ``old_bands`` — the history's :func:`minhash_band_table`,
    computed once per snapshot and persisted — so the unchanged history
    is never re-signed; ``old_docs`` is then read only for the candidate
    pairs' verify texts. Omitting it recomputes the old side's bands
    in-line (fine at test scale, wasteful per shard at 10^10 pages).
    Raises ``ValueError`` when ``old_bands`` was not built by
    :func:`minhash_band_table` with this call's ``n_hashes``, ``n_bands``
    and ``shingle_k``.
    """
    if old_bands is not None:
        params = {"n_hashes": n_hashes, "n_bands": n_bands, "shingle_k": shingle_k}
        built = old_bands.schema["band_hash"].metadata.get(_BAND_PARAMS)
        if built != params:
            raise ValueError(
                f"old_bands was built with {built}, not {params}: rebuild it with "
                "minhash_band_table and this call's parameters"
            )
    new_b = minhash_band_table(
        new_docs, key_col, text_col, n_hashes, n_bands, shingle_k
    ).withColumnRenamed(key_col, "new_id")
    old_b = (
        old_bands
        if old_bands is not None
        else minhash_band_table(
            old_docs, key_col, text_col, n_hashes, n_bands, shingle_k
        )
    ).withColumnRenamed(key_col, "old_id")
    cand = (
        new_b.join(old_b, ["band", "band_hash"])
        .select("new_id", "old_id")
        .distinct()
    )
    new_texts = new_docs.select(
        F.col(key_col).alias("new_id"), F.col(text_col).alias("text_a")
    )
    old_texts = old_docs.select(
        F.col(key_col).alias("old_id"), F.col(text_col).alias("text_b")
    )
    joined = cand.join(new_texts, "new_id").join(old_texts, "old_id")
    jac = _exact_jaccard_udf(shingle_k)
    return (
        joined.withColumn("jaccard", jac("text_a", "text_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
    )
