"""Text analysis operators for training-data pipelines over ``documents``.

Hot-path math stays JVM-side (built-in expressions, whole-stage codegen) —
language-ID included; the rolling fingerprint is the one Arrow-batched numpy
op (per-window higher-order expressions are interpreted, not codegen'd, and
measured ~9x slower than the vectorized sliding-window combine). Every
operator is defined over SQL-expressible primitives and carries a DuckDB
oracle. These are engine-side capabilities beyond the reference (which only
extracts text); they operate on the corpus the crawl produces.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "auf", "ist"],
}


def token_count_col(text: Column) -> Column:
    """Whitespace token count, fully JVM-side: tokens in trimmed text."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count_col(text: Column) -> Column:
    """BPE-ish subword proxy: count of word/number/punct fragments via the
    GPT-2-style pre-tokenizer regex family (letters runs, digit runs,
    punct runs). The cheap JVM-side sibling of :func:`bpe_encode_col` —
    codegen, SQL-replayable; use the real encoder when the downstream bins
    by actual BPE ids."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def bpe_encode_col(text: Column) -> Column:
    """REAL byte-level BPE ids over the vendored merges table
    (functions.bpe — trained, committed, drift-tested): what a training
    pipeline actually bins token budgets by. Arrow-batched pandas UDF with
    a per-worker memoized encoder + per-batch word cache (webtext
    vocabulary repeats heavily); the merges ship inside the package, so
    nothing transits the driver."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(s: pd.Series) -> pd.Series:
        from upton_spark.functions.bpe import vendored_tokenizer

        tok = vendored_tokenizer()
        return pd.Series([tok.encode(t or "") for t in s])

    return enc(text)


def chunk_token_ids(
    df: DataFrame,
    window: int = 128,
    stride: int = 96,
    ids_col: str = "token_ids",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking over PRE-TOKENIZED id arrays (e.g.
    bpe_encode_col output) — same window math as :func:`chunk_documents`
    (every id covered, no chunk starts past the end, last chunk short) but
    the budget unit is real token ids, which is what a trainer packs.
    Returns (id, chunk_id, n_tokens, chunk_ids). Map-only explode of
    builtin slices — the one Python cost is upstream in the encoder."""
    ids = F.col(ids_col)
    n = F.size(ids)
    n_chunks = (
        F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(float(stride))).cast("int") + 1
    )
    chunk = lambda k: F.slice(ids, k * stride + 1, window)  # noqa: E731
    return df.filter(F.size(ids) > 0).select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk)
        ).alias("chunk_id", "_chunk"),
    ).select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size("_chunk").cast("long").alias("n_tokens"),
        F.col("_chunk").alias("chunk_ids"),
    )


def with_quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a composite
    score — the standard webtext quality gate, all codegen expressions."""
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = token_count_col(text)
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[.,;:!?\"'()]", ""))
    # ' the ' occurrences as a cheap English-stopword signal
    n_the = F.when(n_chars > 0,
                   (F.length(text) - F.length(F.regexp_replace(F.lower(text), r"\bthe\b", ""))) / 3
                   ).otherwise(F.lit(0))
    mean_token_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_punct", n_punct)
        .withColumn("punct_ratio", F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0))
        .withColumn("stopword_hits", n_the.cast("long"))
        .withColumn("mean_token_len", mean_token_len)
        .withColumn(
            "quality_score",
            F.when(
                (n_tokens >= 5) & (mean_token_len.between(2.0, 12.0)),
                1.0 - F.least(F.lit(1.0), F.col("punct_ratio") * 4),
            ).otherwise(0.0),
        )
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language guess: distinct-stopword hits per language
    over the first 400 tokens, argmax with first-wins tie-break in
    (en, es, fr, de) order, 'und' below 2 hits. Fully JVM codegen
    (split + array_intersect + CASE) — no Python in the plan, and the exact
    same expression carries a DuckDB oracle."""
    text = F.col(text_col)
    words = F.slice(F.split(F.trim(F.lower(text)), r"\s+"), 1, 400)
    hits = {
        lang: F.size(F.array_intersect(F.array(*[F.lit(s) for s in stops]), words))
        for lang, stops in _STOPWORDS.items()
    }
    top = F.greatest(*hits.values())
    guess = F.when(top < 2, "und")
    for lang in _STOPWORDS:  # dict order = first-wins tie-break
        guess = guess.when(hits[lang] == top, lang)
    return df.withColumn("lang_guess", guess.otherwise("und"))


def fingerprint(df: DataFrame, text_col: str = "text", window: int = 8) -> DataFrame:
    """Rolling document fingerprint (winnowing-style): min over k-token
    shingle hashes — robust to small edits, deterministic. Uses the MinHash
    machinery (md5 token hashes memoized across the Arrow batch, uint64
    sliding-window combine in numpy): one vectorized pass per doc instead
    of per-window higher-order expressions (HOF lambdas are interpreted,
    not codegen'd — measured ~9x slower), while staying exactly replayable
    by the DuckDB oracle (HUGEINT wraparound, min over shingles)."""
    from upton_spark.operators.dedup_docs import _shingle_hashes

    @F.pandas_udf(T.LongType())
    def fp(text: pd.Series) -> pd.Series:
        out = []
        cache: dict = {}
        for t in text:
            sh = _shingle_hashes(t, window, cache)
            out.append(int(sh.min().astype(np.int64)))  # wrap to signed i64
        return pd.Series(out, dtype="int64")

    return df.withColumn("fingerprint", fp(F.col(text_col)))


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    max_top_token_frac: float = 0.12,
    max_top_bigram_frac: float = 0.10,
    min_distinct_ratio: float = 0.40,
) -> DataFrame:
    """Gopher/C4-style repetition quality filter, fully JVM-side.

    Per document: type-token ratio, most-frequent-token fraction, and
    most-frequent-bigram fraction, plus a ``repetitive`` flag from the
    thresholds (defaults chosen to split a webtext corpus non-trivially;
    the Gopher paper's rule family — "fraction of characters in the most
    common n-gram" — applied at token granularity).

    Scale shape: LINEAR per document — tokens and bigrams are tagged,
    exploded, and counted with a (doc_id, gram) groupBy, then rolled up
    per doc with conditional aggregates (two key-partitioned exchanges
    with map-side partial aggregation, the second AQE-coalesced). The
    naive per-row form (`transform(array_distinct(toks), t ->
    size(filter(toks, x==t)))`) is O(n_tokens x n_distinct) INSIDE one
    row — a 100k-token document costs ~10^9 comparisons in a single task;
    the explode+groupBy shape spreads the same work linearly across the
    cluster and is skew-safe (partial aggregation bounds any one task).

    Contract (shared by every doc-keyed operator here): ``doc_id`` is a
    non-null unique key. The groupBy/join shape merges gram counts across
    rows sharing a doc_id and never matches a NULL one — both violate the
    documents-table key contract rather than this operator."""
    trimmed = F.trim(F.lower(F.col(text_col)))
    toks = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )
    base = df.select("doc_id", toks.alias("_toks")).withColumn("_n", F.size("_toks"))
    n = F.col("_n")
    # one exploded stream, unigrams prefixed "u " / bigrams "b " (tokens are
    # whitespace-split so the prefixes cannot collide across kinds)
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat(
                F.lit("b "),
                F.element_at("_toks", i + 1),
                F.lit(" "),
                F.element_at("_toks", i + 2),
            ),
        )
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.concat(F.transform("_toks", lambda t: F.concat(F.lit("u "), t)), bigrams)
        ).alias("gram"),
    )
    is_uni = F.col("gram").startswith("u ")
    stats = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.max(F.when(is_uni, F.col("_c"))).alias("_top_tok"),
            F.sum(F.when(is_uni, 1).otherwise(0)).alias("_nd"),
            F.max(F.when(~is_uni, F.col("_c"))).alias("_top_bigram"),
        )
    )
    d = (
        base.drop("_toks")
        .join(stats, "doc_id", "left")
        .withColumn("_nd", F.coalesce("_nd", F.lit(0)))
        .withColumn("_top_tok", F.coalesce("_top_tok", F.lit(0)))
        .withColumn("_top_bigram", F.coalesce("_top_bigram", F.lit(0)))
    )
    nd = F.col("_nd")
    distinct_ratio = F.when(n == 0, F.lit(0.0)).otherwise(nd / n)
    top_token_frac = F.when(n == 0, F.lit(0.0)).otherwise(F.col("_top_tok") / n)
    top_bigram_frac = F.when(n < 2, F.lit(0.0)).otherwise(
        F.col("_top_bigram") / (n - 1)
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(top_token_frac, 4).alias("top_token_frac"),
        F.round(top_bigram_frac, 4).alias("top_bigram_frac"),
        (
            (n > 0)  # emptiness is a length rule's concern, not repetition's
            & (
                (distinct_ratio < F.lit(min_distinct_ratio))
                | (top_token_frac > F.lit(max_top_token_frac))
                | (top_bigram_frac > F.lit(max_top_bigram_frac))
            )
        )
        .cast("int")  # int 0/1: engine-neutral for cross-engine hashing
        .alias("repetitive"),
    )


# PII scrubbing patterns — written to the common subset of Java regex
# (Spark, codegen) and RE2 (DuckDB oracle): no backrefs, no lookaround,
# non-capturing groups only, \b supported by both.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+\d{1,3}(?:-\d{3,4}){2,4}"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data PII redaction: emails, IPv4 addresses and
    international-format phone numbers replaced by typed placeholders, with
    per-document match counts (counted on the ORIGINAL text, so the counts
    are independent of replacement order; replacements apply
    email -> ip -> phone).

    All codegen (regexp_count/regexp_replace) — no Python in the scan, so
    the scrub rides the same whole-stage-codegen pass as the quality gates
    at 100 TB."""
    text = F.col(text_col)

    def n(pat: str) -> Column:
        return F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))

    clean = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    clean = F.regexp_replace(clean, PII_IPV4, "<IP>")
    clean = F.regexp_replace(clean, PII_PHONE, "<PHONE>")
    return (
        df.withColumn("n_emails", n(PII_EMAIL))
        .withColumn("n_ips", n(PII_IPV4))
        .withColumn("n_phones", n(PII_PHONE))
        .withColumn("clean_text", clean)
    )


def chunk_documents(
    df: DataFrame,
    window: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking for pre-training / retrieval: token windows
    of ``window`` tokens starting every ``stride`` tokens (overlap =
    window - stride), the last chunk short. Chunk count is
    ceil(max(n - window, 0) / stride) + 1, so every token is covered and no
    chunk starts past the end. Returns (id, chunk_id, n_tokens,
    chunk_text). All codegen (split/sequence/slice) — a map-only explode,
    no shuffle at all."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = (
        F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(float(stride))).cast("int") + 1
    )
    chunk = lambda k: F.slice(toks, k * stride + 1, window)  # noqa: E731
    return df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk)
        ).alias("chunk_id", "_chunk"),
    ).select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size("_chunk").cast("long").alias("n_tokens"),
        F.array_join("_chunk", " ").alias("chunk_text"),
    )


_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher document-level quality rules (Rae et al. 2021, public — the
    standard webtext gate family CCNet/FineWeb pipelines apply before
    training): word-count bounds, mean-word-length in [3, 10], symbol
    ('#'/'...')-to-word ratio < 0.1, bullet-started lines < 90%,
    ellipsis-ended lines < 30%, >= 80% of words containing an alphabetic
    character, and >= 2 distinct common stopwords present.

    Complements :func:`repetition_stats` (the REPETITION half of Gopher) —
    these are the structural/document rules. All builtin expressions (map
    only, no shuffle, no Python), every intermediate ratio SQL-replayable.
    Returns per-doc features + the composite ``gopher_pass`` flag."""
    raw = F.col(text_col)
    text = F.trim(raw)
    words = F.when(text == "", F.array().cast("array<string>")).otherwise(
        F.split(text, r"\s+")
    )
    n = F.size(words)
    char_total = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda a, x: a + x
    )
    mean_wl = F.when(n > 0, char_total / n).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.when(n > 0, alpha_words / n).otherwise(F.lit(0.0))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / F.lit(3)
    symbol_ratio = F.when(n > 0, (n_hash + n_ellipsis) / n).otherwise(F.lit(0.0))
    lines = F.split(raw, "\n")
    n_lines = F.size(lines)
    bullet_ratio = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    ) / n_lines
    ellipsis_line_ratio = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"\.\.\.$"))
    ) / n_lines
    stop_hits = F.size(
        F.array_intersect(
            F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
            F.transform(words, F.lower),
        )
    )
    gopher_pass = (
        n.between(min_words, max_words)
        & mean_wl.between(3.0, 10.0)
        & (symbol_ratio < 0.1)
        & (bullet_ratio < 0.9)
        & (ellipsis_line_ratio < 0.3)
        & (alpha_ratio > 0.8)
        & (stop_hits >= 2)
    )
    return df.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_ratio, 4).alias("bullet_line_ratio"),
        F.round(ellipsis_line_ratio, 4).alias("ellipsis_line_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_word_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
        gopher_pass.cast("int").alias("gopher_pass"),
    )


def c4_clean(df: DataFrame, text_col: str = "text", min_words: int = 3) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, public): keep only
    lines that end in terminal punctuation (. ! ? ") and have at least
    ``min_words`` words and don't mention javascript; flag (rather than
    silently drop) documents that trip the doc-level rules — a
    "lorem ipsum" occurrence, a curly brace, or fewer than 3 surviving
    lines. Returns the input plus (n_lines, n_kept_lines, c4_kept,
    clean_text). All codegen array lambdas over a '\\n' split — map-only,
    no shuffle, no Python."""
    text = F.col(text_col)
    lines = F.split(text, r"\n")
    line_ok = lambda ln: (  # noqa: E731
        ln.rlike(r'[.!?"]\s*$')
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_words)
        & ~F.lower(ln).contains("javascript")
    )
    kept = F.filter(lines, line_ok)
    doc_ok = (
        ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
        & (F.size(kept) >= 3)
    )
    return (
        df.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_kept_lines", F.size(kept).cast("long"))
        .withColumn("c4_kept", doc_ok)
        .withColumn("clean_text", F.array_join(kept, "\n"))
    )


# --------------------------------------------------------------------------
# unicode / whitespace normalization
# --------------------------------------------------------------------------

# C0 controls (minus \t \n \r, which are whitespace) + DEL — the bytes a
# training corpus never wants verbatim.  Written out explicitly so the same
# class compiles identically under Java regex (Spark) and RE2 (DuckDB).
_CONTROL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    form: str | None = "NFC",
    lowercase: bool = True,
    collapse_ws: bool = True,
    strip_controls: bool = True,
    out_col: str = "norm_text",
) -> DataFrame:
    """Training-corpus text normalization — the step every public pipeline
    (C4, CCNet, Gopher, DOLMA) runs before dedup/tokenization so that
    byte-different renderings of the same text hash the same: Unicode
    normal form (default NFC — composed, the web's dominant form), C0/DEL
    control stripping, whitespace-run collapsing + trim, and lowercasing,
    applied in that fixed order so the result is reproducible across
    engines (the DuckDB oracle replays the identical chain via
    ``nfc_normalize`` + the same regexes).

    Scale shape: everything except the Unicode form is built-in
    ``regexp_replace``/``lower``/``trim`` — map-only whole-stage codegen.
    The Unicode form is the one step Spark has no built-in for; it runs as
    an Arrow-batched pandas UDF over ``unicodedata.normalize`` (pass
    ``form=None`` to skip it and stay 100% codegen, e.g. when an upstream
    ingest already normalized). Map-only either way: no shuffle, no
    driver, order-independent per row.
    """
    col: Column = F.col(text_col)
    if form is not None:
        import unicodedata

        nf = str(form)

        @F.pandas_udf(T.StringType())
        def _norm(s: pd.Series) -> pd.Series:
            return pd.Series(
                [None if t is None else unicodedata.normalize(nf, t) for t in s]
            )

        col = _norm(col)
    if strip_controls:
        col = F.regexp_replace(col, _CONTROL_CLASS, "")
    if collapse_ws:
        col = F.trim(F.regexp_replace(col, r"\s+", " "))
    if lowercase:
        col = F.lower(col)
    return df.withColumn(out_col, col)


# --------------------------------------------------------------------------
# tf-idf keywords + inverted index (the search-side primitives)
# --------------------------------------------------------------------------


def _alnum_tokens(text: Column) -> Column:
    """Lowercased ``[a-z0-9]+`` runs — the deterministic tokenizer shared
    by the tf-idf / inverted-index family; identical semantics in Java
    regex and DuckDB RE2, so oracles replay it verbatim."""
    return F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), F.lit(0))


def tfidf_topk(
    df: DataFrame, k: int = 5, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-k keywords by tf-idf — the classic per-doc salience
    signal (anchor-free document labeling, dedup explainability, topic
    mixing reports).

    score = tf * ln((N+1)/(df+1)) with add-one smoothing. The ranking
    reads the score rounded to 6 places, then the term ascending: distinct
    (tf, df) pairs can score mathematically equal (tf=2/df=11 and tf=1/df=8
    at N=15 both give ln(16/9)), and the raw doubles then differ only in
    libm's last ulp, which no two engines need agree on.

    Scale shape: token explode (linear in corpus tokens) → partial-agg
    (doc, term) counts → vocab-sized df rollup joined back on term → ONE
    per-doc window bounded by the doc's own vocabulary. N arrives via a
    broadcast 1-row aggregate, not a driver action. Nothing pairwise, no
    global sort.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(key_col), F.explode(_alnum_tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(key_col, "term").agg(F.count("*").cast("long").alias("tf"))
    dft = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = df.select(
        F.count_distinct(F.col(key_col)).cast("long").alias("n_docs")
    )
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * F.log((F.col("n_docs") + 1) / (F.col("df") + F.lit(1.0))),
        )
    )
    w = Window.partitionBy(key_col).orderBy(
        F.desc(F.round("score", 6)), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            key_col,
            "rank",
            "term",
            "tf",
            "df",
            F.round("score", 6).alias("score"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shard_threshold: int = 1 << 16,
    n_shards: int = 64,
) -> DataFrame:
    """Term → sorted postings list — the primitive a crawl corpus feeds a
    search index with. Head terms (stopwords: df in the billions at
    10^10 pages) are the canonical skew bomb for a groupBy-collect, so any
    term whose document frequency exceeds ``shard_threshold`` has its
    postings SPLIT across ``n_shards`` deterministic shards
    (``key % n_shards`` — engine-portable, like the split/shard keys
    elsewhere); cold terms keep one shard (0). Every group's collected
    list is therefore bounded by max(shard_threshold, df/n_shards)-ish,
    never by a stopword's full posting count.

    Scale shape: token explode → distinct (term, doc) partial-agg → vocab
    rollup for df → join back on term → groupBy(term, shard) with an
    in-group sort_array. One window-free exchange per stage.
    """
    td = (
        df.select(
            F.col(key_col).alias("doc"),
            F.explode(_alnum_tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("term", "doc")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dft = td.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    sharded = td.join(dft, "term").withColumn(
        "shard",
        F.when(
            F.col("df") > shard_threshold, F.pmod(F.col("doc"), F.lit(n_shards))
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return sharded.groupBy("term", "shard").agg(
        F.first("df").alias("df"),
        F.count("*").cast("long").alias("shard_docs"),
        F.array_sort(F.collect_list("doc")).alias("postings"),
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", level: int = 6
) -> DataFrame:
    """zlib-deflate compression ratio per document — the classic cheap
    gibberish/template detector (highly repetitive boilerplate compresses
    to almost nothing; random word-salad barely compresses; natural prose
    sits in a stable band), used as a quality gate alongside the Gopher
    structural rules. Ratio surfaces in integer MICRO-units
    (``deflate_bytes * 1_000_000 div raw_bytes``) — exact integer
    arithmetic, bit-stable across engines like the sampling/priority
    keys; empty docs → NULL ratio.

    Scale shape: ONE Arrow-batched pandas stage for the deflate length
    (zlib is deterministic for a fixed level), raw length and the ratio
    pure codegen; map-only, no shuffle.
    """

    @F.pandas_udf(T.LongType())
    def _deflate_len(s: pd.Series) -> pd.Series:
        import zlib

        return pd.Series(
            [len(zlib.compress((t or "").encode("utf-8"), level)) for t in s],
            dtype="int64",
        )

    # NULL text counts as empty, matching the UDF's (t or '') — a bare
    # encode() would null-propagate and disagree with deflate_bytes
    raw = F.octet_length(
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8")
    ).cast("long")
    out = df.withColumn("raw_bytes", raw).withColumn(
        "deflate_bytes", _deflate_len(F.col(text_col))
    )
    return out.withColumn(
        "ratio_micro",
        F.when(
            F.col("raw_bytes") > 0,
            # int64 `div`, never float division: deflate*1e6 can pass 2^53
            # on huge docs and floor(double) would drift off by one
            F.expr("(deflate_bytes * CAST(1000000 AS BIGINT)) div raw_bytes"),
        ).cast("long"),
    )
