"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship frontier-style pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the training-data-pipeline operators); ``oracle_sql()``
carries the DuckDB-equivalent SQL for every SQL-expressible query. Column
names and rounding are aligned pairwise between the Spark and SQL sides;
floating aggregates are rounded so cross-engine summation-order noise can't
flip the value hash.

Signature pipelines (MinHash, SimHash, hyperplane LSH, rolling fingerprint,
language-ID) are deliberately defined over cross-engine primitives — md5
token hashes matching DuckDB's md5_number_lower, uint64-wraparound combines
replayed in HUGEINT, integer-quantized hyperplanes — so each carries a full
DuckDB oracle (constants baked into generated SQL); even the IVF quantizer and the
multimodal decode stub are deterministic enough to retrain/replay at
oracle-generation time. The crawl-loop queries (driver-side iterative
rounds) are not SQL-expressible as *computations*, but their *expected
outputs* are fixed constants pinned by the reference RSpec goldens
(/root/reference/spec/upton_spec.rb:14-40,139-171) plus the engine's
documented retry/robots/politeness lineage semantics — so each carries a
literal ``VALUES`` oracle (typed, ordered), giving every query the full
rows+schema+hash check. The same constants are independently asserted by
the pytest golden replay (tests/test_crawl_goldens.py,
tests/test_resume_and_gates.py), which is what actually *derives* them
from the reference fixtures.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


# (applicationId, sf_dir, name) -> DataFrame: DataFrames are immutable, so
# reusing one across the ~70 queries of a correctness sweep skips the
# repeated file-listing + footer schema read per query (the driver runs
# every query in one session). No .cache() — results and per-query plans
# are byte-identical to a fresh read.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _TABLE_CACHE[key] = df
    return df


def _docs_with_url(docs: DataFrame) -> DataFrame:
    """documents stand in for pages: url = source || '/' || doc_id
    (FIXTURES.md §5)."""
    return docs.withColumn(
        "url", F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string"))
    )


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: frontier-style schedule+extract over the sf0.001 corpus —
    URL synthesis + murmur3/xxhash64 keys + per-host politeness admission
    (5 tokens/host) + quality stats, aggregated per host."""
    from upton_spark.operators.textops import with_quality_stats

    docs = _docs_with_url(_t(spark, DEFAULT_SF_DIR, "documents"))
    hashed = docs.withColumn("url_hash", F.xxhash64("url")).withColumn(
        "url_hash32", F.hash("url")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    admitted = hashed.withColumn("rn", F.row_number().over(w)).withColumn(
        "admitted", F.col("rn") <= 5
    )
    scored = with_quality_stats(admitted.filter("admitted"))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_admitted"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
            F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# queries — crawl/url operator family
# --------------------------------------------------------------------------


def q_url_md5(spark, sf_dir):
    """Stash cache key: md5(url) (reference downloader.rb:126-128)."""
    return _docs_with_url(_t(spark, sf_dir, "documents")).select(
        "doc_id", "url", F.md5("url").alias("url_md5")
    )


def q_slug(spark, sf_dir):
    """slug(url) — last path segment minus query/.html tails
    (reference lib/upton.rb:348-350), JVM regexp chain."""
    docs = _docs_with_url(_t(spark, sf_dir, "documents")).withColumn(
        "page_url", F.concat(F.col("url"), F.lit(".html?q=1"))
    )
    last = F.element_at(F.split("page_url", "/"), -1)
    return docs.select(
        "doc_id",
        "page_url",
        F.regexp_replace(F.regexp_replace(last, r"\?.*", ""), r".html.*", "").alias("slug"),
    )


def q_pagination_rewrite(spark, sf_dir):
    """next_index_page_url param rewrite (reference lib/upton.rb:149-164)
    via the engine's vectorized UDF."""
    from upton_spark.functions.udfs import set_query_param_udf

    docs = _docs_with_url(_t(spark, sf_dir, "documents")).withColumn(
        "index_url", F.concat(F.lit("http://"), F.col("url"), F.lit("/list.html"))
    )
    return docs.select(
        "doc_id",
        "index_url",
        set_query_param_udf(F.col("index_url"), F.lit("p"), F.lit("2")).alias("next_url"),
    )


def q_readable_key(spark, sf_dir):
    """Readable stash filename (reference downloader.rb:130-135):
    strip non-[A-Za-z0-9_-], truncate to the 130-char budget, append
    '.html' — pure JVM regexp/substring."""
    from upton_spark.functions.udfs import readable_key_col

    docs = _docs_with_url(_t(spark, sf_dir, "documents")).withColumn(
        "page_url",
        F.concat(F.lit("http://"), F.col("url"), F.lit("/some/path-page_1.html?q=a&b=2")),
    )
    return docs.select(
        "doc_id", "page_url", readable_key_col(F.col("page_url")).alias("stash_key")
    )


def q_host_stats(spark, sf_dir):
    """Per-host crawl metrics rollup (SURVEY.md §2.4)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


def q_frontier_dedup(spark, sf_dir):
    """Exact URL/content dedup counts per host (stash dedup semantics)."""
    return (
        _docs_with_url(_t(spark, sf_dir, "documents"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct(F.md5("url")).cast("long").alias("n_unique_urls"),
            F.countDistinct(F.md5("text")).cast("long").alias("n_unique_texts"),
        )
    )


def q_politeness_admission(spark, sf_dir):
    """Token-bucket admission as a ranking window: first 5 per host."""
    docs = _docs_with_url(_t(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= 5)
        .select("source", "doc_id", "url", "host_rank")
    )


def q_latest_event_per_user(spark, sf_dir):
    """Dedup-latest / as-of: newest event per user (SURVEY.md §2.3)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type", F.round("value", 2).alias("value"))
    )


# --------------------------------------------------------------------------
# queries — relational coverage (scan/filter/agg/join/window/setops/rollup)
# --------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q_top_revenue_orders(spark, sf_dir):
    """Join + agg + deterministic top-k (broadcast dims, TakeOrdered)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)


def q_region_rollup_sales(spark, sf_dir):
    """Star-join through broadcast dims + grouping."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 1).alias("total_sales"),
        )
    )


def q_customers_without_orders(spark, sf_dir):
    """Left-anti join (the frontier-minus-seen shape) per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


def q_rich_customers_with_orders(spark, sf_dir):
    """Left-semi join (frontier ∩ pages shape)."""
    cust = _t(spark, sf_dir, "customer").filter("c_acctbal > 9000")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def q_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT over customer key sets, joined into one row."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = orders.select(F.col("o_custkey").alias("k")).distinct()
    negative = cust.filter("c_acctbal < 0").select(F.col("c_custkey").alias("k")).distinct()
    inter = with_orders.intersect(negative).agg(
        F.count("*").cast("long").alias("n_negative_with_orders")
    )
    exc = negative.exceptAll(with_orders).agg(
        F.count("*").cast("long").alias("n_negative_without_orders")
    )
    return inter.crossJoin(exc)


def q_rollup_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 1).alias("sum_qty"), F.count("*").cast("long").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


def q_pivot_linestatus(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 1))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


def q_sessionization(spark, sf_dir):
    """Gap>30min sessionization via lag + cumulative sum (SURVEY.md
    'common OLAP patterns')."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; session TZ is pinned UTC so epoch matches
    # DuckDB's naive epoch()
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    sess = ev.withColumn("new_session", gap).withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.count("*").cast("long").alias("n_events"),
    )


def q_hourly_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("hour", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"))
        .groupBy("hour", "event_type")
        .agg(F.count("*").cast("long").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# --------------------------------------------------------------------------
# queries — training-data pipeline operators
# --------------------------------------------------------------------------


def q_product_type_profit(spark, sf_dir):
    """TPC-H Q9-style star join through part + supplier + nation (covers the
    remaining dimension tables; dims broadcast, fact never shuffled twice)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "p_type")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def q_hot_hosts_topk(spark, sf_dir):
    """Top-k hot hosts by doc count (the skew monitor of SURVEY.md §2.5).

    orderBy().limit(k) plans as TakeOrderedAndProject — per-partition top-k
    then a k-row driver merge — so no single task ever holds the full host
    histogram (a global row_number window would: one partition-less sort of
    every host). The rank column is re-derived on the k surviving rows."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    top = counts.orderBy(F.col("n_docs").desc(), F.col("source")).limit(5)
    w = Window.orderBy(F.col("n_docs").desc(), F.col("source"))  # 5 rows only
    return top.withColumn("host_rank", F.row_number().over(w).cast("long")).select(
        "host_rank", "source", "n_docs", "total_chars"
    )


def q_bpe_token_stats(spark, sf_dir):
    """Token budgets two ways: the codegen pre-tokenizer proxy
    (n_subwords, SQL-replayable) and the REAL vendored byte-level BPE
    count (n_bpe_tokens — functions.bpe, Arrow-batched). The oracle
    replays n_subwords in SQL and n_bpe_tokens via an independent
    pure-Python re-encode of the same parquet text (_bpe_oracle), so the
    Spark UDF plumbing is cross-checked end to end."""
    from upton_spark.operators.textops import bpe_encode_col, bpe_ish_token_count_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_ish_token_count_col(F.col("text")).cast("long").alias("n_subwords"),
        F.length("text").cast("long").alias("n_chars_exact"),
        F.size(bpe_encode_col(F.col("text"))).cast("long").alias("n_bpe_tokens"),
    )


def _gopher_demo_text_col():
    """Deterministic multi-line text for the Gopher-rules query: the
    single-line corpus doc plus doc_id-keyed lines exercising every rule —
    bullets, ellipsis endings, symbol noise, stopword presence."""
    return F.concat_ws(
        "\n",
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("- bullet item one")).otherwise(
            F.lit("plain line two")
        ),
        F.when(F.col("doc_id") % 4 == 0, F.lit("to be continued...")).otherwise(
            F.lit("closing line and done")
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit("#tag ### noisy #symbols here")).otherwise(
            F.lit("clean words with the and of")
        ),
    )


def q_gopher_quality(spark, sf_dir):
    """Gopher document-level quality rules (Rae et al. 2021) — the
    structural half beside repetition_stats: word-count bounds, mean word
    length, symbol/bullet/ellipsis ratios, alpha-word ratio, stopword
    presence, composite pass flag. Map-only codegen; oracle replays every
    rule in DuckDB list functions on the same synthesized multi-line
    text."""
    from upton_spark.operators.textops import gopher_rules

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _gopher_demo_text_col().alias("text")
    )
    return gopher_rules(docs)


_ESD_BOILER = "copyright footer all rights reserved contact site admin"


def _c4_demo_text_col():
    """Deterministic multi-line text for the C4 query: the single-line
    corpus gets doc_id-derived lines exercising every rule — terminal
    punctuation, min-words, the javascript line filter, and the
    lorem-ipsum doc flag (docs with doc_id % 7 == 0)."""
    return F.concat_ws(
        "\n",
        F.concat(F.substring("text", 1, 60), F.lit(".")),
        F.lit("short one"),
        F.lit("please enable javascript to continue."),
        F.concat(F.substring("text", 61, 60), F.lit("!")),
        F.lit("no terminal punct here"),
        F.concat(F.substring("text", 121, 60), F.lit("?")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("lorem ipsum dolor sit amet."))
        .otherwise(F.lit("trailing line no punct")),
    )


def q_revisit_intervals(spark, sf_dir):
    """Adaptive revisit scheduling over the snapshot diff: changed pages
    halve their interval, unchanged double (clamped), added start at base,
    removed drop. Same two deterministic generations as
    crawl_snapshot_diff; integer arithmetic end-to-end."""
    from upton_spark.operators.webgraph import revisit_intervals, snapshot_diff

    docs = _docs_with_url(_t(spark, sf_dir, "documents"))
    old = docs.filter(F.col("doc_id") % 7 != 0).select(
        "url", F.md5("text").alias("content_hash")
    )
    new = docs.filter(F.col("doc_id") % 5 != 0).select(
        "url",
        F.md5(
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 3 == 0, F.lit("v2")).otherwise(F.lit("")),
            )
        ).alias("content_hash"),
    )
    return revisit_intervals(snapshot_diff(old, new)).orderBy("url")


def q_link_anchors(spark, sf_dir):
    """Anchor-text link projection: the REAL html parser + url resolver run
    over deterministically constructed markup (one resolved href + one
    bare anchor per doc), so the oracle can state the expected (href,
    anchor) rows directly — parser and resolver are what's under test."""
    from upton_spark.functions.udfs import extract_anchors_udf

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<html><body><p><a href="/p/'),
            F.col("doc_id"),
            F.lit('">anchor '),
            F.col("doc_id"),
            F.lit('</a><a class="x">bare</a></p></body></html>'),
        ).alias("html"),
        F.concat(F.lit("http://"), F.col("source"), F.lit("/")).alias("base"),
    )
    rows = docs.select(
        "doc_id",
        F.posexplode(
            extract_anchors_udf(F.col("html"), F.lit("p a"), F.col("base"))
        ).alias("pos", "a"),
    )
    return rows.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("a.href").alias("href"),
        F.col("a.anchor").alias("anchor"),
    ).orderBy("doc_id", "pos")


def q_blocklist_gate(spark, sf_dir):
    """URL blocklist gate: broadcast host-list join + codegen pattern
    rlikes (session-id and calendar-trap urls injected deterministically;
    blocklist = sources with length % 3 == 0)."""
    from upton_spark.operators.webgraph import blocklist_gate

    base = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("source").alias("host"),
        F.concat(
            F.lit("http://"),
            F.col("source"),
            F.lit("/p/"),
            F.col("doc_id"),
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("?sessionid="), F.col("doc_id")))
            .when(F.col("doc_id") % 11 == 0, F.lit("/calendar/2024/"))
            .otherwise(F.lit("")),
        ).alias("url"),
    )
    blocked_hosts = base.select("host").distinct().filter(F.length("host") % 3 == 0)
    return blocklist_gate(
        base, blocked_hosts, [r"[?&]sessionid=", r"/calendar/\d{4}/"]
    ).select("doc_id", "url", "host", "blocked", "block_reason").orderBy("doc_id")


def q_c4_clean(spark, sf_dir):
    """C4-style line-level cleaning (terminal-punctuation / min-words /
    javascript line rules; lorem-ipsum / brace / min-sentences doc flag).
    All codegen array lambdas; the oracle rebuilds the same demo lines and
    replays every rule in SQL."""
    from upton_spark.operators.textops import c4_clean

    docs = _t(spark, sf_dir, "documents").withColumn("text", _c4_demo_text_col())
    return c4_clean(docs).select(
        "doc_id", "n_lines", "n_kept_lines", "c4_kept", "clean_text"
    )


def q_exact_substring_dedup(spark, sf_dir):
    """Exact-substring dedup (Lee et al. 2022 shape): every duplicated
    8-token span removed from all but its globally-first occurrence. The
    word-soup corpus carries no organic exact spans, so the query appends a
    shared boilerplate sentence to every doc (the classic template-footer
    case) — the oracle builds the identical input and replays the
    positional-shingle chain, first-occurrence rule, span merge and
    rebuild in SQL."""
    from upton_spark.operators.dedup_docs import exact_substring_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.concat("text", F.lit(" " + _ESD_BOILER))
    )
    return exact_substring_dedup(docs, k=8).orderBy("doc_id")


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking (48-token windows, stride 32 — overlap 16)
    over the documents table; map-only explode, no shuffle."""
    from upton_spark.operators.textops import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, window=48, stride=32).orderBy("doc_id", "chunk_id")


def q_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights vs an English target (hashed
    unigram+bigram bag models, add-1 smoothed log-ratio). Oracle: the same
    md5-bucketed gram stream and per-bucket log-ratios (rounded to 6 so
    both engines sum identical terms) in SQL."""
    from upton_spark.operators.sampling import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, F.col("lang") == "en", n_buckets=4096).orderBy("doc_id")


def _synth_media_validate_rows(n: int = 60):
    """Deterministic media assets for the metadata-validation query: real
    png/gif/jpeg container bytes (vendored codecs — jpeg carries a REAL
    baseline entropy scan since the r5 jpeg_codec), with every 5th asset's
    sidecar dimensions LYING and every 7th asset's bytes truncated — pure
    function of the asset index, so the oracle re-derives the expected
    verdicts with the same parsers at generation time."""
    import numpy as np

    from upton_spark.operators.gif_codec import encode_gif_grey
    from upton_spark.operators.jpeg_codec import encode_jpeg_grey
    from upton_spark.operators.png_codec import encode_png

    rows = []
    for i in range(n):
        w, h = 8 + (i % 5), 6 + (i % 4)
        fmt = ["png", "gif", "jpeg"][i % 3]
        grid = ((np.arange(h * w, dtype=np.int64) * (i + 3)) % 256).reshape(h, w)
        if fmt == "png":
            payload = encode_png(grid.astype("uint8"))
        elif fmt == "gif":
            payload = encode_gif_grey(grid / 255.0)
        else:
            payload = encode_jpeg_grey(grid / 255.0, quant=1)
        if i % 7 == 0:
            payload = payload[: max(2, len(payload) // 3)]  # corrupt bytes
        meta_w, meta_h = (w + 2, h) if i % 5 == 0 else (w, h)  # lying sidecar
        rows.append(
            (i, f"http://media.example.org/{fmt}/{i}", payload,
             ("image", fmt, meta_w, meta_h, None))
        )
    return rows


def q_media_meta_check(spark, sf_dir):
    """Media metadata validation against REAL container bytes: per-asset
    dimensions parsed from png (IHDR via the vendored decoder), gif
    (logical screen descriptor), and jpeg (SOF marker walk) compared to the
    sidecar meta — lying sidecars surface as 'mismatch', corrupt payloads
    as 'parse_error'. Oracle: the asset table is a pure function of the
    index, so generation replays the same parsers in Python and bakes the
    expected verdicts as VALUES."""
    from upton_spark.operators.multimodal import MEDIA, media_meta_check

    media = spark.createDataFrame(_synth_media_validate_rows(), schema=MEDIA)
    return media_meta_check(media).orderBy("asset_id")


def _media_meta_check_oracle() -> str:
    """Baked-verdict oracle for q_media_meta_check: run the SAME pure-Python
    parsers over the deterministic assets at generation time."""
    from upton_spark.operators.multimodal import container_dimensions

    vals = []
    for (aid, _url, payload, (_mt, fmt, mw, mh, _d)) in _synth_media_validate_rows():
        try:
            w, h = container_dimensions(bytes(payload), fmt)
            rw, rh = str(w), str(h)
            status = "ok" if (mw == w and mh == h) else "mismatch"
        except Exception:
            rw = rh = "NULL"
            status = "parse_error"
        vals.append(f"({aid},'{fmt}',{mw},{mh},{rw},{rh},'{status}')")
    return (
        "SELECT CAST(asset_id AS BIGINT) AS asset_id, fmt, "
        "CAST(meta_width AS INT) AS meta_width, CAST(meta_height AS INT) AS meta_height, "
        "CAST(real_width AS INT) AS real_width, CAST(real_height AS INT) AS real_height, "
        "status FROM (VALUES "
        + ",".join(vals)
        + ") v(asset_id, fmt, meta_width, meta_height, real_width, real_height, status) "
        "ORDER BY asset_id"
    )


def _synth_media_real_rows(n: int = 45):
    """Clean (uncorrupted) real container bytes across png/gif/jpeg for the
    real-decode query — deterministic gradient pixels, so the oracle can
    replay the exact decode at generation time."""
    import numpy as np

    from upton_spark.operators.gif_codec import encode_gif_grey
    from upton_spark.operators.jpeg_codec import encode_jpeg_grey
    from upton_spark.operators.png_codec import encode_png

    rows = []
    for i in range(n):
        w, h = 9 + (i % 6), 7 + (i % 5)
        fmt = ["png", "gif", "jpeg"][i % 3]
        grid = ((np.arange(h * w, dtype=np.int64) * (2 * i + 5)) % 256).reshape(h, w)
        if fmt == "png":
            payload = encode_png(grid.astype("uint8"))
        elif fmt == "gif":
            payload = encode_gif_grey(grid / 255.0)
        else:
            payload = encode_jpeg_grey(grid / 255.0, quant=1)
        rows.append(
            (i, f"http://media.example.org/{fmt}/real/{i}", payload,
             ("image", fmt, w, h, None))
        )
    return rows


def q_media_real_decode(spark, sf_dir):
    """REAL decode end-to-end (VERDICT r4 #5): png/gif/baseline-jpeg bytes
    with actual entropy-coded scans flow through decode_and_featurize
    (decoder='real' — vendored pure-stdlib codecs, jpeg Huffman+IDCT
    included) and the per-asset intensity stats are pinned in integer
    micro-units. Oracle: the identical pure-Python decode replayed at
    generation time, baked as VALUES."""
    from upton_spark.operators.multimodal import MEDIA, decode_and_featurize

    media = spark.createDataFrame(_synth_media_real_rows(), schema=MEDIA)
    feats = decode_and_featurize(media, resize_to=(8, 8), decoder="real")
    return feats.select(
        "asset_id",
        "n_bytes",
        F.round(F.col("mean_intensity") * 1e6).cast("long").alias("mean_micro"),
        F.round(F.col("std_intensity") * 1e6).cast("long").alias("std_micro"),
    ).orderBy("asset_id")


def _media_real_decode_oracle() -> str:
    """Baked-verdict oracle for q_media_real_decode: run the SAME decoders
    over the deterministic assets at generation time (bit-identical numpy
    arithmetic, so micro-unit quantization is exact)."""
    import numpy as np

    from upton_spark.operators.multimodal import _real_decode

    vals = []
    for (aid, _url, payload, (_mt, fmt, _w, _h, _d)) in _synth_media_real_rows():
        grid = _real_decode(bytes(payload), fmt, (8, 8))
        flat = grid.reshape(-1)
        mean_micro = int(np.floor(float(flat.mean()) * 1e6 + 0.5))
        std_micro = int(np.floor(float(flat.std()) * 1e6 + 0.5))
        vals.append(f"({aid},{len(bytes(payload))},{mean_micro},{std_micro})")
    return (
        "SELECT CAST(asset_id AS BIGINT) AS asset_id, CAST(n_bytes AS BIGINT) AS n_bytes, "
        "CAST(mean_micro AS BIGINT) AS mean_micro, CAST(std_micro AS BIGINT) AS std_micro "
        "FROM (VALUES " + ",".join(vals) + ") v(asset_id, n_bytes, mean_micro, std_micro) "
        "ORDER BY asset_id"
    )


def _synth_mp4_sample_rows(n: int = 20):
    """Real ISO-BMFF containers with NON-uniform stts sample tables — a
    pure function of the asset index, so the oracle replays the identical
    schedule at generation time."""
    from upton_spark.operators.multimodal import encode_mp4_with_samples

    rows = []
    for i in range(n):
        # mixed runs: a few short deltas, one long still sample, more
        # shorts — compresses to a genuinely multi-entry stts
        deltas = [200 + 50 * (i % 4)] * (2 + i % 3) + [1500 + 100 * (i % 5)] + [250] * (1 + i % 4)
        payload = encode_mp4_with_samples(deltas)
        rows.append(
            (i, f"http://media.example.org/mp4/{i}", payload,
             ("video", "mp4", 64, 48, sum(deltas)))
        )
    return rows


def q_media_sample_frames(spark, sf_dir):
    """Frame sampling from REAL mp4 sample tables (VERDICT r4 #8): the box
    walk reaches stts/stsz, so each 500 ms target instant carries the
    sample actually current at that time — non-uniform deltas make the
    covering sample_index jump where a uniform split would not. Oracle:
    the same pure schedule (schedule_from_samples) replayed at generation
    time, baked as VALUES."""
    from upton_spark.operators.multimodal import MEDIA, frame_sample_from_table

    media = spark.createDataFrame(_synth_mp4_sample_rows(), schema=MEDIA)
    return frame_sample_from_table(media, every_ms=500).select(
        "asset_id", "frame_ms", "sample_index", "sample_ms"
    ).orderBy("asset_id", "frame_ms")


def _media_sample_frames_oracle() -> str:
    from upton_spark.operators.multimodal import (
        mp4_sample_table,
        schedule_from_samples,
    )

    vals = []
    for (aid, _url, payload, _meta) in _synth_mp4_sample_rows():
        for (t, idx, start) in schedule_from_samples(
            mp4_sample_table(bytes(payload)), 500
        ):
            vals.append(f"({aid},{t},{idx},{start})")
    return (
        "SELECT CAST(asset_id AS BIGINT) AS asset_id, CAST(frame_ms AS BIGINT) AS frame_ms, "
        "CAST(sample_index AS INT) AS sample_index, CAST(sample_ms AS BIGINT) AS sample_ms "
        "FROM (VALUES " + ",".join(vals) + ") v(asset_id, frame_ms, sample_index, sample_ms) "
        "ORDER BY asset_id, frame_ms"
    )


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (LBFS/FastCDC family): token-hash mask
    boundaries (expected 32-token chunks) with oversized segments re-split
    at 48 — the shift-resistant storage-dedup primitive (equal chunk_hash
    across docs = shared block). Oracle replays the exact cut rule via
    md5_number_lower >> 2 and the same re-split arithmetic in DuckDB list
    lambdas."""
    from upton_spark.operators.dedup_docs import cdc_chunks

    docs = _t(spark, sf_dir, "documents")
    return cdc_chunks(docs, mask_bits=5, max_len=48).orderBy("doc_id", "chunk_id")


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring: avg negative log-likelihood per doc
    under a hashed-bigram bag model trained on the English slice (lower =
    more reference-like; CCNet's head/middle/tail split keys on exactly
    this). Oracle: same md5 gram buckets, baked per-bucket micro-NLL
    terms + unseen-bucket floor, exact integer sums."""
    from upton_spark.operators.sampling import lm_nll_scores

    docs = _t(spark, sf_dir, "documents")
    return lm_nll_scores(docs, F.col("lang") == "en", n_buckets=4096).orderBy("doc_id")


def q_paragraph_dedup(spark, sf_dir):
    """CCNet-style corpus-wide paragraph dedup (fixed word windows stand in
    for newline paragraphs on the single-line corpus): keep the globally
    first occurrence of each distinct paragraph, rebuild documents from
    survivors. Oracle: the identical windowing + min-key first-occurrence
    rule + ordered rebuild in SQL."""
    from upton_spark.operators.dedup_docs import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    return paragraph_dedup(docs).orderBy("doc_id")


def q_sequence_pack(spark, sf_dir):
    """Greedy sequential sequence packing into 256-token bins, sharded by
    doc_id % 8 (each shard walk is independent — the 100-TB shape). Oracle:
    the same greedy walk as a recursive CTE per shard."""
    from upton_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity=256, n_shards=8).orderBy("doc_id")


def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4 / intl phone -> typed placeholders +
    per-doc counts). The synthetic corpus carries no PII, so the query
    injects deterministic doc_id-derived PII into the text first — the
    oracle builds the identical input, so the scrub itself is what's
    compared. All codegen; patterns restricted to the Java-regex ∩ RE2
    common subset."""
    from upton_spark.operators.textops import pii_scrub

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.lit("Contact user"),
            F.col("doc_id"),
            F.lit("@mail-"),
            F.col("source"),
            F.lit(".com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(". "),
            F.substring(F.col("text"), 1, 80),
        ),
    )
    return pii_scrub(docs).select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ips").cast("long").alias("n_ips"),
        F.col("n_phones").cast("long").alias("n_phones"),
        "clean_text",
    )


def q_quality_scores(spark, sf_dir):
    """Webtext quality gate features (length/punct/stopword/token-shape)."""
    from upton_spark.operators.textops import with_quality_stats

    docs = _t(spark, sf_dir, "documents")
    return with_quality_stats(docs).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_token_len", 4).alias("mean_token_len"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("quality_score", 4).alias("quality_score"),
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs on a deterministic sample."""
    from upton_spark.operators.dedup_docs import word_ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter("lang = 'en'")
    return word_ngram_jaccard_pairs(docs, n=3, sample_mod=25)


def q_exact_dup_groups(spark, sf_dir):
    """Exact dedup groups by content hash with member list."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", F.sha2("text", 256))
        .groupBy("text_hash")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.array_join(F.sort_array(F.collect_list(F.col("doc_id").cast("string"))), ",").alias(
                "doc_ids"
            ),
        )
    )


# rates for the stratified-sampling contract query; the oracle SQL is
# generated from this same dict so there is one source of truth.
_SAMPLE_RATES = {"de": 0.25, "en": 0.5, "es": 0.0, "fr": 0.1, "zh": 1.0}


def q_benchmark_contamination(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing >= 1 exact 5-token
    shingle with a held-out "benchmark" slice (doc_id % 7 == 0), with the
    doc's shingle-overlap fraction. Oracle: the shared shingle CTE chain
    (same as MinHash), exploded and joined corpus x benchmark. Scale shape:
    benchmark shingles broadcast; corpus never shuffles."""
    from upton_spark.operators.dedup_docs import contamination_pairs

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return contamination_pairs(corpus, bench, k=5)


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-bucket stratified sampling audit: per-language
    keep rates applied via a pure integer key hash (reproducible across
    partitioning/engines — unlike df.sample), reported as per-stratum
    total/kept/realized-rate."""
    from upton_spark.operators.sampling import mixing_report

    docs = _t(spark, sf_dir, "documents")
    return mixing_report(docs, _SAMPLE_RATES, strata_col="lang", key_col="doc_id")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality filter: type-token ratio, top-token
    and top-bigram fractions, repetitive flag — per-row higher-order
    expressions only (no shuffle, no UDF)."""
    from upton_spark.operators.textops import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_token_stats(spark, sf_dir):
    """Token counting + punctuation quality features (all codegen)."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    trimmed = F.trim(text)
    n_tokens = F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+")))
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
    n_the = (
        (F.length(F.lower(text)) - F.length(F.regexp_replace(F.lower(text), r"\bthe\b", ""))) / 3
    ).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        F.round(n_punct / F.greatest(F.length(text), F.lit(1)), 4).alias("punct_ratio"),
        n_the.alias("n_the"),
    )


def q_lang_distribution(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    return counts.select(
        "lang", "n", F.round(F.col("n") / F.sum("n").over(Window.partitionBy()), 4).alias("pct")
    )


def q_fingerprint_md5(spark, sf_dir):
    """SQL-expressible fingerprint variant (prefix digest + length)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.substring("text", 1, 64)).alias("prefix_fp"),
        F.length("text").cast("long").alias("text_len"),
    )


def q_char_jaccard_pairs(spark, sf_dir):
    """Character-set Jaccard near-dup pairs on a deterministic sample
    (English docs; matches DuckDB's jaccard())."""
    from upton_spark.operators.dedup_docs import char_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter("lang = 'en'")
    sampled_pairs = char_jaccard_pairs(docs, sample_mod=20)
    return sampled_pairs


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector (codegen dot
    product, TakeOrdered top-k)."""
    from upton_spark.operators.similarity import cosine_col

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter("vec_id = 0").select(F.col("embedding").alias("qvec"))
    return (
        emb.crossJoin(F.broadcast(qvec))
        .select("vec_id", F.round(cosine_col(F.col("embedding"), F.col("qvec")), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


def q_embedding_cosine_pairs(spark, sf_dir):
    """Embedding-cosine near-dup baseline: brute-force pairs over a
    deterministic sample, exact cosine, threshold filter (codegen dot
    product; oracle via DuckDB list_cosine_similarity). The LSH-bucketed
    scale path is q_embedding_near_dups_lsh."""
    from upton_spark.operators.similarity import cosine_col

    emb = _t(spark, sf_dir, "embeddings").filter("vec_id % 10 = 0")
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("vec_a"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vec_b"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine_col(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


# ---- rows-only queries (genuinely non-SQL-expressible pipelines) -----------


def q_embedding_ivf_topk(spark, sf_dir):
    """IVF ANN: k-means coarse quantizer (sample-trained, deterministic) →
    cell assignment (rounded-dot argmax) → nprobe-cell search. The trainer
    is seeded numpy over an id-sorted sample, so the oracle generator
    retrains identical centroids and replays assignment + search in SQL."""
    from upton_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
        with_ivf_cell,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent = train_ivf_centroids(emb, dim=64, n_centroids=16, sample_mod=5)
    qvec = [float(v) for v in emb.filter("vec_id = 0").first()["embedding"]]
    return ivf_topk(with_ivf_cell(emb, cent), cent, qvec, k=10, nprobe=4)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (cluster with the deterministic
    k-means quantizer, drop vectors with an earlier >=0.4-cosine
    cluster-mate). Oracle: baked retrained centroids + the keep rule as an
    EXISTS over the cluster-bucketed self-join — never all-pairs."""
    from upton_spark.operators.similarity import semantic_dedup, train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cent = train_ivf_centroids(emb, dim=64, n_centroids=16, sample_mod=5)
    return semantic_dedup(emb, cent, threshold=0.4).orderBy("vec_id")


def q_embedding_near_dups_lsh(spark, sf_dir):
    """Embedding near-dup at scale: LSH bucket candidates → exact cosine
    verify (bucket-join shuffle only, never n²). Quantized-int buckets give
    it a full SQL oracle (bucket join + list_cosine_similarity)."""
    from upton_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, dim=64, threshold=0.3, n_planes=6)


def q_minhash_near_dups(spark, sf_dir):
    """MinHash+LSH near-dup pipeline (shingle→signature→band→bucket
    join→exact-Jaccard verify). Oracle: the full pipeline replayed in SQL —
    md5_number_lower token hashes, HUGEINT wraparound shingle combine, the
    engine's exact (a,b) permutation constants, band-slice equality, exact
    Jaccard on candidate pairs."""
    from upton_spark.operators.dedup_docs import near_duplicates_minhash

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates_minhash(docs, threshold=0.5)
    return pairs.select("a", "b", F.round("jaccard", 4).alias("jaccard"))


def q_dup_clusters(spark, sf_dir):
    """Near-dup pairs → duplicate CLUSTERS: connected components by
    iterative min-label propagation over the MinHash pair graph (the "keep
    one per component" step of corpus dedup). Oracle: the full MinHash
    pipeline replayed in SQL, then a recursive-CTE transitive closure
    taking the min reachable doc_id per node."""
    from upton_spark.operators.dedup_docs import (
        duplicate_components,
        near_duplicates_minhash,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates_minhash(docs, threshold=0.5)
    return duplicate_components(pairs).orderBy("doc_id")


def q_simhash(spark, sf_dir):
    """64-bit SimHash over md5 token hashes; oracle replays the bit
    sign-sums in SQL (md5_number_lower + HUGEINT bit arithmetic)."""
    from upton_spark.operators.dedup_docs import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def q_language_id(spark, sf_dir):
    """Stopword-profile language guess — pure codegen, mirrored 1:1 by the
    SQL oracle (array_intersect hit counts + argmax CASE)."""
    from upton_spark.operators.textops import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang", "lang_guess")


def q_fingerprint_rolling(spark, sf_dir):
    """Winnowing-style rolling fingerprint: min over 8-token shingle hashes
    (md5 token hashes, uint64 sliding combine), Arrow-batched numpy, with a
    HUGEINT-replay SQL oracle."""
    from upton_spark.operators.textops import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


def q_embedding_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucket histogram (ANN scale path). Hyperplanes
    and vectors are integer-quantized so every dot product is exact int64 —
    the SQL oracle reproduces buckets bit-for-bit."""
    from upton_spark.operators.similarity import with_lsh_bucket

    emb = _t(spark, sf_dir, "embeddings")
    return (
        with_lsh_bucket(emb, dim=64, n_planes=8)
        .groupBy("lsh_bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payload → decode(stub)/resize/featurize
    via mapInPandas; per-media-type rollup of real Spark-side stats. The
    deterministic fake decoder is md5-seeded xorshift64*, so even the stub
    pipeline carries a SQL oracle (recursive-CTE replay of the stream)."""
    from upton_spark.operators.multimodal import decode_and_featurize, synth_media

    media = synth_media(spark, n_assets=96)
    feats = decode_and_featurize(media, resize_to=(8, 8))
    typed = feats.join(media.select("asset_id", F.col("meta.media_type").alias("media_type")), "asset_id")
    return typed.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.round(F.avg("mean_intensity"), 4).alias("avg_intensity"),
    )


def q_media_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: one row per sampled frame offset."""
    from upton_spark.operators.multimodal import frame_sample, synth_media

    media = synth_media(spark, n_assets=96).filter("meta.media_type = 'video'")
    return (
        frame_sample(media, every_ms=500)
        .groupBy("asset_id")
        .agg(F.count("*").cast("long").alias("n_frames"))
    )


def q_warc_ingest(spark, sf_dir):
    """WARC source (ISO 28500): documents re-archived as one gzip-per-record
    .warc.gz (the Common Crawl convention), then stream-parsed back into
    PAGES rows task-parallel by sources.warc.read_warc. The synthesis step
    is driver-side test plumbing; the parse under test is distributed. The
    oracle recomputes url/byte-length/timestamp straight from documents."""
    import os
    import tempfile

    from pyspark.sql import functions as F2

    from upton_spark.sources.warc import read_warc, write_warc

    docs = _docs_with_url(_t(spark, sf_dir, "documents")).select("url", "text").collect()
    from datetime import datetime

    ts = datetime(2024, 1, 1, 0, 0, 0)
    fd, path = tempfile.mkstemp(suffix=".warc.gz")
    os.close(fd)
    try:
        write_warc(
            [(r["url"], ts, r["text"].encode("utf-8")) for r in docs], path
        )
        pages = read_warc(spark, [path])
        return pages.select(
            "url",
            F2.length("html").cast("long").alias("html_bytes"),
            F2.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_ts_s"),
        ).orderBy("url").localCheckpoint()
    finally:
        os.unlink(path)


def q_robots_from_pages(spark, sf_dir):
    """Distributed robots.txt ingestion: per-source robots bodies carried as
    corpus rows (url = http://<source>/robots.txt), parsed into the ROBOTS
    rule table by operators.robots.robots_from_pages (mapInPandas — rules
    never transit the driver). Bodies are a deterministic function of the
    source name, so the oracle regenerates the parse results in SQL."""
    from pyspark.sql import functions as F2

    from upton_spark.operators.robots import robots_from_pages

    hosts = _t(spark, sf_dir, "documents").select("source").distinct()
    body = F2.concat(
        F2.lit("User-agent: *\nDisallow: /private-"),
        F2.col("source"),
        F2.lit("/\nAllow: /private-"),
        F2.col("source"),
        F2.lit("/ok\nCrawl-delay: 3\n"),
    )
    pages = hosts.select(
        F2.concat(F2.lit("http://"), F2.col("source"), F2.lit("/robots.txt")).alias("url"),
        F2.to_timestamp(F2.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        body.cast("binary").alias("html"),
        F2.lit(None).cast("string").alias("text"),
        F2.lit(None).cast("string").alias("lang"),
    )
    return robots_from_pages(pages).select(
        "host", "agent", "rule_type", "path_prefix", "crawl_delay"
    )


def q_sitemap_discovery(spark, sf_dir):
    """Robots→sitemap discovery glue: ``Sitemap:`` directives extracted
    from per-host robots.txt captures (operators.robots.sitemaps_from_robots
    — pure codegen regexp over the dedup-latest body, no Python). Bodies
    are a deterministic function of the source name (two directives, mixed
    case/indentation, one older superseded capture), so the oracle replays
    the same multiline regexp in DuckDB."""
    from pyspark.sql import functions as F2

    from upton_spark.operators.robots import sitemaps_from_robots

    hosts = _t(spark, sf_dir, "documents").select("source").distinct()
    body_new = F2.concat(
        F2.lit("User-agent: *\nSitemap: http://"),
        F2.col("source"),
        F2.lit("/sitemap.xml\nDisallow: /x\n  sitemap: http://"),
        F2.col("source"),
        F2.lit("/news.xml\n"),
    )
    body_old = F2.concat(
        F2.lit("Sitemap: http://"), F2.col("source"), F2.lit("/stale.xml\n")
    )

    def rows(body, ts):
        return hosts.select(
            F2.concat(F2.lit("http://"), F2.col("source"), F2.lit("/robots.txt")).alias("url"),
            F2.to_timestamp(F2.lit(ts)).alias("warc_ts"),
            body.cast("binary").alias("html"),
            F2.lit(None).cast("string").alias("text"),
            F2.lit(None).cast("string").alias("lang"),
        )

    pages = rows(body_new, "2024-02-01 00:00:00").unionByName(
        rows(body_old, "2023-01-01 00:00:00")
    )
    return sitemaps_from_robots(pages).orderBy("host", "sitemap_url")


_SITEMAP_DISCOVERY_ORACLE = """
    WITH hosts AS (SELECT DISTINCT source FROM documents),
    b AS (
      -- lower(source): the engine canonicalizes host to lowercase
      -- (robots.sitemaps_from_robots); the BODY keeps source verbatim,
      -- exactly like the Spark-side synthesized robots.txt
      SELECT lower(source) AS host,
             'User-agent: *' || chr(10) || 'Sitemap: http://' || source ||
             '/sitemap.xml' || chr(10) || 'Disallow: /x' || chr(10) ||
             '  sitemap: http://' || source || '/news.xml' || chr(10) AS body
      FROM hosts
    )
    SELECT host, unnest(regexp_extract_all(body,
             '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*([^ \\t\\r\\n]+)', 1)) AS sitemap_url
    FROM b ORDER BY host, sitemap_url
"""


def q_link_pagerank(spark, sf_dir):
    """Link-graph PageRank (frontier prioritization at web scale): a
    deterministic synthetic link graph over documents (quadratic edge map
    (d²+7kd+k+1) mod N, k<3, self-loops dropped — non-bijective, so
    in-degrees are skewed like a real web graph) scored by 5 damped power
    iterations, each one join-agg shuffle (operators.webgraph.pagerank).
    Oracle: the same graph and the same 5 iterations unrolled as chained
    CTEs; ranks are N-scaled (mean 1.0) and rounded to 6 so cross-engine
    summation-order noise (~1e-15) can't flip the value hash."""
    from upton_spark.operators.webgraph import pagerank, synth_link_graph

    docs = _t(spark, sf_dir, "documents")
    edges = synth_link_graph(docs, fanout=3)
    ranks = pagerank(docs.select("doc_id"), edges, iters=5, damping=0.85)
    return ranks.select("doc_id", F.round("rank", 6).alias("rank")).orderBy("doc_id")


def q_link_hits(spark, sf_dir):
    """HITS hubs/authorities over the synthetic link graph (the reference's
    index->instance model scored from links: hubs = listing pages,
    authorities = content pages). 5 iterations, mean-1.0 normalization;
    oracle unrolls the identical updates as chained CTEs; round 6 absorbs
    cross-engine summation-order noise."""
    from upton_spark.operators.webgraph import hits, synth_link_graph

    docs = _t(spark, sf_dir, "documents")
    edges = synth_link_graph(docs, fanout=3)
    out = hits(docs.select("doc_id"), edges, iters=5)
    return out.select(
        "doc_id",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    ).orderBy("doc_id")


def q_hits_planned_admission(spark, sf_dir):
    """HITS as a load-bearing crawl-planning input (VERDICT r4 #6): the
    link_hits scores feed authority_priorities, and the admission schedule
    is the Crawler's closed-form round assignment under those priorities —
    per-host window ordered by (priority, doc_id), 10 tokens/host/round.
    The e2e Crawler wiring is pinned by
    tests/test_planned_crawl.py::test_hits_authority_priority_e2e; this
    query replays the identical math so the oracle checks HITS → priority →
    schedule end-to-end."""
    from upton_spark.operators.webgraph import (
        authority_priorities,
        hits,
        synth_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synth_link_graph(docs, fanout=3)
    scores = hits(docs.select("doc_id"), edges, iters=5)
    prio = authority_priorities(scores, key_col="doc_id").withColumnRenamed(
        "url", "doc_id"
    )
    fr = docs.select(F.col("source").alias("host"), "doc_id").join(prio, "doc_id")
    w = Window.partitionBy("host").orderBy("priority", "doc_id")
    return (
        fr.withColumn(
            "round_assigned",
            F.floor((F.row_number().over(w) - 1) / 10).cast("long"),
        )
        .select("host", "doc_id", "priority", "round_assigned")
        .orderBy("host", "doc_id")
    )


def _hits_ctes(iters: int = 5, fanout: int = 3) -> str:
    """The HITS CTE chain (nodes/edges/h0..a{iters}/h{iters}) shared by the
    link_hits oracle and the hits_planned_admission oracle — same graph,
    same update order (authority from hubs, hub from the NEW authorities),
    same mean-1.0 normalization; each CTE level is referenced at most once
    per successor (window-function normalization, no scalar subquery
    fan-out), so DuckDB's inliner stays linear in ``iters``."""
    ks = ",".join(f"({k})" for k in range(fanout))
    sql = f"""
        WITH nodes AS (SELECT doc_id FROM documents),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT d.doc_id AS src,
                   (d.doc_id*d.doc_id + 7*k.k*d.doc_id + k.k + 1) % nn.n AS dst
            FROM nodes d CROSS JOIN nn CROSS JOIN (VALUES {ks}) k(k)
          ) WHERE src <> dst
        ),
        h0 AS (SELECT doc_id AS node, CAST(1.0 AS DOUBLE) AS hub FROM nodes)"""
    for i in range(1, iters + 1):
        p = i - 1
        sql += f""",
        ar{i} AS (
          SELECT b.node, coalesce(c.s, CAST(0 AS DOUBLE)) AS auth
          FROM (SELECT doc_id AS node FROM nodes) b
          LEFT JOIN (
            SELECT e.dst AS cnode, SUM(h.hub) AS s
            FROM edges e JOIN h{p} h ON e.src = h.node GROUP BY e.dst
          ) c ON c.cnode = b.node
        ),
        a{i} AS (
          SELECT node,
                 auth / (SUM(auth) OVER () / (SELECT CAST(n AS DOUBLE) FROM nn)) AS auth
          FROM ar{i}
        ),
        hr{i} AS (
          SELECT b.node, coalesce(c.s, CAST(0 AS DOUBLE)) AS hub
          FROM (SELECT doc_id AS node FROM nodes) b
          LEFT JOIN (
            SELECT e.src AS cnode, SUM(a.auth) AS s
            FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
          ) c ON c.cnode = b.node
        ),
        h{i} AS (
          SELECT node,
                 hub / (SUM(hub) OVER () / (SELECT CAST(n AS DOUBLE) FROM nn)) AS hub
          FROM hr{i}
        )"""
    return sql


def _hits_oracle(iters: int = 5, fanout: int = 3) -> str:
    """HITS unrolled as chained CTEs (see _hits_ctes); only summation order
    differs from the engine (~1e-15, absorbed by round 6)."""
    return (
        _hits_ctes(iters, fanout)
        + f"""
        SELECT a.node AS doc_id, round(a.auth, 6) AS authority,
               round(h.hub, 6) AS hub
        FROM a{iters} a JOIN h{iters} h ON a.node = h.node
        ORDER BY doc_id
    """
    )


def _hits_planned_oracle(iters: int = 5, fanout: int = 3, tokens: int = 10) -> str:
    """hits_planned_admission replay: the shared HITS chain, authority →
    negated micro-quantized priority (authority_priorities), then the
    Crawler's closed-form round assignment round = (rank-1) div tokens per
    host ordered by (priority, doc_id). Quantization caveat (same class as
    the pagerank/link_hits oracles): the two engines' auth sums differ by
    ~1e-15 relative, so round(auth*1e6) could in principle land on opposite
    sides of a .5 boundary — needs the fractional part within ~1e-9 of .5
    on the FIXED deterministic graph, which the contract sweep would
    surface immediately; the (priority, doc_id) ordering is stable given
    equal priorities."""
    return (
        _hits_ctes(iters, fanout)
        + f""",
        pr AS (
          SELECT d.source AS host, d.doc_id,
                 CAST(-round(a.auth * 1000000) AS BIGINT) AS priority
          FROM documents d JOIN a{iters} a ON a.node = d.doc_id
        )
        SELECT host, doc_id, priority,
               CAST(floor((row_number() OVER (
                     PARTITION BY host ORDER BY priority, doc_id) - 1)
                    / {tokens}) AS BIGINT) AS round_assigned
        FROM pr
        ORDER BY host, doc_id
    """
    )


def q_url_canonicalize(spark, sf_dir):
    """Aggressive URL canonicalization (frontier alias collapse): messy
    synthetic URLs (upper-case scheme/host, default port, tracking params,
    unsorted query, fragment) normalized entirely in built-in expressions
    (operators.webgraph.canonical_url_col — regexp + array ops, codegen).
    Oracle mirrors each step 1:1 in DuckDB string/list functions."""
    from upton_spark.operators.webgraph import canonical_url_col

    docs = _t(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://"),
            F.upper("source"),
            F.lit(":80/Path"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("/page.html?utm_source=x&b="),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&a=1#frag"),
        ).alias("page_url"),
    )
    return messy.select(
        "doc_id", "page_url", canonical_url_col(F.col("page_url")).alias("canon_url")
    )


def q_crawl_snapshot_diff(spark, sf_dir):
    """Incremental re-crawl delta: two crawl generations (deterministic
    subsets of documents, some with mutated content) full-outer-joined on
    the page key comparing content hashes → added/removed/changed/unchanged
    counts (operators.webgraph.snapshot_diff). The single-join shape is the
    100-TB incremental-crawl primitive (bucketed by url_hash it is
    shuffle-free); only added+changed re-enter the frontier."""
    from upton_spark.operators.webgraph import snapshot_diff

    docs = _docs_with_url(_t(spark, sf_dir, "documents"))
    old = docs.filter(F.col("doc_id") % 7 != 0).select(
        "url", F.md5("text").alias("content_hash")
    )
    new = docs.filter(F.col("doc_id") % 5 != 0).select(
        "url",
        F.md5(
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 3 == 0, F.lit("v2")).otherwise(F.lit("")),
            )
        ).alias("content_hash"),
    )
    diff = snapshot_diff(old, new)
    return (
        diff.groupBy("status")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("status")
    )


def q_crawl_budget(spark, sf_dir):
    """Per-host crawl-budget allocation: proportional share of a global
    fetch budget by host weight, integer floor-division (bit-stable across
    engines), clamped to [floor, cap] (operators.webgraph.allocate_budget).
    Feeds the politeness scheduler's per-round token budget."""
    from upton_spark.operators.webgraph import allocate_budget

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.groupBy(F.col("source").alias("host")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return allocate_budget(hosts, total_budget=600, floor=2, cap=50).orderBy("host")


def q_main_content(spark, sf_dir):
    """Main-content extraction (boilerplate removal,
    operators.boilerplate): deterministic synthetic pages — a link-dense
    nav, the document's words chunked into <p> paragraphs, a link-heavy
    'related' rail, a footer — through the jusText-style leaf-block
    text/link-density classifier. Output per page: block counts + the
    kept-content md5 (content itself is free text; the hash is the
    value contract). Scale shape: ONE Arrow mapInPandas stage over the
    pages scan + a per-url groupBy; oracle = the same pure classifier
    (content_blocks) replayed at generation time over the same parquet
    text, baked as VALUES (bake-the-constants pattern)."""
    from upton_spark.operators.boilerplate import extract_main_content

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.floor((F.size(words) - 1) / 12)),
            lambda i: F.concat(
                F.lit("<p>"),
                F.array_join(F.slice(words, (i * 12 + 1).cast("int"), 12), " "),
                F.lit("</p>"),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit(
            '<html><head><title>d</title></head><body>'
            '<nav><a href="/h">home</a> <a href="/a">about</a> '
            '<a href="/c">contact</a></nav>'
        ),
        body,
        F.lit('<div><a href="/r">related links row</a> x</div>'),
        F.lit('<footer><a href="/t">terms</a> (c) '),
        F.col("source"),
        F.lit("</footer></body></html>"),
    )
    pages = docs.select(F.col("doc_id").cast("string").alias("url"), html.alias("html"))
    out = extract_main_content(pages, html_col="html", url_col="url")
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        "n_blocks",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.length("content").cast("long").alias("n_content_chars"),
        F.md5("content").alias("content_md5"),
    ).orderBy("doc_id")


def _main_content_oracle() -> str | None:
    """main_content oracle: the SAME pure classifier (content_blocks is
    plain Python, no Spark) replayed over the driver's sf0.01 parquet text
    at generation time, baked as VALUES — independent of the Spark
    execution path under test (the mapInPandas stage, the block explode,
    the order-pinned aggregation)."""
    try:
        import duckdb

        from upton_spark.operators.boilerplate import content_blocks

        con = duckdb.connect()
        rows = con.execute(
            "SELECT doc_id, text, source FROM "
            "read_parquet('/root/testdata/sf0.01/documents.parquet') ORDER BY doc_id"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    import hashlib

    vals = []
    for d, t, s in rows:
        w = (t or "").split(" ")
        paras = [
            " ".join(w[i * 12 : i * 12 + 12]) for i in range((len(w) - 1) // 12 + 1)
        ]
        html = (
            '<html><head><title>d</title></head><body>'
            '<nav><a href="/h">home</a> <a href="/a">about</a> '
            '<a href="/c">contact</a></nav>'
            + "".join(f"<p>{p}</p>" for p in paras)
            + '<div><a href="/r">related links row</a> x</div>'
            + f'<footer><a href="/t">terms</a> (c) {s}</footer></body></html>'
        )
        blocks = content_blocks(html)
        kept = [b[2] for b in blocks if b[5]]
        content = "\n".join(kept)
        digest = hashlib.md5(content.encode()).hexdigest()
        vals.append(f"({d},{len(blocks)},{len(kept)},{len(content)},'{digest}')")
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_blocks AS BIGINT) AS n_blocks, "
        "CAST(n_kept AS BIGINT) AS n_kept, CAST(n_content_chars AS BIGINT) AS n_content_chars, "
        "content_md5 FROM (VALUES "
        + ",".join(vals)
        + ") v(doc_id, n_blocks, n_kept, n_content_chars, content_md5) ORDER BY doc_id"
    )


def q_surt_keys(spark, sf_dir):
    """SURT sort keys (web-archive-standard URL ordering,
    operators.webgraph.surt_key): deterministic urls with mixed subdomains
    (www stripped, m./cdn. preserved-and-reversed) and sparse query
    strings, keyed so a domain's whole subtree is one contiguous range.
    Map-only codegen — the 100-TB use is sort/range-partition locality
    (site-contiguous ranges, shared-prefix compression, LIKE-prefix file
    pruning). Oracle: DuckDB string_split + list_reverse replay."""
    from upton_spark.operators.webgraph import surt_keys

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    sub = F.element_at(
        F.array(F.lit("www."), F.lit(""), F.lit("m."), F.lit("cdn.")),
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"),
    )
    q = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(F.lit("?page="), F.col("doc_id")),
    ).otherwise(F.lit(""))
    url = F.concat(F.lit("http://"), sub, F.col("source"), F.lit("/d/"), F.col("doc_id"), q)
    return (
        surt_keys(docs.withColumn("url", url))
        .select("doc_id", "url", "surt")
        .orderBy("doc_id")
    )


def q_host_split(spark, sf_dir):
    """Host-disjoint train/val/test split (operators.sampling.
    host_disjoint_split): split is a pure function of the host's md5
    bucket, so a host's templated near-duplicate pages can never straddle
    train and eval — the leakage a row-level random split causes. Pure
    codegen (md5 → conv → pmod), no shuffle, engine-swap exact; DuckDB
    replays the identical arithmetic."""
    from upton_spark.operators.sampling import host_disjoint_split

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").alias("host")
    )
    return (
        host_disjoint_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
        .select("doc_id", "host", "split")
        .orderBy("doc_id")
    )


def q_domain_split(spark, sf_dir):
    """SITE-disjoint train/val/test split — host_disjoint_split keyed on
    the registrable domain (eTLD+1) instead of the raw host, so every
    subdomain of a site lands in the same split (www./m./cdn. mirrors and
    per-language subdomains are the worst cross-split leakage vector).
    Hosts are the registrable_domains six-shape synthesis; suffix-only
    hosts (NULL domain) are excluded — no fake split key. DuckDB replays
    domain regeneration + the identical md5-bucket arithmetic."""
    from upton_spark.operators.sampling import host_disjoint_split
    from upton_spark.operators.webgraph import registrable_domains

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.pmod(F.col("doc_id"), F.lit(6))
    sid = F.col("doc_id").cast("string")
    host = (
        F.when(k == 0, F.concat(F.lit("www.site"), sid, F.lit(".co.uk")))
        .when(k == 1, F.concat(F.lit("a.b.site"), sid, F.lit(".com")))
        .when(k == 2, F.concat(F.lit("user"), sid, F.lit(".github.io")))
        .when(k == 3, F.lit("co.uk"))
        .when(k == 4, F.concat(F.lit("site"), sid, F.lit(".org")))
        .otherwise(F.concat(F.lit("deep.x.site"), sid, F.lit(".ac.jp")))
    )
    with_domain = registrable_domains(
        docs.select("doc_id", host.alias("host"))
    ).filter(F.col("domain").isNotNull())
    return (
        host_disjoint_split(
            with_domain, {"train": 0.8, "val": 0.1, "test": 0.1}, host_col="domain"
        )
        .select("doc_id", "host", "domain", "split")
        .orderBy("doc_id")
    )


def q_anchor_stats(spark, sf_dir):
    """Inlink anchor-text aggregation per link target
    (operators.webgraph.anchor_text_stats): the synthetic link graph plus
    deterministic anchor strings ('anchor-' || (src+3*dst) % 5), rolled up
    to per-target inlinks / distinct-anchor count / most-frequent anchor
    (ties → lexicographically smallest). The raw link list collapses to
    (target, anchor) counts BEFORE the per-target window, so a mega-target
    is bounded by its anchor vocabulary, not its inlink count. Oracle:
    identical edges + the same two-level rollup as window CTEs."""
    from upton_spark.operators.webgraph import anchor_text_stats, synth_link_graph

    docs = _t(spark, sf_dir, "documents")
    links = synth_link_graph(docs, fanout=3).withColumn(
        "anchor",
        F.concat(
            F.lit("anchor-"),
            F.pmod(F.col("src") + F.lit(3) * F.col("dst"), F.lit(5)).cast("string"),
        ),
    )
    return (
        anchor_text_stats(links, target_col="dst", anchor_col="anchor")
        .select("target", "inlinks", "n_anchors", "top_anchor", "top_anchor_count")
        .orderBy("target")
    )


def q_cdx_index(spark, sf_dir):
    """CDX capture-index generation (operators.webgraph.cdx_index — the
    public web-archive index format: SURT urlkey, 14-digit timestamp,
    payload md5 digest, byte length, sorted by (urlkey, ts14)). Captures
    are synthesized from documents (the surt_keys URL scheme + two
    captures per url at deterministic second offsets, payload = text), so
    the oracle replays every field: the SURT replay from the surt_keys
    oracle, strftime for ts14, DuckDB md5/strlen for digest/length.
    Map-only codegen + one final range sort — the same shape the public
    sorted CDX shards are produced with."""
    from upton_spark.operators.webgraph import cdx_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sub = F.element_at(
        F.array(F.lit("www."), F.lit(""), F.lit("m."), F.lit("cdn.")),
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"),
    )
    url = F.concat(F.lit("http://"), sub, F.col("source"), F.lit("/d/"), F.col("doc_id"))
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))

    def capture(extra_secs: int):
        return docs.select(
            url.alias("url"),
            (
                base
                + F.expr(
                    f"make_interval(0,0,0,0,0,0, cast(pmod(doc_id*7,50)+{extra_secs} as int))"
                )
            ).alias("warc_ts"),
            F.col("text").cast("binary").alias("html"),
        )

    pages = capture(0).unionByName(capture(3600))
    return cdx_index(pages).select("urlkey", "ts14", "url", "digest", "length")


def q_text_normalize(spark, sf_dir):
    """Training-corpus text normalization (operators.textops.
    normalize_text): NFC unicode form (Arrow-batched unicodedata — the one
    non-codegen step) → C0/DEL control strip → whitespace-run collapse +
    trim → lowercase, in that fixed order. The input injects a decomposed
    'Cafe'+U+0301 prefix, a BEL control and a tab/double-space run so every
    stage does real work; the oracle replays the identical chain with
    DuckDB's nfc_normalize + the same regexes (both engines implement
    Unicode NFC, so the composed bytes agree)."""
    from upton_spark.operators.textops import normalize_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # decomposed e + U+0301 (NFC must compose), a BEL control, a tab and
    # double-space runs -- every normalization stage does real work
    messy = F.concat(F.lit("Cafe\u0301\tDu \x07 Monde  "), F.col("text"))
    return (
        normalize_text(docs.withColumn("text", messy))
        .select("doc_id", "norm_text")
        .orderBy("doc_id")
    )


def q_sitemap_entries(spark, sf_dir):
    """Per-URL sitemap entries with the sitemaps.org optional fields
    (sources.sitemap.sitemap_entries): one synthesized sitemap.xml capture
    per host listing that host's doc urls, priority present on 3 of 4
    entries ((doc_id%9+1)/10, absent → protocol default 0.5) and lastmod
    on doc_id%3==0. The <url> block split + per-field extracts are all
    codegen regexps ((?s) spans newlines identically in Java regex and
    RE2); the oracle regenerates the fields straight from doc_id."""
    pages = _sitemap_priority_pages(spark, sf_dir)
    from upton_spark.sources.sitemap import sitemap_entries

    return (
        sitemap_entries(pages)
        .select("host", "url", F.round("priority", 6).alias("priority"), "lastmod")
        .orderBy("host", "url")
    )


def q_sitemap_planned_admission(spark, sf_dir):
    """Publisher-declared sitemap priorities wired into crawl admission —
    the third planning input next to PageRank and HITS, and the only one
    the site itself declares: sitemap_entries → sitemap_priorities
    (negated micro-quantized, same adapter shape as pagerank_priorities)
    → the Crawler's closed-form round assignment (per-host window ordered
    by (priority, url), 10 tokens/host/round). The e2e Crawler wiring is
    pinned by tests/test_planned_crawl.py::test_sitemap_priority_e2e; this
    query replays the identical math so the oracle checks XML → priority →
    schedule end-to-end."""
    from upton_spark.sources.sitemap import sitemap_entries, sitemap_priorities

    pages = _sitemap_priority_pages(spark, sf_dir)
    prio = sitemap_priorities(sitemap_entries(pages))
    docs = _t(spark, sf_dir, "documents")
    fr = docs.select(
        F.col("source").alias("host"),
        F.concat(F.lit("http://"), F.col("source"), F.lit("/d/"), F.col("doc_id")).alias(
            "url"
        ),
    ).join(prio, "url")
    w = Window.partitionBy("host").orderBy("priority", "url")
    return (
        fr.withColumn(
            "round_assigned",
            F.floor((F.row_number().over(w) - 1) / 10).cast("long"),
        )
        .select("host", "url", "priority", "round_assigned")
        .orderBy("host", "url")
    )


def _sitemap_priority_pages(spark, sf_dir):
    """One sitemap.xml capture per host over the documents table: entries
    '<url><loc>http://H/d/ID</loc>[<lastmod>…</lastmod>][<priority>0.P</priority>]</url>'
    with lastmod on doc_id%3==0 and priority (doc_id%9+1)/10 omitted when
    doc_id%4==0 (exercising the 0.5 protocol default). Deterministic in
    doc_id so DuckDB regenerates the parsed fields without XML."""
    docs = _t(spark, sf_dir, "documents")
    entry = F.concat(
        F.lit("<url>\n  <loc>http://"),
        F.col("source"),
        F.lit("/d/"),
        F.col("doc_id"),
        F.lit("</loc>"),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 0,
            F.concat(
                F.lit("\n  <lastmod>2024-01-"),
                F.lpad((F.pmod(F.col("doc_id"), F.lit(28)) + 1).cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 0, F.lit("")
        ).otherwise(
            F.concat(
                F.lit("\n  <priority>0."),
                (F.pmod(F.col("doc_id"), F.lit(9)) + 1).cast("string"),
                F.lit("</priority>"),
            )
        ),
        F.lit("\n</url>"),
    )
    body = docs.groupBy("source").agg(
        F.concat(
            F.lit('<?xml version="1.0"?>\n<urlset>\n'),
            F.concat_ws("\n", F.array_sort(F.collect_list(entry))),
            F.lit("\n</urlset>"),
        ).alias("body")
    )
    return body.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit("/sitemap.xml")).alias("url"),
        F.to_timestamp(F.lit("2024-02-01 00:00:00")).alias("warc_ts"),
        F.col("body").cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def q_meta_refresh(spark, sf_dir):
    """Client-side redirect extraction (operators.webgraph.
    meta_refresh_redirects): pages synthesized from documents carry a
    ``<meta http-equiv=refresh>`` tag on 2 of 3 docs — doc_id%3==0 an
    ABSOLUTE target in shouty unquoted attributes, %3==1 a ROOT-RELATIVE
    target in single quotes (resolved against the capture url through the
    urlkit resolve goldens), %3==2 no tag (no edge). Two codegen regexps +
    one Arrow resolve batch, map-only; the oracle regenerates both edge
    forms straight from doc_id."""
    from upton_spark.operators.webgraph import meta_refresh_redirects

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    src = F.concat(F.lit("http://"), F.col("source"), F.lit("/p/"), F.col("doc_id"))
    tag = (
        F.when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 0,
            F.concat(
                F.lit('<META HTTP-EQUIV=REFRESH CONTENT="0; URL=http://hub.example/d/'),
                F.col("doc_id"),
                F.lit('">'),
            ),
        )
        .when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 1,
            F.concat(
                F.lit("<meta http-equiv='refresh' content='5; url=/r/"),
                F.col("doc_id"),
                F.lit("'>"),
            ),
        )
        .otherwise(F.lit(""))
    )
    pages = docs.select(
        src.alias("url"),
        F.concat(F.lit("<html><head>"), tag, F.lit("</head><body>x</body></html>"))
        .cast("binary")
        .alias("html"),
    )
    return meta_refresh_redirects(pages).select("src", "dst").orderBy("src")


def q_trap_scores(spark, sf_dir):
    """Crawler-trap heuristics (operators.webgraph.url_trap_scores —
    Heritrix-class pathological-url rules, pure codegen): urls synthesized
    from doc_id cycle through five shapes (normal, /x/x/x/x loop,
    /YYYY/MM/ calendar, param explosion, shallow+1 param); the operator
    computes depth/dup_segments/param_count/has_calendar/is_trap from the
    actual string and the oracle regenerates every feature from the
    construction — a misparsed path or mis-evaluated rule hash-mismatches."""
    from upton_spark.operators.webgraph import url_trap_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    k = F.pmod(F.col("doc_id"), F.lit(5))
    sid = F.col("doc_id").cast("string")
    base = F.concat(F.lit("http://"), F.col("source"))
    url = (
        F.when(k == 0, F.concat(base, F.lit("/d/a/b"), sid))
        .when(k == 1, F.concat(base, F.lit("/x/x/x/x/x/p"), sid))
        .when(
            k == 2,
            F.concat(
                base,
                F.lit("/cal/2024/03/"),
                (F.pmod(F.col("doc_id"), F.lit(28)) + 1).cast("string"),
            ),
        )
        .when(k == 3, F.concat(base, F.lit("/s?a=1&b=2&c=3&d=4&e=5&f="), sid))
        .otherwise(F.concat(base, F.lit("/p?page="), sid))
    )
    return (
        url_trap_scores(docs.select("doc_id", url.alias("url")))
        .select(
            "doc_id", "url", "depth", "dup_segments", "param_count",
            "has_calendar", "is_trap",
        )
        .orderBy("doc_id")
    )


def q_registrable_domains(spark, sf_dir):
    """eTLD+1 extraction (operators.webgraph.registrable_domains —
    longest-public-suffix match over broadcast depth dims, no explode/
    window/shuffle): hosts synthesized from doc_id cycle through six known
    shapes (2-label public suffix, implicit-* fallback, private-section
    github.io, a host that IS a suffix → NULL, bare .org, deep subdomain
    under ac.jp); the operator matches real strings against the vendored
    PSL snapshot and the oracle regenerates ground truth from doc_id."""
    from upton_spark.operators.webgraph import registrable_domains

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.pmod(F.col("doc_id"), F.lit(6))
    sid = F.col("doc_id").cast("string")
    host = (
        F.when(k == 0, F.concat(F.lit("www.site"), sid, F.lit(".co.uk")))
        .when(k == 1, F.concat(F.lit("a.b.site"), sid, F.lit(".com")))
        .when(k == 2, F.concat(F.lit("user"), sid, F.lit(".github.io")))
        .when(k == 3, F.lit("co.uk"))
        .when(k == 4, F.concat(F.lit("site"), sid, F.lit(".org")))
        .otherwise(F.concat(F.lit("deep.x.site"), sid, F.lit(".ac.jp")))
    )
    return (
        registrable_domains(docs.select("doc_id", host.alias("host")))
        .select("doc_id", "host", "domain")
        .orderBy("doc_id")
    )


def q_sniff_type(spark, sf_dir):
    """Magic-byte content-type sniffing (operators.multimodal.
    sniff_content_type — the fetch→parse router; WHATWG-style check
    order): payloads synthesized from documents cycle through EIGHT real
    byte forms (png/gif/jpeg/pdf magic, html doctype, plain text, a
    NUL-leading blob, an ISO-BMFF ftyp box), the operator sniffs the
    actual bytes entirely in codegen (hex-prefix probes + the anchored
    pair-regex NUL test), and the oracle regenerates the ground-truth
    label from doc_id — so any misclassification of real magic bytes
    hash-mismatches."""
    from upton_spark.operators.multimodal import sniff_content_type

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tb = F.col("text").cast("binary")
    k = F.pmod(F.col("doc_id"), F.lit(8))
    payload = (
        F.when(k == 0, F.concat(F.unhex(F.lit("89504E470D0A1A0A")), tb))
        .when(k == 1, F.concat(F.lit("GIF89a").cast("binary"), tb))
        .when(k == 2, F.concat(F.unhex(F.lit("FFD8FFE0")), tb))
        .when(k == 3, F.concat(F.lit("%PDF-1.4 ").cast("binary"), tb))
        .when(k == 4, F.concat(F.lit("<!DOCTYPE html><html>").cast("binary"), tb))
        .when(k == 5, tb)
        .when(k == 6, F.concat(F.unhex(F.lit("00FF")), tb))
        .otherwise(
            F.concat(
                F.unhex(F.lit("00000018")), F.lit("ftypisom").cast("binary"), tb
            )
        )
    )
    return (
        sniff_content_type(docs.select("doc_id", payload.alias("html")))
        .select("doc_id", "content_type")
        .orderBy("doc_id")
    )


def q_canonical_links(spark, sf_dir):
    """rel=canonical extraction (operators.webgraph.canonical_links — the
    webmaster-declared dup signal): pages synthesized from documents carry
    a canonical declaration on 3 of 4 docs — %4==0 SELF-canonical in
    shouty attributes, %4==1 a relative href (resolved against the capture
    url), %4==3 an absolute pointer into a shared canon.example bucket
    (doc_id%50 — many-to-one, the real dup-cluster shape), %4==2 none.
    Map-only codegen + one Arrow resolve batch; the oracle regenerates all
    three forms from doc_id."""
    from upton_spark.operators.webgraph import canonical_links

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    src = F.concat(F.lit("http://"), F.col("source"), F.lit("/p/"), F.col("doc_id"))
    tag = (
        F.when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 0,
            F.concat(F.lit('<LINK REL=CANONICAL HREF="'), src, F.lit('">')),
        )
        .when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 1,
            F.concat(F.lit("<link rel='canonical' href='/c/"), F.col("doc_id"), F.lit("'>")),
        )
        .when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 3,
            F.concat(
                F.lit('<link rel="canonical" href="http://canon.example/x/'),
                F.pmod(F.col("doc_id"), F.lit(50)),
                F.lit('">'),
            ),
        )
        .otherwise(F.lit(""))
    )
    pages = docs.select(
        src.alias("url"),
        F.concat(F.lit("<html><head>"), tag, F.lit("</head><body>x</body></html>"))
        .cast("binary")
        .alias("html"),
    )
    return canonical_links(pages).select("src", "canonical", "is_self").orderBy("src")


def q_redirect_chains(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling (operators.webgraph.
    resolve_redirects — log2(max_hops) self-joins, not a per-hop loop):
    deterministic chains doc_id → doc_id-1 within every block of 8 (heads
    doc_id%8==0 are terminal, so chain lengths run 1..7) plus one literal
    3-cycle. Output per src: final_url / exact hops, or NULL +
    unresolved=true for the cycle rows (loud, never wrong). Oracle: a
    DuckDB recursive CTE walks the same map one hop at a time — linear
    walk and doubling must land on identical terminals and hop counts."""
    from upton_spark.operators.webgraph import resolve_redirects

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    chain = docs.filter(F.pmod(F.col("doc_id"), F.lit(8)) != 0).select(
        F.col("doc_id").cast("string").alias("src"),
        (F.col("doc_id") - 1).cast("string").alias("dst"),
    )
    cyc = spark.createDataFrame(
        [("c0", "c1"), ("c1", "c2"), ("c2", "c0")], "src string, dst string"
    )
    return (
        resolve_redirects(chain.unionByName(cyc), max_hops=8)
        .select("src", "final_url", "hops", "unresolved")
        .orderBy("src")
    )


def q_discovery_chain(spark, sf_dir):
    """The full discovery pipeline END-TO-END, bytes to schedule: robots.txt
    captures (Sitemap: directive declared only on hosts whose numeric id
    %3 != 0) → sitemaps_from_robots (codegen directive extract) → the
    declared hosts' sitemap.xml captures → sitemap_entries (priority/
    default parse) → sitemap_priorities (negated micro-quantized) → the
    Crawler's closed-form per-host round assignment. Undeclared hosts'
    sitemaps exist in the corpus but are never discovered, so their urls
    drop out — the semi-join is load-bearing. Oracle replays everything
    from (source, doc_id) arithmetic: declaration predicate, priority
    quantization, and the round window."""
    from upton_spark.operators.robots import sitemaps_from_robots
    from upton_spark.sources.sitemap import sitemap_entries, sitemap_priorities

    docs = _t(spark, sf_dir, "documents")
    declared = (
        F.pmod(F.substring(F.col("source"), 4, 10).cast("long"), F.lit(3)) != 0
    )
    robots_body = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.when(
            declared,
            F.concat(
                F.lit("Sitemap: http://"), F.col("source"), F.lit("/sitemap.xml\n")
            ),
        ).otherwise(F.lit("")),
    )
    robots_pages = docs.select("source").distinct().select(
        F.concat(F.lit("http://"), F.col("source"), F.lit("/robots.txt")).alias("url"),
        F.to_timestamp(F.lit("2024-02-01 00:00:00")).alias("warc_ts"),
        robots_body.cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    pages = _sitemap_priority_pages(spark, sf_dir).unionByName(robots_pages)

    discovered = sitemaps_from_robots(pages).select("host").distinct()
    entries = sitemap_entries(pages).join(discovered, "host", "left_semi")
    prio = sitemap_priorities(entries)
    fr = docs.select(
        F.col("source").alias("host"),
        F.concat(F.lit("http://"), F.col("source"), F.lit("/d/"), F.col("doc_id")).alias(
            "url"
        ),
    ).join(prio, "url")
    w = Window.partitionBy("host").orderBy("priority", "url")
    return (
        fr.withColumn(
            "round_assigned",
            F.floor((F.row_number().over(w) - 1) / 10).cast("long"),
        )
        .select("host", "url", "priority", "round_assigned")
        .orderBy("host", "url")
    )


def q_planned_admission(spark, sf_dir):
    """The Crawler's PLANNED admission schedule as a pure query — the same
    math the wired crawl loop runs (crawler.py:_with_priority /
    _cap_host_tokens / _apply_blocklist + the closed-form round assignment
    round = (rank-1) div tokens): synthetic per-URL priorities, an
    allocate_budget per-host token cap, and a URL-pattern blocklist.
    Output: (host, doc_id, priority, blocked, round_assigned) — blocked
    rows carry NULL round (they never consume a token). Scale shape: one
    broadcast budget join + one per-host window; the blocklist is a
    codegen rlike, exactly the crawl loop's plan."""
    from pyspark.sql import Window

    from upton_spark.operators.webgraph import allocate_budget, blocklist_gate

    docs = _docs_with_url(_t(spark, sf_dir, "documents"))
    fr = docs.select(
        F.col("source").alias("host"),
        "doc_id",
        "url",
        F.pmod(F.col("doc_id") * 37 + 11, F.lit(1000)).cast("long").alias("priority"),
    )
    budgets = allocate_budget(
        fr.groupBy("host").agg(F.count("*").cast("long").alias("n_docs")),
        total_budget=600,
        floor=2,
        cap=50,
    ).select("host", "budget")
    gated = blocklist_gate(fr, url_patterns=[r".*[05]$"])
    adm = gated.join(F.broadcast(budgets), "host")
    w = Window.partitionBy("host").orderBy("priority", "doc_id")
    allowed = adm.filter(~F.col("blocked")).withColumn(
        "round_assigned",
        F.floor((F.row_number().over(w) - 1) / F.col("budget")).cast("long"),
    )
    blocked = adm.filter(F.col("blocked")).withColumn(
        "round_assigned", F.lit(None).cast("long")
    )
    cols = [
        "host",
        "doc_id",
        "priority",
        F.col("blocked").cast("int").alias("blocked"),
        "round_assigned",
    ]
    return allowed.select(*cols).unionByName(blocked.select(*cols)).orderBy(
        "host", "doc_id"
    )


def q_sitemap_extract(spark, sf_dir):
    """Sitemap ingestion (sitemaps.org 0.9): per-source <urlset> bodies
    synthesized as corpus captures (url = http://<source>/sitemap.xml),
    then sources.sitemap.sitemap_urls extracts <loc> seed candidates fully
    distributed (JVM regexp_extract_all + explode, dedup-latest per
    capture). Oracle rebuilds the same XML per source with string_agg and
    replays the extraction with DuckDB's regexp_extract_all."""
    from upton_spark.sources.sitemap import sitemap_urls

    docs = _t(spark, sf_dir, "documents")
    entry = F.concat(
        F.lit("<url><loc>http://"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("</loc></url>"),
    )
    xml = (
        docs.select("source", entry.alias("e"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(F.array_sort(F.collect_list("e")), ""),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    pages = xml.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit("/sitemap.xml")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("xml").cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    urls = sitemap_urls(pages)
    return (
        urls.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.min("url").alias("first_url"),
            F.max("url").alias("last_url"),
        )
        .orderBy("host")
    )


def q_crawl_lineage_politeness(spark, sf_dir):
    """Per-round crawl lineage under a 1-token/host politeness budget
    (reference sleep_time_between_requests, lib/upton.rb:96,220-223,
    re-expressed as deferred-by-politeness counts). Literal-VALUES oracle
    baked from the documented politeness lineage semantics."""
    from pyspark.sql import functions as F2

    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    seeds = [
        SeedSpec(
            0,
            seed_url=f"{BASE}/propublica.html",
            index_selector="section#river section h1 a",
            extract_selector="h1.article-title",
            extract_kind="text",
            sleep_time_between_requests=30.0,
        )
    ]
    result = Crawler(spark, fixture_pages(spark), seeds, round_budget_s=30.0).crawl()
    return (
        result.lineage.groupBy("phase", "round")
        .agg(
            F2.sum("fetched").cast("long").alias("fetched"),
            F2.sum("deferred_by_politeness").cast("long").alias("deferred"),
            F2.max("urls_seen").cast("long").alias("urls_seen"),
        )
        .orderBy("phase", "round")
    )


def q_crawl_robots_gate(spark, sf_dir):
    """robots.txt admission gating before enqueue (north_star): disallowed
    URL surfaces as status=blocked, never fetched. Literal-VALUES oracle."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.operators.robots import robots_rules_df
    from upton_spark.sources.fixtures import BASE, fixture_pages

    robots = robots_rules_df(
        spark, [("www.example.com", "User-agent: *\nDisallow: /prosecutor.html\n")]
    )
    seeds = [
        SeedSpec(
            0,
            seed_url=f"{BASE}/propublica.html",
            index_selector="section#river section h1 a",
            extract_selector="h1.article-title",
            extract_kind="text",
            sleep_time_between_requests=0.0,
        )
    ]
    result = Crawler(spark, fixture_pages(spark), seeds, robots=robots).crawl()
    return result.frontier.select("url", "status").orderBy("url")


def q_crawl_paginated_search(spark, sf_dir):
    """Paginated index chain (?p=1,2; empty p=3 terminates — reference
    spec/upton_spec.rb:139-171 golden) end-to-end. Literal-VALUES oracle."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    seeds = [
        SeedSpec(
            0,
            seed_url=f"{BASE}/propublica_search.html",
            index_selector=".compact-list a.title-link",
            extract_selector="h1.article-title",
            extract_kind="text",
            paginated=True,
            pagination_param="p",
            pagination_max_pages=3,
            sleep_time_between_requests=0.0,
        )
    ]
    result = Crawler(spark, fixture_pages(spark), seeds).crawl()
    return result.extracted.select("url", "instance_index", "text").orderBy(
        "instance_index"
    )


def q_crawl_retry(spark, sf_dir):
    """Bounded retry / fetch-failure semantics (reference maps fetch errors
    to '' bodies, downloader.rb:50-68, and retries timeouts —
    downloader.rb:63-65 — which the engine bounds at max_fetch_attempts):
    a transient failure retries then succeeds; a persistent one goes
    terminal status='failed'. Literal-VALUES oracle."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    failures = spark.createDataFrame(
        [(f"{BASE}/discussion.html", 1), (f"{BASE}/prosecutor.html", 99)],
        "url string, fail_times int",
    )
    seeds = [
        SeedSpec(
            0,
            seed_url=f"{BASE}/propublica.html",
            index_selector="section#river section h1 a",
            extract_selector="h1.article-title",
            extract_kind="text",
            sleep_time_between_requests=0.0,
        )
    ]
    result = Crawler(
        spark, fixture_pages(spark), seeds, fetch_failures=failures, max_fetch_attempts=3
    ).crawl()
    return result.frontier.select("url", "status", "attempts").orderBy("url")


def q_crawl_fixture_headlines(spark, sf_dir):
    """The reference flagship crawl (RSpec basic golden) end-to-end on the
    fixture corpus — crawl ordering + byte-identical extraction, pinned by
    a literal-VALUES oracle (the RSpec golden rows)."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    seeds = [
        SeedSpec(
            0,
            seed_url=f"{BASE}/propublica.html",
            index_selector="section#river section h1 a",
            extract_selector="h1.article-title",
            extract_kind="text",
            sleep_time_between_requests=0.0,
        )
    ]
    result = Crawler(spark, fixture_pages(spark), seeds).crawl()
    return result.extracted.select(
        "url", "instance_index", "pagination_index", "text"
    ).orderBy("instance_index")


def q_crawl_content(spark, sf_dir):
    """The flagship fixture crawl with extract_kind='content' — the
    SELECTOR-FREE training-data path: the boilerplate classifier finds the
    article prose itself (no per-site CSS). Output value contract: per
    instance page, the kept-content md5 + length (content is free text;
    the hash pins the bytes). Oracle: generated — the same pure
    main_content over the same fixture bytes read straight from
    fixtures.FIXTURE_DIR at oracle-gen time."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    seeds = [
        SeedSpec(
            0,
            seed_url=f"{BASE}/propublica.html",
            index_selector="section#river section h1 a",
            extract_kind="content",
            sleep_time_between_requests=0.0,
        )
    ]
    result = Crawler(spark, fixture_pages(spark), seeds).crawl()
    return result.extracted.select(
        "url",
        F.col("instance_index").cast("long").alias("instance_index"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("content_md5"),
    ).orderBy("instance_index")


def _crawl_content_oracle() -> str:
    """q_crawl_content replay: main_content (pure Python, no Spark) over
    the four instance fixture files, in the RSpec crawl order."""
    import hashlib
    import os

    from upton_spark.html.dom import decode_html_bytes
    from upton_spark.operators.boilerplate import main_content
    from upton_spark.sources.fixtures import BASE, FIXTURE_DIR

    order = ["webinar", "discussion", "prosecutor", "sixfacts"]
    vals = []
    for i, name in enumerate(order):
        with open(os.path.join(FIXTURE_DIR, f"{name}.html"), "rb") as fh:
            content = main_content(decode_html_bytes(fh.read()))
        vals.append(
            f"('{BASE}/{name}.html',{i},{len(content)},"
            f"'{hashlib.md5(content.encode()).hexdigest()}')"
        )
    return (
        "SELECT url, CAST(instance_index AS BIGINT) AS instance_index, "
        "CAST(n_chars AS BIGINT) AS n_chars, content_md5 FROM (VALUES "
        + ",".join(vals)
        + ") v(url, instance_index, n_chars, content_md5) ORDER BY instance_index"
    )


def _freshness_obs(spark, sf_dir):
    """Shared observation log for the freshness queries: events replayed
    as fetch observations — one synthetic page per user on one of 7
    hosts, event timestamp = observation instant, 'changed' =
    click/purchase event types (deterministic, engine-neutral)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(
            F.lit("https://h"),
            F.pmod("user_id", F.lit(7)).cast("string"),
            F.lit(".example/u"),
            F.col("user_id").cast("string"),
        ).alias("url"),
        "ts",
        F.col("event_type").isin("click", "purchase").cast("int").alias("changed"),
    )


_FRESHNESS_OBS_SQL = """
        obs AS (
          SELECT 'https://h' || CAST(user_id % 7 AS VARCHAR)
                 || '.example/u' || CAST(user_id AS VARCHAR) AS url,
                 CAST(floor(epoch(ts)) AS BIGINT) AS es,
                 CASE WHEN event_type IN ('click','purchase') THEN 1 ELSE 0 END AS chg
          FROM events
        ),
        agg AS (
          SELECT url, COUNT(*) AS n_obs, CAST(SUM(chg) AS BIGINT) AS n_changed,
                 MIN(es) AS first_es, MAX(es) AS last_seen_epoch
          FROM obs GROUP BY url
        )"""


def q_change_rate(spark, sf_dir):
    """Poisson change-rate estimation per page (operators.freshness.
    change_rate — Cho & Garcia-Molina's bias-corrected λ̂ =
    -ln((n-X+0.5)/(n+0.5))/Ī): the model-based answer to "when should a
    continuous crawler re-fetch this url", upgrading revisit_intervals'
    integer halve/double policy. One groupBy(url) over the observation
    log + codegen arithmetic — no UDF, no driver state. Epochs truncate
    to whole seconds on both engines (DuckDB's fractional epoch() is
    floor()ed); λ rounds at 6 decimals (ln/exp are libm on both sides,
    ~1-ulp apart — same accepted class as the HITS oracle)."""
    from upton_spark.operators.freshness import change_rate

    rates = change_rate(_freshness_obs(spark, sf_dir))
    return rates.select(
        "url",
        "n_obs",
        "n_changed",
        F.round("span_hours", 6).alias("span_hours"),
        F.round("lambda_per_hour", 6).alias("lambda_ph"),
        "last_seen_epoch",
    ).orderBy("url")


def q_freshness_planned_admission(spark, sf_dir):
    """Freshness as a load-bearing crawl-planning input, the third
    priority source beside pagerank/HITS: change_rate → staleness
    (1 - exp(-λ·age) as of an injected decision instant = global last
    observation + 24h) → freshness_priorities (negated micro-quantized)
    → the Crawler's closed-form per-host round assignment (3 tokens/
    host/round). Pages whose history can't support an estimate score
    1.0 (max-stale — the explore arm). The e2e Crawler wiring is pinned
    by tests/test_freshness.py::test_freshness_priority_e2e; this query
    replays the identical math so the oracle checks estimator → score →
    schedule end-to-end."""
    from upton_spark.operators.freshness import (
        change_rate,
        freshness_priorities,
        staleness_scores,
    )

    obs = _freshness_obs(spark, sf_dir)
    rates = change_rate(obs)
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    asof = obs.agg((F.max(epoch) + F.lit(86400)).alias("_asof"))
    scored = staleness_scores(
        rates.crossJoin(F.broadcast(asof)), F.col("_asof")
    )
    fr = freshness_priorities(scored).withColumn(
        "host", F.regexp_extract("url", "^https://([^/]+)/", 1)
    )
    w = Window.partitionBy("host").orderBy("priority", "url")
    return (
        fr.withColumn(
            "round_assigned",
            F.floor((F.row_number().over(w) - 1) / 3).cast("long"),
        )
        .select("host", "url", "priority", "round_assigned")
        .orderBy("host", "url")
    )


def q_shard_manifest(spark, sf_dir):
    """Balanced output sharding + per-shard manifest (operators.
    partitioning.shard_assign/shard_manifest): the write-path planning
    primitive for emitting a 100-TB corpus as N hash-balanced,
    engine-portable shards (md5-bucket placement — survives an engine
    swap bit-for-bit, unlike xxhash64/murmur3) with the row-count /
    byte / key-range sidecar a downstream loader plans reads from. One
    map-only codegen assignment + one 16-row aggregate."""
    from upton_spark.operators.partitioning import shard_manifest

    docs = _t(spark, sf_dir, "documents")
    return (
        shard_manifest(docs, 16, key_col="doc_id", size_col="n_chars")
        .select("shard", "n_rows", "min_key", "max_key", "total_size")
        .orderBy("shard")
    )


def q_adaptive_delay(spark, sf_dir):
    """Latency-adaptive politeness (operators.politeness.adaptive_delays):
    per-host crawl delay auto-tuned to clamp(2 × mean observed fetch
    latency, 0.5s, 30s) — closed-loop backpressure (a host that slows
    down earns a longer delay next round) with zero driver state; the
    Crawler consumes it via host_delays=, merged with robots Crawl-delay
    by greatest() (e2e pinned by tests/test_freshness.py::
    test_adaptive_host_delays_throttle_admission). Events replay as the
    fetch-latency log (latency = value/100 s on one of 7 hosts)."""
    from upton_spark.operators.politeness import adaptive_delays

    ev = _t(spark, sf_dir, "events")
    obs = ev.select(
        F.concat(
            F.lit("h"), F.pmod("user_id", F.lit(7)).cast("string"), F.lit(".example")
        ).alias("host"),
        (F.col("value") / F.lit(100.0)).alias("latency_s"),
    )
    return (
        adaptive_delays(obs)
        .select(
            "host",
            "n_obs",
            F.round("mean_latency_s", 6).alias("mean_latency_s"),
            F.round("crawl_delay", 6).alias("crawl_delay"),
        )
        .orderBy("host")
    )


def q_dup_representatives(spark, sf_dir):
    """Quality-aware duplicate representative selection (operators.
    dedup_docs.select_representatives): the MinHash near-dup graph →
    connected components → keep the HIGHEST-quality member per cluster
    (integer whitespace-token count as the micro-unit quality signal, the
    engine's pre-quantization convention — argmax can never flip on float
    noise), ties → lowest doc_id. The "which copy do we train on" step
    after dup_clusters. Spark side: one join + one partial-aggregable
    struct-min exchange (no window); oracle replays the extremum as a
    window over the same recursive-CTE component chain."""
    from upton_spark.operators.dedup_docs import (
        duplicate_components,
        near_duplicates_minhash,
        select_representatives,
    )
    from upton_spark.operators.textops import token_count_col

    docs = _t(spark, sf_dir, "documents")
    comp = duplicate_components(near_duplicates_minhash(docs, threshold=0.5))
    quality = docs.select(
        "doc_id", token_count_col(F.col("text")).cast("long").alias("quality_micro")
    )
    return select_representatives(comp, quality).orderBy("component")


def q_tfidf_keywords(spark, sf_dir):
    """Per-document top-3 keywords by tf-idf (operators.textops.
    tfidf_topk): token explode → partial-agg (doc, term) counts →
    vocab-sized df rollup joined back → ONE per-doc window bounded by the
    doc's own vocabulary; corpus size N arrives as a broadcast 1-row
    aggregate, never a driver action. Ranking reads the score rounded to
    6 places, then the term ascending, so scores equal up to libm's last
    ulp order the same on any engine; score surfaces at round 6."""
    from upton_spark.operators.textops import tfidf_topk

    docs = _t(spark, sf_dir, "documents")
    return tfidf_topk(docs, k=3).orderBy("doc_id", "rank").withColumn(
        "rank", F.col("rank").cast("long")
    )


def q_inverted_index(spark, sf_dir):
    """Sharded inverted index (operators.textops.inverted_index): term →
    sorted postings, with head terms (df > 200 at sf0.01 — the stopword
    skew bomb at 10^10 pages) split across 4 deterministic ``doc %
    n_shards`` shards so no groupBy-collect is ever bounded by a
    stopword's full posting count. Oracle replays the identical explode /
    rollup / shard arithmetic with list_sort(list(doc))."""
    from upton_spark.operators.textops import inverted_index

    docs = _t(spark, sf_dir, "documents")
    return inverted_index(docs, shard_threshold=200, n_shards=4).orderBy(
        "term", "shard"
    )


def q_embedding_pq(spark, sf_dir):
    """Product quantization (operators.similarity.train_pq_codebooks /
    pq_encode — Jégou et al. 2011): 64-dim vectors → 4 int codes (16-64×
    storage cut, the FAISS IVF+PQ pairing beyond SQ8's 4×). Codebooks
    train deterministically on the id-sorted table (bounded driver
    sample); encode runs distributed through the SAME pure encoder the
    oracle generator calls, and reconstruction happens ENGINE-SIDE via
    codegen literal codebook lookup + cosine (round 4). Oracle: numpy
    replay over the same parquet baked as VALUES."""
    from upton_spark.operators.similarity import (
        cosine_col,
        pq_encode,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, dim=64, m=4, n_centroids=16)
    enc = pq_encode(emb, books)
    sub_tables = [
        F.array(
            *[
                F.array(*[F.lit(float(v)) for v in books[s][c]])
                for c in range(books.shape[1])
            ]
        )
        for s in range(books.shape[0])
    ]
    recon = F.concat(
        *[
            F.element_at(sub_tables[s], F.col("pq_code")[s] + 1)
            for s in range(books.shape[0])
        ]
    )
    return enc.select(
        "vec_id",
        "pq_code",
        F.round(cosine_col(F.col("embedding"), recon), 4).alias("cos_recon"),
    ).orderBy("vec_id")


def _embedding_pq_oracle() -> str | None:
    """embedding_pq oracle: the SAME pure trainer/encoder (numpy, seeded)
    replayed over the sf0.01 parquet at generation time, baked as VALUES —
    independent of the Spark path under test (the Arrow encode stage and
    the codegen literal-codebook reconstruction)."""
    try:
        import duckdb
        import numpy as np

        from upton_spark.operators.similarity import (
            _kmeans_plain,
            pq_codes_for,
            pq_reconstruct_for,
        )

        con = duckdb.connect()
        rows = con.execute(
            "SELECT vec_id, embedding FROM "
            "read_parquet('/root/testdata/sf0.01/embeddings.parquet') ORDER BY vec_id"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    if mat.shape[1] % 4 != 0:
        return None
    sub = mat.shape[1] // 4
    books = np.stack(
        [
            _kmeans_plain(mat[:, s * sub : (s + 1) * sub], 16, 5, seed=31 + s)
            for s in range(4)
        ]
    )
    codes = pq_codes_for(mat, books)
    recon = pq_reconstruct_for(codes, books)
    num = (mat * recon).sum(axis=1)
    den = np.linalg.norm(mat, axis=1) * np.linalg.norm(recon, axis=1)
    cos = np.round(num / den, 4)
    vals = [
        f"({i},[{','.join(str(int(c)) for c in codes[j])}],{cos[j]})"
        for j, i in enumerate(ids)
    ]
    return (
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, pq_code, "
        "CAST(cos_recon AS DOUBLE) AS cos_recon FROM (VALUES "
        + ",".join(vals)
        + ") v(vec_id, pq_code, cos_recon) ORDER BY vec_id"
    )


def q_embedding_pq_adc(spark, sf_dir):
    """Asymmetric distance computation over PQ codes (operators.
    similarity.pq_adc_topk) — THE PQ query path: per-subspace LUTs of
    squared distances from the exact query to each centroid ship as
    codegen literals (m×16 floats, O(1) in corpus size), so scoring a
    vector is m array lookups + adds over the compressed code column,
    never a reconstruction and never the float vectors. Top-10 for the
    vec_id=0 query by ascending rounded L2. Oracle: the same-trainer
    numpy LUT replay baked as VALUES."""
    from upton_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, dim=64, m=4, n_centroids=16)
    qvec = [float(v) for v in emb.filter("vec_id = 0").first()["embedding"]]
    enc = pq_encode(emb, books).select("vec_id", "pq_code")
    return pq_adc_topk(enc, books, qvec, k=10)


def _embedding_pq_adc_oracle() -> str | None:
    """embedding_pq_adc oracle: same-trainer numpy replay (codebooks,
    codes, per-subspace LUTs, rounded sums) over the sf0.01 parquet at
    generation time, baked as VALUES."""
    try:
        import duckdb
        import numpy as np

        from upton_spark.operators.similarity import _kmeans_plain, pq_codes_for

        con = duckdb.connect()
        rows = con.execute(
            "SELECT vec_id, embedding FROM "
            "read_parquet('/root/testdata/sf0.01/embeddings.parquet') ORDER BY vec_id"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    if mat.shape[1] % 4 != 0 or 0 not in ids:
        return None
    sub = mat.shape[1] // 4
    books = np.stack(
        [
            _kmeans_plain(mat[:, s * sub : (s + 1) * sub], 16, 5, seed=31 + s)
            for s in range(4)
        ]
    )
    codes = pq_codes_for(mat, books)
    q = mat[ids.index(0)]
    luts = [
        np.round(((books[s] - q[s * sub : (s + 1) * sub]) ** 2).sum(axis=1), 6)
        for s in range(4)
    ]
    adc = np.round(sum(luts[s][codes[:, s]] for s in range(4)), 6)
    order = sorted(zip(adc, ids))[:10]
    vals = [f"({int(i)},{float(d)})" for d, i in order]
    return (
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, "
        "CAST(adc_dist AS DOUBLE) AS adc_dist FROM (VALUES "
        + ",".join(vals)
        + ") v(vec_id, adc_dist) ORDER BY adc_dist, vec_id"
    )


def q_mirror_hosts(spark, sf_dir):
    """Mirror-site detection (operators.webgraph.mirror_host_pairs): each
    even-length source gets an injected 'm-' twin carrying 3/4 of its
    pages (doc_id%4!=0), so the content-hash overlap join must find
    exactly those twins at Jaccard 0.75 and nothing else past the 0.5
    threshold. The pair join is keyed on content_hash — hosts meet only
    where they share a page, never |hosts|². Oracle replays the identical
    distinct/rollup/overlap chain in SQL."""
    from upton_spark.operators.webgraph import mirror_host_pairs

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.col("source").alias("host"), F.md5("text").alias("content_hash")
    )
    mirror = docs.filter(
        (F.length("source") % 2 == 0) & (F.col("doc_id") % 4 != 0)
    ).select(
        F.concat(F.lit("m-"), F.col("source")).alias("host"),
        F.md5("text").alias("content_hash"),
    )
    pages = base.unionByName(mirror)
    return mirror_host_pairs(pages, threshold=0.5).orderBy("host_a", "host_b")


def q_embedding_sq8(spark, sf_dir):
    """Int8 scalar quantization of the embedding column (operators.
    similarity.quantize_embeddings — FAISS-family SQ8, 4× storage cut for
    the column that IS the storage bill at 100 TB): per-vector (qmin,
    qstep) + int codes. The codes are floor-half-up over deterministic
    double expressions (no libm), so the oracle pins them EXACTLY via an
    integer code_sum; reconstruction fidelity surfaces as the cosine
    between the original and dequantized vector. Map-only codegen."""
    from upton_spark.operators.similarity import (
        cosine_col,
        dequantize_col,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    joined = emb.join(q, "vec_id")
    deq = dequantize_col(F.col("qmin"), F.col("qstep"), F.col("qvec"))
    code_sum = F.aggregate(
        "qvec", F.lit(0).cast("long"), lambda acc, v: acc + v.cast("long")
    )
    return joined.select(
        "vec_id",
        F.round("qmin", 6).alias("qmin"),
        F.round("qstep", 6).alias("qstep"),
        code_sum.alias("code_sum"),
        # round 4, not 6: cos_recon clusters at 0.9999x where a 1-ulp
        # fold-order difference between engines flips the 6th decimal
        F.round(cosine_col(F.col("embedding"), deq), 4).alias("cos_recon"),
    ).orderBy("vec_id")


def q_corpus_pipeline(spark, sf_dir):
    """End-to-end training-corpus pipeline COMPOSITION — the stages are
    individually oracle-checked elsewhere; this query proves they chain:
    normalize (codegen stages of textops.normalize_text, form=None) →
    quality gate (with_quality_stats, keep quality_score > 0) → exact
    dedup on the normalized text among quality-passing docs
    (first-occurrence keep via a partial-aggregable min-join, no window)
    → ONE per-source rollup (docs in, quality-dropped, dup-dropped,
    kept, kept ws-tokens). Scale shape: map-only codegen until the dedup
    hash exchange, then one rollup; the oracle replays the identical
    normalize/quality arithmetic and takes the first occurrence per
    norm_text partition."""
    from upton_spark.operators.textops import normalize_text, with_quality_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # deterministic injection so every stage does real work on this data:
    # doc_id%7==0 -> punctuation salad (the quality gate must drop it);
    # else doc_id%5==1 -> one shared sentence (the dedup must keep exactly
    # the first occurrence corpus-wide)
    docs = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.lit("!!! ,,, ??? ;;; :::"))
        .when(
            F.col("doc_id") % 5 == 1,
            F.lit("the quick brown fox jumps over the lazy dog"),
        )
        .otherwise(F.col("text")),
    )
    q = with_quality_stats(normalize_text(docs, form=None))
    p = q.select(
        "doc_id",
        "source",
        "norm_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("quality_score") > 0).alias("passed"),
    )
    firsts = (
        p.filter("passed")
        .groupBy(F.md5("norm_text").alias("nh"))
        .agg(F.min("doc_id").alias("first_id"))
    )
    d = p.withColumn("nh", F.md5("norm_text")).join(firsts, "nh", "left")
    per_doc = d.select(
        "source",
        "passed",
        (F.col("passed") & (F.col("doc_id") == F.col("first_id"))).alias("kept"),
        "n_tokens",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((~F.col("passed")).cast("long")).alias("n_quality_fail"),
            F.sum((F.col("passed") & ~F.col("kept")).cast("long")).alias(
                "n_dup_dropped"
            ),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


def q_incremental_dedup(spark, sf_dir):
    """Incremental near-dup dedup against history (operators.dedup_docs.
    incremental_near_dups): the NEW shard (doc_id%3==0) band-joins ONLY
    against the already-deduped OLD corpus — never new×new, never
    old×old (at 10^10 accumulated pages the old×old pair space is the
    dominant cost a continuous crawl must skip). Band hashes are the
    same contiguous-slice xxhash as the symmetric path, so the oracle is
    the full-pipeline SQL replay filtered to pairs that straddle the
    split, reoriented (new_id, old_id)."""
    from upton_spark.operators.dedup_docs import incremental_near_dups

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 3 == 0)
    old = docs.filter(F.col("doc_id") % 3 != 0)
    return (
        incremental_near_dups(new, old, threshold=0.5)
        .select("new_id", "old_id", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("new_id", "old_id")
    )


def q_host_graph(spark, sf_dir):
    """Domain-level webgraph rollup (operators.webgraph.host_graph): the
    aggregate artifact Common Crawl publishes alongside its page crawls —
    one weighted edge per registrable-domain pair. The synthetic URL
    link graph (same integer edge map as pagerank/HITS) gets per-doc
    www./m./bare subdomains injected, which the PSL broadcast match must
    collapse back to the eTLD+1 before the ONE (src, dst) site-pair
    aggregate. Oracle replays the integer edge map + lower(source).com
    grouping directly."""
    from upton_spark.operators.webgraph import host_graph, synth_link_graph

    docs = _t(spark, sf_dir, "documents")
    edges = synth_link_graph(docs, fanout=3)
    meta = docs.select("doc_id", "source")
    sub = lambda c: F.element_at(  # noqa: E731
        F.array(F.lit("www."), F.lit(""), F.lit("m.")),
        (F.pmod(c, F.lit(3)) + 1).cast("int"),
    )
    links = (
        edges.join(meta.withColumnRenamed("doc_id", "src"), "src")
        .withColumnRenamed("source", "src_source")
        .join(
            meta.withColumnRenamed("doc_id", "dst").withColumnRenamed(
                "source", "dst_source"
            ),
            "dst",
        )
        .select(
            F.concat(
                F.lit("http://"), sub(F.col("src")), F.col("src_source"),
                F.lit(".com/d/"), F.col("src"),
            ).alias("src_url"),
            F.concat(
                F.lit("http://"), sub(F.col("dst")), F.col("dst_source"),
                F.lit(".com/p/"), F.col("dst"),
            ).alias("dst_url"),
        )
    )
    return host_graph(links, level="domain").orderBy("src_site", "dst_site")


def q_wat_ingest(spark, sf_dir):
    """WAT source (Common Crawl metadata records): deterministic per-doc
    outlink lists re-archived as one .wat.gz (JSON envelope per metadata
    record, sources.warc.write_wat), then stream-parsed back into
    (url, links) rows task-parallel by read_wat and exploded. The
    synthesis is driver-side test plumbing (same pattern as warc_ingest);
    the distributed JSON-envelope parse is what's under test. Oracle
    regenerates the link rows straight from (source, doc_id)."""
    import os
    import tempfile

    from upton_spark.sources.warc import read_wat, write_wat

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "source").orderBy("doc_id").collect()
    )
    from datetime import datetime

    ts = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (
            f"http://{r['source']}/d/{r['doc_id']}",
            ts,
            [
                (f"http://{r['source']}/p/{r['doc_id']}", f"anchor {r['doc_id']}"),
                (None, "bare"),
            ],
        )
        for r in docs
    ]
    fd, path = tempfile.mkstemp(suffix=".wat.gz")
    os.close(fd)
    try:
        write_wat(rows, path)
        wat = read_wat(spark, [path])
        out = wat.select(
            "url", F.posexplode("links").alias("pos", "l")
        ).select(
            "url",
            F.col("pos").cast("long").alias("pos"),
            F.col("l.href").alias("href"),
            F.col("l.anchor").alias("anchor"),
        )
        return out.orderBy("url", "pos").localCheckpoint()
    finally:
        os.unlink(path)


def q_compression_ratio(spark, sf_dir):
    """zlib-deflate compression ratio per document (operators.textops.
    compression_ratio): the cheap gibberish/template quality detector —
    boilerplate compresses to almost nothing, word salad barely
    compresses. ONE Arrow-batched deflate stage, ratio as exact int64
    micro-units. Oracle: the SAME zlib (identical version in bake and
    executors) replayed over the driver's parquet at generation time,
    baked as VALUES (bake-the-constants pattern)."""
    from upton_spark.operators.textops import compression_ratio

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        compression_ratio(docs)
        .select("doc_id", "raw_bytes", "deflate_bytes", "ratio_micro")
        .orderBy("doc_id")
    )


def _compression_ratio_oracle() -> str | None:
    """compression_ratio oracle: pure-Python zlib replay over the sf0.01
    parquet text at generation time — independent of the Spark execution
    path (the Arrow stage, the codegen ratio arithmetic)."""
    import zlib

    try:
        import duckdb

        con = duckdb.connect()
        rows = con.execute(
            "SELECT doc_id, text FROM "
            "read_parquet('/root/testdata/sf0.01/documents.parquet') ORDER BY doc_id"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    vals = []
    for d, t in rows:
        raw = (t or "").encode("utf-8")
        dl = len(zlib.compress(raw, 6))
        ratio = "NULL" if len(raw) == 0 else str(dl * 1_000_000 // len(raw))
        vals.append(f"({d},{len(raw)},{dl},{ratio})")
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(raw_bytes AS BIGINT) AS raw_bytes, "
        "CAST(deflate_bytes AS BIGINT) AS deflate_bytes, "
        "CAST(ratio_micro AS BIGINT) AS ratio_micro FROM (VALUES "
        + ",".join(vals)
        + ") v(doc_id, raw_bytes, deflate_bytes, ratio_micro) ORDER BY doc_id"
    )


def q_charset_stats(spark, sf_dir):
    """Corpus encoding audit (operators.multimodal.detect_charset): pages
    synthesized as REAL bytes in five encoding shapes from doc_id%5 —
    plain utf-8, utf-8 BOM, meta-declared iso-8859-1 (real latin-1
    bytes), utf-16le BOM, utf-16be BOM — sniffed back by the pure-codegen
    WHATWG-precedence detector (BOM beats declaration beats default) and
    rolled up per (charset, bom). The Spark side must actually parse the
    bytes; the oracle regenerates the expected labels straight from
    doc_id%5 (the sniff_type ground-truth pattern)."""
    from upton_spark.operators.multimodal import detect_charset

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    snip = F.concat(F.lit("<html><p>"), F.substring("text", 1, 40), F.lit("</p></html>"))
    payload = (
        F.when(F.col("doc_id") % 5 == 0, F.encode(snip, "UTF-8"))
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.unhex(F.lit("EFBBBF")), F.encode(snip, "UTF-8")),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.encode(
                F.concat(F.lit('<meta charset="ISO-8859-1">'), snip), "ISO-8859-1"
            ),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.unhex(F.lit("FFFE")), F.encode(snip, "UTF-16LE")),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("FEFF")), F.encode(snip, "UTF-16BE"))
        )
    )
    pages = docs.select("doc_id", payload.alias("html"))
    return (
        detect_charset(pages)
        .groupBy("charset", "bom")
        .agg(F.count("*").cast("long").alias("n_pages"))
        .orderBy("charset", "bom")
    )


# Round a query first appeared in queries(), for entries that have never
# had a green driver row.  A query registered in round R could not possibly
# have driver evidence before R, so its staleness clock starts at R-1 —
# ranking it by rounds-MISSED rather than lumping every never-green entry
# (a 2-rounds-overdue r4 query and a brand-new one) into one bucket.
# Only never-green entries need a row here (green entries use the ledger),
# but EVERY ledger-absent registration must appear — a missing entry would
# silently default to "registered this round" after a _CURRENT_ROUND bump,
# reproducing the lumped-bucket bug; TestDriverRotation enforces coverage.
_FIRST_REGISTERED_ROUND = {
    "link_hits": 4,
    # round-5 registrations (never driver-checked as of the r4 artifact)
    **{
        name: 5
        for name in (
            "media_real_decode", "media_sample_frames", "sitemap_discovery",
            "hits_planned_admission", "surt_keys", "host_split",
            "anchor_stats", "cdx_index", "text_normalize", "sitemap_entries",
            "sitemap_planned_admission", "meta_refresh", "canonical_links",
            "sniff_type", "registrable_domains", "domain_split",
            "trap_scores", "discovery_chain", "redirect_chains",
            "main_content", "crawl_content", "change_rate",
            "freshness_planned_admission", "shard_manifest", "adaptive_delay",
            "dup_representatives", "tfidf_keywords", "inverted_index",
            "charset_stats", "compression_ratio", "wat_ingest", "host_graph",
            "incremental_dedup", "corpus_pipeline", "embedding_sq8",
            "mirror_hosts", "embedding_pq", "embedding_pq_adc",
        )
    },
}
_CURRENT_ROUND = 5


def _rotate_by_staleness(
    base: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Stalest-evidence-first ordering: the driver correctness artifact is
    capped (exactly 50 rows in r03/r04 vs 72+ registered queries), so dict
    order decides which queries get fresh driver rows. GREEN_ROUNDS.json
    (regenerated from the CORRECTNESS_r*.json artifacts by
    scripts/update_green_rounds.py) records each query's latest green
    round. Entries are ordered by effective-last-evidence round ascending,
    where a never-green entry's effective round is the round before it was
    first registered (it is exactly that many rounds overdue, no more);
    within a round, never-green entries precede green ones, then base
    (registration) order. This guarantees the entries with real missed
    rounds (e.g. the 21 r3-green rows skipped by the r4 cap, and link_hits,
    registered r4 but never checked) outrank same-round registrations, so
    the union of two consecutive capped artifacts covers every entry that
    existed two rounds ago."""
    import json
    import os

    ledger_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "GREEN_ROUNDS.json")
    try:
        last_green = json.load(open(ledger_path))["last_green"]
    except (OSError, KeyError, json.JSONDecodeError):
        return base
    base_pos = {name: i for i, name in enumerate(base)}

    def key(name: str):
        if name in last_green:
            return (last_green[name], 1, base_pos[name])
        effective = _FIRST_REGISTERED_ROUND.get(name, _CURRENT_ROUND) - 1
        return (effective, 0, base_pos[name])

    return {name: base[name] for name in sorted(base, key=key)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotate_by_staleness({
        # Base order is historical registration order; the effective order
        # served to the driver comes from _rotate_by_staleness (never-green
        # first, then oldest driver evidence first).
        "dup_clusters": q_dup_clusters,
        "semantic_dedup": q_semantic_dedup,
        "crawl_fixture_headlines": q_crawl_fixture_headlines,
        "crawl_retry": q_crawl_retry,
        "crawl_lineage_politeness": q_crawl_lineage_politeness,
        "crawl_robots_gate": q_crawl_robots_gate,
        "crawl_paginated_search": q_crawl_paginated_search,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash": q_simhash,
        "language_id": q_language_id,
        "fingerprint_rolling": q_fingerprint_rolling,
        "embedding_lsh_buckets": q_embedding_lsh_buckets,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
        "multimodal_features": q_multimodal_features,
        "media_frame_sample": q_media_frame_sample,
        "planned_admission": q_planned_admission,  # new in r4 (crawl planning wired)
        "gopher_quality": q_gopher_quality,  # new in r4 (Gopher structural rules)
        "lm_perplexity": q_lm_perplexity,  # new in r4 (CCNet LM quality score)
        "cdc_chunks": q_cdc_chunks,  # new in r4 (content-defined chunking)
        "media_meta_check": q_media_meta_check,  # new in r4 (container-header validation)
        "media_real_decode": q_media_real_decode,  # new in r5 (real jpeg/png/gif decode)
        "media_sample_frames": q_media_sample_frames,  # new in r5 (stts/stsz schedule)
        # crawl/url family
        "url_md5": q_url_md5,
        "slug": q_slug,
        "pagination_rewrite": q_pagination_rewrite,
        "readable_key": q_readable_key,
        "host_stats": q_host_stats,
        "frontier_dedup": q_frontier_dedup,
        "politeness_admission": q_politeness_admission,
        "latest_event_per_user": q_latest_event_per_user,
        # relational coverage
        "q1_pricing_summary": q1_pricing_summary,
        "top_revenue_orders": q_top_revenue_orders,
        "region_rollup_sales": q_region_rollup_sales,
        "customers_without_orders": q_customers_without_orders,
        "rich_customers_with_orders": q_rich_customers_with_orders,
        "set_ops": q_set_ops,
        "rollup_lineitem": q_rollup_lineitem,
        "pivot_linestatus": q_pivot_linestatus,
        "sessionization": q_sessionization,
        "hourly_events": q_hourly_events,
        "product_type_profit": q_product_type_profit,
        "hot_hosts_topk": q_hot_hosts_topk,
        # training-data pipeline
        "bpe_token_stats": q_bpe_token_stats,
        "quality_scores": q_quality_scores,
        "pii_scrub": q_pii_scrub,
        "paragraph_dedup": q_paragraph_dedup,
        "sequence_pack": q_sequence_pack,
        "dsir_weights": q_dsir_weights,
        "chunk_documents": q_chunk_documents,
        "exact_substring_dedup": q_exact_substring_dedup,
        "c4_clean": q_c4_clean,
        "blocklist_gate": q_blocklist_gate,
        "link_anchors": q_link_anchors,
        "revisit_intervals": q_revisit_intervals,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "exact_dup_groups": q_exact_dup_groups,
        "benchmark_contamination": q_benchmark_contamination,
        "stratified_sample": q_stratified_sample,
        "repetition_stats": q_repetition_stats,
        "token_stats": q_token_stats,
        "lang_distribution": q_lang_distribution,
        "fingerprint_md5": q_fingerprint_md5,
        "char_jaccard_pairs": q_char_jaccard_pairs,
        "embedding_topk": q_embedding_topk,
        "embedding_cosine_pairs": q_embedding_cosine_pairs,
        # sources (WARC ingestion, robots-from-corpus, sitemaps)
        "warc_ingest": q_warc_ingest,
        "robots_from_pages": q_robots_from_pages,
        "sitemap_extract": q_sitemap_extract,
        "sitemap_discovery": q_sitemap_discovery,  # new in r5 (robots Sitemap: glue)
        # web-graph / crawl planning
        "link_pagerank": q_link_pagerank,
        "link_hits": q_link_hits,  # new in r4 (HITS hubs/authorities)
        "hits_planned_admission": q_hits_planned_admission,  # new in r5
        "url_canonicalize": q_url_canonicalize,
        "crawl_snapshot_diff": q_crawl_snapshot_diff,
        "crawl_budget": q_crawl_budget,
        "surt_keys": q_surt_keys,  # new in r5 (web-archive sort keys)
        "host_split": q_host_split,  # new in r5 (leakage-safe splits)
        "anchor_stats": q_anchor_stats,  # new in r5 (inlink anchor-text rollup)
        "cdx_index": q_cdx_index,  # new in r5 (web-archive capture index)
        "text_normalize": q_text_normalize,  # new in r5 (NFC + ws/control/lower)
        "sitemap_entries": q_sitemap_entries,  # new in r5 (priority/lastmod fields)
        "sitemap_planned_admission": q_sitemap_planned_admission,  # new in r5
        "meta_refresh": q_meta_refresh,  # new in r5 (client-side redirect edges)
        "canonical_links": q_canonical_links,  # new in r5 (rel=canonical dup signal)
        "sniff_type": q_sniff_type,  # new in r5 (magic-byte content-type router)
        "registrable_domains": q_registrable_domains,  # new in r5 (eTLD+1 grouping key)
        "domain_split": q_domain_split,  # new in r5 (site-disjoint splits)
        "trap_scores": q_trap_scores,  # new in r5 (crawler-trap heuristics)
        "discovery_chain": q_discovery_chain,  # new in r5 (robots->sitemap->schedule e2e)
        "redirect_chains": q_redirect_chains,  # new in r5 (pointer-doubling resolve)
        "main_content": q_main_content,  # new in r5 (boilerplate removal)
        "crawl_content": q_crawl_content,  # new in r5 (selector-free crawl)
        "change_rate": q_change_rate,  # new in r5 (Poisson λ̂ re-crawl model)
        "freshness_planned_admission": q_freshness_planned_admission,  # new in r5
        "shard_manifest": q_shard_manifest,  # new in r5 (balanced output shards)
        "adaptive_delay": q_adaptive_delay,  # new in r5 (latency-tuned politeness)
        "dup_representatives": q_dup_representatives,  # new in r5 (quality-aware keep)
        "tfidf_keywords": q_tfidf_keywords,  # new in r5 (per-doc salience)
        "inverted_index": q_inverted_index,  # new in r5 (sharded postings)
        "charset_stats": q_charset_stats,  # new in r5 (WHATWG charset sniff)
        "compression_ratio": q_compression_ratio,  # new in r5 (deflate quality)
        "wat_ingest": q_wat_ingest,  # new in r5 (Common Crawl WAT metadata)
        "host_graph": q_host_graph,  # new in r5 (domain-level webgraph rollup)
        "incremental_dedup": q_incremental_dedup,  # new in r5 (new-vs-history LSH)
        "corpus_pipeline": q_corpus_pipeline,  # new in r5 (e2e stage composition)
        "embedding_sq8": q_embedding_sq8,  # new in r5 (int8 scalar quantization)
        "mirror_hosts": q_mirror_hosts,  # new in r5 (content-overlap mirror pairs)
        "embedding_pq": q_embedding_pq,  # new in r5 (product quantization)
        "embedding_pq_adc": q_embedding_pq_adc,  # new in r5 (PQ ADC query path)
    })


# --------------------------------------------------------------------------
# generated oracle SQL — signature pipelines replayed in DuckDB with the
# engine's exact constants baked in (md5_number_lower == little-endian
# uint64 of md5 digest bytes [8:16] == the engine's _tok64_md5)
# --------------------------------------------------------------------------

_T64 = "CAST('18446744073709551616' AS HUGEINT)"  # 2^64 wraparound modulus
_MERS = "CAST('2305843009213693951' AS HUGEINT)"  # 2^61-1 MinHash prime


def _hugeint_list(vals) -> str:
    return "[" + ",".join(f"CAST('{int(v)}' AS HUGEINT)" for v in vals) + "]"


def _shingle_ctes(src: str = "documents") -> str:
    """The engine's k=5 shingle chain (md5_number_lower >> 2 token hashes,
    uint64-wraparound sliding combine, distinct) as a reusable CTE fragment
    ending in ``sh(doc_id, sh HUGEINT[])`` — shared by the MinHash,
    dup-cluster, and contamination oracles so every shingle consumer
    replays ONE chain."""
    from upton_spark.operators.dedup_docs import _SHINGLE_C

    cpl = _hugeint_list(pow(int(_SHINGLE_C), j, 1 << 64) for j in range(6))
    return f"""cp_c AS (SELECT {cpl} AS cp),
        t AS (
          SELECT doc_id,
                 CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
          FROM {src}
        ), th AS (
          SELECT doc_id, list_transform(toks, w -> CAST(md5_number_lower(w) >> 2 AS HUGEINT)) AS h,
                 len(toks) AS n
          FROM t
        ), sh AS (
          SELECT doc_id,
            CASE WHEN n < 5 THEN
              [ (5 * cp[n+1]
                 + coalesce(list_sum(list_transform(range(0, n), j -> (h[j+1] * cp[n-j]) % {_T64})), 0)) % {_T64} ]
            ELSE
              list_distinct(list_transform(range(1, n - 3), i ->
                coalesce(list_sum(list_transform(range(0, 5), j -> (h[i+j] * cp[j+1]) % {_T64})), 0) % {_T64}))
            END AS sh
          FROM th, cp_c
        )"""


def _minhash_oracle() -> str:
    from upton_spark.operators.dedup_docs import _minhash_params

    a, b = _minhash_params(64)
    return f"""
        WITH {_shingle_ctes()},
        c AS (SELECT {_hugeint_list(a)} AS ca, {_hugeint_list(b)} AS cb),
        sig AS (
          SELECT doc_id, list_transform(range(0, 64), p ->
               CAST(list_aggregate(list_transform(sh, x -> ((ca[p+1] * x) % {_T64} + cb[p+1]) % {_T64} % {_MERS}), 'min') AS BIGINT)) AS sig
          FROM sh, c
        ), band AS (
          SELECT doc_id, band, sig[band*4+1:band*4+4] AS bslice
          FROM sig, range(0, 16) r(band)
        ), cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM band x JOIN band y ON x.band = y.band AND x.bslice = y.bslice AND x.doc_id < y.doc_id
        ), j AS (
          SELECT a, b,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
          FROM cand JOIN sh sa ON sa.doc_id = cand.a JOIN sh sb ON sb.doc_id = cand.b
        )
        SELECT a, b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.5
    """


def _dup_clusters_oracle() -> str:
    """Transitive closure of the MinHash near-dup graph (recursive CTE);
    component label = min reachable doc_id (incl. self)."""
    mh = _minhash_oracle()
    return f"""
        WITH RECURSIVE pairs AS (SELECT a, b FROM ({mh}) q),
        edges AS (
          SELECT a AS x, b AS y FROM pairs
          UNION
          SELECT b AS x, a AS y FROM pairs
        ),
        reach(x, y) AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
        )
        SELECT CAST(x AS BIGINT) AS doc_id,
               CAST(least(x, min(y)) AS BIGINT) AS component
        FROM reach GROUP BY x ORDER BY doc_id
    """


def _contamination_oracle() -> str:
    """Replay of contamination_pairs: the SAME shingle CTE chain as the
    MinHash oracle, exploded to (doc_id, shingle) and joined corpus x
    benchmark (doc_id % 7 split) — exact n-gram collision counts."""
    return f"""
        WITH {_shingle_ctes()},
        ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        b AS (SELECT doc_id AS bench_id, shingle FROM ex WHERE doc_id % 7 = 0),
        cc AS (SELECT doc_id, shingle FROM ex WHERE doc_id % 7 <> 0),
        hits AS (
          SELECT cc.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
          FROM cc JOIN b USING (shingle) GROUP BY cc.doc_id, b.bench_id
        ),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM cc GROUP BY doc_id)
        SELECT doc_id, bench_id, n_shared, n_shingles,
               round(CAST(n_shared AS DOUBLE) / n_shingles, 4) AS overlap
        FROM hits JOIN sizes USING (doc_id)
    """


def _stratified_sample_oracle() -> str:
    """Generated from the SAME rates dict the Spark query uses: the
    keep/drop decision is pure int64 arithmetic on doc_id, so the replay
    is bit-exact (thresholds resolve to integers once, driver-side)."""
    from upton_spark.operators.sampling import _BUCKETS, _MULT, _OFFSET

    cases = " ".join(
        f"WHEN '{s}' THEN {int(round(float(r) * _BUCKETS))}"
        for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"""
        WITH kept AS (
          SELECT lang FROM documents
          WHERE (doc_id * {_MULT} + {_OFFSET}) % {_BUCKETS} < CASE lang {cases} ELSE 0 END
        ),
        totals AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total FROM documents GROUP BY lang),
        k AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY lang)
        SELECT t.lang, n_total, CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
               round(CAST(coalesce(n_kept, 0) AS DOUBLE) / n_total, 4) AS realized_rate
        FROM totals t LEFT JOIN k ON t.lang = k.lang
    """


def _simhash_oracle() -> str:
    return r"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
          FROM documents
        ), h AS (
          SELECT doc_id, list_transform(toks, w -> md5_number_lower(w)) AS hs FROM t
        ), acc AS (
          SELECT doc_id, hs,
                 list_sum(list_transform(range(0, 64), b ->
                   CASE WHEN coalesce(list_sum(list_transform(hs,
                          x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
                        THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)) AS v
          FROM h
        )
        SELECT doc_id,
               CAST(CASE WHEN len(hs) = 0 THEN 0
                         WHEN v >= CAST('9223372036854775808' AS HUGEINT)
                         THEN v - CAST('18446744073709551616' AS HUGEINT)
                         ELSE v END AS BIGINT) AS simhash
        FROM acc
    """


def _language_id_oracle() -> str:
    from upton_spark.operators.textops import _STOPWORDS

    hits = {
        lang: "len(list_intersect(["
        + ",".join(f"'{w}'" for w in ws)
        + "], words))"
        for lang, ws in _STOPWORDS.items()
    }
    top = f"greatest({hits['en']}, {hits['es']}, {hits['fr']}, {hits['de']})"
    return f"""
        WITH t AS (
          SELECT doc_id, lang,
                 (string_split_regex(trim(lower(text)), '\\s+'))[1:400] AS words
          FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN {top} < 2 THEN 'und'
                    WHEN {hits['en']} = {top} THEN 'en'
                    WHEN {hits['es']} = {top} THEN 'es'
                    WHEN {hits['fr']} = {top} THEN 'fr'
                    ELSE 'de' END AS lang_guess
        FROM t
    """


def _fingerprint_oracle() -> str:
    from upton_spark.operators.dedup_docs import _SHINGLE_C

    cpl = _hugeint_list(pow(int(_SHINGLE_C), j, 1 << 64) for j in range(9))
    return f"""
        WITH c AS (SELECT {cpl} AS cp),
        t AS (
          SELECT doc_id,
                 CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
          FROM documents
        ), th AS (
          SELECT doc_id, list_transform(toks, w -> CAST(md5_number_lower(w) >> 2 AS HUGEINT)) AS h,
                 len(toks) AS n
          FROM t
        ), sh AS (
          SELECT doc_id,
            CASE WHEN n < 8 THEN
              [ (8 * cp[n+1]
                 + coalesce(list_sum(list_transform(range(0, n), j -> (h[j+1] * cp[n-j]) % {_T64})), 0)) % {_T64} ]
            ELSE
              list_transform(range(1, n - 6), i ->
                coalesce(list_sum(list_transform(range(0, 8), j -> (h[i+j] * cp[j+1]) % {_T64})), 0) % {_T64})
            END AS sh
          FROM th, c
        )
        SELECT doc_id,
               CAST(CASE WHEN list_aggregate(sh, 'min') >= CAST('9223372036854775808' AS HUGEINT)
                         THEN list_aggregate(sh, 'min') - {_T64}
                         ELSE list_aggregate(sh, 'min') END AS BIGINT) AS fingerprint
        FROM sh
    """


def _lsh_planes_sql(n_planes: int) -> str:
    from upton_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, n_planes)
    return "[" + ",".join(
        "[" + ",".join(str(int(v)) for v in row) + "]" for row in planes
    ) + "]"


def _lsh_bucket_cte(n_planes: int, extra_cols: str = "") -> str:
    """Shared CTE chain computing per-vector quantized-int LSH buckets."""
    return f"""
        WITH p AS (SELECT {_lsh_planes_sql(n_planes)} AS planes),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x*1000000 + 0.5) AS HUGEINT)) AS eq
          FROM embeddings
        ), b AS (
          SELECT vec_id, ev,
            CAST(list_sum(list_transform(range(0, {n_planes}), pl ->
              CASE WHEN coalesce(list_sum(list_transform(range(1, 65), d ->
                        eq[d] * CAST(planes[pl+1][d] AS HUGEINT))), 0) > 0
                   THEN CAST(CAST(1 AS UBIGINT) << pl AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)) AS INTEGER) AS lsh_bucket
          FROM e, p
        )
    """


def _pagerank_oracle(iters: int = 5, damping: float = 0.85, fanout: int = 3) -> str:
    """PageRank unrolled as chained CTEs — same graph, same constants.

    The teleport/damping constants are computed with the SAME Python float
    arithmetic the Spark side uses (1.0-damping is NOT 0.15 exactly) and
    shipped via CAST('<repr>' AS DOUBLE) so both engines run identical
    IEEE operations; only per-dst summation order can differ (~1e-15,
    absorbed by round 6)."""
    teleport = repr(1.0 - damping)
    d = repr(damping)
    ks = ",".join(f"({k})" for k in range(fanout))
    sql = f"""
        WITH nodes AS (SELECT doc_id FROM documents),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT d.doc_id AS src,
                   (d.doc_id*d.doc_id + 7*k.k*d.doc_id + k.k + 1) % nn.n AS dst
            FROM nodes d CROSS JOIN nn CROSS JOIN (VALUES {ks}) k(k)
          ) WHERE src <> dst
        ),
        outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        r0 AS (SELECT doc_id AS node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)"""
    for i in range(1, iters + 1):
        p = i - 1
        sql += f""",
        r{i} AS (
          SELECT b.node,
                 CAST('{teleport}' AS DOUBLE) + CAST('{d}' AS DOUBLE) * (
                   coalesce(c.inflow, CAST(0 AS DOUBLE))
                   + dg.dm / CAST(nn.n AS DOUBLE)
                 ) AS rank
          FROM (SELECT node FROM r{p}) b
          LEFT JOIN (
            SELECT e.dst AS cnode, SUM(r.rank / o.outdeg) AS inflow
            FROM edges e JOIN r{p} r ON e.src = r.node
                         JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
          ) c ON c.cnode = b.node
          CROSS JOIN (
            SELECT coalesce(SUM(r.rank), CAST(0 AS DOUBLE)) AS dm
            FROM r{p} r LEFT JOIN outdeg o ON r.node = o.src
            WHERE o.src IS NULL
          ) dg
          CROSS JOIN nn
        )"""
    sql += f"""
        SELECT node AS doc_id, round(rank, 6) AS rank FROM r{iters} ORDER BY doc_id
    """
    return sql


_CANON_FILTER = (
    "x -> x <> '' AND NOT starts_with(x,'utm_') AND NOT starts_with(x,'fbclid')"
    " AND NOT starts_with(x,'gclid') AND NOT starts_with(x,'ref_src')"
)

_WEBGRAPH_ORACLES = {
    "link_pagerank": None,  # filled lazily (generated)
    "anchor_stats": """
        WITH nodes AS (SELECT doc_id FROM documents),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT d.doc_id AS src,
                   (d.doc_id*d.doc_id + 7*k.k*d.doc_id + k.k + 1) % nn.n AS dst
            FROM nodes d CROSS JOIN nn CROSS JOIN (VALUES (0),(1),(2)) k(k)
          ) WHERE src <> dst
        ),
        links AS (
          SELECT dst AS target,
                 'anchor-' || CAST((src + 3*dst) % 5 AS VARCHAR) AS anchor
          FROM edges
        ),
        pa AS (
          SELECT target, anchor, COUNT(*) AS cnt
          FROM links GROUP BY target, anchor
        ),
        r AS (
          SELECT target, anchor, cnt,
                 row_number() OVER (
                   PARTITION BY target ORDER BY cnt DESC, anchor) AS rn
          FROM pa
        )
        SELECT target,
               CAST(SUM(cnt) AS BIGINT) AS inlinks,
               COUNT(*) AS n_anchors,
               MAX(CASE WHEN rn = 1 THEN anchor END) AS top_anchor,
               MAX(CASE WHEN rn = 1 THEN cnt END) AS top_anchor_count
        FROM r GROUP BY target ORDER BY target
    """,
    "cdx_index": """
        WITH u AS (
          SELECT doc_id, source, text,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN 'www.' WHEN 1 THEN '' WHEN 2 THEN 'm.'
                   ELSE 'cdn.' END AS sub
          FROM documents
        ), caps AS (
          SELECT doc_id, source, text, sub, e.x AS extra
          FROM u CROSS JOIN (VALUES (0),(3600)) e(x)
        ), b AS (
          SELECT 'http://' || sub || source || '/d/' || doc_id AS url,
                 regexp_replace(lower(sub || source), '^www\\.', '') AS h,
                 '/d/' || doc_id AS path,
                 TIMESTAMP '2024-01-01 00:00:00'
                   + to_seconds((doc_id * 7) % 50 + extra) AS ts,
                 text
          FROM caps
        )
        SELECT array_to_string(list_reverse(string_split(h, '.')), ',')
                 || ')' || path AS urlkey,
               strftime(ts, '%Y%m%d%H%M%S') AS ts14,
               url,
               md5(text) AS digest,
               CAST(strlen(text) AS BIGINT) AS length
        FROM b ORDER BY urlkey, ts14
    """,
    "text_normalize": """
        SELECT doc_id,
               lower(trim(regexp_replace(regexp_replace(
                 nfc_normalize('Cafe' || chr(769) || chr(9) || 'Du ' || chr(7)
                               || ' Monde  ' || text),
                 '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                 '\\s+', ' ', 'g'))) AS norm_text
        FROM documents ORDER BY doc_id
    """,
    "sitemap_entries": """
        WITH e AS (
          SELECT lower(source) AS host,
                 'http://' || source || '/d/' || doc_id AS url,
                 CASE WHEN doc_id % 4 = 0 THEN CAST(0.5 AS DOUBLE)
                      ELSE CAST((doc_id % 9) + 1 AS DOUBLE) / 10.0 END AS priority,
                 CASE WHEN doc_id % 3 = 0
                      THEN '2024-01-' ||
                           lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
                      END AS lastmod
          FROM documents
        )
        SELECT host, url, round(priority, 6) AS priority, lastmod
        FROM e ORDER BY host, url
    """,
    "sitemap_planned_admission": """
        WITH pr AS (
          SELECT d.source AS host,
                 'http://' || d.source || '/d/' || d.doc_id AS url,
                 CAST(-round((CASE WHEN d.doc_id % 4 = 0 THEN CAST(0.5 AS DOUBLE)
                       ELSE CAST((d.doc_id % 9) + 1 AS DOUBLE) / 10.0 END)
                      * 1000000) AS BIGINT) AS priority
          FROM documents d
        )
        SELECT host, url, priority,
               CAST(floor((row_number() OVER (
                     PARTITION BY host ORDER BY priority, url) - 1)
                    / 10) AS BIGINT) AS round_assigned
        FROM pr ORDER BY host, url
    """,
    "discovery_chain": """
        WITH pr AS (
          SELECT d.source AS host,
                 'http://' || d.source || '/d/' || d.doc_id AS url,
                 CAST(-round((CASE WHEN d.doc_id % 4 = 0
                       THEN CAST(0.5 AS DOUBLE)
                       ELSE CAST((d.doc_id % 9) + 1 AS DOUBLE) / 10.0 END)
                      * 1000000) AS BIGINT) AS priority
          FROM documents d
          WHERE CAST(substr(d.source, 4) AS BIGINT) % 3 <> 0
        )
        SELECT host, url, priority,
               CAST(floor((row_number() OVER (
                     PARTITION BY host ORDER BY priority, url) - 1)
                    / 10) AS BIGINT) AS round_assigned
        FROM pr ORDER BY host, url
    """,
    "trap_scores": """
        WITH u AS (
          SELECT doc_id,
                 CASE CAST(doc_id % 5 AS INT)
                   WHEN 0 THEN 'http://' || source || '/d/a/b' || doc_id
                   WHEN 1 THEN 'http://' || source || '/x/x/x/x/x/p' || doc_id
                   WHEN 2 THEN 'http://' || source || '/cal/2024/03/'
                               || ((doc_id % 28) + 1)
                   WHEN 3 THEN 'http://' || source
                               || '/s?a=1&b=2&c=3&d=4&e=5&f=' || doc_id
                   ELSE 'http://' || source || '/p?page=' || doc_id
                 END AS url,
                 CASE CAST(doc_id % 5 AS INT)
                   WHEN 0 THEN 3 WHEN 1 THEN 6 WHEN 2 THEN 4
                   WHEN 3 THEN 1 ELSE 1 END AS depth,
                 CASE WHEN doc_id % 5 = 1 THEN 4 ELSE 0 END AS dup_segments,
                 CASE CAST(doc_id % 5 AS INT)
                   WHEN 3 THEN 6 WHEN 4 THEN 1 ELSE 0 END AS param_count,
                 (doc_id % 5 = 2) AS has_calendar,
                 (doc_id % 5 IN (1, 2, 3)) AS is_trap
          FROM documents
        )
        SELECT doc_id, url, depth, dup_segments, param_count,
               has_calendar, is_trap
        FROM u ORDER BY doc_id
    """,
    "domain_split": """
        WITH h AS (
          SELECT doc_id,
                 CASE CAST(doc_id % 6 AS INT)
                   WHEN 0 THEN 'www.site' || doc_id || '.co.uk'
                   WHEN 1 THEN 'a.b.site' || doc_id || '.com'
                   WHEN 2 THEN 'user' || doc_id || '.github.io'
                   WHEN 3 THEN 'co.uk'
                   WHEN 4 THEN 'site' || doc_id || '.org'
                   ELSE 'deep.x.site' || doc_id || '.ac.jp'
                 END AS host,
                 CASE CAST(doc_id % 6 AS INT)
                   WHEN 0 THEN 'site' || doc_id || '.co.uk'
                   WHEN 1 THEN 'site' || doc_id || '.com'
                   WHEN 2 THEN 'user' || doc_id || '.github.io'
                   WHEN 3 THEN NULL
                   WHEN 4 THEN 'site' || doc_id || '.org'
                   ELSE 'site' || doc_id || '.ac.jp'
                 END AS domain
          FROM documents
        ),
        b AS (
          SELECT doc_id, host, domain,
                 CAST(('0x' || substr(md5(domain), 1, 15)) AS BIGINT)
                   % 10000 AS bkt
          FROM h WHERE domain IS NOT NULL
        )
        SELECT doc_id, host, domain,
               CASE WHEN bkt < 8000 THEN 'train'
                    WHEN bkt < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM b ORDER BY doc_id
    """,
    "registrable_domains": """
        WITH h AS (
          SELECT doc_id,
                 CASE CAST(doc_id % 6 AS INT)
                   WHEN 0 THEN 'www.site' || doc_id || '.co.uk'
                   WHEN 1 THEN 'a.b.site' || doc_id || '.com'
                   WHEN 2 THEN 'user' || doc_id || '.github.io'
                   WHEN 3 THEN 'co.uk'
                   WHEN 4 THEN 'site' || doc_id || '.org'
                   ELSE 'deep.x.site' || doc_id || '.ac.jp'
                 END AS host,
                 CASE CAST(doc_id % 6 AS INT)
                   WHEN 0 THEN 'site' || doc_id || '.co.uk'
                   WHEN 1 THEN 'site' || doc_id || '.com'
                   WHEN 2 THEN 'user' || doc_id || '.github.io'
                   WHEN 3 THEN NULL
                   WHEN 4 THEN 'site' || doc_id || '.org'
                   ELSE 'site' || doc_id || '.ac.jp'
                 END AS domain
          FROM documents
        )
        SELECT doc_id, host, domain FROM h ORDER BY doc_id
    """,
    "sniff_type": """
        SELECT doc_id,
               CASE CAST(doc_id % 8 AS INT)
                 WHEN 0 THEN 'image/png'
                 WHEN 1 THEN 'image/gif'
                 WHEN 2 THEN 'image/jpeg'
                 WHEN 3 THEN 'application/pdf'
                 WHEN 4 THEN 'text/html'
                 WHEN 5 THEN 'text/plain'
                 WHEN 6 THEN 'application/octet-stream'
                 ELSE 'video/mp4'
               END AS content_type
        FROM documents ORDER BY doc_id
    """,
    "canonical_links": """
        WITH c AS (
          SELECT 'http://' || source || '/p/' || doc_id AS src,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN 'http://' || source || '/p/' || doc_id
                   WHEN 1 THEN 'http://' || source || '/c/' || doc_id
                   WHEN 3 THEN 'http://canon.example/x/' || (doc_id % 50)
                 END AS canonical
          FROM documents
        )
        SELECT src, canonical, (canonical = src) AS is_self
        FROM c WHERE canonical IS NOT NULL ORDER BY src
    """,
    "meta_refresh": """
        WITH e AS (
          SELECT 'http://' || source || '/p/' || doc_id AS src,
                 CASE CAST(doc_id % 3 AS INT)
                   WHEN 0 THEN 'http://hub.example/d/' || doc_id
                   WHEN 1 THEN 'http://' || source || '/r/' || doc_id
                 END AS dst
          FROM documents
        )
        SELECT src, dst FROM e WHERE dst IS NOT NULL ORDER BY src
    """,
    "redirect_chains": """
        WITH RECURSIVE e AS (
          SELECT CAST(doc_id AS VARCHAR) AS src,
                 CAST(doc_id - 1 AS VARCHAR) AS dst
          FROM documents WHERE doc_id % 8 <> 0
          UNION ALL
          SELECT * FROM (VALUES ('c0','c1'),('c1','c2'),('c2','c0')) v(src, dst)
        ),
        m AS (SELECT src, MIN(dst) AS next FROM e GROUP BY src),
        walk(src, next, hops) AS (
          SELECT src, next, 1 FROM m
          UNION ALL
          SELECT w.src, m.next, w.hops + 1
          FROM walk w JOIN m ON w.next = m.src
          WHERE w.hops < 16
        ),
        last AS (
          SELECT src, next, hops,
                 row_number() OVER (PARTITION BY src ORDER BY hops DESC) AS rn
          FROM walk
        )
        SELECT l.src,
               CASE WHEN m2.src IS NULL THEN l.next END AS final_url,
               CASE WHEN m2.src IS NULL THEN CAST(l.hops AS BIGINT) END AS hops,
               (m2.src IS NOT NULL) AS unresolved
        FROM last l
        LEFT JOIN (SELECT DISTINCT src FROM m) m2 ON l.next = m2.src
        WHERE l.rn = 1
        ORDER BY l.src
    """,
    "url_canonicalize": f"""
        WITH u AS (
          SELECT doc_id,
                 'HTTP://' || upper(source) || ':80/Path' || CAST(doc_id % 3 AS VARCHAR)
                   || '/page.html?utm_source=x&b=' || CAST(doc_id % 5 AS VARCHAR)
                   || '&a=1#frag' AS page_url
          FROM documents
        ), p AS (
          SELECT doc_id, page_url,
                 lower(regexp_extract(page_url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 lower(regexp_extract(page_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
                 regexp_extract(page_url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
                 regexp_extract(page_url, '\\?([^#]*)', 1) AS q
          FROM u
        ), c AS (
          SELECT doc_id, page_url, scheme,
                 CASE WHEN scheme = 'http'  THEN regexp_replace(auth0, ':80$', '')
                      WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
                      ELSE auth0 END AS auth,
                 CASE WHEN path0 = '' THEN '/' ELSE path0 END AS pth,
                 array_to_string(list_sort(list_filter(string_split(q, '&'), {_CANON_FILTER})), '&') AS sq
          FROM p
        )
        SELECT doc_id, page_url,
               scheme || '://' || auth || pth
                 || CASE WHEN sq = '' THEN '' ELSE '?' || sq END AS canon_url
        FROM c
    """,
    "crawl_snapshot_diff": """
        WITH d AS (
          SELECT doc_id, source || '/' || CAST(doc_id AS VARCHAR) AS url, text
          FROM documents
        ), old AS (
          SELECT url, md5(text) AS old_hash FROM d WHERE doc_id % 7 <> 0
        ), new AS (
          SELECT url, md5(text || CASE WHEN doc_id % 3 = 0 THEN 'v2' ELSE '' END) AS new_hash
          FROM d WHERE doc_id % 5 <> 0
        ), j AS (
          SELECT CASE WHEN old_hash IS NULL THEN 'added'
                      WHEN new_hash IS NULL THEN 'removed'
                      WHEN old_hash <> new_hash THEN 'changed'
                      ELSE 'unchanged' END AS status
          FROM old FULL OUTER JOIN new USING (url)
        )
        SELECT status, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY status ORDER BY status
    """,
    "planned_admission": """
        WITH fr AS (
          SELECT source AS host, doc_id,
                 source || '/' || CAST(doc_id AS VARCHAR) AS url,
                 CAST((doc_id * 37 + 11) % 1000 AS BIGINT) AS priority
          FROM documents
        ), h AS (
          SELECT host, CAST(count(*) AS BIGINT) AS n_docs FROM fr GROUP BY host
        ), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tw FROM h),
        b AS (
          SELECT host,
                 CAST(greatest(2, least(50, (n_docs * 600) // tw)) AS BIGINT) AS budget
          FROM h CROSS JOIN t
        ), g AS (
          SELECT fr.*, b.budget,
                 CASE WHEN regexp_matches(url, '.*[05]$') THEN 1 ELSE 0 END AS blocked
          FROM fr JOIN b USING (host)
        ), a AS (
          SELECT host, doc_id, priority, blocked,
                 CAST(((row_number() OVER (PARTITION BY host ORDER BY priority, doc_id)) - 1)
                      // budget AS BIGINT) AS round_assigned
          FROM g WHERE blocked = 0
        ), bl AS (
          SELECT host, doc_id, priority, blocked, CAST(NULL AS BIGINT) AS round_assigned
          FROM g WHERE blocked = 1
        )
        SELECT * FROM a UNION ALL SELECT * FROM bl ORDER BY host, doc_id
    """,
    "crawl_budget": """
        WITH h AS (
          SELECT source AS host, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source
        ), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tw FROM h)
        SELECT host, n_docs,
               CAST((n_docs * 600) // tw AS BIGINT) AS share,
               CAST(greatest(2, least(50, (n_docs * 600) // tw)) AS BIGINT) AS budget
        FROM h CROSS JOIN t ORDER BY host
    """,
    "surt_keys": """
        WITH u AS (
          SELECT doc_id, source,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN 'www.' WHEN 1 THEN '' WHEN 2 THEN 'm.'
                   ELSE 'cdn.' END AS sub,
                 CASE WHEN doc_id % 3 = 0 THEN '?page=' || doc_id
                      ELSE '' END AS q
          FROM documents
        ), b AS (
          SELECT doc_id,
                 'http://' || sub || source || '/d/' || doc_id || q AS url,
                 regexp_replace(lower(sub || source), '^www\\.', '') AS h,
                 '/d/' || doc_id AS path, q
          FROM u
        )
        SELECT doc_id, url,
               array_to_string(list_reverse(string_split(h, '.')), ',')
                 || ')' || path || q AS surt
        FROM b ORDER BY doc_id
    """,
    "host_split": """
        WITH b AS (
          SELECT doc_id, source AS host,
                 CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT)
                   % 10000 AS bkt
          FROM documents
        )
        SELECT doc_id, host,
               CASE WHEN bkt < 8000 THEN 'train'
                    WHEN bkt < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM b ORDER BY doc_id
    """,
    "sitemap_discovery": _SITEMAP_DISCOVERY_ORACLE,
    "sitemap_extract": """
        WITH e AS (
          SELECT source,
                 '<url><loc>http://' || source || '/' || CAST(doc_id AS VARCHAR)
                   || '</loc></url>' AS entry
          FROM documents
        ), x AS (
          SELECT source,
                 '<urlset>' || string_agg(entry, '' ORDER BY entry) || '</urlset>' AS xml
          FROM e GROUP BY source
        ), l AS (
          SELECT lower(source) AS host,
                 unnest(regexp_extract_all(xml, '<loc>\\s*([^<\\s][^<]*?)\\s*</loc>', 1)) AS url
          FROM x
        ), du AS (SELECT DISTINCT host, url FROM l)
        SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
               min(url) AS first_url, max(url) AS last_url
        FROM du GROUP BY host ORDER BY host
    """,
}


def _webgraph_oracles() -> dict[str, str]:
    out = dict(_WEBGRAPH_ORACLES)
    out["link_pagerank"] = _pagerank_oracle()
    out["link_hits"] = _hits_oracle()
    out["hits_planned_admission"] = _hits_planned_oracle()
    return out


def _retrain_ivf_centroids():
    """Retrain the deterministic coarse quantizer from the driver's sf0.01
    parquet via DuckDB (no Spark) — seeded numpy over the id-sorted sample,
    so the baked centroids are bit-identical to the Spark trainer's. Also
    returns the query vector (vec_id=0). None when the table is unavailable
    at generation time (the dependent queries then stay rows-only)."""
    try:
        import duckdb
        import numpy as np

        from upton_spark.operators.similarity import kmeans_unit_centroids

        con = duckdb.connect()
        sample = con.execute(
            "SELECT CAST(embedding AS DOUBLE[]) FROM "
            "read_parquet('/root/testdata/sf0.01/embeddings.parquet') "
            "WHERE vec_id % 5 = 0 ORDER BY vec_id"
        ).fetchall()
        qrow = con.execute(
            "SELECT CAST(embedding AS DOUBLE[]) FROM "
            "read_parquet('/root/testdata/sf0.01/embeddings.parquet') WHERE vec_id = 0"
        ).fetchone()
    except Exception:
        return None
    if not sample or qrow is None:
        return None
    import numpy as np

    from upton_spark.operators.similarity import kmeans_unit_centroids

    cent = kmeans_unit_centroids(np.array([r[0] for r in sample], dtype=np.float64), 16, 5)
    return cent, np.asarray(qrow[0], dtype=np.float64)


def _ivf_assigned_cte(cent) -> str:
    """WITH-chain ending in ``assigned(vec_id, ev, ivf_cell)``: baked
    centroids, unit-normalize, rounded-dot argmax (first-max tie-break) —
    the SQL replica of operators.similarity.with_ivf_cell, shared by the
    IVF-search and semantic-dedup oracles."""
    cent_sql = "[" + ",".join(
        "[" + ",".join(repr(float(v)) for v in row) + "]" for row in cent
    ) + "]"
    return f"""
        WITH c AS (SELECT {cent_sql} AS cent),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
        ), n AS (
          SELECT vec_id, ev,
                 list_transform(ev, x -> x / greatest(sqrt(list_sum(list_transform(ev, y -> y*y))), 1e-12)) AS en
          FROM e
        ), cells AS (
          SELECT vec_id, ev,
                 list_transform(range(1, 17), ci ->
                   round(list_sum(list_transform(range(1, 65), d -> en[d] * cent[ci][d])), 6)) AS dots
          FROM n, c
        ), assigned AS (
          SELECT vec_id, ev, list_position(dots, list_aggregate(dots, 'max')) - 1 AS ivf_cell
          FROM cells
        )
    """


def _bpe_oracle() -> str | None:
    """bpe_token_stats oracle: n_subwords replayed in SQL; n_bpe_tokens
    re-derived INDEPENDENTLY of Spark by running the vendored pure-Python
    tokenizer over the driver's sf0.01 parquet text (read via DuckDB) and
    baking the per-doc counts as a VALUES table — same bake-the-constants
    pattern as the IVF/DSIR oracles. None when the table is unavailable at
    generation time (the query then runs rows-only)."""
    try:
        import duckdb

        from upton_spark.functions.bpe import vendored_tokenizer

        con = duckdb.connect()
        rows = con.execute(
            "SELECT doc_id, text FROM "
            "read_parquet('/root/testdata/sf0.01/documents.parquet') ORDER BY doc_id"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    tok = vendored_tokenizer()
    vals = ",".join(f"({d},{len(tok.encode(t or ''))})" for d, t in rows)
    return f"""
        WITH bpe(doc_id, n_bpe) AS (VALUES {vals})
        SELECT d.doc_id,
               CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_subwords,
               CAST(length(d.text) AS BIGINT) AS n_chars_exact,
               CAST(b.n_bpe AS BIGINT) AS n_bpe_tokens
        FROM documents d JOIN bpe b ON d.doc_id = b.doc_id
    """


def _ivf_oracle() -> str | None:
    """IVF search oracle: baked retrained centroids (see
    _retrain_ivf_centroids), independent SQL cell assignment, search of the
    baked nprobe cells."""
    trained = _retrain_ivf_centroids()
    if trained is None:
        return None
    import numpy as np

    cent, qvec = trained
    qn = qvec / max(np.linalg.norm(qvec), 1e-12)
    probe_cells = [int(c) for c in np.argsort(-(cent @ qn))[:4]]
    qvec_sql = "[" + ",".join(repr(float(v)) for v in qvec) + "]"
    cells_sql = ",".join(str(c) for c in probe_cells)
    return (
        _ivf_assigned_cte(cent)
        + f"""
        SELECT vec_id, round(list_cosine_similarity(ev, {qvec_sql}), 6) AS cosine
        FROM assigned WHERE ivf_cell IN ({cells_sql})
        ORDER BY cosine DESC, vec_id LIMIT 10
    """
    )


def _semantic_dedup_oracle() -> str | None:
    """SemDeDup oracle: same baked-centroid cell assignment, then the keep
    rule replayed as a plain EXISTS — b is dropped iff some a < b in its
    cluster has round(cosine, 6) >= threshold."""
    trained = _retrain_ivf_centroids()
    if trained is None:
        return None
    cent, _ = trained
    return (
        _ivf_assigned_cte(cent)
        + """
        , dupes AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b USING (ivf_cell)
          WHERE a.vec_id < b.vec_id
            AND round(list_cosine_similarity(a.ev, b.ev), 6) >= 0.4
        )
        SELECT vec_id, CAST(ivf_cell AS INT) AS ivf_cell FROM assigned
        WHERE vec_id NOT IN (SELECT vec_id FROM dupes)
        ORDER BY vec_id
    """
    )


def _dsir_oracle() -> str | None:
    """DSIR oracle: bucket counts computed in Python from the driver's
    sf0.01 parquet (the SAME hashlib-md5 gram bucketing the Spark UDF
    runs), per-bucket log-ratios baked as literal doubles — one libm
    computes every weight, so both engines sum identical terms; the SQL
    side independently re-derives the gram->bucket stream via
    md5_number_lower and joins the baked table. None when the parquet is
    unavailable at generation time."""
    import hashlib

    try:
        import duckdb

        rows = duckdb.connect().execute(
            "SELECT doc_id, text, lang FROM "
            "read_parquet('/root/testdata/sf0.01/documents.parquet') ORDER BY doc_id"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    from upton_spark.operators.sampling import dsir_bucket_logweights

    n_buckets = 4096
    counts: dict[int, list[int]] = {}
    cache: dict[str, int] = {}

    def bucket(g: str) -> int:
        v = cache.get(g)
        if v is None:
            v = int.from_bytes(hashlib.md5(g.encode()).digest()[8:16], "little") % n_buckets
            cache[g] = v
        return v

    for _doc_id, text, lang in rows:
        toks = (text or "").split()
        if not toks:
            continue
        is_t = lang == "en"
        for g in toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]:
            c = counts.setdefault(bucket(g), [0, 0])
            c[0] += 1
            c[1] += int(is_t)
    lw_rows = dsir_bucket_logweights({b: (rc, tc) for b, (rc, tc) in counts.items()}, n_buckets)
    vals = ",".join(f"({b},{w})" for b, w in lw_rows)
    return f"""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents WHERE trim(text) <> ''
        ), uni AS (
          SELECT doc_id, unnest(w) AS g FROM tok
        ), big AS (
          SELECT doc_id, w[i] || ' ' || w[i+1] AS g
          FROM tok, unnest(range(1, len(w))) AS t(i)
        ), grams AS (
          SELECT doc_id, CAST(md5_number_lower(g) % 4096 AS INT) AS bucket
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
        ), w2 AS (
          -- integer micro-units: the sum is exact (order-insensitive) in
          -- both engines; ONE float division at the end
          SELECT bucket, CAST(lw_micro AS BIGINT) AS lw_micro
          FROM (VALUES {vals}) v(bucket, lw_micro)
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               sum(lw_micro) / 1000000.0 AS dsir_logweight
        FROM grams JOIN w2 USING (bucket) GROUP BY doc_id ORDER BY doc_id
    """


def _lm_perplexity_oracle() -> str | None:
    """lm_perplexity oracle: reference-slice bucket counts re-derived in
    Python from the sf0.01 parquet (same hashlib-md5 bucketing as the
    Spark UDF), per-bucket micro-NLL terms + the unseen-bucket floor baked
    as literals; the SQL side independently rebuilds the gram stream via
    md5_number_lower and sums exact integers."""
    import hashlib

    try:
        import duckdb

        rows = duckdb.connect().execute(
            "SELECT doc_id, text, lang FROM "
            "read_parquet('/root/testdata/sf0.01/documents.parquet') ORDER BY doc_id"
        ).fetchall()
    except Exception:
        return None
    if not rows:
        return None
    from upton_spark.operators.sampling import lm_bucket_nll_micros

    n_buckets = 4096
    counts: dict[int, int] = {}
    cache: dict[str, int] = {}

    def bucket(g: str) -> int:
        v = cache.get(g)
        if v is None:
            v = int.from_bytes(hashlib.md5(g.encode()).digest()[8:16], "little") % n_buckets
            cache[g] = v
        return v

    for _doc_id, text, lang in rows:
        if lang != "en":
            continue
        toks = (text or "").split()
        for g in toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]:
            counts[bucket(g)] = counts.get(bucket(g), 0) + 1
    nll_rows, default_micro = lm_bucket_nll_micros(counts, n_buckets)
    vals = ",".join(f"({b},{m})" for b, m in nll_rows)
    return f"""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents WHERE trim(text) <> ''
        ), uni AS (
          SELECT doc_id, unnest(w) AS g FROM tok
        ), big AS (
          SELECT doc_id, w[i] || ' ' || w[i+1] AS g
          FROM tok, unnest(range(1, len(w))) AS t(i)
        ), grams AS (
          SELECT doc_id, CAST(md5_number_lower(g) % {n_buckets} AS INT) AS bucket
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
        ), m AS (
          SELECT bucket, CAST(nll_micro AS BIGINT) AS nll_micro
          FROM (VALUES {vals}) v(bucket, nll_micro)
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               round(sum(coalesce(nll_micro, {default_micro}))
                     / (count(*) * 1000000.0), 6) AS avg_nll
        FROM grams LEFT JOIN m USING (bucket) GROUP BY doc_id ORDER BY doc_id
    """


def _exact_substring_oracle() -> str:
    """Positional k=8 shingle chain (same md5>>2 + HUGEINT wraparound
    combine as the MinHash oracles, WITHOUT distinct), first-occurrence
    rule on doc_id*2^20+pos, gaps-and-islands span merge, covered-position
    anti-join rebuild."""
    from upton_spark.operators.dedup_docs import _SHINGLE_C

    k = 8
    cpl = _hugeint_list(pow(int(_SHINGLE_C), j, 1 << 64) for j in range(k))
    return f"""
        WITH cp_c AS (SELECT {cpl} AS cp),
        src AS (
          SELECT doc_id, text || ' {_ESD_BOILER}' AS text2 FROM documents
        ),
        t AS (
          SELECT doc_id,
                 CASE WHEN trim(text2) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(text2), '\\s+') END AS toks,
                 CASE WHEN trim(lower(text2)) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text2)), '\\s+') END AS ltoks
          FROM src
        ), th AS (
          SELECT doc_id, toks,
                 list_transform(ltoks, w -> CAST(md5_number_lower(w) >> 2 AS HUGEINT)) AS h,
                 len(ltoks) AS n
          FROM t
        ), occ AS (
          SELECT doc_id, CAST(i AS INT) AS pos,
                 coalesce(list_sum(list_transform(range(0, {k}), j -> (h[i+j+1] * cp[j+1]) % {_T64})), 0) % {_T64} AS shv
          FROM th, cp_c, unnest(range(0, greatest(n - {k} + 1, 0))) AS u(i)
        ), firsts AS (
          SELECT shv, min(doc_id*1048576 + pos) AS fk, count(*) AS n_occ
          FROM occ GROUP BY shv
        ), spans AS (
          SELECT doc_id, pos AS s, pos + {k} AS e
          FROM occ JOIN firsts USING (shv)
          WHERE n_occ > 1 AND doc_id*1048576 + pos <> fk
        ), isl AS (
          SELECT doc_id, s, e,
                 CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS ni
          FROM spans
        ), isl2 AS (
          SELECT doc_id, s, e,
                 sum(ni) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
          FROM isl
        ), merged AS (
          SELECT doc_id, min(s) AS s, max(e) AS e FROM isl2 GROUP BY doc_id, island
        ), covered AS (
          SELECT DISTINCT doc_id, CAST(p AS INT) AS pos FROM merged, unnest(range(s, e)) AS v(p)
        ), tokpos AS (
          SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS tok
          FROM th, unnest(range(1, len(toks) + 1)) AS u(i)
        ), kept AS (
          SELECT tp.doc_id, tp.pos, tp.tok
          FROM tokpos tp ANTI JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
        ), rebuilt AS (
          SELECT doc_id, count(*) AS n_kept,
                 array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
          FROM kept GROUP BY doc_id
        )
        SELECT th.doc_id,
               CAST(len(th.toks) AS BIGINT) AS n_tokens,
               CAST(len(th.toks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
               coalesce(r.clean_text, '') AS clean_text
        FROM th LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY th.doc_id
    """


def _pii_scrub_oracle() -> str:
    """PII scrub replay: the identical doc_id-derived PII injection, then
    the SAME regex constants (Java ∩ RE2 subset) applied email -> ip ->
    phone; counts on the original text via regexp_extract_all length."""
    from upton_spark.operators.textops import PII_EMAIL, PII_IPV4, PII_PHONE

    return f"""
        WITH src AS (
          SELECT doc_id,
                 'Contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || source
                 || '.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 || '-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                 || '. ' || substr(text, 1, 80) AS t
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{PII_IPV4}')) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT) AS n_phones,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g'),
                 '{PII_PHONE}', '<PHONE>', 'g') AS clean_text
        FROM src
    """


def _values_oracle(cols: list[tuple[str, str]], rows: list[tuple], order_by: str) -> str:
    """Literal-golden oracle: SELECT typed columns FROM (VALUES …).

    Used for the crawl-loop queries, whose outputs are constants fixed by
    the reference RSpec goldens — the crawl itself is iterative driver
    logic, but its contract output is a small, fully-determined table."""

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    names = ", ".join(n for n, _ in cols)
    casts = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    values = ",\n            ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return (
        f"SELECT {casts} FROM (VALUES\n            {values}\n"
        f"        ) AS t({names}) ORDER BY {order_by}"
    )


# Crawl-loop literal goldens. Sources of truth:
# - headlines / crawl order: reference spec/upton_spec.rb:14-19,54-67 (the
#   'scrapes a basic list of stories' golden over the propublica fixture;
#   discussion.html has no h1.article-title -> '').
# - paginated search: spec/upton_spec.rb:139-171 (?p=1,2 bodies, empty p=3
#   terminates the chain).
# - retry: engine-bounded retry semantics (SURVEY.md §4; reference retries
#   timeouts forever, downloader.rb:63-65, and maps errors to '' bodies,
#   downloader.rb:50-68): discussion fails once then fetches (attempts=1);
#   prosecutor fails past max_fetch_attempts=3 -> terminal 'failed'.
# - robots gate: north_star admission rule — /prosecutor.html disallowed ->
#   status 'blocked', never fetched.
# - politeness lineage: 1 token/host/round (sleep=30, budget=30) spreads the
#   4 same-host instance fetches over 4 rounds, deferring 3,2,1,0; the index
#   fetch is its own round-0 row; urls_seen is cumulative at round commit.
_CRAWL_URLS = {
    "webinar": "http://www.example.com/webinar.html",
    "discussion": "http://www.example.com/discussion.html",
    "prosecutor": "http://www.example.com/prosecutor.html",
    "sixfacts": "http://www.example.com/sixfacts.html",
}
_HEADLINES = [
    "Webinar: How to Use Prescriber Checkup to Power Your Reporting",
    "",
    "A Prosecutor, a Wrongful Conviction and a Question of Justice",
    "Six Facts Lost in the IRS Scandal",
]


def _crawl_oracles() -> dict[str, str]:
    u = _CRAWL_URLS
    order = ["webinar", "discussion", "prosecutor", "sixfacts"]
    return {
        "crawl_fixture_headlines": _values_oracle(
            [("url", "VARCHAR"), ("instance_index", "BIGINT"),
             ("pagination_index", "INTEGER"), ("text", "VARCHAR")],
            [(u[k], i, 0, _HEADLINES[i]) for i, k in enumerate(order)],
            "instance_index",
        ),
        "crawl_paginated_search": _values_oracle(
            [("url", "VARCHAR"), ("instance_index", "BIGINT"), ("text", "VARCHAR")],
            [
                (u["webinar"], 0, _HEADLINES[0]),
                (u["prosecutor"], 1, _HEADLINES[2]),
                (u["sixfacts"], 2, _HEADLINES[3]),
            ],
            "instance_index",
        ),
        "crawl_retry": _values_oracle(
            [("url", "VARCHAR"), ("status", "VARCHAR"), ("attempts", "INTEGER")],
            [
                (u["discussion"], "fetched", 1),
                (u["prosecutor"], "failed", 3),
                (u["sixfacts"], "fetched", 0),
                (u["webinar"], "fetched", 0),
            ],
            "url",
        ),
        "crawl_robots_gate": _values_oracle(
            [("url", "VARCHAR"), ("status", "VARCHAR")],
            [
                (u["discussion"], "fetched"),
                (u["prosecutor"], "blocked"),
                (u["sixfacts"], "fetched"),
                (u["webinar"], "fetched"),
            ],
            "url",
        ),
        "crawl_lineage_politeness": _values_oracle(
            [("phase", "VARCHAR"), ("round", "INTEGER"), ("fetched", "BIGINT"),
             ("deferred", "BIGINT"), ("urls_seen", "BIGINT")],
            [
                ("index", 0, 1, 0, 0),
                ("instance", 0, 1, 3, 1),
                ("instance", 1, 1, 2, 2),
                ("instance", 2, 1, 1, 3),
                ("instance", 3, 1, 0, 4),
            ],
            "phase, round",
        ),
    }


def _lsh_buckets_oracle() -> str:
    return (
        _lsh_bucket_cte(8)
        + "SELECT lsh_bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY lsh_bucket"
    )


def _lsh_near_dups_oracle() -> str:
    return (
        _lsh_bucket_cte(6)
        + """
        SELECT x.vec_id AS a, y.vec_id AS b,
               round(list_cosine_similarity(x.ev, y.ev), 6) AS cosine
        FROM b x JOIN b y ON x.lsh_bucket = y.lsh_bucket AND x.vec_id < y.vec_id
        WHERE round(list_cosine_similarity(x.ev, y.ev), 6) >= 0.3
    """
    )


def oracle_sql() -> dict[str, str | None]:
    # a generated oracle is None when its generator's input is unreadable:
    # it stays registered, so that query alone fails its check
    return {
        "embedding_pq": _embedding_pq_oracle(),
        "embedding_pq_adc": _embedding_pq_adc_oracle(),
        "compression_ratio": _compression_ratio_oracle(),
        "embedding_ivf_topk": _ivf_oracle(),
        "semantic_dedup": _semantic_dedup_oracle(),
        "bpe_token_stats": _bpe_oracle(),
        "lm_perplexity": _lm_perplexity_oracle(),
        "main_content": _main_content_oracle(),
        "crawl_content": _crawl_content_oracle(),
        "media_meta_check": _media_meta_check_oracle(),
        "media_real_decode": _media_real_decode_oracle(),
        "media_sample_frames": _media_sample_frames_oracle(),
        "change_rate": f"""
            WITH {_FRESHNESS_OBS_SQL}
            SELECT url, n_obs, n_changed,
                   round((last_seen_epoch - first_es) / 3600.0, 6) AS span_hours,
                   round(CASE WHEN n_obs >= 2 AND last_seen_epoch > first_es
                         THEN -ln((n_obs - n_changed + 0.5) / (n_obs + 0.5))
                              / (((last_seen_epoch - first_es) / 3600.0) / (n_obs - 1))
                         END, 6) AS lambda_ph,
                   last_seen_epoch
            FROM agg ORDER BY url
        """,
        "freshness_planned_admission": f"""
            WITH {_FRESHNESS_OBS_SQL},
            refnow AS (SELECT MAX(es) + 86400 AS a FROM obs),
            sc AS (
              SELECT url,
                     CASE WHEN n_obs >= 2 AND last_seen_epoch > first_es
                          THEN 1.0 - exp(
                            -(-ln((n_obs - n_changed + 0.5) / (n_obs + 0.5))
                              / (((last_seen_epoch - first_es) / 3600.0) / (n_obs - 1)))
                            * ((a - last_seen_epoch) / 3600.0))
                          ELSE 1.0 END AS staleness
              FROM agg CROSS JOIN refnow
            ),
            pr AS (
              SELECT url,
                     CAST(-round(staleness * 1000000) AS BIGINT) AS priority,
                     regexp_extract(url, '^https://([^/]+)/', 1) AS host
              FROM sc
            )
            SELECT host, url, priority,
                   CAST(floor((row_number() OVER (
                         PARTITION BY host ORDER BY priority, url) - 1) / 3)
                        AS BIGINT) AS round_assigned
            FROM pr ORDER BY host, url
        """,
        "shard_manifest": """
            WITH s AS (
              SELECT doc_id, n_chars,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 16 AS shard
              FROM documents
            )
            SELECT shard, COUNT(*) AS n_rows,
                   MIN(doc_id) AS min_key, MAX(doc_id) AS max_key,
                   CAST(SUM(n_chars) AS BIGINT) AS total_size
            FROM s GROUP BY shard ORDER BY shard
        """,
        "adaptive_delay": """
            WITH obs AS (
              SELECT 'h' || CAST(user_id % 7 AS VARCHAR) || '.example' AS host,
                     value / 100.0 AS latency_s
              FROM events
            )
            SELECT host, COUNT(*) AS n_obs,
                   round(avg(latency_s), 6) AS mean_latency_s,
                   round(least(30.0, greatest(0.5, avg(latency_s) * 2.0)), 6) AS crawl_delay
            FROM obs GROUP BY host ORDER BY host
        """,
        **_crawl_oracles(),
        **_webgraph_oracles(),
        "url_md5": """
            SELECT doc_id,
                   source || '/' || CAST(doc_id AS VARCHAR) AS url,
                   md5(source || '/' || CAST(doc_id AS VARCHAR)) AS url_md5
            FROM documents
        """,
        "slug": """
            SELECT doc_id,
                   source || '/' || CAST(doc_id AS VARCHAR) || '.html?q=1' AS page_url,
                   regexp_replace(
                     regexp_replace(
                       list_extract(string_split(source || '/' || CAST(doc_id AS VARCHAR) || '.html?q=1', '/'), -1),
                       '\\?.*', ''),
                     '.html.*', '') AS slug
            FROM documents
        """,
        "pagination_rewrite": """
            SELECT doc_id,
                   'http://' || source || '/' || CAST(doc_id AS VARCHAR) || '/list.html' AS index_url,
                   'http://' || source || '/' || CAST(doc_id AS VARCHAR) || '/list.html?p=2' AS next_url
            FROM documents
        """,
        "readable_key": """
            SELECT doc_id,
                   'http://' || source || '/' || CAST(doc_id AS VARCHAR)
                     || '/some/path-page_1.html?q=a&b=2' AS page_url,
                   substr(regexp_replace(
                       'http://' || source || '/' || CAST(doc_id AS VARCHAR)
                         || '/some/path-page_1.html?q=a&b=2',
                       '[^A-Za-z0-9\\-_]', '', 'g'), 1, 116) || '.html' AS stash_key
            FROM documents
        """,
        "host_stats": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   round(avg(n_chars), 2) AS avg_chars
            FROM documents GROUP BY source
        """,
        "frontier_dedup": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT md5(source || '/' || CAST(doc_id AS VARCHAR))) AS BIGINT) AS n_unique_urls,
                   CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
            FROM documents GROUP BY source
        """,
        "politeness_admission": """
            SELECT source, doc_id,
                   source || '/' || CAST(doc_id AS VARCHAR) AS url,
                   host_rank
            FROM (
              SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) AS host_rank
              FROM documents
            ) WHERE host_rank <= 5
        """,
        "latest_event_per_user": """
            SELECT user_id, event_id, event_type, round(value, 2) AS value
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue_orders": """
            SELECT o_orderkey, c_mktsegment,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY o_orderkey, c_mktsegment
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "region_rollup_sales": """
            SELECT r_name,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   round(sum(o_totalprice), 1) AS total_sales
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "customers_without_orders": """
            SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY n_name
        """,
        "rich_customers_with_orders": """
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   round(sum(c_acctbal), 2) AS total_acctbal
            FROM customer
            WHERE c_acctbal > 9000
              AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment
        """,
        "set_ops": """
            SELECT
              CAST((SELECT count(*) FROM (
                 SELECT DISTINCT o_custkey AS k FROM orders
                 INTERSECT
                 SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
              )) AS BIGINT) AS n_negative_with_orders,
              CAST((SELECT count(*) FROM (
                 SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
                 EXCEPT
                 SELECT DISTINCT o_custkey AS k FROM orders
              )) AS BIGINT) AS n_negative_without_orders
        """,
        "rollup_lineitem": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_quantity), 1) AS sum_qty,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "pivot_linestatus": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 1) AS qty_open,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 1) AS qty_filled
            FROM lineitem GROUP BY l_returnflag
        """,
        "sessionization": """
            SELECT user_id,
                   CAST(max(session_id) + 1 AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM (
              SELECT user_id,
                     sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS session_id
              FROM (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
              )
            ) GROUP BY user_id
        """,
        "hourly_events": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "product_type_profit": """
            SELECT n_name, p_type,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name, p_type
        """,
        "hot_hosts_topk": """
            SELECT host_rank, source, n_docs, total_chars
            FROM (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_chars) AS BIGINT) AS total_chars,
                     CAST(row_number() OVER (ORDER BY count(*) DESC, source) AS BIGINT) AS host_rank
              FROM documents GROUP BY source
            ) WHERE host_rank <= 5
        """,
        # bpe_token_stats: generated (_bpe_oracle) — see the merge at the top
        "gopher_quality": """
            WITH src AS (
              SELECT doc_id,
                     text
                     || chr(10) || CASE WHEN doc_id % 3 = 0
                                        THEN '- bullet item one'
                                        ELSE 'plain line two' END
                     || chr(10) || CASE WHEN doc_id % 4 = 0
                                        THEN 'to be continued...'
                                        ELSE 'closing line and done' END
                     || chr(10) || CASE WHEN doc_id % 11 = 0
                                        THEN '#tag ### noisy #symbols here'
                                        ELSE 'clean words with the and of' END AS t
              FROM documents
            ), feat AS (
              SELECT doc_id, t,
                     string_split_regex(trim(t), '\\s+') AS words,
                     string_split(t, chr(10)) AS lines
              FROM src
            ), m AS (
              SELECT doc_id,
                     len(words) AS n,
                     CAST(list_aggregate(list_transform(words, w -> length(w)), 'sum') AS DOUBLE)
                       / len(words) AS mean_wl,
                     (CAST(length(trim(t)) - length(replace(trim(t), '#', '')) AS DOUBLE)
                      + (length(trim(t)) - length(regexp_replace(trim(t), '\\.\\.\\.', '', 'g'))) / 3.0
                     ) / len(words) AS symbol_ratio,
                     CAST(len(list_filter(lines, ln -> regexp_matches(trim(ln), '^[-*•]'))) AS DOUBLE)
                       / len(lines) AS bullet_ratio,
                     CAST(len(list_filter(lines, ln -> regexp_matches(trim(ln), '\\.\\.\\.$'))) AS DOUBLE)
                       / len(lines) AS ell_ratio,
                     CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                       / len(words) AS alpha_ratio,
                     len(list_intersect(['the','be','to','of','and','that','have','with'],
                                        list_transform(words, w -> lower(w)))) AS stop_hits
              FROM feat
            )
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_words,
                   round(mean_wl, 4) AS mean_word_len,
                   round(symbol_ratio, 4) AS symbol_ratio,
                   round(bullet_ratio, 4) AS bullet_line_ratio,
                   round(ell_ratio, 4) AS ellipsis_line_ratio,
                   round(alpha_ratio, 4) AS alpha_word_ratio,
                   CAST(stop_hits AS BIGINT) AS stop_hits,
                   CAST(n BETWEEN 10 AND 100000
                        AND mean_wl BETWEEN 3.0 AND 10.0
                        AND symbol_ratio < 0.1
                        AND bullet_ratio < 0.9
                        AND ell_ratio < 0.3
                        AND alpha_ratio > 0.8
                        AND stop_hits >= 2 AS INT) AS gopher_pass
            FROM m
        """,
        "cdc_chunks": """
            WITH t AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM documents WHERE trim(text) <> ''
            ), h AS (
              SELECT doc_id, w, len(w) AS n,
                     list_transform(w, x -> (md5_number_lower(lower(x)) // 4)) AS hs
              FROM t
            ), c AS (
              SELECT doc_id, w,
                     list_filter(range(1, n + 1),
                                 i -> ((hs[i] % 32) = 0) OR (i = n)) AS cuts
              FROM h
            ), segs AS (
              SELECT doc_id,
                     flatten(list_transform(range(1, len(cuts) + 1), j ->
                       list_transform(
                         range(0, CAST(ceil((cuts[j] - coalesce(cuts[j-1], 0))
                                            / 48.0) AS BIGINT)),
                         k -> list_slice(w,
                                         coalesce(cuts[j-1], 0) + 1 + k * 48,
                                         least(cuts[j],
                                               coalesce(cuts[j-1], 0) + (k + 1) * 48))
                       ))) AS chunks
              FROM c
            )
            SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
                   CAST(len(chunks[i]) AS BIGINT) AS n_tokens,
                   md5(array_to_string(chunks[i], ' ')) AS chunk_hash,
                   array_to_string(chunks[i], ' ') AS chunk_text
            FROM segs, unnest(range(1, len(chunks) + 1)) AS u(i)
            ORDER BY doc_id, chunk_id
        """,
        "pii_scrub": _pii_scrub_oracle(),
        "dsir_weights": _dsir_oracle(),
        "exact_substring_dedup": _exact_substring_oracle(),
        "revisit_intervals": """
            WITH d AS (
              SELECT doc_id, source || '/' || CAST(doc_id AS VARCHAR) AS url, text
              FROM documents
            ), old AS (
              SELECT url, md5(text) AS old_hash FROM d WHERE doc_id % 7 <> 0
            ), new AS (
              SELECT url, md5(text || CASE WHEN doc_id % 3 = 0 THEN 'v2' ELSE '' END) AS new_hash
              FROM d WHERE doc_id % 5 <> 0
            ), j AS (
              SELECT url,
                     CASE WHEN old_hash IS NULL THEN 'added'
                          WHEN new_hash IS NULL THEN 'removed'
                          WHEN old_hash <> new_hash THEN 'changed'
                          ELSE 'unchanged' END AS status
              FROM old FULL OUTER JOIN new USING (url)
            )
            SELECT url, status,
                   CAST(CASE WHEN status = 'changed' THEN greatest(1, floor(24/2))
                             WHEN status = 'unchanged' THEN least(720, 24*2)
                             ELSE 24 END AS BIGINT) AS interval_hours
            FROM j WHERE status <> 'removed' ORDER BY url
        """,
        "link_anchors": """
            SELECT doc_id, CAST(k AS INT) AS pos,
                   CASE WHEN k = 0 THEN 'http://' || source || '/p/' || CAST(doc_id AS VARCHAR) END AS href,
                   CASE WHEN k = 0 THEN 'anchor ' || CAST(doc_id AS VARCHAR) ELSE 'bare' END AS anchor
            FROM documents, unnest(range(0, 2)) AS t(k)
            ORDER BY doc_id, pos
        """,
        "blocklist_gate": """
            WITH base AS (
              SELECT doc_id, source AS host,
                     'http://' || source || '/p/' || CAST(doc_id AS VARCHAR)
                     || CASE WHEN doc_id % 5 = 0 THEN '?sessionid=' || CAST(doc_id AS VARCHAR)
                             WHEN doc_id % 11 = 0 THEN '/calendar/2024/'
                             ELSE '' END AS url
              FROM documents
            ), bl AS (
              SELECT DISTINCT host FROM base WHERE length(host) % 3 = 0
            ), gated AS (
              SELECT b.doc_id, b.url, b.host,
                     (bl.host IS NOT NULL) AS host_hit,
                     (regexp_matches(b.url, '[?&]sessionid=')
                      OR regexp_matches(b.url, '/calendar/\\d{4}/')) AS pat_hit
              FROM base b LEFT JOIN bl ON b.host = bl.host
            )
            SELECT doc_id, url, host,
                   (host_hit OR pat_hit) AS blocked,
                   CASE WHEN host_hit THEN 'host'
                        WHEN pat_hit THEN 'pattern' END AS block_reason
            FROM gated ORDER BY doc_id
        """,
        "c4_clean": """
            WITH src AS (
              SELECT doc_id,
                     substr(text, 1, 60) || '.'
                     || chr(10) || 'short one'
                     || chr(10) || 'please enable javascript to continue.'
                     || chr(10) || substr(text, 61, 60) || '!'
                     || chr(10) || 'no terminal punct here'
                     || chr(10) || substr(text, 121, 60) || '?'
                     || chr(10) || CASE WHEN doc_id % 7 = 0
                                        THEN 'lorem ipsum dolor sit amet.'
                                        ELSE 'trailing line no punct' END AS t
              FROM documents
            ), split AS (
              SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM src
            ), kept AS (
              SELECT doc_id, t, lines,
                     list_filter(lines, ln ->
                       regexp_matches(ln, '[.!?"]\\s*$')
                       AND len(string_split_regex(trim(ln), '\\s+')) >= 3
                       AND NOT contains(lower(ln), 'javascript')) AS kl
              FROM split
            )
            SELECT doc_id,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(kl) AS BIGINT) AS n_kept_lines,
                   (NOT contains(lower(t), 'lorem ipsum')
                    AND NOT contains(t, '{')
                    AND len(kl) >= 3) AS c4_kept,
                   array_to_string(kl, chr(10)) AS clean_text
            FROM kept
        """,
        "chunk_documents": """
            WITH tok AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents WHERE trim(text) <> ''
            )
            SELECT doc_id, CAST(k AS INT) AS chunk_id,
                   CAST(len(list_slice(w, k*32+1, k*32+48)) AS BIGINT) AS n_tokens,
                   array_to_string(list_slice(w, k*32+1, k*32+48), ' ') AS chunk_text
            FROM tok,
                 unnest(range(CAST(ceil(greatest(len(w) - 48, 0) / 32.0) AS BIGINT) + 1)) AS t(k)
            ORDER BY doc_id, chunk_id
        """,
        "paragraph_dedup": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            paras AS (
              SELECT doc_id, CAST(k AS INT) AS pos,
                     array_to_string(list_slice(w, k*3+1, k*3+3), ' ') AS para
              FROM toks, unnest(range(CAST(ceil(len(w)/3.0) AS BIGINT))) AS t(k)
            ),
            firsts AS (
              SELECT para, min(doc_id*1048576+pos) AS first_key FROM paras GROUP BY para
            ),
            flagged AS (
              SELECT p.doc_id, p.pos, p.para,
                     (p.doc_id*1048576+p.pos = f.first_key) AS kept
              FROM paras p JOIN firsts f USING (para)
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_paras,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   coalesce(array_to_string(list(para ORDER BY pos) FILTER (WHERE kept), chr(10)), '') AS clean_text
            FROM flagged GROUP BY doc_id ORDER BY doc_id
        """,
        "sequence_pack": """
            WITH RECURSIVE t AS (
              SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
              FROM documents
            ), o AS (
              SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM t
            ), packed AS (
              SELECT shard, rn, doc_id, n_tokens,
                     n_tokens AS cum, CAST(0 AS BIGINT) AS bin_id
              FROM o WHERE rn = 1
              UNION ALL
              SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
                     CASE WHEN p.cum > 0 AND p.cum + o.n_tokens > 256
                          THEN o.n_tokens ELSE p.cum + o.n_tokens END,
                     CASE WHEN p.cum > 0 AND p.cum + o.n_tokens > 256
                          THEN p.bin_id + 1 ELSE p.bin_id END
              FROM packed p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
            )
            SELECT doc_id, shard, bin_id, n_tokens FROM packed ORDER BY doc_id
        """,
        "quality_scores": """
            SELECT doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(mean_token_len, 4) AS mean_token_len,
                   round(punct_ratio, 4) AS punct_ratio,
                   round(CASE WHEN n_tokens >= 5 AND mean_token_len BETWEEN 2.0 AND 12.0
                              THEN 1.0 - least(1.0, punct_ratio * 4)
                              ELSE 0.0 END, 4) AS quality_score
            FROM (
              SELECT doc_id, n_tokens,
                     CASE WHEN n_tokens > 0 THEN CAST(n_chars_c AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
                     CASE WHEN n_chars_c > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_c ELSE 0.0 END AS punct_ratio
              FROM (
                SELECT doc_id,
                       length(text) AS n_chars_c,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                       length(text) - length(regexp_replace(text, '[.,;:!?"''()]', '', 'g')) AS n_punct
                FROM documents
              )
            )
        """,
        "ngram_jaccard_pairs": """
            WITH sampled AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(0, len(words) - 2),
                                   i -> array_to_string(words[i+1:i+3], ' '))) AS grams
              FROM (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
                FROM documents WHERE lang = 'en' AND doc_id % 25 = 0
              ) WHERE len(words) >= 3
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(len(list_intersect(a.grams, b.grams)) /
                         len(list_distinct(list_concat(a.grams, b.grams))), 4) AS ngram_jaccard
            FROM sampled a JOIN sampled b ON a.doc_id < b.doc_id
        """,
        "exact_dup_groups": """
            SELECT sha256(text) AS text_hash,
                   CAST(count(*) AS BIGINT) AS n_dups,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
            FROM documents GROUP BY sha256(text)
        """,
        "token_stats": """
            SELECT doc_id,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                   CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
                   round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                         / greatest(length(text), 1), 4) AS punct_ratio,
                   CAST((length(lower(text)) - length(regexp_replace(lower(text), '\\bthe\\b', '', 'g'))) / 3 AS BIGINT) AS n_the
            FROM documents
        """,
        "lang_distribution": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 4) AS pct
            FROM documents GROUP BY lang
        """,
        "fingerprint_md5": """
            SELECT doc_id, md5(substr(text, 1, 64)) AS prefix_fp,
                   CAST(length(text) AS BIGINT) AS text_len
            FROM documents
        """,
        "char_jaccard_pairs": """
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(jaccard(lower(a.text), lower(b.text)), 4) AS char_jaccard
            FROM documents a JOIN documents b
              ON a.doc_id < b.doc_id
            WHERE a.lang = 'en' AND b.lang = 'en'
              AND a.doc_id % 20 = 0 AND b.doc_id % 20 = 0
        """,
        "embedding_cosine_pairs": """
            WITH s AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id % 10 = 0
            )
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(a.e, b.e), 6) AS cosine
            FROM s a JOIN s b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.3
        """,
        "mirror_hosts": """
            WITH pages AS (
              SELECT source AS host, md5(text) AS c FROM documents
              UNION ALL
              SELECT 'm-' || source, md5(text) FROM documents
              WHERE length(source) % 2 = 0 AND doc_id % 4 <> 0
            ),
            hc AS (SELECT DISTINCT host, c FROM pages),
            sizes AS (SELECT host, CAST(count(*) AS BIGINT) AS n
                      FROM hc GROUP BY host),
            shared AS (
              SELECT a.host AS host_a, b.host AS host_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM hc a JOIN hc b ON a.c = b.c AND a.host < b.host
              GROUP BY a.host, b.host
            ),
            j AS (
              SELECT host_a, host_b, n_shared,
                     sa.n AS n_a, sb.n AS n_b,
                     CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jac
              FROM shared
              JOIN sizes sa ON sa.host = shared.host_a
              JOIN sizes sb ON sb.host = shared.host_b
            )
            SELECT host_a, host_b, n_shared, n_a, n_b,
                   round(jac, 6) AS jaccard
            FROM j WHERE jac >= 0.5 ORDER BY host_a, host_b
        """,
        "embedding_sq8": """
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
            ), m AS (
              SELECT vec_id, x, list_min(x) AS vmin,
                     (list_max(x) - list_min(x)) / 255.0 AS step
              FROM v
            ), q AS (
              SELECT vec_id, x, vmin, step,
                     CASE WHEN step > 0
                          THEN list_transform(x, e ->
                               CAST(floor((e - vmin) / step + 0.5) AS INTEGER))
                          ELSE list_transform(x, e -> 0) END AS qv
              FROM m
            ), d AS (
              SELECT vec_id, x, vmin, step, qv,
                     list_transform(qv, c -> vmin + c * step) AS deq
              FROM q
            )
            SELECT vec_id, round(vmin, 6) AS qmin, round(step, 6) AS qstep,
                   CAST(list_sum(qv) AS BIGINT) AS code_sum,
                   round(list_cosine_similarity(x, deq), 4) AS cos_recon
            FROM d ORDER BY vec_id
        """,
        "embedding_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """,
        "warc_ingest": """
            SELECT source || '/' || CAST(doc_id AS VARCHAR) AS url,
                   CAST(octet_length(encode(text)) AS BIGINT) AS html_bytes,
                   '2024-01-01 00:00:00' AS warc_ts_s
            FROM documents ORDER BY url
        """,
        "robots_from_pages": """
            WITH s AS (SELECT DISTINCT source FROM documents)
            SELECT lower(source) AS host, '*' AS agent, 'disallow' AS rule_type,
                   '/private-' || source || '/' AS path_prefix,
                   CAST(NULL AS DOUBLE) AS crawl_delay
            FROM s
            UNION ALL
            SELECT lower(source), '*', 'allow', '/private-' || source || '/ok',
                   CAST(NULL AS DOUBLE)
            FROM s
            UNION ALL
            SELECT lower(source), '*', 'crawl-delay', '', 3.0 FROM s
        """,
        "corpus_pipeline": """
            WITH src AS (
              SELECT doc_id, source,
                     CASE WHEN doc_id % 7 = 0 THEN '!!! ,,, ??? ;;; :::'
                          WHEN doc_id % 5 = 1
                          THEN 'the quick brown fox jumps over the lazy dog'
                          ELSE text END AS text
              FROM documents
            ), b AS (
              SELECT doc_id, source,
                     lower(trim(regexp_replace(regexp_replace(text,
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                       '\\s+', ' ', 'g'))) AS norm_text,
                     length(text) AS n_chars_c,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                          END AS n_tokens,
                     length(text) - length(regexp_replace(text, '[.,;:!?"''()]', '', 'g')) AS n_punct
              FROM src
            ), p AS (
              SELECT doc_id, source, norm_text,
                     CAST(n_tokens AS BIGINT) AS n_tokens,
                     (CASE WHEN n_tokens >= 5
                           AND (CASE WHEN n_tokens > 0
                                THEN CAST(n_chars_c AS DOUBLE) / n_tokens
                                ELSE 0.0 END) BETWEEN 2.0 AND 12.0
                           THEN 1.0 - least(1.0,
                                (CASE WHEN n_chars_c > 0
                                 THEN CAST(n_punct AS DOUBLE) / n_chars_c
                                 ELSE 0.0 END) * 4)
                           ELSE 0.0 END) > 0 AS passed
              FROM b
            ), d AS (
              SELECT p.*,
                     min(CASE WHEN passed THEN doc_id END)
                       OVER (PARTITION BY norm_text) AS first_id
              FROM p
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN NOT passed THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
                   CAST(sum(CASE WHEN passed AND doc_id <> first_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
                   CAST(sum(CASE WHEN passed AND doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN passed AND doc_id = first_id THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
            FROM d GROUP BY source ORDER BY source
        """,
        "minhash_near_dups": _minhash_oracle(),
        "incremental_dedup": f"""
            WITH p AS (SELECT * FROM ({_minhash_oracle()}) z)
            SELECT CASE WHEN a % 3 = 0 THEN a ELSE b END AS new_id,
                   CASE WHEN a % 3 = 0 THEN b ELSE a END AS old_id,
                   jaccard
            FROM p WHERE (a % 3 = 0) <> (b % 3 = 0)
            ORDER BY new_id, old_id
        """,
        "dup_clusters": _dup_clusters_oracle(),
        "benchmark_contamination": _contamination_oracle(),
        "stratified_sample": _stratified_sample_oracle(),
        "repetition_stats": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
              FROM documents
            ), s AS (
              SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nd,
                CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bg
              FROM t
            ), m AS (
              SELECT doc_id, n, nd,
                CASE WHEN n = 0 THEN 0
                     ELSE list_max(list_transform(list_distinct(toks),
                            t -> len(list_filter(toks, x -> x = t)))) END AS top_tok,
                CASE WHEN n < 2 THEN 0
                     ELSE list_max(list_transform(list_distinct(bg),
                            t -> len(list_filter(bg, x -> x = t)))) END AS top_bg
              FROM s
            ), r AS (
              SELECT doc_id, n,
                CASE WHEN n = 0 THEN 0.0 ELSE nd / CAST(n AS DOUBLE) END AS dr,
                CASE WHEN n = 0 THEN 0.0 ELSE top_tok / CAST(n AS DOUBLE) END AS tt,
                CASE WHEN n < 2 THEN 0.0 ELSE top_bg / CAST(n - 1 AS DOUBLE) END AS tb
              FROM m
            )
            SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                   round(dr, 4) AS distinct_ratio,
                   round(tt, 4) AS top_token_frac,
                   round(tb, 4) AS top_bigram_frac,
                   CAST(n > 0 AND (dr < 0.40 OR tt > 0.12 OR tb > 0.10) AS INT) AS repetitive
            FROM r
        """,
        "simhash": _simhash_oracle(),
        "language_id": _language_id_oracle(),
        "fingerprint_rolling": _fingerprint_oracle(),
        "embedding_lsh_buckets": _lsh_buckets_oracle(),
        "embedding_near_dups_lsh": _lsh_near_dups_oracle(),
        # synth_media is deterministic in asset_id: video assets are i%3==2
        # with duration_ms = 3000 + 100*(i%7); frame sampling every 500 ms
        # yields floor((duration-1)/500)+1 frames — recomputed independently
        # from the generation formula.
        # full replay of the engine's md5-seeded xorshift64* fake decoder:
        # payloads reconstruct as repeat(md5('asset-'||i), k), the seed is
        # md5_number_lower of the hex payload, and a recursive CTE steps the
        # same 64-value stream per asset (HUGEINT emulates uint64 wraparound
        # for the << 25)
        "multimodal_features": """
            WITH RECURSIVE assets AS (
              SELECT i AS asset_id,
                     CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                     16 * (8 + 2 * (i % 5)) AS n_bytes,
                     repeat(md5('asset-' || CAST(i AS VARCHAR)), CAST(8 + 2 * (i % 5) AS INT)) AS hexpayload
              FROM range(0, 96) t(i)
            ), seeds AS (
              SELECT asset_id, media_type, n_bytes,
                     CASE WHEN md5_number_lower(hexpayload) = 0 THEN CAST(1 AS UBIGINT)
                          ELSE md5_number_lower(hexpayload) END AS seed
              FROM assets
            ), stream(asset_id, step, x) AS (
              SELECT asset_id, 0, seed FROM seeds
              UNION ALL
              SELECT asset_id, step + 1, xor(y2, y2 >> 27)
              FROM (
                SELECT asset_id, step,
                       xor(y1, CAST(CAST(y1 AS HUGEINT) * 33554432 % 18446744073709551616 AS UBIGINT)) AS y2
                FROM (SELECT asset_id, step, x, xor(x, x >> 12) AS y1 FROM stream)
              )
              WHERE step < 64
            ), intensities AS (
              SELECT asset_id, avg(CAST(x AS DOUBLE) / 18446744073709551616) AS mean_intensity
              FROM stream WHERE step >= 1 GROUP BY asset_id
            )
            SELECT media_type, CAST(count(*) AS BIGINT) AS n_assets,
                   CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
                   round(avg(mean_intensity), 4) AS avg_intensity
            FROM seeds JOIN intensities USING (asset_id)
            GROUP BY media_type
        """,
        "media_frame_sample": """
            SELECT i AS asset_id,
                   CAST(floor((3000 + 100*(i % 7) - 1) / 500) + 1 AS BIGINT) AS n_frames
            FROM range(0, 96) t(i) WHERE i % 3 = 2
        """,
        # quality-aware representative per duplicate cluster: the SAME
        # recursive-CTE component chain as dup_clusters, joined to integer
        # whitespace-token quality; argmax replayed as a window (the Spark
        # side is a single-exchange struct-min, but the extremum is
        # identical — integer quality can never flip on float noise)
        "dup_representatives": f"""
            WITH comp AS (SELECT * FROM ({_dup_clusters_oracle()}) z),
            q AS (
              SELECT doc_id,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                          END AS BIGINT) AS qm
              FROM documents
            ),
            j AS (
              SELECT c.component, c.doc_id, q.qm,
                     row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY q.qm DESC, c.doc_id
                     ) AS rn,
                     CAST(count(*) OVER (PARTITION BY c.component) AS BIGINT)
                       AS n_members
              FROM comp c JOIN q USING (doc_id)
            )
            SELECT component, doc_id AS rep_doc_id, qm AS rep_quality,
                   n_members, n_members - 1 AS n_dropped
            FROM j WHERE rn = 1 ORDER BY component
        """,
        "tfidf_keywords": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY doc_id, term
            ),
            dft AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ),
            n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                  FROM documents),
            s AS (
              SELECT tf.doc_id, tf.term, tf.tf, dft.df,
                     tf.tf * ln((n.n_docs + 1) / (dft.df + 1.0)) AS score
              FROM tf JOIN dft USING (term) CROSS JOIN n
            ),
            r AS (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY round(score, 6) DESC, term
                     ) AS BIGINT) AS rank
              FROM s
            )
            SELECT doc_id, rank, term, tf, df, round(score, 6) AS score
            FROM r WHERE rank <= 3 ORDER BY doc_id, rank
        """,
        "inverted_index": """
            WITH toks AS (
              SELECT doc_id AS doc,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
              FROM documents
            ),
            td AS (
              SELECT term, doc, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY term, doc
            ),
            dft AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df FROM td GROUP BY term
            ),
            sh AS (
              SELECT td.term, td.doc, dft.df,
                     CAST(CASE WHEN dft.df > 200 THEN td.doc % 4 ELSE 0 END
                          AS INTEGER) AS shard
              FROM td JOIN dft USING (term)
            )
            SELECT term, shard, df,
                   CAST(count(*) AS BIGINT) AS shard_docs,
                   list_sort(list(doc)) AS postings
            FROM sh GROUP BY term, shard, df
            ORDER BY term, shard
        """,
        "charset_stats": """
            WITH lab AS (
              SELECT doc_id,
                     CASE doc_id % 5
                       WHEN 0 THEN 'utf-8'    WHEN 1 THEN 'utf-8'
                       WHEN 2 THEN 'iso-8859-1'
                       WHEN 3 THEN 'utf-16le' ELSE 'utf-16be' END AS charset,
                     CASE doc_id % 5
                       WHEN 1 THEN 'utf-8' WHEN 3 THEN 'utf-16le'
                       WHEN 4 THEN 'utf-16be' END AS bom
              FROM documents
            )
            SELECT charset, bom, CAST(count(*) AS BIGINT) AS n_pages
            FROM lab GROUP BY charset, bom ORDER BY charset, bom
        """,
        "wat_ingest": """
            WITH d AS (SELECT doc_id, source FROM documents),
            l AS (
              SELECT 'http://' || source || '/d/' || doc_id AS url,
                     CAST(0 AS BIGINT) AS pos,
                     'http://' || source || '/p/' || doc_id AS href,
                     'anchor ' || doc_id AS anchor
              FROM d
              UNION ALL
              SELECT 'http://' || source || '/d/' || doc_id,
                     CAST(1 AS BIGINT), NULL, 'bare'
              FROM d
            )
            SELECT url, pos, href, anchor FROM l ORDER BY url, pos
        """,
        "host_graph": """
            WITH nodes AS (SELECT doc_id, source FROM documents),
            nn AS (SELECT COUNT(*) AS n FROM nodes),
            edges AS (
              SELECT DISTINCT src, dst FROM (
                SELECT d.doc_id AS src,
                       (d.doc_id*d.doc_id + 7*k.k*d.doc_id + k.k + 1) % nn.n AS dst
                FROM nodes d CROSS JOIN nn
                CROSS JOIN (VALUES (0),(1),(2)) k(k)
              ) WHERE src <> dst
            ),
            j AS (
              SELECT lower(s.source) || '.com' AS src_site,
                     lower(t.source) || '.com' AS dst_site
              FROM edges e
              JOIN nodes s ON e.src = s.doc_id
              JOIN nodes t ON e.dst = t.doc_id
            )
            SELECT src_site, dst_site, CAST(count(*) AS BIGINT) AS n_links
            FROM j GROUP BY src_site, dst_site ORDER BY src_site, dst_site
        """,
    }
