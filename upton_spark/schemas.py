"""Fixed StructType schemas for every engine table.

The reference has no schema system at all (SURVEY.md §1.1 — Ruby strings and
nested arrays, duck-typed at sink time, lib/upton.rb:175-179). The engine
declares every table shape once, here. The ``pages`` shape is the
authoritative input contract from BASELINE.json ``input_hint``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Common-Crawl-style page corpus — BASELINE.json input_hint:
#   (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Crawl job definition — one row per seed. Field semantics mirror the
# reference Scraper's config surface (lib/upton.rb:65-114): index_selector is
# the anchor selector, extract_* describe the per-instance block, pagination_*
# are lib/upton.rb:99-107 defaults, sleep_time_between_requests is the
# politeness budget (lib/upton.rb:96).
SEEDS = T.StructType(
    [
        T.StructField("seed_id", T.IntegerType(), False),
        T.StructField("seed_url", T.StringType(), False),
        T.StructField("index_selector", T.StringType(), True),
        T.StructField("extract_selector", T.StringType(), True),
        T.StructField("extract_kind", T.StringType(), True),  # text | list | table
        T.StructField("paginated", T.BooleanType(), True),
        T.StructField("pagination_param", T.StringType(), True),
        T.StructField("pagination_max_pages", T.IntegerType(), True),
        T.StructField("pagination_start_index", T.IntegerType(), True),
        T.StructField("pagination_interval", T.IntegerType(), True),
        T.StructField("sleep_time_between_requests", T.DoubleType(), True),
    ]
)

# URL frontier — the engine's central state table; salted-hash partitioned by
# host at scale (SURVEY.md §4.1).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), True),  # xxhash64 of canonical url
        T.StructField("host", T.StringType(), True),
        T.StructField("seed_id", T.IntegerType(), True),
        T.StructField("instance_index", T.LongType(), True),
        T.StructField("pagination_index", T.IntegerType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("priority", T.LongType(), True),
        T.StructField("attempts", T.IntegerType(), True),
        T.StructField("status", T.StringType(), True),  # queued|fetched|deferred|blocked
    ]
)

URLS_SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("first_round", T.IntegerType(), True),
        # stash-annotation timestamp, stamped at mark-seen time (reference
        # writes Time.now into the cached file, downloader.rb:100-116)
        T.StructField("fetched_at", T.TimestampType(), True),
    ]
)

# Extraction output. ``text`` holds scalar/text-kind and list-kind values
# (one row per matched element for list kind); ``row`` holds table-kind rows
# (ARRAY<STRING> of cell texts). Mirrors the reference's three block shapes
# (lib/upton/utils.rb:20-40).
EXTRACTED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("seed_id", T.IntegerType(), True),
        T.StructField("instance_index", T.LongType(), True),
        T.StructField("pagination_index", T.IntegerType(), True),
        T.StructField("match_index", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("row", T.ArrayType(T.StringType()), True),
    ]
)

# Per-round, per-partition crawl lineage (north_star: urls_seen, fetched,
# deferred-by-politeness carried on every snapshot commit).
LINEAGE = T.StructType(
    [
        T.StructField("phase", T.StringType(), False),  # index | instance
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("urls_seen", T.LongType(), True),
        T.StructField("fetched", T.LongType(), True),
        T.StructField("deferred_by_politeness", T.LongType(), True),
        T.StructField("cache_hits", T.LongType(), True),
        T.StructField("blocked_by_robots", T.LongType(), True),
        T.StructField("retried", T.LongType(), True),
        T.StructField("failed", T.LongType(), True),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("agent", T.StringType(), True),
        T.StructField("rule_type", T.StringType(), True),  # allow | disallow
        T.StructField("path_prefix", T.StringType(), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)
