"""The crawl engine — Upton's scrape lifecycle as Spark jobs.

Reproduces the reference lifecycle (SURVEY.md §3: index resolution →
index pagination → instance fetch, instance pagination included →
per-page block → flatten) as driver-side batch over DataFrames. Each
fetch phase has exactly two implementations: one closed-form schedule and
one stateful round loop.

* **index phase** — every page of every index chain
  (``urlkit.index_page_urls``) is generated up front and fetched in one
  join (a chain's URLs are predictable; only its END depends on bodies,
  lib/upton.rb:295-311, and a window over the fetched bodies recovers
  it). The closed form then assigns each page its fetch round: with
  unlimited tokens page k is fetched in round k; with finite tokens a
  per-host ``applyInPandas`` simulation replays the loop's admission. The loop (``run_index_phase_sequential``,
  one page per alive seed per round) runs only when the index seeds'
  tokens differ, or when tokens are finite and either a live transport
  paces real requests or ``index_cached`` can turn a later page into a
  stash hit mid-phase.
* **instance phase** — frontier rows ``(seed, instance_index, url)``; fetch
  = join against the ``pages`` corpus (the corpus *is* the stash:
  lib/upton/downloader.rb:70-98 becomes an anti-join + join); dedup via
  one exact anti-join against the seen-set; robots/blocklist gate;
  per-host token politeness. Instance pagination is frontier growth in the
  same rounds: page k+1 of an instance is queued in the round after page k
  arrives with a non-empty body. The closed form computes every round at
  once — a url of per-host rank r is fetched in round (r-1) div tokens
  (``politeness.schedule_per_host``). The loop runs when something
  perturbs rounds or needs a boundary per round: injected fetch failures,
  a live transport, a catalog, a simulated kill, heterogeneous seed
  sleeps, or the next_instance_page_url hook.
* **catalog = checkpoint** — a catalog crawl commits its built frontier
  (with links, index lineage and index seen rows) as its first snapshot,
  then one snapshot per fetch round carrying per-partition lineage, and
  continues from the tables it committed, so the commit is the only write
  of its state: no scratch copy of the frontier or seen-set. A crawl
  killed any time after its frontier exists resumes from the latest
  snapshot (kill/resume-safe); the final commit adds ``extracted``.
* **extraction phase** — the user "block" as a pandas UDF over the html
  column, in the reference's three canned shapes (text / list / table,
  lib/upton/utils.rb:20-40) plus identity (the reference's default block
  ``Proc.new{|x| x}``, lib/upton.rb:49).

Determinism: every ordering comes from explicit columns
(seed_id, page_round, pos, instance_index, pagination_index, match_index) —
never partition iteration order or monotonically_increasing_id.

Scale design (10^10 frontier): the only per-round shuffles are (a) the hash
exchange on ``host`` for politeness ranking — which is also the frontier's
storage partitioning, so it amortizes; (b) the url join frontier×pages —
sort-merge under AQE with skew-join splitting; hot hosts are additionally
capped by politeness itself (per-host tokens bound per-host work per round).
Selectors/config ride a broadcast seed dimension. Seen-set membership is
exact: the stash semi-join and the seen anti-join both key on the JVM-side
``url_hash``. Per-round decision accounting is ONE aggregation job
(groupBy decision × host-bucket), not N driver count() actions.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import os
import shutil
import tempfile
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from upton_spark import schemas, urlkit
from upton_spark.functions.udfs import (
    decode_html_udf,
    extract_links_udf,
    extract_list_udf,
    extract_table_udf,
    extract_text_udf,
    host_col,
    index_page_urls_udf,
    main_content_udf,
)
from upton_spark.operators import partitioning as part_ops
from upton_spark.operators import politeness as polite_ops
from upton_spark.operators import robots as robots_ops
from upton_spark.sources.catalog import Append, ManifestCatalog

N_LINEAGE_BUCKETS = 32  # host-hash buckets used as lineage "partitions"
# small-crawl job-diet bounds (see Crawler.job_diet): a crawl whose seed
# list and built frontier are both under these is driver-latency-bound, not
# data-bound, so adaptive re-planning only adds per-stage driver jobs
JOB_DIET_MAX_SEEDS = 64
JOB_DIET_MAX_ROWS = 20_000
# dieted shuffle width: wide enough that JOB_DIET_MAX_ROWS rows per
# partition stay trivially in memory, narrow enough that task launches
# stop dominating tiny stages
JOB_DIET_SHUFFLE_WIDTH = 4
# salted frontier partitioning: rows per salt bucket of a hot host
FRONTIER_ROWS_PER_BUCKET = 100_000
# fetch-loop compaction period: between compactions the loop keeps frontier
# updates DELTA-based (a catalog round appends only its politeness-bounded
# status map instead of rewriting the frontier, which at a 10^10-row
# frontier would make every round O(frontier)). The full frontier is written
# on absolute rounds r with (r + 1) % COMPACT_EVERY == 0, on rounds that
# queue new pages and when the loop ends, bounding lazy plan depth and the
# status rows a resume applies; the in-memory seen-set is re-read from that
# write on the same rounds. A resumed crawl compacts on the same rounds as
# an uninterrupted one.
COMPACT_EVERY = 8


@dataclass
class SeedSpec:
    """One crawl job seed — the reference Scraper's constructor+attrs surface
    (lib/upton.rb:65-114). Either ``seed_url`` (+ index_selector) for
    index-page mode or ``url_list`` for the explicit-array mode."""

    seed_id: int
    seed_url: str | None = None
    url_list: list[str] | None = None
    index_selector: str = ""
    extract_selector: str | None = None
    extract_kind: str = "text"  # text | list | table | identity | content
    # 'content' = selector-free main-content extraction (boilerplate
    # removal, operators.boilerplate) — the training-data crawl kind
    paginated: bool = False
    pagination_param: str = "page"
    pagination_max_pages: int = 2
    pagination_start_index: int = 1
    pagination_interval: int = 1
    sleep_time_between_requests: float = 30.0


@dataclass
class CrawlResult:
    extracted: DataFrame
    frontier: DataFrame
    urls_seen: DataFrame
    lineage: DataFrame
    links: DataFrame


_LINKS_SCHEMA = T.StructType(
    [
        T.StructField("seed_id", T.IntegerType(), False),
        T.StructField("page_round", T.IntegerType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("url", T.StringType(), True),
    ]
)


class KilledCrawl(RuntimeError):
    """Raised by stop_after_round to simulate a mid-crawl kill in tests."""

    def __init__(self, round_no: int):
        super().__init__(f"crawl killed after round {round_no}")
        self.round_no = round_no


# session-lifetime inverted file index per corpus and its row count (see
# _url_file_map), keyed by SparkSession identity so a map never outlives its
# session; single entry — a new corpus unpersists and replaces the previous
# map. The engine's only process-global cache: repeated crawls of one corpus
# reuse it.
_URL_FILE_MAP_CACHE: dict[tuple, tuple[DataFrame, int]] = {}


def _decision_col():
    """The index phases' per-row decision: deferred, stash hit or live."""
    return (
        F.when(~F.col("admitted"), "deferred")
        .when(F.col("cache_hit"), "cache_hit")
        .otherwise("fetched")
    )


def _total(counts: dict[tuple[str, int], int], decision: str) -> int:
    """All host buckets' rows of one decision in a lineage count map."""
    return sum(v for (d, _), v in counts.items() if d == decision)


def _csv_quote(col, sep: str):
    quoted = F.concat(F.lit('"'), F.regexp_replace(col, '"', '""'), F.lit('"'))
    return F.when(
        col.contains(sep) | col.contains('"') | col.contains("\n"), quoted
    ).otherwise(col)


class Crawler:
    _bloom_active = False  # read by perfbench; the seen-set has no Bloom layer

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        seeds: list[SeedSpec],
        *,
        index_cached: bool = False,  # reference @index_debug default (lib/upton.rb:92)
        instance_cached: bool = True,  # reference @debug default (lib/upton.rb:90)
        round_budget_s: float = 60.0,
        robots: DataFrame | None = None,
        user_agent: str = "upton-spark",
        catalog: ManifestCatalog | None = None,
        pages_path: str | None = None,
        next_instance_page_url_fn: Callable[[str, int], str] | None = None,
        max_instance_pages: int = 16,
        assume_unique_urls: bool = False,
        broadcast_frontier: bool = True,
        fetch_failures: DataFrame | None = None,
        max_fetch_attempts: int = 3,
        index_fn: Callable[[DataFrame], DataFrame] | None = None,
        clock: str | None = None,
        url_priorities: DataFrame | None = None,
        host_budgets: DataFrame | None = None,
        blocklist_hosts: DataFrame | None = None,
        blocklist_url_patterns: list[str] | None = None,
        fetch_fn: Callable[[str], bytes | str | None] | None = None,
        redirect_map: DataFrame | None = None,
        block_traps: bool = False,
        host_delays: DataFrame | None = None,
    ):
        # ``catalog``: the crawl's only checkpoint. Its first commit holds
        # the built frontier, every fetch round commits (the full frontier
        # on COMPACT_EVERY's rounds, else an appended status map) and the
        # crawl continues from the tables it committed, so nothing of its
        # state is also copied to scratch. The catalog's seen-set and
        # lineage only ever grow by appends.
        # ``clock`` pins the fetched_at stash-annotation timestamp (the
        # reference stamps Time.now into cached files, downloader.rb:100-116)
        # to a fixed 'yyyy-MM-dd HH:mm:ss' value for deterministic tests;
        # None uses current_timestamp() like a live deployment.
        # ``index_fn`` is the reference's primary customization point — the
        # get_index/parse_index subclass override (lib/upton.rb:266-288,
        # README.md:31-39) — as a pluggable DataFrame transform: it receives
        # the fetched index pages (seed_id, page_round, seed_url, url, html,
        # index_selector) and must return link rows (seed_id, page_round,
        # pos, url) where pos is the within-page DOM position. None keeps
        # the default CSS-selector link projection.
        # Bounded retry (SURVEY.md §4): the reference retries timeouts forever
        # (lib/upton/downloader.rb:63-65) and maps HTTP errors to '' bodies
        # (downloader.rb:50-68). The engine bounds retries: a failed live
        # fetch increments ``attempts`` and re-queues (re-entering admission,
        # so a retry consumes a politeness token like any live request) until
        # ``max_fetch_attempts``, then the row goes terminal status='failed'
        # with the reference's empty-body semantics. ``fetch_failures``
        # injects failures for tests/replay: rows (url, fail_times) make the
        # first ``fail_times`` live attempts of that url fail.
        known_kinds = {"text", "list", "table", "identity", "content"}
        for s in seeds:
            if s.extract_kind not in known_kinds:
                raise ValueError(
                    f"seed {s.seed_id}: unknown extract_kind {s.extract_kind!r} "
                    f"(expected one of {sorted(known_kinds)})"
                )
            if s.paginated and s.pagination_interval < 0:
                raise ValueError(
                    f"seed {s.seed_id}: pagination_interval {s.pagination_interval} < 0 never ends"
                )
        # corpus contract flags:
        # - assume_unique_urls: pages has one capture per url (synthetic
        #   corpora; Iceberg tables maintained by MERGE) -> skip the
        #   dedup-latest window, which otherwise shuffles the full corpus.
        # - broadcast_frontier: frontier/candidate side is broadcastable
        #   (true until the frontier round outgrows ~a few GB; at 10^10 you
        #   flip this off and bucket both sides by url instead), letting the
        #   body join stream the pages scan with NO corpus shuffle.
        self.assume_unique_urls = assume_unique_urls
        self.broadcast_frontier = broadcast_frontier
        self.fetch_failures = fetch_failures
        self.max_fetch_attempts = max_fetch_attempts
        self.index_fn = index_fn
        self.clock = clock
        # Crawl-planning inputs (operators.webgraph family), composed into
        # the loop the way the reference's `scrape` composes its pieces
        # (lib/upton.rb:47-51) — a prioritized re-crawl is one constructor
        # call, not hand-assembled operators:
        # - ``url_priorities`` (url, priority:long): admission order within a
        #   host; LOWER fetches first (pagerank_priorities converts rank
        #   scores). Unlisted urls order after every listed one, then by
        #   (seed_id, instance_index) as before. Key-partitioned left join —
        #   the table may be corpus-scale.
        # - ``host_budgets`` (host, budget:long): per-round token cap from
        #   allocate_budget, min 1 so every host keeps a heartbeat; combined
        #   with the sleep/Crawl-delay tokens via least(). Broadcast join
        #   (host dims are small by definition).
        # - ``blocklist_hosts`` (host) / ``blocklist_url_patterns``: the
        #   webgraph.blocklist_gate admission check, run beside the robots
        #   gate — hits go terminal status='blocked', never fetched.
        # All three are uniform per host / static per url, so the closed-form
        # schedule stays exact (no new _oneshot_eligible disqualifiers;
        # equivalence pinned by test_planned_crawl_*).
        # - ``redirect_map`` (src, final_url): a known redirect table (e.g.
        #   webgraph.resolve_redirects over the previous crawl's
        #   meta_refresh_redirects edges) rewrites frontier urls to their
        #   final targets BEFORE dedup/admission — the seen-set dedups on
        #   finals, politeness charges the final host, and the fetch never
        #   wastes a token on a hop page. Unresolved rows (final_url NULL)
        #   are ignored (the original url is kept). Static per url, so the
        #   closed-form schedule stays exact.
        self.url_priorities = url_priorities
        self.host_budgets = host_budgets
        self.blocklist_hosts = blocklist_hosts
        self.blocklist_url_patterns = list(blocklist_url_patterns or [])
        self.redirect_map = redirect_map
        self.block_traps = bool(block_traps)
        # - ``host_delays`` (host, crawl_delay:double seconds): an extra
        #   per-host politeness floor — typically
        #   politeness.adaptive_delays over the previous crawl's latency
        #   log (closed-loop backpressure). Merged with robots Crawl-delay
        #   via greatest(): the most conservative source wins, same rule the
        #   robots delay already applies against the seed sleep. Uniform per
        #   host, so the closed-form schedule stays exact.
        self.host_delays = (
            host_delays.select("host", F.col("crawl_delay").cast("double"))
            if host_delays is not None
            else None
        )
        # ``fetch_fn``: the LIVE-FETCH transport seam (SURVEY §2.1's
        # download_from_resource!, downloader.rb:50-68). None (default) =
        # corpus replay: ``pages`` models the web and a "live fetch" is the
        # body join. With a transport injected, ``pages`` becomes the STASH
        # (cache hits still read from it) and every row the admission loop
        # decides to fetch live — exactly the rows that consumed a
        # politeness token — acquires its body through fetch_fn inside a
        # mapInPandas stage over the frontier partitions. Contract (matches
        # downloader.rb:50-68): fetch_fn(url) -> html bytes/str; None or a
        # raised exception means a fetch error and becomes the reference's
        # EMPTY_STRING body (''); a transport that wants timeout retries
        # performs them internally (the engine's bounded-retry rounds stay
        # driven by the deterministic fetch_failures injection). Must be
        # picklable (it ships to executors). Deferred rows NEVER reach the
        # transport — only admitted live decisions do — and a live transport
        # keeps the instance round loop, and the index loop whenever tokens
        # are finite (it must fetch round-by-round under the real politeness
        # pacing, not in one pass).
        self.fetch_fn = fetch_fn
        # Scratch dir for per-round state materialization: parquet
        # write+re-read truncates Catalyst lineage each round (the same thing
        # a catalog snapshot commit does). localCheckpoint is NOT used — with
        # pandas UDFs in the plan it falls off the SQL execution path and
        # loses Python-worker reuse (~40s per call vs ~1s for this).
        self._scratch = tempfile.mkdtemp(prefix="upton_spark_state_")
        self._scratch_n = 0
        # CrawlResult DataFrames read lazily from scratch parquet, so the
        # crawler must stay alive (and the dir on disk) until close() or
        # process exit — atexit's strong reference is deliberate: it keeps
        # `Crawler(...).crawl()` results valid (a weakref finalizer would
        # delete the dir at GC, under the live results). close() unregisters,
        # so long-lived services that close crawlers don't accumulate
        # registrations or leak closed instances.
        atexit.register(self.close)
        self.spark = spark
        self.pages = pages
        # pages_path: set when ``pages`` is a plain parquet/Iceberg table on
        # disk. Enables file-level pruning for small fetch sets (the index
        # phase, and the extraction while the frontier is under half the
        # corpus): a url-only probe finds the files holding any candidate,
        # and the html-bearing join reads ONLY those — the poor man's
        # Iceberg metadata pruning. Without it the index join decompresses
        # the whole corpus html column to fetch a few thousand index pages.
        self.pages_path = pages_path
        self._pages_raw_scan_ok: bool | None = None
        self.seeds = seeds
        self.index_cached = index_cached
        self.instance_cached = instance_cached
        self.round_budget_s = round_budget_s
        self.robots = robots
        self.user_agent = user_agent
        self.catalog = catalog
        self.next_instance_page_url_fn = next_instance_page_url_fn
        self.max_instance_pages = max_instance_pages
        self._lineage_rows: list[tuple] = []
        # how many _lineage_rows the catalog holds; None: the next commit
        # replaces the catalog's lineage (a crawl starts a new one)
        self._lineage_committed: int | None = None
        # seen-set rows added since the last commit (_mark_seen)
        self._seen_new: list[DataFrame] = []
        self._seen_count = 0
        # set by build_frontier and resume(); gates the job diet and the
        # extraction's corpus prune
        self._frontier_rows = 0
        # (url, html) the live transport fetched this crawl (_live_bodies)
        self._live_pins: DataFrame | None = None
        self.seeds_df = spark.createDataFrame(
            [
                (
                    s.seed_id,
                    s.seed_url or "",
                    s.index_selector,
                    s.extract_selector,
                    s.extract_kind,
                    s.paginated,
                    s.pagination_param,
                    s.pagination_max_pages,
                    s.pagination_start_index,
                    s.pagination_interval,
                    s.sleep_time_between_requests,
                )
                for s in seeds
            ],
            schema=schemas.SEEDS,
        )
        self._pages_latest: DataFrame | None = None
        # robots state is built ONCE per crawl (collect+broadcast or the
        # per-host rule-array join side) and reused across every round —
        # rebuilding per round leaks one broadcast per round and puts a
        # driver collect on the round critical path (scale-killer at
        # web-scale rule tables). Released in close().
        self._robots_gate: robots_ops.RobotsGate | None = None
        self._crawl_delays: DataFrame | None = None
        self._crawl_delays_built = False

    # ------------------------------------------------------------------ util
    def close(self) -> None:
        """Remove this crawler's scratch state. Call once the CrawlResult
        DataFrames are no longer needed — they read lazily from scratch
        parquet, so closing earlier invalidates them. Unregisters the atexit
        backstop so closed crawlers are collectable; safe to call twice."""
        atexit.unregister(self.close)
        if self._robots_gate is not None:
            self._robots_gate.close()
            self._robots_gate = None
        shutil.rmtree(self._scratch, ignore_errors=True)

    def _get_robots_gate(self) -> robots_ops.RobotsGate:
        if self._robots_gate is None:
            self._robots_gate = robots_ops.RobotsGate(
                self.spark, self.robots, self.user_agent
            )
        return self._robots_gate

    def _get_crawl_delays(self) -> DataFrame | None:
        """Per-host Crawl-delay dimension, built once per crawl (lazy DF; the
        per-round cost is just the broadcast join it rides). Robots
        Crawl-delay and the injected ``host_delays`` floor merge here via a
        full-outer join + greatest() — downstream admission sees ONE
        (host, crawl_delay) dim regardless of how many sources set it."""
        if not self._crawl_delays_built:
            delays = robots_ops.crawl_delays(self.robots, self.user_agent)
            if self.host_delays is not None:
                if delays is None:
                    delays = self.host_delays
                else:
                    delays = (
                        delays.withColumnRenamed("crawl_delay", "_rd")
                        .join(
                            self.host_delays.withColumnRenamed(
                                "crawl_delay", "_ad"
                            ),
                            "host",
                            "full_outer",
                        )
                        .select(
                            "host",
                            F.greatest(
                                F.coalesce("_rd", F.lit(0.0)),
                                F.coalesce("_ad", F.lit(0.0)),
                            ).alias("crawl_delay"),
                        )
                    )
            self._crawl_delays = delays
            self._crawl_delays_built = True
        return self._crawl_delays

    def _materialize(self, df: DataFrame, label: str) -> DataFrame:
        """Pin round state as parquet + re-read. This BOTH truncates Catalyst
        lineage (the iterative loop's plan otherwise grows combinatorially —
        each round's frontier references the previous round several times)
        AND matches what a catalog snapshot commit does at scale (a catalog
        crawl pins its frontier and seen-set by committing them instead).
        cache() is not a substitute: it keeps the logical plan, and planning
        time explodes after a few rounds."""
        self._scratch_n += 1
        path = os.path.join(self._scratch, f"{self._scratch_n:04d}_{label}")
        df.write.mode("overwrite").parquet(path)
        # the writer's schema IS the reader's schema — passing it explicitly
        # skips the read-back footer/schema-inference job (one driver job per
        # materialize; the round loop pays this once per round)
        return self.spark.read.schema(df.schema).parquet(path)

    @contextlib.contextmanager
    def job_diet(self):
        """Disable adaptive query execution around a SMALL crawl's actions.

        AQE materializes every query stage as its own driver job (~0.1-0.2s
        of scheduling each); a politeness-bounded crawl of O(10^2-10^4)
        frontier rows runs ~40 such jobs for ~1s of actual data work, so the
        fixed driver cost dominates (measured: 41 -> 23 jobs on the 12-host
        politeness bench). Shuffle width is dieted too: 32 shuffle partitions
        mean ~32 task launches per tiny stage, pure overhead at O(10^2) rows
        (one A/B window read 9.6 -> 8.2s at width 4 on the same bench;
        steady-state repeats sit inside this VM's noise band, so the claim
        is the removed task launches, not a headline number). Identical
        rows — no operator here depends on partition count or iteration
        order, see the module determinism note. Results are bit-identical — AQE only
        re-plans partitioning/join strategy, and every small-side join here
        carries an explicit broadcast hint. ``crawl()`` applies this
        automatically while seed count and built-frontier size stay under
        JOB_DIET_MAX_SEEDS / JOB_DIET_MAX_ROWS; bulk crawls keep AQE
        (skew-join + partition coalescing are the 100x-scale story) and the
        session's shuffle width. Callers consuming a small crawl's RESULT
        DataFrames (extraction aggregates) can opt in around their own
        actions. Session-conf scoped: not safe under concurrent queries on
        the same SparkSession from other threads."""
        conf = self.spark.conf
        prev = conf.get("spark.sql.adaptive.enabled", "true")
        prev_width = conf.get("spark.sql.shuffle.partitions", "200")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            width = int(prev_width)
        except ValueError:  # "auto" (Spark 4 allows it) — leave untouched
            width = None
        if width is not None and width > JOB_DIET_SHUFFLE_WIDTH:
            conf.set("spark.sql.shuffle.partitions", str(JOB_DIET_SHUFFLE_WIDTH))
        try:
            yield
        finally:
            conf.set("spark.sql.adaptive.enabled", prev)
            conf.set("spark.sql.shuffle.partitions", prev_width)

    def _job_diet(self):
        """job_diet() while the seed list and the frontier built so far
        (``_frontier_rows``: 0 before build_frontier, the manifest's count
        on resume) stay under the JOB_DIET bounds."""
        small = len(self.seeds) <= JOB_DIET_MAX_SEEDS and self._frontier_rows <= JOB_DIET_MAX_ROWS
        return self.job_diet() if small else contextlib.nullcontext()

    def _pages_is_raw_scan(self) -> bool:
        """Contract check for file-level pruning: ``pages`` must be the
        unmodified scan of ``pages_path`` (sameSemantics vs a fresh read
        with ``pages``' schema, so no schema-inference job — catches
        filters, projections, unions; memoized once per crawler). A
        ``pages_path`` that cannot be read raises instead of silently
        turning pruning off."""
        if self._pages_raw_scan_ok is None:
            try:
                raw = self.spark.read.schema(self.pages.schema).parquet(self.pages_path)
            except AnalysisException as e:
                raise ValueError(f"pages_path {self.pages_path!r} cannot be read: {e}") from e
            self._pages_raw_scan_ok = self.pages.sameSemantics(raw)
        return self._pages_raw_scan_ok

    def pages_latest(self) -> DataFrame:
        """Latest capture per URL (dedup-latest on warc_ts — the as-of rule
        of SURVEY.md §2.3). With assume_unique_urls the window (a full-corpus
        shuffle) is skipped; at scale the same effect comes from Iceberg
        MERGE keeping one row per url."""
        if self._pages_latest is None:
            self._pages_latest = self._latest_of(self.pages)
        return self._pages_latest

    def _pruned_corpus(
        self, keys: DataFrame, n_keys: int, key_urls: list[str] | None = None
    ) -> DataFrame | None:
        """The latest-capture corpus (url, html) read from only the files
        that hold a candidate url (``keys``' ``url`` column; ``n_keys``
        bounds their number), or None to read the whole corpus. Used by the
        index phase and the extraction alike.

        A probe of the url→file map (no html decompression) finds the
        files. Correct under dedup-latest: every capture of a matched url
        lives in a kept file, so the per-url latest window over them equals
        the global one. The probe runs only while the candidates are under
        half the corpus rows: the files of a fetch set of at least half the
        corpus rows hold at least that many rows, so the full scan reads at
        most twice what a pruned one would. None also when the matched
        files are half the corpus or more, without ``pages_path`` or
        broadcast_frontier, or when ``pages`` is not the raw scan of
        ``pages_path`` — the kept files are re-read directly, which would
        bypass a caller's filter or projection, so a transformed ``pages``
        keeps the unpruned join."""
        if self.pages_path is None or not self._pages_is_raw_scan() or not self.broadcast_frontier:
            return None
        fmap, corpus_rows = self._url_file_map()
        if 2 * n_keys >= corpus_rows:
            return None
        files = self._prune_file_list(fmap, keys, key_urls)
        if files is None:
            return None
        return self._latest_of(self.spark.read.schema(self.pages.schema).parquet(*files))

    def _url_file_map(self) -> tuple[DataFrame, int]:
        """(url, _f) inverted file index over the raw corpus scan and its
        row count, Spark-cached per (session, pages_path, file set): the
        count that fills the cache is the corpus size _pruned_corpus gates
        on, and every later probe (index candidates, extraction, later
        crawls of the same corpus) reads the cached map instead of the
        corpus url column. The 100-TB analogue is table metadata (Iceberg
        manifests / file url stats) — local parquet has no such index, so
        the engine materializes one. Single entry: a new corpus evicts
        (unpersists) the old map."""
        # applicationId is stable for a session's lifetime and never reused,
        # unlike id(self.spark) which CPython can recycle after a stopped
        # session is GC'd (resurrecting a DataFrame bound to a dead session)
        app_id = self.spark.sparkContext.applicationId
        key = (app_id, self.pages_path, tuple(sorted(self.pages.inputFiles())))
        cached = _URL_FILE_MAP_CACHE.get(key)
        if cached is not None:
            return cached
        for k, (old, _) in list(_URL_FILE_MAP_CACHE.items()):
            # never unpersist a map owned by another live session; stopped
            # sessions free their cache blocks on their own
            if k[0] == app_id:
                with contextlib.suppress(Exception):
                    old.unpersist()
            del _URL_FILE_MAP_CACHE[k]
        # ``pages`` is the raw scan here (_pages_is_raw_scan)
        fmap = self.pages.select("url", F.input_file_name().alias("_f")).cache()
        entry = _URL_FILE_MAP_CACHE[key] = (fmap, fmap.count())
        return entry

    def _prune_file_list(
        self, fmap: DataFrame, keys: DataFrame, key_urls: list[str] | None = None
    ) -> list[str] | None:
        """The corpus files of ``fmap`` holding any candidate url, or None
        when they are half the corpus files or more. A driver-known
        candidate list (``key_urls``) probes the map with an IN filter;
        otherwise ``keys`` is broadcast into a semi-join."""
        if key_urls is not None:
            probe = fmap.filter(F.col("url").isin(key_urls))
        else:
            probe = fmap.join(F.broadcast(keys.select("url")), "url", "left_semi")
        files = [r["_f"] for r in probe.select("_f").distinct().collect()]
        if not files or not all(files) or len(files) >= len(self.pages.inputFiles()) * 0.5:
            return None
        return files

    def _latest_of(self, pruned: DataFrame) -> DataFrame:
        """(url, html) with the dedup-latest rule applied (skipped under the
        assume_unique_urls corpus contract)."""
        if self.assume_unique_urls:
            return pruned.select("url", "html")
        w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc_nulls_last())
        return (
            pruned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("url", "html")
        )

    def _join_bodies(
        self, small: DataFrame, url_col: str = "url", corpus: DataFrame | None = None
    ) -> DataFrame:
        """small ⟕ pages on url, without ever shuffling the corpus.

        Spark cannot broadcast the PRESERVED side of an outer join (BuildRight
        is unsupported for RightOuter — a plain left join here would silently
        sort-merge-shuffle the whole corpus). So the outer join is decomposed:

          matched   = pages ⋈ broadcast(small)         (inner, BuildRight ok)
          unmatched = small ⟕̸ broadcast(matched urls)  (anti, NULL body)

        Both corpus scans stream column-pruned (url+html, then url-only).
        ``corpus`` replaces the latest-capture corpus with a pruned one
        (_pruned_corpus). Past broadcastable frontier sizes set
        broadcast_frontier=False and let AQE/SMJ handle it with bucketed
        tables."""
        pl = self.pages_latest() if corpus is None else corpus
        if url_col != "url":
            pl = pl.withColumnRenamed("url", url_col)
        if not self.broadcast_frontier:
            return small.join(pl, url_col, "left")
        matched = pl.join(F.broadcast(small), url_col, "inner")
        matched_keys = matched.select(url_col).distinct()
        unmatched = small.join(F.broadcast(matched_keys), url_col, "left_anti")
        for field in pl.schema.fields:
            if field.name != url_col:
                unmatched = unmatched.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
        return matched.unionByName(unmatched)

    def _transport_bodies(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        """Live-fetch stage: append an ``html`` binary column by calling the
        injected transport once per row, Arrow-batched inside mapInPandas —
        one fetch stage per frontier partition (the frontier is salted-host
        partitioned, so a partition's rows share few hosts and a real
        transport can pool connections per host). Rows reach here ONLY
        after politeness admission charged them a token. Error mapping is
        the reference's (downloader.rb:50-68): transport None/raise →
        NULL html → the extraction phase's '' empty body."""
        fetch_fn = self.fetch_fn
        out_schema = T.StructType(
            list(df.schema.fields) + [T.StructField("html", T.BinaryType(), True)]
        )

        def run(batches):
            for pdf in batches:
                bodies = []
                for u in pdf[url_col]:
                    try:
                        b = fetch_fn(u)
                    except Exception:
                        b = None
                    if b is not None and not isinstance(b, bytes):
                        b = str(b).encode("utf-8")
                    bodies.append(b)
                pdf = pdf.copy()
                pdf["html"] = bodies
                yield pdf

        return df.mapInPandas(run, schema=out_schema)

    @staticmethod
    def _collect_decision_counts(
        df: DataFrame, decision_col, extra: dict | None = None
    ) -> tuple[dict[tuple[str, int], int], dict[str, int]]:
        """Per-(decision, host-bucket) lineage counts from a MATERIALIZED
        round table — one tiny groupBy job over the round's parquet (the
        round table is politeness-bounded, never O(frontier)). ``extra``
        names boolean columns/exprs to count-if in the same job (e.g. the
        index chain's alive-next-round count), so accounting stays a single
        job per round."""
        pid = F.pmod(F.hash("host"), F.lit(N_LINEAGE_BUCKETS)).cast("int")
        aggs = [F.count(F.lit(1)).alias("__n")]
        for name, cond in (extra or {}).items():
            aggs.append(F.count(F.when(cond, F.lit(1))).alias(name))
        rows = (
            df.groupBy(decision_col.alias("__decision"), pid.alias("__pid"))
            .agg(*aggs)
            .collect()
        )
        counts = {(r["__decision"], r["__pid"]): r["__n"] for r in rows}
        extras = {
            name: sum(r[name] for r in rows) for name in (extra or {})
        }
        return counts, extras

    def _empty_seen(self) -> DataFrame:
        return self.spark.createDataFrame([], schema=schemas.URLS_SEEN)

    def _note_lineage(self, phase: str, round_no: int, per_pid: dict[tuple[str, int], int]) -> None:
        pids = sorted({pid for (_, pid) in per_pid})
        if not pids:
            pids = [0]
        for pid in pids:
            self._lineage_rows.append(
                (
                    phase,
                    round_no,
                    pid,
                    self._seen_count,
                    per_pid.get(("fetched", pid), 0),
                    per_pid.get(("deferred", pid), 0),
                    per_pid.get(("cache_hit", pid), 0),
                    per_pid.get(("blocked", pid), 0),
                    per_pid.get(("retry", pid), 0),
                    per_pid.get(("failed", pid), 0),
                )
            )

    def _mark_seen(
        self, seen: DataFrame, fetched: DataFrame, round_col, materialize: bool = True,
    ) -> DataFrame:
        """seen ∪ fetched urls. ``fetched`` carries ``url``; ``round_col``
        is each row's fetch round and a url's lowest one becomes its
        first_round. Callers advance self._seen_count first.
        ``materialize=False`` returns the lazy union (delta-based rounds:
        the caller compacts every COMPACT_EVERY rounds), and so does a
        catalog crawl, whose next commit appends the new rows waiting in
        ``_seen_new``."""
        hashed = fetched.groupBy("url").agg(
            F.min(round_col).cast("int").alias("first_round")
        ).withColumn("url_hash", F.xxhash64("url"))
        # frozen to a driver-side literal: with delta-based (lazy) seen
        # merges a current_timestamp() expression would re-evaluate on every
        # downstream action, stamping different times per consumer
        stamp = self.clock or datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        new_rows = hashed.select(
            "url_hash", "url", "first_round", F.to_timestamp(F.lit(stamp)).alias("fetched_at")
        )
        self._seen_new.append(new_rows)
        merged = seen.unionByName(new_rows)
        scratch = materialize and self.catalog is None
        return self._materialize(merged, "urls_seen") if scratch else merged

    # ----------------------------------------------------------- index phase
    def run_index_phase(self, seen: DataFrame) -> tuple[DataFrame, DataFrame]:
        """The closed-form index schedule when _index_oneshot_eligible,
        else the sequential round loop. Returns (links, seen)."""
        if self._index_oneshot_eligible():
            return self.run_index_phase_oneshot(seen)
        return self.run_index_phase_sequential(seen)

    def _index_seeds(self) -> list[SeedSpec]:
        return [s for s in self.seeds if s.seed_url and s.index_selector is not None]

    def _index_seeds_df(self) -> DataFrame:
        """Index seeds plus ``pages``: each chain's page URLs in fetch order
        (``urlkit.index_page_urls``, the only definition of a chain)."""
        return self.seeds_df.filter(
            (F.col("seed_url") != "") & F.col("index_selector").isNotNull()
        ).withColumn(
            "pages",
            index_page_urls_udf(
                F.struct(
                    "seed_url",
                    "paginated",
                    "pagination_param",
                    "pagination_start_index",
                    "pagination_interval",
                    "pagination_max_pages",
                )
            ),
        )

    def _index_tokens(self) -> set[int]:
        return {
            polite_ops.tokens_for(s.sleep_time_between_requests, self.round_budget_s)
            for s in self._index_seeds()
        }

    def _index_oneshot_eligible(self) -> bool:
        """The closed-form index schedule equals the loop when every index
        seed has the same tokens (the loop ranks a host's alive chains by
        (pagination_index, seed_id) against one constant budget) and no
        per-round state can change the outcome. With unlimited tokens
        nothing waits: chain page k is fetched in round k. With finite
        tokens two loop-only effects remain — a live transport must fetch
        round by round under the real pacing, and under index_cached a page
        fetched in one round can make a later candidate a token-free stash
        hit. Only index seeds count: url_list seeds never reach this phase,
        and the phase never commits to a catalog."""
        tokens = self._index_tokens()
        if len(tokens) > 1:
            return False
        if tokens <= {polite_ops.UNLIMITED}:
            return True
        return self.fetch_fn is None and not self.index_cached

    @staticmethod
    def _with_index_page(df: DataFrame) -> DataFrame:
        """pagination_index, host and url hashes of each row's chain page
        ``page_k`` at ``fetch_url``."""
        df = df.withColumn(
            "pagination_index",
            F.col("pagination_start_index") + F.col("page_k") * F.col("pagination_interval"),
        ).withColumn("host", host_col(F.col("fetch_url")))
        return df.withColumn("url_hash", F.xxhash64("fetch_url"))

    def _index_page_candidates(self) -> DataFrame:
        """Every page of every index chain, generated up front — the URLs
        of a chain are predictable (only chain TERMINATION depends on
        fetched bodies, lib/upton.rb:295-311): the closed form fetches them
        all in one pass, and both index phases prune the corpus once
        with them."""
        return self._with_index_page(
            self._index_seeds_df()
            .select("*", F.posexplode("pages").alias("page_k", "fetch_url"))
            .drop("pages")
        )

    def _tag_cache_hits(self, cand: DataFrame, seen: DataFrame) -> DataFrame:
        """Boolean ``cache_hit``: the index page is already in the seen-set
        (the reference's @index_debug stash check); False without
        index_cached."""
        if not self.index_cached:
            return cand.withColumn("cache_hit", F.lit(False))
        hits = seen.select("url_hash").distinct().withColumn("cache_hit", F.lit(True))
        return cand.join(hits, "url_hash", "left").withColumn(
            "cache_hit", F.coalesce("cache_hit", F.lit(False))
        )

    def _index_pruned_corpus(self) -> tuple[DataFrame | None, bool]:
        """(pruned index corpus, broadcast-it?) shared by both index phases.

        The candidate pagination URLs are predictable up front, so the
        corpus is pruned ONCE for the whole phase — with the driver-computed
        candidate list as an IN probe of the url→file map when it is
        short. When the pruned files are small on disk the
        caller should BROADCAST the corpus side and plain-left-join the
        candidate chain: _join_bodies' matched/unmatched decomposition
        would evaluate the candidate UDF chain ~3x (broadcast build +
        anti-join probe), the dominant cost at few-seeds scale. Live mode
        reads no corpus for live pages, so it skips the probe."""
        if self.fetch_fn is not None:
            return None, False
        urls = self._index_candidate_urls_local()
        pl = self._pruned_corpus(
            self._index_page_candidates().select(F.col("fetch_url").alias("url")),
            len(urls),
            key_urls=urls if len(urls) <= 10_000 else None,
        )
        if pl is None:
            return None, False
        try:
            total = sum(os.path.getsize(f.removeprefix("file:")) for f in pl.inputFiles())
            bcast = total <= 64 << 20
        except OSError:
            bcast = False
        return pl, bcast

    def _index_bodies(
        self, cand: DataFrame, corpus: tuple[DataFrame | None, bool],
        admitted: str | None = None,
    ) -> DataFrame:
        """Index candidates + ``html`` + ``body_empty``. Corpus replay joins
        every row (a join row is not a live fetch — lineage/politeness
        accounting is decision-based) against the phase's pruned corpus.
        Live mode: ONLY admitted non-cache-hit rows (the token consumers)
        reach the transport, admitted cache hits read the stash, and rows
        not admitted carry a NULL body (unread — they re-enter admission
        next round; a stale stash body would feed the chain logic content
        the live crawl never fetched this round). ``admitted`` names the
        admission column; None admits every row."""
        if self.fetch_fn is not None:
            go = F.col(admitted) if admitted else F.lit(True)
            hit = F.col("cache_hit")
            fetched = self._transport_bodies(cand.filter(go & ~hit), "fetch_url").unionByName(
                self._join_bodies(cand.filter(go & hit), "fetch_url")
            )
            if admitted:
                fetched = fetched.unionByName(
                    cand.filter(~go).withColumn("html", F.lit(None).cast("binary"))
                )
        else:
            pl_index, bcast_pages = corpus
            if bcast_pages:
                fetched = cand.join(
                    F.broadcast(pl_index.withColumnRenamed("url", "fetch_url")),
                    "fetch_url",
                    "left",
                )
            else:
                fetched = self._join_bodies(cand, "fetch_url", pl_index)
        return fetched.withColumn(
            "body_empty", F.col("html").isNull() | (F.length("html") == 0)
        )

    def _fetch_all_index_pages(self, seen: DataFrame) -> DataFrame:
        """ONE distributed pass over the whole candidate-page universe:
        stash hits tagged, bodies joined, chain validity (no earlier empty
        page per seed) via a window, hrefs projected in the same pass
        (unless an index_fn override needs the two-pass shape).
        Materialized — the closed form's rounds, lineage and links derive
        lazily from this parquet. The materialization drops ``html`` when
        hrefs were projected in-pass (nothing downstream reads it then —
        the write stays slim even for fat index pages). In live mode this
        pass is reachable only with unlimited tokens, so fetching the whole
        candidate universe is politeness-safe and bounded by
        pagination_max_pages per seed (pages past the chain end come back
        empty and are discarded by chain_valid, like the reference's
        stop-on-empty probe fetch)."""
        cand = self._tag_cache_hits(self._index_page_candidates(), seen)
        fetched = self._index_bodies(cand, self._index_pruned_corpus())
        before = Window.partitionBy("seed_id").orderBy("page_k").rowsBetween(
            Window.unboundedPreceding, -1
        )
        fetched = fetched.withColumn(
            "chain_valid",
            F.coalesce(F.sum(F.col("body_empty").cast("int")).over(before), F.lit(0)) == 0,
        )
        if self.index_fn is None:
            # default link projection: run the extraction UDF in the SAME
            # pass that materializes the fetched index pages — link rows then
            # derive lazily from the materialized parquet, saving one
            # driver-blocking job per crawl (an index_fn override needs the
            # two-pass shape because it transforms the fetched DataFrame)
            fetched = fetched.withColumn(
                "hrefs",
                extract_links_udf(F.col("html"), F.col("index_selector"), F.col("seed_url")),
            ).drop("html")
        # parquet pin, not persist(): measured equal-or-better (the cost is
        # the UDF evaluation, not the write) and the scratch file backs the
        # lazy link projection beyond any cache eviction
        return self._materialize(fetched, "index_fetched")

    def run_index_phase_oneshot(self, seen: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Closed-form index phase in O(1) driver jobs (vs O(rounds) in the
        loop — a 53-page chain costs 53 round-trips there): one pass
        fetches every candidate page, then each valid chain page gets the
        round the loop would fetch it in. With unlimited tokens nothing
        waits, so page k is fetched in round k (computed with no extra
        job). With finite tokens a per-host ``applyInPandas`` simulation
        replays the loop's admission (rank next pages by (pagination_index,
        seed_id), admit ``tokens``, advance or die on empty body) to assign
        each valid page its round and each wait a deferred row. Identical
        lineage/links/seen-set/extraction vs the loop is pinned by
        test_index_oneshot_matches_sequential_loop."""
        fetched = self._fetch_all_index_pages(seen)
        valid = fetched.filter("chain_valid")
        tokens = next(iter(self._index_tokens()), polite_ops.UNLIMITED)
        if tokens >= polite_ops.UNLIMITED:
            assigned = valid.withColumn("round", F.col("page_k"))
            schedule = assigned.select(
                "host", "round", F.lit(True).alias("admitted"), "cache_hit"
            )
        else:

            def simulate(pdf: pd.DataFrame) -> pd.DataFrame:
                chains: dict[int, list[tuple[int, int]]] = {}
                for sid, page_k, pag_idx in zip(
                    pdf["seed_id"], pdf["page_k"], pdf["pagination_index"]
                ):
                    chains.setdefault(int(sid), []).append((int(page_k), int(pag_idx)))
                for pages in chains.values():
                    pages.sort()
                ptr = {sid: 0 for sid in chains}
                host = pdf["host"].iloc[0] if len(pdf) else ""
                out = []
                rnd = 0
                while True:
                    alive = sorted(
                        (chains[sid][ptr[sid]][1], sid)
                        for sid in chains
                        if ptr[sid] < len(chains[sid])
                    )
                    if not alive:
                        break
                    for rank, (_pag, sid) in enumerate(alive):
                        admitted = rank < tokens
                        out.append((host, sid, chains[sid][ptr[sid]][0], rnd, admitted))
                        if admitted:
                            ptr[sid] += 1
                    rnd += 1
                return pd.DataFrame(
                    out, columns=["host", "seed_id", "page_k", "round", "admitted"]
                )

            # NOT materialized: the simulation is deterministic (sorted
            # chains, pure function of the materialized index_fetched
            # parquet), so its two consumers (lineage counts, the
            # admitted-pages join) each re-evaluate the tiny per-host
            # groupBy cheaper than a write+read round-trip costs
            schedule = valid.select("host", "seed_id", "page_k", "pagination_index").groupBy(
                "host"
            ).applyInPandas(
                simulate,
                schema="host string, seed_id int, page_k int, round int, admitted boolean",
            )
            sched_adm = schedule.filter("admitted").select("seed_id", "page_k", "round")
            if self.broadcast_frontier:
                # schedule rows ~ chain pages (+ waits): slim; broadcasting
                # keeps the fetch table unshuffled. Past broadcastable scale,
                # broadcast_frontier=False falls back to a shuffle join.
                sched_adm = F.broadcast(sched_adm)
            assigned = fetched.join(sched_adm, ["seed_id", "page_k"], "inner")
            schedule = schedule.withColumn("cache_hit", F.lit(False))

        pid = F.pmod(F.hash("host"), F.lit(N_LINEAGE_BUCKETS)).cast("int")
        per_round: dict[int, dict[tuple[str, int], int]] = {}
        for r in (
            schedule.groupBy(_decision_col().alias("d"), "round", pid.alias("pid"))
            .count()
            .collect()
        ):
            per_round.setdefault(r["round"], {})[(r["d"], r["pid"])] = r["count"]
        # no candidate pages at all: the loop still notes an empty round 0
        for rnd in sorted(per_round) or [0]:
            if self.index_cached:
                self._seen_count += _total(per_round.get(rnd, {}), "fetched")
            self._note_lineage("index", rnd, per_round.get(rnd, {}))
        if self.index_cached and any(_total(c, "fetched") for c in per_round.values()):
            seen = self._mark_seen(
                seen,
                assigned.filter(~F.col("cache_hit")).select(
                    F.col("fetch_url").alias("url"), "round"
                ),
                F.col("round"),
            )
        links = self._project_links(assigned.filter(~F.col("body_empty")), F.col("round"))
        if self.index_fn is None:
            # lazy: reads the materialized index_fetched parquet; the
            # frontier build materializes downstream
            return links, seen
        return self._materialize(links, "links"), seen

    def _project_links(self, pages: DataFrame, page_round_col) -> DataFrame:
        """Index pages → link rows (seed_id, page_round, pos, url): the
        user's ``index_fn`` override, else the default CSS-selector href
        projection (lib/upton.rb:281-288, NULL hrefs preserved), read from
        ``hrefs`` when the fetch pass already projected them."""
        if self.index_fn is not None:
            src = pages.select(
                "seed_id",
                page_round_col.cast("int").alias("page_round"),
                "seed_url",
                F.col("fetch_url").alias("url"),
                "html",
                "index_selector",
            )
            return self.index_fn(src).select("seed_id", "page_round", "pos", "url")
        if "hrefs" not in pages.columns:
            pages = pages.withColumn(
                "hrefs",
                extract_links_udf(F.col("html"), F.col("index_selector"), F.col("seed_url")),
            )
        return pages.select(
            "seed_id",
            page_round_col.cast("int").alias("page_round"),
            F.posexplode_outer("hrefs").alias("pos", "url"),
        ).filter(F.col("pos").isNotNull())

    def _index_candidate_urls_local(self) -> list[str]:
        """_index_page_candidates' URLs computed on the driver: their count
        gates the corpus prune, and a short list is its IN probe."""
        return [
            u
            for s in self._index_seeds()
            for u in urlkit.index_page_urls(
                s.seed_url,
                paginated=s.paginated,
                pagination_param=s.pagination_param,
                pagination_start_index=s.pagination_start_index,
                pagination_interval=s.pagination_interval,
                pagination_max_pages=s.pagination_max_pages,
            )
        ]

    def run_index_phase_sequential(self, seen: DataFrame) -> tuple[DataFrame, DataFrame]:
        """The index round loop. Returns (links, seen).

        One page per alive chain per round: each seed carries its chain's
        ``pages`` and the index ``page_k`` of its next page, and stops past
        its last page or on an empty body (lib/upton.rb:295-311). Every
        host admits at least one page per round, so the loop ends.

        Each round is TWO Spark jobs: candidates (admission),
        body join, and body-emptiness land in a single materialized round
        table; one tiny groupBy over that parquet then yields the lineage
        counts AND the alive-next-round count together. Links and the next
        round's chain state derive lazily from the round parquet.
        Politeness-bounded crawls are round-dominated, so per-round driver
        job count is the wall-clock at thousands of rounds."""
        state = self._index_seeds_df().withColumn("page_k", F.lit(0))
        alive = len(self._index_seeds())  # known driver-side — no state.count() job
        links_parts: list[DataFrame] = []
        round_no = 0
        state_cols = [f.name for f in schemas.SEEDS.fields] + ["pages", "page_k"]
        # one corpus prune for the whole phase (see _index_pruned_corpus)
        corpus = self._index_pruned_corpus()
        while alive > 0:
            cand = self._with_index_page(
                state.withColumn("fetch_url", F.get("pages", "page_k")).filter(
                    F.col("fetch_url").isNotNull()
                )
            )
            cand = self._tag_cache_hits(cand, seen)
            # politeness: live index fetches consume tokens (the reference
            # sleeps after every live request incl. index pages).
            cand = cand.withColumn(
                "host_tokens",
                F.when(F.col("cache_hit"), F.lit(polite_ops.UNLIMITED)).otherwise(
                    polite_ops.tokens_for_col(
                        F.col("sleep_time_between_requests"), self.round_budget_s
                    )
                ),
            )
            cand = polite_ops.admit_per_host(cand, order_cols=("pagination_index", "seed_id"))
            # fused round table: candidates + bodies in one write, admitted
            # and deferred rows alike read back from one parquet
            fused = self._materialize(
                self._index_bodies(cand, corpus, admitted="admitted"), "index_round"
            )
            counts, extra = self._collect_decision_counts(
                fused, _decision_col(),
                extra={"__advanced": F.col("admitted") & ~F.col("body_empty")},
            )
            n_live = _total(counts, "fetched")
            if self.index_cached and n_live:
                self._seen_count += n_live
                seen = self._mark_seen(
                    seen,
                    fused.filter(F.col("admitted") & ~F.col("cache_hit")).select(
                        F.col("fetch_url").alias("url")
                    ),
                    F.lit(round_no),
                )
            if counts or round_no == 0:  # trailing empty rounds add no lineage
                self._note_lineage("index", round_no, counts)

            fetched = fused.filter(F.col("admitted"))
            links_parts.append(
                self._project_links(fetched.filter(~F.col("body_empty")), F.lit(round_no))
            )

            # advance: admitted seeds move to their chain's next page and
            # survive only with a non-empty body; deferred seeds retry as-is.
            # Lazy over the round parquet — exactly one filter/union layer,
            # so the next round's plan stays one parquet read deep.
            advanced = (
                fetched.filter(~F.col("body_empty"))
                .withColumn("page_k", F.col("page_k") + 1)
                .select(*state_cols)
            )
            deferred_state = fused.filter(~F.col("admitted")).select(*state_cols)
            state = advanced.unionByName(deferred_state)
            alive = extra["__advanced"] + _total(counts, "deferred")
            round_no += 1

        if not links_parts:
            links_parts = [self.spark.createDataFrame([], schema=_LINKS_SCHEMA)]
        links = functools.reduce(DataFrame.unionByName, links_parts)
        return self._materialize(links, "links"), seen

    # one priority bucket past any plausible instance_index: unranked urls
    # order after every ranked one but keep their relative DOM order via the
    # (seed_id, instance_index) tie-breakers every admission window carries
    _UNRANKED_PRIORITY = 1 << 40

    def _with_redirects(self, df: DataFrame) -> DataFrame:
        """Rewrite frontier urls through the known ``redirect_map`` before
        dedup/admission. Min-per-src first (duplicate srcs in a user table
        must not fan out frontier rows, same rule as _with_priority);
        unresolved map rows (NULL final_url) drop out so cycles keep the
        original url and surface as a normal empty-body fetch."""
        if self.redirect_map is None:
            return df
        rm = (
            self.redirect_map.filter(F.col("final_url").isNotNull())
            .groupBy(F.col("src").alias("url"))
            .agg(F.min("final_url").alias("_final"))
        )
        return (
            df.join(rm, "url", "left")
            .withColumn("url", F.coalesce("_final", "url"))
            .drop("_final")
        )

    def _with_priority(self, df: DataFrame) -> DataFrame:
        """Frontier priority column: the reference's implicit DOM order
        (instance_index) unless a ``url_priorities`` table overrides it."""
        if self.url_priorities is None:
            return df.withColumn("priority", F.col("instance_index"))
        # min-per-url first: a user table with duplicate urls must not fan
        # out frontier rows through the join (the strongest — lowest —
        # priority wins, deterministically)
        pr = self.url_priorities.groupBy("url").agg(
            F.min(F.col("priority").cast("long")).alias("_prio")
        )
        return (
            df.join(pr, "url", "left")
            .withColumn(
                "priority", F.coalesce("_prio", F.lit(self._UNRANKED_PRIORITY))
            )
            .drop("_prio")
        )

    def _apply_blocklist(self, cand: DataFrame) -> DataFrame:
        """Blocklist admission check beside the robots gate: a host-list or
        url-pattern hit clears robots_allowed, so the row takes the same
        terminal 'blocked' path (and lineage count) a robots Disallow does.
        ``block_traps`` runs webgraph.url_trap_scores in the same slot —
        pathological urls (loop paths, calendar spaces, param explosions)
        go terminal 'blocked' before a fetch token is ever spent."""
        if (
            self.blocklist_hosts is None
            and not self.blocklist_url_patterns
            and not self.block_traps
        ):
            return cand
        out = cand
        if self.blocklist_hosts is not None or self.blocklist_url_patterns:
            from upton_spark.operators.webgraph import blocklist_gate

            out = blocklist_gate(
                out, self.blocklist_hosts, self.blocklist_url_patterns
            ).withColumn(
                "robots_allowed", F.col("robots_allowed") & ~F.col("blocked")
            ).drop("blocked", "block_reason")
        if self.block_traps:
            from upton_spark.operators.webgraph import url_trap_scores

            out = url_trap_scores(out).withColumn(
                "robots_allowed", F.col("robots_allowed") & ~F.col("is_trap")
            ).drop("depth", "dup_segments", "param_count", "has_calendar", "is_trap")
        return out

    def _cap_host_tokens(self, new_urls: DataFrame) -> DataFrame:
        """Apply allocate_budget output as the per-round token ceiling:
        host_tokens = least(sleep/Crawl-delay tokens, budget), clamped >= 1
        so a zero/negative budget still lets the host drain (matching
        tokens_for_col's min-1 progress guarantee) instead of deferring its
        rows forever."""
        if self.host_budgets is None:
            return new_urls
        b = self.host_budgets.select(
            "host", F.greatest(F.lit(1), F.col("budget").cast("long")).alias("_budget")
        )
        return (
            new_urls.join(F.broadcast(b), "host", "left")
            .withColumn(
                "host_tokens",
                F.least(
                    F.col("host_tokens"),
                    F.coalesce(F.col("_budget"), F.lit(polite_ops.UNLIMITED)),
                ),
            )
            .drop("_budget")
        )

    # -------------------------------------------------------- instance phase
    def build_frontier(self, links: DataFrame) -> DataFrame:
        """Links + explicit url_list seeds → frontier with instance_index in
        index-DOM order (posexplode position within page, pages in chain
        order — lib/upton.rb:266-268,337-345)."""
        w = Window.partitionBy("seed_id").orderBy("page_round", "pos")
        from_index = links.withColumn(
            "instance_index", (F.row_number().over(w) - 1).cast("long")
        ).select("seed_id", "instance_index", "url")
        explicit_rows = [
            (s.seed_id, idx, url)
            for s in self.seeds
            if s.url_list is not None
            for idx, url in enumerate(s.url_list)
        ]
        explicit = self.spark.createDataFrame(
            explicit_rows, schema="seed_id int, instance_index long, url string"
        )
        frontier = self._as_frontier(
            self._with_priority(
                self._with_redirects(from_index.unionByName(explicit)).withColumn(
                    "pagination_index", F.lit(0)
                )
            )
        )
        # salted host partitioning (SURVEY.md §4.1): bound any partition's
        # share of a Zipf-hot host before the frontier hits storage.
        # Partition count scales with the frontier's size (links row count is
        # a parquet-footer read — the links table is already materialized):
        # a politeness-bounded 10^2-row frontier writes 1 file instead of
        # defaultParallelism near-empty ones (shuffle+write overhead was the
        # bulk of build_frontier's fixed cost on small crawls); a bulk crawl
        # still spreads across every core.
        n_rows = links.count() + len(explicit_rows)
        self._frontier_rows = n_rows
        n_parts = max(1, min(self.spark.sparkContext.defaultParallelism, -(-n_rows // 4096)))
        salted = part_ops.salted_repartition(
            frontier,
            n_parts,
            rows_per_bucket=FRONTIER_ROWS_PER_BUCKET,
        )
        # a catalog crawl's first commit writes it instead (crawl())
        return salted if self.catalog is not None else self._materialize(salted, "frontier")

    @staticmethod
    def _as_frontier(df: DataFrame) -> DataFrame:
        """schemas.FRONTIER rows, not yet attempted, from (seed_id,
        instance_index, pagination_index, priority, url): 'queued', or
        'empty_url' for a NULL or empty url."""
        url = F.coalesce(F.col("url"), F.lit(""))
        status = F.when(url == "", "empty_url").otherwise("queued")
        return df.select(
            url.alias("url"), F.xxhash64(url).alias("url_hash"),
            host_col(F.col("url")).alias("host"), "seed_id", "instance_index",
            "pagination_index", F.lit(1).alias("depth"), "priority",
            F.lit(0).alias("attempts"), status.alias("status"),
        )

    def run_fetch_rounds(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        *,
        max_rounds: int = 64,
        stop_after_round: int | None = None,
        start_round: int = 0,
    ) -> tuple[DataFrame, DataFrame]:
        """Politeness-bounded fetch of the queued frontier rows: the closed
        form when _oneshot_eligible, else the round loop.

        Each loop round: admission setup (robots gate, seen-set anti-join
        with free cache hits, tokens) → per-host token admission →
        mark fetched, merge seen → instance pagination queues the next
        pages (_next_pages) → snapshot commit with per-host-bucket
        lineage. Deferred rows and new pages enter the next round. Returns
        (frontier, seen) with statuses resolved."""
        if self._oneshot_eligible(stop_after_round):
            return self._run_fetch_rounds_oneshot(
                frontier, seen, max_rounds=max_rounds, start_round=start_round
            )
        round_no = start_round
        seen_layers = 0  # lazy union layers on `seen` since its last write
        while round_no < start_round + max_rounds:
            # emptiness needs a driver check only on entry: later iterations
            # only continue when the previous round left deferred/retry rows
            # or queued new pages
            if round_no == start_round and frontier.filter(F.col("status") == "queued").isEmpty():
                break
            new_urls, cache_hits, blocked = self._admission_setup(frontier, seen)
            new_urls = polite_ops.admit_per_host(new_urls)

            # bounded retry: an admitted row whose url is still inside its
            # injected failure budget "times out" — it consumed a politeness
            # token but produced no body; it re-queues with attempts+1 until
            # max_fetch_attempts, then goes terminal 'failed' (empty body,
            # NOT marked seen — a later crawl retries it fresh).
            if self.fetch_failures is not None:
                new_urls = new_urls.join(
                    F.broadcast(self.fetch_failures.select("url", "fail_times")), "url", "left"
                )
            else:
                new_urls = new_urls.withColumn("fail_times", F.lit(None).cast("int"))
            attempt_fails = (
                F.col("admitted")
                & F.col("fail_times").isNotNull()
                & (F.col("attempts") < F.col("fail_times"))
            )
            terminal = attempt_fails & (
                F.col("attempts") + 1 >= F.lit(self.max_fetch_attempts)
            )
            decision = (
                F.when(~F.col("admitted"), "deferred")
                .when(terminal, "failed")
                .when(attempt_fails, "retry")
                .otherwise("fetched")
            )
            decisions = self._materialize(
                self._decision_rows(
                    new_urls, decision, F.lit(round_no), cache_hits, blocked, round_no
                ),
                "decisions",
            )
            counts, _ = self._collect_decision_counts(decisions, F.col("decision"))
            n_admitted = _total(counts, "fetched")
            n_next = 0
            if self.next_instance_page_url_fn and n_admitted + _total(counts, "cache_hit"):
                next_pages = self._materialize(self._next_pages(frontier, decisions), "next_pages")
                n_next = next_pages.count()

            ending = (
                _total(counts, "deferred") == 0 and _total(counts, "retry") == 0 and not n_next
            )
            if self.instance_cached and n_admitted:
                self._seen_count += n_admitted
                seen = self._mark_seen(
                    seen,
                    decisions.filter(F.col("decision") == "fetched"),
                    F.col("round"),
                    materialize=False,
                )
                seen_layers += 1
            self._note_lineage("instance", round_no, counts)

            status_map = self._status_map(decisions.filter(F.col("decision") != "deferred"))
            frontier = self._merge_status(frontier, status_map)
            if n_next:
                frontier = frontier.unionByName(next_pages)
                self._frontier_rows += n_next

            # delta-based rounds: the whole frontier is rewritten only on
            # compaction (see COMPACT_EVERY) or when the loop ends; in
            # between, state stays a bounded stack of lazy
            # broadcast-join/union layers over the last compacted table
            # and the catalog appends the round's status map
            # (politeness-bounded size — never O(frontier)). A round that
            # queued new pages rewrites and commits the whole frontier: a
            # status row cannot carry rows, so a kill redoes the round or
            # finds them committed. A compaction's write is the catalog
            # commit when there is a catalog, else a scratch pin.
            compact = ending or n_next or (round_no + 1) % COMPACT_EVERY == 0
            reseen = compact and seen_layers and not ending
            if self.catalog is None:
                frontier = self._materialize(frontier, "frontier_round") if compact else frontier
                seen = self._materialize(seen, "urls_seen") if reseen else seen
            else:
                status = Append(status_map.withColumn("round", F.lit(round_no)))
                full = {"frontier": frontier, "frontier_status": None}
                snap = self._commit(round_no, full if compact else {"frontier_status": status}, {
                    "phase": "instance",
                    "round": round_no,
                    "fetched": n_admitted,
                    "deferred_by_politeness": _total(counts, "deferred"),
                    "cache_hits": _total(counts, "cache_hit"),
                    "blocked_by_robots": _total(counts, "blocked"),
                    "retried": _total(counts, "retry"),
                    "failed": _total(counts, "failed"),
                    "urls_seen": self._seen_count,
                })
                frontier = self._catalog_frontier(snap) if compact else frontier
                seen = self._catalog_seen(snap) if reseen else seen
            seen_layers = 0 if reseen else seen_layers
            round_no += 1
            if stop_after_round is not None and round_no > stop_after_round:
                raise KilledCrawl(round_no)
            if ending:
                break
        return frontier, seen

    def _admission_setup(
        self, frontier: DataFrame, seen: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(new, cache_hits, blocked) rows of the queued frontier — the
        admission inputs the loop and the closed form share: one decision
        per distinct url (lowest priority wins), the robots/blocklist gate,
        the stash semi-join and the exact seen anti-join, then
        ``host_tokens`` on the new rows from the seed sleep, the Crawl-delay
        dimension and the host budget cap."""
        w = Window.partitionBy("url_hash").orderBy("priority", "seed_id", "instance_index")
        cand = (
            frontier.filter(F.col("status") == "queued")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        cand = self._apply_blocklist(self._get_robots_gate()(cand))
        blocked = cand.filter(~F.col("robots_allowed"))
        allowed = cand.filter(F.col("robots_allowed"))
        if self.instance_cached and self._seen_count > 0:
            seen_keys = seen.select("url_hash").distinct()
            cache_hits = allowed.join(seen_keys, "url_hash", "left_semi")
            new_urls = allowed.join(seen_keys, "url_hash", "left_anti")
        else:
            # empty seen set (fresh crawl, round 0): both joins are
            # identities — skip the jobs entirely
            cache_hits = allowed.limit(0)
            new_urls = allowed
        new_urls = new_urls.join(
            F.broadcast(self.seeds_df.select("seed_id", "sleep_time_between_requests")),
            "seed_id",
            "left",
        )
        delays = self._get_crawl_delays()
        if delays is not None:
            new_urls = (
                new_urls.join(F.broadcast(delays), "host", "left")
                .withColumn(
                    "sleep_time_between_requests",
                    F.greatest(
                        F.col("sleep_time_between_requests"),
                        F.coalesce("crawl_delay", F.lit(0.0)),
                    ),
                )
                .drop("crawl_delay")
            )
        new_urls = new_urls.withColumn(
            "host_tokens",
            polite_ops.tokens_for_col(F.col("sleep_time_between_requests"), self.round_budget_s),
        )
        return self._cap_host_tokens(new_urls), cache_hits, blocked

    @staticmethod
    def _decision_rows(
        new_urls: DataFrame, decision, round_col, cache_hits: DataFrame,
        blocked: DataFrame, first_round: int,
    ) -> DataFrame:
        """(url_hash, url, host, decision, round) per decided url: the new
        rows' ``decision`` in ``round_col``, stash hits and blocked rows in
        ``first_round``."""
        cols = ("url_hash", "url", "host")
        return (
            new_urls.select(
                *cols, decision.alias("decision"), round_col.cast("int").alias("round")
            )
            .unionByName(
                cache_hits.select(
                    *cols, F.lit("cache_hit").alias("decision"), F.lit(first_round).alias("round")
                )
            )
            .unionByName(
                blocked.select(
                    *cols, F.lit("blocked").alias("decision"), F.lit(first_round).alias("round")
                )
            )
        )

    def _status_map(self, decided: DataFrame) -> DataFrame:
        """(url_hash, new_status) for _merge_status; without instance_cached
        a stash hit counts as an ordinary fetch."""
        status = F.col("decision")
        if not self.instance_cached:
            status = F.when(status == "cache_hit", "fetched").otherwise(status)
        return decided.select("url_hash", status.alias("new_status"))

    def _oneshot_eligible(self, stop_after_round: int | None) -> bool:
        """The politeness round schedule is PREDICTABLE — a queued url with
        per-host admission rank r is fetched in round (r-1) div host_tokens
        (politeness.schedule_per_host) — whenever nothing perturbs it
        between rounds. One distributed pass can then compute every round's
        decisions, statuses, per-round lineage, and the seen-set,
        bit-identical to the loop but with O(1) driver jobs instead of
        O(rounds): the wall-clock unlock for politeness-bounded crawls
        (round-dominated by construction). Requirements:

        * no injected fetch failures (retries re-enter admission and shift
          later rows' rounds),
        * no catalog (the per-round delta-commit contract wants a commit
          boundary per round; resumability keeps the loop),
        * no kill-simulation (stop_after_round targets the loop),
        * no live transport (it must fetch round-by-round under the real
          politeness pacing, not every round's fetches in one instant),
        * no next_instance_page_url hook (page k+1 enters the frontier only
          once page k's body is known, so no pass over the frontier at
          entry can schedule it),
        * a uniform seed sleep budget: with one sleep across seeds, every
          row on a host shares host_tokens (robots Crawl-delay maxes in
          per-host, so it stays uniform), making the closed form exact.
          Heterogeneous budgets make admission rank interleaving
          state-dependent -> loop.
        Equivalence is pinned by test_oneshot_matches_loop_*."""
        loop_only = (
            self.fetch_failures, self.catalog, stop_after_round, self.fetch_fn,
            self.next_instance_page_url_fn,
        )
        sleeps = {s.sleep_time_between_requests for s in self.seeds}
        return all(v is None for v in loop_only) and len(sleeps) <= 1

    def _run_fetch_rounds_oneshot(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        *,
        max_rounds: int,
        start_round: int,
    ) -> tuple[DataFrame, DataFrame]:
        """Closed-form fetch phase (see _oneshot_eligible): one decisions
        write + one tiny counts collect, then driver-side lineage replay."""
        new_urls, cache_hits, blocked = self._admission_setup(frontier, seen)
        new_urls = polite_ops.schedule_per_host(new_urls)
        decisions = self._decision_rows(
            new_urls, F.lit("fetched"), F.lit(start_round) + F.col("round"),
            cache_hits, blocked, start_round,
        )
        # pinned in scratch parquet: the counts collect and every later
        # consumer (status_map, seen, the returned frontier) read the written
        # rows, and the pin lives exactly as long as the results — until
        # close() removes the scratch dir
        decisions = self._materialize(decisions, "decisions")
        pid = F.pmod(F.hash("host"), F.lit(N_LINEAGE_BUCKETS)).cast("int")
        rows = decisions.groupBy("decision", "round", pid.alias("pid")).count().collect()
        if not rows:
            return frontier, seen  # nothing queued: loop parity = no lineage

        # rows past the round cap stay queued (the loop would stop at
        # max_rounds with them still deferred)
        cap = start_round + max_rounds
        fetched_by_round: dict[int, dict[int, int]] = {}
        overflow: dict[int, int] = {}
        first_round_counts: dict[tuple[str, int], int] = {}
        for r in rows:
            if r["decision"] == "fetched":
                if r["round"] >= cap:
                    overflow[r["pid"]] = overflow.get(r["pid"], 0) + r["count"]
                else:
                    by_pid = fetched_by_round.setdefault(r["round"], {})
                    by_pid[r["pid"]] = by_pid.get(r["pid"], 0) + r["count"]
            else:
                key = (r["decision"], r["pid"])
                first_round_counts[key] = first_round_counts.get(key, 0) + r["count"]

        if overflow:
            n_rounds = max_rounds
        else:
            rel_max = max((r - start_round for r in fetched_by_round), default=-1)
            n_rounds = max(rel_max + 1, 1 if (first_round_counts or fetched_by_round) else 0)
        n_fetched_total = sum(sum(p.values()) for p in fetched_by_round.values())

        for rel in range(n_rounds):
            r = start_round + rel
            per_pid: dict[tuple[str, int], int] = {}
            for p, v in fetched_by_round.get(r, {}).items():
                per_pid[("fetched", p)] = v
            if rel == 0:
                for (d, p), v in first_round_counts.items():
                    per_pid[(d, p)] = v
            # deferred at round r = rows admitted in a later round + overflow
            for r2, by_pid in fetched_by_round.items():
                if r2 > r:
                    for p, v in by_pid.items():
                        per_pid[("deferred", p)] = per_pid.get(("deferred", p), 0) + v
            for p, v in overflow.items():
                per_pid[("deferred", p)] = per_pid.get(("deferred", p), 0) + v
            if self.instance_cached:
                self._seen_count += sum(fetched_by_round.get(r, {}).values())
            self._note_lineage("instance", r, per_pid)

        in_cap = (F.col("decision") != "fetched") | (F.col("round") < cap)
        merged = self._merge_status(frontier, self._status_map(decisions.filter(in_cap)))
        n_decided = sum(r["count"] for r in rows)
        if n_decided > 20_000:
            # a lazy bulk frontier would re-run the status merge (a dedup
            # aggregation over every decision) in each consumer: the
            # extraction's body join and each action on CrawlResult.frontier
            frontier = self._materialize(merged, "frontier_round")
        else:
            # politeness-bounded crawl with nothing re-entering the loop:
            # the merge is one broadcast join over already-pinned inputs —
            # leaving it lazy saves a write+read job on every such crawl
            frontier = merged

        if self.instance_cached and n_fetched_total:
            # self._seen_count already advanced round by round above
            seen = self._mark_seen(
                seen,
                decisions.filter(in_cap & (F.col("decision") == "fetched")),
                F.col("round"),
                materialize=False,
            )
        return frontier, seen

    def _merge_status(self, frontier: DataFrame, status_map: DataFrame) -> DataFrame:
        """Apply status rows (url_hash, new_status) to the frontier's
        queued rows: each 'retry' or 'failed' row adds one attempt, and the
        url takes its non-retry status, if it has one. After a full
        frontier a url gets zero or more 'retry' rows and then at most one
        other status (a url re-enters only through _next_pages, which
        forces a full commit), so one merge applies one round's map in the
        loop and every round's committed rows on resume alike."""
        new = F.col("new_status")
        sm = status_map.groupBy("url_hash").agg(
            F.count(F.when(new.isin("retry", "failed"), 1)).alias("_tries"),
            F.max(F.when(new != "retry", new)).alias("_new_status"),
        )
        if self.broadcast_frontier:
            # at most one row per decided url — under the same contract
            # that makes the frontier broadcastable, broadcast it so the
            # frontier is never shuffled for the status merge
            sm = F.broadcast(sm)
        queued = F.col("status") == "queued"
        return (
            frontier.join(sm, "url_hash", "left")
            .withColumn(
                "attempts",
                F.when(queued & (F.col("_tries") > 0), F.col("attempts") + F.col("_tries"))
                .otherwise(F.col("attempts")),
            )
            .withColumn(
                "status",
                F.when(queued & F.col("_new_status").isNotNull(), F.col("_new_status"))
                .otherwise(F.col("status")),
            )
            .drop("_tries", "_new_status")
        )

    def _catalog_frontier(self, snap) -> DataFrame:
        """The frontier at a snapshot: the last full 'frontier' table with
        the 'frontier_status' rows appended since applied (a full commit
        removes them)."""
        # projected: frontier tables committed before url_hash32 left the
        # frontier still carry it
        frontier = self.catalog.table(snap, "frontier").select(
            *schemas.FRONTIER.fieldNames()
        )
        if "frontier_status" not in snap.tables:
            return frontier
        status = self.catalog.table(snap, "frontier_status")
        return self._materialize(self._merge_status(frontier, status), "frontier_resume")

    def _catalog_seen(self, snap) -> DataFrame:
        """The committed seen-set at ``snap`` (empty without one); sets
        ``_seen_count`` from the manifest."""
        if snap is None or "urls_seen" not in snap.tables:
            self._seen_count = 0
            return self._empty_seen()
        self._seen_count = self.catalog.rows(snap, "urls_seen")
        return self.catalog.table(snap, "urls_seen")

    def _next_pages(self, frontier: DataFrame, decisions: DataFrame) -> DataFrame:
        """Instance pagination as frontier growth (the next_instance_page_url
        hook, lib/upton.rb:321-334): queued rows for page k+1 of every
        instance whose page k this round's ``decisions`` decided fetched or
        cache_hit with a non-empty body. A chain stops on an empty or unchanged
        url, an empty body, or past ``max_instance_pages``. The hook
        receives the ORIGINAL instance url each time, like the reference
        (lib/upton.rb:326), and page k+1 keeps its instance's priority, so
        admission ranks it ahead of later instances as Upton fetches it."""
        fn = self.next_instance_page_url_fn

        @F.pandas_udf(T.StringType())
        def next_page(url: pd.Series, k: pd.Series) -> pd.Series:
            return pd.Series([fn(u, int(i)) if u else "" for u, i in zip(url, k)])

        decided = decisions.filter(F.col("decision").isin("fetched", "cache_hit")).select(
            "url_hash", F.col("decision").alias("status")
        )
        base = (
            frontier.filter(
                (F.col("status") == "queued")
                & (F.col("pagination_index") < self.max_instance_pages)
            )
            .drop("status")
            .join(decided, "url_hash")
        )
        base = self.attach_bodies(base).filter(F.col("html").isNotNull() & (F.length("html") > 0))
        orig = frontier.filter(F.col("pagination_index") == 0).select(
            "seed_id", "instance_index", F.col("url").alias("orig_url")
        )
        k = F.col("pagination_index") + 1
        nxt = base.join(orig, ["seed_id", "instance_index"]).select(
            "seed_id", "instance_index", "priority", "url", k.alias("pagination_index"),
            next_page(F.col("orig_url"), k).alias("next_url"),
        )
        return self._as_frontier(
            nxt.filter((F.col("next_url") != "") & (F.col("next_url") != F.col("url")))
            .drop("url").withColumnRenamed("next_url", "url")
        )

    # ------------------------------------------------------ extraction phase
    def attach_bodies(
        self, frontier: DataFrame, corpus: DataFrame | None = None
    ) -> DataFrame:
        """Frontier rows + page bodies. Missing/blocked/empty-url rows get a
        NULL body → decoded '' — the reference's EMPTY_STRING fetch-failure
        encoding (lib/upton.rb:35, lib/upton/downloader.rb:67).

        ``corpus``: the pruned corpus to join instead of the whole one
        (_pruned_corpus) — a politeness-bounded crawl extracts a tiny
        fraction of the corpus, and without pruning the extraction join
        decompresses every page's html anyway.

        Live mode (fetch_fn set): status='fetched' rows — exactly the rows
        the admission loop charged a politeness token — acquire bodies
        through the transport (_live_bodies); cache_hit rows still read the
        stash, and blocked/failed rows never touch the transport."""
        if self.fetch_fn is not None:
            live = frontier.filter(F.col("status") == "fetched")
            rest = frontier.filter(F.col("status") != "fetched")
            joined = live.join(self._live_bodies(live), "url").unionByName(
                self._join_bodies(rest, "url", corpus)
            )
        else:
            joined = self._join_bodies(frontier, "url", corpus)
        return joined.withColumn(
            "html",
            F.when(F.col("status").isin("fetched", "cache_hit"), F.col("html")).otherwise(
                F.lit(None).cast("binary")
            ),
        )

    def _live_bodies(self, live: DataFrame) -> DataFrame:
        """(url, html) of every url in ``live``, each fetched through the
        transport ONCE per crawl. The transport stage is MATERIALIZED
        (parquet pin) before anything downstream sees it: extraction plans
        are replayed by every action over them (scrape's guard probe +
        collect, one scan per extract kind, catalog commits), and a lazy
        transport would re-fetch every URL on each replay — breaking the
        one-token-one-fetch contract the admission loop paid for. Urls an
        earlier call pinned (instance pagination's body probe, _next_pages)
        are read back, not fetched again. The pins double as the stash
        write shape a real deployment would persist."""
        urls = live.select("url").distinct()
        if self._live_pins is not None:
            urls = urls.join(self._live_pins.select("url"), "url", "left_anti")
        fresh = self._materialize(self._transport_bodies(urls), "live_bodies")
        self._live_pins = fresh if self._live_pins is None else self._live_pins.unionByName(fresh)
        return self._live_pins

    def extract(self, frontier_with_body: DataFrame) -> DataFrame:
        """Apply the per-seed extraction block; one branch per kind, unioned
        (a CASE over Python UDFs would evaluate every UDF on every row —
        BatchEvalPython hoists them — so we split instead).

        Branches are built only for kinds actually present in the seed list:
        every branch's plan re-scans the body join (html decompressed per
        branch), so an always-4-way union would cost 4 full corpus scans
        even when every seed is kind='text'."""
        df = frontier_with_body.join(
            F.broadcast(self.seeds_df.select("seed_id", "extract_selector", "extract_kind")),
            "seed_id",
            "left",
        )
        keys = ["url", "seed_id", "instance_index", "pagination_index"]
        null_row = F.lit(None).cast(T.ArrayType(T.StringType()))
        kinds_present = {s.extract_kind for s in self.seeds} or {"text"}
        parts: list[DataFrame] = []

        if "text" in kinds_present:
            parts.append(
                df.filter(F.col("extract_kind") == "text").select(
                    *keys,
                    F.lit(0).alias("match_index"),
                    extract_text_udf(F.col("html"), F.col("extract_selector")).alias("text"),
                    null_row.alias("row"),
                )
            )
        if "identity" in kinds_present:
            parts.append(
                df.filter(F.col("extract_kind") == "identity").select(
                    *keys,
                    F.lit(0).alias("match_index"),
                    decode_html_udf(F.col("html")).alias("text"),
                    null_row.alias("row"),
                )
            )
        if "content" in kinds_present:
            # selector-free boilerplate removal (operators.boilerplate) —
            # the training-data crawl path: no per-site CSS, the
            # text/link-density classifier finds the prose itself
            parts.append(
                df.filter(F.col("extract_kind") == "content").select(
                    *keys,
                    F.lit(0).alias("match_index"),
                    main_content_udf(F.col("html")).alias("text"),
                    null_row.alias("row"),
                )
            )
        if "list" in kinds_present:
            parts.append(
                df.filter(F.col("extract_kind") == "list")
                .withColumn("items", extract_list_udf(F.col("html"), F.col("extract_selector")))
                .select(*keys, F.posexplode_outer("items").alias("match_index", "text"))
                .withColumn("row", null_row)
            )
        if "table" in kinds_present:
            parts.append(
                df.filter(F.col("extract_kind") == "table")
                .withColumn("rows", extract_table_udf(F.col("html"), F.col("extract_selector")))
                .select(*keys, F.posexplode_outer("rows").alias("match_index", "row"))
                .withColumn("text", F.lit(None).cast("string"))
                .select(*keys, "match_index", "text", "row")
            )

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # --------------------------------------------------------------- surface
    def crawl(
        self, *, max_fetch_rounds: int = 64, stop_after_round: int | None = None
    ) -> CrawlResult:
        self._lineage_rows, self._lineage_committed = [], None
        self._live_pins, self._seen_new, self._frontier_rows = None, [], 0
        seen = self._catalog_seen(self.catalog.latest() if self.catalog is not None else None)
        # small-crawl job diet (see _job_diet): a bounded seed list keeps the
        # index-candidate universe bounded too (<= seeds x pagination_max_
        # pages), so the diet can start before any counting; the fetch phase
        # re-checks against the actual built-frontier size, so a small seed
        # list that fans out wide gets AQE back for the bulk work
        with self._job_diet():
            links, seen = self.run_index_phase(seen)
            frontier = self.build_frontier(links)
            if self.catalog is not None:
                # the crawl's first snapshot: from here on a killed crawl
                # resumes, and this crawl continues from what it committed
                tables = {"frontier": frontier, "frontier_status": None, "links": links}
                metrics = {"phase": "frontier", "urls_seen": self._seen_count}
                snap = self._commit(-1, tables, metrics)
                frontier, seen = self._catalog_frontier(snap), self._catalog_seen(snap)
        with self._job_diet():
            frontier, seen = self.run_fetch_rounds(
                frontier, seen, max_rounds=max_fetch_rounds, stop_after_round=stop_after_round
            )
        return self._finish(frontier, seen, links)

    def _commit(self, round_no: int, tables: dict, metrics: dict):
        """Commit ``tables`` plus what changed since the last commit: the
        seen-set's new rows and the lineage rows noted since, both appended.
        A crawl's first commit replaces the lineage instead: a new crawl
        starts a new one."""
        if self._seen_new:
            tables["urls_seen"] = Append(functools.reduce(DataFrame.unionByName, self._seen_new))
            self._seen_new = []
        done = self._lineage_committed
        if done is None or done < len(self._lineage_rows):
            rows = self.spark.createDataFrame(self._lineage_rows[done or 0:], schema=schemas.LINEAGE)
            tables["lineage"] = rows if done is None else Append(rows)
            self._lineage_committed = len(self._lineage_rows)
        return self.catalog.commit(round_no, tables, metrics=metrics)

    def _finish(self, frontier: DataFrame, seen: DataFrame, links: DataFrame) -> CrawlResult:
        """The end of crawl() and resume(): extraction, then the final
        catalog commit, which adds ``extracted`` to the frontier the last
        round committed. A catalog crawl returns the committed extraction
        (the extraction runs once) and lineage, so a resumed one holds the
        rounds before the kill too."""
        # project the frontier down to what extraction consumes before it
        # rides the broadcast body join — the driver-side hash relation
        # shrinks ~2x vs broadcasting all frontier columns
        slim = frontier.select("url", "seed_id", "instance_index", "pagination_index", "status")
        corpus = self._pruned_corpus(slim, self._frontier_rows)
        extracted = self.extract(self.attach_bodies(slim, corpus))
        if self.catalog is None:
            return CrawlResult(extracted, frontier, seen, self.lineage_df(), links)
        snap = self._commit(
            -1, {"extracted": extracted}, {"phase": "final", "urls_seen": self._seen_count}
        )
        table = functools.partial(self.catalog.table, snap)
        return CrawlResult(table("extracted"), frontier, seen, table("lineage"), links)

    def evict(self, urls: list[str]) -> None:
        """Re-crawl eviction: forget URLs so the next crawl refetches them.

        The seen-set is exact, so deletion is exact too: an anti-join drops
        the rows and the snapshot replaces the seen-set with the survivors
        (the one commit that rewrites it); the next crawl reads them."""
        if self.catalog is None:
            raise ValueError("evict requires a catalog")
        snap = self.catalog.latest()
        if snap is None or "urls_seen" not in snap.tables:
            raise ValueError("nothing to evict from")
        gone = self.spark.createDataFrame([(u,) for u in urls], "url string").select(
            F.xxhash64("url").alias("url_hash")
        )
        remaining = self._catalog_seen(snap).join(gone, "url_hash", "left_anti")
        self.catalog.commit(
            snap.round,
            {"urls_seen": remaining},
            metrics={"phase": "evict", "evicted": len(urls)},
        )

    def resume(self, *, max_fetch_rounds: int = 64) -> CrawlResult:
        """Continue from the last committed snapshot (a crawl's first one
        holds its built frontier): reload frontier/seen, re-run remaining
        fetch rounds, finish extraction. Identical ordering, seen-set and
        lineage vs an uninterrupted run (north_star resume contract). Row
        counts come from the manifest: no Spark job runs before the first
        round."""
        if self.catalog is None:
            raise ValueError("resume requires a catalog")
        snap = self.catalog.latest()
        if snap is None or "frontier" not in snap.tables:
            at = f"snapshot {snap.snapshot_id}" if snap else "the catalog"
            raise ValueError(f"nothing to resume: {at} has no frontier")
        # the new rounds' lineage appends to the committed one
        self._lineage_rows = []
        self._lineage_committed = 0 if "lineage" in snap.tables else None
        self._live_pins, self._seen_new = None, []
        frontier = self._catalog_frontier(snap)
        seen = self._catalog_seen(snap)
        links = self.catalog.table(snap, "links")
        self._frontier_rows = self.catalog.rows(snap, "frontier")
        start_round = snap.round + 1 if snap.round >= 0 else 0
        with self._job_diet():
            frontier, seen = self.run_fetch_rounds(
                frontier, seen, max_rounds=max_fetch_rounds, start_round=start_round
            )
        return self._finish(frontier, seen, links)

    def lineage_df(self) -> DataFrame:
        return self.spark.createDataFrame(self._lineage_rows, schema=schemas.LINEAGE)

    # ----------------------------------------------------- Upton-shaped APIs
    # scrape() mirrors the reference's list-returning API and therefore
    # COLLECTS to the driver — fine at reference scale, catastrophic on a
    # bulk crawl. The guard raises instead of silently OOM-ing the driver.
    SCRAPE_MAX_ROWS = 100_000

    def scrape(self) -> list:
        """Reference-shaped output: flat list over (instance, pagination
        page) in crawl order; text kind yields strings, list kind lists,
        table kind the [headers, *rows] nesting (lib/upton.rb:337-345).

        Driver-side by design (the reference returns a Ruby array,
        lib/upton.rb:47-51) and guarded by SCRAPE_MAX_ROWS: past the bound
        it raises, pointing at the distributed sinks (scrape_to_csv, or
        CrawlResult.extracted for DataFrame composition)."""
        result = self.crawl()
        # guard and collect in ONE action: limit(bound+1) caps what can ever
        # reach the driver, and an overflowing result shows up as bound+1
        # collected rows. A separate count() probe would evaluate the
        # UDF-heavy extraction plan twice per scrape.
        rows = (
            result.extracted.limit(self.SCRAPE_MAX_ROWS + 1)
            .orderBy("seed_id", "instance_index", "pagination_index", "match_index")
            .collect()
        )
        if len(rows) > self.SCRAPE_MAX_ROWS:
            raise ValueError(
                f"scrape() collects extracted rows to the driver and this crawl "
                f"produced more than SCRAPE_MAX_ROWS={self.SCRAPE_MAX_ROWS}; use "
                "scrape_to_csv(path, single_file=False) for a distributed sink, "
                "or work with CrawlResult.extracted directly"
            )
        kinds = {s.seed_id: s.extract_kind for s in self.seeds}
        docs: dict[tuple, object] = {}
        for r in rows:
            key = (r["seed_id"], r["instance_index"], r["pagination_index"])
            kind = kinds.get(r["seed_id"], "text")
            if kind in ("text", "identity", "content"):
                docs[key] = r["text"]
            else:
                doc = docs.setdefault(key, [])
                if kind == "list" and r["text"] is not None:
                    doc.append(r["text"])
                elif kind == "table" and r["row"] is not None:
                    doc.append(list(r["row"]))
        return [docs[k] for k in sorted(docs.keys())]

    def scrape_to_csv(self, path: str, sep: str = ",", single_file: bool = True) -> None:
        """CSV/TSV sink with the reference's duck-typed explode: table-kind
        documents write one line per row; list documents one line; text
        documents one line (lib/upton.rb:169-199). Output is a text dir
        (Spark-native sink); `sep`='\\t' gives TSV.

        ``single_file=True`` (the Upton-shaped convenience default) funnels
        the globally-ordered output through one task — fine for
        reference-sized jobs, wrong at scale. ``single_file=False`` keeps
        the write partitioned: the global order key is carried as a sortable
        line prefix instead (total order = lexicographic over files+lines),
        so a 10^10-row extract still writes with full parallelism."""
        result = self.crawl()
        ex = result.extracted
        kinds = {s.seed_id: s.extract_kind for s in self.seeds}
        table_seeds = [sid for sid, k in kinds.items() if k == "table"]
        list_seeds = [sid for sid, k in kinds.items() if k == "list"]
        text_seeds = [sid for sid, k in kinds.items() if k in ("text", "identity", "content")]
        parts = []
        if table_seeds:
            parts.append(
                ex.filter(F.col("seed_id").isin(table_seeds) & F.col("row").isNotNull()).select(
                    "seed_id",
                    "instance_index",
                    "pagination_index",
                    "match_index",
                    F.array_join(
                        F.transform("row", lambda c: _csv_quote(c, sep)), sep
                    ).alias("line"),
                )
            )
        if list_seeds:
            parts.append(
                ex.filter(F.col("seed_id").isin(list_seeds) & F.col("text").isNotNull())
                .groupBy("seed_id", "instance_index", "pagination_index")
                .agg(
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("match_index", "text"))),
                            lambda s: _csv_quote(s["text"], sep),
                        ),
                        sep,
                    ).alias("line")
                )
                .withColumn("match_index", F.lit(0))
                .select("seed_id", "instance_index", "pagination_index", "match_index", "line")
            )
        if text_seeds:
            parts.append(
                ex.filter(F.col("seed_id").isin(text_seeds)).select(
                    "seed_id",
                    "instance_index",
                    "pagination_index",
                    "match_index",
                    _csv_quote(F.col("text"), sep).alias("line"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if single_file:
            (
                out.orderBy("seed_id", "instance_index", "pagination_index", "match_index")
                .select("line")
                .coalesce(1)
                .write.mode("overwrite")
                .text(path)
            )
            return
        key = F.format_string(
            "%010d/%012d/%06d/%06d",
            F.col("seed_id"),
            F.col("instance_index"),
            F.col("pagination_index"),
            F.col("match_index"),
        )
        (
            out.select(F.concat(key, F.lit("\t"), F.col("line")).alias("line"))
            .repartitionByRange(
                self.spark.sparkContext.defaultParallelism, F.col("line")
            )
            .sortWithinPartitions("line")
            .write.mode("overwrite")
            .text(path)
        )

    def scrape_to_tsv(self, path: str) -> None:
        self.scrape_to_csv(path, sep="\t")


def _demo() -> None:  # pragma: no cover - manual verification entry
    """Run the flagship golden crawl (reference spec/upton_spec.rb:43-67)
    over the fixture corpus and print the extracted headlines."""
    from upton_spark.plans.session import get_spark
    from upton_spark.sources.fixtures import BASE, FIXTURE_DIR, FIXTURE_LABEL, fixture_pages

    print(f"fixtures: {FIXTURE_LABEL} ({FIXTURE_DIR})")

    spark = get_spark("upton_spark_demo", cores=8, shuffle_partitions=8)
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
    crawler = Crawler(spark, fixture_pages(spark), seeds)
    for headline in crawler.scrape():
        print(repr(headline))
    crawler.lineage_df().show(truncate=False)


if __name__ == "__main__":  # pragma: no cover
    import sys

    if "--demo" in sys.argv:
        _demo()
