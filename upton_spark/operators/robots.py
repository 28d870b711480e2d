"""robots.txt admission gate — engine-side capability the reference lacks.

The reference performs no robots handling at all (SURVEY.md §2.2 "[engine]"
row); the north_star requires robots rules to gate admission *before
enqueue*. Design: robots.txt bodies are just rows of the ``pages`` corpus
(url = ``scheme://host/robots.txt``); the parsed-rules table becomes a
:class:`RobotsGate` built ONCE per crawl — a broadcast dict probe for small
rule tables, a per-host rule-array join for web-scale ones — and
longest-prefix matching runs in a vectorized UDF (original REP + Google
longest-match semantics) either way.
"""

from __future__ import annotations

import re
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from upton_spark import schemas


def parse_robots(host: str, body: str) -> list[tuple]:
    """Parse one robots.txt into ROBOTS-schema rows
    (host, agent, rule_type, path_prefix, crawl_delay)."""
    rows: list[tuple] = []
    agents: list[str] = []
    saw_rule = True  # so a leading User-agent starts a fresh group
    crawl_delay: dict[str, float] = {}
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if saw_rule:
                agents = []
                saw_rule = False
            agents.append(value.lower())
        elif key in ("allow", "disallow"):
            saw_rule = True
            for agent in agents or ["*"]:
                if value == "" and key == "disallow":
                    continue  # empty Disallow = allow all (no rule)
                rows.append((host, agent, key, value, None))
        elif key == "crawl-delay":
            saw_rule = True
            try:
                delay = float(value)
            except ValueError:
                continue
            for agent in agents or ["*"]:
                rows.append((host, agent, "crawl-delay", "", delay))
    return rows


def robots_rules_df(spark: SparkSession, per_host_bodies: list[tuple[str, str]]) -> DataFrame:
    """Driver-side constructor for tests/small jobs; web-scale rule tables
    come from :func:`robots_from_pages` (distributed parse of the corpus's
    own robots.txt captures)."""
    rows: list[tuple] = []
    for host, body in per_host_bodies:
        rows.extend(parse_robots(host, body))
    return spark.createDataFrame(rows, schema=schemas.ROBOTS)


def robots_from_pages(pages: DataFrame) -> DataFrame:
    """Distributed ROBOTS table from the ``pages`` corpus itself: rows whose
    url is ``scheme://host/robots.txt`` are parsed per-host into rule rows
    (the design the module docstring promises — at 10^7-10^8 robots-bearing
    hosts the rules NEVER transit the driver; feed the result straight to
    RobotsGate, which picks dict vs join shape by size).

    Latest capture wins per host (dedup-latest on warc_ts, same as page
    fetches); the per-row parse is an Arrow-batched pandas UDF over only
    the robots rows (filter pushdown keeps the corpus scan to the
    ``/robots.txt`` url subset). The filter matches the parsed PATH being
    exactly ``/robots.txt`` — a suffix match would let a non-authoritative
    capture like ``http://host/user/robots.txt`` supply (or, via
    dedup-latest, shadow) the host's real root rules."""
    from pyspark.sql import Window

    robots_rows = pages.filter(
        F.parse_url(F.col("url"), F.lit("PATH")) == "/robots.txt"
    ).withColumn("host", F.lower(F.parse_url(F.col("url"), F.lit("HOST"))))
    w = Window.partitionBy("host").orderBy(F.col("warc_ts").desc_nulls_last())
    latest = (
        robots_rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("host", "html")
    )

    def parse_batches(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for host, body in zip(pdf["host"], pdf["html"]):
                text = (
                    bytes(body).decode("utf-8", errors="replace")
                    if body is not None
                    else ""
                )
                rows.extend(parse_robots(host, text))
            yield pd.DataFrame(
                rows,
                columns=["host", "agent", "rule_type", "path_prefix", "crawl_delay"],
            )

    return latest.mapInPandas(parse_batches, schema=schemas.ROBOTS)


_RULE_RE_CACHE: dict[str, "re.Pattern[str]"] = {}


def _rule_regex(pattern: str) -> "re.Pattern[str]":
    """Compile a REP path rule to a regex. REP's ONLY wildcard is '*' plus a
    trailing '$' end-anchor — every other character is literal ('?', '[',
    '+' appear verbatim in real query-string rules, so fnmatch-style
    translation mis-matches e.g. 'Disallow: /search*?page=')."""
    rx = _RULE_RE_CACHE.get(pattern)
    if rx is None:
        pat = pattern
        anchored = pat.endswith("$")
        if anchored:
            pat = pat[:-1]
        body = ".*".join(re.escape(seg) for seg in pat.split("*"))
        # \Z, not $: '$' also matches before a trailing newline, so a path
        # ending in '\n' would wrongly satisfy an end-anchored Disallow rule
        rx = re.compile(body + (r"\Z" if anchored else ""))
        _RULE_RE_CACHE[pattern] = rx
    return rx


def _match_rule(path: str, pattern: str) -> int:
    """Return match length (-1 = no match). Supports * and trailing $."""
    if not pattern:
        return -1
    if "*" in pattern or pattern.endswith("$"):
        return len(pattern) if _rule_regex(pattern).match(path) else -1
    return len(pattern) if path.startswith(pattern) else -1


def allowed(path: str, rules: list[tuple[str, str]]) -> bool:
    """Longest-match REP decision over [(rule_type, prefix), ...]; ties favor
    allow; no matching rule → allowed."""
    best_len, best_allow = -1, True
    for rule_type, prefix in rules:
        ml = _match_rule(path, prefix)
        if ml > best_len or (ml == best_len and rule_type == "allow" and not best_allow):
            if ml >= 0:
                best_len, best_allow = ml, rule_type == "allow"
    return best_allow


def _decision_path(u) -> tuple[str, str] | None:
    """(host, path?query) for matching, or None for NULL urls (allowed).

    The lookup key is the PORTLESS lowercase host (``urlparse().hostname``),
    matching the join path's ``parse_url(url, 'HOST')`` frontier key — a
    netloc key (which keeps ``:8080``) would miss rules tables keyed
    portless (robots_from_pages) and make the two RobotsGate shapes
    disagree on ported URLs."""
    if u is None:
        return None
    parts = urlparse(u)
    path = parts.path or "/"
    if parts.query:
        path = f"{path}?{parts.query}"
    return (parts.hostname or "").lower(), path


class RobotsGate:
    """Reusable robots admission gate — build ONCE per crawl, apply every
    round, ``close()`` when done.

    Two physical shapes behind one decision semantics (longest-match REP,
    exact-agent group if present for the host else ``*``):

    * **dict path** (rule tables up to ``dict_max_rules`` rows): rules are
      collected and broadcast as a Python dict a vectorized UDF probes.
      Built exactly once — the round loop must NOT rebuild it (a per-round
      collect+broadcast is a driver-memory and round-latency scale-killer at
      10^7-10^8 robots-bearing hosts, and un-unpersisted handles leak one
      broadcast per round).
    * **join path** (anything bigger): rules are grouped into per-host,
      agent-resolved rule arrays and JOINED onto the frontier by ``host`` —
      a plain distributed join (broadcast or shuffle-by-host, Catalyst's
      call; the frontier is already host-partitioned so the exchange
      amortizes), with the same longest-match decision running over the
      joined array. Nothing rule-shaped ever lands on the driver.

    The join path keys on the frontier's ``host`` column (the engine's
    canonical parse_url HOST, how a web-scale rules table is keyed); the
    dict path derives netloc from the url itself. Equivalence is pinned by
    test_robots_gate_paths_equivalent."""

    def __init__(
        self,
        spark: SparkSession,
        robots: DataFrame | None,
        agent: str = "*",
        dict_max_rules: int = 50_000,
    ):
        self.spark = spark
        self.agent = agent.lower()
        self._bc = None
        self._rules_by_host: DataFrame | None = None
        if robots is None:
            self.mode = "open"
            return
        mine = robots.filter(F.col("rule_type").isin("allow", "disallow")).filter(
            F.col("agent").isin(self.agent, "*")
        )
        # bounded size probe: never counts past the threshold
        small = mine.limit(dict_max_rules + 1).count() <= dict_max_rules
        if small:
            self.mode = "dict"
            table: dict[str, dict[str, list[tuple[str, str]]]] = {}
            for r in mine.collect():  # bounded by dict_max_rules
                table.setdefault(r["host"], {}).setdefault(r["agent"], []).append(
                    (r["rule_type"], r["path_prefix"])
                )
            self._bc = spark.sparkContext.broadcast(table)
        else:
            self.mode = "join"
            ag = self.agent
            grouped = mine.groupBy("host").agg(
                F.collect_list(F.struct("agent", "rule_type", "path_prefix")).alias("_all")
            )
            exact = F.filter("_all", lambda s: s["agent"] == F.lit(ag))
            star = F.filter("_all", lambda s: s["agent"] == F.lit("*"))
            chosen = F.when(F.size(exact) > 0, exact).otherwise(star)
            self._rules_by_host = grouped.select(
                "host",
                F.transform(
                    chosen,
                    lambda s: F.struct(
                        s["rule_type"].alias("rule_type"),
                        s["path_prefix"].alias("path_prefix"),
                    ),
                ).alias("_robots_rules"),
            )

    def __call__(self, frontier: DataFrame) -> DataFrame:
        if self.mode == "open":
            return frontier.withColumn("robots_allowed", F.lit(True))
        if self.mode == "dict":
            bc, agent = self._bc, self.agent

            @F.pandas_udf(T.BooleanType())
            def dict_allowed(url: pd.Series) -> pd.Series:
                tbl = bc.value
                out = []
                for u in url:
                    d = _decision_path(u)
                    if d is None:
                        out.append(True)
                        continue
                    netloc, path = d
                    host_rules = tbl.get(netloc)
                    if not host_rules:
                        out.append(True)
                        continue
                    rules = host_rules.get(agent, host_rules.get("*", []))
                    out.append(allowed(path, rules))
                return pd.Series(out)

            return frontier.withColumn("robots_allowed", dict_allowed(F.col("url")))

        @F.pandas_udf(T.BooleanType())
        def join_allowed(url: pd.Series, rules: pd.Series) -> pd.Series:
            out = []
            for u, rs in zip(url, rules):
                d = _decision_path(u)
                if d is None or rs is None or len(rs) == 0:
                    out.append(True)
                    continue
                out.append(
                    allowed(d[1], [(r["rule_type"], r["path_prefix"]) for r in rs])
                )
            return pd.Series(out)

        joined = frontier.join(self._rules_by_host, "host", "left")
        return joined.withColumn(
            "robots_allowed", join_allowed(F.col("url"), F.col("_robots_rules"))
        ).drop("_robots_rules")

    def close(self) -> None:
        """Release the broadcast handle (dict path). Safe to call twice."""
        if self._bc is not None:
            self._bc.unpersist()
            self._bc = None


def crawl_delays(robots: DataFrame | None, agent: str = "*") -> DataFrame | None:
    """Per-host crawl-delay dimension (host, crawl_delay) for the politeness
    join; None when no robots table."""
    if robots is None:
        return None
    return (
        robots.filter(F.col("rule_type") == "crawl-delay")
        .filter(F.col("agent").isin(agent.lower(), "*"))
        .groupBy("host")
        .agg(F.max("crawl_delay").alias("crawl_delay"))
    )


def sitemaps_from_robots(pages: DataFrame) -> DataFrame:
    """(host, sitemap_url) from ``Sitemap:`` directives in the corpus's own
    robots.txt captures — the discovery glue between robots ingestion and
    the sitemap seed source (feed the urls to sources.sitemap). Sitemap is
    an agent-independent REP directive, so this is a pure codegen extract:
    filter to rows whose parsed PATH is exactly /robots.txt (never a
    nested ``/user/robots.txt`` capture), dedup-latest per host, regexp
    over the decoded body — no Python parse, no driver transit."""
    from pyspark.sql import Window

    robots_rows = pages.filter(
        F.parse_url(F.col("url"), F.lit("PATH")) == "/robots.txt"
    ).withColumn("host", F.lower(F.parse_url(F.col("url"), F.lit("HOST"))))
    w = Window.partitionBy("host").orderBy(F.col("warc_ts").desc_nulls_last())
    latest = (
        robots_rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("host", F.col("html").cast("string").alias("body"))
    )
    return (
        latest.select(
            "host",
            F.explode(
                F.regexp_extract_all(
                    F.col("body"), F.lit(r"(?im)^\s*sitemap\s*:\s*(\S+)"), F.lit(1)
                )
            ).alias("sitemap_url"),
        )
        .filter(F.col("sitemap_url") != "")
    )
