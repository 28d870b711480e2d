"""Seeded crawl inputs: host slices, the page corpus, seeds and history.

Every page's bytes come from ``upton_spark.sources.corpus`` (its instance
and index renderers and host naming). The benchmark only chooses WHICH host
ids carry a workload's fixed size profile: the seed draws the ids, so two
seeds crawl different URLs, titles and paragraphs while the amount of work
(hosts, pages per host, page size) stays the same. The engine sees only the
resulting ``SeedSpec`` list, the corpus parquet and, for the catalog-backed
workload, a catalog.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from upton_spark.crawler import SeedSpec
from upton_spark.sources import corpus

HOST_ID_SPACE = 100_000  # corpus.host_name renders five digits
INDEX_SELECTOR = "section#river section h1 a"
EXTRACT_SELECTOR = "h1.article-title"


@dataclass(frozen=True)
class CorpusSpec:
    """A workload's pages: ``hosts`` is ((host_id, n_instances), ...)."""

    hosts: tuple[tuple[int, int], ...]
    paragraphs: int
    page_size: int = 50

    @property
    def n_instances(self) -> int:
        return sum(n for _, n in self.hosts)

    @property
    def max_index_pages(self) -> int:
        return max(1, math.ceil(max(n for _, n in self.hosts) / self.page_size))

    def instance_url(self, host_id: int, i: int) -> str:
        return f"http://{corpus.host_name(host_id)}/article_{i}.html"

    def expected_frontier(self) -> list[tuple[int, int, int, str]]:
        """(seed_id, pagination_index, instance_index, url) in crawl order.

        One seed per host (seed_id = host id); the index chain lists
        ``article_0 .. article_{n-1}`` in DOM order, so instance_index = i."""
        return [
            (h, 0, i, self.instance_url(h, i))
            for h, n in sorted(self.hosts)
            for i in range(n)
        ]


def pick_hosts(rng: random.Random, sizes: list[int]) -> tuple[tuple[int, int], ...]:
    """Give the fixed size profile ``sizes`` to seed-drawn host ids."""
    ids = rng.sample(range(HOST_ID_SPACE), len(sizes))
    return tuple(zip(ids, sizes))


def zipf_slice(universe: int, per_host: int, start: int, stop: int) -> list[int]:
    """Ranks ``start:stop`` of the corpus's Zipf host-size profile."""
    return corpus.host_sizes(universe, per_host)[start:stop]


def seeds_for(spec: CorpusSpec, sleep_time: float) -> list[SeedSpec]:
    """One paginated index seed per host, shaped like corpus.synth_seeds."""
    return [
        SeedSpec(
            seed_id=h,
            seed_url=f"http://{corpus.host_name(h)}/index.html",
            index_selector=INDEX_SELECTOR,
            extract_selector=EXTRACT_SELECTOR,
            extract_kind="text",
            paginated=True,
            pagination_param="page",
            pagination_max_pages=spec.max_index_pages,
            sleep_time_between_requests=sleep_time,
        )
        for h, _ in sorted(spec.hosts)
    ]


def page_keys(spec: CorpusSpec) -> list[tuple[str, int, int, int]]:
    """(kind, host_id, page, n_instances) of every instance page and every
    non-empty index page, in the (kind, host, page) order of the range
    partitioning in corpus.synth_pages."""
    keys = []
    for h, n in spec.hosts:
        keys += [("instance", h, i, n) for i in range(n)]
        keys += [("index", h, p, n) for p in range(1, math.ceil(n / spec.page_size) + 1)]
    return sorted(keys)


def render_page(spec: CorpusSpec, kind: str, h: int, i: int, n: int) -> tuple[str, bytes]:
    """(url, html bytes) of one page, as corpus.synth_pages renders it."""
    if kind == "instance":
        return spec.instance_url(h, i), corpus._instance_html(h, i, spec.paragraphs).encode()
    url = f"http://{corpus.host_name(h)}/index.html?page={i}"
    return url, corpus._index_html(h, i, spec.page_size, n).encode()


def write_corpus(spec: CorpusSpec, path: str, n_files: int) -> int:
    """Write the pages table (schemas.PAGES shape) for ``spec`` as
    ``n_files`` parquet files under ``path``; returns the bytes written.

    Pages go to files in (kind, host, page) order, so index pages cluster
    into few files: the layout the crawler's file-level prescan pruning
    relies on, as with corpus.synth_pages."""
    keys = page_keys(spec)
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    ts = datetime.fromisoformat(corpus.BASE_TS).replace(tzinfo=timezone.utc)
    written = 0
    per_file = math.ceil(len(keys) / n_files)
    for f in range(0, len(keys), per_file):
        chunk = keys[f:f + per_file]
        pages = [render_page(spec, *k) for k in chunk]
        table = pa.table(
            [
                [url for url, _ in pages],
                [ts] * len(chunk),
                [html for _, html in pages],
                [f"synthetic {h} {i}" for _, h, i, _ in chunk],
                ["en"] * len(chunk),
            ],
            schema=schema,
        )
        out = os.path.join(path, f"part-{f // per_file:05d}.parquet")
        pq.write_table(table, out)
        written += os.path.getsize(out)
    return written


def history_seen(spark: SparkSession, urls: list[str]) -> DataFrame:
    """A prior crawl's seen-set (schemas.URLS_SEEN shape) holding ``urls``."""
    return spark.createDataFrame([(u,) for u in urls], "url string").select(
        F.xxhash64("url").alias("url_hash"),
        "url",
        F.lit(-1).alias("first_round"),
        F.to_timestamp(F.lit(corpus.BASE_TS)).alias("fetched_at"),
    )
