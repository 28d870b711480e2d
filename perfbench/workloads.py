"""The crawl workloads: seeded inputs, one measured crawl, and its checks.

Each workload is a closed loop: one client runs one crawl at a time against
one SparkSession (``local[4]``). ``build_inputs`` makes the workload's
inputs from its seed; ``crawl`` runs one crawl end to end and returns what
the oracle and the metrics need.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from perfbench import inputs, oracle
from perfbench.trace import TracedCatalog, Tracer
from upton_spark.crawler import Crawler, KilledCrawl
from upton_spark.sources.catalog import ManifestCatalog


@dataclass
class Crawl:
    """One finished crawl: output rows plus engine-side counters."""

    wall_s: float
    cpu_s: float  # CPU time of the driver, the JVM and the Python workers
    rows: list[oracle.Row]
    frontier_rows: int
    lineage: list = field(default_factory=list)  # LINEAGE rows of every leg
    seen_rows: int = 0
    bloom_active: bool = False
    resume_s: float = 0.0
    catalog_bytes: int = 0
    statuses: dict[str, int] = field(default_factory=dict)


def process_tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    Spark JVM, its Python daemon and workers). A reaped child's time is in
    its parent's cutime/cstime, so differences count exited workers too."""
    ticks, children = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited meanwhile
            continue
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        children.setdefault(int(fields[1]), []).append(int(pid))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def _force(tracer: Tracer, result) -> tuple[list[oracle.Row], int]:
    """The action that forces attach_bodies + extract: collect the extracted
    rows (the oracle needs them), then count the frontier."""
    with tracer.span("crawler.extract"):
        rows = [
            (r["seed_id"], r["pagination_index"], r["instance_index"], r["url"], r["text"])
            for r in result.extracted.select(
                "seed_id", "pagination_index", "instance_index", "url", "text"
            ).collect()
        ]
    return rows, result.frontier.count()


class Workload:
    name = ""
    n_files = 16

    def __init__(self, spark: SparkSession, seed: int):
        self.spark = spark
        self.rng = random.Random(f"{self.name}:{seed}")
        self.spec: inputs.CorpusSpec
        self.corpus_path = ""

    def build_inputs(self, root: str) -> None:
        """Write this workload's corpus under ``root`` (a set-up step)."""
        self.root = root
        self.corpus_path = os.path.join(root, "pages")
        inputs.write_corpus(self.spec, self.corpus_path, self.n_files)
        pretouch(self.corpus_path)

    def open(self) -> None:
        """Bind the written corpus and build any engine-side state; called
        once, after the last build."""
        self.pages = self.spark.read.parquet(self.corpus_path)

    def crawl(self, tracer: Tracer, traced: bool) -> Crawl:
        raise NotImplementedError

    def check(self, expected: list[oracle.Row], c: Crawl) -> list[str]:
        return oracle.check(expected, c.rows, c.frontier_rows)

    def crawler(self, **kwargs) -> Crawler:
        return Crawler(
            self.spark, self.pages, self.seeds, assume_unique_urls=True,
            pages_path=self.corpus_path, **kwargs,
        )


class BulkCrawl(Workload):
    """Zipf hosts, ~150 KB pages, unlimited tokens, extraction forced."""

    name = "bulk_crawl"

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.spec = inputs.CorpusSpec(
            inputs.pick_hosts(self.rng, inputs.zipf_slice(16, 40, 0, 8)), paragraphs=600
        )
        self.seeds = inputs.seeds_for(self.spec, sleep_time=0.0)

    def crawl(self, tracer, traced):
        t0, cpu0 = time.perf_counter(), process_tree_cpu_s()
        with tracer.span("crawl"):
            crawler = self.crawler()
            if traced:
                tracer.instrument(crawler)
            result = crawler.crawl()
            rows, n_frontier = _force(tracer, result)
        wall = time.perf_counter() - t0
        out = Crawl(wall, process_tree_cpu_s() - cpu0, rows, n_frontier,
                    list(crawler._lineage_rows), crawler._seen_count, crawler._bloom_active)
        crawler.close()
        return out


class ResumeRecrawl(Workload):
    """Catalog-backed re-crawl, killed after its fetch round and resumed.

    The catalog starts from a history snapshot holding a seed-chosen half
    of the host's instance URLs, so half the frontier rows are cache hits
    (the seen-set semi- and anti-joins) and the other half is fetched in
    round 0. The crawl is killed after round 0's snapshot commit; the
    resume reloads that snapshot, finds no queued row, extracts and makes
    the final commit. Every crawl starts from its own copy of the history
    catalog, so each one does the same work. The corpus is one host of
    ~1 KB pages: catalog commits and reloads, the seen-set joins and Spark
    job latency dominate, not page size.

    Two choices keep one run inside the benchmark's time budget, at the
    cost of coverage: a second fetch round for the resume (a per-host token
    budget) would add ~7 s per crawl, and a seen-set over the engine's
    2^16-URL Bloom threshold ~15 s per run, so the kernel microbench times
    the Bloom build instead."""

    name = "resume_recrawl"
    n_files = 4
    KILL_ROUND = 0

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.spec = inputs.CorpusSpec(
            inputs.pick_hosts(self.rng, inputs.zipf_slice(600, 100, 300, 301)), paragraphs=4
        )
        self.seeds = inputs.seeds_for(self.spec, sleep_time=0.0)
        self.known = []
        for h, n in sorted(self.spec.hosts):
            self.known += [self.spec.instance_url(h, i) for i in self.rng.sample(range(n), n // 2)]
        self.iteration = 0

    def open(self):
        super().open()
        self.history_root = os.path.join(self.root, "history")
        ManifestCatalog(self.spark, self.history_root).commit(
            -1,
            {"urls_seen": inputs.history_seen(self.spark, self.known)},
            metrics={"phase": "history"},
        )

    def _catalog(self, tracer: Tracer, traced: bool) -> tuple[str, ManifestCatalog]:
        """A fresh catalog whose only snapshot is the history."""
        self.iteration += 1
        root = os.path.join(self.root, f"catalog_{self.iteration}")
        cat = TracedCatalog(self.spark, root, tracer) if traced else ManifestCatalog(self.spark, root)
        snapdir = os.path.join(self.history_root, "snapshots")
        for f in os.listdir(snapdir):
            shutil.copy(os.path.join(snapdir, f), os.path.join(root, "snapshots", f))
        return root, cat

    def crawl(self, tracer, traced):
        root, cat = self._catalog(tracer, traced)
        t0, cpu0 = time.perf_counter(), process_tree_cpu_s()
        with tracer.span("crawl"):
            first = self.crawler(catalog=cat)
            if traced:
                tracer.instrument(first)
            try:
                first.crawl(stop_after_round=self.KILL_ROUND)
                raise RuntimeError("the crawl was not killed")
            except KilledCrawl:
                pass
            t_resume = time.perf_counter()
            final = self.crawler(catalog=cat)
            if traced:
                tracer.instrument(final)
            result = final.resume()
            rows, n_frontier = _force(tracer, result)
        end, cpu = time.perf_counter(), process_tree_cpu_s() - cpu0
        statuses = {r["status"]: r["count"] for r in result.frontier.groupBy("status").count().collect()}
        out = Crawl(end - t0, cpu, rows, n_frontier, first._lineage_rows + final._lineage_rows,
                    final._seen_count, final._bloom_active, resume_s=end - t_resume,
                    catalog_bytes=_dir_bytes(root), statuses=statuses)
        first.close()
        final.close()
        shutil.rmtree(root, ignore_errors=True)
        return out

    def check(self, expected, c):
        """Besides the rows: the resumed frontier's statuses and seen-set size
        are those an uninterrupted crawl must end with, derived from the
        history and the corpus definition. Every known URL is a cache hit,
        every other one is fetched once, and the seen-set ends up holding
        every instance URL."""
        problems = super().check(expected, c)
        n, known = self.spec.n_instances, len(self.known)
        statuses = {"cache_hit": known, "fetched": n - known}
        if c.statuses != statuses:
            problems.append(f"frontier statuses {c.statuses} != uninterrupted {statuses}")
        if c.seen_rows != n:
            problems.append(f"seen-set has {c.seen_rows} rows, expected {n}")
        return problems


WORKLOADS = {w.name: w for w in (BulkCrawl, ResumeRecrawl)}


def pretouch(path: str) -> None:
    """Stream every corpus file through the OS page cache."""
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                while fh.read(1 << 22):
                    pass
