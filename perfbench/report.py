"""Metrics of one benchmark run, computed from its crawls and spans."""

from __future__ import annotations

import json
import os
import statistics

_BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "BENCHMARK.json")

# LINEAGE row fields (upton_spark.schemas.LINEAGE)
PHASE, ROUND, FETCHED, DEFERRED, CACHE_HITS = 0, 1, 4, 5, 6


def _units() -> dict[str, tuple[str, str]]:
    """metric name -> (unit, kind), kind being end_to_end or per_layer."""
    with open(_BENCHMARK) as f:
        spec = json.load(f)
    return {
        m["name"]: (m["unit"], kind) for kind in ("end_to_end", "per_layer") for m in spec[kind]
    }


def layer_metrics(summary: dict, crawl) -> dict[str, float]:
    """Per-layer numbers of one traced crawl (see Tracer.crawl_summary)."""
    def span(name):
        return summary.get(name, {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0})

    m: dict[str, float] = {}
    for phase in ("index", "frontier", "fetch", "extract"):
        s = span(f"crawler.{phase}")
        m[f"crawler.{phase}.self_s"] = s["self_s"]
        m[f"crawler.{phase}.jobs"] = s["jobs"]
        m[f"crawler.{phase}.tasks"] = s["tasks"]
    m["crawler.extract.rows"] = len(crawl.rows)
    m["crawler.glue.self_s"] = span("crawl")["self_s"]
    m["crawler.wall_s"] = sum(s["self_s"] for s in summary.values())

    lineage = crawl.lineage
    fetched = sum(r[FETCHED] for r in lineage)
    deferred = sum(r[DEFERRED] for r in lineage)
    hits = sum(r[CACHE_HITS] for r in lineage)
    m["crawler.fetch.rounds"] = len({r[ROUND] for r in lineage if r[PHASE].startswith("instance")})
    m["crawler.fetch.admit_ratio"] = fetched / (fetched + deferred) if fetched + deferred else 1.0

    resume, commit, read = span("crawler.resume"), span("catalog.commit"), span("catalog.read")
    m["crawler.resume.self_s"] = resume["self_s"]
    m["crawler.resume.jobs"] = resume["jobs"]
    m["catalog.commit.calls"] = commit["calls"]
    m["catalog.commit.self_s"] = commit["self_s"]
    m["catalog.commit.jobs"] = commit["jobs"]
    m["catalog.read.self_s"] = read["self_s"]
    m["catalog.bytes_written"] = crawl.catalog_bytes

    m["dedup.build_bloom.calls"] = span("dedup.build_bloom")["calls"]
    m["dedup.bloom_active"] = int(crawl.bloom_active)
    m["dedup.seen_rows"] = crawl.seen_rows
    m["dedup.cache_hit_ratio"] = hits / (hits + fetched) if hits + fetched else 0.0

    m["spark.jobs"] = sum(s["jobs"] for s in summary.values())
    m["spark.tasks"] = sum(s["tasks"] for s in summary.values())
    return m


def summarize(tracer, untraced, traced, setup_s, peak_rss, micro) -> dict:
    """Every metric this run measured (end-to-end and, if traced, per layer)."""
    crawl_s = statistics.median(c.wall_s for _, c in untraced)
    pages = len(untraced[0][1].rows)
    out: dict[str, float] = {
        "setup_s": setup_s,
        # the end-to-end crawl cost is CPU time, not wall time: on a shared
        # 4-vCPU host, CPU steal from other tenants moved the resume crawl's
        # wall time by ~35% and its CPU time by ~12%
        "crawl_cpu_s": statistics.median(c.cpu_s for _, c in untraced),
        "peak_rss_mb": peak_rss,
        "crawl_s": crawl_s,
        "pages_per_s": pages / crawl_s,
        "resume_s": statistics.median(c.resume_s for _, c in untraced),
        "catalog_mb": statistics.median(c.catalog_bytes for _, c in untraced) / 2**20,
    }
    if traced:
        per_crawl = [layer_metrics(tracer.crawl_summary(cid), c) for cid, c in traced]
        for name in per_crawl[0]:
            out[name] = statistics.median(m[name] for m in per_crawl)
        out["trace.overhead_s"] = statistics.median(c.wall_s for _, c in traced) - crawl_s
        out.update(micro)
    return out


def select(summary: dict, trace: bool) -> dict[str, dict]:
    """The metrics BENCHMARK.json lists for this mode, with their units."""
    kind = "per_layer" if trace else "end_to_end"
    return {
        name: {"value": summary[name], "unit": unit}
        for name, (unit, k) in _units().items()
        if k == kind
    }


HEADLINE_EXTRA = ("crawl_s", "pages_per_s")  # wall-clock, measured on every run


def headline(workload: str, summary: dict, attempted: int, failed: int, detail: str) -> str:
    """One compact line: the failure count, every end-to-end metric and the
    crawl's wall time and page rate."""
    units = _units()
    names = [n for n, (_, kind) in units.items() if kind == "end_to_end"] + list(HEADLINE_EXTRA)
    parts = [f"{n}={summary[n]:.4g}{units[n][0]}" for n in names]
    return f"{workload}: failed {failed}/{attempted} " + " ".join(parts) + f" (detail: {detail})"
