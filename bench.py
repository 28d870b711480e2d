"""Per-round benchmark harness (driver contract).

Runs (a) the frontier crawl bench on a deterministic synthetic Common-Crawl
style corpus and (b) the headline operator queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON
line, short enough (< 1 KB) for a log tail to hold it whole:

  {"metric": "...", "value": <total sec>, "unit": "sec", "sf": ...,
   "cpus": N, "protocol": "...", "detail": "<path>"}

and writes the per-query timings and the frontier and politeness stats to
the "detail" file (bench_detail.json next to this script):

  {"queries": {name: sec, ...},
   "frontier": {"urls": N, "seconds": s, "urls_per_sec": r}, ...}

The crawl corpus is THE scaling-bench corpus (same hosts/ipp/page size as
scripts/scaling_bench.py, cached at the same path), so the per-round
frontier number is directly comparable to BENCH/BASELINE.md. Overridable:
  SPARK_GRAFT_SCALE_HOSTS (600), SPARK_GRAFT_SCALE_IPP (100),
  SPARK_GRAFT_SCALE_PARAGRAPHS (600), SPARK_GRAFT_SCALE_CORPUS (path).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _pretouch(corpus_path: str) -> None:
    """Stream every corpus file through the OS page cache before timing.
    Round boundaries wipe /tmp and drop the cache, and the corpus scan is
    the crawl bench's dominant IO — a cold first run measured alone once
    read as a phantom 2x engine regression (r03: 72.1s cold vs 29.7s warm
    on identical code). Cache state is part of the protocol now."""
    for root, _dirs, files in os.walk(corpus_path):
        for f in files:
            try:
                with open(os.path.join(root, f), "rb") as fh:
                    while fh.read(1 << 22):
                        pass
            except OSError:
                pass


# bench protocol version (annotate cross-round comparisons with this):
#   v1 (r01-r03): single cold measured run
#   v2 (r04):     page-cache pretouch, best of >=2 runs as headline
#   v3 (r05+):    pretouch, >=3 frontier runs, MEDIAN as headline
#                 (best disclosed as best_seconds) — ADVICE r04 bench.py:69
PROTOCOL = "v3-median-headline"
DETAIL_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_detail.json")


def run_crawl_bench(
    spark, n_hosts: int, ipp: int, paragraphs: int, corpus_path: str, n_runs: int = 3
) -> dict:
    from pyspark.sql import functions as F

    from upton_spark.crawler import Crawler
    from upton_spark.sources.corpus import synth_pages, synth_seeds

    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        synth_pages(
            spark, n_hosts=n_hosts, instances_per_host=ipp, paragraphs=paragraphs, n_files=256
        ).write.mode("overwrite").parquet(corpus_path)
    _pretouch(corpus_path)
    pages = spark.read.parquet(corpus_path)
    seeds = synth_seeds(n_hosts, ipp)

    # warmup: small crawl, extraction FORCED (crawl() alone leaves the
    # extraction lazy) so the full Python worker pool is forked and the
    # codegen/Arrow paths are hot before the measured runs
    wres = Crawler(
        spark, pages, seeds[: max(2, n_hosts // 50)], assume_unique_urls=True,
        pages_path=corpus_path,
    ).crawl()
    wres.extracted.agg(F.sum(F.length("text"))).collect()

    # >=3 measured runs (single measured runs on this noisy VM spread 2-4x —
    # BENCH/BASELINE.md protocol note); `seconds` / `urls_per_sec` carry the
    # MEDIAN run (protocol v3), best disclosed as best_seconds, `runs` lists
    # every measurement
    runs: list[dict] = []
    for _ in range(max(1, n_runs)):
        t0 = time.time()
        # synth corpus holds exactly one capture per url (corpus.py contract)
        # -> skip the dedup-latest window, the one full-corpus shuffle; at
        # scale the same invariant comes from Iceberg MERGE on url
        crawler = Crawler(
            spark, pages, seeds, expected_url_capacity=1 << 21, assume_unique_urls=True,
            pages_path=corpus_path,
        )
        result = crawler.crawl()
        # one action that FORCES the extraction UDF (a bare count() would let
        # Catalyst prune the unused text column and skip extraction entirely)
        row = result.extracted.agg(
            F.count("*").alias("n"), F.sum(F.length("text")).alias("text_bytes")
        ).collect()[0]
        n_extracted, text_bytes = row["n"], row["text_bytes"]
        n_frontier = result.frontier.count()
        dt = time.time() - t0
        runs.append(
            {
                "frontier_rows": n_frontier,
                "extracted_rows": n_extracted,
                "extracted_text_bytes": int(text_bytes or 0),
                "urls": n_frontier + n_extracted,  # scheduled + extracted
                "seconds": round(dt, 2),
            }
        )
    best = min(runs, key=lambda r: r["seconds"])
    secs = sorted(r["seconds"] for r in runs)
    median = secs[len(secs) // 2] if len(secs) % 2 else round(
        (secs[len(secs) // 2 - 1] + secs[len(secs) // 2]) / 2, 2
    )
    # row counts are identical across runs (deterministic crawl) — take them
    # from the best run, but make the headline seconds/urls_per_sec the MEDIAN
    return {
        "hosts": n_hosts,
        "instances_per_host": ipp,
        **best,
        "seconds": median,
        "urls_per_sec": round(best["urls"] / median, 1),
        "best_seconds": best["seconds"],
        "best_urls_per_sec": round(best["urls"] / best["seconds"], 1),
        "median_seconds": median,
        "runs": [r["seconds"] for r in runs],
    }


def run_politeness_bench(spark, pages, corpus_path: str, sleep_time: float = 2.5) -> dict:
    """Multi-round politeness crawl over a 12-host slice: token-budgeted
    rounds exercise the round loop (sequential index chains + the one-shot
    instance schedule), measuring per-round driver overhead rather than bulk
    extraction throughput. ``sleep_time`` sets rounds: 2.5 → ~6 rounds (the
    round-2 comparable), 30 → ~30 rounds (the marginal-cost probe: with the
    closed-form instance schedule, extra politeness rounds cost ~no extra
    driver jobs, so rounds/s should RISE with round count)."""
    from upton_spark.sources.corpus import synth_seeds

    seeds = synth_seeds(600, 100, sleep_time=sleep_time)[300:312]
    # 3 measured runs like the frontier probe: the politeness probes are
    # driver-latency-bound and the noisiest in the suite (r5 saw 7.2/15.3s
    # same-session runs), so a 2-run median is one bad run away from a
    # phantom regression
    return _politeness_crawl(spark, pages, corpus_path, seeds, n_runs=3)


def run_politeness_chain_deep_bench(spark, pages, corpus_path: str) -> dict:
    """Politeness horizon probe: the two Zipf-head hosts (~50-page index
    chains, ~4k instances) at sleep=30/budget=60 → 2 tokens/host/round →
    thousands of schedule rounds. The closed-form index+instance schedulers
    make the driver cost O(1) in rounds, so this measures what a
    politeness-bounded crawl of a real hot host costs: the data work, not
    rounds x per-round driver latency."""
    from upton_spark.sources.corpus import synth_seeds

    seeds = synth_seeds(600, 100, sleep_time=30.0)[0:2]
    return _politeness_crawl(spark, pages, corpus_path, seeds, n_runs=3)


def _politeness_crawl(spark, pages, corpus_path: str, seeds, n_runs: int = 2) -> dict:
    """Median of ``n_runs`` measured crawls as the headline (protocol v3;
    best disclosed as best_seconds — single measured runs on this noisy VM
    read as phantom regressions); all run times disclosed in ``runs``."""
    from pyspark.sql import functions as F

    from upton_spark.crawler import Crawler

    runs = []
    for _ in range(max(1, n_runs)):
        t0 = time.time()
        crawler = Crawler(
            spark, pages, seeds, assume_unique_urls=True, pages_path=corpus_path
        )
        # cover the chain-deep probe's full politeness horizon (~1.4k
        # rounds); the default 64-round cap would truncate it mid-schedule
        result = crawler.crawl(max_fetch_rounds=4096)
        # small-crawl job diet for the result actions too (crawl() applies
        # it to its internal phases automatically; the extraction aggregate
        # runs caller-side, so the caller opts in — see Crawler.job_diet)
        with crawler.job_diet():
            row = result.extracted.agg(
                F.count("*").alias("n"), F.sum(F.length("text")).alias("b")
            ).collect()[0]
            rounds = (
                result.lineage.groupBy("phase").agg(F.max("round").alias("r")).collect()
            )
        n_rounds = sum(r["r"] + 1 for r in rounds)
        runs.append((round(time.time() - t0, 2), n_rounds, row["n"]))
    best_dt, n_rounds, n_rows = min(runs)
    secs = sorted(r[0] for r in runs)
    median = secs[len(secs) // 2] if len(secs) % 2 else round(
        (secs[len(secs) // 2 - 1] + secs[len(secs) // 2]) / 2, 2
    )
    return {
        "hosts": len(seeds),
        "rounds": n_rounds,
        "extracted_rows": n_rows,
        "seconds": median,
        "best_seconds": best_dt,
        "rounds_per_sec": round(n_rounds / median, 2),
        "runs": [r[0] for r in runs],
    }


HEADLINE_QUERIES = [
    "q1_pricing_summary",
    "top_revenue_orders",
    "region_rollup_sales",
    "host_stats",
    "politeness_admission",
    "latest_event_per_user",
    "sessionization",
    "hourly_events",
    "exact_dup_groups",
    "token_stats",
    "minhash_near_dups",
    "simhash",
    "embedding_topk",
    "embedding_lsh_buckets",
    "fingerprint_rolling",
    "link_pagerank",
    "benchmark_contamination",
    "repetition_stats",
    "semantic_dedup",
    "paragraph_dedup",
    "sequence_pack",
    "dsir_weights",
    "pii_scrub",
    "exact_substring_dedup",
    "chunk_documents",
    "c4_clean",
    "blocklist_gate",
    "bpe_token_stats",
    "planned_admission",
    "gopher_quality",
    "lm_perplexity",
    "cdc_chunks",
    "hits_planned_admission",  # r5: HITS scoring + closed-form admission
    "media_real_decode",  # r5: real png/gif/jpeg decode throughput
    "main_content",  # r5: boilerplate removal (DOM classifier throughput)
    "surt_keys",  # r5: web-archive sort keys (codegen)
    "host_split",  # r5: host-disjoint splits (codegen)
    "anchor_stats",  # r5: inlink anchor rollup (agg-before-window)
    "cdx_index",  # r5: capture index (codegen + one range sort)
    "text_normalize",  # r5: NFC + control/ws/lower normalization
    "redirect_chains",  # r5: pointer-doubling chain resolution
    "sniff_type",  # r5: magic-byte content-type router (pure codegen)
    "domain_split",  # r5: eTLD+1 site-disjoint splits (broadcast suffix match)
    "trap_scores",  # r5: crawler-trap heuristics (pure codegen)
    "change_rate",  # r5: Poisson change-rate estimation (one agg pass)
    "freshness_planned_admission",  # r5: staleness-planned schedule
    "shard_manifest",  # r5: balanced output sharding manifest
    "adaptive_delay",  # r5: latency-tuned politeness aggregate
    "tfidf_keywords",  # r5: per-doc tf-idf top-k (explode + df rollup)
    "inverted_index",  # r5: sharded postings build (head-term split)
    "dup_representatives",  # r5: quality-aware keep-best-copy (struct-min)
    "compression_ratio",  # r5: zlib deflate quality signal (one Arrow stage)
    "charset_stats",  # r5: WHATWG charset sniff rollup (pure codegen)
    "host_graph",  # r5: domain-level webgraph rollup (PSL broadcast + one agg)
    "incremental_dedup",  # r5: new-vs-history LSH band join (never old x old)
    "embedding_sq8",  # r5: int8 scalar quantization (codegen, exact codes)
    "mirror_hosts",  # r5: content-overlap mirror pairs (hash-keyed join)
    "embedding_pq",  # r5: product quantization (train + distributed encode)
    "embedding_pq_adc",  # r5: ADC scan over PQ codes (codegen LUT lookups)
]


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    n_hosts = int(os.environ.get("SPARK_GRAFT_SCALE_HOSTS", "600"))
    ipp = int(os.environ.get("SPARK_GRAFT_SCALE_IPP", "100"))
    paragraphs = int(os.environ.get("SPARK_GRAFT_SCALE_PARAGRAPHS", "600"))
    corpus_path = os.environ.get(
        "SPARK_GRAFT_SCALE_CORPUS",
        f"/tmp/upton_spark_bench/scale_corpus_{n_hosts}x{ipp}x{paragraphs}",
    )
    os.makedirs(os.path.dirname(corpus_path), exist_ok=True)

    import __spark_entry__ as entrymod
    from upton_spark.plans.session import get_spark

    spark = get_spark("upton_spark_bench", cores=cpus, shuffle_partitions=cpus)

    queries = entrymod.queries()
    timings: dict[str, float] = {}
    total = 0.0

    frontier_stats = run_crawl_bench(spark, n_hosts, ipp, paragraphs, corpus_path)
    timings["frontier_crawl"] = frontier_stats["seconds"]
    total += frontier_stats["seconds"]

    politeness_stats = run_politeness_bench(
        spark, spark.read.parquet(corpus_path), corpus_path
    )
    timings["politeness_rounds_crawl"] = politeness_stats["seconds"]
    total += politeness_stats["seconds"]

    politeness_deep = run_politeness_bench(
        spark, spark.read.parquet(corpus_path), corpus_path, sleep_time=30.0
    )
    timings["politeness_rounds_deep"] = politeness_deep["seconds"]
    total += politeness_deep["seconds"]

    chain_deep = run_politeness_chain_deep_bench(
        spark, spark.read.parquet(corpus_path), corpus_path
    )
    timings["politeness_chain_deep"] = chain_deep["seconds"]
    total += chain_deep["seconds"]

    for name in HEADLINE_QUERIES:
        fn = queries[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        timings[name] = round(dt, 2)
        total += dt

    sf = sf_dir.rstrip("/").split("sf")[-1]
    with open(DETAIL_PATH, "w") as f:
        json.dump(
            {
                "queries": timings,
                "frontier": frontier_stats,
                "politeness_rounds": politeness_stats,
                "politeness_rounds_deep": politeness_deep,
                "politeness_chain_deep": chain_deep,
            },
            f,
            indent=1,
        )
    print(
        json.dumps(
            {
                "metric": "frontier throughput (URLs scheduled+extracted/sec) + headline operator suite",
                "value": round(total, 2),
                "unit": "sec",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": cpus,
                "protocol": PROTOCOL,
                "detail": DETAIL_PATH,
            }
        )
    )


if __name__ == "__main__":
    main()
