"""Deterministic synthetic Common-Crawl-style corpus for bench/scale runs.

BASELINE.md: no external data — scale evidence comes from deterministically
synthesized corpora. Every page's bytes are a pure function of
(host_id, page_id) — no RNG state, no wall clock — so two runs (or two
cluster sizes) see byte-identical input regardless of partitioning.

Shape mirrors the crawl workload: one paginated index chain per host
(``index.html?page=k``, 'section#river section h1 a' anchors with *relative*
hrefs to exercise resolve) linking N instance pages carrying an
``h1.article-title``. Host sizes follow a Zipf-ish power law so hot-host
skew is present by construction (the thing salted partitioning + politeness
capping must handle at 10^10).

Generation is fully distributed: a small host dimension is exploded JVM-side
(``sequence`` + ``explode``), and page HTML is rendered in an Arrow-batched
``mapInPandas`` — the driver never materializes rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from upton_spark.crawler import SeedSpec

_VOCAB = (
    "data city council budget report court records school health water police "
    "housing election tax audit contract agency program federal state county "
    "public review board member office project fund street plan year service"
).split()

BASE_TS = "2024-01-01 00:00:00"


def host_sizes(n_hosts: int, instances_per_host: int, skew: float = 0.7) -> list[int]:
    """Zipf-ish: host h gets ~ mean / (rank^skew) normalized to keep the
    total ≈ n_hosts * instances_per_host; min 3 so every chain crawls."""
    raw = [(1.0 / (h + 1) ** skew) for h in range(n_hosts)]
    scale = n_hosts * instances_per_host / sum(raw)
    return [max(3, int(r * scale)) for r in raw]


def _words(h: int, i: int, k0: int, n: int) -> str:
    v = len(_VOCAB)
    return " ".join(_VOCAB[(h * 1000003 + i * 97 + (k0 + k) * 31) % v] for k in range(n))


# Pre-rendered paragraph pool: page (h, i) picks deterministically, so big
# pages render fast while the downstream PARSE cost stays fully real.
_PARA_POOL = [f"<p>{_words(j, j * 31 + 7, 5, 40)}</p>" for j in range(512)]


def _instance_html(h: int, i: int, paragraphs: int = 4) -> str:
    title = f"Article {h}-{i}: {_words(h, i, 0, 4)}"
    paras = "".join(
        _PARA_POOL[(h * 131 + i * 7 + p) % 512] for p in range(paragraphs)
    )
    return (
        f"<html><head><meta charset=\"utf-8\"><title>{title}</title></head><body>"
        f'<h1 class="article-title">{title}</h1>'
        f'<div class="content">{paras}</div></body></html>'
    )


def _index_html(h: int, page: int, page_size: int, n_instances: int) -> str:
    start = (page - 1) * page_size
    stop = min(start + page_size, n_instances)
    anchors = "".join(
        f'<section><h1><a href="article_{i}.html">{_words(h, i, 0, 4)}</a></h1></section>'
        for i in range(start, stop)
    )
    return (
        f"<html><body><section id=\"river\">{anchors}</section></body></html>"
        if stop > start
        else ""
    )


def host_name(h: int) -> str:
    return f"host{h:05d}.example.org"


def synth_pages(
    spark: SparkSession,
    n_hosts: int = 100,
    instances_per_host: int = 50,
    page_size: int = 50,
    skew: float = 0.7,
    paragraphs: int = 4,
    n_files: int | None = None,
) -> DataFrame:
    """The ``pages`` corpus: every instance page + every non-empty index
    pagination page for every host (schemas.PAGES shape)."""
    sizes = host_sizes(n_hosts, instances_per_host, skew)
    hosts = spark.createDataFrame(
        [(h, sizes[h]) for h in range(n_hosts)], "host_id int, n_instances int"
    )

    instances = hosts.select(
        "host_id", "n_instances", F.explode(F.sequence(F.lit(0), F.col("n_instances") - 1)).alias("i")
    ).withColumn("kind", F.lit("instance"))
    index_pages = hosts.select(
        "host_id",
        "n_instances",
        F.explode(
            F.sequence(F.lit(1), F.ceil(F.col("n_instances") / F.lit(page_size)).cast("int"))
        ).alias("i"),
    ).withColumn("kind", F.lit("index"))
    # Range-partition by (kind, host, page) so index pages cluster into few
    # output files — the physical layout that lets the crawler's file
    # pruning (Crawler._pruned_corpus) fetch index chains without
    # decompressing the instance html (Iceberg tables get the same effect
    # from a sort order + metadata pruning). Generation stays parallel: the
    # instance range still spreads over all partitions. ``n_files`` sets the
    # output file count: a parquet file is effectively one row group here,
    # so files are the real scan-task granularity — many small files pack
    # evenly onto any core count (no last-wave quantization), where few big
    # ones leave cores idle in the final wave.
    rows = instances.unionByName(index_pages).repartitionByRange(
        n_files or max(spark.sparkContext.defaultParallelism, 8), "kind", "host_id", "i"
    )

    def render(batches):
        for pdf in batches:
            out = []
            for h, n, i, kind in zip(pdf["host_id"], pdf["n_instances"], pdf["i"], pdf["kind"]):
                h, n, i = int(h), int(n), int(i)
                if kind == "instance":
                    url = f"http://{host_name(h)}/article_{i}.html"
                    html = _instance_html(h, i, paragraphs)
                else:
                    url = f"http://{host_name(h)}/index.html?page={i}"
                    html = _index_html(h, i, page_size, n)
                out.append((url, html.encode("utf-8"), f"synthetic {h} {i}", "en"))
            yield pd.DataFrame(out, columns=["url", "html", "text", "lang"])

    pages = rows.mapInPandas(render, schema="url string, html binary, text string, lang string")
    return pages.select(
        "url",
        F.to_timestamp(F.lit(BASE_TS)).alias("warc_ts"),
        "html",
        "text",
        "lang",
    )


def synth_seeds(
    n_hosts: int,
    instances_per_host: int = 50,
    page_size: int = 50,
    skew: float = 0.7,
    sleep_time: float = 0.0,
) -> list[SeedSpec]:
    """One paginated index seed per host (the bench frontier workload)."""
    sizes = host_sizes(n_hosts, instances_per_host, skew)
    max_pages = max(1, -(-max(sizes) // page_size))
    return [
        SeedSpec(
            seed_id=h,
            seed_url=f"http://{host_name(h)}/index.html",
            index_selector="section#river section h1 a",
            extract_selector="h1.article-title",
            extract_kind="text",
            paginated=True,
            pagination_param="page",
            pagination_max_pages=max_pages,
            sleep_time_between_requests=sleep_time,
        )
        for h in range(n_hosts)
    ]
