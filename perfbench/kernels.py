"""Single-core extraction kernel microbench over a workload's own pages.

Times the ``html`` and ``urlkit`` kernels in the driver process, one page
at a time, on instance and index pages sampled from the workload's corpus.
The Arrow/pandas-UDF boundary is split into serialization and Python work
with three one-partition Spark jobs over the same rows: a plain length
aggregate (no Python), the same behind an identity ``pandas_udf`` (Arrow
round trip only) and behind ``extract_text_udf`` (round trip + extraction).
The seen-set Bloom build (``operators.dedup.build_bloom``, a ``local[4]``
Spark job) is timed over 2^16 URLs, the engine's activation threshold,
since no workload's seen-set reaches it.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F, types as T

from perfbench.inputs import EXTRACT_SELECTOR, INDEX_SELECTOR
from upton_spark import urlkit
from upton_spark.functions.udfs import extract_text_udf
from upton_spark.html import dom, extract, sax
from upton_spark.operators import dedup

BLOOM_URLS = 1 << 16

SAMPLE_INSTANCE = 16
SAMPLE_INDEX = 4
REPEATS = 5
UDF_BYTES = 8 << 20  # html bytes per UDF job


@F.pandas_udf(T.BinaryType())
def identity_udf(html: pd.Series) -> pd.Series:
    return html


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def sample_pages(workload) -> tuple[list[tuple[str, bytes]], list[tuple[str, bytes]]]:
    """Seeded samples of (url, html) instance pages and index pages."""
    import pyarrow.parquet as pq

    pages = []
    for path in sorted(glob.glob(os.path.join(workload.corpus_path, "*.parquet"))):
        t = pq.read_table(path, columns=["url"])
        pages += [(path, u) for u in t.column(0).to_pylist()]
    index_urls = [p for p in pages if "/index.html" in p[1]]
    instance_urls = [p for p in pages if "/article_" in p[1]]
    rng = workload.rng
    chosen = set(u for _, u in rng.sample(instance_urls, min(SAMPLE_INSTANCE, len(instance_urls))))
    chosen |= set(u for _, u in rng.sample(index_urls, min(SAMPLE_INDEX, len(index_urls))))
    found: dict[str, bytes] = {}
    for path in sorted({p for p, u in pages if u in chosen}):
        t = pq.read_table(path, columns=["url", "html"])
        for u, h in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
            if u in chosen:
                found[u] = h
    inst = sorted((u, h) for u, h in found.items() if "/article_" in u)
    idx = sorted((u, h) for u, h in found.items() if "/index.html" in u)
    return inst, idx


def microbench(spark, workload) -> dict[str, float]:
    inst, idx = sample_pages(workload)
    raw = [h for _, h in inst + idx]
    inst_html = [dom.decode_html_bytes(h) for _, h in inst]
    idx_html = [(u, dom.decode_html_bytes(h)) for u, h in idx]
    links = [
        (href, u)
        for u, h in idx_html
        for href in sax.stream_hrefs(h, INDEX_SELECTOR) or ()
        if href is not None
    ]
    ms = 1e3
    out = {
        "html.decode.ms_per_page":
            _median_time(lambda: [dom.decode_html_bytes(b) for b in raw]) * ms / len(raw),
        "html.sax.ms_per_page":
            _median_time(lambda: [sax.stream_texts(h, EXTRACT_SELECTOR) for h in inst_html])
            * ms / len(inst_html),
        "html.extract_text.ms_per_page":
            _median_time(lambda: [extract.extract_text(h, EXTRACT_SELECTOR) for h in inst_html])
            * ms / len(inst_html),
        "html.extract_links.ms_per_page":
            _median_time(lambda: [extract.extract_links(h, INDEX_SELECTOR, u) for u, h in idx_html])
            * ms / len(idx_html),
        "urlkit.resolve.us_per_link":
            _median_time(lambda: [urlkit.resolve_url(h, u) for h, u in links]) * 1e6 / len(links),
    }

    n_rows = max(64, UDF_BYTES * len(inst) // sum(len(h) for _, h in inst))
    rows = [(inst[k % len(inst)][1], EXTRACT_SELECTOR) for k in range(n_rows)]
    df = spark.createDataFrame(rows, "html binary, sel string").repartition(1).cache()
    df.count()
    try:
        def job(col):
            return lambda: df.select(col.alias("v")).agg(F.sum(F.length("v"))).collect()

        base = _median_time(job(F.col("html")))
        roundtrip = _median_time(job(identity_udf(F.col("html"))))
        udf_text = _median_time(job(extract_text_udf(F.col("html"), F.col("sel"))))
    finally:
        df.unpersist()
    out["udf.arrow_roundtrip.ms_per_page"] = (roundtrip - base) * ms / n_rows
    out["udf.extract_text.ms_per_page"] = (udf_text - base) * ms / n_rows

    urls = spark.range(BLOOM_URLS).select(
        F.format_string("http://host%d.example.org/article_%d.html",
                        F.col("id") % 1000, F.col("id")).alias("url")
    )
    seen = dedup.with_url_hashes(urls).cache()
    seen.count()
    try:
        out["dedup.build_bloom.s_per_65536_urls"] = _median_time(
            lambda: dedup.build_bloom(seen, n_items=BLOOM_URLS)
        )
    finally:
        seen.unpersist()
    return out
