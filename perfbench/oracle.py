"""Output oracle, independent of ``upton_spark.html``.

Expected text comes from the raw html bytes of the written corpus, read back
with pyarrow and matched with a plain regex over the corpus's fixed markup
(``<h1 class="article-title">...</h1>``, sources/corpus.py). The expected
URL set and its (seed_id, pagination_index, instance_index) order come from
the corpus definition (inputs.CorpusSpec), not from any crawl.
"""

from __future__ import annotations

import glob
import os
import re

import pyarrow.parquet as pq

TITLE_RE = re.compile(rb'<h1 class="article-title">(.*?)</h1>', re.S)

# one extracted row: (seed_id, pagination_index, instance_index, url, text)
Row = tuple[int, int, int, str, str]


def expected_rows(spec, corpus_path: str) -> list[Row]:
    """The rows a correct crawl of ``spec`` extracts, in crawl order."""
    texts: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(corpus_path, "*.parquet"))):
        for batch in pq.ParquetFile(path).iter_batches(batch_size=64, columns=["url", "html"]):
            for url, html in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                m = TITLE_RE.search(html)
                if m:
                    texts[url] = m.group(1).decode("utf-8")
    return [(s, p, i, url, texts[url]) for s, p, i, url in spec.expected_frontier()]


def check(expected: list[Row], rows: list[Row], frontier_rows: int) -> list[str]:
    """Problems with one crawl's output; empty when it is correct."""
    problems = []
    if frontier_rows != len(expected):
        problems.append(f"frontier has {frontier_rows} rows, expected {len(expected)}")
    got = sorted(rows)
    if len(got) != len(expected):
        problems.append(f"extracted {len(got)} rows, expected {len(expected)}")
    for g, e in zip(got, expected):
        if g != e:
            problems.append(f"row {g!r} != expected {e!r}")
            break
    return problems


def self_check(expected: list[Row]) -> None:
    """Raise unless one corrupted byte of text trips the oracle."""
    seed, pag, idx, url, text = expected[len(expected) // 2]
    flipped = chr(ord(text[0]) ^ 1) + text[1:]
    corrupted = list(expected)
    corrupted[len(expected) // 2] = (seed, pag, idx, url, flipped)
    if not check(expected, corrupted, len(expected)):
        raise RuntimeError("oracle self-check: a corrupted text byte went unnoticed")
    if check(expected, list(expected), len(expected)):
        raise RuntimeError("oracle self-check: the expected rows fail their own check")
