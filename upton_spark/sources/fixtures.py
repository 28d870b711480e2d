"""Golden fixture corpus — the reference's WebMock universe as a ``pages`` table.

Builds the Common-Crawl-style ``pages`` DataFrame (schemas.PAGES) holding the
nine reference fixture pages under ``http://www.example.com/...``, mirroring
the WebMock stubs (spec/upton_spec.rb:44-53,140-153) including the paginated
search aliases (``?p=1`` = page 1 body, ``?p=3`` = empty body — the
pagination terminator).

Every fixture read resolves through ``FIXTURE_DIR``: the reference checkout's
spec/data directory when it exists, else the hand-written pages under
``tests/fixtures/``. Those pages are written from the golden literals in
``tests/goldens.py`` (same selectors, same extracted strings), not copied
from the reference, so byte-identity against the reference holds only when
``REFERENCE_FIXTURES`` is true.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

from pyspark.sql import DataFrame, SparkSession

from upton_spark import schemas

FIXTURE_DIR = "/root/reference/spec/data"
REFERENCE_FIXTURES = os.path.isdir(FIXTURE_DIR)
if not REFERENCE_FIXTURES:
    FIXTURE_DIR = os.path.normpath(
        os.path.join(os.path.dirname(__file__), os.pardir, os.pardir, "tests", "fixtures")
    )
# what a run's goldens were checked against, for reports and the demo
FIXTURE_LABEL = "reference spec/data" if REFERENCE_FIXTURES else "in-repo fixtures"
BASE = "http://www.example.com"

# Deterministic capture timestamp (never wall-clock — resume/replay must be
# byte-stable).
WARC_TS = dt.datetime(2013, 7, 1, 0, 0, 0)

_FIXTURES = [
    "propublica.html",
    "propublica-relative.html",
    "propublica_search.html",
    "propublica_search_page_2.html",
    "webinar.html",
    "discussion.html",
    "prosecutor.html",
    "sixfacts.html",
    "easttimor.html",
]

# WebMock alias stubs: (url, fixture file or None for empty body)
_ALIASES = [
    (f"{BASE}/propublica_search.html?p=1", "propublica_search.html"),
    (f"{BASE}/propublica_search.html?p=2", "propublica_search_page_2.html"),
    (f"{BASE}/propublica_search.html?p=3", None),
    (f"{BASE}/", None),  # bare-host stub used by the politeness specs
]


def fixture_paths() -> list[str]:
    """Every fixture page under FIXTURE_DIR; raises on an empty directory so
    a test parametrized over it fails instead of collecting zero cases."""
    paths = sorted(glob.glob(os.path.join(FIXTURE_DIR, "*.html")))
    if not paths:
        raise FileNotFoundError(f"no fixture pages under {FIXTURE_DIR}")
    return paths


def _read(name: str) -> bytes:
    with open(os.path.join(FIXTURE_DIR, name), "rb") as f:
        return f.read()


def fixture_rows() -> list[tuple]:
    rows = []
    for name in _FIXTURES:
        rows.append((f"{BASE}/{name}", WARC_TS, _read(name), None, "en"))
    for url, name in _ALIASES:
        rows.append((url, WARC_TS, _read(name) if name else b"", None, "en"))
    return rows


def fixture_pages(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(fixture_rows(), schema=schemas.PAGES)
