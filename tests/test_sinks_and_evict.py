"""CSV/TSV sink semantics (reference scrape_to_csv duck-typing,
lib/upton.rb:169-199) and re-crawl eviction."""

import glob

import pytest

from upton_spark.crawler import Crawler, SeedSpec
from upton_spark.sources.catalog import ManifestCatalog
from upton_spark.sources.fixtures import BASE, fixture_pages
from tests import goldens


@pytest.fixture(scope="module")
def pages(spark):
    return fixture_pages(spark).cache()


def _read_lines(path):
    out = []
    for f in sorted(glob.glob(f"{path}/part-*")):
        with open(f, encoding="utf-8") as fh:
            out.extend(line.rstrip("\n") for line in fh)
    return out


def test_scrape_to_csv_table_explodes_rows(spark, pages, tmp_path):
    import csv
    import io

    seeds = [
        SeedSpec(
            0,
            url_list=[f"{BASE}/easttimor.html"],
            extract_selector=goldens.TABLE_XPATH,
            extract_kind="table",
            sleep_time_between_requests=0.0,
        )
    ]
    out = str(tmp_path / "table_csv")
    Crawler(spark, pages, seeds).scrape_to_csv(out)
    # cells may contain quoted newlines (valid CSV) — parse records, not lines
    raw = "\n".join(_read_lines(out))
    records = list(csv.reader(io.StringIO(raw)))
    normalized = [[cell.replace("\n", "") for cell in row] for row in records]
    assert normalized == goldens.EAST_TIMOR_PRIME_MINISTERS


def test_scrape_to_csv_text_one_line_per_doc(spark, pages, tmp_path):
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
    import csv
    import io

    out = str(tmp_path / "text_csv")
    Crawler(spark, pages, seeds).scrape_to_csv(out)
    raw = "\n".join(_read_lines(out))
    records = [row[0] if row else "" for row in csv.reader(io.StringIO(raw))]
    assert records == [
        "Webinar: How to Use Prescriber Checkup to Power Your Reporting",
        "",
        "A Prosecutor, a Wrongful Conviction and a Question of Justice",
        "Six Facts Lost in the IRS Scandal",
    ]


def test_scrape_to_tsv_list_single_line(spark, pages, tmp_path):
    seeds = [
        SeedSpec(
            0,
            url_list=[f"{BASE}/propublica.html"],
            extract_selector="#jamb.wNarrow #most-commented li a",
            extract_kind="list",
            sleep_time_between_requests=0.0,
        )
    ]
    out = str(tmp_path / "list_tsv")
    Crawler(spark, pages, seeds).scrape_to_tsv(out)
    lines = _read_lines(out)
    assert len(lines) == 1  # reference: whole list document = one row
    assert lines[0].split("\t") == goldens.MOST_COMMENTED_HEDS


def test_scrape_to_csv_partitioned_keeps_total_order(spark, pages, tmp_path):
    """single_file=False: parallel write with the order key as a sortable
    line prefix — lexicographic concat over sorted files reproduces the
    exact single-file line order (the at-scale sink)."""
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
    single = str(tmp_path / "single")
    parts = str(tmp_path / "parts")
    Crawler(spark, pages, seeds).scrape_to_csv(single)
    Crawler(spark, pages, seeds).scrape_to_csv(parts, single_file=False)
    keyed = sorted(_read_lines(parts))
    stripped = [line.split("\t", 1)[1] for line in keyed]
    assert stripped == _read_lines(single)


def test_evict_forces_refetch(spark, pages, tmp_path):
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
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    Crawler(spark, pages, seeds, catalog=cat).crawl()
    # evict one instance, re-crawl: exactly 1 live fetch, 3 cache hits
    c2 = Crawler(spark, pages, seeds, catalog=cat)
    c2.evict([f"{BASE}/prosecutor.html"])
    result = Crawler(spark, pages, seeds, catalog=cat).crawl()
    rows = result.lineage.filter("phase='instance'").collect()
    assert sum(r["fetched"] for r in rows) == 1
    assert sum(r["cache_hits"] for r in rows) == 3


def test_resume_and_evict_check_their_catalog(spark, pages, tmp_path):
    """resume() and evict() reject a crawler without a catalog, or with an
    empty one, by raising ValueError (an assert would vanish under -O)."""
    seeds = [SeedSpec(0, url_list=[f"{BASE}/webinar.html"])]
    no_catalog = Crawler(spark, pages, seeds)
    with pytest.raises(ValueError, match="resume requires a catalog"):
        no_catalog.resume()
    with pytest.raises(ValueError, match="evict requires a catalog"):
        no_catalog.evict([f"{BASE}/webinar.html"])
    empty = Crawler(spark, pages, seeds, catalog=ManifestCatalog(spark, str(tmp_path / "cat")))
    with pytest.raises(ValueError, match="nothing to resume"):
        empty.resume()
    with pytest.raises(ValueError, match="nothing to evict from"):
        empty.evict([f"{BASE}/webinar.html"])
    no_catalog.close()
    empty.close()


def test_scrape_guard_rejects_bulk_collects(spark, pages, monkeypatch):
    """scrape() mirrors the reference's list-returning API (a driver
    collect); past SCRAPE_MAX_ROWS it must raise and point at the
    distributed sinks instead of silently pulling a bulk crawl through the
    driver."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE

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
    monkeypatch.setattr(Crawler, "SCRAPE_MAX_ROWS", 2)
    with pytest.raises(ValueError, match="scrape_to_csv"):
        Crawler(spark, pages, seeds).scrape()
    monkeypatch.setattr(Crawler, "SCRAPE_MAX_ROWS", 100_000)
    assert len(Crawler(spark, pages, seeds).scrape()) == 4
