"""Corpus file pruning: the index phase and the extraction share one
url→file-map probe, which the extraction runs only while its frontier is
under half the corpus, and a ``pages_path`` that cannot be read is an
error, never a silent fall back to the full scan."""

import pytest

from upton_spark.crawler import Crawler, SeedSpec
from upton_spark.sources.corpus import synth_pages, synth_seeds
from upton_spark.sources.fixtures import BASE, fixture_pages

N_HOSTS, PER_HOST, N_FILES = 12, 8, 16


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("prune") / "pages")
    synth_pages(spark, N_HOSTS, PER_HOST, paragraphs=2, n_files=N_FILES).write.parquet(path)
    return path


@pytest.fixture
def probes(monkeypatch):
    """The file lists every url→file-map probe returns, in call order."""
    calls = []
    orig = Crawler._prune_file_list

    def spy(self, *a, **kw):
        calls.append(orig(self, *a, **kw))
        return calls[-1]

    monkeypatch.setattr(Crawler, "_prune_file_list", spy)
    return calls


def _rows(result):
    return sorted(
        tuple(r)
        for r in result.extracted.select(
            "seed_id", "instance_index", "pagination_index", "match_index", "url", "text"
        ).collect()
    )


def test_bulk_frontier_skips_the_extraction_probe(spark, corpus_path, probes):
    """A frontier holding every instance page (at least half the corpus
    rows) reads the whole corpus without probing the map: the index phase's
    probe is the crawl's only one, and it keeps the index pages' files."""
    pages = spark.read.parquet(corpus_path)
    crawler = Crawler(
        spark, pages, synth_seeds(N_HOSTS, PER_HOST),
        assume_unique_urls=True, pages_path=corpus_path,
    )
    result = crawler.crawl()
    rows = _rows(result)
    assert 2 * crawler._frontier_rows >= pages.count()
    assert len(probes) == 1
    assert probes[0] is not None and len(probes[0]) < N_FILES
    assert len(rows) == crawler._frontier_rows
    crawler.close()


def test_small_frontier_prunes_extraction_to_the_same_rows(spark, corpus_path, probes):
    """One host of many: the extraction reads fewer corpus files than the
    corpus has and extracts exactly the rows of the unpruned crawl."""
    pages = spark.read.parquet(corpus_path)
    seeds = synth_seeds(N_HOSTS, PER_HOST, sleep_time=2.5)[5:6]
    pruned = Crawler(spark, pages, seeds, assume_unique_urls=True, pages_path=corpus_path)
    result = pruned.crawl()
    read = [f for f in result.extracted.inputFiles() if "/pages/" in f]
    assert 0 < len(read) < N_FILES
    assert len(probes) == 2 and probes[1] is not None
    plain = Crawler(spark, pages, seeds, assume_unique_urls=True)
    expected = _rows(plain.crawl())
    assert expected
    assert _rows(result) == expected
    pruned.close()
    plain.close()


def test_unreadable_pages_path_raises(spark, tmp_path):
    missing = str(tmp_path / "no_such_corpus")
    seeds = [SeedSpec(0, url_list=[f"{BASE}/webinar.html"], extract_selector="h1")]
    crawler = Crawler(spark, fixture_pages(spark), seeds, pages_path=missing)
    with pytest.raises(ValueError, match="no_such_corpus"):
        crawler.crawl()
    crawler.close()
