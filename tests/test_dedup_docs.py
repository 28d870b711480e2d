"""Document-dedup operator tests: exact groups, MinHash+LSH end-to-end
detection, simhash stability/locality, n-gram Jaccard.

Reference parity note: the reference's only dedup is the URL stash
(lib/upton/downloader.rb:126-128); these operators are the engine-side
training-data-pipeline extensions (SURVEY.md §2.4 'distinct' + the
dedup mandate in the build brief).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from upton_spark.operators.dedup_docs import (
    exact_duplicates,
    near_duplicates_minhash,
    simhash,
    word_ngram_jaccard_pairs,
)

BASE = (
    "the city council approved the water budget after a public review of the "
    "county audit records and the school health program for the fiscal year "
) * 6
NEAR = BASE + "with one extra trailing clause appended"
OTHER = (
    "completely unrelated text about migratory bird patterns over coastal "
    "wetlands during early spring observation seasons near the estuary "
) * 6


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en"),
        (25, NEAR, "en"),  # near-dup of 0
        (50, OTHER, "en"),
        (75, BASE, "en"),  # exact dup of 0
        (100, "tiny", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2
    assert sorted(groups[0]["doc_ids"]) == [0, 75]


def test_minhash_detects_near_and_exact_dups(docs):
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in near_duplicates_minhash(docs, threshold=0.5).collect()
    }
    assert (0, 75) in pairs and pairs[(0, 75)] == 1.0  # exact dup
    assert (0, 25) in pairs and pairs[(0, 25)] > 0.5  # near dup survives verify
    assert all(50 not in p for p in pairs)  # unrelated doc never pairs


def test_minhash_verify_kills_false_positives(docs):
    # at threshold 0.999 only the exact dup survives the exact-Jaccard verify
    pairs = [
        (r["a"], r["b"]) for r in near_duplicates_minhash(docs, threshold=0.999).collect()
    ]
    assert pairs == [(0, 75)]


def test_minhash_pairs_contain_exact_ngram_pairs(spark):
    """MinHash near-dup output must be a superset of the exact word-5-gram
    Jaccard pairs above threshold on the same docs — the containment check
    tying the estimate to its exact sibling. Corpus: real sf0.01 documents
    plus deterministic near-copies (one trailing clause appended) and exact
    copies, since the raw sample contains no true near-dups."""
    base = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter("doc_id % 25 = 0")
        .select("doc_id", "text")
    )
    near = base.select((F.col("doc_id") + 1000).alias("doc_id"),
                       F.concat("text", F.lit(" with one extra trailing clause")).alias("text"))
    exact_copy = base.select((F.col("doc_id") + 2000).alias("doc_id"), "text")
    docs = base.unionByName(near).unionByName(exact_copy)
    exact = {
        (r["a"], r["b"])
        for r in word_ngram_jaccard_pairs(docs, n=5, sample_mod=1).collect()
        if r["ngram_jaccard"] >= 0.8
    }
    mh = {
        (r["a"], r["b"])
        for r in near_duplicates_minhash(docs, threshold=0.5, shingle_k=5).collect()
    }
    assert len(exact) >= 40  # every (orig, near, copy) triple pairs up
    assert exact <= mh


def test_simhash_deterministic_and_local(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    sh2 = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh == sh2  # deterministic across runs
    assert sh[0] == sh[75]  # identical text → identical hash
    hd_near = bin((sh[0] ^ sh[25]) & ((1 << 64) - 1)).count("1")
    hd_far = bin((sh[0] ^ sh[50]) & ((1 << 64) - 1)).count("1")
    assert hd_near < hd_far  # locality: near-dup closer in Hamming space


def test_word_ngram_jaccard(docs):
    pairs = {
        (r["a"], r["b"]): r["ngram_jaccard"]
        for r in word_ngram_jaccard_pairs(docs, n=3, sample_mod=25).collect()
    }
    assert pairs[(0, 75)] == 1.0
    assert 0.5 < pairs[(0, 25)] < 1.0
    assert pairs[(0, 50)] == 0.0
    # doc 100 has < 3 tokens → excluded entirely
    assert all(100 not in p for p in pairs)


def test_minhash_plan_has_no_cartesian(docs):
    plan = near_duplicates_minhash(docs, threshold=0.5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_components_label_propagation(spark):
    """Connected components over a hand-built pair graph: chains collapse
    transitively (label-hop > 1), components don't merge, singleton nodes
    outside the pair table are absent by contract."""
    from upton_spark.operators.dedup_docs import duplicate_components

    pairs = spark.createDataFrame(
        # component {1,2,3,4} via a chain; {10,11}; {20,21,22} via a star
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "a long, b long",
    )
    got = {r["doc_id"]: r["component"] for r in duplicate_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_duplicate_components_long_chain_converges(spark):
    """A 12-node path needs multiple propagation rounds — exercises the
    fixpoint loop beyond one hop."""
    from upton_spark.operators.dedup_docs import duplicate_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "a long, b long"
    )
    rows = duplicate_components(pairs).collect()
    assert {r["component"] for r in rows} == {100}
    assert len(rows) == 13


def test_duplicate_components_nonconvergence_raises(spark):
    """Partially-propagated labels must never be returned silently: a
    max_iters too small for the graph's label-hop diameter raises instead
    of handing callers wrong components (which would under-dedup)."""
    import pytest

    from upton_spark.operators.dedup_docs import duplicate_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_components(pairs, max_iters=2)


def test_first_occurrence_exact_for_64bit_doc_ids(spark):
    """The (doc_id, pos) struct-min first-occurrence key is exact for ids
    past 2^43 (where the old scalar doc_id*2^20+pos overflowed int64 and
    silently corrupted which occurrence is 'first')."""
    from upton_spark.operators.dedup_docs import exact_substring_dedup, paragraph_dedup

    big, bigger = 2**50, 2**50 + 1
    rows = [(bigger, "a b c d e f"), (big, "a b c x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    # globally-first is the SMALLER doc_id, regardless of magnitude
    assert out[big]["n_kept"] == 2
    assert out[bigger]["clean_text"] == "d e f"
    es = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, k=3).collect()
    }
    assert es[big]["n_removed"] == 0
    assert es[bigger]["n_removed"] == 3  # the shared 'a b c' span leaves


def test_paragraph_dedup_first_occurrence_and_rebuild(spark):
    """Repeated 3-word windows survive only at their globally-first
    (doc_id, pos); documents rebuild from survivors in position order."""
    from upton_spark.operators.dedup_docs import paragraph_dedup

    rows = [
        (0, "a b c d e f"),          # paras: "a b c", "d e f"
        (1, "a b c x y z"),          # "a b c" dup of doc0#0; "x y z" new
        (2, "x y z a b c"),          # both already seen
        (3, "p q r p q r"),          # second window dups the first IN-doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert (out[0]["n_paras"], out[0]["n_kept"], out[0]["clean_text"]) == (2, 2, "a b c\nd e f")
    assert (out[1]["n_paras"], out[1]["n_kept"], out[1]["clean_text"]) == (2, 1, "x y z")
    assert (out[2]["n_paras"], out[2]["n_kept"], out[2]["clean_text"]) == (2, 0, "")
    assert (out[3]["n_paras"], out[3]["n_kept"], out[3]["clean_text"]) == (2, 1, "p q r")


def test_paragraph_dedup_all_codegen(spark):
    from upton_spark.operators.dedup_docs import paragraph_dedup

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = paragraph_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunk_documents_windows_and_overlap(spark):
    from upton_spark.operators.textops import chunk_documents

    def words(n):
        return " ".join(f"t{i}" for i in range(n))

    rows = [(0, words(10)), (1, words(4)), (2, words(5)), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, window=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc0: 10 tokens -> ceil(6/3)+1 = 3 chunks at 0,3,6: sizes 4,4,4
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in c0] == [4, 4, 4]
    assert c0[0]["chunk_text"] == "t0 t1 t2 t3"
    assert c0[1]["chunk_text"] == "t3 t4 t5 t6"  # 1-token overlap
    assert c0[2]["chunk_text"] == "t6 t7 t8 t9"
    # doc1: 4 tokens -> exactly one full window
    assert [(r["chunk_id"], r["n_tokens"]) for r in by_doc[1]] == [(0, 4)]
    # doc2: 5 tokens -> chunks at 0 and 3 (short tail)
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert [(r["chunk_id"], r["n_tokens"]) for r in c2] == [(0, 4), (1, 2)]
    # empty doc filtered out
    assert 3 not in by_doc


def test_exact_substring_dedup_keeps_first_occurrence(spark):
    """Every duplicated 8-token span is stripped from all but the globally
    first (doc_id, pos) occurrence; overlapping spans merge; short and
    empty docs pass through untouched."""
    from upton_spark.operators.dedup_docs import exact_substring_dedup

    boiler = "copyright footer all rights reserved contact site admin"  # 8 tokens
    rows = [
        (0, "alpha beta gamma " + boiler),
        (1, "delta epsilon zeta " + boiler),
        (2, boiler + " unique tail here"),
        (3, "short doc"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in exact_substring_dedup(df, k=8).collect()}
    assert out[0]["n_removed"] == 0  # first occurrence keeps the span
    assert out[0]["clean_text"].endswith(boiler)
    assert (out[1]["n_removed"], out[1]["clean_text"]) == (8, "delta epsilon zeta")
    assert (out[2]["n_removed"], out[2]["clean_text"]) == (8, "unique tail here")
    assert (out[3]["n_tokens"], out[3]["n_removed"]) == (2, 0)
    assert (out[4]["n_tokens"], out[4]["clean_text"]) == (0, "")


def test_exact_substring_dedup_merges_overlapping_spans(spark):
    """A 10-token repeated passage yields 3 overlapping duplicated 8-grams
    in the copy — they merge into ONE 10-token removal, not 24."""
    from upton_spark.operators.dedup_docs import exact_substring_dedup

    passage = "one two three four five six seven eight nine ten"  # 10 tokens
    rows = [(0, passage + " original suffix"), (1, "prefix " + passage)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in exact_substring_dedup(df, k=8).collect()}
    assert out[0]["n_removed"] == 0
    assert (out[1]["n_removed"], out[1]["clean_text"]) == (10, "prefix")


def test_paragraph_dedup_matches_reference_on_random_corpora(spark):
    """Property vs a plain-python reference on small random vocabularies
    (forced collisions): first-occurrence keep rule and ordered rebuild."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from upton_spark.operators.dedup_docs import paragraph_dedup

    W = 3

    def reference(texts):
        seen = {}
        out = {}
        paras_by_doc = {}
        for doc_id, text in enumerate(texts):
            toks = text.split(" ")
            paras = [
                " ".join(toks[k * W:(k + 1) * W])
                for k in range((len(toks) + W - 1) // W)
            ]
            paras_by_doc[doc_id] = paras
            for pos, p in enumerate(paras):
                seen.setdefault(p, doc_id * (1 << 20) + pos)
        for doc_id, paras in paras_by_doc.items():
            kept = [
                p for pos, p in enumerate(paras)
                if seen[p] == doc_id * (1 << 20) + pos
            ]
            out[doc_id] = (len(paras), len(kept), "\n".join(kept))
        return out

    word = st.sampled_from(["a", "b", "c"])
    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.lists(word, min_size=1, max_size=12), min_size=1, max_size=8))
    def run(docs):
        texts = [" ".join(ws) for ws in docs]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_paras"], r["n_kept"], r["clean_text"])
            for r in paragraph_dedup(df, words_per_para=W).collect()
        }
        assert got == reference(texts)

    run()


class TestCdcChunks:
    def _tok_stream(self, n, seed=5):
        import random

        rng = random.Random(seed)
        return [f"w{rng.randrange(500)}" for _ in range(n)]

    def test_reconstruction_and_max_len(self, spark):
        from upton_spark.operators.dedup_docs import cdc_chunks

        text = " ".join(self._tok_stream(300))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            cdc_chunks(df, mask_bits=4, max_len=24).collect(),
            key=lambda r: r["chunk_id"],
        )
        assert all(1 <= r["n_tokens"] <= 24 for r in rows)
        assert " ".join(r["chunk_text"] for r in rows) == text

    def test_boundaries_match_python_replay(self, spark):
        """The cut rule is exactly (md5_number_lower(lower(tok)) >> 2) %
        2^mask_bits == 0 — replayed in pure Python per token."""
        import hashlib

        from upton_spark.operators.dedup_docs import cdc_chunks

        toks = self._tok_stream(120, seed=9)
        df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
        rows = sorted(
            cdc_chunks(df, mask_bits=4, max_len=1000).collect(),
            key=lambda r: r["chunk_id"],
        )

        def h(t):
            return int.from_bytes(hashlib.md5(t.lower().encode()).digest()[8:16], "little") >> 2

        expect, cur = [], []
        for i, t in enumerate(toks, start=1):
            cur.append(t)
            if h(t) % 16 == 0 or i == len(toks):
                expect.append(" ".join(cur))
                cur = []
        assert [r["chunk_text"] for r in rows] == expect

    def test_shift_resistance_vs_fixed_windows(self, spark):
        """THE content-defined property: prepending one token re-aligns
        every chunk after the first boundary (hashes shared with the
        original), while fixed-width windows shift everywhere."""
        from upton_spark.operators.dedup_docs import cdc_chunks

        toks = self._tok_stream(400, seed=13)
        df = spark.createDataFrame(
            [(1, " ".join(toks)), (2, " ".join(["inserted"] + toks))],
            "doc_id long, text string",
        )
        out = cdc_chunks(df, mask_bits=4, max_len=64).collect()
        a = {r["chunk_hash"] for r in out if r["doc_id"] == 1}
        b = {r["chunk_hash"] for r in out if r["doc_id"] == 2}
        # all of doc 1's chunks except (at most) the first re-align in doc 2
        assert len(a - b) <= 1
        assert len(a) >= 10  # the property was tested on a real chunking


class TestIncrementalNearDups:
    def test_asymmetric_pairs_match_symmetric_crossing_pairs(self, spark):
        """The incremental (new x old) output must equal exactly the
        crossing pairs of a full symmetric run over new+old — band hashes
        are shared, so collision behavior is identical — and must never
        emit new x new or old x old pairs."""
        from upton_spark.operators.dedup_docs import (
            incremental_near_dups,
            near_duplicates_minhash,
        )

        base = "the quick brown fox jumps over the lazy dog again and again "
        rows = [
            (1, base * 4),
            (2, base * 4 + "tail change"),       # near-dup of 1
            (3, "completely different text about spark shuffles " * 5),
            (4, base * 4 + "other tail"),        # near-dup of 1 and 2
            (5, "another unrelated document entirely " * 6),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        new = df.filter("doc_id % 2 = 0")     # {2, 4}
        old = df.filter("doc_id % 2 = 1")     # {1, 3, 5}
        inc = {
            (r["new_id"], r["old_id"]): round(r["jaccard"], 6)
            for r in incremental_near_dups(new, old, threshold=0.5).collect()
        }
        assert all(n % 2 == 0 and o % 2 == 1 for n, o in inc)
        full = near_duplicates_minhash(df, threshold=0.5).collect()
        crossing = {
            ((r["a"], r["b"]) if r["a"] % 2 == 0 else (r["b"], r["a"])): round(
                r["jaccard"], 6
            )
            for r in full
            if (r["a"] % 2) != (r["b"] % 2)
        }
        assert inc == crossing
        assert (2, 1) in inc and (4, 1) in inc  # the planted near-dups

    def test_precomputed_old_bands_identical_to_inline(self, spark, tmp_path):
        """The continuous-crawl path: passing the history's persisted
        minhash_band_table must yield bit-identical results to in-line
        recomputation (old_bands is a pure function of the old texts).
        Persisted means a parquet round trip, which must keep the banding
        parameters the call checks."""
        from upton_spark.operators.dedup_docs import (
            incremental_near_dups,
            minhash_band_table,
        )

        base = "the quick brown fox jumps over the lazy dog again and again "
        rows = [
            (1, base * 4),
            (2, base * 4 + "tail change"),
            (3, "completely different text about spark shuffles " * 5),
            (4, base * 4 + "other tail"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        new = df.filter("doc_id % 2 = 0")
        old = df.filter("doc_id % 2 = 1")
        inline = sorted(
            map(tuple, incremental_near_dups(new, old, threshold=0.5).collect())
        )
        minhash_band_table(old).write.parquet(str(tmp_path / "bands"))
        pre = spark.read.parquet(str(tmp_path / "bands"))
        reused = sorted(
            map(
                tuple,
                incremental_near_dups(
                    new, old, threshold=0.5, old_bands=pre
                ).collect(),
            )
        )
        assert inline == reused and inline

    def test_old_bands_built_with_other_params_raise(self, spark):
        """A history banded with other parameters collides on almost no
        band, so it must be refused, as must a table with no parameters."""
        from upton_spark.operators.dedup_docs import (
            incremental_near_dups,
            minhash_band_table,
        )

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"), (2, "eta theta iota kappa")],
            "doc_id long, text string",
        )
        new = df.filter("doc_id = 2")
        old = df.filter("doc_id = 1")
        with pytest.raises(ValueError, match="n_bands"):
            incremental_near_dups(
                new, old, n_bands=16, old_bands=minhash_band_table(old, n_bands=8)
            )
        bare = spark.createDataFrame(
            minhash_band_table(old).collect(), "doc_id long, band int, band_hash long"
        )
        with pytest.raises(ValueError, match="old_bands"):
            incremental_near_dups(new, old, old_bands=bare)
