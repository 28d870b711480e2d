"""Tests for the search-side primitives (tf-idf keywords, sharded inverted
index) and quality-aware duplicate representative selection."""

from pyspark.sql import functions as F


class TestSelectRepresentatives:
    def _members(self, spark):
        # two clusters: {1,2,3} labeled 1, {10,11} labeled 10
        return spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
            "doc_id long, component long",
        )

    def test_highest_quality_wins_ties_break_low_doc_id(self, spark):
        from upton_spark.operators.dedup_docs import select_representatives

        quality = spark.createDataFrame(
            # cluster 1: doc 3 has the top score; cluster 10: 10 and 11 tie
            [(1, 100), (2, 250), (3, 900), (10, 500), (11, 500)],
            "doc_id long, quality_micro long",
        )
        rows = {
            r["component"]: r
            for r in select_representatives(self._members(spark), quality).collect()
        }
        assert rows[1]["rep_doc_id"] == 3 and rows[1]["rep_quality"] == 900
        assert rows[1]["n_members"] == 3 and rows[1]["n_dropped"] == 2
        # tie -> lowest doc_id (first-occurrence convention)
        assert rows[10]["rep_doc_id"] == 10 and rows[10]["rep_quality"] == 500

    def test_unscored_docs_rank_last_and_surface_null(self, spark):
        from upton_spark.operators.dedup_docs import select_representatives

        quality = spark.createDataFrame(
            # doc 3 unscored; doc 1/2 scored -> 2 wins. cluster 10 fully
            # unscored -> representative = lowest doc_id, rep_quality NULL
            [(1, 7), (2, 9)],
            "doc_id long, quality_micro long",
        )
        rows = {
            r["component"]: r
            for r in select_representatives(self._members(spark), quality).collect()
        }
        assert rows[1]["rep_doc_id"] == 2
        assert rows[10]["rep_doc_id"] == 10 and rows[10]["rep_quality"] is None

    def test_single_exchange_plan_no_window_no_python(self, spark):
        from upton_spark.operators.dedup_docs import select_representatives

        quality = spark.createDataFrame(
            [(1, 7)], "doc_id long, quality_micro long"
        )
        out = select_representatives(self._members(spark), quality)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestTfidfTopk:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "apple banana apple cherry"),
                (2, "banana cherry cherry"),
                (3, "apple zebra"),
            ],
            "doc_id long, text string",
        )

    def test_scores_and_ranks_match_hand_math(self, spark):
        import math

        from upton_spark.operators.textops import tfidf_topk

        rows = tfidf_topk(self._docs(spark), k=2).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for v in by_doc.values():
            v.sort(key=lambda r: r["rank"])
        # doc 1: apple tf=2 df=2, cherry tf=1 df=2, banana tf=1 df=2
        # idf(df=2) = ln(4/3); apple score 2*ln(4/3) tops; banana beats
        # cherry on the term tiebreak at equal (tf, df)
        assert [r["term"] for r in by_doc[1]] == ["apple", "banana"]
        assert abs(by_doc[1][0]["score"] - round(2 * math.log(4 / 3), 6)) < 1e-9
        # doc 3: zebra df=1 -> idf ln(2) beats apple's ln(4/3)
        assert [r["term"] for r in by_doc[3]] == ["zebra", "apple"]
        assert all(len(v) <= 2 for v in by_doc.values())

    def test_rank_reads_rounded_score(self, spark):
        """Doc 0 has a at tf=2/df=11 and b at tf=1/df=8 over 15 docs: both
        score ln(16/9), but the raw doubles differ in the last ulp (b's is
        larger in Spark). The rounded score ties them, and a wins on term."""
        from upton_spark.operators.textops import tfidf_topk

        docs = [(0, "a a b")]
        docs += [(i, "a b" if i <= 7 else "a") for i in range(1, 11)]
        docs += [(i, "c") for i in range(11, 15)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        top = tfidf_topk(df, k=1).filter("doc_id = 0").collect()
        assert [(r["term"], r["tf"], r["df"]) for r in top] == [("a", 2, 11)]

    def test_no_driver_action_for_corpus_size(self, spark):
        """N arrives as a broadcast 1-row aggregate: building the plan must
        not run any job (lazy end-to-end)."""
        from upton_spark.operators.textops import tfidf_topk

        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        out = tfidf_topk(self._docs(spark), k=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        after = len(tracker.getJobIdsForGroup(None) or [])
        assert after == before
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestInvertedIndex:
    def test_postings_sorted_and_df_counts(self, spark):
        from upton_spark.operators.textops import inverted_index

        df = spark.createDataFrame(
            [(3, "b a a"), (1, "a c"), (2, "a b")],
            "doc_id long, text string",
        )
        rows = {
            (r["term"], r["shard"]): r for r in inverted_index(df).collect()
        }
        assert rows[("a", 0)]["postings"] == [1, 2, 3]
        assert rows[("a", 0)]["df"] == 3
        assert rows[("b", 0)]["postings"] == [2, 3]
        assert rows[("c", 0)]["postings"] == [1]

    def test_head_terms_shard_cold_terms_stay_whole(self, spark):
        from upton_spark.operators.textops import inverted_index

        # 'the' appears in all 40 docs, 'rare' in one
        df = spark.createDataFrame(
            [(i, "the" + (" rare" if i == 7 else "")) for i in range(40)],
            "doc_id long, text string",
        )
        out = inverted_index(df, shard_threshold=10, n_shards=4).collect()
        the_shards = sorted(r["shard"] for r in out if r["term"] == "the")
        assert the_shards == [0, 1, 2, 3]
        # shard membership is doc % n_shards, engine-portable
        for r in out:
            if r["term"] == "the":
                assert all(p % 4 == r["shard"] for p in r["postings"])
        assert sum(r["shard_docs"] for r in out if r["term"] == "the") == 40
        rare = [r for r in out if r["term"] == "rare"]
        assert len(rare) == 1 and rare[0]["shard"] == 0


class TestCharsetSniffing:
    def test_decode_html_bytes_bom_precedence(self):
        from upton_spark.html.dom import decode_html_bytes

        body = "<html><p>café</p></html>"
        assert decode_html_bytes(b"\xef\xbb\xbf" + body.encode("utf-8")) == body
        assert decode_html_bytes(b"\xff\xfe" + body.encode("utf-16-le")) == body
        assert decode_html_bytes(b"\xfe\xff" + body.encode("utf-16-be")) == body
        # the BOM beats a lying meta declaration (WHATWG precedence)
        lying = '<meta charset="iso-8859-1">café'
        assert decode_html_bytes(b"\xef\xbb\xbf" + lying.encode("utf-8")) == lying
        # meta charset still honored without a BOM
        latin = '<meta charset="iso-8859-1">caf\xe9'
        assert decode_html_bytes(latin.encode("iso-8859-1")) == latin

    def test_detect_charset_columns(self, spark):
        from upton_spark.operators.multimodal import detect_charset

        rows = [
            (0, bytearray(b"<html>plain</html>")),
            (1, bytearray(b"\xef\xbb\xbf<html>bom</html>")),
            (2, bytearray(b'<meta charset="ISO-8859-1">caf\xe9')),
            (3, bytearray(b"\xff\xfe" + "<html>".encode("utf-16-le"))),
            # BOM beats the lying declaration
            (4, bytearray(b'\xfe\xff<meta charset="utf-8">')),
            (5, None),
            (6, bytearray(b"")),
        ]
        df = spark.createDataFrame(rows, "doc_id long, html binary")
        out = {r["doc_id"]: r for r in detect_charset(df).collect()}
        assert (out[0]["charset"], out[0]["bom"], out[0]["declared"]) == (
            "utf-8", None, None,
        )
        assert (out[1]["charset"], out[1]["bom"]) == ("utf-8", "utf-8")
        assert (out[2]["charset"], out[2]["declared"]) == (
            "iso-8859-1", "iso-8859-1",
        )
        assert (out[3]["charset"], out[3]["bom"]) == ("utf-16le", "utf-16le")
        assert (out[4]["charset"], out[4]["declared"]) == ("utf-16be", "utf-8")
        assert out[5]["charset"] is None and out[6]["charset"] is None

    def test_detect_charset_is_pure_codegen(self, spark):
        from upton_spark.operators.multimodal import detect_charset

        df = spark.createDataFrame(
            [(0, bytearray(b"<html>"))], "doc_id long, html binary"
        )
        plan = detect_charset(df)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # the meta probe decodes only the sliced head, never the whole page
        assert "cast(substring(html#" in plan
        assert "cast(html#" not in plan


class TestCompressionRatio:
    def test_ratio_matches_zlib_and_bands_separate(self, spark):
        import zlib

        from upton_spark.operators.textops import compression_ratio

        rep = "the the the the " * 50          # template: compresses hard
        prose = "a quick brown fox jumps over the lazy dog and keeps going"
        df = spark.createDataFrame(
            [(1, rep), (2, prose), (3, "")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
        for doc_id, text in [(1, rep), (2, prose)]:
            raw = len(text.encode("utf-8"))
            dl = len(zlib.compress(text.encode("utf-8"), 6))
            assert out[doc_id]["raw_bytes"] == raw
            assert out[doc_id]["deflate_bytes"] == dl
            assert out[doc_id]["ratio_micro"] == dl * 1_000_000 // raw
        assert out[1]["ratio_micro"] < out[2]["ratio_micro"]
        assert out[3]["ratio_micro"] is None

    def test_null_text_counts_as_empty_consistently(self, spark):
        """NULL text must yield raw_bytes 0 (matching the UDF's (t or '')
        deflate of the empty string), not a null-propagated raw with a
        non-null deflate — the generation-time oracle replays NULL as
        empty."""
        import zlib

        from upton_spark.operators.textops import compression_ratio

        df = spark.createDataFrame([(1, None)], "doc_id long, text string")
        r = compression_ratio(df).collect()[0]
        assert r["raw_bytes"] == 0
        assert r["deflate_bytes"] == len(zlib.compress(b"", 6))
        assert r["ratio_micro"] is None

    def test_map_only_single_arrow_stage(self, spark):
        from upton_spark.operators.textops import compression_ratio

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = compression_ratio(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert plan.count("ArrowEvalPython") == 1
        assert "BatchEvalPython" not in plan


class TestSearchPrimitiveProperties:
    """Randomized-instance invariants (seeded, one Spark job per property —
    the resolve_redirects random-graph pattern, not per-example hypothesis:
    a Spark action per generated example would be pathologically slow)."""

    def _random_docs(self, n=120, seed=17):
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(40)]
        return [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
            for i in range(n)
        ]

    def test_tfidf_matches_pure_python_on_random_corpus(self, spark):
        import math

        from upton_spark.operators.textops import tfidf_topk

        rows = self._random_docs()
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = tfidf_topk(df, k=4).collect()
        # pure-Python reference
        tf: dict = {}
        for d, t in rows:
            for w in t.lower().split():
                tf[(d, w)] = tf.get((d, w), 0) + 1
        dfreq: dict = {}
        for (_, w), _c in tf.items():
            dfreq[w] = dfreq.get(w, 0) + 1
        n_docs = len(rows)
        by_doc: dict = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for d, recs in by_doc.items():
            recs.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in recs] == list(range(1, len(recs) + 1))
            # scores non-increasing; the tiebreak never inverts
            for a, b in zip(recs, recs[1:]):
                assert a["score"] > b["score"] or (
                    a["score"] == b["score"] and a["term"] < b["term"]
                )
            for r in recs:
                assert tf[(d, r["term"])] == r["tf"]
                assert dfreq[r["term"]] == r["df"]
                expect = r["tf"] * math.log((n_docs + 1) / (r["df"] + 1))
                assert abs(r["score"] - round(expect, 6)) < 1e-9
            # top-k really is top-k: every omitted term scores <= the cutoff
            if len(recs) == 4:
                # an omitted term must NOT outrank the kth kept entry under
                # the (score desc, term asc) order: it may only score lower,
                # or tie with a lexicographically LATER term
                cutoff = (recs[-1]["score"], recs[-1]["term"])
                for (dd, w), c in tf.items():
                    if dd == d and w not in {r["term"] for r in recs}:
                        sc = round(c * math.log((n_docs + 1) / (dfreq[w] + 1)), 6)
                        assert sc < cutoff[0] or (
                            sc == cutoff[0] and w > cutoff[1]
                        ), f"omitted term {w} ({sc}) outranks cutoff {cutoff}"

    def test_inverted_index_is_a_partition_of_the_td_pairs(self, spark):
        from upton_spark.operators.textops import inverted_index

        rows = self._random_docs(n=150, seed=23)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = inverted_index(df, shard_threshold=20, n_shards=4).collect()
        # pure-Python reference of (term -> doc set)
        ref: dict = {}
        for d, t in rows:
            for w in set(t.lower().split()):
                ref.setdefault(w, set()).add(d)
        got: dict = {}
        for r in out:
            assert r["postings"] == sorted(r["postings"])
            assert r["shard_docs"] == len(r["postings"])
            assert r["df"] == len(ref[r["term"]])
            seen = got.setdefault(r["term"], set())
            assert not (seen & set(r["postings"])), "shards must be disjoint"
            seen.update(r["postings"])
            if r["df"] > 20:
                assert all(p % 4 == r["shard"] for p in r["postings"])
            else:
                assert r["shard"] == 0
        assert got == ref  # shard union reconstructs every posting exactly

    def test_host_graph_edge_conservation(self, spark):
        import random
        from urllib.parse import urlparse

        from upton_spark.operators.webgraph import host_graph

        rng = random.Random(31)
        hosts = [f"h{i}.example.com" for i in range(9)]
        edges = [
            (
                f"http://{rng.choice(hosts)}/p/{rng.randint(0, 50)}",
                f"http://{rng.choice(hosts)}/q/{rng.randint(0, 50)}",
            )
            for _ in range(400)
        ]
        df = spark.createDataFrame(edges, "src_url string, dst_url string")
        out = host_graph(df).collect()
        assert sum(r["n_links"] for r in out) == len(edges)
        ref: dict = {}
        for s, d in edges:
            k = (urlparse(s).hostname, urlparse(d).hostname)
            ref[k] = ref.get(k, 0) + 1
        assert {(r["src_site"], r["dst_site"]): r["n_links"] for r in out} == ref
