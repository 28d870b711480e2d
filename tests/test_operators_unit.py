"""Unit tests for the engine-side operators: the Bloom filter, robots
parsing/matching, politeness token math."""

import numpy as np
import pytest

from upton_spark.operators import politeness
from upton_spark.operators.dedup import BloomFilter
from upton_spark.operators.robots import allowed, parse_robots


class TestBloom:
    def test_membership_and_fpr(self):
        rng = np.random.default_rng(42)
        n = 20_000
        h64 = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
        h32 = rng.integers(-(2**31), 2**31, size=n, dtype=np.int64)
        bf = BloomFilter.sized_for(n, fpr=1e-3)
        bf.add_hashes(h64[: n // 2], h32[: n // 2])
        assert bf.contains_hashes(h64[: n // 2], h32[: n // 2]).all(), "no false negatives"
        fp = bf.contains_hashes(h64[n // 2 :], h32[n // 2 :]).mean()
        assert fp < 0.01, f"false positive rate too high: {fp}"

    def test_merge_and_serialization(self):
        a = BloomFilter(1 << 12, 4)
        b = BloomFilter(1 << 12, 4)
        a.add_hashes(np.array([1, 2, 3]), np.array([7, 8, 9]))
        b.add_hashes(np.array([100]), np.array([200]))
        merged = BloomFilter.from_bytes(a.to_bytes(), a.n_bits, a.n_hashes).merge(b)
        assert merged.contains_hashes(np.array([1, 100]), np.array([7, 200])).all()

    def test_empty(self):
        bf = BloomFilter.sized_for(10)
        assert bf.contains_hashes(np.array([], dtype=np.int64), np.array([], dtype=np.int64)).size == 0


class TestRobots:
    BODY = """
# comment
User-agent: *
Disallow: /private/
Allow: /private/ok
Crawl-delay: 2

User-agent: upton-spark
Disallow: /only-for-us/
"""

    def test_parse_groups(self):
        rows = parse_robots("example.com", self.BODY)
        agents = {(r[1], r[2], r[3]) for r in rows}
        assert ("*", "disallow", "/private/") in agents
        assert ("*", "allow", "/private/ok") in agents
        assert ("upton-spark", "disallow", "/only-for-us/") in agents
        delay = [r for r in rows if r[2] == "crawl-delay"]
        assert delay and delay[0][4] == 2.0

    def test_longest_match_semantics(self):
        rules = [("disallow", "/private/"), ("allow", "/private/ok")]
        assert not allowed("/private/x", rules)
        assert allowed("/private/ok/page", rules)
        assert allowed("/public", rules)

    def test_wildcard_and_anchor(self):
        rules = [("disallow", "/*.pdf$")]
        assert not allowed("/a/b.pdf", rules)
        assert allowed("/a/b.pdfx", rules)

    def test_no_rules_allows(self):
        assert allowed("/anything", [])

    def test_end_anchor_is_fullmatch_not_dollar(self):
        # '$' matches before a trailing newline; REP end-anchor means true
        # end-of-path, so a path ending in '\n' must NOT satisfy the rule
        rules = [("disallow", "/foo$")]
        assert not allowed("/foo", rules)
        assert allowed("/foo\n", rules)

    def test_rep_literal_question_mark_and_brackets(self):
        # REP's only wildcard is '*'; '?' and '[' are literal path chars —
        # an fnmatch-style translation would treat them as metacharacters.
        rules = [("disallow", "/search*?page=")]
        assert not allowed("/search/results?page=2", rules)
        assert allowed("/search/resultsXpage=2", rules)  # '?' must not match any char
        rules = [("disallow", "/a[1]/")]
        assert not allowed("/a[1]/x", rules)
        assert allowed("/a1/x", rules)  # '[1]' is not a char class
        rules = [("disallow", "/dl*.php$")]
        assert not allowed("/dl/x.php", rules)
        assert allowed("/dl/x.php?id=1", rules)


class TestSaltedPartitioning:
    def test_hot_host_spreads_cold_hosts_stay(self, spark):
        from pyspark.sql import functions as F

        from upton_spark.operators.partitioning import with_host_salt

        rows = [(f"http://hot.example/{i}", "hot.example") for i in range(5000)]
        rows += [(f"http://cold{h}.example/{i}", f"cold{h}.example")
                 for h in range(20) for i in range(10)]
        df = spark.createDataFrame(rows, "url string, host string")
        salted = with_host_salt(df, rows_per_bucket=500)
        per_bucket = (
            salted.groupBy("host", "host_salt").count().collect()
        )
        hot = [r for r in per_bucket if r["host"] == "hot.example"]
        cold = [r for r in per_bucket if r["host"] != "hot.example"]
        assert len(hot) == 10  # ceil(5000/500) buckets
        assert max(r["count"] for r in hot) < 1000  # bounded share per bucket
        assert all(r["host_salt"] == 0 for r in cold)  # no spread for cold hosts

    def test_salting_preserves_rows_and_crawl_goldens_hold(self, spark):
        # crawl ordering comes from explicit columns, never partitioning —
        # covered by the full golden suite; here just row preservation
        from upton_spark.operators.partitioning import salted_repartition

        df = spark.createDataFrame(
            [(f"http://h{i % 3}.x/{i}", f"h{i % 3}.x") for i in range(300)],
            "url string, host string",
        )
        out = salted_repartition(df, 8, rows_per_bucket=50)
        assert out.count() == 300
        assert sorted(r["url"] for r in out.collect()) == sorted(
            r["url"] for r in df.collect()
        )


class TestPoliteness:
    def test_tokens_for(self):
        assert politeness.tokens_for(0, 60) == politeness.UNLIMITED
        assert politeness.tokens_for(None, 60) == politeness.UNLIMITED
        assert politeness.tokens_for(30, 60) == 2
        assert politeness.tokens_for(120, 60) == 1  # min one: chains progress

    def test_tokens_column_matches_tokens_for(self, spark):
        """Admission's Column form and the closed-form eligibility check's
        scalar form are one rule."""
        from pyspark.sql import functions as F

        sleeps = [None, -1.0, 0.0, 0.5, 7.0, 30.0, 61.0]
        df = spark.createDataFrame([(s,) for s in sleeps], "sleep double")
        for budget in (30.0, 60.0):
            got = [
                r["t"]
                for r in df.select(
                    politeness.tokens_for_col(F.col("sleep"), budget).alias("t")
                ).collect()
            ]
            assert got == [politeness.tokens_for(s, budget) for s in sleeps], budget


class TestPiiScrub:
    def test_redaction_and_counts(self, spark):
        from upton_spark.operators.textops import pii_scrub

        rows = [
            (0, "mail a.b+c@ex-ample.org and x@y.io, call +44-201-3344-555, host 192.168.0.1 ok"),
            (1, "no pii here, just 3.14 and v1.2.3.4.5 is a version"),
            (2, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        assert out[0]["n_emails"] == 2
        assert out[0]["n_ips"] == 1
        assert out[0]["n_phones"] == 1
        assert (
            out[0]["clean_text"]
            == "mail <EMAIL> and <EMAIL>, call <PHONE>, host <IP> ok"
        )
        # dotted version strings: 1.2.3.4 inside v1.2.3.4.5 does match the
        # \b-anchored IPv4 shape — the scrub is deliberately recall-leaning
        assert out[1]["n_emails"] == 0 and out[1]["n_phones"] == 0
        assert out[2]["clean_text"] == ""

    def test_all_codegen(self, spark):
        from upton_spark.operators.textops import pii_scrub

        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        plan = pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestNormalizeText:
    def test_stage_chain(self, spark):
        from upton_spark.operators.textops import normalize_text

        rows = [
            # decomposed e + U+0301 -> NFC composes; BEL stripped; tab and
            # space runs collapse; result lowercased + trimmed
            (0, "Café\tDu \x07 Monde  HELLO"),
            (1, None),
            (2, "  already clean  "),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
        assert out[0] == "café du monde hello"
        assert out[1] is None
        assert out[2] == "already clean"

    def test_form_none_is_pure_codegen(self, spark):
        from upton_spark.operators.textops import normalize_text

        df = spark.createDataFrame([(0, "A  B")], "doc_id long, text string")
        res = normalize_text(df, form=None)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert res.collect()[0]["norm_text"] == "a b"

    def test_flags_off_are_identity(self, spark):
        from upton_spark.operators.textops import normalize_text

        df = spark.createDataFrame([(0, "A\x07  B")], "doc_id long, text string")
        res = normalize_text(
            df,
            form=None,
            lowercase=False,
            collapse_ws=False,
            strip_controls=False,
        )
        assert res.collect()[0]["norm_text"] == "A\x07  B"


class TestDriverRotation:
    """__spark_entry__._rotate_by_staleness orders the capped driver
    artifact's rows by rounds-missed (never-green entries start their
    staleness clock at their registration round)."""

    def _entry(self):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "entry_under_test", "/root/repo/__spark_entry__.py"
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_stale_entries_fill_the_cap_before_new_registrations(self):
        import json

        mod = self._entry()
        order = list(mod.queries())
        ledger = json.load(open("/root/repo/GREEN_ROUNDS.json"))["last_green"]
        top = set(order[:50])
        # every entry whose latest green row is >1 round old must get a
        # fresh driver row this round (the union-of-two-artifacts contract)
        overdue = [
            n for n in order if n in ledger and ledger[n] <= mod._CURRENT_ROUND - 2
        ]
        pre_round_never = [
            n
            for n, r in mod._FIRST_REGISTERED_ROUND.items()
            if n not in ledger and r < mod._CURRENT_ROUND
        ]
        for name in overdue + pre_round_never:
            assert name in top, f"{name} is overdue but below the 50-row cap"
        # never-green CURRENT-round registrations rank AFTER the overdue
        # block (they have missed zero rounds)
        stale_max = max(order.index(n) for n in overdue + pre_round_never)
        fresh_new = [
            n
            for n, r in mod._FIRST_REGISTERED_ROUND.items()
            if n not in ledger and r == mod._CURRENT_ROUND
        ]
        assert fresh_new, "expected current-round registrations in the registry"
        assert min(order.index(n) for n in fresh_new) > stale_max

    def test_rotation_preserves_the_registry(self):
        mod = self._entry()
        rotated = mod.queries()
        assert set(rotated) == set(mod.oracle_sql())

    def test_every_ledger_absent_query_has_a_registration_round(self):
        """A ledger-absent query missing from _FIRST_REGISTERED_ROUND would
        silently default to 'registered this round' after a _CURRENT_ROUND
        bump, reproducing the lumped-bucket ordering bug — every
        never-green registration must carry its round explicitly."""
        import json

        mod = self._entry()
        ledger = json.load(open("/root/repo/GREEN_ROUNDS.json"))["last_green"]
        missing = [
            n
            for n in mod.queries()
            if n not in ledger and n not in mod._FIRST_REGISTERED_ROUND
        ]
        assert missing == [], (
            f"add these to _FIRST_REGISTERED_ROUND with the current round: {missing}"
        )
        for name, rnd in mod._FIRST_REGISTERED_ROUND.items():
            assert 1 <= rnd <= mod._CURRENT_ROUND
