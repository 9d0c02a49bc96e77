"""Fuzzy string matching (operators/fuzzy.py): exact-recall
deletion-neighborhood candidate generation + levenshtein refilter.
Correctness bar: SAME pair set as brute-force all-pairs Levenshtein —
the whole point of the SymSpell bucketing is that it is lossless."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from balboa_spark.operators import fuzzy


def _lev(a: str, b: str) -> int:
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[n]


def _brute(words, k):
    return {
        (a, b, _lev(a, b))
        for a, b in itertools.combinations(sorted(set(words)), 2)
        if _lev(a, b) <= k
    }


WORDS = [
    "kitten", "sitten", "sittin", "sitting", "kitte", "kitten",
    "cat", "bat", "at", "", "a", "b", "xyz", "abcd", "abdc",
]


def test_value_pairs_match_bruteforce_k1_k2(spark):
    df = spark.createDataFrame([(w,) for w in WORDS], "v string")
    for k in (1, 2):
        got = {
            (r["val_a"], r["val_b"], r["dist"])
            for r in fuzzy.fuzzy_value_pairs(df, "v", k, min_length=0).collect()
        }
        assert got == _brute(WORDS, k), f"k={k}"


def test_value_pairs_property_random_vocab(spark):
    """Random small vocabularies over a tight alphabet (maximizes
    near-collisions): distributed pair set == brute force, k=1 and 2."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abc", min_size=0, max_size=5)

    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(words=st.lists(word, min_size=1, max_size=12), k=st.sampled_from([1, 2]))
    def check(words, k):
        df = spark.createDataFrame([(w,) for w in words], "v string")
        got = {
            (r["val_a"], r["val_b"], r["dist"])
            for r in fuzzy.fuzzy_value_pairs(df, "v", k, min_length=0).collect()
        }
        assert got == _brute(words, k)

    check()


def test_mass_duplicates_collapse_before_pairing(spark):
    """A million-row mass duplicate must NOT explode the pair relation:
    pairing runs over distinct values (one 'aaaa' node regardless of
    row count), so output is identical for 2 copies or 200."""
    few = spark.createDataFrame([("aaaa",)] * 2 + [("aaab",)], "v string")
    many = spark.createDataFrame([("aaaa",)] * 200 + [("aaab",)], "v string")
    out_few = fuzzy.fuzzy_value_pairs(few, "v", 1).collect()
    out_many = fuzzy.fuzzy_value_pairs(many, "v", 1).collect()
    assert sorted(map(tuple, out_few)) == sorted(map(tuple, out_many))
    assert len(out_many) == 1 and out_many[0]["dist"] == 1


def test_nulls_dropped_and_dist_zero_excluded_from_value_pairs(spark):
    df = spark.createDataFrame(
        [("x",), (None,), ("x",), ("y",)], "v string"
    )
    rows = fuzzy.fuzzy_value_pairs(df, "v", 1, min_length=0).collect()
    # distinct values {x, y}: lev=1 pair only; duplicates are not pairs
    assert [(r["val_a"], r["val_b"], r["dist"]) for r in rows] == [("x", "y", 1)]


def test_deletion_variants_rejects_k3(spark):
    import pytest

    with pytest.raises(ValueError):
        fuzzy.deletion_variants(F.lit("abc"), 3)


def test_no_cartesian_in_plan(spark):
    """The candidate join must be a hash/sort-merge equi-join on the
    variant key — a CartesianProduct or BroadcastNestedLoop in the
    plan means the bucketing silently degraded to all-pairs."""
    df = spark.createDataFrame([(w,) for w in WORDS], "v string")
    plan = fuzzy.fuzzy_value_pairs(df, "v", 1, min_length=0)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_min_length_gate_default_and_diagnostic(spark):
    """The default length gate (FUZZY_MIN_LENGTH=4) excludes the
    short-string quadratic corner; variant_bucket_diagnostic measures
    the bucket blow-up a gate-less run would shuffle."""
    # pathological column: every 1-2 char string over a tiny alphabet
    # — ungated, these all collide into a handful of variant buckets
    short = [a + b for a in "abc" for b in "abc"] + list("abc")
    long_ = ["gamma", "gamna", "delta"]
    df = spark.createDataFrame([(w,) for w in short + long_], "v string")

    gated = {
        (r["val_a"], r["val_b"])
        for r in fuzzy.fuzzy_value_pairs(df, "v", 1).collect()
    }
    assert gated == {("gamma", "gamna")}  # short strings never paired

    diag_all = fuzzy.variant_bucket_diagnostic(df, "v", 1).collect()[0]
    diag_gated = fuzzy.variant_bucket_diagnostic(
        df, "v", 1, min_length=4
    ).collect()[0]
    # ungated: the single-char deletions of all 2-char values pile up
    assert diag_all["max_key_rows"] > diag_gated["max_key_rows"]
    assert diag_gated["max_key_rows"] <= 2


def test_mass_duplicates_collapse_before_pairing_gated(spark):
    """The gate composes with distinct-value collapse (values here are
    >= 4 chars so the default gate keeps them)."""
    few = spark.createDataFrame([("aaaa",)] * 2 + [("aaab",)], "v string")
    out = fuzzy.fuzzy_value_pairs(few, "v", 1).collect()
    assert len(out) == 1 and out[0]["dist"] == 1
