"""Key-skew diagnostics and salting (balboa_spark.plans.skew)."""

from __future__ import annotations

from pyspark.sql import functions as F

from balboa_spark.plans import skew


def _skewed(spark):
    # one hot key (80 rows), two cool ones (10 each)
    rows = [(i, "hot") for i in range(80)]
    rows += [(100 + i, "warm") for i in range(10)]
    rows += [(200 + i, "cool") for i in range(10)]
    return spark.createDataFrame(rows, ["id", "k"])


def test_skew_metrics_integer_exact(spark):
    m = skew.skew_metrics(_skewed(spark), ["k"]).collect()[0]
    assert (m["total_rows"], m["n_keys"]) == (100, 3)
    assert (m["max_key_rows"], m["min_key_rows"]) == (80, 10)
    # floor(1000 * 80 * 3 / 100)
    assert m["skew_permille"] == 2400


def test_heavy_keys_order_and_share(spark):
    top = skew.heavy_keys(_skewed(spark), ["k"], top=2).collect()
    assert [(r["k"], r["n"], r["share_ppm"]) for r in top] == [
        ("hot", 80, 800_000),
        ("cool", 10, 100_000),  # tie with warm -> key asc
    ]


def test_salted_count_equals_plain_and_is_deterministic(spark):
    df = _skewed(spark)
    plain = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r["k"]: r["n"]
        for r in skew.salted_count(df, "k", 7, shard_col="id").collect()
    }
    assert got == plain
    again = {
        r["k"]: r["n"]
        for r in skew.salted_count(
            df.repartition(13), "k", 7, shard_col="id"
        ).collect()
    }
    assert again == plain  # partitioning-independent (hash salt, not rand)


def test_with_salt_spreads_hot_key(spark):
    df = skew.with_salt(_skewed(spark), "k", 7, shard_col="id")
    n_salts = (
        df.filter(F.col("k") == "hot").select("_salt").distinct().count()
    )
    assert n_salts > 1  # the hot key no longer lands on one reducer
    assert df.filter(~F.col("_salt").between(0, 6)).count() == 0


# -- compression-ratio signal (operators.text) -----------------------------


def test_compression_signals_separates_repetitive_text(spark):
    from balboa_spark.operators.text import compression_signals

    rows = [
        (1, "spam " * 200),  # highly repetitive
        (2, "the quick brown fox jumps over the lazy dog " * 5),
        (3, ""),  # empty -> NULLs, not error
        (4, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in compression_signals(df).collect()}
    assert out[1]["compression_ratio"] < out[2]["compression_ratio"] < 1.0
    assert out[1]["n_bytes"] == 1000
    assert out[3]["compression_ratio"] is None
    assert out[4]["compression_ratio"] is None


def test_compression_signals_is_arrow_batched(spark):
    from balboa_spark.operators.text import compression_signals

    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    plan = (
        compression_signals(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # vectorized Arrow eval, not row-at-a-time Python eval
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_psi_drift_hand_case_and_edges(spark):
    """PSI on hand distributions: identical inputs give ~0 total;
    shifted mass gives positive contributions in the shifted bins;
    empty bins stay finite via eps smoothing."""
    from pyspark.sql import functions as F

    from balboa_spark.operators.expectations import psi_drift

    ref = spark.createDataFrame([(float(v),) for v in [1, 1, 6, 6]], "value double")
    same = psi_drift(ref, ref, "value", (5.0,)).collect()
    assert sum(r["contrib"] for r in same) == 0.0
    # all new mass moves above the edge
    new = spark.createDataFrame([(float(v),) for v in [6, 7, 8, 9]], "value double")
    rows = {r["bin"]: r for r in psi_drift(ref, new, "value", (5.0,)).collect()}
    assert rows[0]["p_ref"] == 0.5 and rows[0]["p_new"] == 0.0
    assert rows[1]["p_new"] == 1.0
    psi = sum(r["contrib"] for r in rows.values())
    assert psi > 0.25  # 'shifted' on the conventional scale
    import math
    assert all(math.isfinite(r["contrib"]) for r in rows.values())

    import pytest

    with pytest.raises(ValueError):
        psi_drift(ref, new, "value", (5.0, 1.0))


