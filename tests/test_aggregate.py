"""Core fold (A1-A3) + incremental-merge invariant (§2.12 #2/#4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from balboa_spark.obsmap import OBS_SQL, with_obs_cte
from balboa_spark.operators import aggregate, merge_increment, total_count

from .conftest import assert_matches_oracle


def obs_df(spark, tables):
    tables  # ensure views registered
    return spark.sql(OBS_SQL)


def test_aggregate_matches_oracle(spark, tables, duck):
    agg = aggregate(obs_df(spark, tables))
    oracle = with_obs_cte(
        """
        SELECT rrname, sensor_id, rrtype, rdata,
               cast(sum(count) AS BIGINT) AS count,
               min(ts_start) AS first_seen,
               max(ts_end) AS last_seen
        FROM input_observations
        GROUP BY rrname, sensor_id, rrtype, rdata
        """
    )
    assert_matches_oracle(agg.select("rrname", "sensor_id", "rrtype", "rdata", "count", "first_seen", "last_seen"), duck, oracle)


def test_incremental_merge_invariant(spark, tables):
    """agg(b1 ∪ b2) == merge(agg(b1), b2) — the T2/A2 associativity law."""
    obs = obs_df(spark, tables)
    b1 = obs.filter(F.col("event_id") % 2 == 0)
    b2 = obs.filter(F.col("event_id") % 2 == 1)
    full = aggregate(obs)
    merged = merge_increment(aggregate(b1), b2)
    assert full.exceptAll(merged).count() == 0
    assert merged.exceptAll(full).count() == 0


def test_total_count(spark, tables, duck):
    agg = aggregate(obs_df(spark, tables))
    expected = duck.sql(
        with_obs_cte(
            "SELECT count(*) FROM (SELECT DISTINCT rrname, sensor_id, rrtype, rdata FROM input_observations)"
        )
    ).fetchone()[0]
    assert total_count(agg) == expected


