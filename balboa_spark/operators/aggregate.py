"""A1-A3: the core group-merge fold.

Semantics (the whole engine in one line — reference
backend/balboa-sqlite/sqlite-impl.c:175-184):

    GROUP BY rrname, sensor_id, rrtype, rdata
    -> count = SUM(count), first_seen = MIN(ts_start), last_seen = MAX(ts_end)

The fold is associative and commutative (reference rocksdb-impl.c:117-121
full_merge / :196-209 partial_merge), which Spark exploits natively as
map-side partial aggregation — `groupBy().agg()` IS the reference's
merge-operator design, distributed. At 100 TB the shuffle is hash
partitioned on the 4-column key; no skew expected (rrname cardinality is
huge in passive DNS), and AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from balboa_spark.schemas import OBSERVATION_KEY

def _aggs():
    return [
        F.sum("count").alias("count"),
        F.min("ts_start").alias("first_seen"),
        F.max("ts_end").alias("last_seen"),
    ]


def aggregate(input_obs: DataFrame) -> DataFrame:
    """Fold an input-observation stream/batch into aggregate entries.

    One shuffle on the group key; partial (map-side) combine is automatic.
    """
    return input_obs.groupBy(*OBSERVATION_KEY).agg(*_aggs())


def merge_increment(agg_df: DataFrame, new_obs: DataFrame) -> DataFrame:
    """A2: merge a new batch into an existing aggregate.

    The associative fold means re-aggregating `existing UNION ALL new`
    equals aggregating everything at once (§2.12 property 4). The
    existing aggregate re-enters the fold with its stored values mapped
    back to input shape (count->count, first_seen->ts_start,
    last_seen->ts_end) — exactly the RocksDB partial_merge trick.

    At scale this is the foreachBatch path: new micro-batch is tiny
    relative to the table, so the physical strategy is a MERGE/upsert
    into the bucketed table (see plans/layout.py); this function is the
    semantic spec and the plain-Parquet fallback.
    """
    as_input = agg_df.select(
        *OBSERVATION_KEY,
        F.col("count"),
        F.col("first_seen").alias("ts_start"),
        F.col("last_seen").alias("ts_end"),
    )
    new_shaped = new_obs.select(
        *OBSERVATION_KEY, F.col("count"), F.col("ts_start"), F.col("ts_end")
    )
    return aggregate(as_input.unionByName(new_shaped))


def fold_entries(stored: DataFrame, extra_keys=()) -> DataFrame:
    """Re-fold STORED-shaped aggregate entries (count / first_seen /
    last_seen) — the LSM merge-on-read combine. Associativity means
    folding any union of partial aggregates equals the one-shot
    aggregate, so a base generation unioned with delta generations
    collapses to the same table merge() would have produced.
    ``extra_keys`` lets the store keep its ``bucket`` column as a
    grouping key, so bucket-pruning filters push below this fold."""
    return stored.groupBy(*extra_keys, *OBSERVATION_KEY).agg(
        F.sum("count").alias("count"),
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
    )


def total_count(agg_df: DataFrame) -> int:
    """A5: total number of aggregate entries (db/db.go:18 TotalCount)."""
    return agg_df.count()
