"""Key-skew diagnostics and salting utilities.

PERF.md documents the scale plan for skewed keys (salting + AQE skew
join); this module makes that plan executable instead of advisory:
measure the skew first (one aggregation pass), then apply a
DETERMINISTIC salt sized from the measurement.

Scale design:

- :func:`key_counts` is the only corpus-sized pass (groupBy count,
  map-side combined — shuffle volume is distinct keys, not rows).
  Everything downstream operates on the counts relation, which is
  keys-sized.
- :func:`skew_metrics` reduces the counts relation to ONE row of
  integer metrics (no float hash hazards, exactly SQL-replayable).
- :func:`with_salt` derives the salt from a hash of the whole row's
  key value plus a disambiguator column, NOT from rand(): the salt
  assignment is reproducible across retries and replays, which keeps
  speculative execution and stage retries deterministic (a rand()
  salt re-deals rows on retry and can double-count with non-idempotent
  sinks).
- :func:`salted_count` is the two-stage pattern (partial aggregate on
  (key, salt), final on key): the first shuffle spreads a hot key over
  ``factor`` reducers, the second moves only ``factor`` rows per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_counts(df: DataFrame, keys: list[str]) -> DataFrame:
    """Per-key row counts — the one corpus-sized pass here."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def heavy_keys(df: DataFrame, keys: list[str], top: int = 10) -> DataFrame:
    """The ``top`` heaviest keys with row count and parts-per-million
    share — deterministic order (n desc, then keys asc), integer
    share so results hash-compare exactly."""
    counts = key_counts(df, keys)
    total = counts.agg(F.sum("n").alias("_t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *keys,
            "n",
            F.floor(F.lit(1_000_000.0) * F.col("n") / F.col("_t"))
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy(F.col("n").desc(), *keys)
        .limit(top)
    )


def skew_metrics(df: DataFrame, keys: list[str]) -> DataFrame:
    """One row of integer skew metrics over the key distribution:
    total_rows, n_keys, max/min per-key rows, and ``skew_permille`` =
    floor(1000 * max_key_rows * n_keys / total_rows) — the max/mean
    ratio in integer permille (1000 = perfectly uniform; 10x skew =
    10000). Integers only, so the DuckDB oracle replays it exactly."""
    counts = key_counts(df, keys)
    # ratio in DOUBLE, smallest-magnitude first: 1000 * max * n_keys
    # in int64 overflows around max=1e9 x n_keys=1e7 — exactly the
    # skewed-at-scale inputs this diagnostic exists for (ANSI mode
    # would turn that into a runtime ArithmeticException). The oracle
    # mirrors the same operation order so the floor boundary agrees.
    return counts.agg(
        F.sum("n").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_key_rows"),
        F.min("n").alias("min_key_rows"),
        F.floor(
            F.lit(1000.0) * F.max("n") / F.sum("n") * F.count(F.lit(1))
        )
        .cast("long")
        .alias("skew_permille"),
    )


def with_salt(df: DataFrame, key: str, factor: int, shard_col: str) -> DataFrame:
    """Add a deterministic ``_salt`` in [0, factor): a hash of the key
    AND a per-row disambiguator column (any column that varies within
    a key — an id, a timestamp). Deterministic across retries, unlike
    rand()-based salting."""
    return df.withColumn(
        "_salt",
        F.pmod(F.hash(F.col(key), F.col(shard_col)), F.lit(factor)),
    )


def salted_count(
    df: DataFrame, key: str, factor: int, shard_col: str
) -> DataFrame:
    """Two-stage count under salt: partial on (key, _salt), final on
    key. Result is EXACTLY groupBy(key).count() — the unit tests pin
    that equivalence — but the hot key's rows fan over ``factor``
    reducers in stage one."""
    partial = (
        with_salt(df, key, factor, shard_col)
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("pn"))
    )
    return partial.groupBy(key).agg(F.sum("pn").cast("long").alias("n"))
