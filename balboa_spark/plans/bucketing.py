"""Bucketed-table co-location: the no-shuffle repeated-join path.

The observation store's directory layout (plans/layout.py) prunes
POINT lookups; this module covers the other repeated-cost pattern a
100 TB deployment hits: two big fact tables joined on the same key
every day (observations x enrichment, documents x scores). Spark's
native bucketing writes each relation pre-hashed into N buckets
recorded in the catalog; a join of two tables bucketed on the join
key with matching bucket counts (or an integer multiple) skips BOTH
shuffles — the exchange that dominates a big join simply isn't in
the plan (asserted in tests). With ``sortBy`` the merge phase also
skips its sort.

Catalog note: bucket metadata lives in the session catalog
(saveAsTable), with data at an explicit external ``path`` so nothing
lands in a default warehouse. On a cluster this is the Hive
metastore / Unity-style catalog; the code is identical.

Trade-offs encoded here:
- bucket count is a write-time contract — both sides must agree (or
  divide evenly); pick it like the store's num_buckets (~25 GB per
  bucket at target scale).
- each writing task emits one file per bucket it sees; repartition
  by the key first so a bucket's rows land in one task (no
  small-file explosion) — done by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    num_buckets: int,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) catalog table
    at an external path. Repartitions on the key first so each bucket
    is written by one task."""
    w = (
        df.repartition(num_buckets, key)
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


