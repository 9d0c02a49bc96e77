"""Legacy v1 store migration (balboa-rocksdb-v1-dump analog)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from balboa_spark.operators.aggregate import aggregate
from balboa_spark.operators.query import Query
from balboa_spark.plans.layout import ObservationStore
from balboa_spark.plans.legacy_v1 import (
    SEP,
    decode_v1,
    invalid_v1_keys,
    migrate_v1,
)

TS1 = dt.datetime(2019, 6, 1)
TS2 = dt.datetime(2019, 7, 1)


def _u32_le_bytes(col: Column) -> Column:
    """Inverse of legacy_v1._le_u32 for the fixture encoder."""
    h = F.lpad(F.hex(col.cast("long")), 8, "0")
    return F.unhex(
        F.concat(h.substr(7, 2), h.substr(5, 2), h.substr(3, 2), h.substr(1, 2))
    )


def encode_v1(agg_df: DataFrame) -> DataFrame:
    """Fixture encoder: an aggregate relation → v1 ``(key, value)``
    pairs, BOTH forward ``o`` rows (packed value) and inverted ``i``
    rows (empty value, rocksdb-impl.c:789-800) so decode's skip path
    is exercised. Times accept either timestamp or long columns."""
    ts = lambda c: F.unix_timestamp(F.col(c)).cast("long")  # noqa: E731
    value = F.concat(
        _u32_le_bytes(F.col("count")),
        _u32_le_bytes(ts("last_seen")),
        _u32_le_bytes(ts("first_seen")),
    )
    fwd = agg_df.select(
        F.concat_ws(
            SEP, F.lit("o"), "rrname", "sensor_id", "rrtype", "rdata"
        )
        .cast("binary")
        .alias("key"),
        value.alias("value"),
    )
    inv = agg_df.select(
        F.concat_ws(
            SEP, F.lit("i"), "rdata", "sensor_id", "rrname", "rrtype"
        )
        .cast("binary")
        .alias("key"),
        F.lit(b"").alias("value"),
    )
    return fwd.unionByName(inv)


def _v1_agg(spark):
    """V1 aggregate content, incl. an rdata that itself contains the
    key separator — the main.c:229-241 fixup case."""
    rows = [
        ("foo", "abc", "A", "1.2.3.4", 7, TS1, TS2),
        ("foo", "abc", "TXT", f"weird{SEP}payload{SEP}x", 3, TS1, TS1),
        ("bar", "s2", "AAAA", "::1", 1, TS2, TS2),
    ]
    return spark.createDataFrame(
        rows,
        "rrname string, sensor_id string, rrtype string, rdata string,"
        " count long, first_seen timestamp, last_seen timestamp",
    )


def test_decode_skips_inverted_and_fixes_rdata(spark, tmp_path):
    p = str(tmp_path / "v1kv")
    encode_v1(_v1_agg(spark)).write.parquet(p)
    # the fixture wrote 6 kv pairs (3 forward + 3 inverted) ...
    assert spark.read.parquet(p).count() == 6
    # ... but only the 'o' rows decode, with rdata reassembled verbatim
    got = {
        (r.rrname, r.sensor_id, r.rrtype, r.rdata, r["count"], r.ts_start, r.ts_end)
        for r in decode_v1(spark, p).collect()
    }
    assert got == {
        ("foo", "abc", "A", "1.2.3.4", 7, TS1, TS2),
        ("foo", "abc", "TXT", f"weird{SEP}payload{SEP}x", 3, TS1, TS1),
        ("bar", "s2", "AAAA", "::1", 1, TS2, TS2),
    }


def test_decode_plan_has_no_python(spark, tmp_path):
    """The migration scan must stay JVM-side — no Python eval node."""
    p = str(tmp_path / "v1kv")
    encode_v1(_v1_agg(spark)).write.parquet(p)
    plan = decode_v1(spark, p)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan


def test_migrate_into_populated_store_folds(spark, tmp_path):
    p = str(tmp_path / "v1kv")
    encode_v1(_v1_agg(spark)).write.parquet(p)

    store = ObservationStore(spark, str(tmp_path / "store"), num_buckets=4)
    pre = spark.createDataFrame(
        [(5, "NOERROR", "1.2.3.4", "A", "foo", "abc", dt.datetime(2020, 1, 1),
          dt.datetime(2020, 1, 1), [])],
        "count long, rcode string, rdata string, rrtype string, rrname string,"
        " sensor_id string, ts_start timestamp, ts_end timestamp,"
        " tags array<string>",
    )
    store.write(aggregate(pre))
    migrate_v1(store, p)

    rows = {
        (r.rrtype, r.rdata): r
        for r in store.query(Query(rrname="foo")).collect()
    }
    # overlapping key folded: counts sum, first_seen takes the v1 min,
    # last_seen keeps the newer pre-existing time
    merged = rows[("A", "1.2.3.4")]
    assert merged["count"] == 12
    assert merged.first_seen == TS1
    assert merged.last_seen == dt.datetime(2020, 1, 1)
    # v1-only key landed intact
    assert rows[("TXT", f"weird{SEP}payload{SEP}x")]["count"] == 3
    # and the second v1 subject is queryable through the inverted layout
    assert store.query(Query(rdata="::1")).count() == 1


def test_non_utf8_keys_are_refused_not_corrupted(spark, tmp_path):
    """V1 keys are raw bytes; a key whose bytes are invalid UTF-8 must
    never be cast-through (the cast folds bad bytes to U+FFFD and the
    migrated row would silently differ from the store's). Such rows are
    excluded from decode, countable, and block a strict migrate."""
    p = str(tmp_path / "v1bad")
    bad_key = b"o" + SEP.encode() + b"\xff\xfe-rrname" + (SEP.encode() + b"s1") * 3
    clean = encode_v1(_v1_agg(spark))
    bad = spark.createDataFrame([(bad_key, b"\x01\x00\x00\x00" * 3)],
                                "key binary, value binary")
    clean.unionByName(bad).write.parquet(p)

    assert decode_v1(spark, p).count() == 3  # clean forward rows only
    assert invalid_v1_keys(spark, p).count() == 1
    assert invalid_v1_keys(spark, p).first()["key"] == bytearray(bad_key)

    store = ObservationStore(spark, str(tmp_path / "store_bad"), num_buckets=4)
    with pytest.raises(ValueError, match="1 v1 forward keys"):
        migrate_v1(store, p)
    # non-strict migrates the representable subset
    migrate_v1(store, p, strict=False)
    assert store.forward().count() == 3


def test_cli_migrate_v1(spark, tmp_path):
    from balboa_spark.cli import build_parser, run

    p = str(tmp_path / "v1kv")
    encode_v1(_v1_agg(spark)).write.parquet(p)
    spath = str(tmp_path / "clistore")
    argv = ["migrate-v1", spath, p]
    assert run(build_parser().parse_args(argv), spark=spark) == 0
    store = ObservationStore(spark, spath, num_buckets=8)
    assert store.forward().count() == 3
