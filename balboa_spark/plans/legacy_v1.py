"""Legacy v1 key-value store migration — the reference's
``balboa-rocksdb-v1-dump`` analog.

The reference ships a standalone migration utility that walks a v1
RocksDB keyspace and re-emits every forward entry in the dump format
so a current backend can replay it
(backend/balboa-rocksdb-v1-dump/main.c:213-286 ``dump_show``,
:289-326 ``dump``). V1 semantics reproduced here:

- forward keys are
  ``o\\x1f<rrname>\\x1f<sensor_id>\\x1f<rrtype>\\x1f<rdata>``; ONLY
  the first three separators delimit fields — rdata legally contains
  further ``\\x1f`` bytes and the tool folds them back into the rdata
  token (main.c:229-241, "we fixup the RDATA and skip extra x1f's");
- inverted-index keys (prefix ``i``) carry no meaningful value and
  are skipped (main.c:314);
- values pack ``(count, last_seen, first_seen)`` as three uint32s
  (main.c:59-72 ``obs2buf`` / ``tpl_map("uuu")``).

Spark restatement: the v1 store is modeled as a parquet relation of
raw ``(key binary, value binary)`` pairs; the value layout is the
three uint32s little-endian, a documented stand-in for the
reference's tpl framing (the framing is a serialization-library
detail, not data). Decoding is PURE CODEGEN — the key split is one
regex ``split`` plus an ``array_join`` over the tail slice (the rdata
fixup), and each uint32 is a hex/substr/concat byte swap + ``conv``
— so a full-store migration is a single scan feeding the store's
selective-bucket ``merge``; no Python executes per row and the plan
survives a 100 TB keyspace (cost = one shuffle into the touched
buckets, identical to any other ingest batch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SEP = "\x1f"


def _le_u32(value: Column, byte_offset: int) -> Column:
    """Little-endian uint32 at 1-based ``byte_offset`` of a binary
    column, as a long — hex() emits big-endian nibble pairs, so swap
    the four pairs and conv(16, 10). Stays in whole-stage codegen."""
    h = F.hex(value.substr(byte_offset, 4))
    swapped = F.concat(
        h.substr(7, 2), h.substr(5, 2), h.substr(3, 2), h.substr(1, 2)
    )
    return F.conv(swapped, 16, 10).cast("long")


def _utf8_clean(key: Column) -> Column:
    """True iff the binary key is valid UTF-8. The v1 store treats
    keys as raw bytes end-to-end; our observation schema is
    string-typed, so a key whose bytes are not valid UTF-8 CANNOT be
    represented faithfully — Spark's binary→string cast passes the raw
    bytes through unvalidated, and they silently fold to U+FFFD only
    later at the Arrow/collect boundary (a cast-roundtrip check is
    therefore vacuous inside the JVM; this must be an explicit
    validation). Such keys are excluded from decode and surfaced via
    :func:`invalid_v1_keys` instead of being migrated corrupted."""
    return F.is_valid_utf8(key)


def invalid_v1_keys(spark: SparkSession, v1_path: str) -> DataFrame:
    """The forward keys :func:`decode_v1` refuses: raw ``key`` rows
    whose bytes are not valid UTF-8. Empty on any store
    written by UTF-8-clean producers (every key the fixture encoder or
    a DNS wire-name decoder can emit)."""
    kv = spark.read.parquet(v1_path)
    key = F.col("key").cast("string")
    return kv.filter(
        key.startswith("o" + SEP) & ~_utf8_clean(F.col("key"))
    ).select("key")


def decode_v1(spark: SparkSession, v1_path: str) -> DataFrame:
    """Decode a v1 key-value relation into input observations.

    Returns the ingest-batch shape ``ObservationStore.merge`` expects:
    ``rrname sensor_id rrtype rdata count ts_start ts_end`` (v1's
    first_seen/last_seen are unix uint32 seconds,
    main.c:259-265).

    Keys must be UTF-8-clean (the string observation schema cannot
    hold arbitrary bytes); rows failing UTF-8 validation are
    EXCLUDED here — count them via :func:`invalid_v1_keys`,
    and ``migrate_v1(strict=True)`` refuses to proceed while any
    exist."""
    kv = spark.read.parquet(v1_path)
    key = F.col("key").cast("string")
    parts = F.split(key, SEP)
    # first three separators delimit prefix/rrname/sensor/rrtype; the
    # remaining tail (which may itself contain SEP) is rdata verbatim
    rdata = F.array_join(F.slice(parts, 5, F.size(parts) - 4), SEP)
    return (
        kv.filter(key.startswith("o" + SEP) & _utf8_clean(F.col("key")))
        .select(
            parts.getItem(1).alias("rrname"),
            parts.getItem(2).alias("sensor_id"),
            parts.getItem(3).alias("rrtype"),
            rdata.alias("rdata"),
            _le_u32(F.col("value"), 1).alias("count"),
            F.to_timestamp(_le_u32(F.col("value"), 9)).alias("ts_start"),
            F.to_timestamp(_le_u32(F.col("value"), 5)).alias("ts_end"),
        )
    )


def migrate_v1(store, v1_path: str, strict: bool = True) -> None:
    """Fold a whole v1 store into a current-layout store.

    The reference tool emits msgpack dump records for a separate
    replay step; here decode feeds ``merge`` directly — same
    selective-bucket cost model as any ingest batch, and re-running
    the migration against a store that already holds the data is a
    correct double-count only if the caller replays it (the tool has
    the same property: its output is a dump, and replaying a dump
    twice double-counts in the reference too, backend/PROTOCOL.md:31).

    ``strict`` (default) refuses the migration when any forward key is
    not UTF-8-clean — those rows cannot be represented in the string
    schema and would otherwise be silently dropped. Pass
    ``strict=False`` to migrate the clean subset anyway (the invalid
    keys stay queryable via :func:`invalid_v1_keys`)."""
    if strict:
        n_bad = invalid_v1_keys(store.spark, v1_path).count()
        if n_bad:
            raise ValueError(
                f"{n_bad} v1 forward keys are not valid UTF-8 and cannot "
                "be migrated into the string observation schema; inspect "
                "them with invalid_v1_keys() or pass strict=False to "
                "migrate the clean subset"
            )
    store.merge(decode_v1(store.spark, v1_path))
