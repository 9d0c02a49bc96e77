"""Storage layout (dual sorted copies, Q1-Q7 jobs) + streaming ingest
(T1-T5) end-to-end tests.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from balboa_spark.operators.aggregate import aggregate
from balboa_spark.operators.query import Query
from balboa_spark.plans.layout import ObservationStore


def seed_obs(spark):
    """The reference's canonical 3-observation seed
    (query/query_graphql_test.go:151-183; FIXTURES.md §2)."""
    ts = dt.datetime(2020, 1, 1)
    rows = [
        (10, "NOERROR", "1.2.3.4", "A", "foo", "abc", ts, ts, []),
        (10, "NOERROR", "1.2.3.5", "A", "bar", "abc", ts, ts, []),
        (1, "NOERROR", "1.2.3.4", "A", "baz", "abc", ts, ts, []),
    ]
    return spark.createDataFrame(
        rows,
        "count long, rcode string, rdata string, rrtype string, rrname string,"
        " sensor_id string, ts_start timestamp, ts_end timestamp, tags array<string>",
    )


@pytest.fixture()
def store(spark, tmp_path):
    s = ObservationStore(spark, str(tmp_path / "store"), num_buckets=4)
    s.write(aggregate(seed_obs(spark)))
    return s


def test_reference_seed_semantics(store):
    """rdata=1.2.3.4 -> exactly foo+baz; rrname=foo -> 1 row; miss -> 0
    (query_graphql_test.go:77-146, query_rest_test.go:124-174)."""
    by_rdata = store.query(Query(rdata="1.2.3.4"))
    assert sorted(r.rrname for r in by_rdata.collect()) == ["baz", "foo"]
    by_rrname = store.query(Query(rrname="foo")).collect()
    assert len(by_rrname) == 1 and by_rrname[0].rdata == "1.2.3.4"
    assert store.query(Query(rrname="nonexist")).count() == 0
    assert store.query(Query(rdata="nonexist")).count() == 0


def test_bucket_pruning_plan(store):
    """The physical plan must contain a partition filter on bucket —
    the columnar prefix-seek (SURVEY §4)."""
    plan = store.query(Query(rrname="foo"))._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


def test_merge_then_query(spark, store):
    ts2 = dt.datetime(2021, 6, 1)
    more = spark.createDataFrame(
        [(5, "NOERROR", "1.2.3.4", "A", "foo", "abc", ts2, ts2, [])],
        seed_obs(spark).schema,
    )
    store.merge(more)
    r = store.query(Query(rrname="foo")).collect()[0]
    assert r["count"] == 15
    assert r.first_seen == dt.datetime(2020, 1, 1)
    assert r.last_seen == ts2


def test_dump_jsonize_replay_backup(spark, store, tmp_path):
    dump = str(tmp_path / "dump")
    store.dump(dump)
    assert spark.read.parquet(dump).count() == 3

    nd = str(tmp_path / "nd")
    store.jsonize(nd)
    objs = [json.loads(l) for f in os.listdir(nd) if f.endswith(".json")
            for l in open(os.path.join(nd, f))]
    assert {o["rrname"] for o in objs} == {"foo", "bar", "baz"}
    # console field names + unix seconds (main.c dump_entry_as_json)
    assert all(isinstance(o["first_seen"], int) for o in objs)

    # replay doubles counts (documented at-least-once caveat, T5)
    store.replay(dump)
    r = store.query(Query(rrname="foo")).collect()[0]
    assert r["count"] == 20

    bdir = str(tmp_path / "bak")
    store.backup(bdir)
    restored = ObservationStore(spark, bdir, num_buckets=4)
    assert restored.query(Query(rrname="foo")).count() == 1


def test_crash_mid_write_leaves_store_consistent(spark, store):
    """A generation directory without a manifest flip must be invisible:
    simulate a crash between writing gen-N+1 and the atomic rename by
    creating a garbage gen dir — queries still serve the committed
    generation, and the next real merge skips over the orphan."""
    man = json.load(open(os.path.join(store.path, "manifest.json")))
    orphan = os.path.join(store.path, f"gen-{man['generation'] + 1}")
    os.makedirs(os.path.join(orphan, "by_rrname"), exist_ok=True)
    with open(os.path.join(orphan, "by_rrname", "junk.parquet"), "wb") as f:
        f.write(b"not parquet")

    # reads ignore the orphan generation entirely
    assert store.query(Query(rrname="foo")).count() == 1

    # a subsequent merge commits a NEW generation (gen+2 would collide
    # with the orphan only if the manifest had moved — it hasn't, so
    # merge targets gen+1 and overwrites the junk cleanly)
    ts2 = dt.datetime(2021, 6, 1)
    more = spark.createDataFrame(
        [(5, "NOERROR", "1.2.3.4", "A", "foo", "abc", ts2, ts2, [])],
        seed_obs(spark).schema,
    )
    store.merge(more)
    assert store.query(Query(rrname="foo")).collect()[0]["count"] == 15


def test_multi_store_union_keeps_duplicates(spark, store, tmp_path):
    """U1: fan-out concatenates per-store results WITH duplicates."""
    from balboa_spark.plans.layout import MultiStore

    other = ObservationStore(spark, str(tmp_path / "other"), num_buckets=4)
    other.write(aggregate(seed_obs(spark)))  # identical content
    multi = MultiStore([store, other])
    rows = multi.query(Query(rdata="1.2.3.4")).collect()
    assert sorted(r.rrname for r in rows) == ["baz", "baz", "foo", "foo"]
    assert multi.total_count() == 6


def test_query_many(spark, store):
    """Batch point lookups: same rows as per-subject queries, one job."""
    got = store.query_many(["1.2.3.4", "1.2.3.5", "absent"], by="rdata").collect()
    assert sorted(r.rrname for r in got) == ["bar", "baz", "foo"]
    byname = store.query_many(["foo", "nope"], by="rrname").collect()
    assert [r.rrname for r in byname] == ["foo"]


def test_new_domain_detection(spark, store):
    """new_rrnames/new_entries: batch novelty vs the stored history."""
    ts2 = dt.datetime(2021, 6, 1)
    batch = spark.createDataFrame(
        [
            (1, "NOERROR", "9.9.9.9", "A", "brandnew.example", "abc", ts2, ts2, []),
            (1, "NOERROR", "1.2.3.4", "A", "foo", "abc", ts2, ts2, []),  # known
            (1, "NOERROR", "5.5.5.5", "A", "foo", "abc", ts2, ts2, []),  # new rdata, old name
        ],
        seed_obs(spark).schema,
    )
    assert [r.rrname for r in store.new_rrnames(batch).collect()] == ["brandnew.example"]
    new_keys = {(r.rrname, r.rdata) for r in store.new_entries(batch).collect()}
    assert new_keys == {("brandnew.example", "9.9.9.9"), ("foo", "5.5.5.5")}


def test_epoch_idempotent_merge(spark, store):
    """T5: replaying a micro-batch epoch is a no-op — the manifest's
    last_epoch gate flips atomically with the data generation."""
    ts2 = dt.datetime(2021, 6, 1)
    more = spark.createDataFrame(
        [(5, "NOERROR", "1.2.3.4", "A", "foo", "abc", ts2, ts2, [])],
        seed_obs(spark).schema,
    )
    store.merge(more, epoch_id=7)
    store.merge(more, epoch_id=7)  # replay: must not double-count
    r = store.query(Query(rrname="foo")).collect()[0]
    assert r["count"] == 15
    store.merge(more, epoch_id=8)  # next epoch folds normally
    r = store.query(Query(rrname="foo")).collect()[0]
    assert r["count"] == 20


def test_epoch_gate_is_per_stream(spark, store):
    """foreachBatch epoch counters are per-StreamingQuery: two feeders
    sharing one backend each start at epoch 0, so the replay gate must
    be scoped by stream — feeder B's epoch 0 is NOT a replay of
    feeder A's."""
    ts2 = dt.datetime(2021, 6, 1)
    more = spark.createDataFrame(
        [(5, "NOERROR", "1.2.3.4", "A", "foo", "abc", ts2, ts2, [])],
        seed_obs(spark).schema,
    )
    store.merge(more, epoch_id=0, stream_id="feederA")
    store.merge(more, epoch_id=0, stream_id="feederB")  # must fold
    store.merge(more, epoch_id=0, stream_id="feederA")  # replay: no-op
    r = store.query(Query(rrname="foo")).collect()[0]
    assert r["count"] == 20  # 10 seed + 5 from A + 5 from B


def test_selective_merge_links_untouched_buckets(spark, store):
    """Merge cost scales with the batch: buckets without a touched key
    are hard-linked (same inode) from the previous generation, not
    rewritten."""
    man0 = json.load(open(os.path.join(store.path, "manifest.json")))
    gen0 = os.path.join(store.path, f"gen-{man0['generation']}", "by_rrname")
    inodes_before = {
        e: os.stat(os.path.join(gen0, e, f)).st_ino
        for e in os.listdir(gen0)
        if e.startswith("bucket=")
        for f in os.listdir(os.path.join(gen0, e))
        if f.endswith(".parquet")
    }
    ts2 = dt.datetime(2021, 6, 1)
    more = spark.createDataFrame(
        [(5, "NOERROR", "1.2.3.4", "A", "foo", "abc", ts2, ts2, [])],
        seed_obs(spark).schema,
    )
    store.merge(more)
    man1 = json.load(open(os.path.join(store.path, "manifest.json")))
    assert man1["generation"] == man0["generation"] + 1
    gen1 = os.path.join(store.path, f"gen-{man1['generation']}", "by_rrname")
    linked = rewritten = 0
    for e in os.listdir(gen1):
        if not e.startswith("bucket="):
            continue
        for f in os.listdir(os.path.join(gen1, e)):
            if not f.endswith(".parquet"):
                continue
            if os.stat(os.path.join(gen1, e, f)).st_ino == inodes_before.get(e):
                linked += 1
            else:
                rewritten += 1
    # 'foo' touches exactly one bucket; the others must be links
    assert rewritten >= 1 and linked >= 1
    # and the merged content is correct
    assert store.query(Query(rrname="foo")).collect()[0]["count"] == 15
    assert store.query(Query(rrname="bar")).count() == 1


SURI = (
    '{"timestamp": "2019-01-01T00:00:0%d.000001+0000", "event_type": "dns",'
    ' "dns": {"type": "answer", "rcode": "NOERROR", "rrname": "stream.example.com",'
    ' "rrtype": "A", "ttl": 8, "rdata": "9.9.9.%d"}}'
)


def test_streaming_ingest_foreachbatch(spark, tmp_path):
    """T1: files land -> micro-batch -> fold visible in the store."""
    from balboa_spark.streaming.ingest import ingest_stream

    land = tmp_path / "land"
    land.mkdir()
    (land / "b1.ndjson").write_text("\n".join(SURI % (i, i) for i in range(3)) + "\n")

    store = ObservationStore(spark, str(tmp_path / "sstore"), num_buckets=2)
    store.write(aggregate(seed_obs(spark).limit(0)))  # empty init

    q = ingest_stream(
        spark,
        str(land),
        "suricata_dns",
        stores={"default": store},
        sensor_id="sensorX",
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        # second file lands mid-stream
        (land / "b2.ndjson").write_text(SURI % (9, 0) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    rows = store.query(Query(rrname="stream.example.com")).collect()
    assert len(rows) == 3
    agg = {r.rdata: r["count"] for r in rows}
    assert agg["9.9.9.0"] == 2  # folded across two micro-batches


def test_config_driven_serve(spark, tmp_path):
    """feeders.yaml + selectors.yaml + backend.yaml -> routed stores
    with per-route folds (balboa serve, README.md:152-175). The CS-like
    rule tags .evil.com names; the tagged backend receives only those,
    the tag-less default backend receives everything."""
    import yaml

    from balboa_spark.config import serve

    land = tmp_path / "feeds" / "suri_input"
    land.mkdir(parents=True)
    evil = SURI % (1, 1)
    lines = [
        SURI % (0, 0),
        evil.replace("stream.example.com", "bad.evil.com"),
        SURI % (2, 2),
    ]
    (land / "b1.ndjson").write_text("\n".join(lines) + "\n")

    feeders_cfg = yaml.safe_load(
        f"""
feeder:
  - name: Suri Input
    type: file
    path: {land}
    input_format: suricata_dns
    sensor_id: sensorY
"""
    )
    selectors_cfg = yaml.safe_load(
        """
selectors:
  - name: evil watch
    type: regex
    mode: select
    regexp: [evil.txt]
    tags: [evil]
"""
    )
    backends_cfg = yaml.safe_load(
        """
- name: evil sink
  tags: [evil]
- name: default backend
"""
    )
    queries, stores, _transports = serve(
        spark,
        feeders_cfg,
        backends_cfg,
        selectors_cfg,
        pattern_files={"evil.txt": [r"^.*\.evil\.com$"]},
        data_root=str(tmp_path),
        checkpoint_root=str(tmp_path / "ckpt"),
        num_buckets=2,
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    assert stores["default backend"].forward().count() == 3
    evil_rows = stores["evil sink"].forward().collect()
    assert [r.rrname for r in evil_rows] == ["bad.evil.com"]
    assert evil_rows[0].sensor_id == "sensorY"


def test_time_travel_reads_previous_generation(spark, store):
    """Generations are immutable snapshots: after a merge, the
    previous generation still answers with the pre-merge data (within
    the vacuum horizon), and unreachable generations error clearly."""
    ts2 = dt.datetime(2021, 6, 1)
    more = spark.createDataFrame(
        [(5, "NOERROR", "1.2.3.4", "A", "foo", "abc", ts2, ts2, [])],
        seed_obs(spark).schema,
    )
    store.merge(more)
    gens = store.generations()
    assert len(gens) == 2
    old, cur = gens
    now = {r.rrname: r["count"] for r in store.forward().collect()}
    before = {r.rrname: r["count"] for r in store.forward(generation=old).collect()}
    assert now["foo"] == 15 and before["foo"] == 10
    # inverted layout time-travels too, and both snapshots agree with
    # themselves
    assert store.inverted(generation=old).count() == store.forward(
        generation=old
    ).count()
    with pytest.raises(ValueError):
        store.forward(generation=old - 1)


def test_uncommitted_generation_is_not_readable(spark, store, tmp_path):
    """A gen-N directory left by a crashed merge that never flipped
    the manifest is NOT a snapshot: explicit reads of it must error
    (not serve partial data that would also poison the plan cache for
    the generation a retried merge later commits), and generations()
    must not advertise it."""
    import os

    cur = store._manifest()["generation"]
    # simulate the crash: next-gen dir exists with only ONE layout
    # written, manifest never flipped
    partial = store._gen_dir(cur + 1)
    os.makedirs(os.path.join(partial, "by_rrname"), exist_ok=True)
    store.forward(generation=cur).count()  # committed gen still fine
    assert store.generations() == [cur]
    with pytest.raises(ValueError):
        store.forward(generation=cur + 1)
    with pytest.raises(ValueError):
        store.inverted(generation=cur + 1)


def test_fresh_store_generation_reads_error_clearly(spark, tmp_path):
    """A store path with no committed manifest: generations() is []
    (even before the directory exists), and an explicit-generation
    read raises instead of returning a plausible empty table."""
    s = ObservationStore(spark, str(tmp_path / "never_written"))
    assert s.generations() == []
    with pytest.raises(ValueError):
        s.forward(generation=0)
    # the implicit read contract is unchanged: current-state reads on
    # a fresh store are an empty table, not an error
    assert s.forward().count() == 0


# -- LSM delta path (append_delta / compact, r10) ---------------------------


def _batch(spark, count, rdata, rrname, when):
    return spark.createDataFrame(
        [(count, "NOERROR", rdata, "A", rrname, "abc", when, when, [])],
        seed_obs(spark).schema,
    )


def test_append_delta_parity_with_merge(spark, store, tmp_path):
    """append_delta + merge-on-read must be byte-identical to the
    merge() path: same fold, same rows, same point-query results."""
    ts2, ts3 = dt.datetime(2021, 6, 1), dt.datetime(2022, 1, 1)
    b1 = _batch(spark, 5, "1.2.3.4", "foo", ts2)
    b2 = _batch(spark, 7, "1.2.3.4", "foo", ts3).unionByName(
        _batch(spark, 2, "9.9.9.9", "newdom", ts3)
    )
    twin = ObservationStore(spark, str(tmp_path / "twin"), num_buckets=4)
    twin.write(aggregate(seed_obs(spark)))
    twin.merge(b1)
    twin.merge(b2)
    store.append_delta(b1)
    store.append_delta(b2)
    key = lambda r: (r.rrname, r.sensor_id, r.rrtype, r.rdata)  # noqa: E731
    a = sorted(map(tuple, store.forward().collect()))
    b = sorted(map(tuple, twin.forward().collect()))
    assert a == b
    r = store.query(Query(rrname="foo")).collect()[0]
    assert r["count"] == 22
    assert r.first_seen == dt.datetime(2020, 1, 1) and r.last_seen == ts3
    # inverted layout folds too
    assert sorted(
        x.rrname for x in store.query(Query(rdata="1.2.3.4")).collect()
    ) == ["baz", "foo"]


def test_append_delta_keeps_bucket_pruning(spark, store):
    """With outstanding deltas the point query's bucket filter must
    still push below the merge-on-read fold (grouping-column
    pushdown), so the scan stays pruned."""
    store.append_delta(_batch(spark, 5, "1.2.3.4", "foo", dt.datetime(2021, 6, 1)))
    plan = (
        store.query(Query(rrname="foo"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "bucket" in plan


def test_compact_parity_and_vacuum_grace(spark, store):
    """compact() must not change what readers see; retired delta dirs
    survive one generation (in-flight reader grace) and are vacuumed
    by the commit after that."""
    ts2 = dt.datetime(2021, 6, 1)
    store.append_delta(_batch(spark, 5, "1.2.3.4", "foo", ts2))
    store.append_delta(_batch(spark, 3, "8.8.8.8", "quux", ts2))
    before = sorted(map(tuple, store.forward().collect()))
    store.compact()
    man = json.load(open(os.path.join(store.path, "manifest.json")))
    assert man["deltas"] == []
    assert sorted(man["retired_deltas"]) == ["delta-000000", "delta-000001"]
    assert sorted(map(tuple, store.forward().collect())) == before
    # grace: dirs still on disk right after compact's own vacuum
    assert os.path.isdir(os.path.join(store.path, "delta-000000"))
    # one more committed generation -> grace over, dirs removed
    store.merge(_batch(spark, 1, "7.7.7.7", "zzz", ts2))
    assert not os.path.isdir(os.path.join(store.path, "delta-000000"))
    assert not os.path.isdir(os.path.join(store.path, "delta-000001"))
    r = store.query(Query(rrname="foo")).collect()[0]
    assert r["count"] == 15


def test_append_delta_epoch_replay_is_noop(spark, store):
    ts2 = dt.datetime(2021, 6, 1)
    b = _batch(spark, 5, "1.2.3.4", "foo", ts2)
    store.append_delta(b, epoch_id=1, stream_id="s1")
    store.append_delta(b, epoch_id=1, stream_id="s1")  # replay
    assert store.query(Query(rrname="foo")).collect()[0]["count"] == 15
    # a DIFFERENT stream's epoch 1 is not a replay
    store.append_delta(b, epoch_id=1, stream_id="s2")
    assert store.query(Query(rrname="foo")).collect()[0]["count"] == 20


def test_torn_append_is_invisible_and_selfheals(spark, store):
    """Crash between the delta write and the manifest flip: readers
    see nothing, the retried epoch lands on the same directory, and
    the data is counted exactly once."""
    ts2 = dt.datetime(2021, 6, 1)
    b = _batch(spark, 5, "1.2.3.4", "foo", ts2)
    real_flip = store._flip_manifest
    store._flip_manifest = lambda man, **kw: (_ for _ in ()).throw(OSError("torn"))
    with pytest.raises(OSError):
        store.append_delta(b, epoch_id=3, stream_id="s1")
    store._flip_manifest = real_flip
    # torn dir exists but is not part of the truth
    assert os.path.isdir(os.path.join(store.path, "delta-000000"))
    assert store.query(Query(rrname="foo")).collect()[0]["count"] == 10
    # vacuum must NOT remove the next-seq torn dir (replay target)
    store.vacuum()
    assert os.path.isdir(os.path.join(store.path, "delta-000000"))
    store.append_delta(b, epoch_id=3, stream_id="s1")  # the retry
    assert store.query(Query(rrname="foo")).collect()[0]["count"] == 15


def test_merge_after_deltas_autocompacts(spark, store):
    ts2 = dt.datetime(2021, 6, 1)
    store.append_delta(_batch(spark, 5, "1.2.3.4", "foo", ts2))
    store.merge(_batch(spark, 1, "1.2.3.4", "foo", ts2))
    man = json.load(open(os.path.join(store.path, "manifest.json")))
    assert man["deltas"] == []
    assert store.query(Query(rrname="foo")).collect()[0]["count"] == 16


def test_streaming_ingest_delta_mode(spark, tmp_path):
    """T1 via the LSM path: mode='delta' appends O(batch) deltas per
    micro-batch; compact_every=2 folds them on the second epoch; the
    fold visible to queries is identical to merge mode throughout."""
    from balboa_spark.streaming.ingest import ingest_stream

    land = tmp_path / "land"
    land.mkdir()
    (land / "b1.ndjson").write_text("\n".join(SURI % (i, i) for i in range(3)) + "\n")

    store = ObservationStore(spark, str(tmp_path / "dstore"), num_buckets=2)
    store.write(aggregate(seed_obs(spark).limit(0)))  # empty init

    q = ingest_stream(
        spark,
        str(land),
        "suricata_dns",
        stores={"default": store},
        sensor_id="sensorX",
        checkpoint=str(tmp_path / "dckpt"),
        mode="delta",
        compact_every=2,
    )
    try:
        q.processAllAvailable()
        man = json.load(open(os.path.join(store.path, "manifest.json")))
        assert man["deltas"], "epoch 0 must land as a delta"
        (land / "b2.ndjson").write_text(SURI % (9, 0) + "\n")
        q.processAllAvailable()  # epoch 1 -> append + compact (1 % 2 == 1)
    finally:
        q.stop()

    man = json.load(open(os.path.join(store.path, "manifest.json")))
    assert man["deltas"] == []  # compacted on the cadence epoch
    rows = store.query(Query(rrname="stream.example.com")).collect()
    assert len(rows) == 3
    agg = {r.rdata: r["count"] for r in rows}
    assert agg["9.9.9.0"] == 2  # folded across delta + compaction


def test_append_delta_random_split_property(spark, tmp_path):
    """Property: ANY partition of the observation stream into base +
    deltas folds to the same table as the one-shot aggregate
    (associativity + commutativity of the group-merge)."""
    import random

    rng = random.Random(0xD317A)
    ts0 = dt.datetime(2020, 1, 1)
    rows = [
        (
            rng.randint(1, 50),
            "NOERROR",
            f"10.0.0.{rng.randrange(6)}",
            "A",
            f"d{rng.randrange(8)}.example",
            f"s{rng.randrange(3)}",
            ts0 + dt.timedelta(hours=rng.randrange(100)),
            ts0 + dt.timedelta(hours=100 + rng.randrange(100)),
            [],
        )
        for _ in range(60)
    ]
    schema = seed_obs(spark).schema
    all_df = spark.createDataFrame(rows, schema)
    obs_cols = ["rrname", "sensor_id", "rrtype", "rdata", "count",
                "first_seen", "last_seen"]
    expected = sorted(
        map(tuple, aggregate(all_df).select(*obs_cols).collect())
    )
    for trial in range(2):
        marks = [rng.randrange(3) for _ in rows]
        dfs = [
            spark.createDataFrame(
                [r for r, m in zip(rows, marks) if m == i] or
                [], schema,
            )
            for i in range(3)
        ]
        s = ObservationStore(
            spark, str(tmp_path / f"prop{trial}"), num_buckets=3
        )
        s.write(aggregate(dfs[0]))
        s.append_delta(dfs[1], epoch_id=0)
        s.append_delta(dfs[2], epoch_id=1)
        got = sorted(map(tuple, s.forward().select(*obs_cols).collect()))
        assert got == expected, f"trial {trial}"


def test_cli_compact(spark, store):
    """`balboa-spark compact <store>` folds outstanding deltas."""
    from balboa_spark.cli import build_parser, run

    store.append_delta(
        _batch(spark, 5, "1.2.3.4", "foo", dt.datetime(2021, 6, 1))
    )
    assert run(build_parser().parse_args(["compact", store.path]),
               spark=spark) == 0
    man = json.load(open(os.path.join(store.path, "manifest.json")))
    assert man["deltas"] == []
    assert store.query(Query(rrname="foo")).collect()[0]["count"] == 15


def test_streaming_ingest_delta_size_trigger(spark, tmp_path):
    """r11: with the epoch cadence OFF (compact_every=0), the
    max_live_deltas size trigger alone bounds the committed delta list
    across micro-batches, and the fold stays correct."""
    from balboa_spark.streaming.ingest import ingest_stream

    land = tmp_path / "land2"
    land.mkdir()
    (land / "b1.ndjson").write_text("\n".join(SURI % (i, i) for i in range(3)) + "\n")

    store = ObservationStore(spark, str(tmp_path / "dstore2"), num_buckets=2)
    store.write(aggregate(seed_obs(spark).limit(0)))  # empty init

    q = ingest_stream(
        spark,
        str(land),
        "suricata_dns",
        stores={"default": store},
        sensor_id="sensorX",
        checkpoint=str(tmp_path / "dckpt2"),
        mode="delta",
        compact_every=0,
        max_live_deltas=1,
    )
    try:
        q.processAllAvailable()
        for i in range(3):
            (land / f"more{i}.ndjson").write_text(SURI % (9, 0) + "\n")
            q.processAllAvailable()
            man = json.load(open(os.path.join(store.path, "manifest.json")))
            assert len(man["deltas"]) <= 1, man["deltas"]
    finally:
        q.stop()

    rows = store.query(Query(rrname="stream.example.com")).collect()
    assert len(rows) == 3
    agg = {r.rdata: r["count"] for r in rows}
    assert agg["9.9.9.0"] == 4  # 1 initial + 3 bursts folded
