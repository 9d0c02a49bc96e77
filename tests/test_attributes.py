"""AttributeStore + mixer: latest-wins versioning, schema pinning,
CAS two-writer detection, pruning compaction, and the Dolma
null-fails mixer contract. The crash/replay/race cells are in
test_epoch_log_matrix.py."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from balboa_spark.operators.attributes import AttributeStore
from balboa_spark.plans.genstore import ConcurrentWriterError


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
    )


def _quality(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, n_tokens=n, score=s) for i, n, s in rows],
        "doc_id long, n_tokens int, score double",
    )


def _hook_first_read(log, side_effect):
    """The namespace's first manifest read also runs ``side_effect``
    (another writer's whole mutation) and returns the stale manifest."""
    orig = log.manifest
    state = {"fired": False}

    def hooked():
        man = orig()
        if not state["fired"]:
            state["fired"] = True
            side_effect()
        return man

    log.manifest = hooked


# ---------------------------------------------------------------------------
# write/read roundtrip + latest-wins
# ---------------------------------------------------------------------------


def test_attr_roundtrip_latest_wins(spark, tmp_path):
    store = AttributeStore(spark, str(tmp_path / "attrs"))
    v1 = store.write(
        _quality(spark, [(1, 10, 0.5), (2, 20, 0.9), (3, 30, 0.1)]),
        "quality",
    )
    # re-tag doc 2 with new values: the newer version must win
    v2 = store.write(_quality(spark, [(2, 99, 0.2)]), "quality")
    assert (v1, v2) == (1, 2)
    got = {
        r["doc_id"]: (r["quality__n_tokens"], r["quality__score"])
        for r in store.read("quality").collect()
    }
    assert got == {1: (10, 0.5), 2: (99, 0.2), 3: (30, 0.1)}
    # unprefixed read keeps raw column names
    assert set(store.read("quality", prefix=False).columns) == {
        "doc_id", "n_tokens", "score",
    }
    assert store.taggers() == ["quality"]


def test_attr_name_and_schema_guards(spark, tmp_path):
    store = AttributeStore(spark, str(tmp_path / "attrs"))
    with pytest.raises(ValueError, match="tagger name"):
        store.write(_quality(spark, [(1, 1, 1.0)]), "bad name!")
    store.write(_quality(spark, [(1, 1, 1.0)]), "Quality")  # folds to lower
    assert store.taggers() == ["quality"]
    # different columns under the same (case-folded) name: loud error
    other = spark.createDataFrame(
        [Row(doc_id=1, lang="en")], "doc_id long, lang string"
    )
    with pytest.raises(ValueError, match="new tagger name"):
        store.write(other, "quality")
    # id-only frame: no attributes to store
    with pytest.raises(ValueError, match="attribute column"):
        store.write(other.select("doc_id"), "lid")
    # map-typed attribute: not orderable, rejected up front
    mapped = spark.createDataFrame(
        [Row(doc_id=1, m={"a": 1})], "doc_id long, m map<string,int>"
    )
    with pytest.raises(ValueError, match="not.*orderable|orderable"):
        store.write(mapped, "lid")
    with pytest.raises(ValueError, match="no committed attributes"):
        store.read("lid")


# ---------------------------------------------------------------------------
# CAS: racing one-shot writers
# ---------------------------------------------------------------------------


def test_attr_two_writer_claim_raises(spark, tmp_path):
    path = str(tmp_path / "attrs")
    a = AttributeStore(spark, path)
    a.write(_quality(spark, [(1, 10, 0.5)]), "quality")
    b = AttributeStore(spark, path)
    _hook_first_read(
        a._ns("quality"),
        lambda: b.write(_quality(spark, [(2, 20, 0.9)]), "quality"),
    )
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        a.write(_quality(spark, [(3, 30, 0.1)]), "quality")
    # the winner's rows are intact; the loser wrote nothing
    got = {r["doc_id"] for r in store_read_ids(b)}
    assert got == {1, 2}


def store_read_ids(store):
    return store.read("quality").select("doc_id").collect()


# ---------------------------------------------------------------------------
# compaction: prune-fold + vacuum + auto-trigger
# ---------------------------------------------------------------------------


def test_attr_compact_vacuum_and_auto_trigger(spark, tmp_path):
    store = AttributeStore(spark, str(tmp_path / "attrs"))
    for v in range(3):  # doc 1 re-tagged every round; doc (10+v) fresh
        store.write(_quality(spark, [(1, 100 + v, 0.1), (10 + v, v, 0.0)]), "quality")
    assert store.compact("quality", vacuum=True) == 3  # all auto scopes fold
    state = tmp_path / "attrs" / "quality" / "state"
    assert sorted(os.listdir(state)) == ["epoch=base-1"]
    # pruned: within the base, doc 1 keeps ONLY its newest version
    doc1 = spark.read.parquet(str(state / "epoch=base-1")).filter(F.col("doc_id") == 1)
    assert [r["n_tokens"] for r in doc1.collect()] == [102]
    # auto-trigger: armed writes keep live scopes bounded
    for v in range(6):
        store.write(
            _quality(spark, [(100 + v, v, 0.0)]), "quality",
            max_live_epochs=3,
        )
        assert len(store._ns("quality").manifest()["live"]) <= 3
    assert store.read("quality").count() == 1 + 3 + 6


# ---------------------------------------------------------------------------
# mixer: rules over attributes, null-fails, report
# ---------------------------------------------------------------------------


@pytest.fixture()
def mixed_store(spark, tmp_path):
    docs = _docs(
        spark,
        [
            (1, "short"),
            (2, "a good long document with plenty of words"),
            (3, "spam spam spam contact me by email"),
            (4, "another fine document kept by the rule"),
            (5, "untagged straggler"),  # gets NO attribute rows
        ],
    )
    store = AttributeStore(spark, str(tmp_path / "attrs"))
    store.write(
        _quality(spark, [(1, 1, 0.9), (2, 8, 0.8), (3, 7, 0.7), (4, 7, 0.9)]),
        "quality",
    )
    pii = spark.createDataFrame(
        [Row(doc_id=i, has_email=e) for i, e in
         [(1, False), (2, False), (3, True), (4, False)]],
        "doc_id long, has_email boolean",
    )
    store.write(pii, "pii")
    return docs, store


def test_attr_mix_rule_and_null_fails(spark, mixed_store):
    docs, store = mixed_store
    kept = store.mix(
        docs, ["quality", "pii"],
        "quality__n_tokens >= 5 AND NOT pii__has_email",
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4]
    assert kept.columns == docs.columns  # semi-join: text schema intact
    # untagged doc 5 fails every attribute-touching rule (NULL != keep)
    kept_all = store.mix(docs, ["quality"], "quality__n_tokens >= 0")
    assert 5 not in {r["doc_id"] for r in kept_all.collect()}
    # ... unless the rule says so explicitly
    kept_null = store.mix(
        docs, ["quality"],
        "quality__n_tokens IS NULL OR quality__n_tokens >= 5",
    )
    assert sorted(r["doc_id"] for r in kept_null.collect()) == [2, 3, 4, 5]
    # keep_attrs surfaces the joined attribute columns
    wide = store.mix(
        docs, ["quality"], "quality__n_tokens >= 5", keep_attrs=True
    )
    assert "quality__score" in wide.columns


def test_attr_mix_report(spark, mixed_store):
    docs, store = mixed_store
    rep = store.mix_report(
        docs, ["quality", "pii"],
        {
            "len": "quality__n_tokens >= 5",
            "no_email": "NOT pii__has_email",
        },
    )
    rows = {r["rule"]: (r["n_pass"], r["n_fail"]) for r in rep.collect()}
    # 5 docs: len passes {2,3,4}; no_email passes {1,2,4}; both {2,4}
    assert rows == {
        "len": (3, 2),
        "no_email": (3, 2),
        "__all__": (2, 3),
    }
    with pytest.raises(ValueError, match="rule name"):
        store.mix_report(docs, ["quality"], {"bad`name": "1=1"})
    with pytest.raises(ValueError, match="__all__"):
        store.mix_report(docs, ["quality"], {"__all__": "1=1"})


def test_attr_mix_plan_no_text_shuffle(spark, mixed_store):
    """The mixer's optimized plan must not shuffle the text column:
    text appears only in the final semi-join's stream side."""
    docs, store = mixed_store
    kept = store.mix(docs, ["quality"], "quality__n_tokens >= 5")
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi, plan
    # the latest-wins aggregates (the only shuffle-inducing ops on the
    # attribute side) must never carry the text column
    for ln in plan.splitlines():
        if "Aggregate" in ln:
            assert "text" not in ln, plan


# ---------------------------------------------------------------------------
# streaming twin: a tagger as a foreachBatch sink
# ---------------------------------------------------------------------------


def test_attr_streaming_tagger_e2e(spark, tmp_path):
    """The composition a production tagger runs: landed NDJSON files ->
    micro-batches -> attribute writes under the stream's epoch scope.
    Attributes accumulate across batches; a re-tag of the same id in a
    later epoch wins at read."""
    import json

    land = tmp_path / "land"
    land.mkdir()
    store = AttributeStore(spark, str(tmp_path / "attrs"))

    def line(i, text):
        return json.dumps({"doc_id": i, "text": text})

    (land / "b1.ndjson").write_text(
        line(1, "one two three") + "\n" + line(2, "a b c d e") + "\n"
    )
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(land)
    )

    def sink(batch, epoch):
        attrs = batch.select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.lower("text"), r"\s+"), lambda t: t != ""
                )
            ).alias("n_tokens"),
        )
        store.write(
            attrs, "quality", epoch_id=epoch, stream_id="tagger",
            max_live_epochs=4,
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (land / "b2.ndjson").write_text(
            line(2, "retagged with six whole words now") + "\n"
            + line(3, "fresh") + "\n"
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["doc_id"]: r["quality__n_tokens"]
        for r in store.read("quality").collect()
    }
    assert got == {1: 3, 2: 6, 3: 1}


# ---------------------------------------------------------------------------
# CLI: attr-tag + attr-mix
# ---------------------------------------------------------------------------


def test_cli_attr_tag_mix_e2e(spark, tmp_path):
    """attr-tag twice (quality + pii) then attr-mix with a rule:
    parquet in, filtered parquet out, equal to the library mixer."""
    from balboa_spark.cli import build_parser, run

    docs = _docs(
        spark,
        [(1, "tiny"), (2, "five words of useful content here"),
         (3, "write me at someone@example.com please do")],
    )
    inp = str(tmp_path / "docs_in")
    docs.write.parquet(inp)
    store_dir = str(tmp_path / "attrs")
    out = str(tmp_path / "kept")

    p = build_parser()
    assert run(p.parse_args(["attr-tag", store_dir, inp]), spark=spark) == 0
    assert run(
        p.parse_args(["attr-tag", store_dir, inp, "--tagger", "pii"]),
        spark=spark,
    ) == 0
    assert run(
        p.parse_args([
            "attr-mix", store_dir, inp, out,
            "quality__n_tokens >= 4 AND NOT pii__has_email",
        ]),
        spark=spark,
    ) == 0
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [2]


# ---------------------------------------------------------------------------
# column-pruned reads
# ---------------------------------------------------------------------------


def test_attr_read_cols_prunes_scan(spark, tmp_path):
    """A wide tagger mixed on a subset must not drag every column
    through the latest-wins aggregate: with cols=[...] the resolution
    struct holds only the requested attributes and parquet column
    pruning reaches the scan (ReadSchema)."""
    store = AttributeStore(spark, str(tmp_path / "attrs"))
    store.write(_quality(spark, [(1, 10, 0.5), (2, 99, 0.9)]), "quality")
    narrow = store.read("quality", cols=["n_tokens"])
    assert set(narrow.columns) == {"doc_id", "quality__n_tokens"}
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "score" not in scan[0], plan
    # values resolve identically to the full read
    full = {
        r["doc_id"]: r["quality__n_tokens"]
        for r in store.read("quality").collect()
    }
    part = {
        r["doc_id"]: r["quality__n_tokens"] for r in narrow.collect()
    }
    assert full == part
    with pytest.raises(ValueError, match="no attributes"):
        store.read("quality", cols=["nope"])
    # dict form threads per-tagger cols through the mixer
    docs = _docs(spark, [(1, "a"), (2, "b")])
    kept = store.mix(
        docs, {"quality": ["n_tokens"]}, "quality__n_tokens >= 50"
    )
    assert [r["doc_id"] for r in kept.collect()] == [2]


def test_attr_latest_wins_random_interleavings(spark, tmp_path):
    """Latest-wins under many random write sequences == a python dict
    replay (last write per id wins), including ids rewritten in the
    same batch values and across compactions."""
    import random

    rng = random.Random(11)
    store = AttributeStore(spark, str(tmp_path / "attrs"))
    expect = {}
    for batch in range(8):
        rows = [
            (rng.randint(0, 12), rng.randint(0, 999), rng.random())
            for _ in range(rng.randint(1, 6))
        ]
        # within one version, duplicate ids resolve by max attr struct
        # — replay that rule here too
        per_id = {}
        for i, n, s in rows:
            key = (n, round(s, 6))
            if i not in per_id or key > per_id[i]:
                per_id[i] = key
        rows = [(i, n, s) for i, (n, s) in per_id.items()]
        store.write(
            spark.createDataFrame(
                [(i, n, float(f"{s:.6f}")) for i, n, s in rows],
                "doc_id long, n_tokens int, score double",
            ),
            "quality",
        )
        for i, n, s in rows:
            expect[i] = (n, float(f"{s:.6f}"))
        if batch == 4:
            store.compact("quality")
    got = {
        r["doc_id"]: (r["quality__n_tokens"], r["quality__score"])
        for r in store.read("quality").collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# composed streaming pipeline: ingest -> dedup -> tag -> (batch) mix
# ---------------------------------------------------------------------------


def test_attr_streaming_dedup_tag_mix_composition(spark, tmp_path):
    """The production shape end to end: landed NDJSON micro-batches
    run cross-batch exact dedup (ExactDedupStore) and tag the kept
    docs' attributes in the same foreachBatch; afterwards one batch
    mix over the landed corpus applies a rule — documents that were
    dropped as duplicates have no attribute rows, so the mixer's
    null-fails contract excludes them without any extra plumbing."""
    import json

    from balboa_spark.operators.dedup_store import ExactDedupStore

    land = tmp_path / "land"
    land.mkdir()
    dstore = ExactDedupStore(spark, str(tmp_path / "fp"))
    astore = AttributeStore(spark, str(tmp_path / "attrs"))

    def line(i, text):
        return json.dumps({"doc_id": i, "text": text})

    def sink(batch, epoch):
        kept = dstore.process_batch(batch, epoch_id=epoch)
        astore.write(
            kept.select(
                "doc_id",
                F.size(
                    F.filter(
                        F.split(F.lower("text"), r"\s+"), lambda t: t != ""
                    )
                ).alias("n_tokens"),
            ),
            "quality", epoch_id=epoch, stream_id="tagger",
        )

    (land / "b1.ndjson").write_text(
        line(1, "the quick brown fox jumps high") + "\n"
        + line(2, "tiny") + "\n"
    )
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(land)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (land / "b2.ndjson").write_text(
            line(3, "the quick brown fox jumps high") + "\n"  # dup of 1
            + line(4, "a second genuinely novel document arrives") + "\n"
        )
        q.processAllAvailable()
    finally:
        q.stop()

    landed = spark.read.schema("doc_id long, text string").json(str(land))
    kept = astore.mix(landed, ["quality"], "quality__n_tokens >= 5")
    # 1: kept+tagged+passes; 2: tagged but too short; 3: dup -> never
    # tagged -> null fails; 4: kept+tagged+passes
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4]


def test_attr_nested_map_rejected_and_torn_first_write_unlisted(spark, tmp_path):
    """(review r12) A map nested inside a struct must be rejected at
    write time — a committed-but-unorderable schema would wedge every
    read; and a namespace whose FIRST write tore between the version
    claim and the data landing (manifest exists, no state dir) must
    not be listed by taggers(), or the CLI mixer's default path stays
    wedged on a crash that is supposed to be invisible."""
    store = AttributeStore(spark, str(tmp_path / "attrs"))
    nested = spark.createDataFrame(
        [Row(doc_id=1, a={"m": {"k": 1}})],
        "doc_id long, a struct<m: map<string,int>>",
    )
    with pytest.raises(ValueError, match="map type"):
        store.write(nested, "bad")
    # the torn first write: the scope is claimed, no data ever lands
    assert store._ns("torn").begin() == "auto-0"
    store.write(_quality(spark, [(1, 1, 1.0)]), "quality")
    assert store.taggers() == ["quality"]


def test_attr_mix_on_streaming_docs(spark, tmp_path):
    """mix() applied directly to a STREAMING docs frame: the attribute
    relations are the static sides of stream-static joins, so the
    declarative plan carries over — each micro-batch is filtered by
    the rules with no extra plumbing. The attribute snapshot is
    PINNED at query start (parquet file listings resolve once) — a
    re-tag written mid-stream is NOT seen until restart, the same
    pinning convention as the drift monitors; the test asserts that
    contract both ways."""
    import json

    store = AttributeStore(spark, str(tmp_path / "attrs"))
    store.write(
        _quality(spark, [(1, 50, 0.9), (2, 3, 0.1), (3, 50, 0.8)]),
        "quality",
    )

    land = tmp_path / "land"
    land.mkdir()
    (land / "b1.ndjson").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": f"doc {i}"}) for i in (1, 2, 3)
        )
    )
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(land)
    )
    kept = store.mix(stream, ["quality"], "quality__n_tokens >= 10")
    assert kept.isStreaming
    out = str(tmp_path / "kept")
    q = (
        kept.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # re-tag doc 2 upward mid-stream: the pinned snapshot must
        # NOT see it (doc 2 stays excluded until a restart)
        store.write(_quality(spark, [(2, 99, 0.5)]), "quality")
        (land / "b2.ndjson").write_text(
            json.dumps({"doc_id": 2, "text": "doc 2 again"})
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, "doc 1"), (3, "doc 3")]

    # a RESTARTED query pins a fresh snapshot and sees the re-tag
    stream2 = spark.readStream.schema("doc_id long, text string").json(
        str(land)
    )
    kept2 = store.mix(stream2, ["quality"], "quality__n_tokens >= 10")
    out2 = str(tmp_path / "kept2")
    q2 = (
        kept2.writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # doc 2 appears twice: the fresh query replays BOTH landed files
    # and both its rows now pass under the re-tagged n_tokens
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert got2 == [1, 2, 2, 3]


def test_attr_compact_racing_other_namespace_is_independent(spark, tmp_path):
    """Namespaces are independent single-writer domains: a concurrent
    write to ANOTHER tagger must NOT trip the compactor's CAS (its
    manifest is per-namespace), and both namespaces stay readable."""
    path = str(tmp_path / "attrs")
    a = AttributeStore(spark, path)
    for v in range(3):
        a.write(_quality(spark, [(v, v, 0.0)]), "quality")
    b = AttributeStore(spark, path)
    _hook_first_read(
        a._ns("quality"),
        lambda: b.write(
            spark.createDataFrame(
                [Row(doc_id=7, has_email=True)],
                "doc_id long, has_email boolean",
            ),
            "pii",
        ),
    )
    assert a.compact("quality") == 3  # unaffected by the pii writer
    assert a.read("quality").count() == 3
    assert b.read("pii").first()["pii__has_email"] is True
