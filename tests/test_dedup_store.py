"""Incremental dedup store: batches dedup against everything already
ingested via the persisted band table, composing with streaming
foreachBatch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from balboa_spark.operators.dedup_store import MinHashDedupStore, SpanDedupStore


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog again and again"
NEAR = "the quick brown fox jumps over the lazy dog again and"  # 1 token off
FRESH = "completely different content about distributed query engines"


def test_cross_batch_near_dup_dropped(spark, tmp_path):
    store = MinHashDedupStore(spark, str(tmp_path / "ds"))

    kept1 = store.process_batch(_docs(spark, [(1, BASE), (2, FRESH)]))
    assert sorted(r.doc_id for r in kept1.collect()) == [1, 2]

    # batch 2: a near-dup of doc 1, an exact dup of doc 2, a new doc
    kept2 = store.process_batch(
        _docs(
            spark,
            [(10, NEAR), (11, FRESH), (12, "some genuinely novel text here today")],
        )
    )
    assert sorted(r.doc_id for r in kept2.collect()) == [12]


def test_intra_batch_dedup_keeps_min_id(spark, tmp_path):
    store = MinHashDedupStore(spark, str(tmp_path / "ds"))
    kept = store.process_batch(_docs(spark, [(5, BASE), (3, BASE), (7, FRESH)]))
    assert sorted(r.doc_id for r in kept.collect()) == [3, 7]


def test_replayed_append_changes_no_decision(spark, tmp_path):
    """At-least-once band appends are idempotent in effect."""
    store = MinHashDedupStore(spark, str(tmp_path / "ds"))
    kept = store.process_batch(_docs(spark, [(1, BASE)]))
    store.add(kept)  # replay the append (duplicate band rows)
    kept2 = store.process_batch(_docs(spark, [(2, NEAR), (3, FRESH)]))
    assert sorted(r.doc_id for r in kept2.collect()) == [3]


def test_param_mismatch_rejected(spark, tmp_path):
    store = MinHashDedupStore(spark, str(tmp_path / "ds"))
    store.process_batch(_docs(spark, [(1, BASE)]))
    with pytest.raises(ValueError, match="was built with"):
        MinHashDedupStore(spark, str(tmp_path / "ds"), num_bands=8)


def test_streaming_foreachbatch_dedup(spark, tmp_path):
    """The composition a pipeline actually runs: landed NDJSON files ->
    micro-batches -> incremental dedup -> clean sink."""
    import json

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "clean")
    store = MinHashDedupStore(spark, str(tmp_path / "ds"))

    def doc_line(i, text):
        return json.dumps({"doc_id": i, "text": text})

    (land / "b1.ndjson").write_text(doc_line(1, BASE) + "\n" + doc_line(2, FRESH) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(land))
    )

    def sink(batch, epoch):
        # the documented composition: epoch-scoped state, so a torn
        # batch replays with identical decisions (r10)
        kept = store.process_batch(batch, epoch_id=epoch)
        kept.write.mode("append").parquet(out)

    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    try:
        q.processAllAvailable()
        (land / "b2.ndjson").write_text(
            doc_line(10, NEAR) + "\n" + doc_line(12, "novel second batch text entirely") + "\n"
        )
        q.processAllAvailable()
    finally:
        q.stop()

    clean = spark.read.parquet(out)
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 12]


# --- SpanDedupStore: incremental exact span dedup ---------------------------

def _span_store_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_span_store_matches_batch_operator(spark, tmp_path):
    """Sequential batches through the store == one-shot span_dedup on
    the concatenated corpus (ids ordered by arrival) — the incremental
    path implements the same keep-first semantics."""
    from balboa_spark.operators.corpus import span_dedup
    from balboa_spark.operators.dedup_store import SpanDedupStore

    b1 = [(1, "a b c d e f"), (2, "p q r s")]
    b2 = [(10, "x y a b c d z"),  # dup span vs batch 1
          (11, "p q r s"),        # whole doc dup vs batch 1 -> vanishes
          (12, "m n o p q")]      # fresh
    store = SpanDedupStore(spark, str(tmp_path / "spans"), span_tokens=4)
    out1 = {r["doc_id"]: r for r in store.process_batch(_span_store_docs(spark, b1)).collect()}
    out2 = {r["doc_id"]: r for r in store.process_batch(_span_store_docs(spark, b2)).collect()}
    want = {
        r["doc_id"]: r
        for r in span_dedup(_span_store_docs(spark, b1 + b2), span_tokens=4).collect()
    }
    got = out1 | out2
    assert {k: (v["n_tokens"], v["n_removed"], v["clean_text"]) for k, v in got.items()} == {
        k: (v["n_tokens"], v["n_removed"], v["clean_text"]) for k, v in want.items()
    }
    assert 11 not in got  # fully-duplicated doc disappeared
    assert got[10]["clean_text"] == "x y z"


def test_span_store_param_mismatch_rejected(spark, tmp_path):
    import pytest

    from balboa_spark.operators.dedup_store import SpanDedupStore

    store = SpanDedupStore(spark, str(tmp_path / "sp"), span_tokens=4)
    store.process_batch(_span_store_docs(spark, [(1, "a b c d e")]))
    with pytest.raises(ValueError):
        SpanDedupStore(spark, str(tmp_path / "sp"), span_tokens=8)


def test_span_store_history_stays_distinct(spark, tmp_path):
    """Appends anti-join history: re-processing overlapping content
    must not grow the stored hash set beyond distinct windows."""
    from balboa_spark.operators.dedup_store import SpanDedupStore

    store = SpanDedupStore(spark, str(tmp_path / "dd"), span_tokens=4)
    store.process_batch(_span_store_docs(spark, [(1, "a b c d e")]))
    n1 = store.hashes().count()
    # replay + one batch whose only windows duplicate history
    store.process_batch(_span_store_docs(spark, [(1, "a b c d e")]))
    store.process_batch(_span_store_docs(spark, [(9, "a b c d")]))
    assert store.hashes().count() == n1
    assert store.hashes().distinct().count() == n1


def test_postings_upsert_torn_gen_replay(spark, tmp_path):
    """Crash between the gen-dir write and the manifest flip: the
    leftover uncommitted gen dir (incl. hard-linked partitions) must
    not break the replay, and the replayed upsert must match a
    one-shot run; a second replay AFTER the flip is a no-op."""
    from balboa_spark.operators.search import PostingsIndex

    base = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(4)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "alpha epsilon zeta"), (101, "eta theta iota")],
        "doc_id long, text string",
    )

    ctrl = PostingsIndex(spark, str(tmp_path / "ctrl"))
    ctrl.build(base)
    ctrl.upsert(batch, epoch_id=7)
    want = [tuple(r) for r in ctrl.topk(["alpha", "beta"], k=10).collect()]

    idx = PostingsIndex(spark, str(tmp_path / "idx"))
    idx.build(base)
    boom = RuntimeError("simulated crash before manifest flip")
    real_flip = idx._flip_manifest
    idx._flip_manifest = lambda man, **kw: (_ for _ in ()).throw(boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.upsert(batch, epoch_id=7)
    # torn state: gen-1 dir exists, manifest still points at gen-0
    import os

    assert os.path.isdir(str(tmp_path / "idx" / "gen-1"))
    assert idx._manifest()["generation"] == 0

    restarted = PostingsIndex(spark, str(tmp_path / "idx"))
    restarted.upsert(batch, epoch_id=7)  # replay over the torn gen dir
    got = [tuple(r) for r in restarted.topk(["alpha", "beta"], k=10).collect()]
    assert got == want
    man = restarted._manifest()
    assert man["generation"] == 1 and man["last_epochs"] == {"default": 7}

    # post-flip replay (crash between flip and sink): no-op, no raise
    restarted.upsert(batch, epoch_id=7)
    assert restarted._manifest()["generation"] == 1


def test_store_format_version_guard(spark, tmp_path):
    """Stores written by an older on-disk format (unversioned, the
    format-2 dir-listing dedup layout, format-1 attribute namespaces)
    are rejected with a rebuild error, never read."""
    import json as _json

    from balboa_spark.operators.attributes import AttributeStore
    from balboa_spark.operators.dedup_store import ExactDedupStore

    def old(name, man):
        (tmp_path / name).mkdir(parents=True)
        (tmp_path / name / "manifest.json").write_text(_json.dumps(man))
        return str(tmp_path / name)

    cfg = {"num_hashes": 16, "num_bands": 4, "k": 3}
    for i, (opener, man) in enumerate([
        (MinHashDedupStore, cfg),
        (MinHashDedupStore, {**cfg, "format": 2}),
        (ExactDedupStore, {"format": 2}),
        (SpanDedupStore, {"span_tokens": 16, "format": 2}),
    ]):
        with pytest.raises(ValueError, match="rebuild"):
            opener(spark, old(f"s{i}", man))
    attrs = AttributeStore(spark, str(tmp_path / "attrs"))
    old("attrs/quality", {"format": 1, "id_col": "doc_id", "columns": ["x"]})
    with pytest.raises(ValueError, match="rebuild"):
        attrs.read("quality")


def test_minhash_store_epochs_scoped_per_stream(spark, tmp_path):
    """Two StreamingQueries (independent epoch counters) sharing one
    store: feeder B's epoch 0 must neither overwrite feeder A's
    committed epoch-0 history nor have it excluded from B's own
    decisions."""
    store = MinHashDedupStore(spark, str(tmp_path / "s"))
    store.process_batch(_docs(spark, [(1, BASE)]), epoch_id=0, stream_id="A")
    # B's epoch 0: a near-dup of A's doc must be DROPPED (A's history
    # visible — with a shared unscoped epoch it would be excluded as
    # "B's own epoch state")
    kept = store.process_batch(
        _docs(spark, [(2, BASE + " tail")]), epoch_id=0, stream_id="B"
    )
    assert kept.count() == 0
    # A's epoch-0 state survived B's epoch-0 overwrite: a replay of
    # A's own epoch 0 still reproduces its decision
    replay = store.process_batch(
        _docs(spark, [(1, BASE)]), epoch_id=0, stream_id="A"
    )
    assert sorted(r["doc_id"] for r in replay.collect()) == [1]


def test_postings_upsert_epochs_scoped_per_stream(spark, tmp_path):
    """Feeder B's epoch 0 is not a replay of feeder A's epoch 0."""
    from balboa_spark.operators.search import PostingsIndex

    idx = PostingsIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, [(1, "alpha beta gamma")]))
    idx.upsert(_docs(spark, [(2, "alpha delta")]), epoch_id=0, stream_id="A")
    idx.upsert(_docs(spark, [(3, "alpha omega")]), epoch_id=0, stream_id="B")
    got = sorted(r["doc_id"] for r in idx.topk(["alpha"], k=10).collect())
    assert got == [1, 2, 3]
    # replay of B's epoch 0: no-op, no append-only violation raised
    idx.upsert(_docs(spark, [(3, "alpha omega")]), epoch_id=0, stream_id="B")
    assert idx._manifest()["n"] == 3


# ---------------------------------------------------------------------------
# ExactDedupStore (r11): persisted whole-document fingerprint history
# ---------------------------------------------------------------------------

def test_exact_store_cross_and_within_batch(spark, tmp_path):
    from balboa_spark.operators.dedup_store import ExactDedupStore

    store = ExactDedupStore(spark, str(tmp_path / "xs"))
    kept1 = store.process_batch(
        _docs(spark, [(5, "alpha beta gamma"), (3, "alpha beta gamma"),
                      (7, "something else entirely")]),
        epoch_id=0, stream_id="s",
    )
    # within-batch keep-first: lowest id wins
    assert sorted(r.doc_id for r in kept1.collect()) == [3, 7]
    kept2 = store.process_batch(
        _docs(spark, [(10, "ALPHA   beta GAMMA"),  # normalizes equal
                      (11, "fresh new content")]),
        epoch_id=1, stream_id="s",
    )
    assert sorted(r.doc_id for r in kept2.collect()) == [11]


def test_exact_store_compact_preserves_decisions(spark, tmp_path):
    from balboa_spark.operators.dedup_store import ExactDedupStore

    store = ExactDedupStore(spark, str(tmp_path / "xc"))
    for e in range(4):
        store.process_batch(
            _docs(spark, [(10 * e, f"content block number {e}")]),
            epoch_id=e, stream_id="s",
        )
    assert store.compact() == 3  # s-0..s-2 fold, latest stays
    kept = store.process_batch(
        _docs(spark, [(100, "content block number 0"),
                      (101, "a genuinely new block")]),
        epoch_id=4, stream_id="s", max_live_epochs=2,
    )
    assert sorted(r.doc_id for r in kept.collect()) == [101]


def test_streaming_ccnet_composition(spark, tmp_path):
    """The streaming CCNet story end to end: per micro-batch, exact
    dedup against the persisted fingerprint history, fold the
    survivors' gram counts into the BigramCountStore, then score each
    batch with the store's CURRENT interpolated-KN model. Decisions
    and scores are pure functions of committed state, so the whole
    chain is replay-stable batch over batch."""
    from balboa_spark.operators import lm
    from balboa_spark.operators.dedup_store import ExactDedupStore

    dstore = ExactDedupStore(spark, str(tmp_path / "ccd"))
    cstore = lm.BigramCountStore(spark, str(tmp_path / "ccc"))
    batches = [
        _docs(spark, [(1, "the cat sat on the mat"),
                      (2, "the dog sat on the mat")]),
        _docs(spark, [(3, "the cat sat on the mat"),  # exact dup -> dropped
                      (4, "the bird flew over the tree")]),
    ]
    scored_counts = []
    for e, b in enumerate(batches):
        kept = dstore.process_batch(b, epoch_id=e, stream_id="cc")
        cstore.process_batch(kept, epoch_id=e, stream_id="cc",
                             max_live_epochs=4)
        scored = lm.score_kn_bigram_lm(kept, cstore.kn_model())
        scored_counts.append(sorted(r.doc_id for r in scored.collect()))
    assert scored_counts[0] == [1, 2]
    assert scored_counts[1] == [4]  # doc 3 never reaches the LM
    # the folded model saw exactly the kept docs: vocabulary covers
    # both batches' survivors, not the duplicate
    model = cstore.kn_model()
    assert model.vocab == len(
        {"the", "cat", "sat", "on", "mat", "dog", "bird", "flew", "over",
         "tree"}
    )


def test_exact_store_mass_duplicate_batch_keeps_min_id(spark, tmp_path):
    """r12 skew case for the store's within-batch keep-first (now a
    groupBy-min, not a window over _h): 10k copies of one text in a
    single batch keep exactly the lowest id; a later batch of the
    same text keeps nothing."""
    from pyspark.sql import functions as F

    from balboa_spark.operators.dedup_store import ExactDedupStore

    store = ExactDedupStore(spark, str(tmp_path / "mass"))
    batch = spark.range(10_000).select(
        (F.col("id") + 7).alias("doc_id"),
        F.lit("copy me please").alias("text"),
    )
    out = store.process_batch(batch, epoch_id=0)
    assert [r["doc_id"] for r in out.collect()] == [7]
    replayed = store.process_batch(
        spark.createDataFrame([(99999, "copy me please")], "doc_id long, text string"),
        epoch_id=1,
    )
    assert replayed.count() == 0
