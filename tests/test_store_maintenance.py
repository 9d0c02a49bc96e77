"""Persisted-store maintenance: concurrent-writer CAS detection (the
lost-update raise) for the generation stores, size-triggered
auto-compaction, vacuum, stream-id and one-shot-claim guards.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from balboa_spark.operators import lm
from balboa_spark.operators.aggregate import aggregate
from balboa_spark.operators.dedup_store import MinHashDedupStore, SpanDedupStore
from balboa_spark.plans.genstore import ConcurrentWriterError
from balboa_spark.plans.layout import ObservationStore


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _obs(spark, rows):
    return spark.createDataFrame(
        rows,
        "count long, rcode string, rdata string, rrtype string, rrname string,"
        " sensor_id string, ts_start timestamp, ts_end timestamp, tags array<string>",
    )


TS = dt.datetime(2020, 1, 1)


def _seed_obs(spark, tag: str, n: int = 3):
    return _obs(
        spark,
        [
            (1, "NOERROR", f"10.0.{tag}.{i}", "A", f"host{i}.{tag}", "s1", TS, TS, [])
            for i in range(n)
        ],
    )


def _hook_first_read(store, attr, side_effect):
    """Wrap a store's manifest-read method so the FIRST call also runs
    ``side_effect`` (a competing writer's full mutation) and still
    returns the PRE-side-effect manifest — the textbook lost-update
    interleave, driven through the real public code path."""
    orig = getattr(store, attr)
    state = {"fired": False}

    def hooked(*args, **kw):
        man = orig(*args, **kw)
        if not state["fired"]:
            state["fired"] = True
            side_effect()
        return man

    setattr(store, attr, hooked)


# ---------------------------------------------------------------------------
# concurrent-writer detection (two-writer lost-update -> loud raise)
# ---------------------------------------------------------------------------

def test_observation_store_concurrent_append_raises(spark, tmp_path):
    path = str(tmp_path / "obs")
    a = ObservationStore(spark, path, num_buckets=2)
    a.write(aggregate(_seed_obs(spark, "base")))
    b = ObservationStore(spark, path, num_buckets=2)
    _hook_first_read(
        a,
        "_manifest",
        lambda: b.append_delta(_seed_obs(spark, "fromb"), epoch_id=0, stream_id="b"),
    )
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        a.append_delta(_seed_obs(spark, "froma"), epoch_id=0, stream_id="a")
    # the WINNER's delta survives (the loser aborted, nothing clobbered)
    man = b._manifest()
    assert len(man["deltas"]) == 1 and man["last_epochs"] == {"b": 0}


def test_postings_index_concurrent_upsert_raises(spark, tmp_path):
    from balboa_spark.operators.search import PostingsIndex

    path = str(tmp_path / "idx")
    a = PostingsIndex(spark, path)
    a.build(_docs(spark, [(1, "alpha beta"), (2, "beta gamma")]))
    b = PostingsIndex(spark, path)
    batch = _docs(spark, [(10, "delta epsilon")])
    _hook_first_read(
        a, "_manifest", lambda: b.upsert(batch, epoch_id=0, stream_id="b")
    )
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        a.upsert(_docs(spark, [(20, "zeta eta")]), epoch_id=0, stream_id="a")
    assert b._manifest()["generation"] == 1  # winner's commit intact


def test_vector_store_concurrent_upsert_raises(spark, tmp_path):
    from balboa_spark.operators.vector_store import VectorStore

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    path = str(tmp_path / "vs")
    a = VectorStore(spark, path)
    a.write(vecs(range(4)), dim=2)
    b = VectorStore(spark, path)
    _hook_first_read(a, "_manifest", lambda: b.upsert(vecs([100])))
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        a.upsert(vecs([200]))
    assert b._manifest()["generation"] == 1


# ---------------------------------------------------------------------------
# BigramCountStore: vacuum + auto-compaction
# ---------------------------------------------------------------------------

def _lm_slice(spark, e):
    return _docs(
        spark,
        [(10 * e + i, f"tok{e} tok{i} tok{e} common words here") for i in range(3)],
    )


def _lm_counts(store):
    return sorted(tuple(r) for r in store.counts().collect())


def test_lm_compact_vacuum_deletes_immediately(spark, tmp_path):
    store = lm.BigramCountStore(spark, str(tmp_path / "lmv"))
    for e in range(3):
        store.process_batch(_lm_slice(spark, e), epoch_id=e)
    assert store.compact(vacuum=True) == 2
    man = store.log.manifest()
    # one base plus the stream's latest epoch, no grace list
    assert man["live"] == ["base-1", "default-2"] and man["retired"] == []
    for s in ("default-0", "default-1"):
        assert not os.path.isdir(str(tmp_path / "lmv" / "grams" / f"epoch={s}"))


def test_lm_auto_compaction_bounds_live_epochs(spark, tmp_path):
    store = lm.BigramCountStore(spark, str(tmp_path / "lma"))
    ctrl = lm.BigramCountStore(spark, str(tmp_path / "lmactrl"))
    for e in range(7):
        store.process_batch(_lm_slice(spark, e), epoch_id=e, max_live_epochs=2)
        ctrl.process_batch(_lm_slice(spark, e), epoch_id=e)
        assert len(store.log.manifest()["live"]) <= 3  # trigger fires past 2
    assert _lm_counts(store) == _lm_counts(ctrl)
    # replay gate survives the auto-compactions
    store.process_batch(_lm_slice(spark, 3), epoch_id=3, max_live_epochs=2)
    assert _lm_counts(store) == _lm_counts(ctrl)


# ---------------------------------------------------------------------------
# ObservationStore: max_live_deltas auto-compaction
# ---------------------------------------------------------------------------

def test_observation_store_auto_compaction(spark, tmp_path):
    store = ObservationStore(spark, str(tmp_path / "oauto"), num_buckets=2)
    store.write(aggregate(_seed_obs(spark, "w")))
    frames = [_seed_obs(spark, "w"), _seed_obs(spark, "x"), _seed_obs(spark, "y"),
              _seed_obs(spark, "z")]
    for e, fr in enumerate(frames):
        store.append_delta(fr, epoch_id=e, max_live_deltas=1)
        assert len(store._manifest().get("deltas") or []) <= 1
    one_shot = aggregate(
        _seed_obs(spark, "w").unionByName(frames[0]).unionByName(frames[1])
        .unionByName(frames[2]).unionByName(frames[3])
    )
    key = ["rrname", "sensor_id", "rrtype", "rdata", "count"]
    got = sorted(tuple(r) for r in store.forward().select(*key).collect())
    want = sorted(tuple(r) for r in one_shot.select(*key).collect())
    assert got == want


# ---------------------------------------------------------------------------
# EpochLog stores: fold threshold and stream ids (the crash, replay and
# race cells live in test_epoch_log_matrix.py)
# ---------------------------------------------------------------------------

BASE = "the quick brown fox jumps over the lazy dog again and again"


def test_minhash_compact_noop_below_two_foldables(spark, tmp_path):
    store = MinHashDedupStore(spark, str(tmp_path / "msn"))
    store.process_batch(_docs(spark, [(1, BASE)]), epoch_id=0, stream_id="s")
    store.process_batch(
        _docs(spark, [(2, "another doc of fresh words")]), epoch_id=1, stream_id="s"
    )
    # only s-0 is foldable (s-1 is the latest) -> no-op
    assert store.compact() == 0


def test_reserved_stream_ids_rejected(spark, tmp_path):
    """Reserved and out-of-charset stream ids are rejected, never
    sanitized: sanitizing mapped "feed-a" and "feed_a" to one scope dir,
    so one stream's epoch overwrote the other's committed history and a
    duplicate of the lost document survived dedup."""
    from balboa_spark.plans.genstore import EpochLog

    ms = MinHashDedupStore(spark, str(tmp_path / "msr"))
    batch = _docs(spark, [(1, BASE)])
    for bad in ("auto", "base", "feed-a"):
        with pytest.raises(ValueError, match="reserved scope"):
            ms.process_batch(batch, epoch_id=0, stream_id=bad)
    ss = SpanDedupStore(spark, str(tmp_path / "ssr"))
    with pytest.raises(ValueError, match="reserved scope"):
        ss.process_batch(batch, epoch_id=0, stream_id="base")
    ids = ["feed_a", "feed.a", "feed_a_", "FEED_A", "feed_a0"]
    assert len({EpochLog.scope(0, i) for i in ids}) == len(ids)
    ms.process_batch(batch, epoch_id=0, stream_id="feed_a")
    ms.process_batch(
        _docs(spark, [(2, "another document entirely about graphs")]),
        epoch_id=0,
        stream_id="feed.a",
    )
    kept = ms.process_batch(
        _docs(spark, [(3, BASE)]), epoch_id=1, stream_id="feed.a"
    )
    assert kept.count() == 0


# ---------------------------------------------------------------------------
# r11 ADVICE guards
# ---------------------------------------------------------------------------


def test_psl_staged_domain_out_col_collision_rejected(spark):
    from balboa_spark.functions.psl import psl_staged_domain

    df = spark.createDataFrame(
        [(1, "http://a.example.com/", "x")],
        "doc_id long, url string, domain string",
    )
    with pytest.raises(ValueError, match="output column"):
        psl_staged_domain(df, "url", out_col="domain")


def test_lm_vacuum_under_reader_contract(spark, tmp_path):
    """The documented reader contract (lm.BigramCountStore.compact):
    a plan built BEFORE a default compaction still executes (folded
    dirs keep a one-generation grace), while a plan built before
    compact(vacuum=True) may fail with a missing-file error once the
    dirs are deleted — proven here exactly as documented."""
    graceful = lm.BigramCountStore(spark, str(tmp_path / "lmg"))
    for e in range(3):
        graceful.process_batch(_lm_slice(spark, e), epoch_id=e)
    pre_plan = graceful.counts()  # lazy plan over the pre-flip live list
    want = sorted(tuple(r) for r in pre_plan.collect())
    graceful.compact()  # grace: folded dirs kept
    assert sorted(tuple(r) for r in pre_plan.collect()) == want

    vac = lm.BigramCountStore(spark, str(tmp_path / "lmx"))
    for e in range(3):
        vac.process_batch(_lm_slice(spark, e), epoch_id=e)
    doomed_plan = vac.counts()
    vac.compact(vacuum=True)  # deletes the folded dirs immediately
    with pytest.raises(Exception):  # Spark surfaces a missing-input error
        doomed_plan.collect()


# ---------------------------------------------------------------------------
# two one-shot writers racing for the same auto-N scope: the claim is
# CAS'd before any data lands, so the loser raises instead of
# overwriting the winner's parquet
# ---------------------------------------------------------------------------

def test_exact_dedup_store_two_oneshot_writers_raise(spark, tmp_path):
    from balboa_spark.operators.dedup_store import ExactDedupStore

    path = str(tmp_path / "ex2w")
    a = ExactDedupStore(spark, path)
    b = ExactDedupStore(spark, path)
    batch_a = _docs(spark, [(1, "alpha beta"), (2, "gamma delta")])
    batch_b = _docs(spark, [(10, "epsilon zeta")])
    _hook_first_read(a.log, "manifest", lambda: b.process_batch(batch_b))
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        a.process_batch(batch_a)
    # winner's scope committed; loser claimed and wrote nothing
    assert b.log.manifest()["live"] == ["auto-0"]
    assert b.fingerprints().count() == 1


def test_span_dedup_store_two_oneshot_writers_raise(spark, tmp_path):
    path = str(tmp_path / "sp2w")
    a = SpanDedupStore(spark, path, span_tokens=2)
    b = SpanDedupStore(spark, path, span_tokens=2)
    batch = _docs(spark, [(1, "a b c d"), (2, "e f g h")])
    _hook_first_read(a.log, "manifest", lambda: b.process_batch(batch))
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        a.process_batch(_docs(spark, [(5, "x y z w")]))
    assert b.log.manifest()["live"] == ["auto-0"]
    assert sorted(os.listdir(b.log.state_path)) == ["epoch=auto-0"]


def test_minhash_store_two_oneshot_writers_raise(spark, tmp_path):
    path = str(tmp_path / "mh2w")
    a = MinHashDedupStore(spark, path)
    b = MinHashDedupStore(spark, path)
    batch = _docs(spark, [(1, "the quick brown fox jumps over the dog")])
    _hook_first_read(a.log, "manifest", lambda: b.process_batch(batch))
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        a.process_batch(_docs(spark, [(9, "a wholly different sentence here")]))
    assert b.log.manifest()["live"] == ["auto-0"]
    assert {r["id"] for r in b.bands().collect()} == {1}


def test_auto_scopes_increment_across_serial_oneshot_batches(spark, tmp_path):
    """Serial one-shot batches mint auto-0, auto-1, ..."""
    from balboa_spark.operators.dedup_store import ExactDedupStore

    store = ExactDedupStore(spark, str(tmp_path / "serial"))
    store.process_batch(_docs(spark, [(1, "first batch text")]))
    store.process_batch(_docs(spark, [(2, "second batch text")]))
    scopes = {
        d for d in os.listdir(os.path.join(str(tmp_path / "serial"), "fps"))
        if d.startswith("epoch=")
    }
    assert scopes == {"epoch=auto-0", "epoch=auto-1"}
    assert store.log.manifest()["live"] == ["auto-0", "auto-1"]


def test_size_trigger_skips_near_noop_compaction(spark, tmp_path):
    """ADVICE r11: with max_live_epochs below the irreducible floor
    (each stream's latest epoch is never foldable), the trigger must
    NOT run compact() as a per-batch manifest-CAS no-op — it fires
    only when >= 2 dirs would actually fold."""
    from balboa_spark.operators.dedup_store import ExactDedupStore

    store = ExactDedupStore(spark, str(tmp_path / "noop"))
    calls = []
    orig = store.compact

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    store.compact = counting
    for e in range(2):
        store.process_batch(
            _docs(spark, [(e, f"text number {e}")]),
            epoch_id=e,
            max_live_epochs=0,
        )
    # scopes {default-0, default-1}: only default-0 is foldable -> no call
    assert calls == []
    store.process_batch(
        _docs(spark, [(2, "text number 2")]), epoch_id=2, max_live_epochs=0
    )
    # now {default-0, default-1} fold under default-2's watch
    assert calls == [1]


def test_first_epoch_write_lands_config_manifest_before_data(spark, tmp_path):
    """(r12 review) A FRESH store's first epoch append must write the
    config manifest BEFORE any band data: a crash between the data
    write and the commit stamp would otherwise leave live history
    with no num_hashes/num_bands/k guard, and a reopen with different
    parameters would silently append incompatible hashes. Injected
    crash at the banding step: the manifest must already exist, the
    data must not."""
    path = str(tmp_path / "fresh")
    store = MinHashDedupStore(spark, path)

    def boom(*a, **k):
        raise RuntimeError("injected crash before data write")

    store._band = boom
    with pytest.raises(RuntimeError, match="injected"):
        store.add(
            _docs(spark, [(1, "some words here for banding")]), epoch_id=0
        )
    assert store.log.manifest()["num_hashes"] == store.num_hashes
    assert os.path.exists(os.path.join(path, "manifest.json"))
    assert not os.path.exists(os.path.join(path, "bands"))
    # the guard makes the reopen-with-different-params check bite even
    # for this torn first write
    with pytest.raises(ValueError, match="was built with"):
        MinHashDedupStore(spark, path, num_hashes=8)
