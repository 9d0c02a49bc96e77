"""Crash-injection matrix for every ``genstore.EpochLog`` store.

Each cell copies a store holding three committed epochs (0..2 of
stream ``s``), kills the writer at one protocol step by monkeypatching
``EpochLog`` (nothing in the stores knows about the test), then checks:

- readers see exactly the never-crashed control's before- or
  after-state, never a mix;
- the replay (epoch 3 again, or the compaction again then epoch 3)
  reproduces the control's output and state;
- a second replay changes nothing;
- a writer whose read-modify-write window another writer committed
  into raises ``ConcurrentWriterError``.

The control runs epochs 0..3 once per store without compacting, so the
compaction cells also prove a fold changes no reader-visible state.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from balboa_spark.operators import lm
from balboa_spark.operators.attributes import AttributeStore
from balboa_spark.operators.dedup_store import (
    ExactDedupStore,
    MinHashDedupStore,
    SpanDedupStore,
)
from balboa_spark.plans.genstore import ConcurrentWriterError, EpochLog

BASE = "the quick brown fox jumps over the lazy dog again and again"
FRESH = "completely different content about distributed query engines"
TEXTS = {
    0: [(1, BASE), (2, "a b c d e f g h shared span of tokens")],
    1: [(10, FRESH)],
    2: [(20, "a second fresh body about stream processing systems")],
    # a duplicate of epoch-0 content (dropped against history, which by
    # then includes the folded scopes), a duplicate of epoch 1, and a
    # novel document that a replay must NOT lose to its own history
    3: [
        (30, BASE),
        (31, FRESH),
        (32, "x y a b c d e novel closing text here"),
    ],
}


def _docs(spark, e):
    return spark.createDataFrame(TEXTS[e], "doc_id long, text string")


def _rows(df):
    return None if df is None else sorted(tuple(r) for r in df.collect())


@dataclass
class Case:
    open: Callable  # (spark, path) -> store
    step: Callable  # (store, spark, batch, epoch_id, max_live) -> output rows
    state: Callable  # store -> reader-visible rows
    compact: Callable  # store -> #scopes folded
    log: Callable = lambda store: store.log


def _dedup_step(store, spark, e, epoch_id, max_live=None):
    out = store.process_batch(
        _docs(spark, e), epoch_id=epoch_id, stream_id="s", max_live_epochs=max_live
    )
    return _rows(out)


def _lm_step(store, spark, e, epoch_id, max_live=None):
    store.process_batch(
        _docs(spark, e), epoch_id=epoch_id, stream_id="s", max_live_epochs=max_live
    )


def _attr_step(store, spark, e, epoch_id, max_live=None):
    attrs = _docs(spark, e).select(
        # epoch 3 re-tags doc 1, so latest-wins decides what readers see
        F.when(F.col("doc_id") == 30, 1).otherwise(F.col("doc_id")).alias("doc_id"),
        F.length("text").alias("n_chars"),
        F.lit(e).alias("tagged_by"),
    )
    store.write(
        attrs, "quality", epoch_id=epoch_id, stream_id="s", max_live_epochs=max_live
    )


CASES = {
    "ngram": Case(
        open=lambda spark, p: lm.NgramCountStore(spark, p, n=3),
        step=_lm_step,
        state=lambda s: _rows(s.counts()),
        compact=lambda s: s.compact(),
    ),
    "minhash": Case(
        open=MinHashDedupStore,
        step=_dedup_step,
        state=lambda s: _rows(s.bands().drop("epoch")),
        compact=lambda s: s.compact(),
    ),
    "exact": Case(
        open=ExactDedupStore,
        step=_dedup_step,
        state=lambda s: _rows(s.fingerprints().drop("epoch")),
        compact=lambda s: s.compact(),
    ),
    "span": Case(
        open=lambda spark, p: SpanDedupStore(spark, p, span_tokens=4),
        step=_dedup_step,
        state=lambda s: _rows(s.hashes().drop("epoch")),
        compact=lambda s: s.compact(),
    ),
    "attr": Case(
        open=AttributeStore,
        step=_attr_step,
        state=lambda s: (s.taggers(), _rows(s.read("quality"))),
        compact=lambda s: s.compact("quality"),
        log=lambda s: s._ns("quality"),
    ),
}

KILLS = [
    "before_write",
    "mid_write",
    "before_commit",
    "torn_one_shot",
    "after_commit",
    "mid_compaction",
    "after_flip",
    "race",
]


class Crash(RuntimeError):
    pass


@pytest.fixture(scope="module")
def controls(spark, tmp_path_factory):
    """Per store: a template dir holding epochs 0..2, the state there,
    and epoch 3's output and the state after it (never crashed)."""
    root = tmp_path_factory.mktemp("epoch_log_controls")
    out = {}

    def get(name):
        if name not in out:
            case = CASES[name]
            path = str(root / name)
            store = case.open(spark, path)
            for e in range(3):
                case.step(store, spark, e, e)
            shutil.copytree(path, str(root / f"{name}_prefix"))
            before = case.state(store)
            out3 = case.step(store, spark, 3, 3)
            out[name] = (str(root / f"{name}_prefix"), before, out3, case.state(store))
        return out[name]

    return get


def _scope_dirs(log):
    return sorted(
        d[len("epoch="):] for d in os.listdir(log.state_path) if d.startswith("epoch=")
    )


def _patch(monkeypatch, name, wrapper):
    real = getattr(EpochLog, name)
    monkeypatch.setattr(
        EpochLog, name, lambda self, *a, **k: wrapper(real, self, *a, **k)
    )


@pytest.mark.parametrize(
    "name,kill",
    [
        (name, kill)
        for name in CASES
        for kill in KILLS
        # NgramCountStore writes are always epoch-scoped
        if (name, kill) != ("ngram", "torn_one_shot")
    ],
)
def test_epoch_log_crash_matrix(spark, tmp_path, controls, monkeypatch, name, kill):
    case = CASES[name]
    prefix, before, out3, after = controls(name)
    path = str(tmp_path / "store")
    shutil.copytree(prefix, path)
    store = case.open(spark, path)

    if kill in ("before_write", "mid_write", "before_commit", "torn_one_shot"):
        def torn_write(real, log, df, scope):
            if kill == "before_write":
                raise Crash(kill)
            real(log, df, scope)
            if kill == "mid_write":
                files = sorted(
                    glob.glob(f"{log._dir(scope)}/**/*.parquet", recursive=True)
                )
                for f in files[: max(1, len(files) // 2)]:
                    os.remove(f)
            raise Crash(kill)

        _patch(monkeypatch, "write", torn_write)
        epoch_id = None if kill == "torn_one_shot" else 3
        with pytest.raises(Crash):
            case.step(store, spark, 3, epoch_id)
        monkeypatch.undo()
        assert case.state(store) == before
        # the restarted writer replays the batch (a one-shot caller simply
        # runs it again and mints a fresh scope)
        store = case.open(spark, path)
        assert case.step(store, spark, 3, epoch_id) == out3
        assert case.state(store) == after
        # a second replay changes nothing; a committed one-shot batch run
        # again dedups entirely against its own history
        again = case.step(store, spark, 3, epoch_id)
        assert again == ([] if epoch_id is None and out3 is not None else out3)
        assert case.state(store) == after
        return

    if kill == "after_commit":
        case.step(store, spark, 3, 3)  # the sink never sees this output
        assert case.state(store) == after
        store = case.open(spark, path)
        for _ in range(2):  # the replay, then a second replay
            assert case.step(store, spark, 3, 3) == out3
            assert case.state(store) == after
        # replays overwrite their scope: one dir per committed epoch
        assert _scope_dirs(case.log(store)) == ["s-0", "s-1", "s-2", "s-3"]
        return

    if kill in ("mid_compaction", "after_flip"):
        if kill == "mid_compaction":

            def crash(real, log, df, scope):
                real(log, df, scope)
                if scope.startswith("base-"):
                    raise Crash(kill)

            _patch(monkeypatch, "write", crash)
        else:
            def crash(real, log, scopes):
                raise Crash(kill)

            _patch(monkeypatch, "_reclaim", crash)
        with pytest.raises(Crash):
            case.compact(store)
        monkeypatch.undo()
        assert case.state(store) == before
        store = case.open(spark, path)
        log = case.log(store)
        # replay: the compaction runs again to completion (after the flip
        # there is nothing left to fold, only retirees to reclaim)
        assert case.compact(store) == (2 if kill == "mid_compaction" else 0)
        assert case.state(store) == before
        man = log.manifest()
        assert man["live"][1:] == ["s-2"] and man["live"][0].startswith("base-")
        assert _scope_dirs(log) == sorted(man["live"] + man["retired"])
        # a second replay folds nothing and reclaims the grace dirs
        assert case.compact(store) == 0
        assert case.state(store) == before
        assert _scope_dirs(log) == sorted(log.manifest()["live"])
        # the size trigger folds base + s-2 once s-3 lands
        assert case.step(store, spark, 3, 3, max_live=2) == out3
        assert case.state(store) == after
        live = log.manifest()["live"]
        assert len(live) == 2 and live[0].startswith("base-") and live[1] == "s-3"
        return

    assert kill == "race"
    # a second writer of the same epoch commits while this writer's data
    # write (then: its compaction's fold write) is in flight; this
    # writer's commit must raise and the winner's commit must stand
    racer = case.open(spark, path)

    def race_into(store):
        log = case.log(store)
        real_write = log.write

        def racing_write(df, scope):
            case.step(racer, spark, 3, 3)
            real_write(df, scope)

        log.write = racing_write

    race_into(store)
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        case.step(store, spark, 3, 3)
    assert case.state(store) == after
    store = case.open(spark, path)
    race_into(store)
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        case.compact(store)
    assert case.state(store) == after
    store = case.open(spark, path)
    assert case.compact(store) == 3  # s-0..s-2; the loser's base is reclaimed
    assert case.state(store) == after
    for _ in range(2):
        assert case.step(store, spark, 3, 3) == out3
        assert case.state(store) == after
