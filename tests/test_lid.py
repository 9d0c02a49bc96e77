"""Char-n-gram NB language ID (operators/lid.py, r12) and its ccnet
integration — the CCNet chain's dedup -> LID -> LM stage."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from balboa_spark.operators import lid, lm


def test_char_ngrams_basic_and_short_text(spark):
    df = spark.createDataFrame([("AbC",), ("x",), ("",)], ["t"])
    out = df.select(lid.char_ngrams(F.col("t"), 2).alias("g")).collect()
    assert out[0]["g"] == ["ab", "bc"]  # lowercased, overlapping
    assert out[1]["g"] == []  # shorter than n: empty, NOT a countdown
    assert out[2]["g"] == []


def test_nb_hand_computed(spark):
    train = spark.createDataFrame(
        [("aa", "aaa"), ("bb", "bbb")], ["lang", "text"]
    )
    m = lid.train_char_ngram_lid(train, n=2)
    assert m.vocab == 2
    scored = {
        (r["lang"]): r["score"]
        for r in lid.score_langs(
            spark.createDataFrame([(1, "aab")], ["doc_id", "text"]), m
        ).collect()
    }
    # grams of "aab": [aa, ab]; V=2, tot=2 each, prior ln(1/2)
    exp_aa = math.log(0.5) + math.log(3 / 4) + math.log(1 / 4)
    exp_bb = math.log(0.5) + 2 * math.log(1 / 4)
    assert scored["aa"] == pytest.approx(round(exp_aa, 6))
    assert scored["bb"] == pytest.approx(round(exp_bb, 6))
    win = lid.classify_lang(
        spark.createDataFrame([(1, "aab")], ["doc_id", "text"]), m
    ).collect()
    assert [(r["doc_id"], r["lang"]) for r in win] == [(1, "aa")]


def test_classify_tie_breaks_by_lang_and_absence_contract(spark):
    train = spark.createDataFrame(
        [("xx", "qq"), ("yy", "qq")], ["lang", "text"]
    )
    m = lid.train_char_ngram_lid(train, n=2)
    docs = spark.createDataFrame([(1, "qq"), (2, "z")], ["doc_id", "text"])
    out = lid.classify_lang(docs, m).collect()
    # doc 1: symmetric model -> exact tie -> lexicographically first lang
    # doc 2: no 2-gram ("z" is 1 char) -> absent (the LM absence contract)
    assert [(r["doc_id"], r["lang"]) for r in out] == [(1, "xx")]


def _two_lang_corpus():
    """Deterministic two-'language' corpus with disjoint character
    inventories: lang A uses l/e/a-heavy syllables, lang B k/u/o."""
    rng = random.Random(7)
    a_words = ["lela", "alle", "leal", "ella", "ael"]
    b_words = ["kuko", "okku", "kouk", "ukko", "kuo"]

    def doc(words):
        return " ".join(rng.choice(words) for _ in range(12))

    return (
        [doc(a_words) for _ in range(20)],
        [doc(b_words) for _ in range(20)],
    )


def test_nb_separates_disjoint_alphabets(spark):
    a_docs, b_docs = _two_lang_corpus()
    train = spark.createDataFrame(
        [("aa", t) for t in a_docs[:5]] + [("bb", t) for t in b_docs[:5]],
        ["lang", "text"],
    )
    m = lid.train_char_ngram_lid(train)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(a_docs[5:])]
        + [(100 + i, t) for i, t in enumerate(b_docs[5:])],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang"] for r in lid.classify_lang(docs, m).collect()}
    assert all(out[i] == "aa" for i in range(15))
    assert all(out[100 + i] == "bb" for i in range(15))


def test_ccnet_pipeline_with_lid_bands_per_language(spark):
    """The closed CCNet fig.1 chain: dedup -> LID -> LM -> per-language
    banding. A mixed bilingual corpus must band WITHIN each language —
    without per-language thresholds one language's perplexity range
    would swallow the other's head band."""
    a_docs, b_docs = _two_lang_corpus()
    rows = (
        [(i, "src0", t) for i, t in enumerate(a_docs)]
        + [(100 + i, "src0", t) for i, t in enumerate(b_docs)]
        # exact dup to prove the dedup stage still runs
        + [(900, "src1", a_docs[0])]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    lid_train = spark.createDataFrame(
        [("aa", t) for t in a_docs[:5]] + [("bb", t) for t in b_docs[:5]],
        ["lang", "text"],
    )
    out = lm.ccnet_pipeline(docs, lid_train=lid_train).collect()
    ids = {r["doc_id"] for r in out}
    assert 900 not in ids  # dedup stage intact
    langs = {r["doc_id"]: r["lang"] for r in out}
    assert all(langs[i] == "aa" for i in langs if i < 100)
    assert all(langs[i] == "bb" for i in langs if i >= 100)
    # per-language banding: EACH language exhibits its own tertile
    # split (global thresholds would give one language no head)
    for lang in ("aa", "bb"):
        bands = {r["band"] for r in out if r["lang"] == lang}
        assert "head" in bands and "tail" in bands
        lang_rows = [r for r in out if r["lang"] == lang]
        heads = [r["perplexity"] for r in lang_rows if r["band"] == "head"]
        tails = [r["perplexity"] for r in lang_rows if r["band"] == "tail"]
        assert max(heads) <= min(tails)


def test_fasttext_slot_is_import_gated(spark):
    docs = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    try:
        import fasttext  # noqa: F401

        pytest.skip("fasttext installed; gated arm is live")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="fasttext"):
        lid.fasttext_lang_id(docs, "/nonexistent/lid.176.bin")


def test_train_validates_n(spark):
    train = spark.createDataFrame([("aa", "x")], ["lang", "text"])
    with pytest.raises(ValueError, match="n must be"):
        lid.train_char_ngram_lid(train, n=0)


def test_lid_plan_shape(spark):
    """classify_lang's only non-equi join is the |L|-row broadcast of
    the language table (intended: L is the label alphabet); the gram
    count join must be key-equi (no cartesian), and the one Window
    partitions by doc id with exactly |L| rows per partition."""
    train = spark.createDataFrame(
        [("aa", "hello world"), ("bb", "goodbye moon")], ["lang", "text"]
    )
    m = lid.train_char_ngram_lid(train)
    docs = spark.createDataFrame([(1, "hello moon")], ["doc_id", "text"])
    plan = (
        lid.classify_lang(docs, m)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the langs cross join is a broadcast nested loop of a 2-row side
    assert "BroadcastNestedLoopJoin" in plan


def test_ccnet_per_language_lm(spark):
    """CCNet proper: with per_language_lm=True each language is
    scored by its OWN KN model trained on that language's reference
    slice — the per-language perplexities must match running the
    single-LM chain on each language's documents separately."""
    a_docs, b_docs = _two_lang_corpus()
    rows = (
        [(i, "src0", t) for i, t in enumerate(a_docs)]
        + [(100 + i, "src0", t) for i, t in enumerate(b_docs)]
        + [(900, "src1", a_docs[0])]  # dup: dedup stage still runs
    )
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    lid_train = spark.createDataFrame(
        [("aa", t) for t in a_docs[:5]] + [("bb", t) for t in b_docs[:5]],
        ["lang", "text"],
    )
    out = lm.ccnet_pipeline(
        docs, lid_train=lid_train, per_language_lm=True
    ).collect()
    ids = {r["doc_id"] for r in out}
    assert 900 not in ids
    got = {r["doc_id"]: r for r in out}
    # per-language LM scores == single-LM chain run on that language's
    # docs alone (the LID split is clean by construction)
    for lang, lo, hi in (("aa", 0, 100), ("bb", 100, 200)):
        sl = docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        ref = {r["doc_id"]: r for r in lm.ccnet_pipeline(sl).collect()}
        for did, r in ref.items():
            assert got[did]["lang"] == lang
            assert got[did]["perplexity"] == pytest.approx(
                r["perplexity"], rel=1e-9
            )
            assert got[did]["band"] == r["band"]


def test_ccnet_per_language_lm_requires_lid(spark):
    docs = spark.createDataFrame(
        [(1, "src0", "x y")], ["doc_id", "source", "text"]
    )
    with pytest.raises(ValueError, match="lid_train"):
        lm.ccnet_pipeline(docs, per_language_lm=True)


def test_ccnet_per_language_lm_order5(spark):
    """CCNet at its REAL depth: per_language_lm=True composes with
    order=5 (one order-5 interpolated-KN model per detected language,
    the grouped scorer's n passthrough) — per-language perplexities
    must match the single-LM order-5 chain run on each language's
    documents alone."""
    a_docs, b_docs = _two_lang_corpus()
    rows = (
        [(i, "src0", t) for i, t in enumerate(a_docs)]
        + [(100 + i, "src0", t) for i, t in enumerate(b_docs)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    lid_train = spark.createDataFrame(
        [("aa", t) for t in a_docs[:5]] + [("bb", t) for t in b_docs[:5]],
        ["lang", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in lm.ccnet_pipeline(
            docs, lid_train=lid_train, per_language_lm=True, order=5
        ).collect()
    }
    assert got  # order-5 scorer keeps docs with >= 5 tokens
    for lang, lo, hi in (("aa", 0, 100), ("bb", 100, 200)):
        sl = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        ref = {r["doc_id"]: r for r in lm.ccnet_pipeline(sl, order=5).collect()}
        assert set(ref) == {d for d in got if lo <= d < hi}
        for did, r in ref.items():
            assert got[did]["lang"] == lang
            assert got[did]["perplexity"] == pytest.approx(
                r["perplexity"], rel=1e-9
            )
            assert got[did]["band"] == r["band"]
