"""The LM family (balboa_spark.operators.lm): add-alpha bigram /
order-n perplexity scoring, model artifact save/load, the incremental
BigramCountStore (NgramCountStore at n=2), the streaming perplexity
monitor, the lm-train / lm-score CLI — plus the leakage-safe group
split (corpus.leakage_safe_split).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from balboa_spark.operators import corpus, dedup, lm


@pytest.fixture()
def tiny(spark):
    rows = [
        (1, "a b a b"),
        (2, "a c"),
        (3, "x"),  # one token: no bigram, absent from output
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _bigram_counts(counts):
    """{(w1, w2): c} from the order-2 rows of a (k, ctx, w, c) relation."""
    return {
        (r["ctx"], r["w"]): r["c"] for r in counts.where("k = 2").collect()
    }


def test_bigram_lm_hand_computed(spark, tiny):
    # c(a b)=2, c(b a)=1, c(a c)=1; contexts c(a)=3, c(b)=1; V=4 (a b c x)
    out = {r["doc_id"]: r for r in lm.bigram_lm_perplexity(tiny).collect()}
    assert set(out) == {1, 2}
    p_ba = (2 + 1) / (3 + 4)  # P(b|a)
    p_ab = (1 + 1) / (1 + 4)  # P(a|b)
    p_ca = (1 + 1) / (3 + 4)  # P(c|a)
    avg1 = (2 * math.log(p_ba) + math.log(p_ab)) / 3
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_logprob"] == pytest.approx(avg1, rel=1e-12)
    assert out[1]["perplexity"] == pytest.approx(math.exp(-avg1), rel=1e-12)
    assert out[2]["n_bigrams"] == 1
    assert out[2]["avg_logprob"] == pytest.approx(math.log(p_ca), rel=1e-12)
    assert out[2]["perplexity"] == pytest.approx(3.5, rel=1e-12)


def test_bigram_lm_ranks_gibberish_above_fluent(spark):
    fluent = "the cat sat on the mat and the cat sat on the mat again " * 4
    gibberish = "zq xv qj vx jz qx zx vq jx xq zj vj qz xj zv jq wk kw uy yu"
    df = spark.createDataFrame(
        [(1, fluent), (2, gibberish)], ["doc_id", "text"]
    )
    ppl = {r["doc_id"]: r["perplexity"] for r in lm.bigram_lm_perplexity(df).collect()}
    # repeated fluent transitions are probable; all-distinct gibberish
    # transitions carry only smoothing mass
    assert ppl[2] > ppl[1] * 2


def test_bigram_lm_separate_train_handles_unseen_grams(spark, tiny):
    train = tiny.where("doc_id = 1")  # vocabulary {a, b}, V = 2
    score = spark.createDataFrame([(9, "q r")], ["doc_id", "text"])
    row = lm.bigram_lm_perplexity(score, train=train).collect()[0]
    # totally unseen bigram: P = (0+1)/(0+1*2) = 1/2
    assert row["avg_logprob"] == pytest.approx(math.log(0.5), rel=1e-12)
    assert row["perplexity"] == pytest.approx(2.0, rel=1e-12)


def test_bigram_lm_no_forced_corpus_broadcast(spark, tables):
    # count tables are corpus-derived (unbounded distinct grams) — the
    # plan must not FORCE a broadcast of them; AQE may still choose one
    # at runtime, so assert on the analyzed plan's hints, not the
    # physical strategy.
    plan = (
        lm.bigram_lm_perplexity(tables["documents"])
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "broadcast" not in plan.lower()


def test_perplexity_band_filter_keeps_middle(spark, tables):
    scored = lm.bigram_lm_perplexity(tables["documents"].limit(200))
    kept = lm.perplexity_band_filter(scored, 0.1, 0.8)
    n_all, n_kept = scored.count(), kept.count()
    assert 0 < n_kept < n_all
    lo_drop = scored.agg(F.min("perplexity")).collect()[0][0]
    hi_drop = scored.agg(F.max("perplexity")).collect()[0][0]
    kept_min = kept.agg(F.min("perplexity")).collect()[0][0]
    kept_max = kept.agg(F.max("perplexity")).collect()[0][0]
    assert kept_min > lo_drop or kept_max < hi_drop


# ---------------------------------------------------------------------------
# leakage-safe split
# ---------------------------------------------------------------------------


def test_leakage_safe_split_group_col_never_straddles(spark, tables):
    docs = tables["documents"].withColumn("ghash", F.md5(F.col("text")))
    out = corpus.leakage_safe_split(docs, group_col="ghash")
    straddle = (
        out.groupBy("ghash")
        .agg(F.countDistinct("split").alias("k"))
        .where("k > 1")
        .count()
    )
    assert straddle == 0
    # still roughly 80/10/10 over groups
    frac = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    n = sum(frac.values())
    assert frac["train"] / n == pytest.approx(0.80, abs=0.08)


def test_leakage_safe_split_groups_mapping_and_fallback(spark):
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 7)], ["doc_id", "text"]
    )
    groups = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g2")], ["doc_id", "component"]
    )
    out = corpus.leakage_safe_split(df, groups=groups).collect()
    by_id = {r["doc_id"]: r["split"] for r in out}
    assert by_id[1] == by_id[2]  # same component -> same side
    assert len(out) == 6  # unmapped docs kept (singleton fallback)
    assert "__grp" not in corpus.leakage_safe_split(df, groups=groups).columns
    # fallback equals plain hash_split for unmapped ids
    solo = {
        r["doc_id"]: r["split"]
        for r in corpus.hash_split(df).select("doc_id", "split").collect()
    }
    for i in (4, 5, 6):
        assert by_id[i] == solo[i]


def test_leakage_safe_split_near_dup_components_never_straddle(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [(i, base + f"tail variant {i % 3}") for i in range(30)] + [
        (100 + i, f"completely unrelated document number {i} with its own words {i}")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(df)
    comp = dedup.connected_components(pairs).selectExpr(
        "id AS doc_id", "comp AS component"
    )
    out = corpus.leakage_safe_split(df, groups=comp.select("doc_id", "component"))
    joined = out.join(comp.select("doc_id", "component"), "doc_id", "left")
    straddle = (
        joined.where("component is not null")
        .groupBy("component")
        .agg(F.countDistinct("split").alias("k"))
        .where("k > 1")
        .count()
    )
    assert straddle == 0


def _bigram_lm_py(rows, alpha=1.0):
    """Pure-Python reference of the self-trained add-alpha bigram LM."""
    from collections import Counter

    toks = {i: [w for w in t.lower().split() if w] for i, t in rows}
    c12, c1, vocab = Counter(), Counter(), set()
    for tk in toks.values():
        vocab.update(tk)
        for a, b in zip(tk, tk[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    out = {}
    for i, tk in toks.items():
        bgs = list(zip(tk, tk[1:]))
        if not bgs:
            continue
        lps = [
            math.log((c12[bg] + alpha) / (c1[bg[0]] + alpha * len(vocab)))
            for bg in bgs
        ]
        out[i] = (len(bgs), sum(lps) / len(bgs))
    return out


def test_bigram_lm_matches_python_reference(spark):
    """Random tight-vocab corpora (maximizes gram collisions):
    distributed model == pure-Python reference, reshuffle-stable."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["aa", "bb", "cc"])
    line = st.lists(word, min_size=0, max_size=10).map(" ".join)

    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(texts=st.lists(line, min_size=1, max_size=6))
    def check(texts):
        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        want = _bigram_lm_py(rows)
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
            for r in lm.bigram_lm_perplexity(df.repartition(5)).collect()
        }
        assert got.keys() == want.keys()
        for k, (n, lp) in want.items():
            assert got[k][0] == n
            assert got[k][1] == pytest.approx(lp, rel=1e-12)

    check()


def test_bigram_lm_min_count_prunes_grams_but_keeps_denominators(spark, tiny):
    # tiny: c(a b)=2, c(b a)=1, c(a c)=1; contexts c(a)=3, c(b)=1; V=4
    model = lm.train_bigram_lm(tiny, min_count=2)
    stored = {(r["ctx"], r["w"]): r["c"] for r in model.grams.collect()}
    assert stored == {("a", "b"): 2}  # singletons pruned from the artifact
    ctx = {r["ctx"]: r["c_ctx"] for r in model.ctx.collect()}
    assert ctx == {"a": 3, "b": 1}  # denominators from UNPRUNED counts
    out = {r["doc_id"]: r for r in lm.score_bigram_lm(tiny, model).collect()}
    # pruned (a c) scores as unseen: (0+1)/(3+4); kept (a b) unchanged
    assert out[2]["avg_logprob"] == pytest.approx(math.log(1 / 7), rel=1e-12)
    p_ba, p_ab = (2 + 1) / (3 + 4), (0 + 1) / (1 + 4)
    avg1 = (2 * math.log(p_ba) + math.log(p_ab)) / 3
    assert out[1]["avg_logprob"] == pytest.approx(avg1, rel=1e-12)


def test_ngram_lm_trigram_hand_computed(spark):
    # corpus: "a b c a b c" and "a b d"
    # trigram counts: (a b,c)=2? doc1 trigrams: (a b,c),(b c,a),(c a,b),(a b,c)
    #   -> c("a b","c")=2, c("b c","a")=1, c("c a","b")=1; doc2: c("a b","d")=1
    # contexts: c("a b")=3, c("b c")=1, c("c a")=1; V = 6 (a b c d x y
    #   — doc 3 is too short to contribute grams but its tokens still
    #   count toward the vocabulary)
    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b d"), (3, "x y")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in lm.ngram_lm_perplexity(df, n=3).collect()}
    assert set(out) == {1, 2}  # doc 3 has < 3 tokens
    p_abc = (2 + 1) / (3 + 6)
    p_bca = (1 + 1) / (1 + 6)
    p_cab = (1 + 1) / (1 + 6)
    avg1 = (2 * math.log(p_abc) + math.log(p_bca) + math.log(p_cab)) / 4
    assert out[1]["n_grams"] == 4
    assert out[1]["avg_logprob"] == pytest.approx(avg1, rel=1e-12)
    p_abd = (1 + 1) / (3 + 6)
    assert out[2]["avg_logprob"] == pytest.approx(math.log(p_abd), rel=1e-12)


def test_ngram_lm_order2_equals_bigram_lm(spark, tables):
    docs = tables["documents"].limit(120)
    a = {
        r["doc_id"]: (r["n_grams"], r["avg_logprob"])
        for r in lm.ngram_lm_perplexity(docs, n=2).collect()
    }
    b = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in lm.bigram_lm_perplexity(docs).collect()
    }
    assert a.keys() == b.keys()
    for k, (n, lp) in b.items():
        assert a[k][0] == n
        assert a[k][1] == pytest.approx(lp, rel=1e-12)
    with pytest.raises(ValueError):
        lm.ngram_lm_perplexity(docs, n=1)


def test_bigram_lm_save_load_roundtrip_scores_identically(spark, tiny, tmp_path):
    model = lm.train_bigram_lm(tiny)
    lm.save_bigram_lm(model, str(tmp_path / "model"))
    loaded, score_fn = lm.load_any_lm(spark, str(tmp_path / "model"))
    assert score_fn is lm.score_bigram_lm
    assert (loaded.vocab, loaded.alpha) == (model.vocab, model.alpha)
    direct = {
        r["doc_id"]: r["perplexity"]
        for r in lm.score_bigram_lm(tiny, model).collect()
    }
    reloaded = {
        r["doc_id"]: r["perplexity"]
        for r in lm.score_bigram_lm(tiny, loaded).collect()
    }
    # not ==: the parquet roundtrip changes partitioning, hence the
    # float summation order — identical to the last ulp is not owed
    assert direct.keys() == reloaded.keys()
    for k in direct:
        assert reloaded[k] == pytest.approx(direct[k], rel=1e-12)


def test_bigram_count_store_incremental_equals_one_shot(spark, tmp_path):
    rows = [(i, f"w{i % 3} common w{(i + 1) % 3} tail{i}") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    store = lm.BigramCountStore(spark, str(tmp_path / "store"))
    for e in range(3):  # three disjoint batches
        store.process_batch(df.where(f"doc_id % 3 = {e}"), epoch_id=e)
    got = _bigram_counts(store.counts())
    one_shot = lm.train_bigram_lm(df)
    want = {(r["ctx"], r["w"]): r["c"] for r in one_shot.grams.collect()}
    assert got == want
    model = store.model()
    assert model.vocab == one_shot.vocab
    a = {r["doc_id"]: r["avg_logprob"] for r in lm.score_bigram_lm(df, model).collect()}
    b = {r["doc_id"]: r["avg_logprob"] for r in lm.score_bigram_lm(df, one_shot).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-12)

    # compact() folds all but the latest epoch: both model views still
    # equal the one-shot trainers (add-alpha and KN scored through
    # their public scorers)
    assert store.compact() == 2
    assert store.log.manifest()["live"] == ["base-1", "default-2"]
    for got_df, want_df in (
        (lm.score_bigram_lm(df, store.model()), lm.score_bigram_lm(df, one_shot)),
        (
            lm.score_kn_bigram_lm(df, store.kn_model()),
            lm.score_kn_bigram_lm(df, lm.train_kn_bigram_lm(df)),
        ),
    ):
        got_lp = {r["doc_id"]: r["avg_logprob"] for r in got_df.collect()}
        want_lp = {r["doc_id"]: r["avg_logprob"] for r in want_df.collect()}
        assert got_lp.keys() == want_lp.keys() and got_lp
        for k in want_lp:
            assert got_lp[k] == pytest.approx(want_lp[k], rel=1e-12)

    # a directory in the retired bigram-only layout (manifest without
    # n, uni/ unigram dirs of (t, c) rows) is refused, never misread
    import json
    import os

    old = tmp_path / "old_layout"
    (old / "grams" / "epoch=default-0").mkdir(parents=True)
    (old / "uni" / "epoch=default-0").mkdir(parents=True)
    (old / "manifest.json").write_text(
        json.dumps({"format": 1, "live": ["default-0"], "applied": {"default": 0}})
    )
    with pytest.raises(ValueError, match="old bigram-store layout"):
        lm.BigramCountStore(spark, str(old))
    os.remove(old / "manifest.json")  # the uni/ dir alone still marks it
    with pytest.raises(ValueError, match="old bigram-store layout"):
        lm.BigramCountStore(spark, str(old))


def test_bigram_count_store_replay_idempotent_and_compacts(spark, tmp_path):
    import os

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c d"), (3, "b c")], ["doc_id", "text"]
    )
    store = lm.BigramCountStore(spark, str(tmp_path / "store"))
    for e in range(3):
        store.process_batch(df.where(f"doc_id = {e + 1}"), epoch_id=e)
    store.process_batch(df.where("doc_id = 1"), epoch_id=0)  # replay
    store.process_batch(df.where("doc_id < 0"), epoch_id=3)  # empty: no-op
    before = _bigram_counts(store.counts())
    assert before[("a", "b")] == 2  # not doubled by the replay
    assert store.log.manifest()["live"] == ["default-0", "default-1", "default-2"]
    # a plan built BEFORE the flip must survive the compaction
    pre_flip = store.counts()
    assert store.compact() == 2
    assert store.log.manifest()["live"] == ["base-1", "default-2"]
    after = _bigram_counts(store.counts())
    assert after == before
    # folded dirs kept by default — old plans still read
    assert _bigram_counts(pre_flip) == before
    # vacuum removes them once no pre-flip plans remain
    assert store.compact() == 0  # one base + the latest epoch: no fold
    store2 = lm.BigramCountStore(spark, str(tmp_path / "store2"))
    for e in range(3):
        store2.process_batch(df.where(f"doc_id = {e + 1}"), epoch_id=e)
    store2.compact(vacuum=True)
    assert not os.path.exists(
        str(tmp_path / "store2" / "grams" / "epoch=default-0")
    )
    # vocab survives compaction (unigram fold kept)
    assert store.model().vocab == 4
    import pytest as _pt

    with _pt.raises(ValueError):
        store.process_batch(df, epoch_id=9, stream_id="base")
    with _pt.raises(ValueError):
        store.process_batch(df, epoch_id=9, stream_id="a/b")


def test_cli_lm_train_score_e2e(spark, tiny, tmp_path):
    """lm-train then lm-score end to end: the scored parquet equals
    the library composition, and --min-count prunes the artifact."""
    from balboa_spark.cli import build_parser, run

    inp = str(tmp_path / "docs_in")
    tiny.write.parquet(inp)
    model_dir = str(tmp_path / "model")
    out = str(tmp_path / "scored")
    assert run(
        build_parser().parse_args(["lm-train", inp, model_dir]), spark=spark
    ) == 0
    assert run(
        build_parser().parse_args(["lm-score", model_dir, inp, out]),
        spark=spark,
    ) == 0
    got = {
        r["doc_id"]: (r["n_bigrams"], r["perplexity"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["n_bigrams"], r["perplexity"])
        for r in lm.bigram_lm_perplexity(tiny).collect()
    }
    assert got.keys() == want.keys()
    for k, (n, p) in want.items():
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(p, rel=1e-12)
    # pruned artifact: only c(a b)=2 survives --min-count 2
    pruned_dir = str(tmp_path / "model_pruned")
    assert run(
        build_parser().parse_args(
            ["lm-train", inp, pruned_dir, "--min-count", "2"]
        ),
        spark=spark,
    ) == 0
    pruned = spark.read.parquet(pruned_dir + "/c12")
    assert [(r["w1"], r["w2"]) for r in pruned.collect()] == [("a", "b")]


def test_leakage_safe_split_matches_python_md5_reference(spark):
    """Random (id, group) mappings: the assignment equals a pure-Python
    md5 bucketing of the effective key (group when mapped, id when
    not), and is reshuffle-stable."""
    import hashlib

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def py_split(key: str) -> str:
        hb = hashlib.md5((key + ":split").encode()).hexdigest()[:2]
        return "train" if hb < "cc" else ("val" if hb < "e6" else "test")

    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        n=st.integers(min_value=1, max_value=12),
        grp=st.lists(
            st.sampled_from(["g1", "g2", None]), min_size=12, max_size=12
        ),
    )
    def check(n, grp):
        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(n)], "doc_id long, text string"
        )
        mapping = spark.createDataFrame(
            [(i, g) for i, g in enumerate(grp[:n]) if g is not None],
            "doc_id long, component string",
        )
        got = {
            r["doc_id"]: r["split"]
            for r in corpus.leakage_safe_split(
                df.repartition(4), groups=mapping
            ).collect()
        }
        want = {
            i: py_split(grp[i] if i < len(grp) and grp[i] is not None else str(i))
            for i in range(n)
        }
        assert got == want

    check()


def test_streaming_lm_count_store_e2e(spark, tmp_path):
    """Structured Streaming ingest into the count store: two
    file-source micro-batches through foreachBatch, then the
    merge-on-read model equals the one-shot LM over the union."""
    import json

    src = tmp_path / "src"
    src.mkdir()
    store = lm.BigramCountStore(spark, str(tmp_path / "store"))
    rows1 = [(i, f"w{i % 2} mid w{(i + 1) % 2}") for i in range(6)]
    rows2 = [(10 + i, f"w{i % 2} tail only{i}") for i in range(4)]
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows1)
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, e: store.process_batch(b, epoch_id=e)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows2)
        )
        q.processAllAvailable()
    finally:
        q.stop()

    all_rows = spark.createDataFrame(rows1 + rows2, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["avg_logprob"]
        for r in lm.score_bigram_lm(all_rows, store.model()).collect()
    }
    want = {
        r["doc_id"]: r["avg_logprob"]
        for r in lm.bigram_lm_perplexity(all_rows).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_bigram_count_store_replay_after_compact_does_not_double_count(
    spark, tmp_path
):
    """An epoch folded into a base generation and then replayed (a
    restart from an older checkpoint) is skipped by the persistent
    applied mark instead of re-appending the folded counts."""
    df = spark.createDataFrame([(1, "a b a b"), (2, "a c")], ["doc_id", "text"])
    store = lm.BigramCountStore(spark, str(tmp_path / "store"))
    store.process_batch(df.where("doc_id = 1"), epoch_id=0)
    store.process_batch(df.where("doc_id = 2"), epoch_id=1)
    store.process_batch(df.where("doc_id = 2"), epoch_id=2)
    want = _bigram_counts(store.counts())
    assert store.compact() == 2  # epochs 0 and 1 folded into base-1
    store.process_batch(df.where("doc_id = 2"), epoch_id=1)  # the replay
    got = _bigram_counts(store.counts())
    assert got == want  # not doubled
    # a genuinely NEW epoch after compaction still lands
    store.process_batch(df.where("doc_id = 1"), epoch_id=3)
    bumped = _bigram_counts(store.counts())
    assert bumped[("a", "b")] == want[("a", "b")] * 2


def test_leakage_safe_split_null_group_falls_back_to_id(spark):
    df = spark.createDataFrame(
        [(1, "x", "g1"), (2, "y", None), (3, "z", None)],
        ["doc_id", "text", "dom"],
    )
    out = {
        r["doc_id"]: r["split"]
        for r in corpus.leakage_safe_split(df, group_col="dom").collect()
    }
    solo = {
        r["doc_id"]: r["split"]
        for r in corpus.hash_split(df).select("doc_id", "split").collect()
    }
    # NULL-group docs split like singletons, not all-into-"test"
    assert out[2] == solo[2] and out[3] == solo[3]


def test_leakage_safe_split_arg_validation(spark, tiny):
    with pytest.raises(ValueError):
        corpus.leakage_safe_split(tiny)
    with pytest.raises(ValueError):
        corpus.leakage_safe_split(
            tiny, group_col="text", groups=tiny.select("doc_id", "text")
        )
