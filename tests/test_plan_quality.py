"""Plan-shape regression guards for the round-1 scale defects: these
assert properties of the OPTIMIZED/physical plans, not results, so a
refactor that silently reintroduces a corpus broadcast or expression
blow-up fails fast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from balboa_spark.operators import dedup


def _corpus(spark, n=50):
    rows = [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} common words here") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_no_expression_explosion(spark):
    """The optimized band plan must hold exactly num_hashes array_min
    nodes (round 1 had 4x that: the signature subtree was re-inlined
    per band slot). minhash_lsh_pairs materializes this relation once
    (localCheckpoint) before the pair self-join, so the band plan IS
    the whole signature cost."""
    plan = (
        dedup.minhash_bands(_corpus(spark), num_hashes=16, num_bands=4)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("array_min") == 16, f"got {plan.count('array_min')} array_min nodes"


def test_dedup_plans_have_no_corpus_broadcast(spark):
    """No corpus-derived relation may be broadcast (round-1 OOM hazard:
    keep-sets, shingle vocabularies, per-doc size tables). Small-data
    AQE broadcasts chosen at runtime are fine — this checks there is no
    *hint-forced* broadcast in the analyzed plan."""
    corpus = _corpus(spark)
    for df in (
        dedup.exact_dedup(corpus),
        dedup.ngram_jaccard_pairs(corpus, threshold=0.1),
        dedup.minhash_lsh_pairs(corpus),
        dedup.simhash_pairs(corpus),
    ):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, analyzed[:500]


def test_embedding_dedup_lsh_path_no_cartesian(spark):
    """The LSH-candidate embedding-dedup pair path must be equi-joins
    on bucket code / id — never a cartesian or nested-loop product
    (that is what it exists to avoid)."""
    from balboa_spark.operators import similarity

    rows = [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cand = similarity.lsh_candidate_pairs(df, dim=8)
    refiltered = similarity.pairs_cosine_refilter(df, cand, 0.9)
    plan = refiltered._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_passage_dedup_plan_shape(spark):
    """passage_dedup: no hint-forced broadcast of the corpus-derived
    DF table, no cartesian/nested-loop join anywhere, and the whole
    pair path is equi-joins on hash/id."""
    from balboa_spark.operators import corpus

    df = corpus.passage_dedup(_corpus(spark), passage_tokens=4)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed[:500]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_passage_dedup_cdc_plan_shape(spark):
    """passage_dedup_cdc: the boundary computation stays pure array
    codegen (no Python eval anywhere), no hint-forced broadcast, no
    cartesian/nested-loop join; the chunk relation joins back on hash
    and the drop list on id only."""
    from balboa_spark.operators import corpus

    df = corpus.passage_dedup_cdc(_corpus(spark), passage_tokens=4)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed[:500]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan and "BatchEval" not in plan


def test_encode_corpus_segments_distinct_words_only(spark):
    """encode_corpus must pay segmentation on the DISTINCT-word
    relation, not the token stream: the optimized plan carries a
    word-keyed Aggregate (the distinct) feeding a _word equi-join, and
    with a small merge list no Python eval anywhere. A regression that
    segments the exploded token stream directly removes both the
    distinct Aggregate and the _word join."""
    from balboa_spark.operators import bpe

    corpus = _corpus(spark)
    merges = [("t", "o"), ("to", "k")]
    vocab = bpe.vocab_table(corpus, merges)
    df = bpe.encode_corpus(corpus, merges, vocab)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # the word-distinct shows up as an Aggregate whose grouping key is
    # _word, and segmentation joins back on _word — both must exist
    assert "Aggregate [_word" in optimized, optimized[:800]
    assert "Join Inner, (_word" in optimized or "Join Inner, (_word".lower() in optimized.lower(), optimized[:800]


def test_clean_text_is_projection_only(spark):
    """clean_text must stay a shuffle-free single-pass projection:
    no Exchange, no UDF — pure codegen expressions."""
    from balboa_spark.operators import corpus

    plan = (
        corpus.clean_text(_corpus(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:800]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_entries_pushdown_reaches_parquet(spark, tmp_path):
    """Point query: partition filter on bucket AND Parquet PushedFilters
    on the driving predicate — the columnar prefix-seek."""
    import datetime as dt

    from balboa_spark.operators.aggregate import aggregate
    from balboa_spark.operators.query import Query
    from balboa_spark.plans.layout import ObservationStore

    ts = dt.datetime(2020, 1, 1)
    obs = spark.createDataFrame(
        [(1, "NOERROR", "1.2.3.4", "A", "x.example", "s", ts, ts, [])],
        "count long, rcode string, rdata string, rrtype string, rrname string,"
        " sensor_id string, ts_start timestamp, ts_end timestamp, tags array<string>",
    )
    store = ObservationStore(spark, str(tmp_path / "s"), num_buckets=4)
    store.write(aggregate(obs))
    plan = (
        store.query(Query(rrname="x.example"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan and "EqualTo(rrname,x.example)" in plan


def test_fold_has_partial_aggregation(spark):
    """A1/A2: the fold must run as partial (map-side) + final
    HashAggregate — the Spark twin of the RocksDB partial merge."""
    from balboa_spark.operators.aggregate import aggregate

    import datetime as dt

    ts = dt.datetime(2020, 1, 1)
    obs = spark.createDataFrame(
        [(1, "NOERROR", "1.2.3.4", "A", "x", "s", ts, ts, [])],
        "count long, rcode string, rdata string, rrtype string, rrname string,"
        " sensor_id string, ts_start timestamp, ts_end timestamp, tags array<string>",
    )
    plan = aggregate(obs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2


def test_pack_sequences_no_single_partition_exchange(spark):
    """The default (global) packing plan must contain NO single-
    partition exchange: the document-offset prefix sum is the
    two-phase distributed form (range partition + per-bucket window +
    triangular bucket-base join), not one global window."""
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i + 2}") for i in range(20)],
        "doc_id long, text string",
    )
    from balboa_spark.operators import corpus as C

    plan = (
        C.pack_sequences(docs, seq_len=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan, "global window leaked back in"


def test_retention_plan_shape(spark):
    """Cohort retention: equi-joins only (no cartesian/nested-loop) and
    no window over the event stream — the matrix comes from two keyed
    aggregations."""
    import datetime as dt

    from balboa_spark.operators import temporal

    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1 + i % 20), i % 5) for i in range(40)],
        "event_id long, ts timestamp, user_id long",
    )
    plan = (
        temporal.retention(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_quality_bins_is_declarative(spark):
    """The quantile boundaries must flow through the plan (one-row
    aggregate broadcast back) — building the returned DataFrame runs
    NO Spark job."""
    from balboa_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "doc_id long, n_chars long"
    )
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = C.quality_bins(docs)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "quality_bins ran a driver-side job"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan  # single-row side broadcast


def test_zorder_morton_parity_and_bijection(spark):
    """zorder_code must equal the bit-interleave reference and be a
    bijection on a full 2^bits x 2^bits grid (every cell gets a unique
    code in [0, 4^bits)); and the plan is projection-only after the
    broadcast single-row min/max (no corpus shuffle, no UDF)."""
    from balboa_spark.plans.zorder import zorder_code

    bits = 4
    rows = [(a * 16 + b, a, b) for a in range(16) for b in range(16)]
    df = spark.createDataFrame(rows, "rid long, a long, b long")
    got = {
        (r.a, r.b): r.zcode
        for r in zorder_code(df, "a", "b", bits=bits).collect()
    }

    def morton(a, b):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    # min/max scaling over the full grid is the identity quantizer
    assert all(got[(a, b)] == morton(a, b) for a in range(16) for b in range(16))
    assert len(set(got.values())) == 256 and max(got.values()) == 255
    plan = (
        zorder_code(df, "a", "b", bits=bits)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan


def test_span_corruption_and_upsample_plan_shapes(spark):
    """span_corruption's windows partition by doc (no corpus-wide
    single-partition exchange beyond AQE's tiny-data coalescing of
    this fixture); mixture_upsample builds its whole plan without a
    driver-side job (capacity math is in-plan)."""
    from balboa_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(i, f"w{i} " * 20, f"s{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    plan = (
        C.span_corruption(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "Python" not in plan
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = C.mixture_upsample(docs.select("doc_id", "source"), {"s0": 0.5, "s1": 0.5})
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "mixture_upsample ran a driver-side job"
    plan2 = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan2


def test_zorder_wide_int_range_no_overflow(spark):
    """Regression: an INT column whose range exceeds ~INT_MAX/255 must
    quantize correctly — the scaling product is computed in BIGINT
    (was: (x-mn)*255 overflowed the input type)."""
    from balboa_spark.plans.zorder import zorder_code

    span = 50_000_000  # * 255 overflows int32
    df = spark.createDataFrame(
        [(i, i * span // 3, i) for i in range(4)], "rid long, a int, b int"
    )
    got = {r.rid: r.zcode for r in zorder_code(df, "a", "b", bits=8).collect()}
    assert len(set(got.values())) == 4
    # monotone in both dims here: larger a and b -> larger code
    assert got[0] < got[3]


def test_zorder_layout_bounds_both_dimensions(spark):
    """The pruning property a Z-order layout exists for: cut the
    z-sorted grid into 16 equal chunks (files) — every chunk's extent
    in EACH dimension is a 4-wide tile, so a min/max-skipping reader
    pruning on either column reads 4/16 files; an a-sorted layout
    leaves b unclustered (full 16-range in every chunk)."""
    from balboa_spark.plans.zorder import zorder_code

    rows = [(a * 16 + b, a, b) for a in range(16) for b in range(16)]
    df = spark.createDataFrame(rows, "rid long, a long, b long")
    coded = sorted(
        ((r.zcode, r.a, r.b) for r in zorder_code(df, "a", "b", bits=4).collect())
    )
    chunks = [coded[i * 16 : (i + 1) * 16] for i in range(16)]
    for ch in chunks:
        aspan = max(x[1] for x in ch) - min(x[1] for x in ch)
        bspan = max(x[2] for x in ch) - min(x[2] for x in ch)
        assert aspan <= 3 and bspan <= 3, (aspan, bspan)
    # contrast: a-sorted chunks span the full b range
    asorted = sorted(rows, key=lambda r: (r[1], r[2]))
    worst_b = max(
        max(x[2] for x in asorted[i * 16 : (i + 1) * 16])
        - min(x[2] for x in asorted[i * 16 : (i + 1) * 16])
        for i in range(16)
    )
    assert worst_b == 15


def test_zorder_layout_real_file_stats_prune(spark, tmp_path):
    """End-to-end layout claim on REAL parquet footers: write the grid
    range-partitioned and sorted on zorder_code, read each file's
    min/max stats with pyarrow, and check that a selective range
    predicate on EITHER column intersects only a minority of files —
    while a single-key sorted layout leaves the other column's
    predicate touching every file."""
    import os

    import pyarrow.parquet as pq_

    from balboa_spark.plans.zorder import zorder_code

    rows = [(a * 32 + b, a, b) for a in range(32) for b in range(32)]
    df = spark.createDataFrame(rows, "rid long, a long, b long")
    zpath = str(tmp_path / "z")
    (
        zorder_code(df, "a", "b", bits=5)
        .repartitionByRange(16, "zcode")
        .sortWithinPartitions("zcode")
        .write.parquet(zpath)
    )

    def file_ranges(path, col):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq_.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            out.append((min(mins), max(maxs)))
        return out

    n_files = len(file_ranges(zpath, "a"))
    assert n_files >= 8  # enough granularity for the claim to bite
    # predicate b in [8, 11] (a 4-row band of the 32-grid)
    hit_b = [r for r in file_ranges(zpath, "b") if not (r[1] < 8 or r[0] > 11)]
    assert len(hit_b) <= n_files // 2, (len(hit_b), n_files)
    # and the same for a narrow a-band: both dimensions prune
    hit_a = [r for r in file_ranges(zpath, "a") if not (r[1] < 8 or r[0] > 11)]
    assert len(hit_a) <= n_files // 2, (len(hit_a), n_files)

    # contrast: a-sorted layout cannot prune on b
    apath = str(tmp_path / "a")
    df.repartitionByRange(16, "a").sortWithinPartitions("a").write.parquet(apath)
    hit_b_asorted = [
        r for r in file_ranges(apath, "b") if not (r[1] < 8 or r[0] > 11)
    ]
    assert len(hit_b_asorted) == len(file_ranges(apath, "a"))  # every file


def test_timestamp_filter_pushdown_survives_ntz_normalization(spark):
    """load_tables casts TIMESTAMP_NTZ parquet columns to TimestampType
    (round-4 driver type drift). That cast must NOT block predicate
    pushdown: with the session pinned UTC the cast is order-preserving,
    and Catalyst unwraps it, so timestamp range filters still reach the
    parquet scan."""
    import os

    from balboa_spark.session import load_tables

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
    load_tables(spark, sf, names=("orders",))
    plan = (
        spark.sql(
            "SELECT o_orderkey FROM orders "
            "WHERE o_orderdate < timestamp '1995-03-15'"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "PushedFilters: []" not in scan, f"filter not pushed: {scan}"
    assert "o_orderdate" in scan.split("PushedFilters")[1][:200]


def test_bucketed_join_has_no_exchange(spark, tables, tmp_path):
    """Two tables bucketed on the join key with matching counts must
    join with NO Exchange (and, being bucket-sorted, no Sort) in the
    physical plan — the repeated-big-join cost model at scale."""
    from pyspark.sql import functions as F

    from balboa_spark.plans.bucketing import write_bucketed

    docs = tables["documents"].select("doc_id", "n_chars")
    scores = tables["documents"].select(
        "doc_id", (F.col("n_chars") % 97).alias("score")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    except Exception:
        prev_aqe = None
    try:
        # at test scale Spark prefers broadcasting the kilobyte side
        # (which disables the bucketed scan); at the scale this path
        # exists for, both sides are too big to broadcast — model that
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        write_bucketed(docs, "b_docs", str(tmp_path / "b_docs"), "doc_id", 8)
        write_bucketed(
            scores, "b_scores", str(tmp_path / "b_scores"), "doc_id", 8
        )
        joined = spark.table("b_docs").join(spark.table("b_scores"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" not in plan
        assert joined.count() == tables["documents"].count()
        # and an unbucketed twin of the same join DOES shuffle — the
        # assertion above is meaningful, not vacuous
        raw = docs.join(scores, "doc_id")
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in raw_plan or "Broadcast" in raw_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe
            )
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_scores")


def test_bpe_segment_plan_one_shuffle_takeordered(spark):
    """bpe_segment_words: the vocab groupBy is the ONLY full exchange;
    the top-n is a TakeOrdered (per-partition heaps), never a global
    sort exchange. Also guards the expression-size property: a
    12-merge chain must stay linear (analysis completes — the array-
    fold formulation hung here)."""
    from balboa_spark.operators import bpe

    merges = [(chr(97 + i), chr(98 + i)) for i in range(12)]
    df = bpe.bpe_segment_words(_corpus(spark), merges, top_n=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_props_extract_prunes_scan_columns(spark, tables, tmp_path):
    """extract_json over a parquet scan must read ONLY the json column
    and the grouping key — the projection reaches the scan."""
    from balboa_spark.operators.semistructured import extract_json

    p = str(tmp_path / "ev")
    tables["events"].write.parquet(p)
    e = spark.read.parquet(p)
    out = (
        extract_json(e, "props", {"k": ("k", "int")})
        .groupBy("event_type")
        .agg(F.sum("k").alias("s"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "props" in scan and "event_type" in scan
    assert "user_id" not in scan and "value" not in scan


def test_skew_metrics_scan_reads_only_key(spark, tables, tmp_path):
    from balboa_spark.plans import skew

    p = str(tmp_path / "ev2")
    tables["events"].write.parquet(p)
    e = spark.read.parquet(p)
    plan = (
        skew.skew_metrics(e, ["user_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "user_id" in scan and "props" not in scan and "value" not in scan
    # partial aggregation before both exchanges (map-side combine)
    assert "partial" in plan.lower()


def test_span_dedup_first_occurrence_is_partial_agg_not_window(spark):
    """span_dedup's first-occurrence must be a map-side-combined
    groupBy(min(struct)) — a row_number Window over the hash would
    put every occurrence of a mega-duplicated boilerplate hash in one
    task. The plan must show partial aggregation and NO Window in the
    pre-reassembly subtree (the only Window-free formulation)."""
    from balboa_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    plan = (
        C.span_dedup(docs, span_tokens=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_min" in plan or "partial" in plan.lower()
    # the ONLY acceptable window is none at all: reassembly is a
    # groupBy collect_list, first-occurrence a min-struct aggregate
    assert "Window" not in plan


def test_weighted_sample_global_arm_is_takeordered(spark):
    """The unstratified draw must be TakeOrdered(k) (per-partition
    heaps + driver merge), never a global sort of the corpus."""
    from pyspark.sql import functions as F

    from balboa_spark.operators import corpus as C

    df = spark.createDataFrame(
        [(i, 1.0 + i % 3) for i in range(100)], "doc_id long, w double"
    )
    plan = (
        C.weighted_sample_k(df, 5, F.col("w"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", "")


def test_domain_profile_partial_aggregates(spark):
    from pyspark.sql import functions as F

    from balboa_spark.operators import corpus as C

    df = spark.createDataFrame(
        [(1, "https://a.example.com/x", "w1 w2")], "doc_id long, url string, text string"
    )
    plan = (
        C.domain_profile(df, url_col="url", text_col="text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial" in plan.lower()  # map-side combine on the domain key


def test_exact_dedup_keep_first_is_partial_agg_not_window(spark):
    """r12: every keep-first exact-dedup site must be the map-side-
    combinable groupBy-min + semi-join shape, NEVER a row_number /
    min-over-window partitioned by the fingerprint — a window
    partition cannot partial-aggregate, so a boilerplate page
    duplicated millions of times would ship every copy to ONE task."""
    from balboa_spark.operators import dedup, lm

    docs = spark.createDataFrame(
        [(1, "src0", "a b c"), (2, "src0", "a b c"), (3, "src1", "x y z")],
        "doc_id long, source string, text string",
    )
    for df in (
        dedup.exact_dedup(docs),
        lm._ccnet_dedup_documents(docs, "text", "doc_id", "source"),
        lm._ccnet_dedup_paragraphs(docs, "text", "doc_id", "source"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "partial" in plan.lower()


def test_exact_dedup_mass_duplicate_keeps_min_id(spark):
    """The skew scenario the r12 rewrite exists for: one fingerprint
    duplicated 10k times partial-aggregates instead of landing in a
    single window partition; exactly the min id survives."""
    from balboa_spark.operators import dedup

    base = spark.range(10_000).select(
        (F.col("id") + 100).alias("doc_id"), F.lit("copy me please").alias("text")
    )
    uniq = spark.createDataFrame(
        [(1, "one of a kind"), (2, "another unique row")],
        "doc_id long, text string",
    )
    out = dedup.exact_dedup(base.unionByName(uniq)).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 100]
