"""Benchmark harness (driver contract: one JSON line on stdout).

Reproduces the reference's own load shapes (BASELINE.md):
- ingest_fold      — the merge-upsert write path (mkjson.py ingest analog)
- store_build      — dual-layout construction (write amplification 2x,
                     like the o/i keyspaces)
- lookup_storm     — balboa bench's 10,000 random-IPv4 rdata point
                     lookups (cmd/balboa/cmds/bench.go:52-101), restated
                     Spark-first as ONE batch semi-join instead of 10k
                     serial queries
- point_queries    — per-query latency through the bucket-pruned store
plus the scale-path extensions: tpch_q1 scan-agg, minhash near-dup,
embedding top-k.

Run: python bench.py   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)

Scaling-probe mode (r17, VERDICT item 8): at sf0.1 every item is
job-overhead-bound, so low-core/high-core ratios sit near 1 and say
nothing about compute scaling. To make the c8-vs-c32 comparison
diagnostic, generate the deterministic 10x dataset once —

    python scripts/make_scaledata.py            # -> .scaledata/sf1

— then run the same bench against it:

    SPARK_GRAFT_SF_DIR=/root/repo/.scaledata/sf1 python bench.py

Same items, same methodology, same JSON contract (the "sf" field
reports the directory's suffix, "1" here). make_scaledata.py
replicates sf0.1 with per-replica perturbations chosen so workload
DENSITY stays constant (dup rates, fuzzy-pair rates, join fan-outs)
while volume is 10x — see its docstring.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pandas as pd  # module-global: pandas_udf type hints resolve here

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from pyspark.sql import functions as F

    from balboa_spark.entry_queries import RRNAME_SUBJECT
    from balboa_spark.obsmap import OBS_SQL
    from balboa_spark.operators.aggregate import aggregate
    from balboa_spark.operators.query import Query
    from balboa_spark.operators import dedup, similarity
    from balboa_spark.plans.layout import ObservationStore
    from balboa_spark.session import get_spark, load_tables

    spark = get_spark("balboa-bench")
    load_tables(spark, SF_DIR)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    timings: dict[str, float] = {}
    pass_log: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    items: list[tuple[str, object]] = []

    # Pure-Python host-speed canary (no Spark, no NumPy): each pass
    # times the shared fixed workload; the output reports every item's
    # median DIVIDED by the canary median (queries_normalized, in
    # canary units) so the round-over-round trail compares engine
    # plans, not host weather. ONE shared definition with the
    # streaming latency probe — see balboa_spark/hostcanary.py.
    from balboa_spark.hostcanary import host_canary

    def timed(name):
        # Registration only — items run (twice) after all definitions.
        def deco(fn):
            items.append((name, fn))

        return deco

    def run_items(passes: int = 2) -> None:
        # Per-item MIN over two full passes: this host shows ~30s bursts
        # of external interference (3-5x slowdowns on an idle-load VM,
        # contiguous runs of items spiking together); a burst rarely
        # hits the same item in both passes, so the min is the
        # steady-state estimate (the hyperfine/min convention). Each
        # item stays fault-isolated: one failure records an error entry
        # and the final JSON line is always emitted (round 4 lost all
        # numbers to a single AnalysisException). EVERY pass is also
        # recorded (queries_median in the output) so the min convention
        # cannot mask a real regression: a plan that genuinely slowed
        # shows in the median even when one lucky pass keeps the min
        # flat.
        def spark_canary() -> float:
            # JVM-side twin of the pure-Python canary (r15): a fixed
            # 5M-row whole-stage-codegen aggregate. The Python canary
            # cannot see JVM/GC/shuffle-IO interference — the r15
            # bench showed the Python canary speeding up while Spark
            # did not, deflating normalized improvements. Recorded
            # alongside (spark_canary_sec) so cross-round adjudication
            # can pick the canary that matches the contended resource;
            # the normalized trail stays on host_canary for
            # r14-continuity.
            t0 = time.time()
            spark.range(5_000_000).selectExpr("sum(id * 2) AS s").collect()
            return time.time() - t0

        for _ in range(passes):
            pass_log.setdefault("host_canary", []).append(host_canary())
            pass_log.setdefault("spark_canary", []).append(spark_canary())
            for name, fn in items:
                if name in errors:
                    continue
                t0 = time.time()
                try:
                    fn()
                except Exception as e:  # noqa: BLE001 - record and continue
                    errors[name] = f"{type(e).__name__}: {e}"[:500]
                    print(f"[bench] {name} FAILED: {errors[name]}", file=sys.stderr)
                dt = round(time.time() - t0, 3)
                pass_log.setdefault(name, []).append(dt)
                timings[name] = min(timings.get(name, dt), dt)

    obs = spark.sql(OBS_SQL)

    # Untimed warm-up (standard bench hygiene, declared): first-touch
    # costs — JVM codegen, parquet footer reads, shuffle service init,
    # and Python/Arrow worker spawn — land on whichever item happens to
    # run first and swamp its number (measured: the same item is 3x
    # slower cold than warm). One trivial scan per table plus one no-op
    # pandas_udf call pays them once, outside every timing window.
    from pyspark.sql.functions import pandas_udf

    for t in ["documents", "embeddings", "events", "lineitem", "orders", "customer"]:
        spark.table(t).count()

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(_warm("id")).write.mode("overwrite").format("noop").save()

    tmp = tempfile.mkdtemp(prefix="balboa_bench_")

    # WET shard fixtures for the wet_ingest item (untimed setup: the
    # item measures the READ path, not the python fixture writer)
    import gzip as _gzip

    from balboa_spark.sources import wet as _wetmod

    _wet_dir = os.path.join(tmp, "wet")
    os.makedirs(_wet_dir, exist_ok=True)
    _docs = spark.table("documents").select("doc_id", "text").collect()
    _shards = 16
    for s in range(_shards):
        recs = [
            (f"<urn:doc:{r['doc_id']}>", f"http://bench/{r['doc_id']}",
             f"<html><body><h1>d{r['doc_id']}</h1><p>{r['text']}</p></body></html>")
            for r in _docs[s::_shards]
        ]
        with open(os.path.join(_wet_dir, f"part-{s:02d}.warc.wet.gz"), "wb") as fh:
            fh.write(_gzip.compress(_wetmod.wet_bytes(recs), compresslevel=1))
    del _docs

    store = ObservationStore(spark, os.path.join(tmp, "store"), num_buckets=8)

    # The driver parquet files are ONE row group each, so Spark cannot
    # split the scan across cores; repartition CPU-heavy per-row inputs
    # — the local stand-in for the many input splits a real corpus has.
    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    def par(df):
        return df.repartition(n_cpus)

    @timed("ingest_fold")
    def _():
        aggregate(obs).write.mode("overwrite").format("noop").save()

    @timed("store_build")
    def _():
        store.write(aggregate(obs))

    @timed("lookup_storm")
    def _():
        # 10,000 random-IPv4 subjects (seeded, driver-side) -> one
        # bucket-pruned broadcast semi-join via the store API
        import random

        rnd = random.Random(42)
        subjects = [
            f"10.{rnd.randrange(5)}.{rnd.randrange(25)}.{rnd.randrange(13)}"
            for _ in range(10000)
        ]
        store.query_many(subjects, by="rdata").write.mode("overwrite").format("noop").save()

    @timed("merge_batch")
    def _():
        # selective-bucket merge: cost must scale with the batch (1% of
        # the input), not the store — the RocksDB-merge analog
        batch = obs.filter(F.col("event_id") % 100 == 0)
        store.merge(batch)

    @timed("delta_ingest")
    def _():
        # LSM write path (r10): 4 micro-batch appends (O(batch) each,
        # zero base reads) + one bucket-pruned point query through the
        # merge-on-read fold + one compaction back to a clean base —
        # the high-frequency-stream alternative merge_batch can't be
        from balboa_spark.operators.query import Query as _Q

        # slices 1..4: slice 0 already went through merge_batch, and
        # re-appending it would double-count those keys in the shared
        # bench store (cross-round timing must run over identical data)
        for i in range(1, 5):
            store.append_delta(obs.filter(F.col("event_id") % 100 == i))
        store.query(_Q(rrname=RRNAME_SUBJECT)).write.mode(
            "overwrite"
        ).format("noop").save()
        store.compact()

    @timed("point_queries")
    def _():
        for i in range(20):
            store.query(Query(rdata=f"10.{i % 5}.{i % 25}.{i % 13}", limit=1000)).collect()
        store.query(Query(rrname=RRNAME_SUBJECT, limit=1000)).collect()

    @timed("tpch_q1")
    def _():
        spark.sql(
            """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice) AS sum_base_price,
                   sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                   avg(l_quantity) AS avg_qty, count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= date '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            """
        ).write.mode("overwrite").format("noop").save()

    @timed("tpch_q3")
    def _():
        # 3-way join + filter + agg + top-k: Catalyst/AQE join planning
        from balboa_spark.entry_queries_extra import TPCH_Q3_SQL

        spark.sql(TPCH_Q3_SQL).write.mode("overwrite").format("noop").save()

    @timed("dedup_minhash")
    def _():
        docs = par(spark.table("documents").select("doc_id", "text"))
        dedup.minhash_lsh_pairs(docs).write.mode("overwrite").format("noop").save()

    @timed("dedup_near_keep")
    def _():
        # pairs -> connected components -> keep-set: the full dedup stage
        docs = par(spark.table("documents").select("doc_id", "text"))
        pairs = dedup.minhash_lsh_pairs(docs)
        dedup.near_dedup_keep(docs, pairs).write.mode("overwrite").format("noop").save()

    @timed("dedup_embedding_lsh")
    def _():
        # embedding near-dedup via the scale path: LSH bucket-collision
        # candidate pairs + exact cosine refilter + components keep-set
        # (never the n² cross join). NOT repartitioned: the candidate
        # refilter joins the (large) pair set back against the vectors,
        # and pre-shuffling the small vector table forces both joins
        # through sort-merge exchanges — measured 5x slower than
        # letting AQE broadcast the single-partition vector side.
        # num_tables=8: at real near-dup thresholds (cos >= 0.97) the
        # per-pair miss prob is ~2.6e-3 (vs 7e-6 at 16) — still ~1
        # recall after CC transitivity, at HALF the code-explode and
        # candidate-join volume. The exact refilter restores precision
        # either way; the correctness oracle uses the exact path.
        emb = spark.table("embeddings")
        cand = similarity.lsh_candidate_pairs(emb, dim=64, num_tables=8)
        dedup.embedding_near_dedup(emb, 0.35, candidates=cand).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("corpus_pipeline")
    def _():
        # quality gate -> PII scrub -> context-window chunking: the
        # training-data prep chain, all JVM-side projections, ONE pass
        # over the corpus (the quality verdict carries the text through
        # rather than joining back against the corpus). The narrow
        # (id, text, keep) relation rides a lazy persist(): filtering
        # on keep straight off the projection lets predicate pushdown
        # inline the tokenize chain per reference inside the pushed
        # filter (~8 evals/row — the r16 pretrain_pipeline finding);
        # the cache boundary keeps the verdict computed once, with no
        # extra pass (it populates during the one action).
        from balboa_spark.operators import corpus

        docs = par(spark.table("documents"))
        gated = (
            corpus.gopher_filter(docs, passthrough=["text"])
            .select("doc_id", "text", "keep")
            .persist()
        )
        clean = corpus.redact_pii(gated.filter(F.col("keep")))
        corpus.chunk_tokens(
            clean.withColumnRenamed("text_redacted", "text")
        ).write.mode("overwrite").format("noop").save()
        gated.unpersist()

    @timed("events_asof")
    def _():
        # sort-based as-of join: every purchase -> most recent prior
        # click per user (joinless union+window plan)
        from balboa_spark.operators import temporal

        e = spark.table("events")
        purchases = e.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = e.filter(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("c_event_id"), F.col("ts").alias("c_ts")
        )
        temporal.asof_join(
            purchases, clicks, on=["user_id"], right_ts="c_ts"
        ).write.mode("overwrite").format("noop").save()

    @timed("events_rolling_1h")
    def _():
        # trailing 1-hour RANGE window per user over the full stream
        from balboa_spark.operators import temporal

        temporal.rolling_features(spark.table("events")).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("events_retention")
    def _():
        # cohort retention matrix: two keyed aggregations + one
        # equi-join over the narrow (user, cohort) relation
        from balboa_spark.operators import temporal

        temporal.retention(spark.table("events")).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("corpus_boilerplate")
    def _():
        # cross-document boilerplate: distinct 5-grams, DF groupBy,
        # AQE-decided join back — the inverted-index shape at corpus scale
        from balboa_spark.operators import corpus

        corpus.boilerplate_ratio(par(spark.table("documents"))).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("passage_dedup")
    def _():
        # passage-level substring dedup: narrow (id, idx, md5) explode,
        # one map-side-combined DF groupBy, AQE-decided join back,
        # per-doc bounded reassembly
        from balboa_spark.operators import corpus

        corpus.passage_dedup(par(spark.table("documents"))).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("pack_sequences")
    def _():
        # concat-and-chunk packing of the whole corpus token stream
        from balboa_spark.operators import corpus

        corpus.pack_sequences(spark.table("documents")).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("events_interval_join")
    def _():
        # point-in-interval join via the bucketed equi-join rewrite —
        # the raw BETWEEN predicate would plan as a per-key nested loop
        from balboa_spark.operators import temporal

        e = spark.table("events")
        intervals = e.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            "user_id",
            (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
            F.col("ts").alias("w_end"),
        )
        points = e.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("c_id"), "user_id", "ts"
        )
        temporal.interval_join(points, intervals, on=["user_id"]).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("events_zorder")
    def _():
        # Morton layout codes over (user_id, epoch-us): broadcast
        # min/max + shift/mask codegen chain, projection-only
        from balboa_spark.plans.zorder import zorder_code

        e = spark.table("events").select(
            "event_id", "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
        )
        zorder_code(e, "user_id", "ts_us").write.mode("overwrite").format(
            "noop"
        ).save()

    @timed("corpus_winnow")
    def _():
        # winnowing fingerprints, default via='window': O(chars) gram
        # rows + one per-doc frame-min window pass (the via='explode'
        # alternative trades w x the rows for mega-doc skew immunity)
        from balboa_spark.operators.text import winnow_fingerprints

        winnow_fingerprints(par(spark.table("documents"))).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("ann_pq_topk")
    def _():
        # PQ encode + asymmetric-distance top-k: broadcast m*k lookup
        # table against the code relation, one keyed sum
        emb = spark.table("embeddings")
        qvec = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
        similarity.pq_topk(emb, qvec, k=20, dim=64).collect()

    @timed("embedding_topk")
    def _():
        emb = spark.table("embeddings")
        qvec = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
        similarity.topk_brute(emb, qvec, k=20).collect()

    @timed("ann_lsh_topk")
    def _():
        emb = spark.table("embeddings")
        qvec = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
        similarity.lsh_bucketed_topk(emb, qvec, k=20).collect()

    @timed("dsir_select")
    def _():
        # hashed-n-gram importance selection: one corpus-sized shuffle
        # (doc x bucket counts) + a 256-row broadcast log-ratio table +
        # TakeOrdered — the data-selection pass of a training pipeline
        from balboa_spark.operators import corpus

        docs = par(spark.table("documents"))
        target = docs.filter(F.col("source") == "src0")
        # target_subset: the same arm the graded corpus_dsir_topk query
        # runs (r16) — target counts semi-joined from the persisted
        # doc-bucket relation, no second tokenize pass
        corpus.dsir_topk(docs, target, k=100, target_subset=True).collect()

    @timed("epoch_shuffle_write")
    def _():
        # deterministic epoch-shard materialization: one hash
        # repartition + within-shard sort, no global sort
        from balboa_spark.operators import corpus

        corpus.write_epoch_shards(
            par(spark.table("documents")).select("doc_id", "text"),
            os.path.join(tmp, "epoch0"),
            epoch=0,
            shard_hex_chars=1,
        )

    @timed("bpe_segment")
    def _():
        # pinned-merge tokenizer segmentation: ONE vocab-sized shuffle
        # (word histogram) + a linear fold chain + TakeOrdered
        from balboa_spark.entry_queries_corpus import BPE_MERGES
        from balboa_spark.operators import bpe

        bpe.bpe_segment_words(
            par(spark.table("documents")), BPE_MERGES, top_n=30
        ).collect()

    @timed("passage_dedup_cdc")
    def _():
        # content-defined-chunking substring dedup: same linear chunk
        # relation as passage_dedup, boundaries position-independent
        from balboa_spark.operators import corpus

        corpus.passage_dedup_cdc(par(spark.table("documents"))).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("pipeline_pretrain")
    def _():
        # the COMPOSED pretraining chain (clean -> Gopher gate ->
        # hub-capped MinHash near-dedup -> DSIR selection -> packing)
        # with production parameters — the headline integration
        # workload; its cost is the sum of its audited stages, shared
        # subtrees persisted once (entry_queries_docs rationale)
        from balboa_spark.operators import corpus

        docs = spark.table("documents")
        noisy = docs.select(
            "doc_id",
            "source",
            F.concat(F.lit("\x01“noise” "), F.col("text"), F.lit("\x7f")).alias(
                "text"
            ),
        )
        corpus.pretrain_pipeline(
            noisy, target_source="src0", dsir_k=2000, seq_len=128
        ).write.mode("overwrite").format("noop").save()

    @timed("bpe_segment_arrow")
    def _():
        # production-vocab segmentation path: 512-merge list through
        # the Arrow batch segmenter. Per-word cost is O(len^2)
        # present-pair rank lookups, INDEPENDENT of merge-list size
        # (the 16 real pinned merges dominate the applied work; the
        # padded tail exercises exactly the claim — adding merges must
        # not add per-word cost, unlike the expression-chain form
        # whose plan grows per merge and stops analyzing ~100s).
        from balboa_spark.entry_queries_corpus import BPE_MERGES
        from balboa_spark.operators import bpe

        merges512 = list(BPE_MERGES) + [
            (f"q{i}", f"q{i + 1}") for i in range(512 - len(BPE_MERGES))
        ]
        bpe.bpe_segment_words(
            par(spark.table("documents")), merges512, top_n=30
        ).collect()

    @timed("unigram_segment")
    def _():
        # unigram-LM Viterbi apply path (r13): word histogram + the
        # forward/backward Column DP folds over the distinct-word
        # relation — the SentencePiece tokenizer's hot path.
        from balboa_spark.entry_queries_corpus import (
            UNIGRAM_MAX_LEN,
            UNIGRAM_VOCAB,
        )
        from balboa_spark.operators import unigram

        unigram.unigram_segment_words(
            par(spark.table("documents")),
            UNIGRAM_VOCAB,
            max_piece_len=UNIGRAM_MAX_LEN,
        ).write.mode("overwrite").format("noop").save()

    @timed("bpe_bytes_encode")
    def _():
        # byte-level tokenizer encode (r13): GPT-2 pre-tokenize ->
        # per-DISTINCT-pre-token hex-pair fold -> structural-vocab
        # broadcast join -> positional regroup. The no-OOV production
        # tokenizer path at corpus scale.
        from balboa_spark.entry_queries_corpus import BYTE_BPE_MERGES
        from balboa_spark.operators import bpe

        bpe.byte_encode_corpus(
            par(spark.table("documents")), BYTE_BPE_MERGES
        ).write.mode("overwrite").format("noop").save()

    @timed("events_skew")
    def _():
        # skew diagnostics: one keys-sized groupBy + a 1-row reduce
        from balboa_spark.plans import skew

        skew.skew_metrics(spark.table("events"), ["user_id"]).collect()

    @timed("span_dedup")
    def _():
        # sliding-window exact span dedup: corpus-token-sized window
        # relation (the exact-dedup price), map-side-combined
        # first-occurrence agg, AQE-skew-handled verdict join
        from balboa_spark.operators import corpus

        corpus.span_dedup(
            par(spark.table("documents")), span_tokens=8
        ).write.mode("overwrite").format("noop").save()

    @timed("pipeline_crawl")
    def _():
        # composed crawl chain: html extract -> Gopher gate -> exact
        # dedup -> per-domain rollup (the pipeline_crawl driver query
        # at bench scale)
        from balboa_spark.entry_queries_corpus import q_pipeline_crawl

        q_pipeline_crawl(spark, SF_DIR).write.mode("overwrite").format(
            "noop"
        ).save()

    @timed("psl_domain_key")
    def _():
        # PSL domain-key micro-bench (r9 task #3; r10: now measures
        # the DEFAULT arm — psl_staged_domain over the FULL pinned
        # published list): synth url projection -> staged-projection
        # InSet domain key -> count-by-domain — isolating the rule-
        # match cost (build + exec) that pipeline_crawl pays inside
        # its rollup. r10: the SQL-string probe build keeps this at
        # ~1.2s warm; the isin()-built arm paid ~6s/query of Py4J
        # literal marshalling (PERF.md drift section).
        from balboa_spark.entry_queries_corpus import _synth_url_col
        from balboa_spark.functions.psl import psl_staged_domain

        (
            psl_staged_domain(
                par(spark.table("documents")).select(
                    _synth_url_col().alias("url")
                ),
                "url",
                out_col="d",
            )
            .groupBy("d")
            .count()
            .write.mode("overwrite")
            .format("noop")
            .save()
        )

    @timed("wet_ingest")
    def _():
        # crawl-ingest path: 16 gzip WET shards (built once, untimed,
        # from the documents table) -> binaryFile scan -> mapInPandas
        # record parse -> html strip -> token count. File-per-task
        # parallelism; measures the source + extraction chain.
        from balboa_spark.operators.text import html_to_text, token_count
        from balboa_spark.sources import wet as wetmod

        (
            wetmod.read_wet(spark, _wet_dir)
            .select(
                token_count(html_to_text(F.col("text"))).alias("nt")
            )
            .agg(F.sum("nt"))
            .collect()
        )

    @timed("lm_perplexity")
    def _():
        # CCNet-shaped bigram-LM quality filter, self-trained on the
        # documents table: one all-orders count pass (checkpointed; V
        # is its k=1 row count) + two gram-keyed joins, all codegen.
        # Tracks the cost of the add-alpha text scoring path (two
        # tokenize passes of the corpus).
        from balboa_spark.operators import lm

        lm.bigram_lm_perplexity(
            par(spark.table("documents"))
        ).write.mode("overwrite").format("noop").save()

    @timed("lm_kn_perplexity")
    def _():
        # interpolated Kneser-Ney twin (r11; the order-n KN scorer at
        # n=2): the same count pass plus the checkpointed adjusted
        # (continuation) table and one extra gram-keyed join vs
        # add-alpha — tracks the cost delta of the CCNet-parity
        # smoothing on the same self-trained corpus.
        from balboa_spark.operators import lm

        lm.kn_bigram_lm_perplexity(
            par(spark.table("documents"))
        ).write.mode("overwrite").format("noop").save()

    @timed("pipeline_ccnet")
    def _():
        # the composed CCNet chain (r11; dedup stage rewritten r12 to
        # groupBy-min + semi-join): hash dedup -> KN LM trained on the
        # src0 slice -> perplexity -> head/middle/tail banding. One
        # partial-agg dedup shuffle + one training pass + three
        # gram-keyed joins + a broadcast threshold row; deduped and
        # scored frames are checkpointed once each inside the operator.
        from balboa_spark.operators import lm

        lm.ccnet_pipeline(
            par(spark.table("documents").select("doc_id", "source", "text"))
        ).write.mode("overwrite").format("noop").save()

    @timed("pipeline_ccnet_approx")
    def _():
        # the 100 TB threshold arm: percentile_approx sketch aggregate
        # instead of exact percentile's map-side multiset — the swap
        # point the r11 verdict asked to be benched (same chain
        # otherwise; the delta IS the threshold cost)
        from balboa_spark.operators import lm

        lm.ccnet_pipeline(
            par(spark.table("documents").select("doc_id", "source", "text")),
            threshold="approx",
        ).write.mode("overwrite").format("noop").save()

    @timed("lm_kn5_perplexity")
    def _():
        # order-5 interpolated KN (r12) — the depth CCNet's KenLM
        # filter runs: ONE corpus pass emits all 5 gram orders into a
        # single checkpointed count table; 4 adjusted-table
        # derivations + 2 gram-keyed joins per order, all codegen.
        from balboa_spark.operators import lm

        lm.kn_ngram_lm_perplexity(
            par(spark.table("documents")), n=5
        ).write.mode("overwrite").format("noop").save()

    @timed("pipeline_ccnet_par")
    def _():
        # paragraph-granularity ccnet dedup (r12): posexplode ->
        # narrow (hash, id, idx) groupBy-min -> semi-join ->
        # collect_list reassembly, then the same KN chain.
        from balboa_spark.operators import lm

        lm.ccnet_pipeline(
            par(spark.table("documents").select("doc_id", "source", "text")),
            granularity="paragraph",
        ).write.mode("overwrite").format("noop").save()

    @timed("lm_kn_by_source")
    def _():
        # per-group KN (r12): 20 per-source bigram LMs in ONE
        # relational plan — group-keyed counts/stats/discount
        # relations joined back, no per-group loop, no collected
        # scalars.
        from balboa_spark.operators import lm

        docs = par(spark.table("documents"))
        lm.kn_ngram_lm_perplexity_by_group(
            docs, n=2, group_col="source",
            train=docs.where(F.col("doc_id") % 3 == 0),
        ).write.mode("overwrite").format("noop").save()

    @timed("lang_id")
    def _():
        # char-trigram NB LID (r12): explode to grams, broadcast
        # |L|-row language table, one gram-keyed left join, partial-agg
        # per-(doc, lang) sum, bounded |L|-row argmax window.
        from balboa_spark.operators import lid

        docs = par(spark.table("documents"))
        model = lid.train_char_ngram_lid(
            docs.where(F.col("doc_id") % 2 == 0), label_col="source"
        )
        lid.classify_lang(docs, model).write.mode("overwrite").format(
            "noop"
        ).save()

    attr_shared: dict = {}

    @timed("attr_mix")
    def _():
        # attribute store + mixer (r12): two tagger writes (narrow
        # id+attr parquet, text never persisted), then a mix whose
        # keep-set is decided entirely on id-keyed attr joins with one
        # latest-wins partial aggregate per tagger — text is touched
        # once, by the final left-semi join.
        import tempfile as _tf

        from balboa_spark.operators.attributes import EMAIL_RE, AttributeStore
        from balboa_spark.operators.text import tokens as _toks

        docs = par(spark.table("documents").select("doc_id", "source", "text"))
        store = AttributeStore(spark, _tf.mkdtemp(dir=tmp, prefix="attr_"))
        attr_shared["store"], attr_shared["docs"] = store, docs
        store.write(
            docs.select(
                "doc_id",
                F.size(_toks(F.col("text"))).alias("n_tokens"),
                F.length("text").alias("n_chars"),
            ),
            "quality",
        )
        store.write(
            docs.select(
                "doc_id", F.col("text").rlike(EMAIL_RE).alias("has_email")
            ),
            "pii",
        )
        store.mix(
            docs,
            ["quality", "pii"],
            "quality__n_tokens BETWEEN 25 AND 80 AND NOT pii__has_email",
        ).write.mode("overwrite").format("noop").save()

    @timed("attr_remix")
    def _():
        # the tag-once/mix-many payoff: a DIFFERENT rule over the
        # store attr_mix built — no tagger re-runs, just the id-keyed
        # attr joins + the text semi-join. This delta vs attr_mix is
        # what re-mixing a 100 TB corpus actually costs.
        attr_shared["store"].mix(
            attr_shared["docs"],
            {"quality": ["n_chars"], "pii": None},
            "quality__n_chars >= 120 AND NOT pii__has_email",
        ).write.mode("overwrite").format("noop").save()

    @timed("graph_pagerank")
    def _():
        # link-graph ranking (r12): 3 rounded PageRank iterations over
        # the customer->supplier graph — per iteration one edges join +
        # one partial-agg groupBy(dst) + a 1-row dangling broadcast;
        # state is nodes-sized, checkpointed per iteration.
        from balboa_spark.operators.graph import pagerank

        orders = par(spark.table("orders"))
        li = par(spark.table("lineitem"))
        edges = orders.join(
            li, F.col("o_orderkey") == F.col("l_orderkey")
        ).select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        pagerank(edges, iters=3).write.mode("overwrite").format("noop").save()

    @timed("graph_pagerank_bucketed")
    def _():
        # the 100 TB graph arm (r13): SAME ranking over a catalog edge
        # table bucketed on src (outdeg annotated at write time) — the
        # per-iteration ranks⋈edges join reads the bucketed scan with
        # NO Exchange on the edges side. Write cost is INSIDE the
        # timing (one-time, amortized over every later run); values
        # bit-identical to graph_pagerank.
        import tempfile

        from balboa_spark.operators.graph import (
            pagerank,
            write_graph_edges_bucketed,
        )

        orders = par(spark.table("orders"))
        li = par(spark.table("lineitem"))
        edges = orders.join(
            li, F.col("o_orderkey") == F.col("l_orderkey")
        ).select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        tbl = "bench_pr_edges"
        write_graph_edges_bucketed(
            edges, tbl, tempfile.mkdtemp(prefix="bench_pr_edges_"), 16
        )
        try:
            pagerank(tbl, iters=3).write.mode("overwrite").format(
                "noop"
            ).save()
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    @timed("graph_harmonic")
    def _():
        # HyperBall harmonic centrality (r12): per round one edges
        # join + one register-max HLL union aggregate (map-side
        # combinable); node-sized sketch state, checkpointed per
        # round — the CommonCrawl domain-ranking metric.
        from balboa_spark.operators.graph import harmonic_centrality

        orders = par(spark.table("orders"))
        li = par(spark.table("lineitem"))
        edges = orders.join(
            li, F.col("o_orderkey") == F.col("l_orderkey")
        ).select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        harmonic_centrality(edges, max_dist=3).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("fuzzy_pairs")
    def _():
        # exact-recall edit-distance-1 pairs over 15k customer names:
        # deletion-variant bucket join + levenshtein refilter — never
        # the 112M-comparison all-pairs the oracle runs at sf0.01
        from balboa_spark.operators import fuzzy

        fuzzy.fuzzy_value_pairs(
            par(spark.table("customer")), "c_name", 1
        ).write.mode("overwrite").format("noop").save()

    @timed("kmeans_fit")
    def _():
        # graded Lloyd path: 2 iterations x (Arrow argmax assign + 64
        # map-side-combined avg aggregates); only k x dim floats reach
        # the driver per iteration
        from balboa_spark.entry_queries_docs import KM_ITERS, KM_K

        emb = par(spark.table("embeddings"))
        seeds = [
            list(r[0])
            for r in emb.orderBy(
                F.md5(F.col("vec_id").cast("string")), "vec_id"
            ).limit(KM_K).select("embedding").collect()
        ]
        similarity.ivf_fit(
            emb, 64, k=KM_K, iters=KM_ITERS, seeds=seeds, round_digits=9
        )

    @timed("sft_assembly")
    def _():
        # SFT data prep end to end: gap-threaded conversations over the
        # events stream -> chat-template render -> loss-mask spans; two
        # key-bounded per-user/per-conversation windows + one groupBy
        from balboa_spark.operators import sft

        # r16: materialize the threaded turns ONCE — the render and
        # loss-mask sinks are two separate jobs and each re-ran the
        # full sessionization windows over the events stream otherwise
        # (same two outputs, same operators; the production pipeline
        # shares the turns relation the same way)
        turns = sft.conversation_turns(
            par(spark.table("events"))
        ).localCheckpoint(eager=True)
        sft.render_conversations(turns, system_prompt="sys").write.mode(
            "overwrite"
        ).format("noop").save()
        sft.loss_mask_spans(turns, system_prompt="sys").write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("sft_pairs")
    def _():
        # DPO preference-pair assembly: ONE groupBy with partial
        # max_by/min_by over (score, id) structs — shuffle volume is
        # two payload rows per prompt regardless of response count
        from balboa_spark.operators.sft import preference_pairs

        ev = par(spark.table("events"))
        ratings = ev.select(
            F.col("user_id").alias("prompt_id"),
            F.col("event_id").alias("response_id"),
            F.concat(
                F.col("event_type"), F.lit(" "), F.coalesce("props", F.lit(""))
            ).alias("response"),
            F.col("value").alias("score"),
        )
        preference_pairs(ratings, system_prompt="sys").write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("shard_export")
    def _():
        # the trainer hand-off sink end to end: pack -> validate (one
        # aggregate over the localCheckpointed relation) -> md5
        # shard-assign -> one num_shards-way repartition +
        # sortWithinPartitions parquet write + atomic manifest
        from balboa_spark.operators import corpus as _corpus
        from balboa_spark.operators import shards as _shards

        out = os.path.join(tmp, "train_shards")
        shutil.rmtree(out, ignore_errors=True)
        packed = (
            _corpus.pack_sequences(par(spark.table("documents")), seq_len=128)
            .filter(F.col("n_seq_tokens") == 128)
            .select("seq_id", F.split("seq_text", " ").alias("token_ids"))
        )
        _shards.write_training_shards(
            packed, out, seq_len=128, num_shards=8
        )

    @timed("sft_pairs_topk")
    def _():
        # bounded all-pairs DPO assembly (r16): one salted two-stage
        # dual-candidate aggregation + a row-local k x k cross
        from balboa_spark.operators.sft import preference_pairs_topk

        ev = par(spark.table("events"))
        ratings = ev.select(
            F.col("user_id").alias("prompt_id"),
            F.col("event_id").alias("response_id"),
            F.col("event_type").alias("response"),
            F.col("value").alias("score"),
        )
        preference_pairs_topk(ratings, k=4).write.mode(
            "overwrite"
        ).format("noop").save()

    @timed("tokenizer_drift")
    def _():
        # dual-generation drift report (r16): two vocab derivations +
        # two encode passes over the corpus + one id-keyed equi-join
        # collapsing to a single report row
        from balboa_spark.entry_queries_corpus import q_tokenizer_drift

        q_tokenizer_drift(spark, SF_DIR).collect()

    # untimed setup for the wordpiece item: a realistic artifact-shaped
    # id table (top-2k full words + ##-continuation singles), built
    # once at definition time — the item measures the ENCODE path
    _wp_vocab_ids = [("[UNK]", 0)] + [
        (r["_w"], i + 1)
        for i, r in enumerate(
            spark.table("documents")
            .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("_w"))
            .filter(F.col("_w").rlike("^[a-z0-9]+$"))
            .groupBy("_w").count()
            .orderBy(F.col("count").desc(), "_w")
            .limit(2000)
            .collect()
        )
    ] + [
        (f"##{c}", 3000 + i)
        for i, c in enumerate("abcdefghijklmnopqrstuvwxyz0123456789")
    ]

    @timed("wordpiece_encode")
    def _():
        # greedy longest-match WordPiece encode (r16): Arrow batch
        # over the DISTINCT pre-token relation + broadcast id join —
        # the imported-artifact (BERT-family) encode path
        from balboa_spark.operators import wordpiece as _wp

        _wp.wordpiece_encode_corpus(
            par(spark.table("documents")), _wp_vocab_ids
        ).write.mode("overwrite").format("noop").save()

    run_items()
    shutil.rmtree(tmp, ignore_errors=True)

    # Streaming latency gate (scripts/streaming_latency_probe.py) as a
    # MACHINE-READABLE bench row: the per-round BENCH_rN record carries
    # the gate's canary-normalized steady/compaction numbers so the
    # streaming-hot-path trend is parseable like the query trail
    # instead of living in PERF prose (r14 verdict task 7). Runs in a
    # subprocess (own SparkSession, delta-LSM store); a probe failure
    # is RECORDED, never fatal to the bench.
    latency_gate: dict | None = None
    try:
        import subprocess

        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts",
                                          "streaming_latency_probe.py")],
            capture_output=True, text=True, timeout=900,
        )
        line = next(
            (ln for ln in proc.stdout.splitlines()
             if ln.startswith('{"probe"')), None,
        )
        if line:
            p = json.loads(line)
            latency_gate = {
                "steady_median_normalized": p.get("steady_median_normalized"),
                "compact_worst_normalized": p.get("compact_worst_normalized"),
                # the r16 gate metric: min over the run's compaction
                # windows (one burst-hit compaction no longer flips
                # the bit); worst stays recorded for trend reading
                "compact_min_normalized": p.get("compact_min_normalized"),
                "host_factor": p.get("host_factor"),
                "retried": p.get("retried", False),
                "pass": p["pass"],
                "rc": proc.returncode,
            }
        else:
            latency_gate = {
                "rc": proc.returncode,
                "error": (proc.stderr or proc.stdout)[-400:],
            }
    except Exception as exc:  # noqa: BLE001 — the gate must not sink the bench
        latency_gate = {"rc": -1, "error": repr(exc)[:400]}

    import statistics

    total = round(sum(timings.values()), 3)
    medians = {
        k: round(statistics.median(v), 3)
        for k, v in pass_log.items()
        if k not in ("host_canary", "spark_canary")
    }
    canary_median = round(statistics.median(pass_log["host_canary"]), 3)
    spark_canary_median = round(
        statistics.median(pass_log["spark_canary"]), 3
    )
    # Dimensionless medians in canary units (median / canary_median):
    # stable across host-speed drift, the judge's cross-round trail.
    normalized = {
        k: round(v / canary_median, 2) for k, v in medians.items()
    }
    out = {
        "metric": "balboa_spark bench: ingest fold + dual-layout build + "
        "10k-rdata lookup storm + point queries + scan-agg + dedup + ann",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "value_median": round(sum(medians.values()), 3),
        "host_canary_sec": canary_median,
        "spark_canary_sec": spark_canary_median,
        "queries_normalized": normalized,
        "normalized_value_median": round(sum(normalized.values()), 2),
        "streaming_latency_gate": latency_gate,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
