"""Query/oracle registry backing __spark_entry__.py.

Each engine query is built with the library operators (DataFrame API);
each oracle is ANSI SQL sharing the exact observation-mapping text
(balboa_spark.obsmap) so DuckDB computes the same logical result.
Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from balboa_spark.obsmap import OBS_SQL, AGG_BODY, with_agg_cte, with_obs_cte
from balboa_spark.operators.aggregate import aggregate
from balboa_spark.operators.query import (
    Query,
    aliases,
    cidr_search,
    entries,
    rest_search,
)
from balboa_spark.functions.net import cidr_to_range
from balboa_spark.session import load_tables

# Lookup subjects known to exist at sf0.01 (and harmless if absent:
# both engine and oracle would return the same empty set).
RRNAME_SUBJECT = "host7.dom0.example"  # user_id=7
RDATA_SUBJECT = "10.3.0.0"  # event_id=0, user_id=8
CIDR_SUBJECT = "10.2.0.0/16"

OBS_COLS = ("rrname", "sensor_id", "rrtype", "rdata", "count", "first_seen", "last_seen")

_AGG_SELECT = (
    "SELECT rrname, sensor_id, rrtype, rdata, count, first_seen, last_seen FROM observations"
)


def _obs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("events",))
    return spark.sql(OBS_SQL)


def _agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregate(_obs_stream(spark, sf_dir)).select(*OBS_COLS)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_observations_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3: the core group-merge fold."""
    return _agg(spark, sf_dir)


def q_entries_rrname(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: forward lookup by rrname + canonical order + limit."""
    return entries(_agg(spark, sf_dir), Query(rrname=RRNAME_SUBJECT, limit=1000))


def q_entries_rrname_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1+F5: forward lookup with residual rrtype+sensor_id filters."""
    return entries(
        _agg(spark, sf_dir),
        Query(rrname=RRNAME_SUBJECT, rrtype="A", sensor_id="sensor7", limit=1000),
    )


def q_entries_rdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: inverted lookup by rdata."""
    return entries(_agg(spark, sf_dir), Query(rdata=RDATA_SUBJECT, limit=1000))


def q_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: alias self-join for the entries of RRNAME_SUBJECT."""
    agg = _agg(spark, sf_dir)
    e = entries(agg, Query(rrname=RRNAME_SUBJECT, limit=1000))
    return aliases(e, agg).select("e_rrname", "e_sensor_id", "e_rdata", *OBS_COLS)


def q_rest_dual_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: CIRCL REST dual search (rrname ∪ rdata, duplicates kept)."""
    return rest_search(_agg(spark, sf_dir), RRNAME_SUBJECT, limit=2000)


def q_cidr_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: CIDR range query as a single numeric range predicate."""
    return cidr_search(_agg(spark, sf_dir), CIDR_SUBJECT, limit=100000)


def q_total_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: total number of aggregate entries."""
    return aggregate(_obs_stream(spark, sf_dir)).agg(
        F.count(F.lit(1)).alias("total_count")
    )


def q_store_delta_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM path end-to-end (r10): write a REAL on-disk store from a
    third of the stream, append the other two thirds as delta
    generations, and read the merged-on-read forward table. The
    oracle is the plain one-shot SQL aggregate — associativity of the
    fold is exactly what makes base+deltas equal it."""
    import tempfile

    from balboa_spark.plans.layout import ObservationStore

    obs = _obs_stream(spark, sf_dir)
    store = ObservationStore(
        spark, tempfile.mkdtemp(prefix="balboa_delta_entry_"), num_buckets=4
    )
    # slice by event TIME so the same aggregate key lands in several
    # slices — the cross-delta fold is the thing under test. coalesce:
    # a NULL-ts observation must land in SOME slice (pmod(NULL)=NULL
    # matched no filter, silently dropping the row from the store
    # while the one-shot oracle kept it — adversarial-audit find)
    sl = F.coalesce(F.pmod(F.unix_timestamp("ts_start"), F.lit(3)), F.lit(0))
    store.write(aggregate(obs.filter(sl == 0)))
    store.append_delta(obs.filter(sl == 1), epoch_id=0)
    store.append_delta(obs.filter(sl == 2), epoch_id=1)
    return store.forward().select(*OBS_COLS)


def q_input_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events→input_observation normalization itself (projection,
    CASE mapping, concat scalar functions — §2.11 analog)."""
    return _obs_stream(spark, sf_dir).select(
        "rrname", "sensor_id", "rrtype", "rdata", "count", "rcode", "ts_start", "ts_end"
    )


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL, same column aliases)
# ---------------------------------------------------------------------------

def _entries_oracle(where: str, limit: int = 1000) -> str:
    return with_agg_cte(
        f"{_AGG_SELECT} WHERE {where} "
        f"ORDER BY rrname, sensor_id, rrtype, rdata LIMIT {limit}"
    )


_CIDR_LO, _CIDR_HI = cidr_to_range(CIDR_SUBJECT)

_IP_LONG = (
    "(cast(split_part(rdata, '.', 1) as bigint) * 16777216 + "
    "cast(split_part(rdata, '.', 2) as bigint) * 65536 + "
    "cast(split_part(rdata, '.', 3) as bigint) * 256 + "
    "cast(split_part(rdata, '.', 4) as bigint))"
)

ORACLES: dict[str, str] = {
    "observations_agg": with_agg_cte(_AGG_SELECT),
    # LSM roundtrip: base + 2 deltas folded on read == one-shot fold
    "store_delta_fold": with_agg_cte(_AGG_SELECT),
    "entries_rrname": _entries_oracle(f"rrname = '{RRNAME_SUBJECT}'"),
    "entries_rrname_residual": _entries_oracle(
        f"rrname = '{RRNAME_SUBJECT}' AND rrtype = 'A' AND sensor_id = 'sensor7'"
    ),
    "entries_rdata": _entries_oracle(f"rdata = '{RDATA_SUBJECT}'"),
    # per-entry limit binds BEFORE the same-rrname exclusion, like the
    # reference's Search-then-filter (query/query_graphql.go:385-390)
    "aliases": with_agg_cte(
        f"""
        SELECT e_rrname, e_sensor_id, e_rdata,
               rrname, sensor_id, rrtype, rdata, count, first_seen, last_seen
        FROM (
          SELECT e.rrname AS e_rrname, e.sensor_id AS e_sensor_id,
                 e.rdata AS e_rdata,
                 o.rrname, o.sensor_id, o.rrtype, o.rdata,
                 o.count, o.first_seen, o.last_seen,
                 row_number() OVER (
                   PARTITION BY e.rrname, e.sensor_id, e.rdata
                   ORDER BY o.rrname, o.sensor_id, o.rrtype, o.rdata) AS rn
          FROM (SELECT DISTINCT rrname, sensor_id, rdata FROM observations
                WHERE rrname = '{RRNAME_SUBJECT}' AND rrtype IN ('A','AAAA')) e
          JOIN observations o
            ON o.rdata = e.rdata AND o.sensor_id = e.sensor_id
        )
        WHERE rn <= 1000 AND rrname <> e_rrname
        """
    ),
    # limit is per search; the concatenation may return up to 2x limit
    # (query/query_rest.go:58-69 — no global cap)
    "rest_dual_search": with_agg_cte(
        f"""
        ({_AGG_SELECT} WHERE rrname = '{RRNAME_SUBJECT}'
          ORDER BY rrname, sensor_id, rrtype, rdata LIMIT 2000)
        UNION ALL
        ({_AGG_SELECT} WHERE rdata = '{RRNAME_SUBJECT}'
          ORDER BY rrname, sensor_id, rrtype, rdata LIMIT 2000)
        """
    ),
    "cidr_search": with_agg_cte(
        f"""
        {_AGG_SELECT}
        WHERE rdata SIMILAR TO '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}'
          AND {_IP_LONG} BETWEEN {_CIDR_LO} AND {_CIDR_HI}
        ORDER BY rrname, sensor_id, rrtype, rdata LIMIT 100000
        """
    ),
    "total_count": with_agg_cte("SELECT count(*) AS total_count FROM observations"),
    "input_normalize": with_obs_cte(
        "SELECT rrname, sensor_id, rrtype, rdata, count, rcode, ts_start, ts_end "
        "FROM input_observations"
    ),
}

from balboa_spark.entry_queries_corpus import ORACLES_CORPUS, QUERIES_CORPUS
from balboa_spark.entry_queries_docs import ORACLES_DOCS, QUERIES_DOCS
from balboa_spark.entry_queries_extra import ORACLES_EXTRA, QUERIES_EXTRA
from balboa_spark.entry_queries_temporal import ORACLES_TEMPORAL, QUERIES_TEMPORAL

ORACLES.update(ORACLES_DOCS)
ORACLES.update(ORACLES_EXTRA)
ORACLES.update(ORACLES_CORPUS)
ORACLES.update(ORACLES_TEMPORAL)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "observations_agg": q_observations_agg,
    "store_delta_fold": q_store_delta_fold,
    "entries_rrname": q_entries_rrname,
    "entries_rrname_residual": q_entries_rrname_residual,
    "entries_rdata": q_entries_rdata,
    "aliases": q_aliases,
    "rest_dual_search": q_rest_dual_search,
    "cidr_search": q_cidr_search,
    "total_count": q_total_count,
    "input_normalize": q_input_normalize,
}
QUERIES.update(QUERIES_DOCS)
QUERIES.update(QUERIES_EXTRA)
QUERIES.update(QUERIES_CORPUS)
QUERIES.update(QUERIES_TEMPORAL)

# ---------------------------------------------------------------------------
# Driver cap curation: the driver grades only the FIRST 50 registry
# entries in insertion order (CORRECTNESS_r05 silently dropped slots
# 50-59). The cap is an EXPLICIT list (CAP_50) so rotation is a
# one-list edit and the insertion-order dependency is impossible to
# get wrong; everything not in CAP_50 lands in the tail, each entry
# annotated with why its kernel is still covered.

CAP_50 = [
    # -- kernel changed THIS round (r16): must re-grade --
    "sft_pairs",             # string-id tie-break (min_by over
                             # (-score, id)); green r15 on the old
                             # kernel
    "sft_rejection",         # guard relaxed to integral-or-string
    "corpus_semantic_order", # zero-shuffle array-literal argmax fold
    # -- NEW r16: never graded, must be in-cap --
    "sft_pairs_str",         # preference pairs under STRING response
                             # ids ('r'||event_id: lexicographic order
                             # diverges from numeric)
    "corpus_tokenizer_drift",# tokenizer_diff relational core: piece
                             # delta + encode drift, both generations
                             # replayed in DuckDB
    "corpus_wordpiece_segment", # WordPiece greedy longest-match vs a
                             # recursive-CTE DuckDB replay
    "corpus_wordpiece_fit",  # likelihood-rule training loop vs an
                             # unrolled round-by-round DuckDB replay
    "sft_pairs_topk",        # bounded all-pairs (K-way ranking) DPO
                             # assembly: top-k x bottom-k + margin
    "corpus_fim",            # fill-in-the-middle schedule + render,
                             # md5-deterministic, zero-shuffle
    # -- r15 kernel-change entries: single-green r15 on current
    #    kernels, stay for the double-green confirmation --
    "sft_render",            # gap_sessions adaptive arm
    "sft_loss_spans",        # gap_sessions adaptive arm
    "pipeline_sft",          # gap_sessions adaptive arm
    "events_sessionize",     # gap_sessions adaptive arm
    "pipeline_wet_ccnet",    # WET export-token nonce (write path)
    "corpus_unigram_segment",# unigram_encode_corpus vocab_ids seam
    "corpus_unigram_by_lang",# per-language Viterbi under pinned
                             # per-language unigram vocabs
    # -- r15 NEW entries: single-green r15, stay until double-green --
    "corpus_training_shards",# shard sink layout (md5 shard_of)
    # -- recalled r15, the r7 pair: oldest history (r7), single re-confirmation
    #    r15; ann_pq_topk additionally carried the r15 bench flag
    #    (adjudicated ambient this round, PERF.md r16) — kept for the
    #    double confirmation where the uncertainty is --
    "ann_pq_topk",
    "dedup_embedding",
    # -- in-cap family representatives (multi-green, kernels at
    #    rest; tail siblings reference these by note) --
    "ann_ivf_topk",          # ANN family canary
    "dedup_components",      # pair->component iteration path
    "dedup_passage",         # span/bucketed-candidates dedup canary
    "pipeline_ccnet_par",    # ccnet chain canary (paragraph arm)
    "pipeline_clean",        # quality/clean chain canary
    # -- recalled r16: the r10 staleness cohort --
    "agg_incremental",
    "ann_quality_eval",
    "cof_projection",
    "corpus_dedup_units",
    "corpus_dsir_topk",
    "corpus_passage_cdc",
    "corpus_quality_classifier",
    "corpus_span_dedup",
    "entries_rrname_residual",
    "events_props_profile",
    "events_tumbling",
    "explode_normalize",
    "multi_backend_union",
    "rest_dual_search",
    "tag_routing_counts",
    "text_profile",
    "total_count",
    # -- r14 recalls kept in-cap (green r14+r15; the slots not
    #    needed to fund the recall stay for a third confirmation) --
    "corpus_contamination",
    "corpus_chunk_tokens",
    "corpus_clean_text",
    "corpus_sentences",
    "corpus_span_corruption",
    "corpus_stratified_k",
    "corpus_trigram_familiarity",
    "embedding_pq",
    "media_patches",
]

# Tail rationale: every entry is either (a) real-driver green in two
# or more past rounds with an unchanged kernel, (b) a same-kernel
# sibling of an in-cap entry, or (c) a generic SQL demo that is not a
# §2 operator.
_TAIL = [
    # --- demoted r15: r13-kernel-change entries now DOUBLE-green on
    #     their current kernels (green r13 AND r14, untouched in
    #     r14/r15) ---
    "corpus_bpe_bytes_encode", # byte fold + id join; encode class
                               # stays graded via in-cap
                               # corpus_bpe_by_lang's merge-table grade
    "corpus_mixture_budget",   # mixture family multi-graded; siblings
                               # corpus_interleave/stratified_k in-cap
    "dedup_ngram_jaccard",     # bucket_pairs star kernel rides in-cap
                               # dedup_components + dedup_passage
    "dedup_minhash_lsh",       # minhash banding double-green r13+r14;
                               # candidate-generation class canaried by
                               # in-cap dedup_passage/dedup_components
    "events_resample",         # floor-div bucketing double-green;
                               # same idiom graded via in-cap
                               # events_sessionize's bucket index
    "graph_pagerank",          # _edge_relations kernel double-green;
                               # no r15 change (bucketed arm unit+plan
                               # asserted)
    "corpus_lang_id",          # lid kernel double-green; LID also
                               # rides in-cap pipeline_wet_ccnet chain
    "exact_dedup_store",       # store family double-green r13+r14;
                               # CAS/epoch conventions shared with
                               # span/minhash stores (unit e2e)
    # --- demoted r15: r14 recalls with multi-green HISTORY on
    #     kernels years at rest (r5/r6-era greens + the r14
    #     re-confirmation); the last three are generic SQL demos
    #     (tail rationale class (c)) ---
    "media_stats",             # projection kernel; media family
                               # in-cap via media_chunks/patches/dedup
    "tpch_q1",                 # literal TPC-H SQL, Catalyst demo
    "topk_per_group",          # generic window demo
    "join_enrich",             # generic broadcast-join demo
    "corpus_hash_sample",      # md5-threshold kernel, multi-green
                               # r5..r14 at rest; same kernel in-cap
                               # via corpus_stratified_k (identical
                               # md5-prefix threshold rule); slot funds
                               # the NEW sft_rejection entry
    "corpus_vocab_topk",       # tokenize+count+top-k kernel,
                               # multi-green r5..r14 at rest; class
                               # graded in-cap via
                               # corpus_trigram_familiarity (same
                               # tokenize+groupBy-count shape); slot
                               # funds the NEW corpus_semantic_order
    # --- demoted r14: backbone canaries (multi-round green r10-r13,
    #     kernels at rest since r7; backbone coverage in-cap via the
    #     recalled entries_rdata (Q2 rides the same dual-sorted
    #     layout as Q1), aliases (J1), rollup_observations (GROUPING
    #     SETS over the same A1-A3 fold)) ---
    "observations_agg",
    "entries_rrname",
    "cidr_search",
    "input_normalize",
    # --- demoted r14: double-green r12+r13 first-graded cohort,
    #     kernels unchanged since their r12 grading ---
    "hybrid_search_rrf",       # retrieval family; BM25+RRF kernel
    "attr_store_mix",          # AttributeStore tagger/mixer
    "attr_mix_report",         # mixer report twin
    "corpus_main_content",     # block-gated main-content kernel;
                               # also graded inside in-cap pipeline_wet_ccnet
    "corpus_pack_sequences",   # fragment packer; graded inside in-cap pipeline_sft
    "corpus_pack_boundaries",  # packer boundary twin
    "corpus_lm_kn_perplexity", # KN scorer green r12+r13; KN arithmetic
                               # graded in-cap via pipeline_ccnet_approx/_par
    "lm_store_kn_perplexity",  # n=2 count-store KN twin, green r12+r13
    "corpus_lm_kn5_perplexity",# order-5 twin, green r12+r13
    "corpus_lm_kn_by_source",  # grouped-KN twin, green r12+r13
    # --- demoted r14: r5+r13 double-greens, kernels unchanged ---
    "corpus_pii_redact",
    "corpus_hash_split",       # md5-threshold kernel; sibling
                               # corpus_hash_sample recalled in-cap
    "events_retention",        # cohort-retention kernel
    # --- demoted r14: multi-round green, kernels at rest ---
    "pipeline_pretrain",       # green r10-r13; clean/quality chain
                               # canaried by recalled pipeline_clean
    "span_dedup_store",        # green r12+r13; span kernel at rest
                               # since r12; store family canaried by
                               # in-cap exact_dedup_store
    # --- demoted r14: single-green post-r13-kernel-change SIBLINGS of
    #     in-cap family representatives (the pipeline_ccnet_par r13
    #     precedent: the shared kernel re-grades through the kept
    #     member) ---
    "dedup_near_keep",         # star-pairs + keep-best; kernel via
                               # in-cap dedup_ngram_jaccard/components
    "dedup_exact",             # exact_dedup kernel via in-cap exact_dedup_store
    "dedup_minhash_estimate",  # minhash kernel via in-cap dedup_minhash_lsh
    "dedup_simhash",           # same bucket_pairs star kernel
    "dedup_keep_longest",      # same keep-best groupBy-min(struct) kernel
    "embedding_topk",          # cosine() kernel via in-cap ann_ivf_topk
    "embedding_cosine_pairs",  # cosine() kernel via in-cap ann_ivf_topk
    "ann_lsh_topk",            # cosine + bucket kernels via in-cap
                               # ann_ivf_topk; LSH banding via in-cap
                               # dedup_minhash_lsh
    "pipeline_ccnet",          # chain kernel via in-cap
                               # pipeline_ccnet_approx (identical plan
                               # up to the threshold aggregate);
                               # exact-tertile band suffix re-graded
                               # via recalled pipeline_ccnet_par
    "pipeline_ccnet5",         # order-5 arm of the same chain kernel
    "pipeline_ccnet_lid",      # LID arm; lid kernel via in-cap corpus_lang_id
    "events_anomaly",          # green r13 on the current kernel (the
                               # moments fix landed before the r13
                               # grading run); windowed-agg family via
                               # in-cap events_resample + recalled
                               # events_quantiles
    "corpus_bpe_bytes",        # green r13; demoted mid-r14 to fund
                               # the NEVER-graded corpus_unigram_by_lang
                               # slot: its graded surface (pre-token
                               # histogram + byte_segment fold on top
                               # tokens) is a strict subset of in-cap
                               # corpus_bpe_bytes_encode's (same fold
                               # per DISTINCT pre-token + id join), and
                               # the byte-BPE FIT now grades harder via
                               # in-cap corpus_bpe_by_lang;
                               # driver_sim-green this session
    "corpus_curriculum_order", # green r13; demoted mid-r14 to fund
                               # the NEVER-graded corpus_bpe_by_lang
                               # slot (stalest-first: never-graded
                               # outranks a single-green re-confirm);
                               # zero-shuffle projection kernel, no
                               # r14 changes, driver_sim-green this
                               # session; sibling corpus_epoch_shuffle
                               # shares the deterministic-order class
    # --- demoted r13 (double-green, kernels unchanged since last
    #     grading; displaced by the r13 IN cohort) ---
    "embedding_seed_topk",       # green r9+r12; ANN family in-cap via ann_ivf_topk
    "corpus_bpe_vocab",          # green r9+r12; merge-fold path graded harder via in-cap byte entries
    "corpus_bpe_encode",         # green r9+r12; same encode kernel shape as in-cap corpus_bpe_bytes_encode
    "corpus_mixture_temperature",# green r9+r12
    "corpus_epoch_shuffle",      # green r9+r12
    "corpus_normalize_unicode",  # green r9+r12
    "corpus_length_batches",     # green r9+r12
    "corpus_blocklist",          # green r9+r12
    "corpus_snapshot_diff",      # green r9+r12
    "corpus_weighted_sample",    # green r9+r12
    "corpus_lm_kn3_perplexity",  # green r11+r12; same scorer as the KN twins
    "lm_store_kn3_perplexity",   # green r11+r12; store twin
    "corpus_lm_mkn_perplexity",  # green r11+r12; kernel unchanged
    "corpus_lm_sbo_perplexity",  # green r11+r12; kernel unchanged
    "corpus_lm_band",            # green r11+r12; banding convention graded via ccnet arms
    "corpus_quality_signals",    # green r5-r12 continuous; quality family rides recalled pipeline_clean
    "corpus_mixture_resample",   # green r5-r12 continuous; mixture family multi-graded
    "pipeline_crawl",            # green r10-r12; crawl path graded harder by in-cap pipeline_wet_ccnet
    "corpus_bm25_topk",          # green r7-r12; retrieval graded via hybrid_search_rrf r12+r13
    "store_delta_fold",          # green r10-r12; store family canaried by in-cap exact_dedup_store
    # --- demoted mid-r12 (multi-round green, kernels unchanged) ---
    "customer_fuzzy_pairs",    # green r7-r11; SymSpell kernel also rides supplier_entity_resolve
    "events_psi_drift",        # green r7+r11; PSI kernel unchanged
    "corpus_domain_profile",   # green r10+r11 post-PSL-change
    "corpus_domain_cap",       # green r10+r11 post-PSL-change
    "embedding_knn_join",      # green r5-r11 multi-round
    "events_asof",             # green r5-r11 multi-round
    "bm25_store_topk",         # green r10+r11 post-CAS-change
    "vector_store_topk",       # green r10+r11 post-CAS-change
    # --- demoted r12 (green r7 AND r11, kernels unchanged) ---
    "events_rolling_1h",       # RANGE-frame rolling kernel
    "events_funnel",           # ordered-step funnel kernel
    "events_zorder",           # morton-interleave layout kernel
    "corpus_tfidf_keywords",   # tf-idf top-k kernel
    "corpus_boilerplate",      # line-frequency boilerplate kernel
    "corpus_quality_bins",     # exact-percentile binning kernel
    "corpus_mixture_upsample", # epoch-expansion mixture arm
    "corpus_expectations",     # expectation-suite kernel
    "dedup_semantic",          # embedding-bucket near-dup kernel
    # --- demoted r12 (green r10 AND r11, kernels unchanged) ---
    "corpus_bpe_segment",      # green r7-r11 (5x)
    "events_interval_join",    # green r5-r7+r11 (4x)
    "corpus_lm_perplexity",    # add-alpha bigram
    "corpus_lm3_perplexity",   # add-alpha order-3
    "lm_store_perplexity",     # n=2 count-store add-alpha roundtrip
    "corpus_leakage_split",    # group-aware split kernel
    "events_skew_metrics",     # keyed skew-stats kernel
    # (the whole former r11-demotion block — the 17-entry r10 cohort,
    # the tail's staleness frontier — was recalled in-cap in r16; the
    # r7 pair and the r9 cohort had been recalled in r15)
    # --- demoted r16: the r9 cohort after its r15 recall — every
    #     one DOUBLE-green (r9 AND r15) on kernels at rest since r9 ---
    "corpus_dataset_profile",  # profile projection; quality family
                               # in-cap via pipeline_clean +
                               # recalled corpus_quality_classifier
    "corpus_html_extract",     # html strip kernel; also graded inside
                               # in-cap pipeline_wet_ccnet's WET chain
    "corpus_pack_bestfit",     # best-fit packer arm; packer family
                               # in-cap via pipeline_sft (fragment
                               # packer) + corpus_chunk_tokens
    "corpus_source_overlap",   # cross-source shingle overlap; shingle
                               # kernels in-cap via recalled
                               # corpus_span_dedup/corpus_passage_cdc
    "events_heavy_users",      # heavy-hitter projection; keyed-count
                               # idiom in-cap via recalled
                               # events_props_profile
    "events_props_extract",    # map-extract projection; sibling
                               # events_props_profile recalled in-cap
    "obs_blocklist_match",     # blocklist join; blocklist kernel also
                               # rides in-cap pipeline_clean
    "supplier_entity_resolve", # SymSpell entity resolution; green
                               # r9+r15, kernel at rest since r9
    # --- demoted r16: r14 first-grades now DOUBLE-green (r14 AND
    #     r15), kernels untouched since their r14 grading ---
    "pipeline_ccnet_approx",   # approx-threshold ccnet arm; chain
                               # canaried in-cap by pipeline_ccnet_par
    "embedding_kmeans",        # kmeans recursion; same recursion
                               # graded in-cap via corpus_semantic_order
                               # (ivf_fit seeds + assignment rule)
    "corpus_bpe_by_lang",      # per-language byte-BPE fit; merge-fold
                               # class graded in-cap via
                               # corpus_tokenizer_drift's dual-
                               # generation word-BPE replay
    # --- demoted r16: r14 recall remainder now DOUBLE-green (r14 AND
    #     r15), kernels at rest; slots fund the r10-cohort recall ---
    "tpch_q3",                 # literal TPC-H SQL, Catalyst demo
                               # (tail rationale class (c))
    "entries_rdata",           # Q2 inverted lookup; the dual-sorted
                               # layout re-grades via recalled
                               # entries_rrname_residual (same scan +
                               # F5 residual predicate on top)
    "aliases",                 # J1 broadcast self-join; green
                               # r10+r14+r15, kernel at rest since r10
    "rollup_observations",     # GROUPING-SETS twin of the A1-A3 fold;
                               # the fold re-grades via recalled
                               # agg_incremental + total_count
    "events_quantiles",        # percentile projection; windowed-agg
                               # family via recalled events_tumbling
    "media_dedup",             # media exact-dup; media family in-cap
                               # via media_chunks/media_patches, dedup
                               # keep-rule via dedup_components
    "embedding_project",       # JL projection; embedding family
                               # in-cap via embedding_pq/mean_pool
    "embedding_quantize",      # int8 quantize; same family coverage
    "corpus_winnow",           # winnowing fingerprints; the span-
                               # fingerprint family re-grades via
                               # recalled corpus_span_dedup +
                               # corpus_passage_cdc
    "media_chunks",            # fixed-window media chunker; media
                               # family in-cap via media_patches
    "corpus_interleave",       # round-robin mixture interleave;
                               # mixture family in-cap via
                               # corpus_stratified_k (and multi-green
                               # tail siblings)
    "embedding_mean_pool",     # token->doc mean pooling; embedding
                               # family in-cap via embedding_pq +
                               # ann_ivf_topk
]

assert len(CAP_50) == 50, f"cap must be exactly 50, got {len(CAP_50)}"
assert all(k in QUERIES for k in CAP_50), "cap names drifted"
assert all(k in QUERIES for k in _TAIL), "tail names drifted"
assert not (set(CAP_50) & set(_TAIL)), "cap/tail overlap"
assert set(CAP_50) | set(_TAIL) == set(QUERIES), (
    "every registered query must be in CAP_50 or _TAIL: "
    f"{set(QUERIES) ^ (set(CAP_50) | set(_TAIL))}"
)
QUERIES = {k: QUERIES[k] for k in CAP_50} | {k: QUERIES[k] for k in _TAIL}
