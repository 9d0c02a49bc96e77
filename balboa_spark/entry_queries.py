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
#
# Round-10 rotation (this round; the round-9 plan was skipped — r9
# graded the identical set as r8): the 10 stalest tail entries (last
# real-driver green in r6, three rounds ago) move INTO the cap:
# explode_normalize, entries_rrname_residual, cof_projection,
# multi_backend_union, rest_dual_search, total_count, agg_incremental,
# tag_routing_counts, events_tumbling, text_profile. Displaced: 10
# r7-cohort entries now double-verified (real-driver green in BOTH r8
# and r9, kernels unchanged). The PSL-dependent entries
# (corpus_domain_profile, corpus_domain_cap, pipeline_crawl) STAY
# in-cap because round 10 changes their kernel (full published PSL
# list becomes the default rule set) — they need fresh grading.
#
# Round-11 rotation (this round; executes the r10 plan + 9 new
# kernels): IN = the 10 stalest tail entries (last real-driver green
# in r7: events_rolling_1h, events_funnel, events_zorder,
# corpus_tfidf_keywords, corpus_boilerplate, corpus_quality_bins,
# corpus_mixture_upsample, corpus_expectations, corpus_pack_sequences,
# dedup_semantic) + the 9 r11-new entries (corpus_lm_kn_perplexity,
# corpus_lm_kn3_perplexity, corpus_lm_mkn_perplexity,
# lm_store_kn_perplexity, lm_store_kn3_perplexity,
# corpus_lm_sbo_perplexity, corpus_lm_band, pipeline_ccnet,
# exact_dedup_store). OUT = the 10 entries promoted in r10 (green r6
# AND r10, kernels unchanged since) + 9 multi-green entries
# (corpus_dedup_units, corpus_dsir_topk, events_props_profile,
# corpus_pack_boundaries, ann_quality_eval, corpus_passage_cdc,
# corpus_span_dedup, corpus_quality_classifier — each r7-r10 4x green
# with its family still in-cap — and dedup_exact, whose keep rule is
# now graded harder via exact_dedup_store).
# Kernel-changed-this-round entries all stay in-cap: lm_store
# (CAS + retired-scope tracking), store_delta_fold (CAS),
# span_dedup_store (compact + auto-scope guard), bm25_store_topk /
# vector_store_topk (CAS), pipeline_crawl / corpus_domain_cap /
# corpus_domain_profile (psl out_col guard).
#
# Round-12 rotation (this round; executes the r11 plan + 6 new
# kernels + 1 kernel-changed recall): IN = the 6 r12-new entries
# (corpus_lm_kn5_perplexity, pipeline_ccnet5, pipeline_ccnet_par,
# corpus_lang_id, corpus_lm_kn_by_source, pipeline_ccnet_lid),
# dedup_exact RECALLED from the tail because its
# kernel changed this round (exact_dedup rewritten from the
# min-over-window to groupBy-min + semi-join), and the 10 stalest
# tail entries (last real-driver green r9: embedding_seed_topk,
# corpus_bpe_vocab, corpus_mixture_temperature, corpus_epoch_shuffle,
# corpus_normalize_unicode, corpus_length_batches, corpus_blocklist,
# corpus_snapshot_diff, corpus_bpe_encode, corpus_weighted_sample).
# OUT = the 10 entries promoted in r11 (green r7 AND r11, kernels
# unchanged since) + 7 multi-green entries (green r10 AND r11 or
# longer, kernels unchanged: corpus_lm_perplexity,
# corpus_lm3_perplexity, lm_store_perplexity, corpus_leakage_split,
# events_skew_metrics, corpus_bpe_segment, events_interval_join). Kernel-changed-this-round entries all stay
# in-cap: pipeline_ccnet (dedup stage + checkpoint + threshold arms),
# exact_dedup_store (groupBy-min + claim + manifest order),
# span_dedup_store (claim + manifest order), the kn scorer family
# (order-1 discount-estimate skip).
#
# Mid-r12 amendments (same round, later session): (a) IN =
# attr_store_mix + attr_mix_report (new AttributeStore kernels, first
# grading), OUT = bm25_store_topk + vector_store_topk (green r10 AND
# r11, kernels unchanged since the r11 CAS change); (b) IN =
# corpus_pack_sequences + corpus_pack_boundaries RECALLED (kernel
# rewritten: per-token posexplode -> fragment slicing), OUT =
# customer_fuzzy_pairs + events_psi_drift (multi-round green, kernels
# unchanged; fuzzy's SymSpell kernel still graded via in-cap
# supplier-entity path at next rotation); (c) IN = graph_pagerank,
# corpus_main_content, hybrid_search_rrf, events_resample (all
# r12-new kernels, first grading), OUT = corpus_domain_profile +
# corpus_domain_cap (green r10 AND r11 post-PSL-change, kernels
# unchanged r12; domain family stays via in-cap pipeline_crawl),
# embedding_knn_join (green r5-r11 multi-round; ANN family stays via
# ann_lsh_topk + hybrid_search_rrf), events_asof (green r5-r11
# multi-round; temporal family refreshed via events_resample +
# r11-green interval/rolling twins). Net churn this round: 17 cap
# entries first-graded or kernel-recalled.
#
# Round-13 rotation (executed r13; the VERDICT r12 backlog
# sweep): OUT = 20 double-green entries (kernels unchanged since
# their last grading): the 10 r12-promoted r9-cohort entries (green
# r9 AND r12: embedding_seed_topk, corpus_bpe_vocab/encode,
# corpus_mixture_temperature, corpus_epoch_shuffle,
# corpus_normalize_unicode, corpus_length_batches, corpus_blocklist,
# corpus_snapshot_diff, corpus_weighted_sample), 5 r11-LM siblings
# (green r11 AND r12, scorers shared with the in-cap kn twins:
# kn3, mkn, sbo, band, lm_store_kn3), corpus_quality_signals +
# corpus_mixture_resample (continuously green r5-r12), pipeline_crawl
# (green r10-r12 post-PSL-change; crawl path now graded HARDER by the
# new in-cap pipeline_wet_ccnet), corpus_bm25_topk (green r7-r12;
# retrieval stays via in-cap hybrid_search_rrf), store_delta_fold
# (green r10-r12; store family canaried by the r12/r13
# kernel-changed exact/span/attr stores in-cap).
# IN = 4 r13-NEW entries (corpus_bpe_bytes, corpus_bpe_bytes_encode,
# pipeline_wet_ccnet — first grading — and pipeline_ccnet_approx,
# rows-only, the approx-percentile arm), the 5-member dedup cohort
# whose shared kernels CHANGED r13 (bucket_pairs star pairs +
# ngram-Jaccard groupBy DF cap) and which was last driver-green in
# r5: dedup_ngram_jaccard, dedup_minhash_lsh, dedup_minhash_estimate,
# dedup_simhash, dedup_keep_longest; and the next-stalest r5
# entries: embedding_topk, embedding_cosine_pairs, events_sessionize,
# events_retention, events_anomaly, corpus_pii_redact,
# corpus_hash_split (tpch_q1 and corpus_vocab_topk entered early and
# yielded their slots mid-round; corpus_contamination and media_dedup
# were DEFERRED to r14 — see their r13 tail notes — so the EXECUTED
# r13 recall was 14 of the 39-entry r5/r6 stale cohort, not the 16
# this paragraph originally claimed).
# Kernel-changed-this-round entries all stay in-cap for re-grading:
# events_resample (floor-div bucketing), pipeline_ccnet/ccnet5/
# ccnet_par/ccnet_lid (tokens-join dedup fingerprint + lid-oracle
# LEFT-JOIN parity), dedup_exact/exact_dedup_store (exact_dedup key
# param), graph_pagerank (_edge_relations refactor).
#

# ROUND-14 ROTATION (executed this round). The r13 plan is carried
# out in full, as CODE the asserts below and scripts/grading_ledger.py
# machine-check (the r13 verdict's What's-wrong #3 was prose drifting
# from the executed cap — R14_IN/R14_OUT exist so prose can't drift
# again):
#
# IN (31) = the ENTIRE remaining r5/r6 stale cohort (12 r5: the 8
# planned retirements corpus_hash_sample/events_quantiles/join_enrich/
# media_stats/pipeline_clean/rollup_observations/topk_per_group/
# tpch_q3, the 2 r13-deferred media_dedup/corpus_contamination, and
# the 2 mid-r13 early-swaps tpch_q1/corpus_vocab_topk; 15 r6:
# corpus_chunk_tokens corpus_clean_text corpus_interleave
# corpus_sentences corpus_span_corruption corpus_stratified_k
# corpus_trigram_familiarity corpus_winnow dedup_passage
# embedding_mean_pool embedding_pq embedding_project
# embedding_quantize media_chunks media_patches), the 3 remaining
# mid-r13 demotions due a re-grade (entries_rdata, aliases,
# pipeline_ccnet_par — ccnet_par also re-grades the EXACT-tertile
# band suffix now that pipeline_ccnet rides the approx twin), and
# ann_ivf_topk RECALLED because this round's ivf_assign_col float64
# fix (ADVICE r13) changed its cell-routing kernel.
#
# OUT (31), each with a tail note: the four backbone canaries
# (observations_agg entries_rrname cidr_search input_normalize —
# multi-round green, kernels years at rest; backbone stays graded
# via the recalled entries_rdata/aliases/rollup_observations), the
# double-green r12-first-graded cohort (hybrid_search_rrf
# attr_store_mix attr_mix_report corpus_main_content
# corpus_pack_sequences corpus_pack_boundaries + the 4 KN-family
# twins), the r5+r13 double-greens (corpus_pii_redact
# corpus_hash_split events_retention), multi-green pipeline_pretrain
# and span_dedup_store (kernel at rest since r12), and the
# single-green-post-r13-change same-kernel siblings (5 dedup family
# members behind in-cap dedup_ngram_jaccard/minhash_lsh/components +
# exact_dedup_store; embedding_topk/embedding_cosine_pairs/
# ann_lsh_topk behind the cosine-kernel grade riding in-cap
# ann_ivf_topk/embedding_kmeans; pipeline_ccnet/ccnet5/ccnet_lid
# behind in-cap pipeline_ccnet_approx + pipeline_ccnet_par +
# corpus_lang_id; events_anomaly behind in-cap events_resample +
# recalled events_quantiles — the pipeline_ccnet_par same-kernel
# precedent from r13).
#
# Kernel/oracle-changed THIS round, staying or entering for
# re-grading: sft_render/sft_loss_spans/pipeline_sft (NULL-content
# oracle coalesce + the two-phase threading de-skew),
# events_sessionize (two-phase gaps-and-islands), pipeline_ccnet_approx
# (now hash-graded on its sketch-independent projection — the
# err:no_oracle fix), embedding_kmeans + ann_ivf_topk (ivf_assign
# float64).
#
# MID-R14 SWAPS (after the rotation above executed; both annotated at
# their cap/tail entries so prose and code agree): two NEW entries
# entered the cap — corpus_bpe_by_lang (slot from
# corpus_curriculum_order) and corpus_unigram_by_lang (slot from
# corpus_bpe_bytes) — never-graded outranks a single-green re-confirm
# under stalest-first, and both demotions carry same-kernel /
# no-r14-change tail notes plus a same-session driver_sim green.
#
# ROUND-15 PLAN: demote the r13-first-graded cohort once double-green
# (corpus_bpe_bytes/_encode, pipeline_wet_ccnet, corpus_unigram_segment,
# corpus_mixture_budget, the SFT trio, embedding_kmeans — NOTE
# corpus_curriculum_order already yielded its slot mid-r14 to the new
# corpus_bpe_by_lang, which as an r14 first-grade must then stay
# until double-green) and the re-graded r14 IN cohort; recall the
# then-stalest tail (r7 era: customer_fuzzy_pairs, events_psi_drift,
# supplier_entity_resolve, corpus_passage_cdc...) per the
# grading_ledger stalest-first listing, NOT prose.

# The executed swap, as code (grading_ledger.py checks membership:
# every R14_IN name must be in CAP_50, every R14_OUT in _TAIL,
# the sets disjoint).
R14_IN = [
    "corpus_hash_sample", "events_quantiles", "join_enrich",
    "media_stats", "pipeline_clean", "rollup_observations",
    "topk_per_group", "tpch_q3", "media_dedup", "corpus_contamination",
    "tpch_q1", "corpus_vocab_topk",
    "corpus_chunk_tokens", "corpus_clean_text", "corpus_interleave",
    "corpus_sentences", "corpus_span_corruption", "corpus_stratified_k",
    "corpus_trigram_familiarity", "corpus_winnow", "dedup_passage",
    "embedding_mean_pool", "embedding_pq", "embedding_project",
    "embedding_quantize", "media_chunks", "media_patches",
    "entries_rdata", "aliases", "pipeline_ccnet_par",
    "ann_ivf_topk",
]
R14_OUT = [
    "observations_agg", "entries_rrname", "cidr_search",
    "input_normalize",
    "hybrid_search_rrf", "attr_store_mix", "attr_mix_report",
    "corpus_main_content", "corpus_pack_sequences",
    "corpus_pack_boundaries",
    "corpus_lm_kn_perplexity", "lm_store_kn_perplexity",
    "corpus_lm_kn5_perplexity", "corpus_lm_kn_by_source",
    "corpus_pii_redact", "corpus_hash_split", "events_retention",
    "pipeline_pretrain", "span_dedup_store",
    "dedup_near_keep", "dedup_exact", "dedup_minhash_estimate",
    "dedup_simhash", "dedup_keep_longest",
    "embedding_topk", "embedding_cosine_pairs", "ann_lsh_topk",
    "pipeline_ccnet", "pipeline_ccnet5", "pipeline_ccnet_lid",
    "events_anomaly",
]

# ROUND-15 ROTATION (executed this round; grading_ledger.py checks
# membership exactly as for R14).
#
# IN (14): the staleness frontier — ann_pq_topk + dedup_embedding
# (last real-driver green r7, AT the 8-round budget this round) and
# the ENTIRE 8-entry r9 cohort (corpus_dataset_profile,
# corpus_html_extract, corpus_pack_bestfit, corpus_source_overlap,
# events_heavy_users, events_props_extract, obs_blocklist_match,
# supplier_entity_resolve — at 6, recalled early so the budget never
# binds two cohorts at once) — plus the three NEW r15 entries
# (never-graded must be in-cap): corpus_training_shards (the shard
# sink's md5 layout, gradeable since the r15 shard_of convention
# switch), sft_pairs (DPO preference-pair assembly), and
# sft_rejection (rejection-sampling / RFT top-k selection), and
# corpus_semantic_order (ICLM packing order).
#
# OUT (14), each with a tail note: the nine r13-kernel-change entries
# now DOUBLE-green on their current kernels (green r13 AND r14,
# kernels untouched in r14/r15): corpus_bpe_bytes_encode,
# corpus_mixture_budget, dedup_ngram_jaccard, dedup_minhash_lsh,
# events_resample, graph_pagerank, corpus_lang_id, exact_dedup_store
# — plus media_stats, tpch_q1, topk_per_group, join_enrich,
# corpus_hash_sample from the R14_IN block: each is multi-green
# ACROSS history (r5/r6-era multi-round greens + the r14
# re-confirmation on kernels years at rest); tpch_q1/topk_per_group/
# join_enrich are generic SQL demos (tail rationale class (c)) and
# corpus_hash_sample's md5-threshold kernel rides in-cap
# corpus_stratified_k. dedup_components (the star-loop/components
# kernel) and dedup_passage/media_dedup stay as the in-cap dedup
# representatives.
#
# Kernel-changed THIS round, staying for re-grade: sft_render /
# sft_loss_spans / pipeline_sft / events_sessionize (gap_sessions
# adaptive arm), pipeline_wet_ccnet (WET export-token nonce),
# corpus_unigram_segment / corpus_unigram_by_lang
# (unigram_encode_corpus vocab_ids/unk_id seam). r14 first-grades
# (corpus_bpe_by_lang, corpus_unigram_by_lang, pipeline_ccnet_approx
# hash-grade, embedding_kmeans/ann_ivf_topk float64) stay until
# double-green.
R15_IN = [
    "ann_pq_topk", "dedup_embedding",
    "corpus_dataset_profile", "corpus_html_extract",
    "corpus_pack_bestfit", "corpus_source_overlap",
    "events_heavy_users", "events_props_extract",
    "obs_blocklist_match", "supplier_entity_resolve",
    "corpus_training_shards", "sft_pairs", "sft_rejection",
    "corpus_semantic_order",
]
R15_OUT = [
    "corpus_bpe_bytes_encode", "corpus_mixture_budget",
    "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "events_resample", "graph_pagerank", "corpus_lang_id",
    "exact_dedup_store",
    "media_stats", "tpch_q1", "topk_per_group", "join_enrich",
    "corpus_hash_sample", "corpus_vocab_topk",
]

# ROUND-16 ROTATION (executed this round; grading_ledger.py checks
# membership exactly as for R15).
#
# IN (23): the ENTIRE 17-entry r10 staleness cohort — the r15 verdict
# task #1 asked for >= 9 with the rest queued to r17; recalling ALL of
# them clears the frontier in one round, so at r16 close no tail
# entry is staler than r11 and the 8-round budget does not bind again
# until r19 — plus the two NEW r16 entries (never-graded must be
# in-cap): sft_pairs_str (the preference family's string-id arm,
# grading the r16 tie-break change against lexicographic ids) and
# corpus_tokenizer_drift (the tokenizer_diff relational core — the
# one ungraded r15 surface, verdict stretch #9), and
# corpus_wordpiece_segment (the r16 WordPiece arm's greedy
# longest-match segmentation, replayed in DuckDB via a RECURSIVE CTE
# whose LATERAL argmax consumes the longest matching piece per step),
# and corpus_wordpiece_fit (the likelihood-rule TRAINING loop unrolled
# round by round in DuckDB — the corpus_bpe_by_lang mechanism), and
# sft_pairs_topk (bounded all-pairs preference assembly: top-k x
# bottom-k candidates per prompt under a margin filter), and
# corpus_fim (deterministic fill-in-the-middle schedule + PSM/SPM
# render, md5-replayable).
#
# OUT (23), every one DOUBLE-green on an unchanged kernel, each with
# a tail note: the r9 cohort recalled by R15_IN (green r9 AND r15,
# kernels at rest since r9) — corpus_dataset_profile,
# corpus_html_extract, corpus_pack_bestfit, corpus_source_overlap,
# events_heavy_users, events_props_extract, obs_blocklist_match,
# supplier_entity_resolve; the r14 first-grades now green r14 AND r15
# — pipeline_ccnet_approx, embedding_kmeans, corpus_bpe_by_lang; and
# eight R14_IN-remainder entries green r14 AND r15 — tpch_q3,
# entries_rdata, aliases, rollup_observations, events_quantiles,
# media_dedup, embedding_project, embedding_quantize, corpus_winnow,
# media_chunks, corpus_interleave, embedding_mean_pool.
# The recalled
# r10 cohort itself restores in-cap family coverage for most of them
# (ann_quality_eval: ANN; corpus_quality_classifier: quality;
# corpus_span_dedup/corpus_passage_cdc: span; total_count/
# agg_incremental/cof_projection/multi_backend_union/rest_dual_search/
# entries_rrname_residual: the reference backbone).
#
# Kernel-changed THIS round, staying for re-grade: sft_pairs /
# sft_rejection (string-id tie-break: min_by over (-score, id)),
# corpus_semantic_order (zero-shuffle array-literal argmax fold).
# The r7 pair recalled by R15_IN (ann_pq_topk, dedup_embedding) stays
# a second round: their history is the OLDEST (r7) and the r15 bench
# flagged ann_pq_topk, so the double confirmation lands where the
# uncertainty is. r15 NEW entries (corpus_training_shards, sft_pairs,
# sft_rejection, corpus_semantic_order) and r15 kernel-change entries
# (sft_render family, pipeline_wet_ccnet, corpus_unigram_*) stay
# until double-green on current kernels.
R16_IN = [
    "agg_incremental", "ann_quality_eval", "cof_projection",
    "corpus_dedup_units", "corpus_dsir_topk", "corpus_passage_cdc",
    "corpus_quality_classifier", "corpus_span_dedup",
    "entries_rrname_residual", "events_props_profile",
    "events_tumbling", "explode_normalize", "multi_backend_union",
    "rest_dual_search", "tag_routing_counts", "text_profile",
    "total_count",
    "sft_pairs_str", "corpus_tokenizer_drift",
    "corpus_wordpiece_segment", "corpus_wordpiece_fit",
    "sft_pairs_topk", "corpus_fim",
]
R16_OUT = [
    "corpus_dataset_profile", "corpus_html_extract",
    "corpus_pack_bestfit", "corpus_source_overlap",
    "events_heavy_users", "events_props_extract",
    "obs_blocklist_match", "supplier_entity_resolve",
    "pipeline_ccnet_approx", "embedding_kmeans", "corpus_bpe_by_lang",
    "tpch_q3", "entries_rdata", "aliases", "rollup_observations",
    "events_quantiles", "media_dedup", "embedding_project",
    "embedding_quantize", "corpus_winnow", "media_chunks",
    "corpus_interleave", "embedding_mean_pool",
]

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
    # -- R15_IN r7 pair: oldest history (r7), single re-confirmation
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
    # -- R16_IN: the r10 staleness-cohort recall (see rotation
    #    comment) --
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
    # -- R14_IN remainder kept in-cap (green r14+r15; the slots not
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
    # --- demoted r15: R14_IN members with multi-green HISTORY on
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
    # the tail's staleness frontier — was RECALLED in-cap by R16_IN;
    # the r7 pair and the r9 cohort had been recalled by R15_IN, see
    # the rotation comments)
    # --- demoted r16: the r9 cohort after its R15_IN recall — every
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
    # --- demoted r16: R14_IN remainder now DOUBLE-green (r14 AND
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
# The executed rotation is code, not prose: IN entries must be in-cap,
# OUT entries must be in the tail, and the two sets disjoint.
assert set(R16_IN) <= set(CAP_50), sorted(set(R16_IN) - set(CAP_50))
assert set(R16_OUT) <= set(_TAIL), sorted(set(R16_OUT) - set(_TAIL))
assert not (set(R16_IN) & set(R16_OUT)), "IN/OUT overlap"
QUERIES = {k: QUERIES[k] for k in CAP_50} | {k: QUERIES[k] for k in _TAIL}
