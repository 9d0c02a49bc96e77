"""Shared fixtures: one SparkSession per test run + a DuckDB oracle
comparator replicating the driver's correctness gate (row count +
column names + order-insensitive value hash).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from balboa_spark.session import get_spark, load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# r17 (VERDICT item 1): the full suite (~600 tests) runs ~30-40 min —
# past the driver's verify budget, which truncated the r16 run at ~76%
# with zero failures and left the round ungated (tests_ok:false). The
# driver invokes `python -m pytest tests/ -x -q`; pytest.ini deselects
# the tests below (every test that measured >= ~9s in the r17 full-run
# profile, ~800s of the wall time) via `-m "not slow"` so the DEFAULT
# run is a <15-min core suite that finishes inside the budget. The
# slow tests are NOT weakened or removed: run the complete suite with
#     python -m pytest tests/ -q -m ""
# (this is what the round-close verification battery runs and records
# in OPTIMIZATION_r*.md). Centralized here (not per-file decorators)
# so the list is auditable and tunable in one place. The LM artifact,
# count-store and CLI tests stay in the default run despite their
# cost: they are the only end-to-end checks of the persisted-LM paths.
_SLOW_TESTS = {
    ("test_graph.py", "test_personalized_pagerank_seeds"),
    ("test_pipeline_ops.py", "test_streaming_vector_index_upsert"),
    ("test_pipeline_ops.py", "test_vector_store_upsert_selective_and_exact"),
    ("test_pipeline_ops.py", "test_vector_store_partition_pruned_topk"),
    ("test_pipeline_ops.py", "test_vector_store_filtered_topk_both_arms"),
    ("test_pipeline_ops.py", "test_vector_store_generation_time_travel"),
    ("test_corpus_ops.py", "test_weighted_sample_k_deterministic_and_proportional"),
    ("test_pipeline_ops.py", "test_semantic_dedup_matches_exact_on_clusters"),
    ("test_corpus_ops.py", "test_tokenizer_store_byte_and_unigram_kinds"),
    ("test_corpus_ops.py", "test_tokens_col_seams_match_inline_tokenize"),
    ("test_corpus_ops.py", "test_bpe_segment_arrow_parity_with_column_fold"),
    ("test_pipeline_ops.py", "test_vector_store_upsert_honors_frozen_manifest_params"),
    ("test_pipeline_ops.py", "test_lsh_candidate_pairs_recall_and_pruning"),
    ("test_corpus_ops.py", "test_bpe_fit_matches_reference_impl"),
    ("test_pipeline_ops.py", "test_embedding_near_dedup_lsh_matches_exact"),
    ("test_corpus_ops.py", "test_tokenizer_diff_reports_drift_and_gen_pinned_encode"),
    ("test_corpus_ops.py", "test_dsir_target_subset_arm_matches_retokenize"),
    ("test_corpus_ops.py", "test_bpe_property_random_corpora_match_reference"),
    ("test_corpus_ops.py", "test_postings_index_incremental_upsert"),
    ("test_corpus_ops.py", "test_byte_bpe_roundtrip_no_oov_on_arbitrary_utf8"),
    ("test_pipeline_ops.py", "test_vector_store_crash_mid_upsert_keeps_old_generation"),
    ("test_corpus_ops.py", "test_span_dedup_matches_python_reference"),
    ("test_sft.py", "test_sft_assembly_matches_python_reference_fuzz"),
    ("test_aggregate.py", "test_aggregate_matches_oracle"),
    ("test_corpus_ops.py", "test_tokenizer_diff_word_store_shared_stream_parity"),
    ("test_corpus_ops.py", "test_cli_tokenizer_fit_encode_e2e"),
    ("test_pipeline_ops.py", "test_streaming_incremental_corpus_pipeline_e2e"),
}


def pytest_collection_modifyitems(config, items):
    modules = {}
    for item in items:
        fname = os.path.basename(str(item.fspath))
        modules[fname] = getattr(item, "module", None)
        if (fname, getattr(item, "originalname", item.name)) in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # an entry whose test was deleted or renamed would otherwise stop
    # marking anything without a word
    stale = sorted(
        f"{f}::{name}"
        for f, name in _SLOW_TESTS
        if modules.get(f) is not None and not hasattr(modules[f], name)
    )
    if stale:
        raise pytest.UsageError(f"_SLOW_TESTS names missing tests: {stale}")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("balboa-tests")
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical_rows(cols, rows):
    """Sort columns by name, normalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def assert_matches_oracle(spark_df, duck_con, oracle_sql, check_rows=True):
    """Driver-gate replica: same row count, same column-name set, same
    order-insensitive value multiset, AND same canonical Arrow types
    (the driver's value hash is representation-sensitive: DuckDB
    HUGEINT != Spark LongType even for equal ints — round-1 lesson)."""
    from balboa_spark.arrowcmp import type_mismatches

    s_rows = spark_df.collect()
    s_cols = spark_df.columns
    rel = duck_con.sql(oracle_sql)
    d_cols = rel.columns
    d_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols), f"columns differ: {s_cols} vs {d_cols}"
    tm = type_mismatches(spark_df, duck_con.sql(oracle_sql))
    assert not tm, f"arrow type mismatch (driver hash would fail): {tm}"
    assert len(s_rows) == len(d_rows), f"row count {len(s_rows)} vs oracle {len(d_rows)}"
    if check_rows:
        _, s_canon = canonical_rows(s_cols, [[r[c] for c in s_cols] for r in s_rows])
        _, d_canon = canonical_rows(d_cols, d_rows)
        mism = [(a, b) for a, b in zip(s_canon, d_canon) if a != b]
        assert not mism, f"value mismatch, first: {mism[0]}"
