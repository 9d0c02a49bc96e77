"""Streaming data-quality monitor: run an expectation suite on every
micro-batch and append the per-rule violation counts as a time series
— the dashboard/alerting feed that tells an operator WHEN a feed went
bad, not just that the final corpus failed its publish gate.

Composition, not new machinery: ``foreachBatch`` hands each
micro-batch DataFrame to operators.expectations.validate_expectations
(one aggregate pass per batch) and the #rules-row result appends to a
parquet time series keyed by (stream epoch). State is bounded by the
suite size; the raw batch is never retained. An alert hook fires on
any rule whose violation rate crosses its threshold — the seam a real
deployment points at paging.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from balboa_spark.operators.expectations import validate_expectations


def _check_series_format(out_path: str) -> None:
    """Reject a pre-r10 monitor series (parquet data files directly
    under ``out_path``, epoch_id as a DATA column). The r10 layout
    moved epoch_id into an ``epoch_id=N`` partition directory for
    replay idempotency; pointing the new sinks or readers at a legacy
    directory would mix a data column with a partition column and
    fail (or double-define epoch_id) — the same version-guard
    rationale as the format check in genstore.EpochLog, raised up front with a
    rebuild instruction instead of a confusing scan error."""
    if not os.path.isdir(out_path):
        return
    for f in os.listdir(out_path):
        if f.startswith("part-") or f.endswith(".parquet"):
            raise ValueError(
                f"monitor series at {out_path} uses the pre-r10 layout "
                "(data files directly under the series root with an "
                "epoch_id data column); this build writes/reads "
                "epoch_id=N partition directories — point the sink at "
                "a fresh directory (there is no in-place migration)"
            )


def quality_monitor_sink(
    checks: dict[str, str],
    out_path: str,
    unique: Sequence[str] = (),
    alert_threshold: float | None = None,
    on_alert: Callable[[int, list], None] | None = None,
):
    """Build the foreachBatch function: per micro-batch, evaluate the
    suite, stamp the epoch, append to ``out_path``; if any rule's
    violation_rate exceeds ``alert_threshold``, call ``on_alert``
    (epoch_id, offending rows). Empty batches record nothing (there
    is no denominator). Use as:

        stream.writeStream.foreachBatch(
            quality_monitor_sink(CHECKS, path)).start()
    """
    _check_series_format(out_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        report = validate_expectations(batch_df, checks, unique=unique)
        rows = report.collect()  # #rules rows — bounded driver state
        if not rows or rows[0]["n_rows"] == 0:
            return
        spark = batch_df.sparkSession
        # per-epoch overwrite dir: a foreachBatch replay rewrites its
        # own epoch instead of appending duplicate rows to the series
        (
            spark.createDataFrame(rows, report.schema)
            .write.mode("overwrite")
            .parquet(os.path.join(out_path, f"epoch_id={epoch_id}"))
        )
        if alert_threshold is not None and on_alert is not None:
            bad = [r for r in rows if r["violation_rate"] > alert_threshold]
            if bad:
                on_alert(epoch_id, bad)

    return sink


def read_quality_series(spark, out_path: str) -> DataFrame:
    """The recorded time series, empty-safe before the first batch."""
    _check_series_format(out_path)
    if not os.path.isdir(out_path):
        return spark.createDataFrame(
            [],
            "rule string, n_rows long, n_violations long, "
            "violation_rate double, epoch_id long",
        )
    # epoch_id is a partition directory since the idempotent-replay
    # change; partition inference types it int — cast to the long the
    # empty-path schema (and pre-change readers) declare
    return spark.read.parquet(out_path).withColumn(
        "epoch_id", F.col("epoch_id").cast("long")
    )


def _psi_contribs(
    ref_hist: DataFrame, batch_side: DataFrame, key: str, join: str
) -> tuple[list, float]:
    """Shared PSI arithmetic for the drift sinks: join the pinned
    reference proportions with a batch's proportions on ``key``
    (``left`` when the reference's bins are exhaustive — numeric bin
    edges; ``full_outer`` when the batch can surface keys the
    reference never saw — language labels), eps-smooth, and return the
    per-key contribution rows plus their rounded sum. One definition
    so the smoothing/rounding contract cannot drift between sinks."""
    eps = 1e-6
    rows = (
        ref_hist.join(batch_side, key, join)
        .fillna(0.0, ["p_ref", "p_new"])
        .select(
            key, "p_ref", "p_new",
            F.round(
                ((F.col("p_new") + eps) - (F.col("p_ref") + eps))
                * F.log((F.col("p_new") + eps) / (F.col("p_ref") + eps)),
                6,
            ).alias("contrib"),
        )
        .collect()
    )
    return rows, round(sum(r["contrib"] for r in rows), 6)


def drift_monitor_sink(
    reference: DataFrame,
    value_col: str,
    bin_edges: Sequence[float],
    out_path: str,
    alert_psi: float | None = 0.25,
    on_alert: Callable[[int, float], None] | None = None,
):
    """foreachBatch PSI drift monitor: compare every micro-batch's
    ``value_col`` distribution against a PINNED reference (training
    snapshot, launch-week histogram) over fixed bin edges and append
    (epoch_id, psi, per-bin contributions) as a time series — the
    deployed-score drift alarm (expectations.psi_drift per batch).

    The reference is reduced ONCE at sink-build time to its bins-sized
    histogram rows, so per-batch work is one groupBy over the batch
    plus arithmetic on ~len(bin_edges)+1 rows — the reference corpus
    is never rescanned. Alert fires when PSI exceeds ``alert_psi``
    (the conventional 'shifted' line)."""
    from balboa_spark.operators.expectations import psi_drift

    _check_series_format(out_path)
    # pin the reference ONCE: a bins-sized local relation
    ref_rows = (
        psi_drift(reference, reference, value_col, bin_edges)
        .select("bin", "p_ref")
        .collect()
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        ref_hist = spark.createDataFrame(ref_rows, "bin int, p_ref double")
        # psi against the pinned proportions: reuse psi_drift's batch
        # side only, joining the stored reference proportions back in
        batch_side = (
            psi_drift(batch_df.limit(0), batch_df, value_col, bin_edges)
            .select("bin", "p_new")
        )
        rows, psi = _psi_contribs(ref_hist, batch_side, "bin", "left")
        # idempotent under foreachBatch replay: each epoch owns its
        # partition directory and a retry OVERWRITES it — mode=append
        # would duplicate the epoch's rows in the series and
        # double-count any naive aggregation over it (the same
        # replay contract as the dedup stores' epoch dirs)
        (
            spark.createDataFrame(
                [
                    (r["bin"], r["p_ref"], r["p_new"], r["contrib"], psi)
                    for r in rows
                ],
                "bin int, p_ref double, p_new double, "
                "contrib double, psi double",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_path, f"epoch_id={epoch_id}"))
        )
        if alert_psi is not None and on_alert is not None and psi > alert_psi:
            on_alert(epoch_id, psi)

    return sink


def perplexity_monitor_sink(
    model_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    alert_bounds: tuple[float, float] | None = None,
    on_alert: Callable[[int, float], None] | None = None,
):
    """foreachBatch fluency-drift monitor: score every micro-batch
    against a FROZEN bigram LM (``operators.lm.save_bigram_lm``
    artifact — train once on the reference corpus, never retrained by
    the stream) and append one epoch row of perplexity statistics.
    A feed that starts emitting boilerplate (mean perplexity collapses)
    or garbage (mean perplexity explodes) trips ``on_alert`` when the
    epoch mean leaves ``alert_bounds`` — the text-quality twin of
    ``drift_monitor_sink``'s numeric PSI alarm.

    The artifact may be any of the module's smoothings — add-alpha,
    interpolated KN, or modified KN (``lm.load_any_lm`` dispatches on
    the meta row's kind) — so a CCNet-grade frozen KN model drops in
    without touching the monitor.

    The model is loaded from the artifact through the BATCH's session
    (foreachBatch hands a micro-batch-scoped session; joining against
    DataFrames built on the outer session is not contract-safe), so
    per-batch cost is one model-sized parquet scan (OS-page-cached
    after the first epoch) plus the gram-keyed score joins. Driver
    state per epoch is one stats row.
    """
    from balboa_spark.operators.lm import load_any_lm

    _check_series_format(out_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        model, score_fn = load_any_lm(spark, model_path)
        stats = (
            score_fn(batch_df, model, text_col, id_col)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.avg("avg_logprob").alias("mean_logprob"),
                F.avg("perplexity").alias("mean_ppl"),
                F.expr("percentile_approx(perplexity, 0.5)").alias("p50_ppl"),
                F.expr("percentile_approx(perplexity, 0.9)").alias("p90_ppl"),
            )
            .collect()[0]
        )
        if stats["n_docs"] == 0:
            return  # batch held only sub-2-token docs: no denominator
        # idempotent under foreachBatch replay: per-epoch overwrite dir
        # (same replay contract as the other sinks here)
        (
            spark.createDataFrame(
                [tuple(stats)],
                "n_docs long, mean_logprob double, mean_ppl double, "
                "p50_ppl double, p90_ppl double",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_path, f"epoch_id={epoch_id}"))
        )
        if alert_bounds is not None and on_alert is not None:
            lo, hi = alert_bounds
            if not (lo <= stats["mean_ppl"] <= hi):
                on_alert(epoch_id, stats["mean_ppl"])

    return sink


def lang_drift_monitor_sink(
    model,
    reference: DataFrame,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    alert_psi: float | None = 0.25,
    on_alert: Callable[[int, float], None] | None = None,
):
    """foreachBatch LANGUAGE-mix drift monitor: classify every
    micro-batch with a trained char-n-gram LID model
    (operators.lid.classify_lang) and compare the batch's language
    shares against a reference corpus's shares pinned ONCE at
    sink-build time — the categorical twin of
    :func:`drift_monitor_sink` (whose PSI bins a numeric score; here
    the "bins" are the languages themselves). A crawl feed silently
    tipping from en to auto-generated zz pages moves the mix long
    before any single quality score trips — CCNet's LID stage as a
    streaming alarm instead of a batch filter.

    Per-batch work: one LID classification (explode + |L|-broadcast
    join + partial-agg, operators/lid.py) plus arithmetic over at most
    |ref langs| + |batch langs| rows; the reference corpus is never
    rescanned. Series rows: (lang, p_ref, p_new, contrib, psi) under
    an epoch-overwrite partition dir (replay-idempotent, same contract
    as the other sinks). Alert fires when PSI exceeds ``alert_psi``;
    a language absent from one side contributes through the same
    eps-smoothing psi_drift uses (empty "bins" stay finite).

    Shares are normalized by the CLASSIFIED row count on each side,
    not the raw document count: classify_lang emits no row for
    documents shorter than the model's n-gram width, so raw-count
    denominators would make shares sum to < 1 and a shift in the
    short-doc fraction between reference and batch would deflate
    every language's p_new uniformly and read as drift (r13 ADVICE
    fix). Unclassifiable mass is thus excluded from the mix on both
    sides symmetrically."""
    from balboa_spark.operators.lid import classify_lang

    _check_series_format(out_path)

    def _shares(df: DataFrame) -> list[tuple[str, float]]:
        counts = (
            classify_lang(df, model, text_col, id_col)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()  # |L|-bounded
        )
        tot = sum(r["c"] for r in counts)
        return [(r["lang"], r["c"] / float(tot)) for r in counts] if tot else []

    ref_rows = _shares(reference)
    if not ref_rows:
        raise ValueError(
            "reference corpus has no classifiable documents — no shares to pin"
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_rows = _shares(batch_df)
        batch_side = spark.createDataFrame(
            batch_rows or [(None, None)], "lang string, p_new double"
        ).where(F.col("lang").isNotNull())
        ref_hist = spark.createDataFrame(ref_rows, "lang string, p_ref double")
        rows, psi = _psi_contribs(ref_hist, batch_side, "lang", "full_outer")
        (
            spark.createDataFrame(
                [
                    (r["lang"], r["p_ref"], r["p_new"], r["contrib"], psi)
                    for r in rows
                ],
                "lang string, p_ref double, p_new double, "
                "contrib double, psi double",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_path, f"epoch_id={epoch_id}"))
        )
        if alert_psi is not None and on_alert is not None and psi > alert_psi:
            on_alert(epoch_id, psi)

    return sink
