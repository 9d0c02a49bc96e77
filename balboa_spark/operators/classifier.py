"""Trained quality classifier — the CCNet/DCLM-style learned filter.

Modern pretraining pipelines replace hand-tuned quality thresholds
with a LEARNED filter: fit a small linear model that separates a
curated in-domain slice from the raw crawl, then keep documents the
model scores high (CCNet's fastText LM filter; DCLM's fastText
classifier is the single biggest quality lever in that ablation).
This module is that operator over interpretable text signals:

- features: 4 bounded, engine-identical signals (content length,
  punctuation ratio, stopword ratio, distinct-token ratio) — pure
  Column projections, each mirrored verbatim in SQL;
- training: batch gradient descent on logistic loss. Each iteration
  is ONE map-side-combined aggregate over the corpus returning 5
  numbers (the gradient); weights live on the driver — parameter-
  sized state, exactly like the k-means/IVF loop. T iterations =
  T corpus passes over a persisted feature relation (features
  computed once, never re-derived from text);
- scoring: a pure projection with the learned weights inlined —
  zero shuffles, fully pushdown-friendly;
- oracle: ``logreg_sql`` unrolls the SAME training loop as chained
  CTEs (gradient aggregate -> weight update per iteration, shared
  constants for lr/iters/rounding), so the driver hash-grades the
  TRAINING itself, not just the scorer. Gradients and weights round
  to 8 decimals each iteration on both sides — float sums across
  partitions differ at ~1e-15, the rounding makes the trajectories
  identical (the events_anomaly rounding discipline).

At 100 TB: T passes over a float-narrow persisted relation (5
doubles/doc); no shuffle at all — gradients partial-aggregate
map-side and reduce to one row. The feature projection is the only
text touch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from balboa_spark.operators.text import STOPWORDS, tokens

#: training hyperparameters shared with the SQL generator
QC_ITERS = 5
QC_LR = 1.0
QC_ROUND = 8  # per-iteration gradient/weight rounding (see module doc)
QC_PUNCT_RE = r"[^\w\s]"

def _stopword_array() -> Column:
    flat = sorted({w for ws in STOPWORDS.values() for w in ws})
    return F.array(*[F.lit(w) for w in flat])


def _quality_features_from_tokens(text: Column, toks: Column) -> list[Column]:
    """The four signal columns (x1..x4), each in [0, 1], over an
    already-staged token array (the signals reference it ~5x; staged,
    the tokenize runs once per row — the r16 text_profile finding)."""
    n = F.size(toks).cast("double")
    chars = F.length(text).cast("double")
    punct = F.regexp_count(text, F.lit(QC_PUNCT_RE)).cast("double")
    sw = F.size(
        F.filter(toks, lambda t: F.array_contains(_stopword_array(), t))
    ).cast("double")
    return [
        F.least(F.lit(1.0), n / 64.0),
        punct / F.greatest(chars, F.lit(1.0)),
        F.least(F.lit(1.0), 4.0 * sw / F.greatest(n, F.lit(1.0))),
        F.size(F.array_distinct(toks)).cast("double") / F.greatest(n, F.lit(1.0)),
    ]


def _features_frame(
    df: DataFrame, text_col: str, id_col: str, label: Column | None
) -> DataFrame:
    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        tokens(F.col(text_col)).alias("_tk"),
        *([] if label is None else [label.cast("double").alias("y")]),
    )
    xs = _quality_features_from_tokens(F.col("_t"), F.col("_tk"))
    cols = [F.col(id_col)] + [x.alias(f"x{i+1}") for i, x in enumerate(xs)]
    if label is not None:
        cols.append(F.col("y"))
    return staged.select(*cols)


def logreg_fit(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = QC_ITERS,
    lr: float = QC_LR,
) -> list[float]:
    """Batch-GD logistic regression; returns [bias, w1..w4].

    The feature relation persists once; each iteration is one
    aggregate returning the 5-component gradient (driver state is 5
    floats). persist lifetime is GC-bound (dsir_weights note)."""
    feats = _features_frame(df, text_col, id_col, label).persist()
    w = [0.0] * 5
    try:
        for _ in range(iters):
            z = F.lit(w[0])
            for j in range(4):
                z = z + F.lit(w[j + 1]) * F.col(f"x{j+1}")
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = p - F.col("y")
            row = feats.agg(
                F.round(F.avg(err), QC_ROUND).alias("g0"),
                *[
                    F.round(F.avg(err * F.col(f"x{j+1}")), QC_ROUND).alias(f"g{j+1}")
                    for j in range(4)
                ],
            ).collect()[0]
            if row["g0"] is None:  # avg over zero rows
                raise ValueError("logreg_fit: cannot fit on an empty relation")
            w = [
                round(w[j] - lr * row[f"g{j}"], QC_ROUND) for j in range(5)
            ]
    finally:
        feats.unpersist()
    return w


def logreg_score(
    df: DataFrame,
    weights: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """(id, score, keep) under fixed weights — staged projections, no
    shuffle: the token array is aliased once (the four features
    reference it ~5x) and the score once (keep references it again);
    unstaged, the tokenize chain re-ran ~10x per row (r16 plan
    audit)."""
    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        tokens(F.col(text_col)).alias("_tk"),
    )
    xs = _quality_features_from_tokens(F.col("_t"), F.col("_tk"))
    z = F.lit(weights[0])
    for j in range(4):
        z = z + F.lit(weights[j + 1]) * xs[j]
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    return staged.select(F.col(id_col), score.alias("score")).select(
        F.col(id_col),
        F.col("score"),
        (F.col("score") >= threshold).alias("keep"),
    )


def quality_classifier(
    df: DataFrame,
    target_source: str,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fit against 'is this the curated source?' and score the whole
    corpus — the composed CCNet-style learned filter.

    eqNullSafe, not ==: a NULL source is NOT the curated source, so
    the document trains as a NEGATIVE example. A bare == yields a
    NULL label whose gradient rows avg() silently drops — the engine
    would then train on a smaller set than the oracle's CASE...ELSE 0
    form (adversarial-audit find: a planted NULL-source doc shifted
    every score by 2e-4)."""
    w = logreg_fit(
        df,
        label=F.col(source_col).eqNullSafe(F.lit(target_source)),
        text_col=text_col,
        id_col=id_col,
    )
    return logreg_score(df, w, text_col=text_col, id_col=id_col)


# --- DuckDB replay ---------------------------------------------------------

def _features_sql(label_expr: str) -> str:
    """The feats CTE over the ``documents`` view; ``label_expr`` may
    reference any documents column (the subquery keeps them all)."""
    flat = sorted({w for ws in STOPWORDS.values() for w in ws})
    sw_list = ", ".join(f"'{w}'" for w in flat)
    return f"""feats AS (
  SELECT doc_id,
         least(1.0, len(tk) / 64.0) AS x1,
         len(regexp_extract_all(text, '{QC_PUNCT_RE}'))::DOUBLE
           / greatest(length(text), 1) AS x2,
         least(1.0, 4.0 * len(list_filter(tk, t -> list_contains([{sw_list}], t)))
           / greatest(len(tk), 1)) AS x3,
         len(list_distinct(tk))::DOUBLE / greatest(len(tk), 1) AS x4,
         CASE WHEN {label_expr} THEN 1.0 ELSE 0.0 END AS y
  FROM (SELECT *,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents)
)"""


def logreg_sql(
    label_expr: str,
    iters: int = QC_ITERS,
    lr: float = QC_LR,
    threshold: float = 0.5,
) -> str:
    """The whole training + scoring replay as unrolled CTEs: per
    iteration one gradient aggregate over feats and one weight-update
    row, both rounded like the Spark loop."""
    r = QC_ROUND
    parts = [_features_sql(label_expr)]
    parts.append("w0 AS (SELECT 0.0 b, 0.0 w1, 0.0 w2, 0.0 w3, 0.0 w4)")
    for k in range(1, iters + 1):
        prev = f"w{k-1}"
        z = f"({prev}.b + {prev}.w1*x1 + {prev}.w2*x2 + {prev}.w3*x3 + {prev}.w4*x4)"
        p = f"(1.0 / (1.0 + exp(-{z})))"
        parts.append(
            f"""g{k} AS (
  SELECT round(avg({p} - y), {r}) g0,
         round(avg(({p} - y) * x1), {r}) g1,
         round(avg(({p} - y) * x2), {r}) g2,
         round(avg(({p} - y) * x3), {r}) g3,
         round(avg(({p} - y) * x4), {r}) g4
  FROM feats, {prev}
)"""
        )
        parts.append(
            f"""w{k} AS (
  SELECT round({prev}.b - {lr} * g0, {r}) b,
         round({prev}.w1 - {lr} * g1, {r}) w1,
         round({prev}.w2 - {lr} * g2, {r}) w2,
         round({prev}.w3 - {lr} * g3, {r}) w3,
         round({prev}.w4 - {lr} * g4, {r}) w4
  FROM g{k}, {prev}
)"""
        )
    wf = f"w{iters}"
    zf = f"({wf}.b + {wf}.w1*x1 + {wf}.w2*x2 + {wf}.w3*x3 + {wf}.w4*x4)"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_id,
       round(1.0 / (1.0 + exp(-{zf})), 4) AS score,
       round(1.0 / (1.0 + exp(-{zf})), 4) >= {threshold!r} AS keep
FROM feats, {wf} ORDER BY doc_id
"""
    )
