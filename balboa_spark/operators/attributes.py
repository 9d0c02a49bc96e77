"""Per-document attribute store + rule mixer (the tagger/mixer split).

A production pretraining pipeline does not recompute quality signals,
language ID, or perplexity every time it re-mixes a corpus: taggers
run ONCE per document and materialize their outputs as narrow
attribute relations parallel to the (immutable, huge) text; mixing is
then a boolean-rule evaluation over attributes plus one id-keyed
semi-join back to the text. This is the architecture of AI2's Dolma
toolkit (Soldaini et al. 2024, "Dolma: an Open Corpus of Three
Trillion Tokens...", §Toolkit: taggers write attribute files, the
mixer filters documents by expressions over attributes) — re-expressed
here as parquet relations under the repo's persisted-store contract
(manifest + commit-seq CAS, epoch-scoped appends, fold compaction).

Why it matters at 100 TB: text is the heavy column. Every mixer plan
here touches text exactly once — the final ``left_semi`` join on the
uniform document id. Taggers append (id, attrs) rows that are a few
hundred bytes each; re-tagging (a better classifier, a new PII regex)
appends a NEW VERSION rather than rewriting history, and readers
resolve latest-wins with one partial-aggregatable ``max(struct)``
per id — no window function, no skew (ids are unique, so every group
is tiny by construction).

Store layout (one namespace per tagger, each with its OWN manifest so
tagger writers never contend on a shared commit seq):

    <root>/<tagger>/manifest.json     format, id col, attr schema,
                                      last_ver + the EpochLog fields
    <root>/<tagger>/state/epoch=<scope>/*.parquet
                                      rows: (id, _ver, attr...)

Versioning: every append claims ``_ver = last_ver + 1`` in the same
CAS'd claim as its epoch scope (``genstore.EpochLog.begin``, whose
docstring holds the scope/commit/compaction protocol), so two racing
writers produce distinct versions or one loud
``ConcurrentWriterError``. Reader truth is ``max(struct(_ver,
attrs))`` per id over the live scopes; a streaming replay of a live
epoch claims a fresh _ver but rewrites equal rows into the SAME
scope, so latest-wins picks content identical to the first attempt.

Null semantics in the mixer follow SQL three-valued logic: a document
with no attribute row for a tagger gets nulls after the left join,
and a rule that evaluates to NULL does not keep the document — the
Dolma default (missing attribute ⇒ filter fails). Rules that want to
keep untagged docs say so explicitly (``quality__n_tokens IS NULL OR
...``).

Reference analog: the reference engine has no attribute store — this
is part of the beyond-reference LLM-pipeline surface (SURVEY.md §2
extension list), sitting on the same store machinery as
operators/dedup_store.py.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from balboa_spark.plans.genstore import EpochLog

#: On-disk format version for attribute namespaces. v2: reader truth
#: is the manifest's live list (``genstore.EpochLog``).
ATTR_FORMAT = 2

#: Partial-match email pattern used by the built-in ``pii`` tagger —
#: ONE definition shared by the CLI tagger, the bench item, and the
#: graded fixture (their DuckDB oracle keeps an intentionally
#: independent literal copy). Identical semantics under Java regex
#: (Spark rlike) and RE2 (DuckDB regexp_matches).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

_TAGGER_RE = re.compile(r"[a-z][a-z0-9_]*")


def _tagger_selection(
    taggers: "list[str] | dict[str, list[str] | None]",
) -> dict:
    """Normalize the mixer's tagger argument: a list of names, or a
    dict ``{tagger: [cols] | None}`` for column-pruned reads."""
    return (
        dict(taggers) if isinstance(taggers, dict) else {t: None for t in taggers}
    )


def _check_tagger_name(tagger: str) -> str:
    """Lowercase namespace names up front: Spark resolves column names
    case-insensitively by default, so two taggers differing only by
    case would produce AMBIGUOUS_REFERENCE prefixed columns in the
    mixer. Lowercasing at the boundary makes them the SAME namespace
    loudly (schema check) instead of colliding silently later."""
    t = tagger.lower()
    if not _TAGGER_RE.fullmatch(t):
        raise ValueError(
            f"tagger name {tagger!r} must match [a-z][a-z0-9_]* "
            "(it becomes a directory name and a column prefix)"
        )
    return t


def _latest(df: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """Latest-wins per id: ONE ``groupBy(id).agg(max(struct(_ver,
    attrs)))`` — ids are unique per version so groups are tiny, the
    aggregate is map-side combinable, and no window partitions
    anything skewable. The winner is the ``_s`` struct column."""
    return df.groupBy(id_col).agg(
        F.max(F.struct(F.col("_ver"), *[F.col(c) for c in cols])).alias("_s")
    )


class AttributeStore:
    """Versioned per-document attribute relations, one namespace per
    tagger, plus the rule mixer over them. See the module docstring
    for the layout and the latest-wins contract."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._namespaces: dict[str, EpochLog] = {}

    # -- namespaces ---------------------------------------------------

    def _ns(self, tagger: str) -> EpochLog:
        t = _check_tagger_name(tagger)
        if t not in self._namespaces:
            self._namespaces[t] = EpochLog(
                self.spark, os.path.join(self.path, t), "state", ATTR_FORMAT
            )
        return self._namespaces[t]

    def taggers(self) -> list[str]:
        """Namespaces with committed data (a non-empty live list),
        sorted: a first-ever write torn after its claim must not list a
        namespace that every read rejects."""
        if not os.path.exists(self.path):
            return []
        return [
            d
            for d in sorted(os.listdir(self.path))
            if _TAGGER_RE.fullmatch(d) and self._ns(d).live()
        ]

    # -- writes -------------------------------------------------------

    def write(
        self,
        attrs: DataFrame,
        tagger: str,
        id_col: str = "doc_id",
        epoch_id: int | None = None,
        stream_id: str = "default",
        max_live_epochs: int | None = None,
    ) -> int | None:
        """Append one tagger batch: every non-id column of ``attrs``
        becomes an attribute. Returns the claimed version.

        The attr schema is pinned by the FIRST write (sorted column
        names in the manifest); a later write with different columns
        raises — silent schema drift would make latest-wins resolution
        compare structs of different shapes. Map-typed columns are
        rejected (latest-wins orders by ``max(struct(...))`` and maps
        are not orderable in Spark).

        ``epoch_id``/``stream_id`` scope streaming appends exactly like
        the dedup stores; ``max_live_epochs`` arms the size-triggered
        fold. Returns None for a replay of an epoch already folded."""
        log = self._ns(tagger)
        cols = sorted(c for c in attrs.columns if c != id_col)
        if id_col not in attrs.columns or not cols:
            raise ValueError(
                f"attrs must carry {id_col!r} plus >=1 attribute column, "
                f"got {attrs.columns}"
            )
        for f_ in attrs.schema.fields:
            # simpleString covers maps nested inside structs/arrays too
            # — a nested map would pass a top-level-class check, commit
            # the schema, and then make every read fail unorderable
            if f_.name != id_col and "map<" in f_.dataType.simpleString():
                raise ValueError(
                    f"attribute {f_.name!r} contains a map type — maps "
                    "are not orderable, so latest-wins resolution cannot "
                    "compare them; store a sorted array of entries instead"
                )
        claimed: dict = {}

        def claim(man: dict) -> dict:
            # the schema check and the version claim read the same
            # manifest the scope claim's CAS guards
            if man.get("columns") is not None and (
                man["columns"] != cols or man["id_col"] != id_col
            ):
                raise ValueError(
                    f"tagger {tagger!r} was committed with id "
                    f"{man['id_col']!r} + columns {man['columns']}, "
                    f"this write carries {id_col!r} + {cols}; a new schema "
                    "needs a new tagger name"
                )
            claimed.update(
                last_ver=int(man.get("last_ver", 0)) + 1,
                id_col=id_col,
                columns=cols,
            )
            return claimed

        scope = log.begin(epoch_id, stream_id, claim)
        if scope is None:
            return None
        ver = claimed["last_ver"]
        log.write(
            attrs.select(F.col(id_col), F.lit(ver).alias("_ver"), *cols), scope
        )
        log.commit(scope)
        if max_live_epochs is not None and log.should_compact(max_live_epochs):
            self.compact(tagger)
        return ver

    # -- reads --------------------------------------------------------

    def read(
        self,
        tagger: str,
        prefix: bool = True,
        cols: list[str] | None = None,
    ) -> DataFrame:
        """The tagger's latest-wins attribute relation (``_latest``):
        one row per document id, newest version's values. ``prefix``
        namespaces the attribute columns as ``<tagger>__<col>`` for
        the mixer.

        ``cols`` restricts the read to a subset of the tagger's
        attributes: a wide tagger (dozens of signals) mixed on two of
        them should not drag every column through the resolution
        aggregate — the struct is built only over the requested
        columns, so parquet column pruning reaches the scan
        (plan-tested). Winner selection is unchanged (``_ver`` alone
        decides between committed versions)."""
        log = self._ns(tagger)
        man = log.manifest()
        df = log.read()
        if df is None:
            raise ValueError(f"tagger {tagger!r} has no committed attributes")
        id_col, all_cols = man["id_col"], man["columns"]
        if cols is None:
            cols = all_cols
        else:
            unknown = sorted(set(cols) - set(all_cols))
            if unknown:
                raise ValueError(
                    f"tagger {tagger!r} has no attributes {unknown}; "
                    f"committed columns: {all_cols}"
                )
            cols = [c for c in all_cols if c in set(cols)]
        resolved = _latest(df, id_col, cols).select(
            F.col(id_col), *[F.col(f"_s.{c}").alias(c) for c in cols]
        )
        if prefix:
            t = _check_tagger_name(tagger)
            for c in cols:
                resolved = resolved.withColumnRenamed(c, f"{t}__{c}")
        return resolved

    def attributes(
        self,
        docs: DataFrame,
        taggers: list[str] | dict[str, list[str] | None],
        id_col: str = "doc_id",
    ) -> DataFrame:
        """``docs``' ids left-joined with every named tagger's resolved
        relation (prefixed columns). Only the id column of ``docs``
        flows into the joins — text stays out of every shuffle until
        the caller semi-joins the verdict back. ``taggers`` is a list
        of names, or a dict ``{tagger: [cols] | None}`` to
        column-prune wide taggers down to the attributes a rule
        actually touches (see :meth:`read`)."""
        sel = _tagger_selection(taggers)
        joined = docs.select(F.col(id_col))
        for t, tcols in sel.items():
            rel = self.read(t, prefix=True, cols=tcols)
            ns_id = self._ns(t).manifest()["id_col"]
            if ns_id != id_col:
                rel = rel.withColumnRenamed(ns_id, id_col)
            joined = joined.join(rel, id_col, "left")
        return joined

    # -- mixing -------------------------------------------------------

    def mix(
        self,
        docs: DataFrame,
        taggers: list[str] | dict[str, list[str] | None],
        rule: str,
        id_col: str = "doc_id",
        keep_attrs: bool = False,
    ) -> DataFrame:
        """Documents passing ``rule`` — a SQL boolean expression over
        the prefixed attribute columns (``quality__n_tokens >= 50 AND
        NOT pii__has_email``). NULL does not keep (module docstring).

        Plan shape (batch): narrow id+attr joins decide the keep-set;
        the text relation is touched exactly once, by the final
        ``left_semi`` join on the uniform id key.

        STREAMING docs work too: the keep-set shape would make the
        final semi-join stream-stream (unsupported without
        watermarks), so the streaming arm left-joins the static
        attribute relations onto the stream directly and filters —
        per micro-batch stream-static joins. The attribute relations
        are a snapshot PINNED at query start (a parquet static side's
        file listing is resolved once, so epoch dirs written later are
        not discovered — the same pinning convention as the drift
        monitors' reference histograms); restart the query to pick up
        re-tags."""
        if docs.isStreaming:
            sel = _tagger_selection(taggers)
            joined = docs
            attr_cols: list[str] = []
            for t, tcols in sel.items():
                rel = self.read(t, prefix=True, cols=tcols)
                ns_id = self._ns(t).manifest()["id_col"]
                if ns_id != id_col:
                    rel = rel.withColumnRenamed(ns_id, id_col)
                attr_cols += [c for c in rel.columns if c != id_col]
                joined = joined.join(rel, id_col, "left")
            kept = joined.filter(F.expr(rule))
            return kept if keep_attrs else kept.drop(*attr_cols)
        joined = self.attributes(docs, taggers, id_col=id_col)
        kept = joined.filter(F.expr(rule))
        if keep_attrs:
            return docs.join(kept, id_col, "inner")
        return docs.join(kept.select(id_col), id_col, "left_semi")

    def mix_report(
        self,
        docs: DataFrame,
        taggers: list[str] | dict[str, list[str] | None],
        rules: dict[str, str],
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Per-rule attrition over ``docs``: for each named rule, how
        many documents fail it (NULL counts as fail), plus the
        ``__all__`` conjunction row — the report a curator reads before
        committing a mix. ONE aggregation job (every counter is a
        conditional sum over the same joined frame, map-side
        combinable), then a tiny unpivot of the single result row.
        Output: (rule, n_pass, n_fail) ordered by rule name."""
        if not rules or "__all__" in rules:
            raise ValueError("rules must be non-empty and not use __all__")
        for n in rules:
            if not re.fullmatch(r"[A-Za-z0-9_.\-]+", n):
                raise ValueError(
                    f"rule name {n!r} must match [A-Za-z0-9_.-]+ (it is "
                    "spliced into a stack() SQL literal)"
                )
        joined = self.attributes(docs, taggers, id_col=id_col)
        named = dict(rules)
        named["__all__"] = " AND ".join(f"({r})" for r in rules.values())
        aggs = []
        for name, expr in named.items():
            aggs.append(
                F.sum(
                    F.when(F.expr(expr), F.lit(1)).otherwise(F.lit(0))
                ).alias(f"p::{name}")
            )
        row = joined.agg(*aggs, F.count(F.lit(1)).alias("p::__n__"))
        pairs = ", ".join(
            f"'{n}', `p::{n}`" for n in sorted(named)
        )
        return (
            row.select(
                F.col("p::__n__").alias("_n"),
                F.expr(
                    f"stack({len(named)}, {pairs}) as (rule, n_pass)"
                ),
            )
            .select(
                "rule",
                F.col("n_pass").cast("long").alias("n_pass"),
                (F.col("_n") - F.col("n_pass")).cast("long").alias("n_fail"),
            )
            .orderBy("rule")
        )

    # -- maintenance --------------------------------------------------

    def compact(self, tagger: str, vacuum: bool = False) -> int:
        """Fold a tagger's committed epochs into one pruned ``base-<g>``
        (``EpochLog.compact``): within the folded scopes only each id's
        max-``struct(_ver, attrs)`` row survives — safe even when a
        NEWER version lives in a non-folded scope, since latest-wins at
        read still prefers it. Returns #scopes folded."""
        log = self._ns(tagger)
        man = log.manifest()
        id_col, cols = man.get("id_col"), man.get("columns")
        return log.compact(
            lambda df: _latest(df, id_col, cols).select(
                F.col(id_col),
                *[F.col(f"_s.{c}").alias(c) for c in ["_ver"] + cols],
            ),
            vacuum,
        )
