"""Incremental near-dedup against a persisted signature store.

A training-data pipeline rarely dedups one static corpus: documents
arrive continuously and each batch must be deduplicated against
EVERYTHING already ingested — without recomputing signatures for the
whole history. The store persists the banded MinHash table
``(band_idx, band_hash, id)`` (the exact join key minhash_lsh_pairs
buckets on); a new batch is:

1. band the batch (one pass over batch text only),
2. drop batch docs whose bands collide with a STORED band — a
   key-equi join on (band_idx, band_hash) against the persisted
   table: the batch side is small, the stored side is
   partition-pruned by band_idx and never re-banded,
3. dedup the survivors within the batch (minhash_lsh_pairs +
   connected-components keep-set),
4. append the kept docs' bands to the store.

At 100 TB the stored band table is the only state; it is
O(num_bands × corpus) small rows, appended partitioned by band_idx.
On a cluster, bucketing it by band_hash (bucketBy + saveAsTable)
upgrades step 2 to a shuffle-free bucketed join of a tiny batch side.

Replay safety: the streaming composition
``lambda batch, e: sink(store.process_batch(batch, epoch_id=e))``
can crash after the store commit but before the sink commit, and the
replay then runs against a history that already holds the batch's
own hashes — every document would collide with itself and vanish
from the sink. So every store decides against its history EXCLUDING
the batch's own stream-epoch scope: the replay sees exactly the
history the first attempt saw and keeps the identical rows. Without
``epoch_id`` (one-shot batch use) appends land in a fresh ``auto``
scope and nothing is excluded. Scopes, the live list readers see,
the claim/commit order, compaction and the commit-seq CAS are
``genstore.EpochLog``'s protocol (its docstring); a compaction here
keeps the distinct history rows, since duplicates change no semi/anti
join decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from balboa_spark.operators import dedup
from balboa_spark.plans.genstore import EpochLog

#: On-disk format version. v3: reader truth is the manifest's live
#: list (``genstore.EpochLog``), not the epoch dirs on disk; older
#: stores are rejected with a rebuild error.
STORE_FORMAT = 3


class _EpochHistory:
    """The shared shell of the three dedup stores: one ``EpochLog``
    over ``<path>/<state>`` partitioned by ``part_col``, folded to its
    distinct rows."""

    state: str
    part_col: str

    def __init__(self, spark: SparkSession, path: str, config: dict):
        self.spark = spark
        self.path = path
        self.log = EpochLog(
            spark, path, self.state, STORE_FORMAT, config, self.part_col
        )

    def _land(
        self, scope: str | None, rows: DataFrame, max_live_epochs: int | None
    ) -> None:
        """Write + commit a claimed scope (None: a folded replay writes
        nothing), then run the size trigger."""
        if scope is not None:
            self.log.write(rows, scope)
            self.log.commit(scope)
        if max_live_epochs is not None and self.log.should_compact(
            max_live_epochs
        ):
            self.compact()

    def compact(self, vacuum: bool = False) -> int:
        """Fold committed epochs into one distinct-row ``base-<g>``
        (``EpochLog.compact``). Returns #scopes folded."""
        return self.log.compact(lambda df: df.drop("epoch").distinct(), vacuum)


class MinHashDedupStore(_EpochHistory):
    state, part_col = "bands", "band_idx"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 16,
        num_bands: int = 4,
        k: int = 3,
    ):
        super().__init__(
            spark, path, {"num_hashes": num_hashes, "num_bands": num_bands, "k": k}
        )
        self.num_hashes = num_hashes
        self.num_bands = num_bands
        self.k = k

    def bands(self, exclude_scope: str | None = None) -> DataFrame | None:
        return self.log.read(exclude=exclude_scope)

    def _band(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        return dedup.minhash_bands(
            df, text_col, id_col, self.num_hashes, self.num_bands, self.k
        )

    def filter_new(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        epoch_id: int | None = None,
        stream_id: str = "default",
    ) -> DataFrame:
        """Batch rows that near-dup neither a stored document nor an
        earlier (smaller-id) row of the same batch. ``(stream_id,
        epoch_id)`` excludes that stream-epoch's own bands from
        history so a replayed epoch makes the identical decisions."""
        nb = self._band(batch, text_col, id_col)
        scope = None if epoch_id is None else EpochLog.scope(epoch_id, stream_id)
        stored = self.bands(exclude_scope=scope)
        if stored is not None:
            hits = (
                nb.join(stored, ["band_idx", "band_hash"], "left_semi")
                .select("id")
                .distinct()
            )
            batch = batch.join(
                hits.withColumnRenamed("id", id_col), id_col, "left_anti"
            )
        pairs = dedup.minhash_lsh_pairs(
            batch, text_col, id_col, self.num_hashes, self.num_bands, self.k
        )
        return dedup.near_dedup_keep(batch, pairs, id_col=id_col)

    def add(
        self,
        kept: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        epoch_id: int | None = None,
        stream_id: str = "default",
    ) -> None:
        """Write the kept documents' bands under their stream-scoped
        epoch (a replay overwrites the same scope; a duplicate band row
        would change no collision decision anyway)."""
        scope = self.log.begin(epoch_id, stream_id)
        self._land(scope, self._band(kept, text_col, id_col), None)

    def process_batch(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        epoch_id: int | None = None,
        stream_id: str = "default",
        max_live_epochs: int | None = None,
    ) -> DataFrame:
        """filter_new + add, returning the kept rows (materialized so
        the dedup decision is computed once, not re-derived by both the
        band append and the caller's sink). Pass the foreachBatch
        ``epoch_id`` (plus the stream's id when several queries share
        the store) for replay-stable decisions; ``max_live_epochs`` arms
        the size-triggered compaction. The scope is claimed before the
        history read, so a writer committing in between raises."""
        scope = self.log.begin(epoch_id, stream_id)
        kept = self.filter_new(
            batch, text_col, id_col, epoch_id=epoch_id, stream_id=stream_id
        ).localCheckpoint(eager=True)
        self._land(scope, self._band(kept, text_col, id_col), max_live_epochs)
        return kept


class ExactDedupStore(_EpochHistory):
    """Incremental EXACT document dedup against a persisted
    fingerprint history — the cheapest cross-batch dedup (one md5 per
    document, no banding): a batch document is dropped iff its
    normalized-text hash was kept in ANY earlier batch, or an
    earlier (lower-id) row of the same batch carries it.

    State is the distinct fingerprint set, partitioned by a 256-way
    hex-prefix bucket (same letter-prefixed convention as
    SpanDedupStore) so the history side of the semi-join is
    partition-prunable. Normalization is the shared token convention
    (lowercase, whitespace tokens re-joined), matching
    ``lm.ccnet_pipeline``'s dedup stage — this store is its streaming
    twin.

    Replay safety and compaction: module docstring."""

    state, part_col = "fps", "bucket"

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path, {})

    def fingerprints(self, exclude_scope: str | None = None) -> DataFrame | None:
        return self.log.read(exclude=exclude_scope)

    @staticmethod
    def _fp(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        from balboa_spark.operators.text import tokens

        # NULL text gets a sentinel fingerprint (no md5 is 'null'):
        # without it the cross-batch anti-join can never match a NULL
        # _h, so every NULL-text doc in every batch survives "dedup"
        # forever while the in-batch groupBy treats them as one group
        # (SQL NULL joins != NULL grouping) — and the hex-prefix
        # bucket becomes NULL, landing rows in the Hive default
        # partition. Found by the adversarial-fixture audit.
        fp = F.coalesce(
            F.md5(F.array_join(tokens(F.col(text_col)), " ")), F.lit("null")
        )
        return df.select(
            F.col(id_col).alias("id"),
            fp.alias("_h"),
        ).withColumn("bucket", F.concat(F.lit("h"), F.substring("_h", 1, 2)))

    def process_batch(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        epoch_id: int | None = None,
        stream_id: str = "default",
        max_live_epochs: int | None = None,
    ) -> DataFrame:
        """Return the batch rows that survive exact dedup (keep-first
        by arrival, then by lowest id within the batch) and append the
        survivors' NEW fingerprints under the stream-scoped epoch."""
        scope = self.log.begin(epoch_id, stream_id)
        fps = self._fp(batch, text_col, id_col).localCheckpoint(eager=True)
        stored = self.fingerprints(exclude_scope=scope)
        if stored is not None:
            fresh = fps.join(stored, ["bucket", "_h"], "left_anti")
        else:
            fresh = fps
        # within-batch keep-first: lowest id per fingerprint, as a
        # map-side-combinable groupBy-min over the narrow (id, _h)
        # relation — NEVER a row_number window over _h, whose single
        # unsplittable partition per fingerprint would ship every copy
        # of a mass-duplicated page to one task at 100 TB
        kept_ids = (
            fresh.groupBy("bucket", "_h")
            .agg(F.min("id").alias("id"))
            .select("id", "bucket", "_h")
            .localCheckpoint(eager=True)  # decide before the append job
        )
        self._land(
            scope, kept_ids.select("bucket", "_h").distinct(), max_live_epochs
        )
        return batch.join(
            kept_ids.select(F.col("id").alias(id_col)), [id_col], "left_semi"
        )


class SpanDedupStore(_EpochHistory):
    """Incremental EXACT span dedup against a persisted window-hash
    history — the cross-batch twin of corpus.span_dedup (keep-first
    Lee et al. semantics over the arrival stream): a batch token span
    is removed iff its window hash was seen in ANY earlier batch, or
    earlier (lower (id, pos)) in the same batch.

    State is the distinct window-hash set, stored partitioned by a
    256-way hex-prefix bucket so the history side of the semi-join is
    partition-prunable; it grows with distinct corpus tokens (the
    exact-dedup price, same as the batch operator's shuffle).

    History records hashes of the INPUT stream (first-seen text), not
    of the rewritten output. Without ``epoch_id`` a replayed batch's
    windows all hit history and its documents vanish from the replay
    output — the decisions stay once-only, but the DELIVERY is lost;
    streaming callers must pass the epoch (module docstring).
    """

    state, part_col = "hashes", "bucket"

    def __init__(self, spark: SparkSession, path: str, span_tokens: int = 16):
        super().__init__(spark, path, {"span_tokens": span_tokens})
        self.span_tokens = span_tokens

    def hashes(self, exclude_scope: str | None = None) -> DataFrame | None:
        return self.log.read(exclude=exclude_scope)

    def process_batch(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        epoch_id: int | None = None,
        stream_id: str = "default",
        max_live_epochs: int | None = None,
    ) -> DataFrame:
        """Span-dedup the batch against history + itself, write the
        new window hashes under the stream-scoped epoch directory,
        return (id, n_tokens, n_removed, clean_text) for documents
        keeping at least one token. ``epoch_id``/``stream_id`` and
        ``max_live_epochs`` as in MinHashDedupStore.process_batch."""
        from balboa_spark.operators.corpus import (
            _span_drop_covered,
            _span_non_first,
            _span_windows,
        )
        from balboa_spark.operators.text import tokens

        scope = self.log.begin(epoch_id, stream_id)
        staged = batch.select(
            F.col(id_col), tokens(F.col(text_col)).alias("_tk")
        ).filter(F.size("_tk") > 0)
        wins = _span_windows(staged, self.span_tokens, id_col).withColumn(
            # letter prefix: a bare hex prefix like "1e" would hit
            # partition-value type INFERENCE on read (NumberFormat /
            # mixed-type dirs); "h1e" is unambiguously a string
            "bucket", F.concat(F.lit("h"), F.substring("_h", 1, 2))
        )
        # one materialization feeds three consumers: history semi-join,
        # batch-internal first-occurrence, and the hash append
        wins = wins.localCheckpoint(eager=True)
        stored = self.hashes(exclude_scope=scope)
        if stored is not None:
            hist_removed = wins.join(
                stored, ["bucket", "_h"], "left_semi"
            ).select(id_col, "pos", "_h")
        else:
            hist_removed = wins.filter(F.lit(False)).select(id_col, "pos", "_h")
        batch_removed = _span_non_first(wins.drop("bucket"), id_col).select(
            id_col, "pos", "_h"
        )
        removed = hist_removed.unionByName(batch_removed).select(
            id_col, "pos"
        ).distinct()
        out = _span_drop_covered(staged, removed, self.span_tokens, id_col)
        out = out.localCheckpoint(eager=True)  # decide before the append job
        # append only hashes NOT already in history: without the
        # anti-join the store grows with total processed tokens (and
        # with every replay) instead of distinct content, and the
        # semi-join right side slows linearly in input volume
        new_hashes = wins.select("bucket", "_h").distinct()
        if stored is not None:
            new_hashes = new_hashes.join(
                stored, ["bucket", "_h"], "left_anti"
            )
        self._land(scope, new_hashes, max_live_epochs)
        return out
