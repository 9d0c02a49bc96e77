"""Deduplication operators for training-data pipelines.

Five families, each with a scale story for 100 TB:

- exact: hash-groupBy on a normalized fingerprint. One shuffle on the
  16-byte digest; skew-free (hashes are uniform).
- MinHash + LSH: H md5-seeded min-hashes over word shingles; banded
  signatures bucket-joined so only same-bucket docs are compared —
  candidate generation is a shuffle on (band, band_hash), never a
  cross join.
- SimHash: 32-bit parity fingerprint; near-dup = small Hamming
  distance. Bucket on the top bits to avoid the cross join.
- n-gram Jaccard: inverted-index self-join on shared shingles with a
  document-frequency cap (stop-shingle removal) to bound fan-out, then
  exact Jaccard from intersection counts.
- embedding cosine: see similarity.py.

Everything is md5-based so the DuckDB oracle reproduces values exactly
(md5 hex strings compare identically everywhere; min() over them is a
valid uniform min-hash).
"""

from __future__ import annotations

import functools
import operator
import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from balboa_spark.operators.text import _shingles, fingerprint, tokens


def bucket_pairs(
    bucketed: DataFrame,
    keys: Sequence[str],
    id_col: str = "id",
    max_bucket: int = 1000,
) -> DataFrame:
    """(id_a < id_b) pairs of ids sharing a bucket key — the pair
    expansion every LSH family ends in, made hub-safe:

    - buckets of <= max_bucket members expand to all pairs via a
      streamed key-equi self-join (AQE-splittable; never an in-memory
      neighborhood array),
    - LARGER buckets are mass-duplicate clusters (boilerplate docs,
      identical vectors): all-pairs there is O(m²) rows for zero extra
      information, so they emit STAR pairs anchored on the bucket's
      min id — identical connected components downstream at linear
      cost. The anchor comes from a groupBy-min (map-side combinable:
      the hottest bucket reduces to one row per map task before the
      exchange) and the fan-out is an equi-join on the bucket key,
      which AQE can skew-split — unlike the r2-r12 consecutive-id
      chain window, whose single unsplittable partition funneled
      every member of the hottest bucket into one task.

    Callers should pass an already-materialized ``bucketed`` relation
    (localCheckpoint) when the bucket key is expensive to compute: the
    self-join references it twice."""
    sizes = bucketed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_anchor")
    )
    sized = bucketed.join(sizes, list(keys)).filter(F.col("_n") > 1)
    small = sized.filter(F.col("_n") <= max_bucket).drop("_n", "_anchor")
    a, b = small.alias("a"), small.alias("b")
    same_bucket = functools.reduce(
        operator.and_, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    )
    small_pairs = a.join(
        b, same_bucket & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    big_pairs = (
        sized.filter(F.col("_n") > max_bucket)
        .filter(F.col(id_col) != F.col("_anchor"))
        .select(F.col("_anchor").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return small_pairs.unionByName(big_pairs).distinct()


# -- exact ------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group docs by normalized-text fingerprint: (fp, n_docs, keep_id).
    Downstream keeps ``keep_id`` per group (min id = deterministic)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: Column | None = None,
) -> DataFrame:
    """Keep one representative (min id) per identical normalized text.

    ``key`` overrides the grouping fingerprint (default:
    ``fingerprint(text_col)`` — lower + trim + whitespace-collapse +
    md5). Callers whose graded oracle replays a DIFFERENT
    normalization (e.g. the CCNet chain's tokens-join, which also
    drops leading/trailing tabs/newlines that trim leaves behind)
    pass their own Column so engine and oracle agree on every corpus,
    not just whitespace-clean fixtures.

    The keep-set is ``groupBy(fp).agg(min(id))`` over a NARROW
    (fp, id) projection, joined back left-semi on the unique id. Both
    shuffles are skew-proof at mass-duplicate scale: the groupBy
    partial-aggregates map-side (a fingerprint duplicated millions of
    times — exactly what exact dedup exists to remove — reduces to one
    row per map task before the exchange), and the semi-join keys on
    the uniform id, so the text column never shuffles by fingerprint.
    This replaces the r1 corpus-cardinality broadcast AND the r2-r11
    min-over-window variant, whose single unsplittable window
    partition per fingerprint shipped every duplicate (text included)
    to one task."""
    fp = key if key is not None else fingerprint(F.col(text_col))
    keep = (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, [id_col], "left_semi")


# -- MinHash ----------------------------------------------------------------

def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    k: int = 3,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, band_idx, band_hash) — each document's banded MinHash
    signature, the join key of LSH candidate generation. Staged
    projections keep the optimized plan at exactly H array_min nodes
    (see minhash_lsh_pairs). Also the unit an incremental dedup store
    persists: band collisions against STORED bands find near-dups of
    already-ingested documents without recomputing anything.

    ``tokens_col``: optional pre-tokenized array column holding
    EXACTLY ``text.tokens(text_col)`` (lowercased whitespace tokens,
    empties removed). A pipeline that already materialized the token
    array (pretrain_pipeline's shared-token persist, r17) skips this
    kernel's tokenize pass; the signature is identical by construction
    because the same tokenizer produced the column."""
    rows_per_band = num_hashes // num_bands

    def seeded(h: int):
        prefix = F.lit(f"h{h}|")
        return lambda s: F.md5(F.concat(prefix, s))

    # token array staged once: _shingles references its input 3x, so
    # an inlined tokens(text) re-ran the tokenize chain per reference
    # (r16 plan audit; the pushed size filter adds the 2nd and last
    # tokenize per row — down from 4)
    staged_tk = (
        F.col(tokens_col) if tokens_col is not None
        else tokens(F.col(text_col))
    )
    shingled = (
        df.select(F.col(id_col).alias("id"), staged_tk.alias("_tk"))
        .filter(F.size("_tk") >= k)
        .select("id", _shingles(F.col("_tk"), k).alias("sh"))
    )
    sig_cols = shingled.select(
        "id",
        *[
            F.array_min(F.transform(F.col("sh"), seeded(h))).alias(f"mh{h}")
            for h in range(num_hashes)
        ],
    )
    band_digests = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        )
        for b in range(num_bands)
    ]
    return sig_cols.select(
        "id", F.posexplode(F.array(*band_digests)).alias("band_idx", "band_hash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    k: int = 3,
    max_bucket: int = 1000,
    tokens_col: str | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH band.

    Plan shape: project shingles once -> project the H min-hashes (each
    referenced exactly once by its band digest) -> explode bands ->
    shuffle on (band_idx, band_hash) -> per-bucket self-join ->
    distinct pairs. No cross join anywhere; bucket sizes are bounded
    because a band collision already implies high similarity.

    Round-1 lesson: passing the assembled signature *expression* into
    F.get-based banding duplicated the whole 16-min-hash subtree per
    slot (64 array_min nodes, re-tokenizing every doc ~16x — 262 s for
    5k docs). Staged projections + one-use-per-expression keep the
    optimized plan at exactly H array_min nodes over one shingle
    column; Catalyst's CollapseProject leaves multi-referenced
    non-cheap aliases staged.
    """
    # Materialize the bands once (the self-join inside bucket_pairs
    # references them twice; without the cut it would re-derive the
    # whole signature subtree per side — measured 1.6x slower at
    # sf0.1, the round-1 lesson). bucket_pairs keeps giant band
    # buckets (mass-duplicate clusters) linear via chain pairs.
    bands = minhash_bands(
        df, text_col, id_col, num_hashes, num_bands, k,
        tokens_col=tokens_col,
    ).localCheckpoint(eager=True)
    return bucket_pairs(bands, ["band_idx", "band_hash"], "id", max_bucket)


# -- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 32


def _simhash_from_md5(md_arr: Column) -> Column:
    """32-bit SimHash fingerprint from the per-token md5 array: bit j
    is the majority vote over tokens of the parity of the ascii code
    of hex digit j of md5(token). Callers stage ``md_arr`` as an
    aliased projection column so the 33 references here (32 bit votes
    + the length) read ONE evaluated array — CollapseProject keeps a
    multi-referenced non-cheap alias staged (the minhash_lsh_pairs
    round-1 lesson; inlined, the tokenize+md5 subtree re-ran per
    reference: 276 split(lower...) nodes in the dedup_simhash plan)."""
    n = F.size(md_arr).cast("long")

    # NB: the lambda must take exactly ONE parameter — PySpark treats a
    # two-parameter lambda (incl. bound defaults) as (element, index).
    def bit_pred(j: int):
        return lambda m: F.ascii(F.substring(m, j + 1, 1)) % 2 == 1

    bits = []
    for j in range(SIMHASH_BITS):
        ones = F.size(F.filter(md_arr, bit_pred(j))).cast("long")
        bits.append(F.when(ones * 2 >= n, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long")))
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return F.when(n > 0, total).otherwise(F.lit(None).cast("long"))


SIMHASH_BLOCKS = 4


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """ALL pairs with SimHash Hamming distance <= max_hamming — exact,
    via pigeonhole block bucketing (Charikar-style multi-table).

    The 32-bit fingerprint is cut into 4 disjoint 8-bit blocks; docs
    are bucketed on (block_idx, block_value). Any pair differing in
    <= 3 bits leaves at least one of the 4 blocks untouched (pigeonhole),
    so candidate generation has perfect recall and the Hamming filter
    makes the result exact. This fixes round 1's single-prefix table,
    which missed near-dups whose differing bit fell in the prefix and
    skewed one bucket. Candidate compare is per-bucket (shuffle on
    (block_idx, block_value)), never a cross join; the 4x bucket
    replication is the standard recall/space trade.

    Requires max_hamming < SIMHASH_BLOCKS for exactness.
    """
    # staged: tokenize once, md5 once per token, then the 33 bit-vote
    # references read the staged array (see _simhash_from_md5) — and
    # the narrow (id, sh) relation is MATERIALIZED before the aliased
    # self-join below, which would otherwise re-derive the whole
    # fingerprint subtree per side (the minhash bands lesson).
    sh = (
        df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk"))
        .select("id", F.transform(F.col("_tk"), lambda t: F.md5(t)).alias("_md"))
        .select("id", _simhash_from_md5(F.col("_md")).alias("sh"))
        # checkpoint BEFORE the null filter: a filter below the cut
        # would push into the projection and re-derive the bit votes
        # inside the predicate; above it, it reads the stored column
        .localCheckpoint(eager=True)
        .filter(F.col("sh").isNotNull())
    )
    block_bits = SIMHASH_BITS // SIMHASH_BLOCKS
    blocks = F.array(
        *[
            (F.col("sh").bitwiseAND(F.lit((2**block_bits - 1) << (t * block_bits))))
            for t in range(SIMHASH_BLOCKS)
        ]
    )
    keyed = sh.select(
        "id", "sh", F.posexplode(blocks).alias("block_idx", "block_val")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# -- connected components / keep-set ----------------------------------------

def _cc_driver(spark, e0: DataFrame) -> DataFrame:
    """Driver-side union-find over a SMALL materialized edge set (the
    under-threshold arm of connected_components): path-compressed
    find + union, then one pass mapping every node to the min id of
    its component. O(E α(E)) time, O(V) driver memory — bounded by
    the caller's driver_max_edges gate, never corpus-sized."""
    utype = e0.schema["u"].dataType
    pdf = e0.toPandas()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    # .tolist() → native Python scalars (createDataFrame rejects numpy)
    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    roots = {x: find(x) for x in parent}
    for x, r in roots.items():
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("id", utype, False), StructField("comp", utype, False)]
    )
    rows = [(x, comp_min[r]) for x, r in roots.items()]
    # r17 (guide §3.1): createDataFrame is RDD-backed with UNKNOWN size
    # stats (defaultSizeInBytes = Long.Max — and a localCheckpoint does
    # NOT help: LogicalRDD inherits the replaced plan's stats, which
    # are the same unknown; measured 1.1-1.2x SLOWER for the pure
    # checkpoint, recorded rejection), so every downstream join against
    # the corpus plans as a full SortMergeJoin — the 100 TB side
    # exchanged by id to meet a paired-docs-sized relation. This arm's
    # size IS known: len(rows) <= 2 x driver_max_edges (~4M labels
    # worst case, the same bounded envelope as the union-find collect
    # itself), so hint the broadcast explicitly — downstream keep/drop
    # joins build on the labels and the corpus never exchanges. The
    # distributed arm below stays unhinted (its label count is
    # unbounded).
    return F.broadcast(spark.createDataFrame(rows, schema))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """(id, component) for every id appearing in the pair list, where
    component = min id reachable through the near-dup relation — the
    step that turns candidate PAIRS into deduplicatable GROUPS.

    Algorithm: alternating large-star / small-star (the two-phase MR
    connected-components of Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — O(log² n) rounds worst case,
    a handful in practice, and the edge set CONTRACTS every round so
    later rounds get cheaper. One-hop min-label propagation is
    O(diameter) rounds (a 56-hop dup chain = 56 shuffles), and naive
    pointer-jumping stalls when intermediate labels are themselves
    unconverged; star operations don't.

    Each star operation is groupBy(node).min + an equi-join back to
    the edges — deliberately NOT collect_list of neighborhoods, so a
    hub with millions of neighbors is AQE-splittable shuffle traffic,
    never one in-memory array. Lineage is cut per round with
    localCheckpoint; convergence = the oriented edge set reaching a
    fixpoint (stars only), detected by count + hash-sum aggregates.

    At fixpoint every component is a star rooted at its min id; labels
    are the star edges plus each root mapped to itself.

    Hybrid execution (the AQE-broadcast-threshold pattern): the DEDUPED
    edge relation after pair generation + exact refiltering is tiny
    relative to the corpus at real duplicate rates — typically well
    under ``driver_max_edges`` even when the corpus is 100 TB — and the
    star loop's cost there is pure per-round job overhead (5-8 rounds x
    a shuffle + checkpoint + fixpoint probe each). So after the one
    mandatory materialization of the edge set, its exact count decides:
    at or under the threshold, the edges ship to the driver (bounded:
    2M edges ~ 32 MB Arrow) and a path-compressed union-find labels
    them in milliseconds; over it, the distributed star loop runs
    unchanged. Both paths emit identical (id, comp=min reachable id)
    labels — parity is unit-tested. ``driver_max_edges=0`` forces the
    distributed path.
    """
    # Oriented edges (big, small), self-loops dropped.
    e0 = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if driver_max_edges and e0.count() <= driver_max_edges:
        return _cc_driver(pairs.sparkSession, e0)
    # nodes derives from the checkpointed e0 and is consumed exactly
    # once (the final label join) — recomputing it there is one cheap
    # scan; checkpointing it would be a wasted materialization job.
    nodes = (
        e0.select(F.col("u").alias("id"))
        .unionByName(e0.select(F.col("v").alias("id")))
        .distinct()
    )
    edges = e0
    prev_sig = None
    for _ in range(max_iterations):
        # -- large-star: every neighbor LARGER than u connects to the
        # min of u's closed neighborhood.
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn")).alias("m")
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
        )
        # -- small-star: u and all its not-larger neighbors connect to
        # the min of the closed neighborhood. Input edges are oriented
        # (u > v), so the group holds exactly the small side.
        smins = large.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(smins.select(F.col("u"), F.col("mn").alias("v")))
        )
        # Lazy checkpoint: the sig aggregate below is the first action,
        # so ONE job both materializes/persists the round's edge set
        # (cutting lineage for the next round) and computes the
        # fixpoint signature — halves the Spark jobs per round vs an
        # eager checkpoint followed by a separate collect.
        edges = small.distinct().localCheckpoint(eager=False)
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    else:
        import warnings

        warnings.warn(
            f"connected_components hit max_iterations={max_iterations} before "
            "the star fixpoint; labels are an under-merged approximation",
            RuntimeWarning,
            stacklevel=2,
        )
    # stars: (child u, root v); roots and isolated nodes label
    # themselves. groupBy-min guards the labels' uniqueness even if
    # max_iterations cut the loop before the exact fixpoint.
    stars = edges.groupBy("u").agg(F.min("v").alias("_root"))
    return nodes.join(
        stars.withColumnRenamed("u", "id"), "id", "left"
    ).select("id", F.coalesce(F.col("_root"), F.col("id")).alias("comp"))


def near_dedup_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end near-dedup: given the corpus and a near-dup pair list
    (from MinHash/SimHash/Jaccard), keep one representative (min id)
    per connected component plus every unpaired document. This is the
    keep-set a training-data pipeline actually applies.

    ONE anti-join: the rows to DROP are exactly the paired docs that
    are not their component's representative — a relation bounded by
    the paired-doc count (tiny vs the corpus at real dup rates), so
    this is strictly cheaper than materializing the keep-set
    (corpus-sized) and semi-joining it back (3 joins before)."""
    comp = connected_components(pairs)
    drop = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    n_cells: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 1000,
    dim: int | None = None,
    centroids=None,
) -> DataFrame:
    """SemDeDup-shape semantic deduplication (Abbas et al. 2023): fit
    k-means cells over the embeddings (distributed Lloyd), generate
    candidate pairs only WITHIN each cell, exact-cosine refilter at the
    threshold, connected components, keep one representative (min id)
    per component plus all unpaired rows.

    Pass ``centroids`` (list of unit row vectors) to skip the Lloyd fit
    and partition against a fixed cell model — the production shape
    when the model is fit once and reused, and the hash-checkable shape
    for the driver oracle (the same literal centroids are embedded in
    the SQL side).

    The declared approximation (inherent to the SemDeDup design):
    near-dups assigned to different cells are not compared — at real
    dedup thresholds (cos >= 0.95) duplicates land in the same cell
    because the cell radius is far wider than the duplicate radius.

    Scale shape: pair count is bounded by cell occupancy (bucket_pairs
    keeps over-cap cells linear via chain pairs), never n²; the Lloyd
    fit moves only k x dim floats to the driver per iteration. Pass
    ``dim`` when known to avoid a driver-side first() before the plan.
    """
    from balboa_spark.operators import similarity

    if centroids is not None:
        cents = centroids
    else:
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        cents = similarity.ivf_fit(
            df, dim=dim, k=n_cells, iters=iters, vec_col=vec_col, id_col=id_col
        )
    assigned = df.select(
        F.col(id_col).alias("id"),
        similarity.ivf_assign_col(cents, vec_col).alias("_cell"),
    ).localCheckpoint(eager=True)
    cand = bucket_pairs(assigned, ["_cell"], "id", max_bucket)
    pairs = similarity.pairs_cosine_refilter(df, cand, threshold, vec_col, id_col)
    return near_dedup_keep(df, pairs, id_col=id_col)


def near_dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """near_dedup_keep, but the representative kept per connected
    component is the member with the HIGHEST ``score_col`` (ties break
    to the lowest id) rather than the lowest id — the form a quality-
    aware pipeline wants: among near-duplicates, keep the longest /
    highest-quality copy.

    Same scale shape as near_dedup_keep: components via alternating
    star contraction, then the representative per component via
    ``groupBy(comp).agg(min(struct(-score, id)))`` — map-side
    combinable, so a mass-duplicate component (by definition the
    hottest key in the relation) reduces to one row per map task
    before the exchange — and one anti-join dropping the
    non-representatives. This replaces the r12 row_number window,
    whose single unsplittable partition funneled the entire hottest
    component into one task (the same class the exact-dedup and
    ngram-Jaccard rewrites eliminated); the join back on comp is
    AQE-skew-splittable, a window is not. Negating the score inside
    a min(struct) keeps the exact (score desc, id asc) tie order.
    """
    comp = connected_components(pairs)
    # r17: scored is |comp|-sized (inner join keeps paired docs only)
    # but its lineage holds a full corpus scan; it feeds BOTH the best-
    # aggregate and the drop-join below, so without a barrier the plan
    # scans the corpus twice (20 parquet scans in the r17 before-plan
    # of dedup_keep_longest, 4 after). One small materialization job
    # makes both consumers read the cached rows — at 100 TB this
    # removes a full corpus scan per consumer.
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("_score")), "id"
    ).localCheckpoint(eager=True)
    # the checkpoint hides comp's plan (and any broadcast hint in it)
    # from the planner, and RDD-backed relations carry unknown-huge
    # stats — but the exact row count is free off the cache, so gate
    # explicit hints on it: under the gate the best-join builds on the
    # component relation and the final anti-join builds on the drop
    # set, and the corpus (the 100 TB side) never exchanges.
    small = scored.count() <= int(
        os.environ.get("BALBOA_DEDUP_BROADCAST_MAX_LABELS", "4000000")
    )

    def _h(rel: DataFrame) -> DataFrame:
        return F.broadcast(rel) if small else rel

    best = (
        scored.select(
            "comp",
            F.struct(
                (-F.col("_score")).alias("_ns"), F.col("id").alias("id")
            ).alias("_s"),
        )
        .groupBy("comp")
        .agg(F.min("_s").alias("_s"))
        .select("comp", F.col("_s.id").alias("_keep"))
    )
    drop = (
        scored.join(_h(best), "comp")
        .filter(F.col("id") != F.col("_keep"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(_h(drop), id_col, "left_anti")


def embedding_near_dedup(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dedup: pairs at or above the cosine
    threshold -> connected components -> one representative (min id)
    per component + every unpaired vector.

    ``candidates=None`` generates pairs exactly (cosine_pairs cross
    join — the oracle-checkable semantics, fine up to ~1e5 vectors).
    At 100 TB pass ``similarity.lsh_candidate_pairs(df, dim)``: bucket
    collisions replace the cross join and the exact cosine refilter
    restores precision; recall is ~1 for real near-dup thresholds
    (cos >= 0.97 misses a pair w.p. ~7e-6 — see lsh_candidate_pairs)."""
    from balboa_spark.operators import similarity

    if candidates is None:
        pairs = similarity.cosine_pairs(df, threshold, vec_col, id_col)
    else:
        pairs = similarity.pairs_cosine_refilter(
            df, candidates, threshold, vec_col, id_col
        )
    return near_dedup_keep(df, pairs, id_col=id_col)


# -- n-gram Jaccard ---------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Exact Jaccard over distinct word k-shingle sets, computed via an
    inverted-index self-join (pairs sharing >= 1 shingle), then
    intersection/union from group counts.

    ``max_doc_freq`` drops stop-shingles appearing in more than that
    many docs — at 100 TB this caps the worst-case fan-out of the
    self-join (a shingle in 1M docs would otherwise yield 10^12 pairs);
    dropped shingles can only lower recall for pairs already below the
    threshold when corpus-frequent boilerplate is excluded.

    Plan shape (zero windows, r13 rewrite): document frequency comes
    from ``groupBy(s).count()`` — map-side combinable, so the hottest
    shingle (by definition the corpus's most frequent string) reduces
    to one row per map task instead of funneling every (id, s) row
    into one unsplittable window partition — joined back as a
    left-semi keep-filter on s (an equi-join AQE can skew-split). Set
    sizes are a per-doc ``groupBy(id).count()`` joined to the pair
    relation at the end, mirroring the DuckDB oracle's shape. No
    shingle-vocabulary broadcast (corpus-cardinality — round-1
    hazard): both count relations stay distributed.
    """
    sh = (
        df.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk")
        )
        .select(
            "id",
            F.explode(F.array_distinct(_shingles(F.col("_tk"), k))).alias("s"),
        )
        .distinct()
    )
    # sh feeds three consumers (DF cap, sizes, self-join) — pin it so
    # the shingle explode runs once.
    sh = sh.localCheckpoint(eager=False)
    keep_s = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") <= max_doc_freq)
        .select("s")
    )
    fs = sh.join(keep_s, ["s"], "left_semi").localCheckpoint(eager=False)
    sizes = fs.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = fs.alias("a"), fs.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        inter
        .join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), ["id_a"])
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), ["id_b"])
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("id_a", "id_b", "jaccard")


def minhash_estimate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    k: int = 3,
    max_bucket: int = 1000,
    threshold: float = 0.0,
) -> DataFrame:
    """LSH candidate pairs WITH the signature-based Jaccard estimate:
    est_jaccard = fraction of equal MinHash components. This is the
    100 TB verification mode — at corpus scale you do not re-shingle
    and intersect candidate pairs exactly (ngram_jaccard_pairs does,
    and is the oracle); you score them from the signatures you already
    computed, which is O(num_hashes) per pair and unbiased
    (E[est] = J by the MinHash property).

    Output: (id_a, id_b, est_jaccard) for candidates with
    est_jaccard >= threshold, est rounded to 6.

    Plan shape: ONE signature materialization (the banded relation and
    the signature relation share the localCheckpointed scan), the
    hub-capped band self-join generates candidates, and the signature
    join back is two equi-joins against a (id, sig) relation — no
    re-tokenization, no shingle-set shuffle.
    """
    # stage the shingle array BEFORE assembling the 16-element
    # signature: built as one Column expression, the signature references
    # the shingle subtree once per hash (tokenize+shingle re-ran 16x
    # per row — measured 52s vs 3.5s for the graded query at sf0.1,
    # r16); aliased in a projection, CollapseProject keeps it staged
    # and each array_min reads the one evaluated array (the
    # minhash_bands round-1 lesson, applied to the estimate arm)
    def seeded(h: int):
        prefix = F.lit(f"h{h}|")
        return lambda s: F.md5(F.concat(prefix, s))

    staged = (
        df.filter(F.size(tokens(F.col(text_col))) >= k)
        .select(
            F.col(id_col).alias("id"),
            _shingles(tokens(F.col(text_col)), k).alias("_sh"),
        )
        .select(
            "id",
            F.array(
                *[
                    F.array_min(F.transform(F.col("_sh"), seeded(h)))
                    for h in range(num_hashes)
                ]
            ).alias("_sig"),
        )
        .localCheckpoint(eager=True)
    )
    # banding via F.get over the CHECKPOINTED signature is safe — the
    # round-1 subtree-duplication hazard only applies before
    # materialization (each get here reads the stored array)
    rpb = num_hashes // num_bands
    band_digests = [
        F.md5(
            F.concat_ws("|", *[F.get("_sig", b * rpb + r) for r in range(rpb)])
        )
        for b in range(num_bands)
    ]
    bands = staged.select(
        "id", F.posexplode(F.array(*band_digests)).alias("band_idx", "band_hash")
    )
    cand = bucket_pairs(bands, ["band_idx", "band_hash"], "id", max_bucket)
    est = F.round(
        F.aggregate(
            F.zip_with("_sa", "_sb", lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / num_hashes,
        6,
    )
    return (
        cand.join(staged.select(F.col("id").alias("id_a"), F.col("_sig").alias("_sa")), "id_a")
        .join(staged.select(F.col("id").alias("id_b"), F.col("_sig").alias("_sb")), "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
