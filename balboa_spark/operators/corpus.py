"""Corpus-preparation operators for large-scale training-data
pipelines: repetition/quality signals, deterministic splits, vocabulary
statistics, and benchmark-contamination detection.

These extend the engine beyond the reference's own surface (SURVEY §7
step 7 — the scale-path operator family alongside dedup/similarity/
text). Everything is built-in Column expressions — JVM-side, no Python
UDFs — and each operator has a DuckDB oracle twin in
entry_queries_docs.py.

Scale notes (100 TB):
- repetition_signals / hash_split are pure projections: no shuffle, no
  per-doc state beyond the row. The n-gram mode computation is O(m²)
  in the per-document token count m — bounded per row, embarrassingly
  parallel, never a cross-document join.
- vocab_topk is one shuffle with map-side partial aggregation followed
  by a TakeOrdered top-k (no global sort materialized).
- contamination_ngrams broadcasts only the BENCHMARK side — an eval
  set is bounded by construction (thousands of docs), never corpus-
  cardinality — and shuffles the corpus once on the n-gram key.
- redact_pii / hash_sample are pure projections (no shuffle).
- trigram_familiarity makes two passes over the corpus (train the
  frequency table, then score against it — the CCNet shape); the
  frequency table is corpus-derived, so the join carries no broadcast
  hint — AQE broadcasts it when it is actually small.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from balboa_spark.operators.text import _shingles, token_count, tokens

# Gopher-style keep thresholds (Rae et al. 2021, table A1 shape —
# values tuned to the synthetic corpus so both classes occur; see the
# oracle twin which encodes the same constants).
MIN_TOKENS = 30
MAX_DUP_TOKEN_FRAC = 0.6
MAX_TOP_2GRAM_FRAC = 0.1

#: 80/10/10 split thresholds on the 256-bucket md5 prefix:
#: bucket < 204 -> train, < 230 -> val, else test. Hex-string compare
#: is enough because hex digits sort numerically.
SPLIT_SALT = "split"
TRAIN_HEX, VAL_HEX = "cc", "e6"  # 204/256 = 79.7 %, 230/256 = 89.8 %


def _mode_count(grams: Column) -> Column:
    """Multiplicity of the most frequent array element: sort, then one
    aggregate pass over equal-runs — O(m log m) per row, and ``grams``
    is referenced exactly ONCE.

    Both properties matter at scale: higher-order functions run
    interpreted (no codegen common-subexpression elimination), so when
    a downstream ``filter(keep)`` pushes the predicate through the
    projection and inlines this subtree, a multi-referenced or O(m²)
    form multiplies the whole tokenize→shingle cost (measured 8x on the
    composed pipeline at sf0.1)."""
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(F.array_sort(grams), acc0, step, lambda acc: acc["best"])


def _mode_frac(grams: Column, n_grams: Column) -> Column:
    """count(most frequent element) / n_grams. ``n_grams`` must equal
    size(grams) but be derived WITHOUT referencing the gram array (e.g.
    from the token count), keeping the array subtree single-use."""
    return F.when(
        n_grams > 0,
        F.round(_mode_count(grams).cast("double") / n_grams.cast("double"), 4),
    ).otherwise(F.lit(0.0))


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Gopher-style repetition/quality signals per document:

    - n_tokens            whitespace token count
    - dup_token_frac      1 - distinct_tokens / n_tokens
    - top_2gram_frac      count(mode 2-gram) / n_2grams
    - top_3gram_frac      count(mode 3-gram) / n_3grams
    - symbol_token_ratio  (#, ellipsis) occurrences / n_tokens

    Staged selects keep each array subtree computed once (Catalyst
    re-inlines multi-referenced aliases only when cheap; the token
    arrays are not, so the projection boundaries hold them staged).
    The gram DENOMINATORS are derived from the token count, never from
    size(_gk), so each gram array stays single-use — see _mode_count
    for why that survives predicate pushdown.
    """
    t = F.col(text_col)
    extra = [c for c in passthrough if c not in (id_col,)]
    staged = df.select(
        F.col(id_col),
        *extra,
        tokens(t).alias("_tk"),
        F.regexp_count(t, F.lit(r"#|\.\.\.|…")).alias("_sym"),
    ).select(
        id_col,
        *extra,
        "_sym",
        F.size(F.col("_tk")).alias("_n"),
        F.size(F.array_distinct(F.col("_tk"))).alias("_nd"),
        _shingles(F.col("_tk"), 2).alias("_g2"),
        _shingles(F.col("_tk"), 3).alias("_g3"),
    )
    n = F.col("_n")
    return staged.select(
        F.col(id_col),
        *extra,
        n.alias("n_tokens"),
        F.round(
            1.0 - F.col("_nd").cast("double") / F.greatest(n, F.lit(1)),
            4,
        ).alias("dup_token_frac"),
        _mode_frac(F.col("_g2"), F.greatest(n - 1, F.lit(0))).alias("top_2gram_frac"),
        _mode_frac(F.col("_g3"), F.greatest(n - 2, F.lit(0))).alias("top_3gram_frac"),
        F.round(F.col("_sym").cast("double") / F.greatest(n, F.lit(1)), 4).alias(
            "symbol_token_ratio"
        ),
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """repetition_signals + a ``keep`` verdict column (the composed
    quality gate a pipeline would filter on).

    ``passthrough`` carries extra input columns (e.g. the text itself)
    into the output, so a pipeline can gate on quality WITHOUT joining
    the verdict back against the corpus — one pass instead of a
    corpus-cardinality self-join."""
    sig = repetition_signals(df, text_col, id_col, passthrough)
    return sig.withColumn(
        "keep",
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("dup_token_frac") <= MAX_DUP_TOKEN_FRAC)
        & (F.col("top_2gram_frac") <= MAX_TOP_2GRAM_FRAC),
    )


def _split_assign(key: Column, salt: str) -> Column:
    """The ONE definition of the md5 split bucketing: first two hex
    digits of md5(key:salt) give 256 uniform buckets; comparing them
    as strings is exact because hex digits sort numerically."""
    hx = F.substring(F.md5(F.concat(key, F.lit(":" + salt))), 1, 2)
    return (
        F.when(hx < TRAIN_HEX, "train")
        .when(hx < VAL_HEX, "val")
        .otherwise("test")
    )


def hash_split(
    df: DataFrame, id_col: str = "doc_id", salt: str = SPLIT_SALT
) -> DataFrame:
    """Deterministic, reshuffle-stable train/val/test assignment.

    The split key is md5(id:salt) — stable under repartitioning,
    re-ingestion, and cluster size, unlike randomSplit. Pure
    projection: no shuffle, no RNG state.
    """
    return df.withColumn(
        "split", _split_assign(F.col(id_col).cast("string"), salt)
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str | None = None,
    groups: DataFrame | None = None,
    salt: str = SPLIT_SALT,
) -> DataFrame:
    """Group-aware train/val/test assignment: every member of a group
    lands on the SAME side, so duplicates or near-duplicates can never
    straddle train and test (the classic eval-leakage failure that
    per-document ``hash_split`` cannot prevent).

    The group key is either an existing column (``group_col`` — e.g. a
    registered domain, an exact-content hash) or an external mapping
    (``groups``: ``(id_col, group_col)`` rows, e.g. the component ids
    from ``dedup.connected_components``; documents absent from the
    mapping fall back to their own id, i.e. singleton groups). The
    split is then md5(group:salt) bucketed exactly like ``hash_split``
    — deterministic, reshuffle-stable, no RNG.

    Scale: with ``group_col`` this is a pure projection (no shuffle).
    With ``groups`` it is one left equi-join on the id; the mapping is
    near-dup-component-sized, which is corpus-order in the worst case,
    so no broadcast hint — AQE picks the strategy.

    Contract: ``groups`` must hold at most ONE row per id (connected
    components guarantees this); duplicate mapping rows would fan out
    the joined documents. Deliberately not checked at runtime — the
    check would force an extra pass over the mapping per call.
    """
    if (group_col is None) == (groups is None):
        raise ValueError("pass exactly one of group_col / groups")
    if groups is not None:
        if "__grp" in df.columns:
            raise ValueError(
                "df already has a __grp column — rename it before splitting"
            )
        gcols = [c for c in groups.columns if c != id_col]
        if len(gcols) != 1:
            raise ValueError(
                f"groups must be ({id_col}, <group>) rows, got {groups.columns}"
            )
        staged = df.join(
            groups.withColumnRenamed(gcols[0], "__grp"), id_col, "left"
        )
        key = F.coalesce(F.col("__grp").cast("string"), F.col(id_col).cast("string"))
    else:
        staged = df
        # NULL group (e.g. a doc with no registered domain) falls back
        # to the doc id — the same singleton semantics as the mapping
        # arm; without the coalesce every NULL-group row would hash
        # NULL and silently land in otherwise("test")
        key = F.coalesce(
            F.col(group_col).cast("string"), F.col(id_col).cast("string")
        )
    out = staged.withColumn("split", _split_assign(key, salt))
    return out.drop("__grp") if groups is not None else out


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by total occurrences
    (ties broken by token asc), with document frequency.

    One explode + one groupBy shuffle (map-side combined); the top-k
    is a TakeOrdered over the aggregated (small) relation, not a full
    sort of the corpus.
    """
    tok = df.select(
        F.col("doc_id"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(k)


def chunk_tokens(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping fixed-token-window chunking (context-window prep:
    split each document into ``window``-token chunks every ``stride``
    tokens, the last chunk covering the tail).

    Emits (id, chunk_id, n_chunk_tokens, chunk_text). Pure projection
    + explode — per-document bounded, no shuffle, no cross-document
    state; zero-token documents produce no chunks. Chunk count is
    ``ceil(max(n - window, 0) / stride) + 1`` so every token is
    covered exactly once by a chunk start before position n.
    """
    if not (0 < stride <= window):
        raise ValueError("require 0 < stride <= window")
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    n = F.size(F.col("_tk"))
    extra = F.greatest(n - window, F.lit(0))
    n_chunks = F.floor((extra + (stride - 1)) / stride).cast("int") + 1
    exploded = staged.select(
        F.col(id_col),
        F.col("_tk"),
        F.explode(
            F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("chunk_id"),
    )
    off = F.col("chunk_id") * stride
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.least(F.lit(window), F.size(F.col("_tk")) - off).alias("n_chunk_tokens"),
        F.concat_ws(" ", F.slice(F.col("_tk"), off + 1, window)).alias("chunk_text"),
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 3,
    max_doc_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document distinctive keywords: the k tokens ranking highest
    by (term frequency desc, document frequency asc, token asc), among
    tokens appearing in at most ``max_doc_frac`` of documents (stopword
    removal by DF, the inverted-index classic).

    The ranking is INTEGER-ONLY (tf, df, token) — deliberately not the
    float tf*log(N/df) score, so ordering is exact and hash-stable
    across engines while selecting the same "frequent here, rare
    elsewhere" tokens.

    Scale shape: one explode + groupBy(doc, token) shuffle (map-side
    combined), one groupBy(token) DF table joined WITHOUT a broadcast
    hint (vocabulary is corpus-derived — AQE broadcasts it when truly
    small), one per-document window for the top-k. No corpus-
    cardinality state anywhere.
    """
    n_docs = df.count()
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("df"), F.asc("token")
    )
    return (
        tf.join(dfreq, "token")
        .filter(F.col("df") <= int(max_doc_frac * n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "token", "tf", "df")
    )


def _global_prefix_sum(counts: DataFrame, id_col: str) -> DataFrame:
    """(id, _start) where _start = sum of ``_n`` over all rows with a
    smaller id — an EXACT global exclusive prefix sum with no
    single-partition window.

    Two-phase formulation: range-partition by id so partition order ==
    id order, cumsum within each bucket (parallel window), then add
    each bucket's base = total of all earlier buckets. Bases come from
    a triangular self-join over the per-bucket totals; that relation
    has one row per bucket (bounded by the partition count, i.e.
    cluster-sized), so the join is broadcast-trivial and the result is
    identical no matter where the range boundaries fall.

    The bucketed relation is MATERIALIZED (localCheckpoint) before the
    local/totals branches read it: both derive ``_b`` from
    spark_partition_id, and without materialization each branch plans
    its own range exchange whose RangePartitioner samples
    independently — if exchange-reuse dedup is disabled or the
    subtrees diverge, boundaries could differ between branches and
    silently corrupt offsets. The relation is two integers per
    document, so the checkpoint is narrow at any scale.
    """
    spark = counts.sparkSession
    n_buckets = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    c = (
        counts.repartitionByRange(n_buckets, F.col(id_col))
        .withColumn("_b", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wl = (
        Window.partitionBy("_b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = c.select(
        F.col(id_col), "_b", F.coalesce(F.sum("_n").over(wl), F.lit(0)).alias("_loc")
    )
    totals = c.groupBy("_b").agg(F.sum("_n").alias("_bt"))
    bases = (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b._b") < F.col("a._b"), "left")
        .groupBy(F.col("a._b").alias("_b"))
        .agg(F.coalesce(F.sum("b._bt"), F.lit(0)).alias("_base"))
    )
    return local.join(F.broadcast(bases), "_b").select(
        F.col(id_col), (F.col("_loc") + F.col("_base")).alias("_start")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str | None = None,
    with_boundaries: bool = False,
    tokens_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (pretraining batch prep): the
    corpus token stream, in ``id_col`` order, cut into fixed
    ``seq_len``-token sequences — documents straddle sequence
    boundaries, the final sequence may be short, and the packing is
    deterministic (reshuffle-stable).

    Emits (seq_id, n_seq_tokens, seq_text), ordered semantics:
    sequence s holds global token positions [s*seq_len, (s+1)*seq_len).

    Scale shape: the global document-start offsets are a DISTRIBUTED
    two-phase prefix sum over the NARROW (doc_id, n_tokens) relation —
    two integers per document, never the text: range-partition by id,
    per-bucket windowed cumsum (full parallelism), then each bucket's
    base offset from a triangular join over the per-bucket totals
    (bucket-count rows — cluster-sized, not data-sized). No
    single-partition window appears anywhere in the plan. The token
    explode, offset join, and per-sequence regroup are all
    key-partitioned shuffles. ``shard_col`` additionally makes packing
    independent per shard (seq_id = (shard, local_seq)), trading
    global concatenation order for shard-local order where even the
    narrow relation's extra shuffle matters.

    ``tokens_col``: optional pre-tokenized array column (exactly
    ``text.tokens(text_col)``) — a caller that already staged the
    token array (pretrain_pipeline, r17) skips this kernel's tokenize
    pass; the packing is identical because the same tokenizer produced
    the column.
    """
    shard_keys = [shard_col] if shard_col is not None else []
    staged_tk = (
        F.col(tokens_col) if tokens_col is not None
        else tokens(F.col(text_col))
    )
    staged = df.select(
        F.col(id_col), *shard_keys, staged_tk.alias("_tk")
    ).filter(F.size("_tk") > 0)
    counts = staged.select(F.col(id_col), *shard_keys, F.size("_tk").alias("_n"))
    if shard_col is not None:
        w = (
            Window.partitionBy(*shard_keys)
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = counts.select(
            F.col(id_col), F.coalesce(F.sum("_n").over(w), F.lit(0)).alias("_start")
        )
    else:
        offs = _global_prefix_sum(counts, id_col)
    # FRAGMENT materialization (r12): a document with global token span
    # [_start, _start+_n) overlaps sequences floor(_start/L) ..
    # floor((_start+_n-1)/L); emit ONE row per (doc, overlapped seq)
    # carrying the array-SLICED text fragment — never one row per
    # token. Shuffle volume drops from O(corpus tokens) rows to
    # O(docs + tokens/seq_len) rows (~seq_len x fewer), each row a
    # string fragment instead of a token; the per-seq collect_list is
    # bounded by seq_len fragments (every doc contributes >= 1 token).
    # Output is byte-identical to the former per-token formulation:
    # fragments sort by their in-sequence offset and join with the
    # same single-space separator the tokens did.
    L = seq_len
    frag = (
        staged.join(offs, id_col)
        .select(
            *shard_keys,
            "_start",
            "_tk",
            F.size("_tk").alias("_n"),
        )
        .select(
            *shard_keys,
            "_start",
            "_tk",
            "_n",
            F.explode(
                F.sequence(
                    F.floor(F.col("_start") / L),
                    F.floor((F.col("_start") + F.col("_n") - 1) / L),
                )
            ).alias("seq_id"),
        )
        .select(
            *shard_keys,
            "seq_id",
            "_start",
            "_tk",
            # this doc's token span inside seq_id, in global positions
            F.greatest(F.col("seq_id") * L, F.col("_start")).alias("_lo"),
            F.least(
                (F.col("seq_id") + 1) * L, F.col("_start") + F.col("_n")
            ).alias("_hi"),
        )
        .select(
            *shard_keys,
            "seq_id",
            (F.col("_lo") % L).alias("_fpos"),
            (F.col("_hi") - F.col("_lo")).cast("int").alias("_fn"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_tk"),
                    (F.col("_lo") - F.col("_start") + 1).cast("int"),
                    (F.col("_hi") - F.col("_lo")).cast("int"),
                ),
            ).alias("_ftext"),
            # the doc's head lives in its FIRST fragment only
            F.when(
                F.col("_lo") == F.col("_start"), F.col("_start") % L
            ).cast("int").alias("_head"),
        )
    )
    aggs = [
        F.sum("_fn").cast("long").alias("n_seq_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_fpos", "_ftext"))),
                lambda x: x["_ftext"],
            ),
        ).alias("seq_text"),
    ]
    if with_boundaries:
        # in-sequence offsets where a NEW document begins — the
        # attention-mask reset points a packed-training loader needs
        # (sequence position 0 is a boundary only when it IS a
        # document head; continuation from the previous sequence is
        # not a reset). Sorted, per-sequence bounded; collect_list
        # drops the non-head fragments' NULLs.
        aggs.append(
            F.array_sort(F.collect_list(F.col("_head"))).alias("doc_starts")
        )
    return frag.groupBy(*shard_keys, "seq_id").agg(*aggs)


def pack_bestfit(
    df: DataFrame,
    seq_len: int = 128,
    num_groups: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Truncation-free sequence packing: first-fit-decreasing bin
    packing of whole documents into ``seq_len``-capacity sequences —
    the alternative to :func:`pack_sequences`' concat-and-chunk, which
    splits documents across sequence boundaries (shown to hurt
    pretraining: Ding et al. 2024, "Fewer Truncations Improve
    Language Modeling"). Documents longer than ``seq_len`` are first
    cut into <=seq_len pieces (the unavoidable truncations); every
    piece then lands in exactly one bin, never split.

    Output: (group, bin_id, n_pieces, fill_tokens, piece_ids,
    seq_text) — one row per packed sequence; padding waste per bin is
    seq_len - fill_tokens.

    Scale story: global FFD is inherently sequential, so pieces are
    hash-assigned to ``num_groups`` independent packing groups
    (deterministic: md5(doc_id, chunk) — reshuffle-stable) and FFD
    runs per group inside applyInPandas — one shuffle on the group
    key, O(m log m) per group, groups sized by num_groups which the
    caller scales with the corpus (pieces_per_group ~ total_pieces /
    num_groups). Waste stays near global-FFD levels because each
    group still sees a representative length mixture (hash
    assignment), while wall-clock is fully parallel. The bin loop
    itself is O(m * bins) worst case per group — bound
    pieces-per-group accordingly."""
    if seq_len < 1 or num_groups < 1:
        raise ValueError("seq_len and num_groups must be >= 1")
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk")).filter(
        F.size("_tk") > 0
    )
    n = F.size("_tk")
    n_chunks = F.ceil(n / seq_len).cast("int")
    pieces = staged.select(
        F.col(id_col),
        F.size("_tk").alias("_n"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("_tk"), i * seq_len + 1, seq_len)),
            )
        ).alias("chunk", "piece"),
    ).select(
        F.col(id_col),
        "chunk",
        "piece",
        # piece length is ARITHMETIC (full chunks are seq_len, the tail
        # is the remainder) — re-splitting the joined piece string to
        # count it would be a second regex pass over all corpus text
        F.least(
            F.lit(seq_len), F.col("_n") - F.col("chunk") * seq_len
        ).cast("int").alias("_len"),
        (
            F.conv(F.substring(F.md5(F.concat_ws("\x1f", F.col(id_col), F.col("chunk"))), 1, 6), 16, 10)
            .cast("long") % num_groups
        ).alias("group"),
    )

    out_schema = (
        "group int, bin_id int, n_pieces int, fill_tokens int, "
        "piece_ids string, seq_text string"
    )

    import pandas as pd

    id_name = df.select(id_col).columns[0]

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = int(pdf["group"].iloc[0])
        # deterministic FFD: lengths desc, ties by (id, chunk)
        order = pdf.sort_values(
            ["_len", id_name, "chunk"], ascending=[False, True, True]
        )
        bins: list[list[int]] = []  # positional indices into `order`
        space: list[int] = []
        lens = order["_len"].tolist()
        for j, ln in enumerate(lens):
            placed = False
            for bi in range(len(bins)):
                if space[bi] >= ln:
                    bins[bi].append(j)
                    space[bi] -= ln
                    placed = True
                    break
            if not placed:
                bins.append([j])
                space.append(seq_len - ln)
        ids = order[id_name].tolist()
        chunks = order["chunk"].tolist()
        texts = order["piece"].tolist()
        rows = []
        for bi, members in enumerate(bins):
            members = sorted(members, key=lambda j: (ids[j], chunks[j]))
            rows.append(
                (
                    grp,
                    bi,
                    len(members),
                    int(sum(lens[j] for j in members)),
                    ",".join(f"{ids[j]}:{chunks[j]}" for j in members),
                    " ".join(texts[j] for j in members),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "group", "bin_id", "n_pieces", "fill_tokens",
                "piece_ids", "seq_text",
            ],
        )

    return pieces.groupBy("group").applyInPandas(pack, out_schema)


#: md5-uniform width for weighted sampling: 12 hex digits = 48 bits,
#: plenty of separation for the ln() key ordering
_WS_HEX = 12
#: sampling keys round to 9 SIGNIFICANT digits before ranking so the
#: order is identical across engines (ln() may differ in the last ULP
#: between libm implementations). Significant-digit, not absolute:
#: with large weights ln(u)/w collapses toward 0 and an absolute
#: rounding would mass-tie the keys, biasing the 'weighted' draw to
#: low ids; relative rounding keeps full resolution at every scale
_WS_SIG = 9


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight: Column,
    id_col: str = "doc_id",
    strata: Sequence[str] = (),
    salt: str = "ws1",
) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement, deterministic —
    the Efraimidis-Spirakis A-ES scheme with md5-derived uniforms:
    each row gets key = ln(u) / w (u uniform from the row's id hash,
    w = its weight) and the k LARGEST keys win; inclusion probability
    is proportional to weight, and the draw is a pure function of
    (id, salt) — reproducible across runs, partitionings, and engines
    (unlike rand()-based sampling, and exactly SQL-replayable).

    Use for quality-weighted corpus subsampling: pass the quality
    score as the weight and high-quality documents are favored
    without ever hard-thresholding. Rows with weight <= 0 are
    excluded (they cannot be sampled under A-ES).

    With ``strata`` set, k rows are drawn per stratum (the
    stratified_k pattern: per-stratum rank window — bounded by the
    stratum, no global sort; without strata a single TakeOrdered(k)
    serves the global draw)."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("\x1f", F.lit(salt), F.col(id_col))),
                1,
                _WS_HEX,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / float(16**_WS_HEX + 2)  # u in (0,1) strictly: ln() stays finite
    raw = F.log(u) / weight  # strictly negative
    # round to _WS_SIG significant digits (see _WS_SIG note)
    mag = F.floor(F.log10(F.abs(raw)))
    scale = F.pow(F.lit(10.0), F.lit(_WS_SIG - 1) - mag)
    key = F.round(raw * scale, 0) / scale
    staged = df.filter(weight > 0).withColumn("_wkey", key)
    if strata:
        w = Window.partitionBy(*strata).orderBy(
            F.col("_wkey").desc(), F.col(id_col)
        )
        return (
            staged.withColumn("_wrn", F.row_number().over(w))
            .filter(F.col("_wrn") <= k)
            .drop("_wkey", "_wrn")
        )
    return (
        staged.orderBy(F.col("_wkey").desc(), F.col(id_col))
        .limit(k)
        .drop("_wkey")
    )


def domain_profile(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    psl: bool = True,
) -> DataFrame:
    """Per-registrable-domain corpus rollup — the unit of crawl
    curation (C4 filters whole domains; per-domain caps stop one site
    from dominating the mixture): documents, token mass, and mean
    doc length per domain. ONE map-side-combined groupBy on the
    domain key, which is pure codegen either way, so it costs nothing
    extra at scan time. ``psl=True`` (default) uses the real
    Public-Suffix-List algorithm with the FULL pinned published list
    (r10; functions/psl.psl_staged_domain — wildcards, exceptions,
    longest match over all ~9.5k rules, staged projections so the
    rule count costs nothing) so ``.co.uk``-style hosts — and every
    registry/hoster outside the old 280-rule snapshot — group by the
    true registrable name; ``psl=False`` keeps the small-list
    heuristic (functions/url.registered_domain)."""
    if psl:
        from balboa_spark.functions.psl import psl_staged_domain

        keyed = psl_staged_domain(
            df.select(
                F.col(url_col), token_count(F.col(text_col)).alias("_nt")
            ),
            url_col,
            out_col="domain",
        ).select("domain", "_nt")
    else:
        from balboa_spark.functions.url import registered_domain as _dom

        keyed = df.select(
            _dom(F.col(url_col)).alias("domain"),
            token_count(F.col(text_col)).alias("_nt"),
        )

    return (
        keyed.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.floor(F.sum("_nt") / F.count(F.lit(1))).alias("mean_tokens"),
        )
    )


#: PII patterns — literal text shared with the DuckDB oracles (kept to
#: the Java-regex ∩ RE2 common dialect: no backrefs, no lookaround).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+?\d[\d -]{7,}\d"

#: (count column, pattern, replacement) — applied in this order; the
#: counts are taken on the ORIGINAL text, so a span consumed by an
#: earlier replacement still counts under later patterns.
PII_RULES = (
    ("n_emails", PII_EMAIL, "<EMAIL>"),
    ("n_ips", PII_IPV4, "<IP>"),
    ("n_phones", PII_PHONE, "<PHONE>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrub for training text: mask emails, IPv4s, and phone-like
    digit runs, and report per-kind match counts.

    One projection, three chained ``regexp_replace`` — JVM-side
    codegen, no shuffle, no UDF. Counts are computed on the input text
    (before any masking) so the columns are independent signals.
    """
    redacted = F.col(text_col)
    for _, pat, repl in PII_RULES:
        redacted = F.regexp_replace(redacted, pat, repl)
    return df.select(
        F.col(id_col),
        redacted.alias("text_redacted"),
        *[
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(name)
            for name, pat, _ in PII_RULES
        ],
    )


def sample_threshold_hex(frac: float) -> str:
    """The threshold under which md5-prefix sampling keeps a row
    (``h8 < threshold`` with h8 = first 8 hex digits of md5, uniform on
    [0, 16^8)).

    frac values whose threshold would reach 16^8 (frac=1.0, or close
    enough that round() lands there) return the sentinel ``"g"`` —
    lexicographically above every hex string, so ``h8 < 'g'`` keeps
    every row. Returning format(16**8, '08x') = '100000000' here would
    be a silent keep-NOTHING bug: 9 chars, and 'ffffffff' < '100000000'
    is False under string comparison. The sentinel comparison behaves
    identically in Spark and DuckDB (both compare strings bytewise), so
    oracle SQL built from this helper stays exact.
    """
    frac = min(max(frac, 0.0), 1.0)
    v = round(frac * 16**8)
    if v >= 16**8:
        return "g"
    return format(v, "08x")


def hash_sample(
    df: DataFrame,
    fracs: dict[str, float],
    default_frac: float = 0.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic stratified Bernoulli sample: keep a row iff the
    first 8 hex digits of md5(id:salt) fall under the stratum's
    threshold. Unlike ``DataFrame.sample`` this is reproducible across
    runs, repartitioning, and cluster size — the property a training-
    data pipeline needs so re-runs produce the same corpus. Pure
    projection + filter: no shuffle, no RNG state.
    """
    h8 = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8
    )
    thr: Column = F.lit(sample_threshold_hex(default_frac))
    for stratum, frac in sorted(fracs.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, F.lit(sample_threshold_hex(frac))
        ).otherwise(thr)
    return df.filter(h8 < thr)


def _salted_rank_hash(id_col: str, salt: str) -> Column:
    """The deterministic pseudo-random ordering key shared by
    stratified_k and interleave_sources — md5(id:salt), mirrored
    verbatim in their DuckDB oracles as md5(id || ':salt'). One
    definition so the cross-operator order contract cannot drift."""
    return F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))


def stratified_k(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """EXACTLY-k-per-group deterministic sample (eval-set carving,
    per-domain probe sets): rank rows within each group by
    md5(id:salt) — a reshuffle/re-run-stable pseudo-random order —
    and keep rank <= k (all rows of groups smaller than k).

    hash_sample keeps a Bernoulli FRACTION per stratum; this keeps an
    exact COUNT, which is what held-out eval carving needs. One
    shuffle on the group key. Skew caveat: window partitions are NOT
    split by AQE (skew handling rewrites join reads only), so one
    mega-group sorts on one task; if a group can exceed a task,
    pre-filter on the SAME hash first (keep rows with h below a
    threshold sized to pass >> k per group) — a prefix of the h-order
    contains the true top-k by h, so the rank of survivors is
    unchanged. Output keeps the rank so downstream can sub-slice
    (rank <= j) without re-ranking.
    """
    h = _salted_rank_hash(id_col, salt)
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("strat_rank", F.row_number().over(w))
        .filter(F.col("strat_rank") <= k)
    )


def interleave_sources(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "curriculum",
) -> DataFrame:
    """Deterministic curriculum interleaving: a total order over the
    corpus that round-robins across groups (sources/domains) so no
    training window sees a long single-domain run, stable under
    re-runs and repartitioning.

    Position is CLOSED-FORM — ``ord = (rank_in_group - 1) * G + g``
    where rank_in_group orders by md5(id:salt) within the group, G =
    number of groups, and g = the group's dense index — so NO
    single-partition global window exists anywhere in the plan (the
    round-1 pack_sequences hazard). The group directory (G rows) is
    a broadcast join. When a group exhausts, its stride positions go
    unused: ord is ordinal, not dense — consumers sort by it, they
    don't index by it.
    """
    groups = (
        df.select(F.col(group_col).alias("_gkey"))
        .distinct()
        .withColumn(
            "_g",
            # NULLS FIRST pinned explicitly: Spark defaults null-first
            # ascending but DuckDB defaults null-last, and the oracle
            # must assign the same g_idx to a NULL group
            F.row_number().over(Window.orderBy(F.col("_gkey").asc_nulls_first()))
            - 1,
        )
        .withColumn("_n_groups", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    h = _salted_rank_hash(id_col, salt)
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w) - 1)
        # null-safe: a NULL group is a real stratum (the window above
        # already treats it as one); a plain equi-join would silently
        # drop every NULL-group row from the training order
        .join(
            F.broadcast(groups), F.col(group_col).eqNullSafe(F.col("_gkey"))
        )
        .select(
            id_col,
            group_col,
            (F.col("_rk") * F.col("_n_groups") + F.col("_g")).alias("ord"),
        )
    )


def span_corruption(
    df: DataFrame,
    rate: float = 0.15,
    span_len: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "spans",
) -> DataFrame:
    """Deterministic span-corruption schedule (the T5/UL2 denoising
    objective's mask plan): pick ~``rate`` of each document's tokens
    as fixed-length spans, merge overlaps, and emit one row per final
    span — the mask plan a pretraining data pipeline materializes so
    every epoch/worker corrupts identically (md5-derived: re-runs,
    repartitioning, and cluster size cannot change the masks).

    Selection: token index i starts a candidate span iff
    md5(id:i:salt) falls under rate/span_len (expected masked fraction
    ~= rate before merging); candidate [i, i+span_len) intervals clip
    to the document and STRICTLY overlapping ones merge (classic
    gaps-and-islands: running max of span end over preceding starts,
    island break when start >= prev max end).

    Output: (id, span_id, span_start, span_end, n_masked) with span_id
    dense per document in start order, span_end exclusive. One per-doc
    window pass
    over only the CANDIDATE rows (~rate/span_len of tokens), not the
    token stream: O(n·rate) shuffled rows.
    """
    if not 0 < rate <= 1 or span_len < 1:
        raise ValueError("need 0 < rate <= 1 and span_len >= 1")
    thr = sample_threshold_hex(rate / span_len)
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk")).filter(
        F.size("_tk") > 0
    )
    n = F.size("_tk")
    cand = toks.select(
        F.col(id_col),
        n.alias("_n"),
        F.explode(
            F.filter(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.substring(
                    F.md5(
                        F.concat(
                            F.col(id_col).cast("string"),
                            F.lit(":"),
                            i.cast("string"),
                            F.lit(":" + salt),
                        )
                    ),
                    1,
                    8,
                )
                < thr,
            )
        ).alias("_s"),
    ).withColumn("_e", F.least(F.col("_s") + span_len, F.col("_n")))
    w = Window.partitionBy(id_col).orderBy("_s")
    prev_max_end = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = cand.withColumn(
        "_new",
        F.when(prev_max_end.isNull() | (F.col("_s") >= prev_max_end), 1).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        marked.groupBy(id_col, "_island")
        .agg(F.min("_s").alias("span_start"), F.max("_e").alias("span_end"))
        .select(
            id_col,
            (F.col("_island") - 1).cast("int").alias("span_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("n_masked"),
        )
    )


def char_trigrams(text: Column) -> Column:
    """Character 3-grams of a string column (empty array below length
    3 — guarded because Spark's ``sequence(1, 0)`` would descend)."""
    n = F.length(text)
    return F.when(
        n >= 3,
        F.transform(F.sequence(F.lit(1), n - 2), lambda i: text.substr(i, F.lit(3))),
    ).otherwise(F.array().cast("array<string>"))


def trigram_familiarity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style LM quality proxy without transcendentals: score each
    document by the mean corpus frequency of its character trigrams.
    Gibberish scores low (rare trigrams), natural text high.

    Two passes over the corpus (train the frequency table, then score
    — the same shape as CCNet's KenLM filter). The frequency table is
    corpus-derived, so no broadcast hint: for ASCII-ish corpora it is
    tiny (charset³) and AQE will broadcast it at runtime, but a
    multilingual/CJK corpus has an effectively unbounded distinct-
    trigram set, where a forced broadcast would OOM — the same hazard
    test_dedup_plans_have_no_corpus_broadcast guards against elsewhere.
    Integer sums carry the result
    (order-independent, hash-exact); the only float is one final
    IEEE-exact division. Documents shorter than 3 chars have no
    trigrams and are absent from the output.
    """
    staged = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_t"))
    tri = staged.select(
        F.col(id_col), F.explode(char_trigrams(F.col("_t"))).alias("tri")
    )
    freq = tri.groupBy("tri").agg(F.count(F.lit(1)).alias("freq"))
    return (
        tri.join(freq, "tri")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("freq").cast("bigint").alias("sum_freq"),
        )
        .withColumn(
            "familiarity",
            # deliberately NOT rounded: one IEEE division of two exact
            # integers is bit-identical across engines, while round(x, 2)
            # implementations disagree near scale boundaries (BigDecimal
            # half-up vs scaled-multiply) — verified at sf0.1
            F.col("sum_freq").cast("double") / F.col("n_trigrams").cast("double"),
        )
    )


def contamination_ngrams(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_tokens_col: str | None = None,
    bench_tokens_col: str | None = None,
) -> DataFrame:
    """Benchmark-contamination scan: for each corpus document, the
    number of distinct word n-grams it shares with ANY benchmark
    document (eval-set leakage detection, WMDP/GPT-3-style 8-gram
    overlap).

    The benchmark n-gram set is exploded, deduplicated, and BROADCAST
    — an eval set is bounded (thousands of docs), so this is the one
    place a broadcast is structurally safe at 100 TB. The corpus side
    streams through one explode + semi-equi-join + groupBy on the
    document id; no corpus-cardinality relation is ever collected or
    broadcast.
    """
    # token arrays staged once per side: _shingles references its
    # input 3x, so an inlined tokens(text) re-ran the tokenize chain
    # per reference (r16 plan audit). *_tokens_col (r17): optional
    # pre-tokenized array columns holding EXACTLY text.tokens(text) —
    # a caller whose side is BUILT from a token array (q_contamination
    # derives its eval set by dropping each doc's last token) skips
    # the join-text-then-retokenize round-trip; identical by
    # construction (lowercase whitespace-free tokens re-split to
    # themselves).
    bench_tk = (
        F.col(bench_tokens_col) if bench_tokens_col is not None
        else tokens(F.col(text_col))
    )
    bench_grams = (
        benchmark.select(bench_tk.alias("_tk"))
        .select(F.explode(_shingles(F.col("_tk"), n)).alias("gram"))
        .distinct()
    )
    corpus_tk = (
        F.col(corpus_tokens_col) if corpus_tokens_col is not None
        else tokens(F.col(text_col))
    )
    corpus_grams = corpus.select(
        F.col(id_col), corpus_tk.alias("_tk")
    ).select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(_shingles(F.col("_tk"), n))).alias(
            "gram"
        ),
    )
    hits = corpus_grams.join(F.broadcast(bench_grams), "gram")
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .orderBy(id_col)
    )


def boilerplate_ratio(
    df: DataFrame,
    k: int = 5,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CROSS-document boilerplate signal: for each document, the
    fraction of its DISTINCT word k-grams that also appear in at least
    ``min_df`` documents — headers, footers, and templated passages
    score high; original prose scores low. The per-document complement
    of contamination_ngrams (which compares against an external eval
    set) and of repetition_signals (which is within-document only).

    Output: (id, n_grams, n_common, common_ratio), one row per
    document with >= 1 k-gram.

    Scale shape: distinct k-grams per doc (one explode), gram document
    frequency via ONE groupBy (map-side combined), joined back WITHOUT
    a broadcast hint — the gram table is corpus-derived, so AQE
    decides (same rule as tfidf_keywords' DF table); then one
    groupBy(doc). No corpus-cardinality driver state, no n_docs
    action.
    """
    grams = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_tk")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingles(F.col("_tk"), k))).alias(
            "_gram"
        ),
    )
    gdf = grams.groupBy("_gram").agg(F.count(F.lit(1)).alias("_df"))
    return (
        grams.join(gdf, "_gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("_df") >= min_df).cast("long")).alias("n_common"),
        )
        .withColumn(
            "common_ratio",
            F.round(F.col("n_common") / F.col("n_grams"), 6),
        )
    )


#: Cleaning constants — shared verbatim with the DuckDB oracle (kept
#: to the Java-regex ∩ RE2 common dialect; U+FFFD is embedded as a
#: literal char so both engines see the same code point).
CLEAN_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f�]"
CLEAN_PUNCT_FROM = "‘’“”–— "
CLEAN_PUNCT_TO = "''\"\"-- "


def clean_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Text normalization for training corpora (the C4/CCNet-style
    cleaning stage): strip control characters and U+FFFD replacement
    chars, fold curly quotes / en-em dashes / NBSP to their ASCII
    forms, collapse whitespace runs to single spaces, trim.

    Output: (id, clean_text, n_removed) where n_removed is the char
    count delta — a cheap corruption signal (mojibake-heavy docs score
    high and can be gated downstream).

    Pure Column projection: regexp_replace + translate + trim inside
    whole-stage codegen — no UDF, no shuffle, scales as a map.

    ``passthrough`` carries extra input columns into the output (the
    gopher_filter convention), so a pipeline keeps metadata like the
    source WITHOUT an id-keyed join back against the corpus — at scale
    that join is a full corpus shuffle this projection never needs.
    """
    t = F.col(text_col)
    cleaned = F.regexp_replace(t, CLEAN_CTRL_RE, "")
    cleaned = F.translate(cleaned, CLEAN_PUNCT_FROM, CLEAN_PUNCT_TO)
    cleaned = F.trim(F.regexp_replace(cleaned, "\\s+", " "))
    extra = [c for c in passthrough if c != id_col]
    return df.select(
        F.col(id_col),
        *extra,
        cleaned.alias("clean_text"),
        (F.length(t) - F.length(cleaned)).alias("n_removed"),
    )


def passage_dedup(
    df: DataFrame,
    passage_tokens: int = 16,
    max_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring deduplication at passage granularity — the
    distributed proxy for suffix-array substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    cut each document into consecutive ``passage_tokens``-token
    passages, count each passage's document frequency across the
    corpus, DROP every passage occurring in more than ``max_df``
    documents, and reassemble the surviving passages in order.

    Output: (id, n_passages, n_kept, clean_text), one row per document
    that retains at least one passage — documents that were entirely
    duplicated disappear, which is the cleaning-pipeline behavior.

    vs boilerplate_ratio: that op SCORES documents by shared-gram
    fraction; this op REWRITES them, removing the duplicated spans
    while keeping the original prose around them.

    Scale shape: the exploded relation carries each passage's text
    exactly once (from its own document's row and back to it), so
    shuffle volume is corpus-sized, never quadratic. Passage DF is ONE
    map-side-combined groupBy on the md5; the verdict joins back on
    the hash with no broadcast hint (the DF table is corpus-derived —
    AQE decides, and its skew-join handles a mega-common passage);
    reassembly is one groupBy(id) with an in-group array_sort,
    per-document bounded.
    """
    if passage_tokens < 1:
        raise ValueError("passage_tokens must be >= 1")
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk")).filter(
        F.size("_tk") > 0
    )
    n = F.size("_tk")
    n_pass = F.floor((n + passage_tokens - 1) / passage_tokens).cast("int")
    flat = staged.select(
        F.col(id_col),
        # per-doc passage count rides the exploded rows (constant per
        # doc) — recovering it later with a second corpus-sized groupBy
        # + join would be a full extra shuffle over the exploded
        # relation for a value known before the explode
        n_pass.alias("n_passages"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_pass - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_tk"), i * passage_tokens + 1, passage_tokens)
                ),
            )
        ).alias("idx", "_ptext"),
    ).withColumn("_h", F.md5(F.col("_ptext")))
    # materialize ONCE: the DF aggregate and the verdict join are
    # different exchange subtrees, so without this the full tokenize +
    # slice + md5 explode over the corpus runs twice (ReuseExchange
    # cannot dedupe them) — the _global_prefix_sum rationale
    flat = flat.localCheckpoint(eager=True)
    pdf = flat.groupBy("_h").agg(F.count_distinct(F.col(id_col)).alias("_df"))
    kept = flat.join(pdf, "_h").filter(F.col("_df") <= max_df)
    return (
        kept.groupBy(id_col)
        .agg(
            F.first("n_passages").alias("n_passages"),
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "_ptext"))),
                    lambda x: x["_ptext"],
                ),
            ).alias("clean_text"),
        )
        .select(id_col, "n_passages", "n_kept", "clean_text")
    )


def span_dedup(
    df: DataFrame,
    span_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-SPAN removal with sliding windows — the
    keep-first variant of Lee et al. 2022 substring dedup, and the
    closer of passage_dedup's declared gap: a duplicated region that
    straddles a passage boundary is invisible to consecutive-block
    passages but is covered here by some ``span_tokens``-token window.

    Semantics: hash every ``span_tokens``-token sliding window; the
    globally FIRST occurrence of each window value (ordered by
    (id, pos)) is kept, every later occurrence marks its token range
    for removal; a token is dropped iff covered by any removed
    window. Documents losing every token disappear (cleaning-pipeline
    behavior, like passage_dedup); documents shorter than
    ``span_tokens`` have no windows and pass through unchanged.

    Output: (id, n_tokens, n_removed, clean_text).

    Scale shape: the window relation is corpus-token-sized (one row
    per token position, 16-byte hash) — this is the price of EXACT
    substring dedup and replaces a suffix array with one uniform-key
    shuffle. First-occurrence is a map-side-combined
    groupBy(min(struct)) — never a row_number window, so a
    mega-duplicated boilerplate hash partial-aggregates instead of
    skewing one task; the verdict join back is corpus-sized with AQE
    skew handling. The final membership check is array algebra,
    O(doc_len x removed_windows_in_doc) per document — pathological
    only for documents that are themselves near-fully duplicated,
    which exact/near dedup upstream should have removed already (run
    this AFTER document-level dedup, as Lee et al. do)."""
    if span_tokens < 1:
        raise ValueError("span_tokens must be >= 1")
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk")).filter(
        F.size("_tk") > 0
    )
    # materialize ONCE: the first-occurrence aggregate and the verdict
    # join are different exchange subtrees (passage_dedup rationale)
    wins = _span_windows(staged, span_tokens, id_col).localCheckpoint(eager=True)
    removed = _span_non_first(wins, id_col)
    return _span_drop_covered(staged, removed, span_tokens, id_col)


def _span_windows(staged: DataFrame, span_tokens: int, id_col: str) -> DataFrame:
    """(id, pos, _h): md5 of every sliding span_tokens-token window of
    the staged (id, _tk) relation."""
    n = F.size("_tk")
    return staged.filter(n >= span_tokens).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n - span_tokens),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("_tk"), i + 1, span_tokens))
                ),
            )
        ).alias("pos", "_h"),
    )


def _span_non_first(wins: DataFrame, id_col: str) -> DataFrame:
    """Window occurrences that are NOT the global first of their hash
    — map-side-combined groupBy(min(struct)), never a row_number
    window (span_dedup scale rationale)."""
    firsts = wins.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias(
            "_first"
        )
    )
    return wins.join(firsts, "_h").filter(
        (F.col(id_col) != F.col("_first.i")) | (F.col("pos") != F.col("_first.p"))
    )


def _span_drop_covered(
    staged: DataFrame, removed: DataFrame, span_tokens: int, id_col: str
) -> DataFrame:
    """Rebuild texts with every token covered by a removed window
    dropped; documents losing all tokens disappear."""
    rem = removed.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("_rpos")
    )
    kept_tokens = F.filter(
        F.col("_tk"),
        lambda t, i: F.col("_rpos").isNull()
        | ~F.exists(F.col("_rpos"), lambda p: (p <= i) & (i < p + span_tokens)),
    )
    return (
        staged.join(rem, id_col, "left")
        .select(
            F.col(id_col),
            F.size("_tk").alias("n_tokens"),
            (F.size("_tk") - F.size(kept_tokens)).alias("n_removed"),
            F.concat_ws(" ", kept_tokens).alias("clean_text"),
        )
        .filter(F.col("n_removed") < F.col("n_tokens"))
    )


def passage_dedup_cdc(
    df: DataFrame,
    passage_tokens: int = 16,
    max_df: int = 1,
    gram: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined-chunking passage dedup — the POSITION-
    INDEPENDENT proxy for suffix-array substring dedup (Lee et al.
    2022). :func:`passage_dedup`'s fixed grid only catches duplicated
    spans that are grid-aligned in BOTH documents; a span copied at an
    arbitrary offset never hashes equal. Here the chunk boundaries are
    determined by CONTENT (the rsync/LBFS rule): a boundary falls
    after token i when the hash of the ``gram``-token window ending at
    i is ≡ 0 mod ``passage_tokens`` — so the same long span carries
    the same interior boundaries, hence identical interior chunks, in
    every document at ANY offset. Expected chunk length is
    ``passage_tokens``; a shared span is detected once it spans two
    content boundaries (expected span ≳ 2x passage_tokens, with no
    alignment luck involved — the property the fixed grid lacks).

    A token is DROPPED iff its covering chunk occurs in more than
    ``max_df`` documents. Output: (id, n_tokens, n_kept_tokens,
    clean_text), one row per document that keeps at least one token;
    deterministic and reshuffle-stable (hash boundaries are pure
    content functions).

    Scale shape: identical to passage_dedup — the chunk relation
    carries each chunk's hash once per occurrence (corpus-linear,
    never quadratic), chunk DF is one map-side-combined groupBy, the
    per-document drop-interval list is chunk-count-bounded and joins
    back narrow, and reassembly is a per-document array filter in
    codegen (tokens are never exploded individually). The boundary
    computation itself is pure array algebra inside whole-stage
    codegen. Unbounded-chunk caveat: pathological content with no
    boundary (probability (1-1/P)^L) yields one long chunk — the doc
    then dedups at whole-span granularity, never incorrectly.
    """
    if passage_tokens < 1:
        raise ValueError("passage_tokens must be >= 1")
    if gram < 1:
        raise ValueError("gram must be >= 1")
    P, g = passage_tokens, gram
    staged = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_tk")
    ).filter(F.size("_tk") > 0)
    n = F.size("_tk")

    # 0-based positions i where the g-gram ending at i triggers a
    # boundary AFTER i (the last position never opens an empty tail).
    # Boundary rule: md5(gram)'s 8-hex prefix under the 1/P keep
    # threshold — the same string-comparison trick as
    # sample_threshold_hex, exactly replayable in the DuckDB oracle
    # (probability floor(16^8/P)/16^8, i.e. 1/P for any P <= 2^32).
    thresh = format(16**8 // P, "08x")

    def _is_boundary(i):
        return (
            F.substring(
                F.md5(
                    F.concat_ws(" ", F.slice(F.col("_tk"), i - (g - 2), F.lit(g)))
                ),
                1,
                8,
            )
            < thresh
        )

    bpos = F.when(
        n >= g,
        F.filter(
            F.sequence(F.lit(g - 1), n - 1),
            lambda i: (i + 1 < n) & _is_boundary(i),
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(0)), F.transform(bpos, lambda i: i + 1))
    m = F.size(starts)
    wins = F.transform(
        starts,
        lambda s, j: F.struct(
            s.alias("s"),
            (
                F.when(j + 2 <= m, F.element_at(starts, j + 2)).otherwise(n) - s
            ).alias("l"),
        ),
    )

    flat = staged.select(
        F.col(id_col), "_tk", F.explode(wins).alias("_w")
    ).select(
        id_col,
        F.col("_w.s").alias("_s"),
        F.col("_w.l").alias("_l"),
        F.md5(
            F.concat_ws(" ", F.slice("_tk", F.col("_w.s") + 1, F.col("_w.l")))
        ).alias("_h"),
    )
    # one materialization: DF aggregate + verdict join (same rationale
    # as passage_dedup's localCheckpoint)
    flat = flat.localCheckpoint(eager=True)
    pdf = flat.groupBy("_h").agg(
        F.count_distinct(F.col(id_col)).alias("_df")
    )
    drops = (
        flat.join(pdf, "_h")
        .filter(F.col("_df") > max_df)
        .groupBy(id_col)
        .agg(F.collect_set(F.struct("_s", "_l")).alias("_drops"))
    )
    joined = staged.join(drops, id_col, "left").select(
        F.col(id_col),
        "_tk",
        F.coalesce(
            "_drops", F.array().cast("array<struct<_s:int,_l:int>>")
        ).alias("_drops"),
    )
    kept_tk = F.filter(
        F.col("_tk"),
        lambda x, i: ~F.exists(
            F.col("_drops"),
            lambda d: (i >= d["_s"]) & (i < d["_s"] + d["_l"]),
        ),
    )
    return (
        joined.select(
            F.col(id_col),
            F.size("_tk").alias("n_tokens"),
            F.size(kept_tk).alias("n_kept_tokens"),
            F.concat_ws(" ", kept_tk).alias("clean_text"),
        )
        .filter(F.col("n_kept_tokens") > 0)
    )


def length_batches(
    df: DataFrame,
    bucket_width: int = 64,
    batch_size: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed batch assignment (dynamic-batching prep):
    group documents of similar token count so padding waste inside a
    batch is bounded by ``bucket_width`` - 1 tokens per row, then cut
    each bucket into deterministic ``batch_size`` batches. Output:
    (id, n_tokens, len_bucket, batch_idx) with batch_idx 0-based per
    bucket; order within a bucket is (n_tokens, id) so re-runs
    reproduce identical batches regardless of partitioning.

    Scale shape: one narrow (id, n_tokens) projection, then a
    rank-within-bucket window PARTITIONED BY the length bucket —
    each partition holds only that bucket's rows, and buckets are
    value-bounded by the longest document over bucket_width, so no
    single-partition global window appears. The text column never
    shuffles."""
    if bucket_width < 1 or batch_size < 1:
        raise ValueError("bucket_width and batch_size must be >= 1")
    n = token_count(F.col(text_col))
    staged = df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.floor(n / bucket_width).cast("int").alias("len_bucket"),
    )
    w = Window.partitionBy("len_bucket").orderBy("n_tokens", id_col)
    return staged.withColumn(
        "batch_idx",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("int"),
    )


def pretrain_pipeline(
    df: DataFrame,
    target_source: str,
    dsir_k: int = 2000,
    seq_len: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    max_bucket: int = 1000,
) -> DataFrame:
    """The composed pretraining corpus pipeline as ONE callable:
    clean_text → Gopher repetition gate → MinHash near-dedup keep
    (hub-capped production defaults) → DSIR top-k selection against
    ``target_source``'s documents → fixed-``seq_len`` sequence
    packing. Returns the packed (seq_id, n_seq_tokens, seq_text)
    relation; the CLI ``corpus-pretrain`` subcommand writes it to
    parquet.

    Stage stitching: ``source`` rides the clean/gate projections
    (passthrough — no join-back), one left-semi join applies the DSIR
    keep-set, and clean+gate materialize in ONE localCheckpoint
    (verdict computed below the checkpoint, so the keep filter never
    re-inlines the tokenize chain). The shared intermediates (gated
    corpus, deduped corpus) are ``persist()``-ed because they feed 2
    and 4 downstream consumers respectively (ReuseExchange does not
    dedupe across those subtrees — measured 3x on the driver query).
    Cache lifetime is GC-bound like every internal persist here; a
    caller looping over corpora should drop plan references promptly."""
    from balboa_spark.operators import dedup

    cleaned = (
        # passthrough carries the source through the projection — the
        # previous id-keyed join back against df was a full corpus
        # shuffle for one metadata column (r16 optimization)
        clean_text(df, text_col=text_col, id_col=id_col,
                   passthrough=(source_col,))
    )
    gated = gopher_filter(
        cleaned, text_col="clean_text", id_col=id_col,
        passthrough=("clean_text", source_col),
    )
    # ONE materialization for clean + gate: filtering on `keep` below
    # a checkpoint would let predicate pushdown inline the tokenize
    # chain once per reference inside the pushed filter (~8 evals of
    # split(lower(text)) per row — measured 1.80s -> 0.86s for the
    # gate stage at sf0.1, r16). Computing the verdict in the SAME
    # projection chain as the clean stage keeps every array subtree
    # single-use (CollapseProject never duplicates non-cheap aliases),
    # and the filter then reads a materialized boolean.
    ckpt = gated.select(
        F.col(id_col),
        F.col("clean_text").alias(text_col),
        F.col(source_col),
        F.col("keep"),
    ).localCheckpoint(eager=True)
    # ONE tokenize pass for the whole downstream pipeline (r17): every
    # remaining consumer — MinHash shingles, DSIR n-grams, sequence
    # packing — derives from the SAME token array, so it is staged
    # into the kept persist and each kernel takes it via its
    # tokens_col seam instead of re-tokenizing (3 full tokenize passes
    # -> 1). `text` itself is dropped here: nothing downstream reads
    # it (pack_sequences rebuilds seq_text from the token fragments),
    # so the cached relation carries tokens INSTEAD of text, not both.
    # The dedup anti-join and the DSIR semi-join both build on tiny
    # broadcast sides, so the token arrays never ride a shuffle.
    kept0 = (
        ckpt.filter("keep")
        .select(
            F.col(id_col),
            F.col(source_col),
            tokens(F.col(text_col)).alias("_tk"),
        )
        .persist()
    )
    pairs = dedup.minhash_lsh_pairs(
        kept0, text_col, id_col, max_bucket=max_bucket, tokens_col="_tk"
    )
    kept = dedup.near_dedup_keep(kept0, pairs, id_col=id_col).persist()
    sel = dsir_topk(
        kept,
        kept.filter(F.col(source_col) == target_source),
        k=dsir_k,
        text_col=text_col,
        id_col=id_col,
        # the target IS a slice of kept: reuse kept's persisted
        # doc-bucket counts instead of a second tokenize pass
        target_subset=True,
        tokens_col="_tk",
    )
    # materialize the keep-set ONCE: pack_sequences references its
    # input in two subtrees (the narrow counts/prefix-sum branch and
    # the fragment branch), so an un-materialized sel would re-run the
    # whole DSIR ranking per reference. The checkpoint is k rows of
    # one id column — parameter-sized at any corpus scale (measured
    # 8.48s -> 6.64s for the composed pipeline at sf0.1, r16).
    sel_ids = sel.select(id_col).localCheckpoint(eager=True)
    chosen = kept.join(sel_ids, id_col, "left_semi")
    return pack_sequences(
        chosen, seq_len=seq_len, text_col=text_col, id_col=id_col,
        tokens_col="_tk",
    )


def blocklist_signals(
    df: DataFrame,
    terms,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough=(),
) -> DataFrame:
    """C4-style blocklist gate ("bad words" filtering, Raffel et al.
    2020 §2.2): per document, how many token occurrences and distinct
    terms hit the list, plus the ``keep`` verdict (no hits). The list
    is embedded as a literal array — for typical curated lists (up to
    a few thousand terms) this is a pure zero-shuffle projection
    inside codegen, the cheapest possible plan; for very large lists
    use :func:`blocklist_signals_join`.

    Matching is at token granularity under the shared tokenizer
    (lowercase whitespace words), the same rule the C4 list applies;
    phrase patterns belong in redact_pii-style regexes instead.
    """
    arr = F.array(*[F.lit(t.lower()) for t in sorted(set(terms))])
    tk = tokens(F.col(text_col))
    extra = [c for c in passthrough if c != id_col]
    staged = df.select(F.col(id_col), *extra, tk.alias("_tk"))
    occ = F.size(F.filter(F.col("_tk"), lambda x: F.array_contains(arr, x)))
    dist = F.size(F.array_intersect(F.array_distinct(F.col("_tk")), arr))
    return staged.select(
        F.col(id_col),
        *extra,
        occ.alias("n_blocked_tokens"),
        dist.alias("n_blocked_terms"),
        (occ == 0).alias("keep"),
    )


def blocklist_signals_join(
    df: DataFrame,
    terms_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    term_col: str = "term",
) -> DataFrame:
    """The large-list arm of :func:`blocklist_signals`: the terms are
    a relation (millions of entries — per-language lists, hashes of
    known-bad documents' vocab), so the verdict is one explode +
    broadcast-or-shuffle equi-join (AQE decides by size) + per-doc
    count, then a left join back for the zero-hit documents. Output
    schema matches the literal arm."""
    tk = tokens(F.col(text_col))
    tok = df.select(F.col(id_col), F.explode(tk).alias("_t"))
    terms = terms_df.select(F.lower(F.col(term_col)).alias("_t")).distinct()
    hits = (
        tok.join(terms, "_t")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_blocked_tokens"),
            F.count_distinct("_t").alias("n_blocked_terms"),
        )
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .na.fill({"n_blocked_tokens": 0, "n_blocked_terms": 0})
        .withColumn("keep", F.col("n_blocked_tokens") == 0)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_unchanged: bool = False,
) -> DataFrame:
    """Corpus snapshot diff for incremental pipeline runs: which
    documents were ADDED, REMOVED, or CHANGED between two corpus
    snapshots, by id + normalized-text fingerprint (text.fingerprint,
    the exact-dedup key). The downstream pattern: re-run cleaning /
    dedup-store / index upserts only on `added` ∪ `changed` instead
    of the whole corpus — the batch-sized cost model every persisted
    artifact here (ObservationStore, VectorStore, PostingsIndex,
    MinHashDedupStore) is built for.

    Output: (id, change, fp_old, fp_new), change ∈ added | removed |
    changed (| unchanged when ``include_unchanged``).

    Scale shape: each side reduces to a NARROW (id, 32-hex fp)
    relation before the one full-outer id equi-join — document text
    never shuffles; cost is two scans + one hash join on the key both
    snapshots would already be bucketed by in a real lakehouse layout
    (then the exchange elides entirely).
    """
    from balboa_spark.operators.text import fingerprint

    # presence comes from explicit indicator columns, NOT fp nullness:
    # fingerprint(NULL text) is NULL, so a present-with-NULL-text row
    # would otherwise be indistinguishable from an absent row and a
    # removed doc could report as 'added'
    o = old.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fp_old"),
        F.lit(True).alias("_in_old"),
    )
    nw = new.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fp_new"),
        F.lit(True).alias("_in_new"),
    )
    joined = o.join(nw, id_col, "full_outer").select(
        F.col(id_col),
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(~F.col("fp_old").eqNullSafe(F.col("fp_new")), "changed")
        .otherwise("unchanged")
        .alias("change"),
        "fp_old",
        "fp_new",
    )
    if not include_unchanged:
        joined = joined.filter(F.col("change") != "unchanged")
    return joined


def _frac_threshold_hex(frac: Column) -> Column:
    """In-plan twin of sample_threshold_hex: the 8-hex-digit keep
    threshold for a [0,1] fraction, with the sentinel ``'g'`` (above
    every hex string) when the fraction rounds to 1 — ONE definition
    shared by all three mixture operators so the subtle rounding/
    sentinel edge cannot diverge between them."""
    v = F.round(frac * F.lit(16**8)).cast("long")
    return F.when(v >= F.lit(16**8), F.lit("g")).otherwise(
        F.lpad(F.lower(F.hex(v)), 8, "0")
    )


def _materialize_copies(
    df: DataFrame, fracs: DataFrame, group_col: str, id_col: str, salt: str
) -> DataFrame:
    """Deterministic with-replacement materialization shared by
    mixture_upsample and mixture_temperature: every row gets
    floor(_r) copies plus one more iff md5(id:salt) falls under the
    fractional remainder's threshold; copies come from ONE
    explode(sequence). The group join is NULL-SAFE: a NULL group key
    is a group like any other (groupBy counts it), and a plain
    equi-join would silently drop those rows."""
    base = F.floor("_r").cast("int")
    thr = _frac_threshold_hex(F.col("_r") - F.floor("_r"))
    h8 = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8
    )
    n_copies = (base + F.when(h8 < thr, 1).otherwise(0)).alias("_c")
    fr = fracs.withColumnRenamed(group_col, "_g")
    return (
        df.join(fr, F.col(group_col).eqNullSafe(F.col("_g")))
        .select(*df.columns, n_copies)
        .filter(F.col("_c") > 0)
        .select(
            *df.columns,
            F.explode(F.sequence(F.lit(0), F.col("_c") - 1)).alias("copy_idx"),
        )
    )


def mixture_upsample(
    df: DataFrame,
    target: dict[str, float],
    total: int | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "upmix",
) -> DataFrame:
    """Mixture shaping WITH replacement — the upsampling half of
    domain mixing (mixture_resample only thins): emit each group at
    its target proportion of ``total`` output rows (default: the
    input size), REPEATING rows of under-represented groups. This is
    how temperature-flattened mixtures are materialized when a rare
    domain's weight exceeds its share of the corpus and dropping data
    from the big domains is not acceptable.

    Per group the expected copy count is r = total * w / n: every row
    gets floor(r) copies, plus one more iff md5(id:salt) falls under
    frac(r) — deterministic, reshuffle/re-run stable, no RNG state,
    and r < 1 degenerates to Bernoulli subsampling (so one operator
    expresses both directions). Groups absent from ``target`` drop.
    Output adds ``copy_idx`` (0-based) so downstream shuffles can
    separate the copies.

    All capacity math is IN the plan: one #groups-row count aggregate
    joins the weights (AQE-decided), the per-row copy count is a
    Column expression, and copies come from ONE explode(sequence) —
    no driver action. Total output row count is within #rows of the
    target (per-row rounding).
    """
    total_w = sum(target.values())
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    wmap = F.create_map(
        *[x for g, w in sorted(target.items()) for x in (F.lit(g), F.lit(w / total_w))]
    )
    tot = (
        F.lit(total)
        if total is not None
        else F.sum("_n").over(Window.partitionBy())
    )
    fracs = counts.select(
        group_col,
        (tot * wmap[F.col(group_col)] / F.col("_n")).alias("_r"),
    ).filter(F.col("_r").isNotNull())
    return _materialize_copies(df, fracs, group_col, id_col, salt)


def quality_bins(
    df: DataFrame,
    score_col: str = "n_chars",
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    id_col: str = "doc_id",
    approx: bool = False,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """Quantile-bucket assignment (quality binning for mixture
    weighting / curriculum ordering): bin = how many of the corpus
    score quantiles are <= this row's score, so len(probs)+1 buckets.

    Output: (id, score, bin) with bin in [0, len(probs)].

    FULLY DECLARATIVE — no driver action computes the boundaries: the
    quantiles are ONE aggregate row (len(probs) doubles) cross-joined
    back (Spark plans a broadcast of the single-row side), and the
    bucket is an array count. Boundaries are rounded to 6 decimals so
    the binning is hash-stable across engines.

    ``approx=True`` is the 100 TB path: percentile_approx's
    Greenwald-Khanna sketch replaces the exact percentile (whose
    map-side state is the full value multiset). Rank error is bounded
    by 1/approx_accuracy — rows whose score sits within that band of a
    boundary may land one bin over — and the downstream plan shape is
    IDENTICAL (one single-row aggregate, broadcast back). The oracle
    checks the exact path; the approx path gets a tolerance unit test.
    """
    probs = list(probs)
    parr = F.array(*[F.lit(p) for p in probs])
    pct = (
        F.percentile_approx(F.col(score_col), parr, F.lit(approx_accuracy))
        if approx
        else F.percentile(F.col(score_col), parr)
    )
    bnds = df.agg(F.transform(pct, lambda b: F.round(b, 6)).alias("_bnds"))
    return df.crossJoin(F.broadcast(bnds)).select(
        F.col(id_col),
        F.col(score_col).alias("score"),
        F.size(
            F.filter("_bnds", lambda b: b <= F.col(score_col))
        ).alias("bin"),
    )


def mixture_resample(
    df: DataFrame,
    target: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Down-sample groups so the OUTPUT approximates the target mixture
    proportions while keeping as much data as possible (domain-mixture
    tuning for pretraining): the binding group (the one whose
    capacity/target ratio is smallest) is kept whole, every other
    group is thinned to match. Groups absent from ``target`` drop.

    Selection is the md5-threshold rule (reshuffle/re-run stable, like
    hash_sample) with PER-GROUP thresholds computed IN the plan:
    counts (one groupBy, #groups rows) join the target weights, one
    single-row min aggregate finds the binding ratio, and the derived
    keep-fraction relation joins back WITHOUT a broadcast hint (group
    cardinality is workload-dependent — AQE broadcasts it when truly
    small). No driver action, no RNG state.
    """
    total_w = sum(target.values())
    if total_w <= 0:
        raise ValueError(f"target weights must sum > 0, got {total_w}")
    # zero-weight groups keep nothing and must not reach the _n/_w
    # division (ANSI /0 kills the job); dropping them here has the
    # identical keep-semantics — the inner join excludes their rows
    tgt = df.sparkSession.createDataFrame(
        [(g, w / total_w) for g, w in sorted(target.items()) if w > 0],
        f"`{group_col}` string, _w double",
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    cap = counts.join(tgt, group_col).withColumn("_ratio", F.col("_n") / F.col("_w"))
    binding = cap.agg(F.min("_ratio").alias("_min_ratio"))
    fracs = cap.crossJoin(F.broadcast(binding)).select(
        group_col,
        (F.col("_min_ratio") * F.col("_w") / F.col("_n")).alias("_keep_frac"),
    )
    thr = _frac_threshold_hex(F.col("_keep_frac"))
    h8 = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8
    )
    return (
        df.join(fracs, group_col)
        .filter(h8 < thr)
        .select(*df.columns)
    )


def mixture_token_budget(
    df: DataFrame,
    budgets: dict[str, int],
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "budget",
) -> DataFrame:
    """Down-sample each group to approximately a TOKEN budget — the
    unit production mixtures are actually specified in ("200B tokens
    of web, 30B of code"), where mixture_resample speaks in document
    proportions. keep_frac = min(1, budget / group_token_total), so a
    group under its budget is kept whole; groups absent from
    ``budgets`` drop (the mixture_resample contract).

    Selection is the shared md5-threshold rule (_frac_threshold_hex —
    reshuffle/re-run stable, no RNG state): one groupBy computes each
    group's token total (map-side combinable sum of a pure token-count
    projection), the #groups-sized fraction relation joins back, and
    the achieved token count concentrates around the budget with
    binomial jitter O(sqrt(budget * avg_doc_tokens)) — a declared
    approximation: an EXACT cut would need a per-group prefix-sum
    window over hash order, an unsplittable corpus-scale partition per
    group (the class dedup.py just eliminated). No driver action."""
    tgt = df.sparkSession.createDataFrame(
        [(g, int(b)) for g, b in sorted(budgets.items())],
        f"`{group_col}` string, _budget long",
    )
    totals = df.groupBy(group_col).agg(
        F.sum(token_count(F.col(text_col))).alias("_tok")
    )
    # a group whose documents are all empty has _tok = 0: nothing to
    # sample from, keep_frac 0 — and the division must not run (ANSI
    # /0 is a job-stopper, the adversarial-audit crash class)
    fracs = totals.join(tgt, group_col).select(
        group_col,
        F.when(
            F.col("_tok") > 0,
            F.least(F.lit(1.0), F.col("_budget") / F.col("_tok").cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("_keep_frac"),
    )
    thr = _frac_threshold_hex(F.col("_keep_frac"))
    h8 = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8
    )
    return df.join(fracs, group_col).filter(h8 < thr).select(*df.columns)


def dedup_repeated_units(
    df: DataFrame,
    sep: str = "\n",
    out_sep: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-document repeated-unit removal: split each document on
    ``sep`` (lines, paragraphs, or tokens), keep only the FIRST
    occurrence of every distinct unit, and reassemble in original
    order — the within-document arm of line/paragraph deduplication
    in web-corpus cleaning (RefinedWeb/MassiveText repetition
    removal; the cross-corpus arm is passage_dedup).

    Output: (id, n_units, n_unique, clean_text).

    ZERO-SHUFFLE: the whole operator is per-row array algebra
    (split → filter-empty → keep-first via array_position → join)
    inside whole-stage codegen, so at 100 TB it is a pure map with
    no exchange at all. Keep-first is O(units²) array scanning per
    row — bounded by document length, never by corpus size.
    """
    import re as _re

    units = F.filter(
        F.split(F.col(text_col), _re.escape(sep)), lambda x: x != ""
    )
    kept = F.filter(units, lambda x, i: F.array_position(units, x) == i + 1)
    return df.select(
        F.col(id_col),
        F.size(units).alias("n_units"),
        F.size(kept).alias("n_unique"),
        F.array_join(kept, sep if out_sep is None else out_sep).alias(
            "clean_text"
        ),
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score raw documents by how target-like their
# hashed n-gram distribution is, then keep the top-k.
# ---------------------------------------------------------------------------

_DSIR_BUCKET_CHARS = 2  # md5-prefix buckets: 16^2 = 256


def _dsir_grams_from_tokens(t: Column) -> Column:
    """Unigrams + bigrams over an already-tokenized array (the DSIR
    paper's hashed n-gram feature set); ``t`` must hold
    ``text.tokens(...)`` output."""
    bi = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(t, bi)


def _dsir_grams(text_col: str) -> Column:
    """Unigrams + bigrams of the whitespace tokens of ``text_col``."""
    return _dsir_grams_from_tokens(tokens(F.col(text_col)))


def _dsir_bucket(gram: Column, salt: str) -> Column:
    """Hash a gram into one of 256 buckets — the bucket id IS the
    2-hex-char md5 prefix, so the identical expression runs in the
    DuckDB oracle with no base-16 arithmetic."""
    return F.substring(F.md5(F.concat(gram, F.lit(":" + salt))), 1, _DSIR_BUCKET_CHARS)


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
    target_subset: bool = False,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document DSIR log importance weight
    ``log p_target(x) - log p_raw(x)`` under hashed-n-gram bag models
    with add-1 smoothing.

    ``tokens_col``: optional pre-tokenized array column (must hold
    exactly ``text.tokens(text_col)``) present on ``df`` — and on
    ``target`` unless ``target_subset`` already bypasses the target
    tokenize. Skips this kernel's own tokenize pass when the caller
    staged the token array once for several consumers
    (pretrain_pipeline, r17); identical grams by construction.

    Output: (id, n_grams, weight) — weight rounded to 4 decimals
    (documents more target-like than the raw corpus score > 0).

    Scale shape: the only corpus-sized shuffle is ONE map-side-combined
    groupBy((doc, bucket)); both distributions are 256-row aggregates,
    the log-ratio table joins back AQE-broadcast, and the totals ride a
    broadcast single-row cross join. Driver state: zero (no collect).
    The target set is typically tiny (a quality reference corpus), but
    nothing here requires it — both sides reduce to 256 rows.

    Storage lifetime: the internal ``persist()`` releases when the
    returned plan is garbage-collected (ContextCleaner), not at action
    completion — callers that loop (per-batch scoring, sweep over
    targets) should drop plan references promptly so executor storage
    stays bounded.
    """
    B = 16**_DSIR_BUCKET_CHARS

    def bucket_counts(frame: DataFrame) -> DataFrame:
        grams = (
            _dsir_grams_from_tokens(F.col(tokens_col))
            if tokens_col is not None
            else _dsir_grams(text_col)
        )
        return (
            frame.select(
                F.col(id_col),
                F.explode(grams).alias("_g"),
            )
            .select(F.col(id_col), _dsir_bucket(F.col("_g"), salt).alias("_b"))
            .groupBy(id_col, "_b")
            .agg(F.count(F.lit(1)).alias("_c"))
        )

    # persist(): doc_b feeds raw_b, the raw total, AND the final
    # weight join — three different exchange subtrees that Spark's
    # ReuseExchange does NOT dedupe (verified in the physical plan:
    # the corpus-wide tokenize+explode+groupBy appeared three times).
    # persist (not localCheckpoint) keeps the plan lazy and the
    # lineage recomputable; all consumers are in the one final query,
    # which caches the narrow (doc, bucket, count) relation on first
    # use.
    doc_b = bucket_counts(df).persist()
    raw_b = doc_b.groupBy("_b").agg(F.sum("_c").alias("_rc"))
    if target_subset:
        # r16 optimization: when the caller KNOWS target is a row
        # subset of df (the common in-corpus reference slice, e.g.
        # df.filter(source == ...)), its bucket counts are a semi-join
        # of the persisted doc_b against the target ids — no second
        # tokenize/explode/shuffle pass over the target text. With a
        # broadcastable id set this is a map-side filter over the
        # cached relation; identical counts by construction PROVIDED
        # id_col is a unique, non-null key (the engine's doc_id
        # contract — a NULL id never equi-joins, and duplicate ids
        # would over-match). Leave False for external reference
        # corpora (disjoint id spaces or differing text) — and for id
        # sets too large to broadcast, where re-tokenizing the (small)
        # target is the cheaper plan.
        tgt_b = (
            doc_b.join(target.select(id_col), id_col, "left_semi")
            .groupBy("_b")
            .agg(F.sum("_c").alias("_tc"))
        )
    else:
        tgt_b = (
            bucket_counts(target).groupBy("_b").agg(F.sum("_c").alias("_tc"))
        )
    # smoothed log-ratio per bucket; buckets absent from the target
    # take tc=0 (the +1 smoothing keeps the log finite). Totals are
    # single-row aggregates broadcast into the 256-row table.
    ratio = (
        raw_b.join(tgt_b, "_b", "left")
        .na.fill({"_tc": 0})
        .crossJoin(
            F.broadcast(raw_b.agg(F.sum("_rc").alias("_rn")))
        )
        .crossJoin(
            # coalesce: an EMPTY target aggregates to a null sum, which
            # would silently null every weight — with tn=0 the weights
            # instead degrade to the uniform-target prior, and stay
            # defined
            F.broadcast(
                tgt_b.agg(F.coalesce(F.sum("_tc"), F.lit(0)).alias("_tn"))
            )
        )
        .select(
            "_b",
            (
                F.log(F.col("_tc") + 1)
                - F.log(F.col("_tn") + B)
                - F.log(F.col("_rc") + 1)
                + F.log(F.col("_rn") + B)
            ).alias("_lr"),
        )
    )
    return (
        doc_b.join(ratio, "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_grams"),
            F.round(F.sum(F.col("_c") * F.col("_lr")), 4).alias("weight"),
        )
    )


def dsir_topk(
    df: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
    target_subset: bool = False,
    tokens_col: str | None = None,
) -> DataFrame:
    """Keep the k most target-like documents by DSIR weight
    (deterministic: ties break on id). orderBy+limit plans as
    TakeOrdered — per-partition heaps, no global sort.
    ``target_subset`` / ``tokens_col`` — see :func:`dsir_weights`."""
    w = dsir_weights(df, target, text_col=text_col, id_col=id_col, salt=salt,
                     target_subset=target_subset, tokens_col=tokens_col)
    return w.orderBy(F.col("weight").desc(), F.col(id_col)).limit(k)


def _epoch_order_key(id_col: str, epoch: int, salt: str) -> Column:
    """THE epoch permutation key — md5(id:epoch:salt) — shared by
    epoch_shuffle and write_epoch_shards so the queryable (shard, pos)
    relation and the materialized shard layout can never disagree.
    The shard is always the key's leading hex digits (one rule, both
    paths)."""
    return F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{epoch}:{salt}"))
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int = 0,
    shard_hex_chars: int = 1,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic training-epoch shuffle: every row gets a
    pseudo-random order key md5(id:epoch:salt), a shard (the key's
    first ``shard_hex_chars`` hex digits → 16^chars shards), and its
    position within the shard. Changing ``epoch`` re-permutes
    everything; re-running the same epoch reproduces the exact
    permutation regardless of partitioning or cluster size — the
    property DataFrame.orderBy(rand()) does NOT have.

    Output: (id, shard, pos) with pos = 1-based rank of the order key
    inside the shard.

    Scale: shards are md5-balanced, so the per-shard window ranks
    |corpus|/16^chars rows — size ``shard_hex_chars`` (e.g. 3 → 4096
    shards) so a shard fits an executor. The write path
    (:func:`write_epoch_shards`) needs no rank at all and does one
    hash repartition + within-partition sort — no global sort, no
    single-partition exchange.
    """
    h = _epoch_order_key(id_col, epoch, salt)
    w = Window.partitionBy("shard").orderBy("_ord", id_col)
    return (
        df.select(
            F.col(id_col),
            h.alias("_ord"),
            F.substring(h, 1, shard_hex_chars).alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def write_epoch_shards(
    df: DataFrame,
    path: str,
    epoch: int = 0,
    shard_hex_chars: int = 1,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> None:
    """Materialize one epoch's shuffled corpus as 16^shard_hex_chars
    parquet shard directories, rows in shuffled order inside each
    shard — the SAME shard rule and order key as
    :func:`epoch_shuffle`, so its (shard, pos) relation indexes this
    layout exactly. One hash repartition + sortWithinPartitions — the
    scan order a sequential reader sees IS the epoch permutation, and
    no operator ever holds a global ordinal.

    The ``_ord`` key is KEPT in the written files and the
    within-partition sort is ``(shard, _ord)``: a dynamic-partition
    parquet write requires its input ordered by the partition column
    and will INSERT ITS OWN Sort[shard] if the incoming order doesn't
    already satisfy it — which would silently destroy a bare
    sort("_ord") (caught by the ordering regression test; dropping
    ``_ord`` pre-write also discarded the reader's only way to verify
    order)."""
    h = _epoch_order_key(id_col, epoch, salt)
    (
        df.withColumn("_ord", h)
        .withColumn("shard", F.substring(F.col("_ord"), 1, shard_hex_chars))
        .repartition("shard")
        .sortWithinPartitions("shard", "_ord")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    edges: Sequence[float],
    id_col: str = "doc_id",
    salt: str = "curr",
    mix_back: float = 0.0,
) -> DataFrame:
    """Curriculum scheduling: assign every document a training STAGE
    by fixed score thresholds (stage s holds score in
    (edges[s-1], edges[s]] — stage 0 is lowest/easiest, NULL scores
    land in the LAST stage: unscorable data trains last, when the
    model is most robust) plus a deterministic intra-stage sort key,
    so a loader reading ORDER BY (stage, sort_key) replays the
    easy-to-hard schedule identically on any run.

    ``edges`` are CALLER-side literals by design: at 100 TB you
    estimate them once with percentile_approx (mergeable t-digest, one
    pass) — estimation is orthogonal to scheduling, and fixing them
    keeps this operator a pure per-row codegen projection with ZERO
    shuffles and no ordered statistic inside (an ntile/global
    row_number formulation would funnel the corpus through one
    window partition).

    ``mix_back``: spaced-repetition fraction — each non-first-stage
    document moves one stage EARLIER when its md5 uniform (seeded by
    ``salt``, reshuffle-stable like every sampling rule here) falls
    under the fraction, interleaving a taste of harder data into
    earlier stages (anti-curriculum-overfit, the Bengio 2009 /
    data-annealing trick).

    Output: (id_col, score, stage, sort_key).
    """
    score = F.col(score_col).cast("double")
    stage = F.lit(len(edges))
    for i in range(len(edges) - 1, -1, -1):
        stage = F.when(score <= F.lit(float(edges[i])), F.lit(i)).otherwise(stage)
    stage = F.when(score.isNull(), F.lit(len(edges))).otherwise(stage)
    if mix_back > 0:
        u = F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}:mix"))),
            1,
            8,
        )
        thr = _frac_threshold_hex(F.lit(float(mix_back)))
        stage = F.when((stage > 0) & (u < thr), stage - 1).otherwise(stage)
    return df.select(
        F.col(id_col),
        score.alias("score"),
        stage.cast("int").alias("stage"),
        F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}"))
        ).alias("sort_key"),
    )


def mixture_temperature(
    df: DataFrame,
    tau: float,
    total: int | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "upmix",
) -> DataFrame:
    """Temperature-flattened domain mixing (the mT5/XLM-R sampling
    rule): target share of group g is p_g^(1/tau) renormalized, where
    p_g is the group's CURRENT share of the corpus. tau=1 reproduces
    the corpus as-is; tau→∞ flattens toward uniform; tau<1 sharpens
    toward the head. Rows are materialized with the same
    deterministic floor+md5-remainder copy rule as
    :func:`mixture_upsample` (whose machinery this inlines with
    in-plan weights — no collect, no dict).

    Output: input columns + ``copy_idx``.

    Scale: the powered shares live in a #groups-row aggregate
    (windowed normalization over that tiny relation, then an
    AQE-decided join back); everything else is the upsample's
    explode(sequence) projection.
    """
    if tau <= 0:
        raise ValueError("tau must be positive")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    w_all = Window.partitionBy()
    powered = F.pow(F.col("_n") / F.sum("_n").over(w_all), 1.0 / tau)
    tot = (
        F.lit(total) if total is not None else F.sum("_n").over(w_all)
    )
    # r = total * normalized-powered-share / group size, all in-plan
    fracs = counts.select(
        group_col,
        (
            tot * (powered / F.sum(powered).over(w_all)) / F.col("_n")
        ).alias("_r"),
    )
    return _materialize_copies(df, fracs, group_col, id_col, salt)


def dataset_profile(
    df: DataFrame,
    text_col: str = "text",
    chars_col: str = "n_chars",
) -> DataFrame:
    """One-pass corpus datasheet (the numbers a dataset card needs):
    document counts, total/average characters, and total whitespace
    tokens — per source, per language, and overall — computed as ONE
    GROUPING SETS aggregate, so the corpus is scanned and tokenized
    exactly once for all three rollup levels (map-side partials
    included; three separate groupBys would each rescan).

    Output: (grouping, source, lang, n_docs, total_chars, avg_chars,
    total_tokens) where grouping is the standard grouping-id bitmask
    (1 = by source, 2 = by lang, 3 = overall).
    """
    from balboa_spark.operators.text import token_count

    base = df.select(
        "source", "lang", F.col(chars_col), token_count(F.col(text_col)).alias("_tok")
    )
    return (
        base.groupingSets([["source"], ["lang"], []], "source", "lang")
        .agg(
            F.grouping_id().alias("grouping"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(chars_col).alias("total_chars"),
            F.round(F.avg(chars_col), 2).alias("avg_chars"),
            F.sum("_tok").alias("total_tokens"),
        )
        .select(
            "grouping", "source", "lang", "n_docs", "total_chars",
            "avg_chars", "total_tokens",
        )
    )


def source_overlap(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    the number of distinct word n-grams they share — the provenance
    twin of the benchmark scan (contamination_ngrams): before mixing
    crawls/dumps into one training corpus, measure how much of each
    pair is the same underlying text.

    Scale shape: ONE distinct pass over (source, gram) — shuffle
    volume is the deduplicated gram vocabulary, not rows — then a
    groupBy(gram) whose aggregation state is bounded by #sources
    (collect_set of source labels, never documents), an in-plan pair
    expansion of that tiny array, and a #source^2-row count. No join,
    no broadcast, nothing quadratic in the corpus.

    Output: (source_a, source_b, n_shared_ngrams), source_a <
    source_b, densely only for pairs that share at least one gram.
    """
    grams = (
        df.select(
            F.col(source_col).alias("_src"),
            tokens(F.col(text_col)).alias("_tk"),
        )
        .select(
            "_src", F.explode(_shingles(F.col("_tk"), n)).alias("gram")
        )
        .distinct()
    )
    per_gram = grams.groupBy("gram").agg(
        F.array_sort(F.collect_set("_src")).alias("_srcs")
    )
    pairs = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_srcs"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("_srcs"),
                            i + 2,
                            F.greatest(
                                F.size(F.col("_srcs")) - i - 1, F.lit(0)
                            ),
                        ),
                        lambda b: F.struct(
                            a.alias("source_a"), b.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def domain_cap(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt: str = "dcap1",
    psl: bool = True,
) -> DataFrame:
    """Per-domain document cap (the C4 move that stops one site from
    dominating the mixture): keep at most ``cap`` documents per
    registrable domain, chosen DETERMINISTICALLY by md5(salt, id) —
    reshuffle- and rerun-stable, a uniform random subset per domain
    rather than whichever rows a scan happened to order first.

    One per-domain rank window (bounded by the domain's own rows —
    no global sort); the domain key is pure codegen either way:
    ``psl=True`` (default) is the real Public-Suffix-List algorithm
    with the FULL pinned published list (r10;
    functions/psl.psl_staged_domain), ``psl=False`` the small-list
    heuristic (functions/url.registered_domain). For quality-weighted
    keeps use weighted_sample_k with strata=("domain",) instead."""
    if cap < 1:
        raise ValueError("cap must be >= 1")
    if psl:
        from balboa_spark.functions.psl import psl_staged_domain

        keyed = psl_staged_domain(df, url_col, out_col="_dom")
    else:
        from balboa_spark.functions.url import registered_domain as _dom

        keyed = df.withColumn("_dom", _dom(F.col(url_col)))
    w = Window.partitionBy("_dom").orderBy(
        F.md5(F.concat_ws("\x1f", F.lit(salt), F.col(id_col))), F.col(id_col)
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_dom", "_rn")
    )


def write_datasheet(df: DataFrame, out_path: str) -> None:
    """Render the 'datasheets for datasets' card as markdown: the
    dataset_profile rollups (one GROUPING SETS pass), the Gopher
    quality-gate pass rate (one aggregate over gopher_filter), and
    the exact-duplication rate (one fingerprint groupBy) — three
    corpus passes total, all driver results bounded by
    #sources + #langs + constants. CLI surface: `corpus-datasheet`."""
    prof = dataset_profile(df).collect()
    gate = (
        gopher_filter(df)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
        .collect()[0]
    )
    from balboa_spark.operators.dedup import exact_dedup_groups

    dup = (
        exact_dedup_groups(df)
        .agg(
            F.count(F.lit(1)).alias("distinct_texts"),
            F.sum("n_docs").alias("docs"),
            F.sum(F.col("n_docs") - 1).alias("dup_docs"),
        )
        .collect()[0]
    )

    overall = [r for r in prof if r["grouping"] == 3]
    by_source = sorted(
        (r for r in prof if r["grouping"] == 1), key=lambda r: r["source"]
    )
    by_lang = sorted(
        (r for r in prof if r["grouping"] == 2), key=lambda r: r["lang"]
    )

    def table(rows, key):
        lines = [
            f"| {key} | docs | total chars | avg chars | total tokens |",
            "|---|---|---|---|---|",
        ]
        for r in rows:
            lines.append(
                f"| {r[key]} | {r['n_docs']} | {r['total_chars']} |"
                f" {r['avg_chars']} | {r['total_tokens']} |"
            )
        return "\n".join(lines)

    o = overall[0]
    pct_keep = 100.0 * gate["kept"] / max(gate["n"], 1)
    pct_dup = 100.0 * dup["dup_docs"] / max(dup["docs"], 1)
    md = f"""# Dataset datasheet

## Overview

- documents: **{o['n_docs']}**
- total characters: {o['total_chars']} (avg {o['avg_chars']}/doc)
- total whitespace tokens: {o['total_tokens']}
- Gopher quality gate pass rate: **{pct_keep:.1f}%** ({gate['kept']}/{gate['n']})
- exact-duplicate documents: **{pct_dup:.1f}%** ({dup['dup_docs']} of {dup['docs']}; {dup['distinct_texts']} distinct normalized texts)

## By source

{table(by_source, 'source')}

## By language

{table(by_lang, 'lang')}
"""
    with open(out_path, "w") as fh:
        fh.write(md)


FIM_PREFIX_TAG = "<fim_prefix>"
FIM_SUFFIX_TAG = "<fim_suffix>"
FIM_MIDDLE_TAG = "<fim_middle>"


def fim_transform(
    df: DataFrame,
    fim_rate: float = 0.5,
    spm_rate: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "fim",
) -> DataFrame:
    """Deterministic fill-in-the-middle transformation (the FIM
    pretraining objective, Bavarian et al. 2022: moving a document's
    middle behind its suffix teaches infilling for free): with
    probability ``fim_rate`` a document splits at two md5-derived
    token cut points into (prefix, middle, suffix) and renders in PSM
    format — ``<fim_prefix>P<fim_suffix>S<fim_middle>M`` — or, with
    probability ``spm_rate`` among transformed docs, in SPM format —
    ``<fim_prefix><fim_suffix>S<fim_middle>P M`` (the joint PSM+SPM
    training mix the paper recommends); the rest pass through
    verbatim.

    Every decision (apply, mode, both cut points) derives from
    ``md5(id:salt:tag)`` — re-runs, repartitioning, epochs, and
    cluster size cannot change which documents transform or where
    they split (the span_corruption determinism convention), and a
    SQL oracle replays the schedule exactly.

    One narrow projection over the scan: tokenize, two hash mods for
    the cuts, three slices, one concat — no shuffle, no UDF. Output:
    (id, fim_applied, mode, n_prefix, n_middle, n_suffix, rendered).
    """
    if not 0 <= fim_rate <= 1 or not 0 <= spm_rate <= 1:
        raise ValueError("need 0 <= fim_rate <= 1 and 0 <= spm_rate <= 1")
    apply_thr = sample_threshold_hex(fim_rate)
    spm_thr = sample_threshold_hex(spm_rate)

    def h8(tag: str) -> Column:
        return F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(":" + salt + ":" + tag),
                )
            ),
            1,
            8,
        )

    def cut(tag: str, n: Column) -> Column:
        # uniform cut point in [0, n] — 12 hex digits = 48 bits, the
        # shard_of convention, so DuckDB replays the mod verbatim
        h48 = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(":" + salt + ":" + tag),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h48, n + 1)

    toks = df.select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        tokens(F.col(text_col)).alias("_tk"),
    )
    n = F.size("_tk")
    # NULL text (size -> NULL) never transforms: coalesce pins the
    # apply predicate to FALSE so the row passes through (rendered =
    # the original NULL) instead of poisoning the whole row NULL
    applied = (h8("apply") < F.lit(apply_thr)) & (
        F.coalesce(n, F.lit(0)) >= 2
    )
    spm = h8("mode") < F.lit(spm_thr)
    c1, c2 = cut("c1", n), cut("c2", n)
    lo, hi = F.least(c1, c2), F.greatest(c1, c2)
    pfx = F.array_join(F.slice(F.col("_tk"), 1, lo), " ")
    mid = F.array_join(
        F.slice(F.col("_tk"), lo + 1, hi - lo), " "
    )
    sfx = F.array_join(
        F.slice(F.col("_tk"), hi + 1, n - hi), " "
    )
    psm = F.concat(
        F.lit(FIM_PREFIX_TAG), pfx,
        F.lit(FIM_SUFFIX_TAG), sfx,
        F.lit(FIM_MIDDLE_TAG), mid,
    )
    spm_r = F.concat(
        F.lit(FIM_PREFIX_TAG), F.lit(FIM_SUFFIX_TAG), sfx,
        F.lit(FIM_MIDDLE_TAG), pfx,
        F.when((lo > 0) & (hi > lo), F.lit(" ")).otherwise(F.lit("")),
        mid,
    )
    mode = F.when(~applied, F.lit("none")).when(spm, F.lit("spm")).otherwise(
        F.lit("psm")
    )
    return toks.select(
        F.col(id_col),
        applied.alias("fim_applied"),
        mode.alias("mode"),
        F.when(applied, lo).otherwise(F.lit(0)).cast("int").alias("n_prefix"),
        F.when(applied, hi - lo).otherwise(F.lit(0)).cast("int").alias("n_middle"),
        F.when(applied, n - hi).otherwise(F.lit(0)).cast("int").alias("n_suffix"),
        F.when(~applied, F.col("_text"))
        .when(spm, spm_r)
        .otherwise(psm)
        .alias("rendered"),
    )
