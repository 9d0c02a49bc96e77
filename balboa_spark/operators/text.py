"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in Column functions (JVM-side,
whole-stage codegen); no Python UDFs. Each operator has a DuckDB-SQL
twin in entry_queries_docs.py so the driver's oracle hash-checks it.

Operators:
- tokenize / token_count: whitespace + BPE-ish regex token counting
- lang_id: n-gram/stopword-ratio language heuristic
- quality_score: length / punctuation / stopword / repetition signals
- fingerprint: normalized-text hash + shingle fingerprint (rolling-
  hash analog)
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword lists (deterministic, oracle-shared).
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pas"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "no"),
}

#: BPE-ish token regex: runs of word chars, or single non-space symbol
#: — a cheap stand-in for a byte-pair pre-tokenizer's word split.
BPE_TOKEN_RE = r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text (empty strings removed)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count via regexp extraction (regexp_count is
    equivalent to len(regexp_extract_all(...)) and stays codegen'd)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def _stopword_hits_from_tokens(toks: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def _lang_id_from_tokens(toks: Column) -> Column:
    """:func:`lang_id` over an already-staged token array — callers
    with a multi-signal projection alias the array once so the four
    per-language scans share ONE tokenize (Column expressions cannot
    alias subtrees; only a projection stage can)."""
    scores = {
        lang: _stopword_hits_from_tokens(toks, lang)
        for lang in sorted(STOPWORDS)
    }
    langs = sorted(STOPWORDS)
    best = F.lit("und")
    best_score = F.lit(0)
    # iterate in reverse-alphabetical order with strict > so that the
    # alphabetically-first language wins ties
    for lang in reversed(langs):
        s = scores[lang]
        take = s >= best_score  # later (alphabetically earlier) wins ties
        best = F.when(take & (s > 0), F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return best


def lang_id(text: Column) -> Column:
    """Language with the highest stopword-hit ratio; 'und' when no list
    scores > 0. Deterministic tie-break: alphabetical language order
    wins (de > en > es > fr precedence encoded by >= comparisons)."""
    return _lang_id_from_tokens(tokens(text))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1] (rounded to 4 decimals):

        0.25 * min(1, n_tokens/64)          -- enough content
      + 0.25 * (1 - punct_ratio)            -- not symbol soup
      + 0.25 * min(1, 4*stopword_ratio)     -- natural-language-ness
      + 0.25 * (distinct_tokens/n_tokens)   -- not repetitive

    Every term is a plain column expression; the same arithmetic runs
    in the DuckDB oracle.
    """
    return _quality_score_from_tokens(text, tokens(text))


def _quality_score_from_tokens(text: Column, toks: Column) -> Column:
    """:func:`quality_score` with the token array supplied — see
    :func:`_lang_id_from_tokens` for why staged callers pass it."""
    n = F.size(toks)
    n_d = n.cast("double")
    punct = F.regexp_count(text, F.lit(r"[^\w\s]")).cast("double")
    chars = F.length(text).cast("double")
    sw = F.size(F.filter(toks, lambda t: F.array_contains(_all_stopwords(), t))).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_d
    score = (
        0.25 * F.least(F.lit(1.0), n_d / 64.0)
        + 0.25 * (1.0 - punct / F.greatest(chars, F.lit(1.0)))
        + 0.25 * F.least(F.lit(1.0), 4.0 * sw / F.greatest(n_d, F.lit(1.0)))
        + 0.25 * distinct_ratio
    )
    return F.when(n > 0, F.round(score, 4)).otherwise(F.lit(0.0))


def _all_stopwords() -> Column:
    flat = sorted({w for ws in STOPWORDS.values() for w in ws})
    return F.array(*[F.lit(w) for w in flat])


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text — the exact-dedup key."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "))


def _shingle_fingerprint_from_tokens(toks: Column, k: int = 3) -> Column:
    return F.array_min(
        F.transform(_shingles(toks, k), lambda s: F.md5(s))
    )


def _shingles(toks: Column, k: int) -> Column:
    """Word k-shingles as ' '-joined strings; empty array if fewer than
    k tokens."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    return F.when(n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))).otherwise(
        F.array().cast("array<string>")
    )


def split_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
) -> DataFrame:
    """Regex sentence segmentation: a sentence is a maximal run of
    non-terminator characters plus its trailing terminators
    (``[^.!?]+[.!?]*``) — extract-based rather than lookbehind-split
    so the SAME pattern runs under Java regex (Spark) and RE2
    (DuckDB, no lookbehind support). Segments trim and drop below
    ``min_chars``; ``sent_idx`` is the segment's position BEFORE the
    length filter, so surviving sentences keep their original
    ordering slots. One row per sentence — the unit a quality filter,
    per-sentence dedup, or an alignment pipeline operates on.
    Deliberately rule-based (no model), so it is oracle-checkable;
    abbreviation-aware splitting is a model-backed upgrade with the
    same output shape.

    Pure posexplode of regexp_extract_all — no shuffle, no UDF.

    Output: (id, sent_idx, sentence, n_chars).
    """
    # idx=0 (whole match): Spark defaults to capture group 1
    parts = F.regexp_extract_all(F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), 0)
    ex = df.select(
        F.col(id_col), F.posexplode(parts).alias("sent_idx", "_raw")
    ).select(
        id_col, "sent_idx", F.trim(F.col("_raw")).alias("sentence")
    )
    return ex.filter(F.length("sentence") >= min_chars).select(
        id_col,
        "sent_idx",
        "sentence",
        F.length("sentence").alias("n_chars"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    via: str = "window",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character k-gram of
    the normalized text, slide a window of ``w`` consecutive hashes,
    and select each window's minimal hash (rightmost on ties). The
    selected (position, hash) set is the document's fingerprint — it
    guarantees any shared substring of length >= w + k - 1 between two
    documents yields at least one shared fingerprint, at density
    ~2/(w+1), which positional md5-of-everything and MinHash both
    cannot promise.

    Output: (id, pos, fp) — pos is the 0-based k-gram offset, fp the
    gram's md5 (hex strings order consistently across engines).

    Plan (``via="window"``, default): O(chars) gram rows, then one
    per-doc window pass — frame min(struct(h,-p)) over ROWS [CURRENT,
    w-1 FOLLOWING] at each valid window start — and a distinct. The
    window partition is one document, so a task holds at most one
    doc's grams (fine while docs are ≤ tens of MB — the usual corpus
    contract; chunk pathological inputs upstream).

    ``via="explode"`` is the mega-document alternative: each hash
    fans out to its <= w covering windows (O(w*chars) rows) into a
    map-side-combining groupBy(doc, window) whose shuffle keys spread
    ONE document across the cluster. Identical output (parity-tested);
    ~w x the rows for skew immunity.

    Documents shorter than k characters (no grams) emit nothing.
    """
    from pyspark.sql import Window

    t = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    base = (
        df.select(F.col(id_col), t.alias("_t"))
        .withColumn("_n", F.length("_t") - (k - 1))
        .filter(F.col("_n") >= 1)
    )
    grams = base.select(
        id_col,
        "_n",
        F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("_i"),
        "_t",
    ).select(
        id_col,
        "_n",
        (F.col("_i") - 1).alias("_p"),
        F.md5(F.col("_t").substr(F.col("_i"), F.lit(k))).alias("_h"),
    )
    if via == "window":
        frame = (
            Window.partitionBy(id_col)
            .orderBy("_p")
            .rowsBetween(Window.currentRow, w - 1)
        )
        sel = (
            grams.withColumn(
                "_m",
                F.min(F.struct(F.col("_h"), (-F.col("_p")).alias("_np"))).over(
                    frame
                ),
            )
            # row at _p is window start q=_p; only starts within
            # [0, n_grams - w] are real windows (q=0 alone when n < w)
            .filter(F.col("_p") <= F.greatest(F.col("_n") - w, F.lit(0)))
        )
    else:
        # each gram at p belongs to window starts q in [p-w+1, p]
        # clipped to [0, n_grams - w]
        windows = grams.select(
            id_col,
            "_p",
            "_h",
            F.explode(
                F.sequence(
                    F.greatest(F.col("_p") - (w - 1), F.lit(0)),
                    F.least(F.col("_p"), F.greatest(F.col("_n") - w, F.lit(0))),
                )
            ).alias("_q"),
        )
        sel = windows.groupBy(id_col, "_q").agg(
            F.min(F.struct(F.col("_h"), (-F.col("_p")).alias("_np"))).alias("_m")
        )
    return (
        sel.select(
            id_col,
            (-F.col("_m._np")).alias("pos"),
            F.col("_m._h").alias("fp"),
        )
        .distinct()
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass profile: id, token counts, language guess, quality,
    fingerprints. Two staged projections, no shuffle, no UDF: the
    token array is aliased once and every token-derived signal reads
    the staged column — unstaged, the six signals re-ran the tokenize
    chain ~13x per row (40 split(lower...) nodes in the r16 plan
    audit; CollapseProject keeps a multi-referenced non-cheap alias
    staged, so this holds in the optimized plan)."""
    t = F.col(text_col)
    staged = df.select(F.col(id_col), t.alias("_t"), tokens(t).alias("_tk"))
    tk = F.col("_tk")
    return staged.select(
        F.col(id_col),
        F.size(tk).alias("n_tokens"),
        bpe_token_count(F.col("_t")).alias("n_bpe_tokens"),
        _lang_id_from_tokens(tk).alias("lang_guess"),
        _quality_score_from_tokens(F.col("_t"), tk).alias("quality"),
        fingerprint(F.col("_t")).alias("fp_exact"),
        _shingle_fingerprint_from_tokens(tk).alias("fp_shingle"),
    )


def compression_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document compression-ratio quality signal: highly
    repetitive or templated text compresses far below natural prose,
    so deflate ratio is a cheap one-number redundancy detector used by
    large-corpus quality filters alongside the Gopher-style signals in
    operators/corpus.py.

    The compressor is CPU-bound C code with no SQL equivalent, so this
    is the engine's designated pattern for that class of metric: an
    Arrow-batched ``pandas_udf`` (one Python invocation per batch, the
    zlib loop itself in C), never a row-at-a-time Python UDF. Pure
    projection — no shuffle; Parquet prunes to (id, text).

    Ratio is bytes_deflate / bytes_utf8 (level 6), NULL for empty or
    NULL text. Unit-tested (sketch-internal-style: no SQL oracle can
    replay deflate)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _deflated_len(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6)) if t else None
        )

    # byte length stays JVM-side; only the deflate itself crosses Arrow
    n = F.nullif(F.octet_length(F.col(text_col)), F.lit(0))
    return df.select(
        F.col(id_col),
        n.alias("n_bytes"),
        _deflated_len(F.col(text_col)).alias("z_bytes"),
    ).withColumn(
        "compression_ratio",
        F.round(F.col("z_bytes") / F.col("n_bytes"), 4),
    )


def normalize_unicode(
    df: DataFrame,
    form: str = "NFC",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the canonical first
    stage of multilingual corpus cleaning: composed vs decomposed
    accents ('é' vs 'e'+COMBINING ACUTE) and compatibility forms
    (ligatures, full-width digits under NFKC) otherwise make visually
    identical text hash differently, silently defeating exact dedup
    and fingerprinting. Output: (id, norm_text, changed).

    Spark has no built-in normalizer, so this is the same designated
    Arrow seam as :func:`compression_signals`: one pandas_udf call per
    batch, ``unicodedata.normalize`` (ICU-backed C) inside. Pure
    projection — no shuffle; the changed flag is computed JVM-side
    from the strings. The NFC form is SQL-replayable (DuckDB
    nfc_normalize) and driver-graded; the other forms share the
    identical code path."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    return df.select(
        F.col(id_col),
        _norm(F.col(text_col)).alias("norm_text"),
        F.col(text_col).alias("_orig"),
    ).select(
        id_col,
        "norm_text",
        (~F.col("norm_text").eqNullSafe(F.col("_orig"))).alias("changed"),
    )


# --- HTML -> text extraction (crawl pipeline: WARC payload -> documents) ---

#: Ordered (pattern, replacement) regex chain shared VERBATIM by the
#: Spark Column (html_to_text) and the DuckDB oracle (html_to_text_sql)
#: — the shared-constants oracle pattern. Patterns are written to the
#: common subset of Java regex and RE2: inline (?is) flags,
#: non-greedy, \b, no lookaround, no backreferences.
HTML_TEXT_RULES: tuple[tuple[str, str], ...] = (
    # non-content elements go first, whole-element
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level tags become line breaks, everything else a space
    (
        r"(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|blockquote"
        r"|section|article|header|footer|pre|title)\b[^>]*>",
        "\n",
    ),
    (r"<[^>]+>", " "),
    # the common entities (fixed map — a declared heuristic, not a
    # full HTML5 entity table); &amp; decodes LAST so double-encoded
    # text is not decoded twice
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    # whitespace canon: collapse runs, tighten around newlines, cap
    # blank lines at one, strip the ends
    (r"[ \t\r\f]+", " "),
    (r" *\n *", "\n"),
    (r"\n{3,}", "\n\n"),
    # end-strips use an explicit class, NOT \s: Java's \s matches
    # vertical tab (\x0B), RE2's does not — \s here would break the
    # engine-parity contract on real crawl payloads
    (r"^[ \t\r\n\f]+", ""),
    (r"[ \t\r\n\f]+$", ""),
)


def html_to_text(html: Column) -> Column:
    """Boilerplate-free(ish) text from an HTML payload — the step
    between a raw-crawl WARC record (sources/wet.py) and the
    documents table, in the spirit of the WET conversion itself:
    drop script/style/comments, turn block tags into line breaks,
    strip remaining tags, decode the common entities, canonicalize
    whitespace. Pure whole-stage-codegen regexp_replace chain — no
    UDF, no shuffle; a declared heuristic (regexes, not an HTML5
    tree parser), which is exactly what WET extraction is too."""
    out = html
    for pat, rep in HTML_TEXT_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def _duck_estr(s: str) -> str:
    """Render s as a DuckDB e'...' escape-string literal."""
    body = (
        s.replace("\\", "\\\\").replace("'", "''").replace("\n", "\\n")
    )
    return f"e'{body}'"


def html_to_text_sql(expr: str) -> str:
    """The DuckDB replay of html_to_text over SQL expression ``expr``:
    the same HTML_TEXT_RULES chain as nested regexp_replace(..., 'g')
    calls (RE2 runs the identical patterns)."""
    out = expr
    for pat, rep in HTML_TEXT_RULES:
        out = f"regexp_replace({out}, {_duck_estr(pat)}, {_duck_estr(rep)}, 'g')"
    return out


# -- main-content extraction (block-level boilerplate gate) ------------------

# HTML_TEXT_RULES is consumed in three named slices below; the assert
# pins the index coupling so a rule-table edit cannot silently shift
# the block boundary out from under the slicer.
_NONCONTENT_RULES = HTML_TEXT_RULES[:3]  # script/style/comments
_BLOCK_BREAK_RE = HTML_TEXT_RULES[3][0]  # block-level tag boundary
_INLINE_RULES = HTML_TEXT_RULES[4:]  # tag strip, entities, whitespace
assert HTML_TEXT_RULES[3][1] == "\n", "block-break rule moved"

#: Block gate defaults — the shallow-text-features heuristic of
#: Kohlschuetter et al. 2010 ("Boilerplate Detection Using Shallow
#: Text Features"): navigation/footer chrome is SHORT and LINK-DENSE,
#: article text is long and link-sparse. Declared constants so entry
#: oracles share them.
MAIN_MIN_BLOCK_CHARS = 80
MAIN_MAX_LINK_DENSITY = 0.33

#: anchor inner text (the characters that count toward link density)
_ANCHOR_TEXT_RE = r"(?is)<a\b[^>]*>(.*?)</a>"


def extract_main_content(
    html: Column,
    min_block_chars: int = MAIN_MIN_BLOCK_CHARS,
    max_link_density: float = MAIN_MAX_LINK_DENSITY,
) -> Column:
    """Main-content text from an HTML payload: where
    :func:`html_to_text` keeps EVERYTHING the page renders (nav bars,
    footers, cookie banners), this gates at BLOCK granularity — split
    the page on block-level tags, keep only blocks whose stripped
    text is long enough (``min_block_chars``) and whose anchor-text
    share is low enough (``max_link_density``), join the keepers with
    newlines. The trafilatura/Boilerpipe step of a crawl pipeline as
    a pure whole-stage-codegen expression: split + transform/filter
    higher-order functions over the block array, regexp chains per
    block — no UDF, no shuffle, one row in one row out.

    Link density counts raw anchor INNER text characters against the
    block's stripped text length (both before entity decode — a
    declared, engine-replayable simplification).
    ``extract_main_content_sql`` replays the identical chain in
    DuckDB."""
    page = html
    for pat, rep in _NONCONTENT_RULES:
        page = F.regexp_replace(page, pat, rep)
    blocks = F.split(page, _BLOCK_BREAK_RE)

    def _txt(b: Column) -> Column:
        out = b
        for pat, rep in _INLINE_RULES:
            out = F.regexp_replace(out, pat, rep)
        return out

    def _anchor_chars(b: Column) -> Column:
        return F.coalesce(
            F.aggregate(
                F.transform(
                    F.regexp_extract_all(b, F.lit(_ANCHOR_TEXT_RE), F.lit(1)),
                    F.length,
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
            F.lit(0),
        )

    scored = F.transform(
        blocks,
        lambda b: F.struct(_txt(b).alias("t"), _anchor_chars(b).alias("a")),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["t"]) >= F.lit(int(min_block_chars)))
        & (
            s["a"].cast("double")
            <= F.lit(float(max_link_density)) * F.length(s["t"]).cast("double")
        ),
    )
    return F.array_join(F.transform(kept, lambda s: s["t"]), "\n")


def extract_main_content_sql(
    expr: str,
    min_block_chars: int = MAIN_MIN_BLOCK_CHARS,
    max_link_density: float = MAIN_MAX_LINK_DENSITY,
) -> str:
    """The DuckDB replay of :func:`extract_main_content` over SQL
    expression ``expr``: identical regex slices, split, per-block
    struct, density filter, newline join."""
    page = expr
    for pat, rep in _NONCONTENT_RULES:
        page = (
            f"regexp_replace({page}, {_duck_estr(pat)}, "
            f"{_duck_estr(rep)}, 'g')"
        )

    def _txt(b: str) -> str:
        out = b
        for pat, rep in _INLINE_RULES:
            out = (
                f"regexp_replace({out}, {_duck_estr(pat)}, "
                f"{_duck_estr(rep)}, 'g')"
            )
        return out

    anchor = (
        "coalesce(list_sum(list_transform(regexp_extract_all(b, "
        f"{_duck_estr(_ANCHOR_TEXT_RE)}, 1), y -> length(y))), 0)"
    )
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — an all-chrome page must agree as ''
    return (
        "coalesce(array_to_string(list_transform(list_filter(list_transform("
        f"string_split_regex({page}, {_duck_estr(_BLOCK_BREAK_RE)}), "
        f"b -> struct_pack(t := {_txt('b')}, a := {anchor})), "
        f"s -> length(s.t) >= {int(min_block_chars)} "
        f"AND s.a <= {float(max_link_density)!r} * length(s.t)), "
        "s -> s.t), chr(10)), '')"
    )
