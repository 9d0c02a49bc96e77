"""Z-order (Morton) layout codes — multi-column data clustering.

The dual-sorted store (plans/layout.py) prunes on ONE key per layout,
mirroring the reference's two keyspaces (`o`/`i`). When queries filter
on TWO dimensions at once (user AND time window; rrname AND sensor), a
single sort order leaves one dimension unclustered: every file spans
the full range of the second key, so min/max file skipping never fires
for it. Interleaving the bits of both keys (the Morton / Z-order
curve — the standard multi-dimensional clustering technique in lakehouse
table formats) bounds EVERY file's extent in BOTH dimensions: sorting
by zcode and cutting into equal chunks yields near-square tiles, so a
predicate on either column prunes ~sqrt(files) instead of none.

Everything here is a pure Column expression (quantize + shift/mask
interleave — whole-stage codegen, no UDF, no shuffle); the only
non-projection step is the single-row min/max aggregate broadcast back
(the quality_bins pattern). The layout write itself is the ordinary
repartitionByRange(zcode) + sortWithinPartitions any layout build pays.

Quantization is EXACT integer arithmetic — ((x - mn) * (2^bits - 1))
div (mx - mn) — so codes are bit-identical across engines (no float
rounding at bucket boundaries); the SQL oracle mirrors it verbatim.
Linear min/max scaling assumes roughly uniform keys (ids, epochs);
for heavy skew substitute rank-based bucketing (percentile_approx
boundaries) upstream — the interleave is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_interleave(qa: Column, qb: Column, bits: int) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integral
    columns: result bit 2i = qa bit i, bit 2i+1 = qb bit i. A chain of
    2*bits shift/mask/or terms — pure codegen. ``bits`` caps at 31:
    bit 2*31+1 = 63 is the BIGINT sign bit, which would invert code
    ordering."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    out: Column = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(qa, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(qb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out


def zorder_code(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = 8,
    out_col: str = "zcode",
) -> DataFrame:
    """Append the Morton code of (col_a, col_b) quantized to
    ``bits``-bit grid cells via exact integer min/max scaling.

    Both columns must be integral (convert timestamps with
    unix_micros first). A constant column quantizes to cell 0. The
    min/max relation is ONE row, broadcast back; at 100 TB the
    aggregate is the only pre-pass and is map-side combined.

    Range bound: the exact-integer scaling computes
    (x - mn) * (2^bits - 1) in BIGINT, so a column whose SPAN exceeds
    ~2^63 / 2^bits overflows (ANSI error on Spark 4, identical error
    in DuckDB — never a silent divergence). Natural keys (ids,
    epochs) are far inside the bound at bits=8 (span < 3.6e16);
    full-range 64-bit HASH values are not — right-shift such a column
    first (``x >> bits`` preserves the quantization cells exactly
    when span >> 2^bits).
    """
    top = (1 << bits) - 1
    agg = df.agg(
        F.min(col_a).alias("_mna"),
        F.max(col_a).alias("_mxa"),
        F.min(col_b).alias("_mnb"),
        F.max(col_b).alias("_mxb"),
    )
    j = df.crossJoin(F.broadcast(agg))
    # arithmetic in BIGINT: an INT column spanning > ~INT_MAX/top would
    # overflow (x - mn) * top in its own type (ANSI ArithmeticException
    # on Spark 4, silent wrap with ANSI off)
    qa = F.when(F.col("_mxa") == F.col("_mna"), F.lit(0).cast("long")).otherwise(
        F.expr(
            f"((CAST({col_a} AS BIGINT) - CAST(_mna AS BIGINT)) * {top})"
            f" div (CAST(_mxa AS BIGINT) - CAST(_mna AS BIGINT))"
        )
    )
    qb = F.when(F.col("_mxb") == F.col("_mnb"), F.lit(0).cast("long")).otherwise(
        F.expr(
            f"((CAST({col_b} AS BIGINT) - CAST(_mnb AS BIGINT)) * {top})"
            f" div (CAST(_mxb AS BIGINT) - CAST(_mnb AS BIGINT))"
        )
    )
    return j.withColumn(out_col, morton_interleave(qa, qb, bits)).drop(
        "_mna", "_mxa", "_mnb", "_mxb"
    )


def zorder_oracle_expr(col_a: str, col_b: str, bits: int = 8) -> str:
    """The DuckDB twin of zorder_code's quantize+interleave for a
    relation exposing (col_a, col_b) and the min/max columns _mna,
    _mxa, _mnb, _mxb — same exact integer arithmetic."""
    top = (1 << bits) - 1
    qa = (
        f"(CASE WHEN _mxa = _mna THEN 0 ELSE "
        f"((CAST({col_a} AS BIGINT) - CAST(_mna AS BIGINT)) * {top})"
        f" // (CAST(_mxa AS BIGINT) - CAST(_mna AS BIGINT)) END)"
    )
    qb = (
        f"(CASE WHEN _mxb = _mnb THEN 0 ELSE "
        f"((CAST({col_b} AS BIGINT) - CAST(_mnb AS BIGINT)) * {top})"
        f" // (CAST(_mxb AS BIGINT) - CAST(_mnb AS BIGINT)) END)"
    )
    terms = []
    for i in range(bits):
        terms.append(f"((({qa} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qb} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)
