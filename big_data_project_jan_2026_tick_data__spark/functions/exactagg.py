"""Exact (order-independent) aggregation of fixed-decimal doubles.

The money/measure columns in this engine's tables are exact at a known
decimal scale (prices/discounts/balances 2 dp, o_totalprice 4 dp, the
events value 2 dp — verified against the testdata), so their sums can
be EXACT integer arithmetic instead of order-sensitive float sums:
split each value into its integer part and its 10^-k fractional
remainder (both recovered exactly — the double is within ~1e-11 of the
true decimal, far inside the 0.5 snap margin), sum the two parts as
BIGINT, and recombine once per group.

Why integer: a float SUM over a large group differs between engines
(and between partitionings) by ~sqrt(n)·eps relative — at sf0.1 a
revenue-sum cell lands within a ROUND(,2) boundary with non-trivial
probability, the same cross-engine flip class the detmath migration
eliminated for transcendentals.  Integer sums are exact in any order,
so the quantized output cannot flip, by construction.

Why the whole/frac SPLIT instead of one accumulator (r7, judge A/B):
- one decimal(38,0) accumulator is exact at any scale but prices the
  hash agg at ~1.7× (tpch_q1 warm 0.65 s vs 0.40 s split vs 0.26 s
  unsafe double, sf0.1 local[32], 2026-08-15 idle host — recorded in
  BASELINE.md);
- one BIGINT accumulator of floor(x·10^k + 0.5) is fast but silently
  wraps at corpus scale: a k=6 grid on a ~1e5-magnitude measure is
  ~1e11 per row, and a 100 TB lineitem group (~1.5e11 rows) overflows
  int64 by 3 orders of magnitude;
- the split keeps both sums in range with wide headroom FOR k<=6 —
  integer parts sum to ≤ ~1.65e16 (1.1e5 × 1.5e11) and remainders to
  < 10^k × n ≈ 1.5e17 — and stays a cheap long-sum pipeline.  Above
  k=6 the remainder headroom evaporates (k=9 wraps at ~9.2e9 rows per
  group, k=12 at ~9.2e6), so ``_frac_sum`` switches the fractional
  accumulator to decimal(38,0) there: fine-grid consumers (log-return
  moments, unit-vector components) pay the decimal premium, the money
  columns never do.

Magnitude bound for the fine grids: the per-value snap recovers the
true decimal only while the double's representation error stays inside
half a grid unit — |x|·2^-53·10^k < 0.5, i.e. |x| < ~4.5e(15-k).
Unbounded in practice at k<=6; at k=12 it means |x| < ~4.5e3. Every
k>6 consumer here is log-return-scale (|x| <= ~10, 400x inside the
bound). CROSS-ENGINE PARITY is magnitude-independent either way (both
engines snap the same binary64 identically); the bound concerns only
agreement with the ideal decimal value
(test_exactagg_split_matches_decimal_reference).

Spark/DuckDB pairs are emitted from one recipe (cf. detmath): the
Spark Column and the oracle SQL string perform structurally identical
IEEE arithmetic (floor/multiply/subtract/divide, round-to-nearest), so
given identical inputs the recombined double is bit-identical across
engines.  ``x - floor(x)`` is exact in binary64 for |x| < 2^52 (the
difference fits the mantissa), so the remainder snap has the same
margin as the direct ``floor(x·10^k + 0.5)`` snap.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .scalars import half_up


def _pow10(k: int) -> float:
    return float(10**k)


def _split(col: Column, k: int) -> tuple[Column, Column]:
    """(integer part, 10^-k fractional remainder) as exact BIGINTs.
    The remainder may equal 10^k when the value sits on the next whole
    unit's grid point (e.g. 2.9999995 at k=6 → (2, 1_000_000)); the
    recombination ``w + f/10^k`` is still exact, so no carry pass is
    needed."""
    w = F.floor(col).cast("long")
    f = half_up((col - w) * F.lit(_pow10(k))).cast("long")
    return w, f


def _frac_sum(f: Column, k: int) -> Column:
    """Fractional-remainder accumulator with per-k overflow headroom.

    Each remainder is < 10^k, so a BIGINT sum wraps at ~9.2e18/10^k rows
    per group: ample at k<=6 (>9.2e11 rows — beyond a 100 TB lineitem
    group), but only ~9.2e9 rows at k=9 and ~9.2e6 at k=12 (advisor r7:
    with ANSI off Spark wraps SILENTLY while DuckDB widens to HUGEINT —
    the exact cross-engine divergence this module exists to kill).  For
    k>6 accumulate in decimal(38,0) instead — exact at any group size;
    the ~1.7x hash-agg premium (r7 A/B) is paid only by the fine-grid
    analytics consumers, never the k<=6 money-column hot path."""
    return F.sum(f) if k <= 6 else F.sum(f.cast("decimal(38,0)"))


def exact_sum(col: Column, k: int) -> Column:
    """Σ col as exact integer arithmetic on the 10^-k grid, returned as
    DOUBLE.  BIGINT whole-part accumulator (in range at 100 TB group
    sizes for any k: |whole| sums are value-magnitude-bounded) plus a
    per-k fractional accumulator — BIGINT for k<=6, decimal(38,0) above
    (see :func:`_frac_sum`).  Order-independent at every k."""
    w, f = _split(col, k)
    return F.sum(w).cast("double") + _frac_sum(f, k).cast("double") / F.lit(
        _pow10(k)
    )


def exact_sum_sql(expr: str, k: int) -> str:
    """DuckDB mirror of :func:`exact_sum` — structurally identical
    whole/frac split (SUM(BIGINT) auto-widens to HUGEINT; the final
    casts keep the combining arithmetic in binary64 like Spark)."""
    w = f"CAST(FLOOR({expr}) AS BIGINT)"
    f_ = f"CAST(FLOOR(({expr} - FLOOR({expr})) * 1e{k} + 0.5) AS BIGINT)"
    return (
        f"(CAST(SUM({w}) AS DOUBLE)"
        f" + CAST(SUM({f_}) AS DOUBLE) / 1e{k})"
    )


def exact_avg(col: Column, k: int) -> Column:
    """Mean over the 10^-k grid: exact split-sum divided by the
    non-null count — order-independent."""
    return exact_sum(col, k) / F.count(col)


def exact_avg_sql(expr: str, k: int) -> str:
    return f"({exact_sum_sql(expr, k)} / COUNT({expr}))"


def dec_round_div(p: Column, q: Column) -> Column:
    """Round-half-up of the EXACT rational p/q for nonnegative
    integer-valued decimal columns, computed entirely in decimal
    arithmetic: ``(2p + q) div (2q)`` via subtract-remainder-divide, so
    the result is exact for any magnitude that fits decimal(38,0).

    This exists because ``F.floor(<double>)`` returns a BIGINT: a
    per-GROUP grid snap like ``floor(s_g^2/n_g * 1e6 + 0.5)`` silently
    wraps past 9.2e18 — invisible at the sf0.01 gate, catastrophic at
    10M rows (negative ANOVA F statistics; found by the round-12
    10M-row value-oracle parity lane). Per-ROW snaps with bounded
    magnitudes may keep the cheap double floor; any snap of an
    aggregate-derived ratio must use this.

    The division is exact despite Spark's decimal-division rounding
    rules: the numerator is reduced by its remainder first, so the
    quotient is integral and any result scale >= 0 represents it
    exactly (quotients up to ~1e32 fit precision 38 / scale 6).
    DuckDB twin: ``(2*p + q) // (2*q)`` in HUGEINT."""
    num = p * F.lit(2).cast("decimal(19,0)") + q
    den = q * F.lit(2).cast("decimal(19,0)")
    r = F.pmod(num, den)
    return ((num - r) / den).cast("decimal(38,0)")
