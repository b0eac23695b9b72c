"""Scalar function helpers (SURVEY §2.8 F1-F11) — thin, composable Column
builders; everything stays a Catalyst expression."""

from __future__ import annotations

import datetime as _dt
import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schemas import TICKS_TS_FORMAT

_INTERVAL_UNITS = (
    "microsecond",
    "millisecond",
    "second",
    "minute",
    "hour",
    "day",
    "week",
)
_INTERVAL_RE = _re.compile(
    r"^\s*(\d+)\s+(" + "|".join(_INTERVAL_UNITS) + r")s?\s*$",
    _re.IGNORECASE,
)


def interval_expr(spec: str | int | _dt.timedelta, unit: str | None = None) -> Column:
    """Validated INTERVAL literal (advisor r6): every operator that
    renders a caller-supplied gap/step/horizon into ``F.expr(f"INTERVAL
    {..}")`` goes through here, so a malformed (or attacker-influenced)
    string raises a clear ``ValueError`` instead of an opaque Catalyst
    parse error — or, worse, splicing an arbitrary expression into the
    plan.

    Accepts ``datetime.timedelta`` (rendered exactly as microseconds;
    may be negative — timezone shifts), an ``int`` count with an
    explicit ``unit`` (may be negative), or a non-negative
    ``'<n> <unit>'`` string (units: microsecond/millisecond/second/
    minute/hour/day/week, optional plural, any case)."""
    if isinstance(spec, _dt.timedelta):
        us = round(spec.total_seconds() * 1_000_000)
        return F.expr(f"INTERVAL {us} MICROSECOND")
    if isinstance(spec, bool):  # bool is an int subclass — reject explicitly
        raise ValueError(f"invalid interval spec: {spec!r}")
    if isinstance(spec, int):
        if unit is None:
            raise ValueError("integer interval spec requires a unit")
        u = str(unit).strip().lower().rstrip("s")
        if u not in _INTERVAL_UNITS:
            raise ValueError(
                f"invalid interval unit {unit!r}: expected one of "
                f"{_INTERVAL_UNITS}"
            )
        return F.expr(f"INTERVAL {spec} {u.upper()}")
    m = _INTERVAL_RE.match(str(spec))
    if m is None:
        raise ValueError(
            f"invalid interval spec {spec!r}: expected '<n> <unit>' with "
            f"unit in {_INTERVAL_UNITS}"
        )
    n, u = int(m.group(1)), m.group(2).lower()
    return F.expr(f"INTERVAL {n} {u.upper()}")


def half_up(x: Column) -> Column:
    """The package's one floor-half-up, ``FLOOR(x + 0.5)``. Every float
    compared with the SQL oracle is scaled onto an integer grid and
    snapped here: Spark and an IEEE-754 oracle floor the same binary
    double, so half-way values cannot disagree the way decimal-string
    HALF_UP and binary rounding do. Callers scale ``x`` themselves and
    keep their own ``.cast(...)``.

    Range condition: Spark's ``floor(double)`` returns BIGINT, so
    |x| >= 2**63 saturates to the BIGINT bounds and NaN becomes 0,
    while DuckDB's ``FLOOR`` keeps the double (``q6(1e300)`` is
    9223372036854.775 in Spark and 1e300 in DuckDB; ``q6(NaN)`` is 0.0
    against NaN). Callers keep |x| < 2**63 after scaling: |c| < 9.2e12
    for :func:`q6`, |x| < 9.2e6 on the 1e-12 grid. No registry input
    comes near, so there is no guard."""
    return F.floor(x + F.lit(0.5))


def q6(c: Column) -> Column:
    """Floor-half-up to 6 decimals, ``FLOOR(c * 1e6 + 0.5) / 1e6``
    (:func:`half_up` on the 1e-6 grid)."""
    return half_up(c * 1e6) / 1e6


def cents(c: Column) -> Column:
    """A price on the whole-cent grid, half-up, as a BIGINT:
    ``CAST(FLOOR(c * 100 + 0.5) AS BIGINT)`` in the oracle SQL. Sums
    and differences of the snapped integers are exact in both engines."""
    return half_up(c * 100).cast("long")


def parse_tick_ts(col: Column, fmt: str = TICKS_TS_FORMAT) -> Column:
    """F1: null-on-failure timestamp parse (reference
    spark_session_window_tick_cleaner.py:136 / pandas errors='coerce')."""
    return F.to_timestamp(col, fmt)


def clamped_spread(ask: Column, bid: Column) -> Column:
    """F4: max(ask-bid, 0) (model.py:207-215)."""
    return F.greatest(ask - bid, F.lit(0.0))


def sanitize_table_name(col: Column) -> Column:
    """F9: symbol → identifier-safe table name (iceberg_migration.py:113-120
    chains str.replace; one regexp here)."""
    return F.lower(F.regexp_replace(col, r"[^A-Za-z0-9_]", "_"))


def symbol_prefix(col: Column, delim: str = "-") -> Column:
    """F10: folder → symbol prefix (iceberg_migration.py:102's
    split('-')[0].lower())."""
    return F.lower(F.substring_index(col, delim, 1))


def window_id_str(ts: Column) -> Column:
    """F11: `{date}_{morning|afternoon}` key (model.py:260-272)."""
    session = F.when(F.hour(ts) < 12, "morning").otherwise("afternoon")
    return F.concat_ws("_", F.to_date(ts).cast("string"), session)
