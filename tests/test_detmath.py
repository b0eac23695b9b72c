"""Cross-engine bit-identity tests for functions.detmath.

The whole point of detmath is that Spark and DuckDB produce the SAME
double, bit for bit — not merely close — so FLOOR-grid snaps can never
flip between the engines.  These tests assert exactly that (via
struct.pack byte equality), plus libm-grade accuracy against Python's
math module.
"""

from __future__ import annotations

import math
import random
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from big_data_project_jan_2026_tick_data__spark.functions.detmath import (
    det_ln_pos_sql,
    det_log2_int_sql,
    dlit,
)
from big_data_project_jan_2026_tick_data__spark.functions.scalars import (
    cents,
    half_up,
    q6,
)


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def _log2_inputs():
    rng = random.Random(42)
    xs = set(range(1, 2001))
    for e in range(1, 52):
        xs.update({2**e - 1, 2**e, 2**e + 1})
    xs.update(rng.randrange(1, 2**52) for _ in range(2000))
    return sorted(xs)


def _ln_inputs():
    rng = random.Random(43)
    qs = [rng.uniform(1e-9, 1e9) for _ in range(2000)]
    qs += [rng.uniform(0.001, 1.0) for _ in range(500)]
    qs += [0.01, 0.5, 1.0, 2.0, 1e-9, 1e15, 1.01, 2.0**40, 1 / 3]
    # straddle binade edges where the floor-based exponent extraction
    # must still land m in [1, 2)
    qs += [math.nextafter(2.0, 1.0), math.nextafter(2.0, 3.0),
           math.nextafter(1.0, 0.0), math.nextafter(1.0, 2.0),
           4095.9999999999995, 4096.000000000001]
    return qs


def test_det_log2_int_bit_identical_and_accurate(spark):
    xs = _log2_inputs()
    sdf = spark.createDataFrame([(x,) for x in xs], "x long")
    s_val = {
        r["x"]: r["l"]
        for r in sdf.select(
            "x", F.expr(det_log2_int_sql("x", "spark")).alias("l")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    d_val = dict(
        con.execute(f"SELECT x, {det_log2_int_sql('x', 'duckdb')} FROM t").fetchall()
    )
    mismatched = [x for x in xs if _bits(s_val[x]) != _bits(d_val[x])]
    assert not mismatched, f"bit mismatches at {mismatched[:10]}"
    worst = max(abs(d_val[x] - math.log2(x)) for x in xs)
    assert worst < 1e-12, f"accuracy drift {worst}"


@pytest.mark.parametrize("assume_ge_1", [False, True])
def test_det_ln_pos_bit_identical_and_accurate(spark, assume_ge_1):
    qs = _ln_inputs()
    if assume_ge_1:
        qs = [q for q in qs if q >= 1.0]
    sdf = spark.createDataFrame([(q,) for q in qs], "q double")
    s_val = {
        _bits(r["q"]): r["l"]
        for r in sdf.select(
            "q",
            F.expr(det_ln_pos_sql("q", "spark", assume_ge_1=assume_ge_1)).alias("l"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(q DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(q,) for q in qs])
    d_val = {
        _bits(q): l
        for q, l in con.execute(
            f"SELECT q, {det_ln_pos_sql('q', 'duckdb', assume_ge_1=assume_ge_1)} FROM t"
        ).fetchall()
    }
    mismatched = [
        struct.unpack("<d", k)[0] for k in s_val if _bits(s_val[k]) != _bits(d_val[k])
    ]
    assert not mismatched, f"bit mismatches at {mismatched[:10]}"
    for q in qs:
        got = d_val[_bits(q)]
        want = math.log(q)
        assert abs(got - want) <= 1e-12 * max(1.0, abs(want)), (q, got, want)


def test_dlit_round_trips_and_parses_as_double():
    vals = [0.01, 1 / 3, 0.6931471805599453, 1.4426950408889634, 1e-300, 12345.678]
    con = duckdb.connect()
    for v in vals:
        assert float(dlit(v)) == v
        typ, parsed = con.execute(
            f"SELECT typeof({dlit(v)}), {dlit(v)}"
        ).fetchone()
        assert typ == "DOUBLE", (v, typ)
        assert _bits(parsed) == _bits(v)


def test_engine_validation():
    with pytest.raises(ValueError):
        det_log2_int_sql("x", "postgres")
    with pytest.raises(ValueError):
        det_ln_pos_sql("q", "sqlite")


@pytest.mark.parametrize("fn", ["exp2", "exp"])
def test_det_exp_bit_identical_and_accurate(spark, fn):
    from big_data_project_jan_2026_tick_data__spark.functions.detmath import (
        det_exp2_sql,
        det_exp_sql,
    )

    rng = random.Random(44)
    if fn == "exp2":
        hs = [rng.uniform(-59, 59) for _ in range(3000)]
        hs += [0.0, 1.0, -1.0, 0.5, -0.5, 59.9, -59.9,
               math.nextafter(1.0, 0.0), math.nextafter(-1.0, 0.0)]
        sql = det_exp2_sql
        ref = lambda h: 2.0**h  # noqa: E731
    else:
        hs = [rng.uniform(-40, 40) for _ in range(3000)] + [0.0, 1.0, -1.0]
        sql = det_exp_sql
        ref = math.exp
    sdf = spark.createDataFrame([(h,) for h in hs], "h double")
    s_val = {
        _bits(r["h"]): r["v"]
        for r in sdf.select("h", F.expr(sql("h", "spark")).alias("v")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(h DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(h,) for h in hs])
    d_val = {
        _bits(h): v
        for h, v in con.execute(f"SELECT h, {sql('h', 'duckdb')} FROM t").fetchall()
    }
    mismatched = [
        struct.unpack("<d", k)[0] for k in s_val if _bits(s_val[k]) != _bits(d_val[k])
    ]
    assert not mismatched, f"bit mismatches at {mismatched[:10]}"
    for h in hs:
        want = ref(h)
        assert abs(d_val[_bits(h)] - want) <= 5e-15 * abs(want), (h, d_val[_bits(h)])


# functions.scalars snaps against their oracle SQL spelling: (Spark
# function, DuckDB expression of x, scale, exact half-way step). Odd
# multiples of the step land exactly half-way on the snap's grid
# (2.5, 12.5 cents = 0.125, 7812.5e-6 = 0.0078125).
_SNAPS = {
    "half_up": (half_up, "FLOOR(x + 0.5)", 1.0, 0.5),
    "q6": (q6, "FLOOR(x * 1e6 + 0.5) / 1e6", 1e6, 1 / 128),
    "cents": (cents, "CAST(FLOOR(x * 100 + 0.5) AS BIGINT)", 100.0, 1 / 8),
}


def _snap_inputs(scale: float, step: float) -> list:
    halfway = [sign * step * j for j in (1, 3, 5, 99, 12345) for sign in (1, -1)]
    near = [h + d / scale for h in halfway for d in (1e-7, -1e-7, 1e-3, -1e-3)]
    decimal_halfway = [2.675, -2.675, 1.005, -1.005, 1.2345675, -0.0000005]
    return [None, 0.0, 0.49999999999999994, -0.49999999999999994,
            *halfway, *near, *decimal_halfway]


@pytest.mark.parametrize("name", sorted(_SNAPS))
def test_half_up_snaps_match_duckdb(spark, name):
    fn, sql, scale, step = _SNAPS[name]
    xs = _snap_inputs(scale, step)
    rows = list(enumerate(xs))
    got = dict(
        spark.createDataFrame(rows, "i int, x double")
        .select("i", fn(F.col("x")).alias("y"))
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(f"SELECT i, {sql} FROM t").fetchall())
    for i, x in rows:
        a, b = got[i], want[i]
        if x is None:
            assert a is None and b is None, (name, a, b)
        else:
            assert _bits(float(a)) == _bits(float(b)), (name, x, a, b)


def test_half_up_range_condition(spark):
    """The condition ``scalars.half_up`` documents: Spark's floor of a
    double is a BIGINT, so a value past 2**63 saturates and NaN becomes
    0, while DuckDB keeps the double."""
    row = spark.createDataFrame([(1e300, float("nan"))], "big double, nan double").select(
        q6(F.col("big")).alias("big"), q6(F.col("nan")).alias("nan")
    ).first()
    assert (row["big"], row["nan"]) == (9223372036854.775, 0.0)
    big, nan = duckdb.sql(
        "SELECT FLOOR(x * 1e6 + 0.5) / 1e6, FLOOR(y * 1e6 + 0.5) / 1e6 "
        "FROM (SELECT 1e300::DOUBLE AS x, 'nan'::DOUBLE AS y)"
    ).fetchone()
    assert big == 1e300 and math.isnan(nan)
