"""Query registry: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle SQL string over the same parquet tables.

This is the engine's correctness contract (driver contract in
``__spark_entry__.py``): the driver runs both sides at sf=0.01 and
hash-compares values order-insensitively with columns sorted by name —
so every computed column is aliased identically on both sides, floats are
rounded identically, and every row_number has a total order (unique
tiebreaker) so both engines agree exactly.

Operator keys map to SURVEY.md §2 inventory lines (noted per query).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator, Mapping

from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F

from ..engine import _workers_import_package
from ..functions.scalars import half_up

QueryFn = Callable[[SparkSession, str], DataFrame]
OracleBuilder = Callable[[], "str | None"]


class _Oracles(Mapping):
    """Oracle SQL by query name, in registration order.

    An entry registered as a builder runs the builder on first access
    of its name, or of the whole mapping (iteration, ``len``); a builder
    that returns None leaves its name out. Some builders replay a numpy
    twin over every reachable testdata scale factor through DuckDB,
    which costs seconds that a caller running only the queries never
    needs."""

    def __init__(self) -> None:
        self._entries: dict[str, str | OracleBuilder] = {}

    def _resolve(self, name: str) -> str | None:
        sql = self._entries.get(name)
        if callable(sql):
            sql = sql()
            if sql is None:
                self._entries.pop(name, None)
            else:
                self._entries[name] = sql
        return sql

    def __getitem__(self, name: str) -> str:
        sql = self._resolve(name)
        if sql is None:
            raise KeyError(name)
        return sql

    def __iter__(self) -> Iterator[str]:
        for name in list(self._entries):
            self._resolve(name)
        return iter(list(self._entries))

    def __len__(self) -> int:
        return sum(1 for _ in self)


QUERIES: dict[str, QueryFn] = {}
ORACLE = _Oracles()

def _register(name: str, oracle: str | OracleBuilder | None = None):
    """Register ``fn`` as query ``name`` with its oracle SQL, or with a
    builder of it that ``ORACLE`` runs on first access."""

    def deco(fn: QueryFn) -> QueryFn:
        # a silent dict overwrite would leave the earlier query
        # registered-looking but untested (and the later one shadowed) —
        # fail loudly at import instead
        if name in QUERIES:
            raise ValueError(f"duplicate registry query name: {name!r}")

        @functools.wraps(fn)
        def query(spark: SparkSession, sf_dir: str) -> DataFrame:
            _workers_import_package(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = query
        if oracle is not None:
            ORACLE._entries[name] = oracle
        return query

    return deco


# Resolved-table cache: spark.read.parquet does a footer/schema
# resolution job on every call (~50-100 ms), and registry queries read
# the same handful of tables over and over. DataFrames are immutable
# plans, so reusing them across queries is free; keyed per session so
# multiple driver sessions stay isolated.
_TD_CACHE: dict = {}


def _pin_session(spark: SparkSession) -> None:
    """Pin the two session confs every registry query depends on.

    TZ: wall-clock extraction (hour/minute) must match the TZ-naive
    DuckDB oracle regardless of the host session's default.  ANSI:
    registry queries must behave identically under any caller session;
    ANSI mode (Spark 4 default) turns intentional wraparound hash math
    into ARITHMETIC_OVERFLOW.  Lives here (not per-query) so table-free
    probes pin through the same code path as ``_td`` (advisor r7)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")


def _ticks(events: DataFrame) -> DataFrame:
    """The tick feed over an events frame, batch or streaming: four
    symbols, ``symbol = 'S' || user_id % 4``, and a trade size
    ``sz = event_id % 100 + 1``; ``value`` is the price."""
    return events.withColumns(
        {
            "symbol": F.concat(F.lit("S"), (F.col("user_id") % 4).cast("string")),
            "sz": F.col("event_id") % 100 + 1,
        }
    )


def _quotes(events: DataFrame) -> DataFrame:
    """The quote feed over an events frame, batch or streaming: one
    symbol, ``EVENTS``, with ``bid = value`` and ``ask = value * 1.01``."""
    return events.select(
        F.lit("EVENTS").alias("symbol"),
        F.col("ts"),
        F.col("value").alias("bid"),
        (F.col("value") * 1.01).alias("ask"),
    )


def _tick_order() -> WindowSpec:
    """Each symbol's ticks in time order, ``event_id`` breaking ties."""
    return Window.partitionBy("symbol").orderBy(F.col("ts"), F.col("event_id"))


def _cent_returns(ticks: DataFrame) -> DataFrame:
    """``ticks`` with ``r0``: each tick's price change from the symbol's
    previous tick in whole cents, rounded half-up (NULL on the first)."""
    return ticks.withColumn(
        "r0",
        half_up((F.col("value") - F.lag("value", 1).over(_tick_order())) * 100),
    )


def _user_bucket(n: int) -> Column:
    """The portable md5 user split: the first 28 bits of
    ``md5(user_id)`` modulo ``n``, the same BIGINT in both engines."""
    return F.expr(
        "cast(conv(substr(md5(cast(user_id as string)), 1, 7), 16, 10)"
        f" as bigint) % {n}"
    )


def _arm(a, b) -> Column:
    """Each user's experiment arm: label ``a`` for the even md5 half,
    ``b`` for the odd one."""
    return F.when(_user_bucket(2) == 0, F.lit(a)).otherwise(F.lit(b))


def _event_key() -> Column:
    """Each event's place in time order as a string: the epoch
    millisecond padded to 14 digits, then ``event_id`` padded to 12, so
    ``min_by``/``max_by`` over it pick the first or last event with
    ``event_id`` breaking ties."""
    return F.concat(
        F.lpad(F.expr("unix_micros(ts) div 1000").cast("string"), 14, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )


def _cov_terms(n_col: str) -> tuple[Column, Column, Column]:
    """``(vx, vy, cov)``: n·Σx² − (Σx)², n·Σy² − (Σy)² and n·Σxy − ΣxΣy
    over the count ``n_col``, the integer sums ``sx``/``sy`` and the
    double sums ``sxx``/``syy``/``sxy`` (the regression terms of
    ``events_cuped`` and ``orders_price_elasticity``)."""
    nd = F.col(n_col).cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    vx = nd * F.col("sxx") - sxd * sxd
    vy = nd * F.col("syy") - syd * syd
    cov = nd * F.col("sxy") - sxd * syd
    return vx, vy, cov


def _minute_closes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(symbol, bar_ts, close_i4)``: each symbol's last tick of every
    minute (latest ``ts``, then highest ``event_id``) with its price on
    the 1e-4 integer grid. The minute bars of ticks_frac_diff,
    ml_triple_barrier and ml_label_uniqueness."""
    src = _td(spark, sf_dir, "ticks").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    w = Window.partitionBy("symbol", F.date_trunc("minute", "ts")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        src.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "symbol",
            F.date_trunc("minute", "ts").alias("bar_ts"),
            half_up(F.col("value") * 1e4).cast("bigint").alias("close_i4"),
        )
    )


def _td(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    _pin_session(spark)
    key = (spark, sf_dir, table)
    if key in _TD_CACHE:
        return _TD_CACHE[key]
    if table == "events_raw":
        # the events file before ts normalization: one schema-resolution
        # job per (session, sf_dir), shared by the batch table and every
        # file stream over a copy of it
        from ..sources.io import _read_events_raw

        df = _read_events_raw(spark, f"{sf_dir}/events.parquet")
    elif table == "events":
        # schema-adaptive: the testdata generator has shipped ts as both
        # int64-nanos and native timestamp[us]; normalize_events_ts
        # branches on the resolved schema instead of pinning one type.
        from ..sources.io import normalize_events_ts

        df = normalize_events_ts(_td(spark, sf_dir, "events_raw"))
    elif table == "ticks":
        df = _ticks(_td(spark, sf_dir, "events"))
    elif table == "quotes":
        df = _quotes(_td(spark, sf_dir, "events"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    _TD_CACHE[key] = df
    return df
