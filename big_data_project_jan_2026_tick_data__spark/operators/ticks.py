"""Tick-domain operators.

Re-expresses the reference's cleaning/downsampling pipeline
(``Data Preprocessing and Cleaning/spark_session_window_tick_cleaner.py``)
as composable DataFrame transforms. Key deviations (documented):

- **Deterministic first-per-second** — the reference uses
  ``groupBy(second).agg(first(...))`` (cleaner :150-161), which is
  order-sensitive after a shuffle; we use
  ``row_number() OVER (PARTITION BY sec ORDER BY ts) = 1`` so results are
  stable across partitionings (SURVEY §4.4.2).
- **One canonical session-window predicate** — the reference has three
  subtly different bounds (cleaner :141-144 keeps the whole trailing hour;
  stats generator :36-42 is [start, end); pandas path model.py:187-205 is
  closed both ends). ``session_filter`` exposes ``closed=`` to express all
  three (SURVEY §2.2 P3-P5).
- No driver-side per-file loops: multi-file ordering (cleaner :59-88's
  numpy argmin chaining) is subsumed by a global sort on the event time.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..functions.scalars import interval_expr, q6

from ..schemas import TICKS_TS_FORMAT

# The reference's two fixed daily trading session windows
# (spark_session_window_tick_cleaner.py:141-144; main.py:184).
SESSION_WINDOWS: tuple[tuple[int, int, int, int], ...] = (
    (7, 50, 8, 0),
    (13, 50, 14, 0),
)


def parse_ticks(
    df: DataFrame,
    dt_col: str = "DateTime",
    ts_format: str = TICKS_TS_FORMAT,
    drop_unparseable: bool = True,
) -> DataFrame:
    """Raw → typed ticks: parse the string timestamp (null on failure, like
    the reference's ``errors="coerce"``), cast prices, drop Volume.

    Reference: spark_session_window_tick_cleaner.py:133-139 +
    iceberg_migration.py:265 (``WHERE datetime IS NOT NULL``).
    """
    out = df.withColumn("ts", F.to_timestamp(F.col(dt_col), ts_format))
    if drop_unparseable:
        out = out.filter(F.col("ts").isNotNull())
    cols = [F.col("ts")]
    for c in ("Bid", "Ask"):
        if c in df.columns:
            cols.append(F.col(c).cast("double").alias(c.lower()))
    for c in df.columns:
        if c not in (dt_col, "Bid", "Ask", "Volume"):
            cols.append(F.col(c))
    return out.select(*cols)


def window_predicate(
    ts: Column,
    start_h: int,
    start_m: int,
    end_h: int,
    end_m: int,
    closed: str = "left",
) -> Column:
    """Time-of-day membership predicate for one session window.

    ``closed``: 'left' = [start, end) (stats generator semantics,
    symbol_statistics_generate.py:36-42), 'both' = [start, end]
    (pandas path, model.py:187-205), 'hour_tail' = reference cleaner
    semantics (minute >= start_m for the whole start hour,
    spark_session_window_tick_cleaner.py:141-144).
    """
    minutes = F.hour(ts) * 60 + F.minute(ts)
    lo, hi = start_h * 60 + start_m, end_h * 60 + end_m
    if closed == "left":
        return (minutes >= lo) & (minutes < hi)
    if closed == "both":
        return (minutes >= lo) & (minutes <= hi)
    if closed == "hour_tail":
        return (F.hour(ts) == start_h) & (F.minute(ts) >= start_m)
    raise ValueError(f"closed must be left|both|hour_tail, got {closed!r}")


def session_filter(
    df: DataFrame,
    ts_col: str = "ts",
    windows: Sequence[tuple[int, int, int, int]] = SESSION_WINDOWS,
    closed: str = "left",
) -> DataFrame:
    """Keep rows inside any of the given time-of-day session windows.

    Pure column expressions → stays in WholeStageCodegen; pushes to the
    scan when ``ts_col`` is a partition-derived column.
    """
    ts = F.col(ts_col)
    pred = None
    for w in windows:
        p = window_predicate(ts, *w, closed=closed)
        pred = p if pred is None else (pred | p)
    return df.filter(pred)


def downsample_1s(
    df: DataFrame,
    ts_col: str = "ts",
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Keep the first tick of every second per partition key — the signature
    "session window tick cleaner" aggregation (A1,
    spark_session_window_tick_cleaner.py:150-161).

    Deterministic form: row_number over (partition, truncated second)
    ordered by ts (+ tiebreakers for equal timestamps). One shuffle on
    (partition_cols, second); at scale the shuffle key includes the second
    bucket so the work spreads over the full cluster regardless of symbol
    skew.
    """
    sec = F.date_trunc("second", F.col(ts_col))
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = Window.partitionBy(*[F.col(c) for c in partition_cols], sec).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def downsample_interval(
    df: DataFrame,
    ts_col: str = "ts",
    interval: str = "1 second",
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Generalized first-per-interval using ``window()`` bucketing —
    arbitrary intervals ('5 seconds', '1 minute', ...)."""
    bucket = F.window(F.col(ts_col), interval).getField("start")
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = Window.partitionBy(*[F.col(c) for c in partition_cols], bucket).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def with_spread(df: DataFrame, bid: str = "bid", ask: str = "ask") -> DataFrame:
    """Spread = max(ask - bid, 0) — clamp at zero like the reference
    (model.py:207-215, np.maximum)."""
    return df.withColumn("spread", F.greatest(F.col(ask) - F.col(bid), F.lit(0.0)))


def scrub_inf_nan(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """±inf / NaN → NULL (reference model.py:227: replace([inf,-inf], nan));
    pair with ffill/bfill/na.fill to complete the scrub."""
    out = df
    for c in cols:
        col = F.col(c)
        out = out.withColumn(
            c, F.when(F.isnan(col) | (F.abs(col) == float("inf")), None).otherwise(col)
        )
    return out


def _tick_side(
    ts_col: str, symbol_col: str, price_col: str, tiebreak_cols: Sequence[str]
) -> tuple[WindowSpec, Column]:
    """The tick rule over one per-symbol sort: ``(wc, side)``, the
    running window (unbounded preceding to the current tick) and each
    tick's side, +1 above the previous price, −1 below, carried forward
    over zero ticks (NULL before the first change). Shared by
    :func:`tick_rule_flow` and ``stats.kyle_lambda``/``stats.vpin``."""
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w1 = Window.partitionBy(symbol_col).orderBy(*order)
    wc = w1.rowsBetween(Window.unboundedPreceding, 0)
    dp = F.col(price_col) - F.lag(price_col, 1).over(w1)
    raw_sign = F.when(dp > 0, F.lit(1)).when(dp < 0, F.lit(-1))
    return wc, F.last(raw_sign, ignorenulls=True).over(wc)


def tick_rule_flow(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "value",
    tiebreak_cols: Sequence[str] = (),
    interval_sec: int = 3600,
) -> DataFrame:
    """Tick-rule trade classification + order-flow imbalance bars: each
    tick is signed buyer-initiated (+1) when its price is above the
    previous tick, seller-initiated (−1) when below, and INHERITS the
    previous non-zero direction on zero ticks (the classic tick rule —
    the standard proxy for aggressor side when quote data is absent);
    ticks before the first price change stay unclassified. Per
    (symbol, ``interval_sec`` bucket): up/down/unclassified counts and
    the signed imbalance (up−down)/(up+down), q6.

    Scale: ONE sort per symbol partition reused by both window passes
    (lag for the sign, last-ignorenulls for the carry-forward — same
    machinery as :func:`ffill`), then one hash agg to bars. No joins,
    no shuffle beyond the per-symbol sort and the bar agg.

    Determinism: the sign comes from IEEE comparisons (exact), the
    carry-forward is order-totalized by ``tiebreak_cols``, and every
    bar output is integer counts plus a pointwise integer-ratio q6 —
    nothing for partial-agg order to move.
    """
    _, side = _tick_side(ts_col, symbol_col, price_col, tiebreak_cols)
    bucket = (F.col(ts_col).cast("long") / interval_sec).cast("long")
    out = (
        df.withColumn("__side", side)
        .withColumn("__b", bucket)
        .groupBy(F.col(symbol_col).alias("symbol"), F.col("__b"))
        .agg(
            F.count(F.when(F.col("__side") == 1, F.lit(1))).alias("n_up"),
            F.count(F.when(F.col("__side") == -1, F.lit(1))).alias("n_dn"),
            F.count(F.when(F.col("__side").isNull(), F.lit(1))).alias(
                "n_unclassified"
            ),
        )
    )
    tot = F.col("n_up") + F.col("n_dn")
    imb = (F.col("n_up") - F.col("n_dn")).cast("double") / tot
    return out.select(
        "symbol",
        (F.col("__b") * interval_sec).alias("bucket_start_epoch"),
        "n_up",
        "n_dn",
        "n_unclassified",
        F.when(
            tot > 0, F.floor(imb * 1e6 + F.lit(0.5)) / 1e6
        ).alias("imbalance_q6"),
    )


def _fill(df, cols, ts_col, partition_cols, tiebreak_cols, pick, start, end) -> DataFrame:
    """Replace each of ``cols`` by ``pick(col, ignorenulls=True)`` over the
    per-partition event-time window framed ``rowsBetween(start, end)``:
    :func:`ffill` is ``F.last`` over the preceding rows, :func:`bfill`
    ``F.first`` over the following ones."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols])
        .rowsBetween(start, end)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, pick(F.col(c), ignorenulls=True).over(w))
    return out


def ffill(
    df: DataFrame,
    cols: Sequence[str],
    ts_col: str = "ts",
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Forward-fill nulls in event-time order (reference model.py:227-231
    pandas ``ffill``) via last(ignorenulls) over an unbounded-preceding
    window. Partitioned by key so state never crosses symbols.
    ``tiebreak_cols`` totalizes the order when timestamps can repeat —
    without it, fill results on duplicate timestamps are
    partitioning-dependent."""
    return _fill(
        df, cols, ts_col, partition_cols, tiebreak_cols,
        F.last, Window.unboundedPreceding, 0,
    )


def bfill(
    df: DataFrame,
    cols: Sequence[str],
    ts_col: str = "ts",
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Backward-fill (reference model.py:227-231 ``bfill``) — mirrored
    first(ignorenulls) over unbounded-following. ``tiebreak_cols`` as in
    :func:`ffill`."""
    return _fill(
        df, cols, ts_col, partition_cols, tiebreak_cols,
        F.first, 0, Window.unboundedFollowing,
    )


def shift_timezone(df: DataFrame, ts_col: str = "ts", hours: int = 2) -> DataFrame:
    """Broker-timezone normalization (+2h, reference data_loader.py:50)."""
    return df.withColumn(ts_col, F.col(ts_col) + interval_expr(hours, "hour"))


def ohlc_bars(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "bid",
    interval: str = "1 minute",
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Tick → OHLC bars: open/high/low/close + count per time bucket —
    the canonical tick downsample (generalizes the reference's
    first-per-second A1: open IS its "first", plus high/low/close).

    One hash aggregate, no window: open/close via min_by/max_by on a
    (ts, tiebreak...) struct so ties are deterministic; partial (map-side)
    aggregation applies, so shuffle volume is one row per (key, bucket).
    """
    order_key = F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak_cols])
    bucket = F.window(F.col(ts_col), interval).getField("start").alias("bar_start")
    return (
        df.groupBy(*partition_cols, bucket)
        .agg(
            F.min_by(F.col(value_col), order_key).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), order_key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


def indicators(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
    window_rows: int = 20,
    ema_span: int = 12,
) -> DataFrame:
    """Technical-indicator pack per series — the derived columns a tick
    platform's consumers chart (reference domain: quant features over
    cleaned tick streams):

    - ``ret``: log return vs the previous tick;
    - ``rvol``: realized volatility = sqrt(Σ ret² over the trailing
      ``window_rows`` ticks);
    - ``boll_mid`` / ``boll_up`` / ``boll_dn``: Bollinger bands
      (trailing mean ± 2 population stddevs);
    - ``ema``: truncated exponential moving average over ``ema_span``
      ticks, weights a·(1−a)^k (a = 2/(span+1)) normalized over the
      available lags.

    Everything is ROWS-frame window arithmetic after ONE sort per
    partition — no self-join; the EMA's per-lag weights use the
    row_number *difference* inside an aggregate over collect_list of the
    trailing frame (bounded ``ema_span`` elements per row), all codegen.
    Deterministic total order via ``tiebreak_cols``.
    """
    from pyspark.sql import Window

    from ..functions import detmath

    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w1 = Window.partitionBy(*partition_cols).orderBy(*order)
    wN = w1.rowsBetween(-(window_rows - 1), 0)
    wE = w1.rowsBetween(-(ema_span - 1), 0)
    a = 2.0 / (ema_span + 1)

    # Determinism (cross-engine): the log return is detmath ln over a
    # staged positive ratio (libm ln differs by ulps between engines);
    # the EMA decay powers are a PRECOMPUTED literal table, not runtime
    # libm pow; and every sliding-frame float reduction (rvol, the
    # Bollinger mean/std) runs over 1e-6/1e-12-grid integer snaps
    # summed as BIGINT — engines disagree on window-sum ORDER (running
    # accumulation vs segment tree), and integer sums are order-free.
    r0 = F.col(value_col) / F.lag(value_col, 1).over(w1)
    out = df.withColumn("__ratio", F.when(r0 > 0, r0))
    ret = detmath.det_ln_pos("__ratio")
    out = out.withColumn("__ret_raw", ret).withColumn(
        "ret", F.round(F.col("__ret_raw"), 6)
    )
    # trailing frame as a bounded array; EMA = Σ w_k x_{-k} / Σ w_k with
    # w_k = (1-a)^k counted from the newest element (end of the list)
    vals = F.collect_list(F.col(value_col).cast("double")).over(wE)
    decay_tbl = ", ".join(detmath.dlit((1 - a) ** k) for k in range(ema_span))
    weighted = F.expr(
        f"aggregate(zip_with(__vals, sequence(size(__vals) - 1, 0), "
        f"(x, k) -> x * element_at(array({decay_tbl}), k + 1)), "
        f"0D, (acc, v) -> acc + v)"
    )
    wsum = F.expr(
        f"aggregate(transform(sequence(size(__vals) - 1, 0), "
        f"k -> element_at(array({decay_tbl}), k + 1)), 0D, (acc, v) -> acc + v)"
    )
    out = (
        out.withColumn("__vals", vals)
        .withColumn("ema", F.round(weighted / wsum, 6))
        .drop("__vals")
    )
    sq12 = F.floor(
        F.col("__ret_raw") * F.col("__ret_raw") * 1e12 + F.lit(0.5)
    )
    out = (
        out.withColumn(
            "rvol",
            F.round(
                F.sqrt(F.sum(sq12).over(wN).cast("double") / F.lit(1e12)), 6
            ),
        )
        .drop("__ret_raw", "__ratio")
    )
    v6 = F.floor(F.col(value_col) * 1e6 + F.lit(0.5))
    v2_6 = F.floor(F.col(value_col) * F.col(value_col) * 1e6 + F.lit(0.5))
    cnt = F.count(F.col(value_col)).over(wN)
    s1 = F.sum(v6).over(wN).cast("double") / F.lit(1e6)
    s2 = F.sum(v2_6).over(wN).cast("double") / F.lit(1e6)
    mid = s1 / cnt
    sd = F.sqrt(F.greatest(s2 / cnt - mid * mid, F.lit(0.0)))
    return (
        out.withColumn("boll_mid", F.round(mid, 6))
        .withColumn("boll_up", F.round(mid + 2 * sd, 6))
        .withColumn("boll_dn", F.round(mid - 2 * sd, 6))
    )


def rolling_stats(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "bid",
    window_ms: int = 300_000,
    partition_cols: Sequence[str] = ("symbol",),
) -> DataFrame:
    """Trailing time-window stats per tick (moving average / extrema over
    the last ``window_ms``): an event-time RANGE frame over epoch-millis
    — each row sees exactly the ticks in ``(ts - window, ts]``.

    RANGE (not ROWS): tick density varies, so a row-count frame would be
    wrong. The frame is computed within partitions after one sort — no
    self-join, no explosion.

    Determinism: the moving average runs over 1e-6-grid integer snaps
    summed as BIGINT — engines disagree on SLIDING-frame float-sum
    order (Spark re-accumulates the frame, DuckDB uses a segment tree),
    and integer window sums are order-free; min/max/count are exact
    anyway.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.unix_millis(F.col(ts_col)))
        .rangeBetween(-window_ms, 0)
    )
    v6 = F.floor(F.col(value_col) * 1e6 + F.lit(0.5))
    avg6 = (F.sum(v6).over(w).cast("double") / F.lit(1e6)) / F.count(
        F.col(value_col)
    ).over(w)
    return (
        df.withColumn("roll_avg", F.round(avg6, 6))
        .withColumn("roll_min", F.min(value_col).over(w))
        .withColumn("roll_max", F.max(value_col).over(w))
        .withColumn("roll_n", F.count(F.lit(1)).over(w))
    )


def despike(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "bid",
    k: int = 5,
    max_rel_dev: float = 0.5,
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Spike filter — the tick-cleaning step the reference's pipeline
    lacks: drop ticks whose value deviates from the trailing ``k``-tick
    MEDIAN by more than ``max_rel_dev`` (relative). Median, not mean: a
    bad print inflates a trailing mean and gets innocent neighbors
    dropped (collateral damage verified in tests); the median of a small
    trailing window is robust to isolated spikes.

    Spark restricts ``median()`` over framed windows, so the median is
    exact via ``array_sort(collect_list())`` over a ROWS frame — memory
    is O(k) per row (bounded; this is why a row-count frame is used here
    while ``rolling_stats`` uses RANGE). Order has a tiebreaker so both
    engines see identical frames. n=1 rows are kept (deviation 0).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.unix_millis(F.col(ts_col)), *[F.col(c) for c in tiebreak_cols])
        .rowsBetween(-(k - 1), 0)
    )
    arr = F.array_sort(F.collect_list(value_col).over(w))

    # r13 (guide §4.1 per-row work): the historical form referenced the
    # sorted window buffer 4x inside `med` and `med` twice inside
    # rel_dev, and the filter referenced rel_dev twice — after predicate
    # pushdown substituted the aliases, the plan re-SORTED the k-row
    # collect_list buffer up to 8x per row (a 4 KB filter condition in
    # the optimized plan). Binding the sorted array and the median to
    # lambda variables (the shingle_hashes idiom: transform over a
    # 1-element array) evaluates each exactly once, and
    # coalesce(rel <= max, TRUE) is the single-reference twin of
    # `rel IS NULL OR rel <= max` (NULL -> TRUE keeps the n=1/all-null
    # frames, and the med=0 frames too: a division by zero yields NULL,
    # not NaN, so their rows are kept).
    def _keep_for(a: Column) -> Column:
        n = F.size(a)
        lo = F.element_at(a, (F.floor((n - 1) / 2) + 1).cast("int"))
        hi = F.element_at(a, (F.floor(n / 2) + 1).cast("int"))
        med = (lo + hi) / 2.0
        return F.element_at(
            F.transform(
                F.array(med),
                lambda m: F.coalesce(
                    (F.abs(F.col(value_col) - m) / F.abs(m))
                    <= F.lit(max_rel_dev),
                    F.lit(True),
                ),
            ),
            1,
        )

    keep = F.element_at(F.transform(F.array(arr), _keep_for), 1)
    return df.withColumn("__keep", keep).filter(F.col("__keep")).drop("__keep")


def gap_fill(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "bid",
    step: str = "1 hour",
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Regular time-series materialization: build a complete time spine
    (``step`` grid from each key's first to last tick, generated
    distributively via sequence+explode) and carry the last-known value
    onto every grid point with an as-of join — the gap-filling step
    quant pipelines need before resampling/feature windows.

    Input is first deduplicated to one row per (key, ts) (latest by
    ``tiebreak_col``) so the carried value is deterministic. The as-of
    attach reuses ``joins.asof_join`` — one shuffle, no spine×ticks
    explosion."""
    from pyspark.sql import Window

    from .joins import asof_join

    clean = df.select(*partition_cols, ts_col, value_col)
    if tiebreak_col is not None:
        w = Window.partitionBy(*partition_cols, ts_col).orderBy(
            F.col(tiebreak_col).desc()
        )
        clean = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*partition_cols, ts_col, value_col)
        )
    spine = (
        clean.groupBy(*partition_cols)
        .agg(F.min(ts_col).alias("__t0"), F.max(ts_col).alias("__t1"))
        .select(
            *partition_cols,
            F.explode(
                F.sequence(F.col("__t0"), F.col("__t1"), interval_expr(step))
            ).alias(ts_col),
        )
    )
    return asof_join(
        spine, clean, on=ts_col, by=tuple(partition_cols), right_cols=(value_col,)
    )


def winsorize(
    df: DataFrame,
    value_cols: Sequence[str] = ("bid", "ask"),
    lo: float = 0.01,
    hi: float = 0.99,
    by: Sequence[str] = ("symbol",),
) -> DataFrame:
    """Per-group percentile clamping (winsorization) — the robust
    alternative to dropping outlier ticks: values outside the group's
    [lo, hi] exact percentiles are pulled to the boundary, and a
    ``<col>_clamped`` flag records the intervention (audit trail for the
    cleaning report). One percentile aggregate per group (exact
    ``percentile``, matching the despike/value-stats discipline) joined
    back broadcast — group count is portfolio-sized, so the bounds table
    never shuffles the tick stream."""
    aggs = []
    for c in value_cols:
        aggs.append(F.percentile(F.col(c), F.lit(lo)).alias(f"__lo_{c}"))
        aggs.append(F.percentile(F.col(c), F.lit(hi)).alias(f"__hi_{c}"))
    by = list(by)
    if by:
        # NULL group keys can never equi-match the join below — skip
        # computing their (unreachable) bounds entirely
        bounds = df.na.drop(subset=by).groupBy(*by).agg(*aggs)
        # LEFT join: a NULL group key never equi-matches its bounds row,
        # and an inner join would silently DELETE those rows from a
        # row-preserving cleaning transform — they pass through
        # unclamped instead (their bounds stay NULL below)
        out = df.join(F.broadcast(bounds), by, "left")
    else:
        bounds = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(bounds))
    for c in value_cols:
        lo_c, hi_c = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        clampable = F.col(c).isNotNull() & lo_c.isNotNull() & hi_c.isNotNull()
        out = out.withColumn(
            f"{c}_clamped",
            clampable & ((F.col(c) < lo_c) | (F.col(c) > hi_c)),
        ).withColumn(
            c,
            # guard NULLs explicitly: greatest/least SKIP null arguments,
            # so the naive form rewrites a NULL value to the low bound —
            # fabricating a price — with the audit flag saying nothing
            F.when(clampable, F.least(F.greatest(F.col(c), lo_c), hi_c)).otherwise(
                F.col(c)
            ),
        )
    drop = [f"__lo_{c}" for c in value_cols] + [f"__hi_{c}" for c in value_cols]
    return out.drop(*drop)


def drawdown(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Running-peak drawdown per series — the risk metric a tick
    platform's consumers compute over every cleaned price stream
    (reference domain: per-symbol stats alongside the
    ``symbol_statistics_generate.py`` report family).

    Per tick: ``peak`` = running maximum so far, ``dd`` = peak − value
    (absolute drawdown) and ``dd_pct`` = (peak − value) / peak (NULL
    when the running peak is not strictly positive, so a non-positive
    price series cannot fabricate a percentage). Summary consumers take
    ``max(dd_pct)`` per series; this stays per-tick so the query layer
    chooses the grain.

    Scale shape: ONE sort per series partition (rows-frame running max
    — no self-join, no global window); everything after is codegen
    arithmetic. Deterministic under ties via ``tiebreak_cols``.
    """
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max(F.col(value_col)).over(w)
    dd = peak - F.col(value_col)
    return (
        df.withColumn("peak", peak)
        .withColumn("dd", dd)
        .withColumn(
            "dd_pct",
            F.when(peak > 0, dd / peak),
        )
    )


def max_drawdown_summary(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-series max-drawdown report over :func:`drawdown`: the deepest
    percentage drawdown, its absolute size, the peak it fell from and
    the timestamp of the trough. The trough row is picked with a
    ``row_number`` over (dd_pct DESC, ts ASC, tiebreaks ASC) — the same
    partition/order the running max already sorted by, so Spark plans
    ONE sort + two window passes + no extra shuffle; ties (equal-depth
    troughs) resolve to the earliest occurrence in any engine.
    """
    per_tick = drawdown(
        df,
        ts_col=ts_col,
        value_col=value_col,
        partition_cols=partition_cols,
        tiebreak_cols=tiebreak_cols,
    ).filter(F.col("dd_pct").isNotNull())
    pick = Window.partitionBy(*partition_cols).orderBy(
        F.col("dd_pct").desc(),
        F.col(ts_col).asc(),
        *[F.col(c).asc() for c in tiebreak_cols],
    )
    return (
        per_tick.withColumn("__rn", F.row_number().over(pick))
        .withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy(*partition_cols))
        )
        .filter(F.col("__rn") == 1)
        .select(
            *partition_cols,
            # shared floor-half-up q6 (NOT F.round, whose HALF_UP on the
            # decimal string can disagree with FLOOR(x*1e6+0.5)/1e6 on
            # the binary double at representation boundaries — the exact
            # grid the DuckDB oracle uses)
            (F.floor(F.col("dd_pct") * 1e6 + F.lit(0.5)) / 1e6).alias("max_dd_pct"),
            (F.floor(F.col("dd") * 1e6 + F.lit(0.5)) / 1e6).alias("max_dd_abs"),
            F.col("peak").alias("peak_at_trough"),
            F.col(ts_col).alias("trough_ts"),
            F.col("__n").alias("n_ticks"),
        )
    )


def volume_bars(
    df: DataFrame,
    ts_col: str,
    price_col: str,
    size_col: str,
    bar_volume: int,
    symbol_col: str = "symbol",
    tiebreak_cols: Sequence[str] = (),
    price_grid: float = 1e6,
) -> DataFrame:
    """Equal-volume bars (information-driven bars): each bar closes when
    the per-symbol CUMULATIVE traded size crosses the next multiple of
    ``bar_volume`` — the event-time alternative to clock bars that
    samples more when trading is active (the standard pre-processing for
    microstructure ML next to :func:`vwap_twap_bars`/:func:`ohlc_bars`).
    A tick whose PRE-tick cumulative size is c lands in bar ``c //
    bar_volume``, so the tick that crosses a V-boundary still belongs to
    the bar it completes and a bar's volume is V plus the closing tick's
    overshoot (bounded by the max tick size; a single tick larger than V
    absorbs the skipped boundaries and later bar ids jump — documented).
    Per (symbol, bar): OHLC, volume, tick count, VWAP, and the bar's
    time span. The final bar is emitted even when still short of V —
    ``complete`` marks whether it closed (mirrors the oracle; callers
    doing bar-level learning filter on it).

    Scale: ONE per-symbol sort for the prefix sum (integer running
    total — sequential in both engines, exact), then one hash agg to
    #total_volume/V bar rows. No joins; the sort partitioning is reused
    by the agg. Per-symbol history is a single window partition — the
    same per-series-sort posture as every bar operator here; symbols are
    the parallel unit.

    Determinism: sizes are integers, so cumulative volume and the bar id
    are exact; prices snap to the 1/price_grid grid, so OHLC picks and
    the VWAP numerator are exact integers — partition layout cannot
    move any output (the r4 unordered-float-sum hazard class).
    """
    if bar_volume <= 0:
        raise ValueError(f"bar_volume must be positive, got {bar_volume}")
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = (
        Window.partitionBy(symbol_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    okey = F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak_cols])
    p = F.floor(F.col(price_col) * F.lit(price_grid) + F.lit(0.5)).cast(
        "bigint"
    )
    sz = F.col(size_col).cast("bigint")
    t = df.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("__ts"),
        okey.alias("__k"),
        p.alias("__p"),
        sz.alias("__sz"),
        F.sum(sz).over(w).alias("__cum"),
    )
    bar = F.floor(
        (F.col("__cum") - F.col("__sz")) / F.lit(int(bar_volume))
    ).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = F.lit(float(price_grid))
    agg = (
        t.groupBy("symbol", bar.alias("bar_id"))
        .agg(
            F.count("*").alias("n_ticks"),
            F.sum("__sz").alias("volume"),
            F.min_by("__p", F.col("__k")).alias("__o"),
            F.max("__p").alias("__h"),
            F.min("__p").alias("__l"),
            F.max_by("__p", F.col("__k")).alias("__c"),
            F.sum(dec(F.col("__p")) * dec(F.col("__sz"))).alias("__pv"),
            F.min("__ts").alias("bar_start"),
            F.max("__ts").alias("bar_end"),
            F.max("__cum").alias("__cmax"),
        )
    )
    vwap = (F.col("__pv").cast("double") / F.col("volume")) / g
    return agg.select(
        "symbol",
        "bar_id",
        "bar_start",
        "bar_end",
        "n_ticks",
        "volume",
        (F.col("__o") / g).alias("open"),
        (F.col("__h") / g).alias("high"),
        (F.col("__l") / g).alias("low"),
        (F.col("__c") / g).alias("close"),
        q6(vwap).alias("vwap_q6"),
        (
            F.col("__cmax")
            >= (F.col("bar_id") + 1) * F.lit(int(bar_volume))
        ).alias("complete"),
    )


def vwap_twap_bars(
    df: DataFrame,
    ts_col: str,
    price_col: str,
    size_col: str,
    interval_ms: int = 60_000,
    partition_cols: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
    price_grid: float = 1e4,
) -> DataFrame:
    """Volume- and time-weighted average price per (series, bar) — the
    execution-quality staples next to :func:`ohlc_bars` (reference
    domain: tick stats per window, ``spark_session_window_tick_cleaner``
    lineage). VWAP = Σp·v / Σv over the bar's ticks; TWAP weights each
    tick's price by its holding time inside the bar — from the tick to
    the earlier of (next tick, bar end), so the bar's last price holds
    until the bar closes. The interval before a bar's first tick has no
    observable price and is excluded (documented convention, mirrored
    in the oracle).

    Determinism at any partition layout (the playbook rule — these are
    the classic unordered float sums): prices snap to a 1/price_grid
    integer grid and sizes/durations are integers, so both weighted
    sums are exact BIGINT aggregates; the only float ops are two
    divisions per output row. Bound: grid·max_price·Σweight per bar
    must stay < 2^53 — at 1e4 grid that allows ~1e5-tick bars of
    9-digit notional, documented headroom for real tick streams.

    One lead window (per-series sort) + one hash agg; both reuse the
    same partitioning. Returns (partitions…, bar_start, n_ticks,
    volume, vwap, twap).
    """
    if interval_ms <= 0:
        raise ValueError(f"interval_ms must be positive, got {interval_ms}")
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    tms = (F.unix_micros(F.col(ts_col)) / 1000).cast("long")
    # millisecond window duration so bar bucketing and __bar_end agree
    # for ANY interval_ms (sub-second bars included) — a seconds-floored
    # duration here would mis-clamp the last tick's holding time
    bar_start = F.window(F.col(ts_col), f"{interval_ms} milliseconds").getField(
        "start"
    )
    p4 = F.floor(F.col(price_col) * F.lit(price_grid) + F.lit(0.5)).cast("bigint")
    t = df.select(
        *partition_cols,
        bar_start.alias("bar_start"),
        tms.alias("__tms"),
        F.lead(tms).over(w).alias("__nxt"),
        p4.alias("__p4"),
        F.col(size_col).cast("bigint").alias("__sz"),
    ).withColumn(
        "__bar_end",
        (F.unix_micros(F.col("bar_start")) / 1000).cast("long") + F.lit(interval_ms),
    )
    dur = F.least(F.coalesce(F.col("__nxt"), F.col("__bar_end")), F.col("__bar_end")) - F.col(
        "__tms"
    )
    agg = t.withColumn("__dur", dur).groupBy(*partition_cols, "bar_start").agg(
        F.count("*").alias("n_ticks"),
        F.sum("__sz").alias("__sv"),
        F.sum(F.col("__p4") * F.col("__sz")).alias("__spv"),
        F.sum("__dur").alias("__sd"),
        F.sum(F.col("__p4") * F.col("__dur")).alias("__spd"),
    )

    return agg.select(
        *partition_cols,
        "bar_start",
        "n_ticks",
        F.col("__sv").alias("volume"),
        q6((F.col("__spv").cast("double") / F.col("__sv")) / F.lit(price_grid)).alias(
            "vwap"
        ),
        q6((F.col("__spd").cast("double") / F.col("__sd")) / F.lit(price_grid)).alias(
            "twap"
        ),
    )
