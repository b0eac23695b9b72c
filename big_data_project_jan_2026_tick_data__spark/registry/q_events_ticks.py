"""Event-stream / tick-domain registry queries (SURVEY §2.2-§2.4 over the `events` table: downsampling, session filters, OHLC bars, rolling stats, despike/gap-fill, retention/funnel/skew reports)."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import to_local
from ..operators import (  # noqa: F401
    dedup,
    joins,
    mlfeat,
    multimodal,
    similarity,
    stats,
    text,
    ticks,
)
from ..functions import detmath, exactagg
from ..functions.scalars import cents, q6
from ._base import (
    _arm,
    _cov_terms,
    _minute_closes,
    _cent_returns,
    _event_key,
    _register,
    _td,
    _tick_order,
    _user_bucket,
)

_CS_DEN = 3.0 - 2.0 * math.sqrt(2.0)  # Corwin-Schultz denominator




# ---------------------------------------------------------------------------
# Tick-domain operators (SURVEY §2.2-§2.4) mapped onto the `events` table
# (event-time stream stand-in: event_id, ts, user_id, event_type, value).
# ---------------------------------------------------------------------------


@_register(
    "events_funnel_steps",
    r"""
    WITH s0 AS (
      SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t0
      FROM events GROUP BY user_id),
    s1 AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY e.user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY e.user_id),
    c AS (SELECT (SELECT count(t0) FROM s0) AS c0,
                 (SELECT count(*) FROM s1) AS c1,
                 (SELECT count(*) FROM s2) AS c2)
    SELECT 0 AS step_idx, 'view' AS step, c0 AS users,
           FLOOR(CAST(c0 AS DOUBLE) / GREATEST(c0, 1) * 1e6 + 0.5) / 1e6 AS conversion_q6
    FROM c
    UNION ALL SELECT 1, 'click', c1,
           FLOOR(CAST(c1 AS DOUBLE) / GREATEST(c0, 1) * 1e6 + 0.5) / 1e6 FROM c
    UNION ALL SELECT 2, 'purchase', c2,
           FLOOR(CAST(c2 AS DOUBLE) / GREATEST(c0, 1) * 1e6 + 0.5) / 1e6 FROM c
    """,
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy ordered funnel view→click→purchase: per-step min-after-
    previous-step timestamps via one narrow user-key join per step."""
    ev = _td(spark, sf_dir, "events")
    return stats.funnel(ev, steps=("view", "click", "purchase"))


@_register(
    "events_funnel_time_bounded",
    """
    WITH t0 AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t0
      FROM events GROUP BY user_id HAVING t0 IS NOT NULL),
    t1 AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN t0 ON e.user_id = t0.user_id
      WHERE e.event_type = 'click' AND e.ts > t0.t0
        AND e.ts <= t0.t0 + INTERVAL 24 HOUR
      GROUP BY e.user_id),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t1.t1
        AND e.ts <= t1.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id),
    c AS (
      SELECT (SELECT count(*) FROM t0) AS c0,
             (SELECT count(*) FROM t1) AS c1,
             (SELECT count(*) FROM t2) AS c2)
    SELECT step_idx, step, users,
           FLOOR(CAST(users AS DOUBLE) / GREATEST(c0, 1) * 1e6 + 0.5) / 1e6
             AS conversion_q6
    FROM (
      SELECT 0 AS step_idx, 'view' AS step, c0 AS users, c0 FROM c
      UNION ALL SELECT 1, 'click', c1, c0 FROM c
      UNION ALL SELECT 2, 'purchase', c2, c0 FROM c) s
    """,
)
def events_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel (stats.funnel max_gap='24 hours'):
    view→click→purchase where each step must follow the previous within
    24 h — the conversion-window variant that separates a funnel from a
    coincidence; greedy earliest-qualifying stays optimal under the
    bound. Same k-1 narrow user-key joins as the unbounded funnel."""
    ev = _td(spark, sf_dir, "events")
    return stats.funnel(
        ev, steps=("view", "click", "purchase"), max_gap="24 hours"
    )


@_register(
    "events_retention_cohorts",
    r"""
    WITH wk AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
    fst AS (SELECT user_id, min(w) AS cohort FROM wk GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, w FROM wk),
    cells AS (
      SELECT CAST(cohort AS DATE) AS cohort_week,
             CAST(date_diff('day', CAST(cohort AS DATE), CAST(w AS DATE)) / 7 AS INT) AS week_offset,
             count(DISTINCT user_id) AS active_users
      FROM active JOIN fst USING (user_id) GROUP BY 1, 2),
    sizes AS (SELECT cohort_week, active_users AS sz FROM cells WHERE week_offset = 0)
    SELECT c.cohort_week, c.week_offset, c.active_users,
           FLOOR(CAST(c.active_users AS DOUBLE) / sz * 1e6 + 0.5) / 1e6 AS retention_q6
    FROM cells c JOIN sizes USING (cohort_week)
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (first-seen ISO week × week offset ×
    active users, retention vs own cohort size)."""
    ev = _td(spark, sf_dir, "events")
    return stats.retention_cohorts(ev)


@_register(
    "ticks_symbol_correlation",
    r"""
    WITH m AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS sym,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS b,
             CAST(FLOOR(CAST(sum(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT))
                             AS DOUBLE) / count(value) + 0.5) AS BIGINT) AS v6
      FROM events GROUP BY 1, 2),
    j AS (
      SELECT a.sym AS sym_a, b2.sym AS sym_b, a.v6 AS xa, b2.v6 AS xb
      FROM m a JOIN m b2 ON a.b = b2.b AND a.sym < b2.sym),
    s AS (
      SELECT sym_a, sym_b, count(*) AS n,
             sum(xa) AS sx, sum(xb) AS sy,
             sum(CAST(xa AS HUGEINT) * xb) AS sxy,
             sum(CAST(xa AS HUGEINT) * xa) AS sxx,
             sum(CAST(xb AS HUGEINT) * xb) AS syy
      FROM j GROUP BY 1, 2),
    c AS (
      SELECT sym_a, sym_b, n,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
      FROM s)
    SELECT sym_a, sym_b, n AS n_buckets,
           FLOOR(num / (sqrt(dx) * sqrt(dy)) * 1e6 + 0.5) / 1e6 AS corr_q6
    FROM c WHERE n >= 2 AND dx > 0 AND dy > 0
    """,
)
def ticks_symbol_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-symbol Pearson correlation over hourly resampled series
    (the portfolio-level step downstream of the reference's per-symbol
    stats): bucket means → bucket-aligned self-join → per-pair corr.
    Quadratic only in symbol count, linear in ticks. Order-independent:
    grid-snapped bucket means + exact integer Pearson sums on both
    engines (stats.exact_corr_sums)."""
    t = _td(spark, sf_dir, "ticks")
    return stats.symbol_correlation(t, interval_sec=3600).withColumnRenamed(
        "corr", "corr_q6"
    )


@_register(
    "ticks_lead_lag_corr",
    r"""
    WITH m AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS sym,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS b,
             CAST(FLOOR(CAST(sum(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT))
                             AS DOUBLE) / count(value) + 0.5) AS BIGINT) AS v6
      FROM events GROUP BY 1, 2),
    d0 AS (
      SELECT sym, b, v6,
             lag(v6) OVER (PARTITION BY sym ORDER BY b) AS pv,
             lag(b) OVER (PARTITION BY sym ORDER BY b) AS pb
      FROM m),
    d AS (SELECT sym, b, v6 - pv AS d6 FROM d0 WHERE pb = b - 1),
    l AS (SELECT k FROM (VALUES (1), (2), (3)) t(k)),
    j AS (
      SELECT a.sym AS sym_lead, g.sym AS sym_lag, l.k AS lag_buckets,
             a.d6 AS xa, g.d6 AS xb
      FROM d a CROSS JOIN l
      JOIN d g ON a.b + l.k = g.b AND a.sym <> g.sym),
    s AS (
      SELECT sym_lead, sym_lag, lag_buckets, count(*) AS n,
             sum(xa) AS sx, sum(xb) AS sy,
             sum(CAST(xa AS HUGEINT) * xb) AS sxy,
             sum(CAST(xa AS HUGEINT) * xa) AS sxx,
             sum(CAST(xb AS HUGEINT) * xb) AS syy
      FROM j GROUP BY 1, 2, 3),
    c AS (
      SELECT sym_lead, sym_lag, lag_buckets, n,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
      FROM s)
    SELECT sym_lead, sym_lag, lag_buckets, n AS n_buckets,
           FLOOR(num / (sqrt(dx) * sqrt(dy)) * 1e6 + 0.5) / 1e6 AS corr_q6
    FROM c WHERE n >= 2 AND dx > 0 AND dy > 0
    """,
)
def ticks_lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional lead-lag correlation: corr of symbol A's hourly
    bucket-mean CHANGE at bucket b vs symbol B's change at b+k, ordered
    pairs, k = 1..3 (stats.lead_lag_correlation) — the predictive-
    structure complement to ticks_symbol_correlation's contemporaneous
    matrix. Differenced series (trending levels correlate at every lag);
    bucket means on the 1e-6 grid, diffs exact BIGINT, Pearson via
    exact integer sums — order-independent on both engines."""
    t = _td(spark, sf_dir, "ticks")
    return stats.lead_lag_correlation(t, interval_sec=3600, max_lag=3)


@_register(
    "ticks_rv_signature",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS p6
      FROM events),
    b AS (
      SELECT symbol, es // 60 AS b0,
             arg_max(p6, lpad(CAST(es AS VARCHAR), 12, '0')
                         || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS l6
      FROM t GROUP BY 1, 2),
    wdn AS (
      SELECT symbol, b0, l6, d.interval_sec
      FROM b CROSS JOIN (VALUES (60), (300), (900), (3600)) d(interval_sec)),
    c AS (
      SELECT symbol, interval_sec, (b0 * 60) // interval_sec AS bk,
             arg_max(l6, b0) AS s6
      FROM wdn GROUP BY 1, 2, 3),
    dd AS (
      SELECT symbol, interval_sec,
             s6 - lag(s6) OVER (PARTITION BY symbol, interval_sec
                                ORDER BY bk) AS dp
      FROM c),
    s AS (
      SELECT symbol, interval_sec, count(dp) AS n_returns,
             sum(CAST(dp AS HUGEINT) * dp) AS ss
      FROM dd GROUP BY 1, 2)
    SELECT symbol, interval_sec, n_returns,
           FLOOR(CAST(ss AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS rv_q6
    FROM s WHERE n_returns >= 2
    """,
)
def ticks_rv_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized-variance signature plot (stats.rv_signature): RV of
    previous-tick-sampled prices at 1/5/15/60-minute intervals per
    symbol — the microstructure-noise diagnostic (RV inflation at fine
    sampling reveals bid-ask bounce). Ticks reduce ONCE to minute
    last-prices; coarser intervals derive from that table. All sums are
    exact integers — order-independent on both engines."""
    t = _td(spark, sf_dir, "ticks").withColumn("es", F.col("ts").cast("long"))
    return stats.rv_signature(
        t, ts_col="es", price_col="value", tiebreak_cols=("event_id",)
    )


@_register(
    "ticks_roll_spread",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS p6
      FROM events),
    d0 AS (
      SELECT symbol, es, event_id,
             p6 - lag(p6) OVER w AS dp
      FROM t
      WINDOW w AS (PARTITION BY symbol ORDER BY es, event_id)),
    d AS (
      SELECT symbol, dp,
             lag(dp) OVER (PARTITION BY symbol ORDER BY es, event_id) AS dpl
      FROM d0),
    s AS (
      SELECT symbol,
             count(CASE WHEN dp IS NOT NULL AND dpl IS NOT NULL THEN 1 END) AS n,
             sum(CASE WHEN dpl IS NOT NULL THEN dp END) AS sx,
             sum(CASE WHEN dp IS NOT NULL THEN dpl END) AS sy,
             sum(CAST(dp AS HUGEINT) * dpl) AS sxy
      FROM d GROUP BY 1),
    c AS (
      SELECT symbol, n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cov6sq
      FROM s WHERE n >= 3)
    SELECT symbol, n AS n_pairs,
           CASE WHEN cov6sq < 0 THEN
             FLOOR(2.0 * sqrt(GREATEST(-cov6sq, 0.0)) / 1e6 * 1e6 + 0.5) / 1e6
           END AS roll_spread_q6
    FROM c
    """,
)
def ticks_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll (1984) implicit effective spread per symbol from trade
    prices alone (stats.roll_spread): 2·√(−serial-cov of consecutive
    price changes); NULL when the covariance is non-negative. Prices on
    the 1e-6 grid, Δp exact BIGINT, covariance from exact integer sums
    — order-independent on both engines."""
    t = _td(spark, sf_dir, "ticks").withColumn("es", F.col("ts").cast("long"))
    return stats.roll_spread(
        t, ts_col="es", price_col="value", tiebreak_cols=("event_id",)
    )


def _frac_diff_oracle(d: float = 0.4, window: int = 20) -> str:
    """Mirror of stats.frac_diff over the shared minute-bar recipe:
    identical weight literals (dlit-rendered), identical per-term
    product order ((lag AS DOUBLE) * w_k * 1e9, floor half-up), exact
    BIGINT term sum."""
    from ..operators.stats import frac_diff_weights

    wts = frac_diff_weights(d, window)
    terms = []
    for k, wk in enumerate(wts):
        src = "CAST(close_i4 AS DOUBLE)" if k == 0 else (
            f"CAST(lag(close_i4, {k}) OVER w AS DOUBLE)"
        )
        terms.append(
            f"CAST(FLOOR({src} * {detmath.dlit(wk)} * 1e9 + 0.5) AS BIGINT)"
        )
    total = "\n               + ".join(terms)
    return rf"""
    WITH src AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             ts, event_id, value
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
    bars AS (
      SELECT symbol, bar_ts,
             CAST(FLOOR(value * 1e4 + 0.5) AS BIGINT) AS close_i4
      FROM (SELECT symbol, date_trunc('minute', ts) AS bar_ts, value,
                   row_number() OVER (
                     PARTITION BY symbol, date_trunc('minute', ts)
                     ORDER BY ts DESC, event_id DESC) AS rn
            FROM src) t WHERE rn = 1)
    SELECT symbol, bar_ts AS ts, close_i4 AS price_i4,
           CASE WHEN lag(close_i4, {window - 1}) OVER w IS NOT NULL THEN
             FLOOR((CAST(({total}) AS DOUBLE) / 1e9 / 1e4) * 1e6 + 0.5) / 1e6
           END AS ffd_q6
    FROM bars
    WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    """


@_register("ticks_frac_diff", _frac_diff_oracle)
def ticks_frac_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width fractional differentiation (stats.frac_diff, d=0.4,
    window=20) of the integer-grid minute closes — the López de Prado
    ch.5 stationarity transform that keeps long-range memory where
    first differences destroy it. One window sort per symbol computes
    all 20 lags in a single pass; each w_k·x_{t−k} term is one
    correctly-rounded product snapped to a 1e-9-relative grid, summed
    as exact BIGINT (scale-separation rule), so the q6 output is
    layout-independent."""
    return stats.frac_diff(_minute_closes(spark, sf_dir), d=0.4, window=20)


@_register(
    "ticks_amihud_illiq",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS p6,
             (event_id % 100 + 1) AS sz
      FROM events),
    b AS (
      SELECT symbol, es // 86400 AS d,
             arg_max(p6, lpad(CAST(es AS VARCHAR), 12, '0')
                         || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS c6,
             sum(CAST(p6 AS HUGEINT) * sz) AS pv
      FROM t GROUP BY 1, 2),
    l AS (
      SELECT symbol, c6, pv,
             lag(c6) OVER (PARTITION BY symbol ORDER BY d) AS prev
      FROM b),
    c AS (
      SELECT symbol,
             CAST(FLOOR(abs(c6 - prev) / prev / (CAST(pv AS DOUBLE) / 1e6)
                        * 1e15 + 0.5) AS BIGINT) AS contrib
      FROM l WHERE prev IS NOT NULL)
    SELECT symbol, CAST(count(*) AS BIGINT) AS n_periods,
           FLOOR(CAST(sum(contrib) AS DOUBLE) / count(*) + 0.5) / 1e6
             AS illiq_e9_q6
    FROM c GROUP BY 1 HAVING count(*) >= 2
    """,
)
def ticks_amihud_illiq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity per symbol (stats.amihud_illiquidity): daily
    |close-to-close return| over dollar volume, averaged and reported
    ×1e9 (synthetic size event_id%100+1 as in ticks_vwap_twap). Each
    day's ratio snaps to a 1e-15 integer grid BEFORE the cross-day
    average, so the sum is exact on both engines."""
    t = _td(spark, sf_dir, "ticks").withColumn("es", F.col("ts").cast("long"))
    return stats.amihud_illiquidity(
        t,
        ts_col="es",
        price_col="value",
        size_col="sz",
        tiebreak_cols=("event_id",),
    )


@_register(
    "ticks_vpin",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS p6,
             (event_id % 100 + 1) AS sz
      FROM events),
    d AS (
      SELECT *, p6 - lag(p6) OVER w AS dp
      FROM t
      WINDOW w AS (PARTITION BY symbol ORDER BY es, event_id)),
    s AS (
      SELECT symbol, sz,
             last_value(CASE WHEN dp > 0 THEN 1
                             WHEN dp < 0 THEN -1 END IGNORE NULLS)
               OVER w2 AS side,
             sum(sz) OVER w2 AS cum
      FROM d
      WINDOW w2 AS (PARTITION BY symbol ORDER BY es, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    b AS (
      SELECT symbol, CAST((cum - sz) // 10000 AS BIGINT) AS bk,
             sum(CASE WHEN side = 1 THEN sz ELSE 0 END) AS buy,
             sum(CASE WHEN side = -1 THEN sz ELSE 0 END) AS sell,
             CAST(max(cum) AS BIGINT) AS cmax
      FROM s GROUP BY 1, 2),
    g AS (
      SELECT symbol, CAST(count(*) AS BIGINT) AS n_buckets,
             sum(abs(buy - sell)) AS imb
      FROM b WHERE cmax >= (bk + 1) * 10000 GROUP BY 1)
    SELECT symbol, n_buckets,
           FLOOR(CAST(imb AS DOUBLE)
                 / CAST(n_buckets * 10000 AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS vpin_q6
    FROM g WHERE n_buckets >= 1
    """,
)
def ticks_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN flow toxicity per symbol (stats.vpin): tick-rule-signed
    buy/sell volume imbalance averaged over complete 10,000-unit
    equal-volume buckets (same synthetic size and bucket assignment as
    ticks_volume_bars). Integer buckets and imbalance sums; one
    pointwise division — order-independent on both engines."""
    t = _td(spark, sf_dir, "ticks").withColumn("es", F.col("ts").cast("long"))
    return stats.vpin(
        t,
        ts_col="es",
        price_col="value",
        size_col="sz",
        bucket_volume=10_000,
        tiebreak_cols=("event_id",),
    )


@_register(
    "ticks_volume_bars",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS p6,
             (event_id % 100 + 1) AS sz
      FROM events),
    c AS (
      SELECT *,
             sum(sz) OVER (PARTITION BY symbol ORDER BY es, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             lpad(CAST(es AS VARCHAR), 12, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
      FROM t),
    g AS (
      SELECT symbol, CAST((cum - sz) // 10000 AS BIGINT) AS bar_id,
             CAST(count(*) AS BIGINT) AS n_ticks,
             CAST(sum(sz) AS BIGINT) AS volume,
             arg_min(p6, ord) AS o, max(p6) AS h,
             min(p6) AS l, arg_max(p6, ord) AS cl,
             sum(CAST(p6 AS HUGEINT) * sz) AS pv,
             min(es) AS bar_start, max(es) AS bar_end,
             CAST(max(cum) AS BIGINT) AS cmax
      FROM c GROUP BY 1, 2)
    SELECT symbol, bar_id, bar_start, bar_end, n_ticks, volume,
           o / 1e6 AS open, h / 1e6 AS high, l / 1e6 AS low,
           cl / 1e6 AS close,
           FLOOR(CAST(pv AS DOUBLE) / volume / 1e6 * 1e6 + 0.5) / 1e6
             AS vwap_q6,
           cmax >= (bar_id + 1) * 10000 AS complete
    FROM g
    """,
)
def ticks_volume_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-volume bars (ticks.volume_bars): per-symbol bars that close
    every 10,000 units of traded size (deterministic synthetic size
    event_id%100+1 as in ticks_vwap_twap) with OHLC/VWAP/span per bar —
    the information-driven sampling alternative to clock bars. Integer
    prefix sums assign bars; exact integer OHLC/VWAP sums — order-
    independent on both engines."""
    t = _td(spark, sf_dir, "ticks").withColumn("es", F.col("ts").cast("long"))
    return ticks.volume_bars(
        t,
        ts_col="es",
        price_col="value",
        size_col="sz",
        bar_volume=10_000,
        tiebreak_cols=("event_id",),
    )


@_register(
    "ticks_intraday_seasonality",
    """
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             date_part('hour', ts) AS hod,
             (event_id % 100 + 1) AS sz
      FROM events WHERE user_id IS NOT NULL),
    g AS (
      SELECT symbol, CAST(hod AS INT) AS hour_of_day,
             CAST(count(*) AS BIGINT) AS n_ticks,
             CAST(sum(sz) AS BIGINT) AS volume
      FROM t GROUP BY 1, 2),
    s AS (SELECT symbol, sum(n_ticks) AS tot_ticks,
                 sum(volume) AS tot_vol FROM g GROUP BY 1)
    SELECT g.symbol, g.hour_of_day, g.n_ticks, g.volume,
           FLOOR(CAST(g.n_ticks AS DOUBLE) / s.tot_ticks * 1e6 + 0.5) / 1e6
             AS tick_share_q6,
           FLOOR(CAST(g.volume AS DOUBLE) / s.tot_vol * 1e6 + 0.5) / 1e6
             AS volume_share_q6
    FROM g JOIN s USING (symbol)
    """,
)
def ticks_intraday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday activity seasonality per symbol: tick-count and volume
    share by hour of day — the U-shape profile that calibrates VWAP
    schedules and volume-bar thresholds. One hash agg to the 24-row
    per-symbol profile + one alphabet-sized share window; exact-count
    divisions only."""
    from pyspark.sql import Window

    g = (
        _td(spark, sf_dir, "ticks")
        .filter(F.col("user_id").isNotNull())
        .select("symbol", F.hour("ts").alias("hour_of_day"), "sz")
        .groupBy("symbol", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("sz").alias("volume"),
        )
    )
    w = Window.partitionBy("symbol")
    return g.select(
        "symbol",
        "hour_of_day",
        "n_ticks",
        "volume",
        q6(
            F.col("n_ticks").cast("double") / F.sum("n_ticks").over(w)
        ).alias("tick_share_q6"),
        q6(
            F.col("volume").cast("double") / F.sum("volume").over(w)
        ).alias("volume_share_q6"),
    )


@_register(
    "ticks_dollar_bars",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS p6,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               * (event_id % 100 + 1) AS sz
      FROM events),
    c AS (
      SELECT *,
             sum(sz) OVER (PARTITION BY symbol ORDER BY es, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             lpad(CAST(es AS VARCHAR), 12, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
      FROM t),
    g AS (
      SELECT symbol, CAST((cum - sz) // 10000000 AS BIGINT) AS bar_id,
             CAST(count(*) AS BIGINT) AS n_ticks,
             CAST(sum(sz) AS BIGINT) AS volume,
             arg_min(p6, ord) AS o, max(p6) AS h,
             min(p6) AS l, arg_max(p6, ord) AS cl,
             sum(CAST(p6 AS HUGEINT) * sz) AS pv,
             min(es) AS bar_start, max(es) AS bar_end,
             CAST(max(cum) AS BIGINT) AS cmax
      FROM c GROUP BY 1, 2)
    SELECT symbol, bar_id, bar_start, bar_end, n_ticks, volume,
           o / 1e6 AS open, h / 1e6 AS high, l / 1e6 AS low,
           cl / 1e6 AS close,
           FLOOR(CAST(pv AS DOUBLE) / volume / 1e6 * 1e6 + 0.5) / 1e6
             AS vwap_q6,
           cmax >= (bar_id + 1) * 10000000 AS complete
    FROM g
    """,
)
def ticks_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dollar bars (López de Prado ch.2's preferred information-driven
    sampling): the same exact-prefix-sum bar machinery as
    ticks_volume_bars, but cumulating the traded DOLLAR value (integer
    cents × size) and closing every $100k — robust to price-level
    drift where tick/volume bars aren't. One per-symbol sort + one
    hash agg; all integers, layout-independent."""
    t = _td(spark, sf_dir, "ticks").withColumns(
        {"es": F.col("ts").cast("long"), "sz": cents(F.col("value")) * F.col("sz")}
    )
    return ticks.volume_bars(
        t,
        ts_col="es",
        price_col="value",
        size_col="sz",
        bar_volume=10_000_000,
        tiebreak_cols=("event_id",),
    )


@_register(
    "ticks_kyle_lambda",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS p6,
             (event_id % 100 + 1) AS sz
      FROM events),
    d AS (
      SELECT *, p6 - lag(p6) OVER w AS dp
      FROM t
      WINDOW w AS (PARTITION BY symbol ORDER BY es, event_id)),
    s AS (
      SELECT symbol, es, event_id, p6, sz,
             last_value(CASE WHEN dp > 0 THEN 1
                             WHEN dp < 0 THEN -1 END IGNORE NULLS)
               OVER (PARTITION BY symbol ORDER BY es, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS side
      FROM d),
    bars AS (
      SELECT symbol, es // 3600 AS b,
             sum(COALESCE(side, 0) * sz) AS q,
             arg_max(p6, lpad(CAST(es AS VARCHAR), 12, '0')
                         || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS l6
      FROM s GROUP BY 1, 2),
    dd AS (
      SELECT symbol, q,
             l6 - lag(l6) OVER (PARTITION BY symbol ORDER BY b) AS dp6
      FROM bars),
    g AS (
      SELECT symbol,
             count(CASE WHEN dp6 IS NOT NULL THEN 1 END) AS n,
             sum(CASE WHEN dp6 IS NOT NULL THEN q END) AS sx,
             sum(CASE WHEN dp6 IS NOT NULL THEN dp6 END) AS sy,
             sum(CASE WHEN dp6 IS NOT NULL
                      THEN CAST(q AS HUGEINT) * dp6 END) AS sxy,
             sum(CASE WHEN dp6 IS NOT NULL
                      THEN CAST(q AS HUGEINT) * q END) AS sxx,
             sum(CASE WHEN dp6 IS NOT NULL
                      THEN CAST(dp6 AS HUGEINT) * dp6 END) AS syy
      FROM dd GROUP BY 1),
    c AS (
      SELECT symbol, n,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
      FROM g)
    SELECT symbol, n AS n_buckets,
           FLOOR(num / dx / 1e6 * 1e9 + 0.5) / 1e9 AS lambda_q9,
           CASE WHEN dy > 0 THEN
             FLOOR(num * num / (dx * dy) * 1e6 + 0.5) / 1e6 END AS r2_q6
    FROM c WHERE n >= 3 AND dx > 0
    """,
)
def ticks_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle-lambda price impact per symbol (stats.kyle_lambda): hourly
    close-to-close price change regressed on tick-rule-signed net volume
    (deterministic synthetic size event_id%100+1 as in ticks_vwap_twap),
    emitting the OLS slope in price units per unit size plus R². Exact
    integer sums feed the regression on both engines — the unordered-
    float-sum hazard is absent by construction."""
    t = _td(spark, sf_dir, "ticks").withColumn("es", F.col("ts").cast("long"))
    return stats.kyle_lambda(
        t,
        ts_col="es",
        price_col="value",
        size_col="sz",
        tiebreak_cols=("event_id",),
    )


@_register(
    "ticks_tick_rule_flow",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             event_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events),
    d AS (
      SELECT symbol, es, event_id, value,
             value - lag(value) OVER w AS dp
      FROM t
      WINDOW w AS (PARTITION BY symbol ORDER BY es, event_id)),
    s AS (
      SELECT symbol, es,
             last_value(CASE WHEN dp > 0 THEN 1
                             WHEN dp < 0 THEN -1 END IGNORE NULLS)
               OVER (PARTITION BY symbol ORDER BY es, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS side
      FROM d),
    bars AS (
      SELECT symbol, es // 3600 AS b,
             count(CASE WHEN side = 1 THEN 1 END) AS n_up,
             count(CASE WHEN side = -1 THEN 1 END) AS n_dn,
             count(CASE WHEN side IS NULL THEN 1 END) AS n_unclassified
      FROM s GROUP BY 1, 2)
    SELECT symbol, b * 3600 AS bucket_start_epoch, n_up, n_dn,
           n_unclassified,
           CASE WHEN n_up + n_dn > 0 THEN
             FLOOR(CAST(n_up - n_dn AS DOUBLE) / (n_up + n_dn) * 1e6 + 0.5)
               / 1e6 END AS imbalance_q6
    FROM bars
    """,
)
def ticks_tick_rule_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule order-flow bars (ticks.tick_rule_flow): sign each tick
    buyer/seller-initiated by price change with zero-tick carry-forward
    (the classic aggressor-side proxy), then hourly up/down counts and
    signed imbalance per symbol. One per-symbol sort reused by both
    window passes, one hash agg — integer outputs + a pointwise ratio,
    order-independent on both engines."""
    t = _td(spark, sf_dir, "ticks").withColumn("es", F.col("ts").cast("long"))
    return ticks.tick_rule_flow(
        t, ts_col="es", price_col="value", tiebreak_cols=("event_id",)
    )


@_register(
    "ticks_winsorize",
    r"""
    WITH t AS (
      SELECT event_id, 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, value
      FROM events),
    b AS (
      SELECT symbol, quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      FROM t WHERE symbol IS NOT NULL GROUP BY symbol)
    -- LEFT join + clampable guard mirror the operator's NULL semantics:
    -- NULL values/keys pass through unclamped (DuckDB GREATEST/LEAST
    -- skip NULLs, which would otherwise fabricate the low bound)
    SELECT t.event_id, t.symbol,
           CASE WHEN t.value IS NOT NULL AND b.lo IS NOT NULL AND b.hi IS NOT NULL
                THEN FLOOR(LEAST(GREATEST(t.value, b.lo), b.hi) * 1e6 + 0.5) / 1e6
                ELSE FLOOR(t.value * 1e6 + 0.5) / 1e6 END AS value_w,
           (t.value IS NOT NULL AND b.lo IS NOT NULL AND b.hi IS NOT NULL
            AND (t.value < b.lo OR t.value > b.hi)) AS value_clamped
    FROM t LEFT JOIN b USING (symbol)
    """,
)
def ticks_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol 5/95-percentile winsorization with intervention flags
    (exact percentiles, broadcast bounds join — the robust-cleaning
    counterpart of `ticks_despike`)."""
    t = _td(spark, sf_dir, "ticks")
    out = ticks.winsorize(t, value_cols=("value",), lo=0.05, hi=0.95)
    return out.select(
        "event_id",
        "symbol",
        (F.floor(F.col("value") * 1e6 + F.lit(0.5)) / 1e6).alias("value_w"),
        "value_clamped",
    )


@_register(
    "ticks_downsample_1min",
    """
    SELECT event_id, user_id, ts, event_type, value FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, date_trunc('minute', ts)
        ORDER BY ts, event_id) AS rn
      FROM events) WHERE rn = 1
    """,
)
def ticks_downsample_1min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/W1: deterministic first-per-interval downsample (reference
    spark_session_window_tick_cleaner.py:150-161, 1-minute bucket so the
    dedup path is actually exercised on the events density)."""
    ev = _td(spark, sf_dir, "events")
    out = ticks.downsample_interval(
        ev,
        ts_col="ts",
        interval="1 minute",
        partition_cols=("user_id",),
        tiebreak_cols=("event_id",),
    )
    return out.select("event_id", "user_id", "ts", "event_type", "value")


@_register(
    "ticks_session_filter",
    """
    SELECT event_id, ts, user_id, event_type, value FROM events
    WHERE (hour(ts)*60 + minute(ts) >= 7*60+50 AND hour(ts)*60 + minute(ts) < 8*60)
       OR (hour(ts)*60 + minute(ts) >= 13*60+50 AND hour(ts)*60 + minute(ts) < 14*60)
    """,
)
def ticks_session_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4: canonical session-window time-of-day filter
    (spark_session_window_tick_cleaner.py:141-144, [start,end) bounds)."""
    ev = _td(spark, sf_dir, "events")
    return ticks.session_filter(ev, ts_col="ts", closed="left").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@_register(
    "ticks_daily_window_counts",
    """
    SELECT CAST(ts AS DATE) AS date,
           CAST(SUM(CASE WHEN hour(ts)*60+minute(ts) >= 7*60+50 AND hour(ts)*60+minute(ts) < 8*60
               THEN 1 ELSE 0 END) AS BIGINT) AS ticks_window1,
           CAST(SUM(CASE WHEN hour(ts)*60+minute(ts) >= 13*60+50 AND hour(ts)*60+minute(ts) < 14*60
               THEN 1 ELSE 0 END) AS BIGINT) AS ticks_window2
    FROM events GROUP BY 1
    """,
)
def ticks_daily_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+J1+A8: daily per-session-window counts
    (symbol_statistics_generate.py:70-81) — single-scan conditional agg
    replaces the reference's two filtered aggs + outer join + fillna."""
    ev = _td(spark, sf_dir, "events")
    return stats.daily_window_counts(ev, ts_col="ts", partition_cols=())


@_register(
    "ticks_quality_scan",
    """
    SELECT COUNT(*) AS total_rows,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
           CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value
    FROM events
    """,
)
def ticks_quality_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/P2: single-pass row+null-count audit
    (spark_data_cleaner_script.py:21-26 did 4 scans per file)."""
    ev = _td(spark, sf_dir, "events")
    return stats.quality_scan(
        ev, cols=["event_id", "ts", "user_id", "event_type", "value"]
    )


@_register(
    "ticks_daily_outer_join",
    """
    WITH w1 AS (SELECT CAST(ts AS DATE) AS date, COUNT(*) AS ticks_window1
                FROM events WHERE event_type = 'click' GROUP BY 1),
         w2 AS (SELECT CAST(ts AS DATE) AS date, COUNT(*) AS ticks_window2
                FROM events WHERE event_type = 'purchase' GROUP BY 1)
    SELECT COALESCE(w1.date, w2.date) AS date,
           COALESCE(ticks_window1, 0) AS ticks_window1,
           COALESCE(ticks_window2, 0) AS ticks_window2
    FROM w1 FULL OUTER JOIN w2 ON w1.date = w2.date
    """,
)
def ticks_daily_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A8 in the reference's literal shape (two aggregates, full outer
    join on date, fillna(0) — symbol_statistics_generate.py:73-81)."""
    ev = _td(spark, sf_dir, "events")
    w1 = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.count(F.lit(1)).alias("ticks_window1"))
    )
    w2 = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.count(F.lit(1)).alias("ticks_window2"))
    )
    return (
        w1.join(w2, "date", "outer")
        .na.fill(0, ["ticks_window1", "ticks_window2"])
        .select("date", "ticks_window1", "ticks_window2")
    )


@_register(
    "ticks_ffill",
    """
    SELECT event_id, user_id, ts,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM (SELECT *, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
          FROM events)
    """,
)
def ticks_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: forward-fill in event-time order (model.py:227-231 ffill).
    'error' events get a synthetic null so the fill path is exercised."""
    ev = _td(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    )
    filled = ticks.ffill(
        ev,
        cols=["v"],
        ts_col="ts",
        partition_cols=("user_id",),
        tiebreak_cols=("event_id",),
    )
    return filled.select(
        "event_id", "user_id", "ts", F.col("v").alias("filled_value")
    )


@_register(
    "ticks_resample_even",
    """
    SELECT event_id, user_id, ts FROM (
      SELECT event_id, user_id, ts,
             COUNT(*) OVER (PARTITION BY user_id) AS cnt,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
      FROM events)
    WHERE cnt <= 10
       OR FLOOR(FLOOR(rn * 9.0 / (cnt - 1) + 0.5) * (cnt - 1) / 9.0 + 0.5) = rn
    """,
)
def ticks_resample_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: evenly-spaced resample of each user's stream to 10 rows
    (model.py:313-315 np.linspace index pick)."""
    ev = _td(spark, sf_dir, "events")
    out = stats.resample_even(
        ev, n_target=10, ts_col="ts", partition_cols=("user_id",)
    )
    return out.select("event_id", "user_id", "ts")


@_register(
    "ticks_value_stats",
    """
    WITH g AS (
      SELECT event_type,
             count(value) AS n,
             CAST(SUM(CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) AS s1,
             CAST(SUM(CAST(FLOOR(value * value * 1e4 + 0.5) AS BIGINT))
                  AS DOUBLE) AS s2,
             MIN(value) AS mn, MAX(value) AS mx,
             quantile_cont(value, 0.5) AS med,
             quantile_cont(value, 0.92) AS p92,
             quantile_cont(value, 0.995) AS p995
      FROM events GROUP BY event_type),
    m AS (SELECT *, (s1 / 1e2) / n AS mean FROM g)
    SELECT event_type,
           ROUND(mean, 4) AS mean_err,
           ROUND(CASE WHEN n > 1 THEN
                   sqrt(GREATEST((s2 / 1e4 - n * mean * mean) / (n - 1), 0.0))
                 END, 4) AS std_err,
           ROUND(mn, 4) AS min_err,
           ROUND(mx, 4) AS max_err,
           ROUND(med, 4) AS median_err,
           ROUND(p92, 4) AS p92_0,
           ROUND(p995, 4) AS p99_5
    FROM m
    """,
)
def ticks_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: mean/std/min/max/median + [92, 99.5] percentile thresholds
    (test.py:333-358; parameters.json percentile_thresholds)."""
    ev = _td(spark, sf_dir, "events")
    out = stats.error_stats(
        ev,
        err_col="value",
        group_cols=("event_type",),
        percentiles=(92.0, 99.5),
        decimals=2,
    )
    rounded = [F.col("event_type")] + [
        F.round(F.col(c), 4).alias(c) for c in out.columns if c != "event_type"
    ]
    return out.select(*rounded)


@_register(
    "ticks_threshold_exceed",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN value > 150.0 THEN 1 ELSE 0 END) AS BIGINT) AS exceed_p92,
           CAST(SUM(CASE WHEN value > 450.0 THEN 1 ELSE 0 END) AS BIGINT) AS exceed_p99_5
    FROM events GROUP BY event_type
    """,
)
def ticks_threshold_exceed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: anomaly threshold-exceed counts (test.py:341-344)."""
    ev = _td(spark, sf_dir, "events")
    return stats.threshold_exceed_counts(
        ev, "value", {"p92": 150.0, "p99_5": 450.0}, group_cols=("event_type",)
    )


@_register(
    "ticks_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    s AS (SELECT user_id,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM g)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def ticks_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap>30min starts a new session (lag + running sum)
    — the batch analog of the streaming session_window (SURVEY §2.9)."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # in microseconds: whole seconds would truncate a 1800.4 s gap to
    # 1800 s and miss the session break the oracle's interval test sees
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    is_new = F.when(
        F.lag(F.col("ts")).over(w).isNull() | (gap > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(run).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@_register(
    "ticks_gap_fill",
    """
    WITH dedup AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events) t WHERE rn = 1),
    bounds AS (
      SELECT user_id, MIN(ts) AS t0, MAX(ts) AS t1 FROM dedup GROUP BY user_id),
    spine AS (
      SELECT user_id, UNNEST(generate_series(t0, t1, INTERVAL 6 HOUR)) AS ts
      FROM bounds)
    SELECT s.user_id, s.ts, e.value
    FROM spine s ASOF JOIN dedup e
      ON s.user_id = e.user_id AND s.ts >= e.ts
    """,
)
def ticks_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling: complete 6-hour spine per user carrying the
    last-known value (sequence+explode spine, as-of attach). Oracle uses
    DuckDB's native ASOF JOIN — an independent as-of implementation
    cross-checking ours."""
    ev = _td(spark, sf_dir, "events")
    return ticks.gap_fill(
        ev, ts_col="ts", value_col="value", step="6 hours",
        partition_cols=("user_id",), tiebreak_col="event_id",
    ).select("user_id", "ts", "value")


@_register(
    "events_value_histogram",
    """
    SELECT LEAST(GREATEST(CAST(FLOOR(value / 100.0) AS BIGINT), 0), 9)
             AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(value), 6) AS lo,
           ROUND(MAX(value), 6) AS hi
    FROM events
    GROUP BY 1
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram (10 clamped buckets of width 100) in one
    hash aggregate — the distribution-profiling primitive; bucket math in
    codegen, no width_bucket UDF."""
    ev = _td(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 100.0).cast("long"), F.lit(0)),
        F.lit(9),
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


@_register(
    "events_weekly_retention",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id)
    SELECT CAST(date_trunc('week', d0) AS DATE) AS cohort_week,
           COUNT(DISTINCT f.user_id) AS cohort_size,
           COUNT(DISTINCT CASE WHEN CAST(e.ts AS DATE) >= d0 + 7
                 AND CAST(e.ts AS DATE) < d0 + 14
                 THEN e.user_id END) AS week1_retained
    FROM first_seen f JOIN events e ON f.user_id = e.user_id
    GROUP BY 1
    """,
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted again
    if active in days [7, 14) after first touch — distinct-count over a
    self-join on the cohort dimension."""
    ev = _td(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    return (
        ev.join(first_seen, "user_id")
        .groupBy(F.date_trunc("week", F.col("d0")).cast("date").alias("cohort_week"))
        .agg(
            F.countDistinct("user_id").alias("cohort_size"),
            F.countDistinct(
                F.when(
                    (F.to_date("ts") >= F.date_add(F.col("d0"), 7))
                    & (F.to_date("ts") < F.date_add(F.col("d0"), 14)),
                    F.col("user_id"),
                )
            ).alias("week1_retained"),
        )
    )


@_register(
    "events_funnel",
    """
    SELECT
      CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
      CAST(SUM(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
      CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_purchase
          THEN 1 ELSE 0 END) AS BIGINT) AS purchased_full_funnel
    FROM (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id) u
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view -> click -> purchase): per-user
    conditional-min timestamps in ONE scan + one tiny final agg — no
    joins, no per-stage subqueries (NULL mins propagate 'never did
    stage' through the < comparisons)."""
    ev = _td(spark, sf_dir, "events")

    def stage_min(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    u = ev.groupBy("user_id").agg(
        stage_min("view").alias("t_view"),
        stage_min("click").alias("t_click"),
        stage_min("purchase").alias("t_purchase"),
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return u.agg(
        flag(F.col("t_view").isNotNull()).alias("viewed"),
        flag(F.col("t_view") < F.col("t_click")).alias("clicked_after_view"),
        flag(
            (F.col("t_view") < F.col("t_click"))
            & (F.col("t_click") < F.col("t_purchase"))
        ).alias("purchased_full_funnel"),
    )


@_register(
    "ticks_despike",
    """
    SELECT event_id, user_id, ts, value FROM (
      SELECT event_id, user_id, ts, value,
             ABS(value - MEDIAN(value) OVER w) / ABS(MEDIAN(value) OVER w) AS rel_dev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) t
    WHERE rel_dev IS NULL OR rel_dev <= 0.5
    """,
)
def ticks_despike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike filter: drop ticks deviating > 50% from the trailing
    5-tick median (robust to the spike itself, unlike a mean — the
    cleaning step the reference's pipeline lacks)."""
    ev = _td(spark, sf_dir, "events")
    out = ticks.despike(
        ev, ts_col="ts", value_col="value", k=5,
        max_rel_dev=0.5, partition_cols=("user_id",),
        tiebreak_cols=("event_id",),
    )
    return out.select("event_id", "user_id", "ts", "value")


@_register(
    "events_key_skew_report",
    """
    WITH counts AS (
      SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id),
    totals AS (
      SELECT SUM(n_rows) AS total_rows, COUNT(*) AS n_keys FROM counts),
    ranked AS (
      SELECT user_id, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, user_id) AS rank
      FROM counts)
    SELECT user_id, n_rows,
           ROUND(n_rows / total_rows, 6) AS share,
           ROUND(n_rows / (total_rows / n_keys), 4) AS skew_ratio,
           rank
    FROM ranked, totals
    WHERE rank <= 10
    """,
)
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic: top-10 heaviest keys with share of total
    and ratio to the mean key weight (input to the salting decision)."""
    ev = _td(spark, sf_dir, "events")
    return stats.key_skew_report(ev, key_cols=("user_id",), top_k=10)


@_register(
    "ticks_ohlc_bars",
    """
    SELECT user_id, bar_start,
           arg_min(value, ord) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ord) AS close,
           COUNT(*) AS n_ticks
    FROM (SELECT user_id, date_trunc('minute', ts) AS bar_start, value,
                 -- fixed-width sortable key == Spark's struct(ts, event_id)
                 lpad(CAST(epoch_ms(ts) AS VARCHAR), 14, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
          FROM events) t
    GROUP BY user_id, bar_start
    """,
)
def ticks_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars per (user, minute) over the events stand-in — the
    canonical tick downsample (open/close deterministic via
    (ts, event_id) min_by/max_by; single hash agg, map-side partials)."""
    ev = _td(spark, sf_dir, "events")
    return ticks.ohlc_bars(
        ev,
        ts_col="ts",
        value_col="value",
        interval="1 minute",
        partition_cols=("user_id",),
        tiebreak_cols=("event_id",),
    )


@_register(
    "ticks_rolling_stats",
    """
    SELECT event_id, user_id, ts, value,
           ROUND((CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) OVER w
                       AS DOUBLE) / 1e6) / COUNT(value) OVER w, 6) AS roll_avg,
           MIN(value) OVER w AS roll_min,
           MAX(value) OVER w AS roll_max,
           COUNT(*) OVER w AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                 RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)
    """,
)
def ticks_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-minute moving stats per tick: event-time RANGE frame
    over epoch-millis (density-correct, unlike a ROWS frame)."""
    ev = _td(spark, sf_dir, "events")
    out = ticks.rolling_stats(
        ev, ts_col="ts", value_col="value", window_ms=300_000,
        partition_cols=("user_id",),
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        "roll_avg", "roll_min", "roll_max", "roll_n",
    )


@_register(
    "ticks_indicators",
    """
    WITH base AS (
      SELECT event_id, user_id, ts, value,
             -- mirror Spark non-ANSI null semantics: x/0 -> NULL and
             -- ln(x<=0) -> NULL (DuckDB would raise on ln(0) instead)
             CASE WHEN lag(value) OVER w IS NULL
                    OR lag(value) OVER w = 0
                    OR value / lag(value) OVER w <= 0 THEN NULL
                  ELSE value / lag(value) OVER w END AS ratio,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS l,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS v6,
             CAST(FLOOR(value * value * 1e6 + 0.5) AS BIGINT) AS v26
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    r0 AS (
      SELECT *, {DET_LN_RATIO} AS ret_raw FROM base),
    r AS (
      SELECT *,
             sum(CAST(FLOOR(ret_raw * ret_raw * 1e12 + 0.5) AS BIGINT))
               OVER w20 AS sq12,
             sum(v6) OVER w20 AS s1i,
             sum(v26) OVER w20 AS s2i,
             count(value) OVER w20 AS cnt,
             list_sum(list_transform(range(1, len(l) + 1),
               i -> l[i] * ({DECAY_TBL})[len(l) - i + 1])) AS wsum_x,
             list_sum(list_transform(range(1, len(l) + 1),
               i -> ({DECAY_TBL})[len(l) - i + 1])) AS wsum
      FROM r0
      WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    fin AS (
      SELECT *,
             (CAST(s1i AS DOUBLE) / 1e6) / cnt AS mid,
             sqrt(GREATEST((CAST(s2i AS DOUBLE) / 1e6) / cnt
                           - ((CAST(s1i AS DOUBLE) / 1e6) / cnt)
                             * ((CAST(s1i AS DOUBLE) / 1e6) / cnt),
                           0.0)) AS sd
      FROM r)
    SELECT event_id, user_id, ts,
           ROUND(ret_raw, 6) AS ret,
           ROUND(wsum_x / wsum, 6) AS ema,
           ROUND(sqrt(CAST(sq12 AS DOUBLE) / 1e12), 6) AS rvol,
           ROUND(mid, 6) AS boll_mid,
           ROUND(mid + 2 * sd, 6) AS boll_up,
           ROUND(mid - 2 * sd, 6) AS boll_dn
    FROM fin
    """.format(
        DET_LN_RATIO=detmath.det_ln_pos_sql("ratio", "duckdb"),
        DECAY_TBL="["
        + ", ".join(detmath.dlit((1 - 2.0 / 13) ** k) for k in range(12))
        + "]",
    ),
)
def ticks_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Technical-indicator pack over the events stream (per-user price
    series stand-in): log returns, truncated EMA(12), realized vol(20),
    Bollinger(20, 2) — all single-sort ROWS-frame window arithmetic, no
    self-join. Oracle re-derives the truncated EMA via list windows."""
    ev = _td(spark, sf_dir, "events")
    out = ticks.indicators(
        ev,
        ts_col="ts",
        value_col="value",
        partition_cols=("user_id",),
        tiebreak_cols=("event_id",),
    )
    return out.select(
        "event_id", "user_id", "ts", "ret", "ema", "rvol",
        "boll_mid", "boll_up", "boll_dn",
    )


@_register(
    "ticks_tz_spread_scrub",
    """
    WITH t AS (
      SELECT event_id, ts,
             CASE WHEN event_id % 103 = 0 THEN NULL ELSE value END AS bid,
             CASE WHEN event_id % 101 = 0 THEN NULL
                  WHEN event_id % 107 = 0 THEN value * 0.99
                  ELSE value * 1.01 END AS ask
      FROM events)
    SELECT event_id,
           ts + INTERVAL 2 HOUR AS ts,
           floor(bid * 1000000 + 0.5) / 1000000 AS bid,
           floor(ask * 1000000 + 0.5) / 1000000 AS ask,
           floor(CASE WHEN ask IS NULL OR bid IS NULL THEN 0.0
                      ELSE GREATEST(ask - bid, 0.0) END * 1000000 + 0.5)
             / 1000000 AS spread
    FROM t
    """,
)
def ticks_tz_spread_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/F3 + F4 + F5 through the driver contract in one pipeline:
    deterministic ±inf/NaN injection (id-keyed, so the oracle knows
    exactly which rows) → ticks.scrub_inf_nan (non-finite → NULL, the
    reference's replace([inf,-inf], nan)) → ticks.with_spread (ask-bid
    clamped at 0; Spark's null-skipping greatest makes scrubbed rows 0.0,
    mirrored by an explicit CASE in the oracle) → ticks.shift_timezone
    (+2h broker normalization, data_loader.py:50). Floats quantized
    half-up 6dp on both sides."""
    ev = _td(spark, sf_dir, "events")
    t = ev.select(
        "event_id",
        "ts",
        F.when(F.col("event_id") % 103 == 0, F.lit(float("nan")))
        .otherwise(F.col("value"))
        .alias("bid"),
        F.when(F.col("event_id") % 101 == 0, F.lit(float("inf")))
        .when(F.col("event_id") % 107 == 0, F.col("value") * 0.99)
        .otherwise(F.col("value") * 1.01)
        .alias("ask"),
    )
    t = ticks.scrub_inf_nan(t, ["bid", "ask"])
    t = ticks.with_spread(t)
    t = ticks.shift_timezone(t, hours=2)

    return t.select(
        "event_id", "ts", *(q6(F.col(c)).alias(c) for c in ("bid", "ask", "spread"))
    )


@_register(
    "stats_csv_roundtrip",
    """
    SELECT CAST(ts AS DATE) AS date,
           CAST(SUM(CASE WHEN hour(ts)*60+minute(ts) >= 7*60+50 AND hour(ts)*60+minute(ts) < 8*60
               THEN 1 ELSE 0 END) AS BIGINT) AS ticks_window1,
           CAST(SUM(CASE WHEN hour(ts)*60+minute(ts) >= 13*60+50 AND hour(ts)*60+minute(ts) < 14*60
               THEN 1 ELSE 0 END) AS BIGINT) AS ticks_window2
    FROM events GROUP BY 1
    """,
)
def stats_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 + S1 through the driver contract: the daily window-count report
    written through the CSV sink (io.write_csv_report — the reference's
    per-symbol stats CSVs), then read back with the schema-on-read CSV
    scan (io.read_csv_ticks, explicit DDL). The oracle is the same SQL
    the in-memory daily-counts query carries, so any value lost or
    mangled by the CSV encode/decode (dates, bigints, header handling)
    breaks the hash. Read-back is materialized before the temp dir is
    removed."""
    import shutil
    import tempfile

    from ..sources.io import read_csv_ticks, write_csv_report

    ev = _td(spark, sf_dir, "events")
    counts = stats.daily_window_counts(ev, ts_col="ts", partition_cols=())
    d = tempfile.mkdtemp(prefix="csv_roundtrip_")
    try:
        write_csv_report(counts, d)
        back = read_csv_ticks(
            spark,
            d,
            schema="date date, ticks_window1 bigint, ticks_window2 bigint",
        )
        return to_local(back)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@_register(
    "events_date_membership",
    """
    SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-03'
       OR CAST(ts AS DATE) = DATE '2024-01-07'
       OR CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY 1
    """,
)
def events_date_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 through the driver contract: date-membership filter (the
    reference's per-date file selection loop) as a partition-prunable
    IN-list predicate + daily counts. Dates are literals on both sides;
    if the generator's date range moves, both sides shrink identically
    (rows still hash-equal). Oracle spells the membership as an OR chain:
    DuckDB 1.0.0 mis-evaluates `CAST(ts AS DATE) IN (DATE ...)` to false
    even for single-element lists (= comparison works)."""
    ev = _td(spark, sf_dir, "events")
    days = [F.to_date(F.lit(d)) for d in ("2024-01-03", "2024-01-07", "2024-01-15")]
    return (
        ev.filter(F.to_date("ts").isin(*days))
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "events_markov_entropy",
    rf"""
    WITH s AS (
      SELECT event_type AS state,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_state
      FROM events),
    c AS (SELECT state, next_state, count(*) AS cab FROM s
          WHERE next_state IS NOT NULL GROUP BY state, next_state),
    ca AS (SELECT state, sum(cab) AS ct FROM c GROUP BY state),
    n AS (SELECT sum(cab) AS nt, count(DISTINCT c.state) AS n_states FROM c),
    terms AS (
      SELECT CAST(FLOOR((CAST(cab AS DOUBLE) / nt)
                        * ({detmath.det_log2_int_sql('cab', 'duckdb')}
                           - {detmath.det_log2_int_sql('ct', 'duckdb')})
                        * 1e9 + 0.5) AS BIGINT) AS t9,
             nt, n_states
      FROM c JOIN ca USING (state) CROSS JOIN n),
    agg AS (
      SELECT max(nt) AS n_transitions, max(n_states) AS n_states,
             -(CAST(sum(t9) AS DOUBLE) / 1e9) AS h
      FROM terms),
    fin AS (
      SELECT n_transitions, n_states, h,
             {detmath.det_log2_int_sql('n_states', 'duckdb')} AS hmax
      FROM agg)
    SELECT CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST(n_states AS INT) AS n_states,
           FLOOR(h * 1e6 + 0.5) / 1e6 AS entropy_rate_q6,
           FLOOR((CASE WHEN n_states > 1 THEN 1.0 - h / hmax ELSE 1.0 END)
                 * 1e6 + 0.5) / 1e6 AS predictability_q6
    FROM fin
    """,
)
def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey Markov chain (empirical-weight
    H = −Σ_ab (c_ab/N)·log2(c_ab/c_a)) plus the predictability index
    1 − H/log2(#states) — the single-number 'how habitual is behavior'
    readout over the same transitions the matrix query exposes. Every
    log2 is detmath over INTEGER counts, each term snaps to a 1e-9 grid
    before the alphabet²-sized sum — the doc_token_entropy discipline."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("state"),
        F.lead("event_type").over(w).alias("next_state"),
    ).filter(F.col("next_state").isNotNull())
    c = s.groupBy("state", "next_state").agg(F.count(F.lit(1)).alias("cab"))
    ca = c.groupBy("state").agg(F.sum("cab").alias("ct"))
    n = c.agg(
        F.sum("cab").alias("nt"),
        F.countDistinct("state").alias("n_states"),
    )
    terms = (
        c.join(ca, "state")
        .crossJoin(F.broadcast(n))
        .select(
            F.floor(
                (F.col("cab").cast("double") / F.col("nt"))
                * (detmath.det_log2_int("cab") - detmath.det_log2_int("ct"))
                * 1e9
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("t9"),
            "nt",
            "n_states",
        )
    )
    agg = terms.agg(
        F.max("nt").alias("n_transitions"),
        F.max("n_states").alias("n_states"),
        (-(F.sum("t9").cast("double") / F.lit(1e9))).alias("h"),
    )
    fin = agg.withColumn("hmax", detmath.det_log2_int("n_states"))
    return fin.select(
        F.col("n_transitions").cast("bigint").alias("n_transitions"),
        F.col("n_states").cast("int").alias("n_states"),
        q6(F.col("h")).alias("entropy_rate_q6"),
        q6(
            F.when(
                F.col("n_states") > 1, 1.0 - F.col("h") / F.col("hmax")
            ).otherwise(1.0)
        ).alias("predictability_q6"),
    )


@_register(
    "events_transition_matrix",
    r"""
    WITH s AS (
      SELECT event_type AS state,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_state
      FROM events),
    c AS (SELECT state, next_state, count(*) AS n FROM s
          WHERE next_state IS NOT NULL GROUP BY state, next_state)
    SELECT state, next_state, n,
           FLOOR(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY state) * 1e6 + 0.5) / 1e6 AS prob_q6
    FROM c
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions between event types per user
    stream (path analysis), probabilities normalized per source state."""
    ev = _td(spark, sf_dir, "events")
    return stats.transition_matrix(ev, tiebreak_cols=("event_id",))


@_register(
    "ticks_drawdown",
    r"""
    WITH t AS (
      SELECT event_id, 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, value
      FROM events),
    d AS (
      SELECT *, MAX(value) OVER (
               PARTITION BY symbol ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM t),
    p AS (
      SELECT symbol, ts, peak, peak - value AS dd,
             CASE WHEN peak > 0 THEN (peak - value) / peak END AS dd_pct,
             event_id
      FROM d),
    r AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY symbol ORDER BY dd_pct DESC, ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY symbol) AS n
      FROM p WHERE dd_pct IS NOT NULL)
    SELECT symbol,
           FLOOR(dd_pct * 1e6 + 0.5) / 1e6 AS max_dd_pct,
           FLOOR(dd * 1e6 + 0.5) / 1e6 AS max_dd_abs,
           peak AS peak_at_trough,
           ts AS trough_ts,
           n AS n_ticks
    FROM r WHERE rn = 1
    """,
)
def ticks_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol max-drawdown report (running-peak risk metric over the
    events stand-in stream): deepest percentage fall from the running
    high, its absolute size, the peak it fell from and the trough
    timestamp — one sort per symbol partition, two window passes, no
    self-join (reference domain: per-symbol stats family,
    `Data Preprocessing and Cleaning/symbol_statistics_generate.py`)."""
    t = _td(spark, sf_dir, "ticks")
    return ticks.max_drawdown_summary(
        t,
        ts_col="ts",
        value_col="value",
        partition_cols=("symbol",),
        tiebreak_cols=("event_id",),
    )


@_register(
    "events_robust_outliers",
    r"""
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events WHERE event_type IS NOT NULL GROUP BY 1),
    j AS (
      SELECT e.event_type, e.value, m.med
      FROM events e LEFT JOIN m USING (event_type)),
    d AS (
      SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      FROM j WHERE event_type IS NOT NULL GROUP BY 1),
    z AS (
      SELECT j.event_type, j.value, j.med, d.mad,
             CASE WHEN j.value IS NOT NULL AND d.mad > 0
                  THEN 0.6745 * (j.value - j.med) / d.mad END AS rz
      FROM j LEFT JOIN d USING (event_type))
    SELECT event_type,
           count(value) AS n,
           FLOOR(ANY_VALUE(med) * 1e6 + 0.5) / 1e6 AS med_q6,
           FLOOR(ANY_VALUE(mad) * 1e6 + 0.5) / 1e6 AS mad_q6,
           count(*) FILTER (WHERE abs(rz) > 3.5) AS n_outliers,
           FLOOR(max(abs(rz)) * 1e6 + 0.5) / 1e6 AS max_abs_z_q6
    FROM z GROUP BY event_type
    """,
)
def events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profile per event type: Iglewicz-Hoaglin modified
    z-scores (median/MAD, exact percentiles, broadcast bounds — the
    stream never shuffles) aggregated to a per-group report with the
    outlier count at |z| > 3.5."""
    ev = _td(spark, sf_dir, "events")
    scored = stats.robust_outliers(
        ev, value_col="value", by=("event_type",), z_threshold=3.5
    )
    return scored.groupBy("event_type").agg(
        F.count("value").alias("n"),
        q6(F.any_value("med")).alias("med_q6"),
        q6(F.any_value("mad")).alias("mad_q6"),
        F.count_if(F.abs(F.col("robust_z")) > 3.5).alias("n_outliers"),
        q6(F.max(F.abs(F.col("robust_z")))).alias("max_abs_z_q6"),
    )


@_register(
    "events_moment_stats",
    r"""
    WITH a AS (
      SELECT event_type,
             count(xi) AS n,
             sum(xi) AS i1,
             sum(CAST(xi AS HUGEINT) * xi) AS i2,
             sum(CAST(xi AS HUGEINT) * xi * xi) AS i3,
             sum(CAST(xi AS HUGEINT) * xi * xi * xi) AS i4
      FROM (SELECT event_type,
                   CAST(FLOOR(value * 1e4 + 0.5) AS BIGINT) AS xi
            FROM events) t
      GROUP BY event_type),
    b AS (
      SELECT event_type, n,
             CAST(i1 AS DOUBLE) / 1e4 AS s1,
             CAST(i2 AS DOUBLE) / 1e8 AS s2,
             CAST(i3 AS DOUBLE) / 1e12 AS s3,
             CAST(i4 AS DOUBLE) / 1e16 AS s4
      FROM a),
    c AS (
      SELECT event_type, n,
             s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * s2 / n + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * s3 / n + 6 * (s1 / n) * (s1 / n) * s2 / n
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM b)
    SELECT event_type, n,
           FLOOR(mu * 1e6 + 0.5) / 1e6 AS mean_q6,
           FLOOR(sqrt(GREATEST(m2, 0)) * 1e6 + 0.5) / 1e6 AS std_q6,
           FLOOR(CASE WHEN m2 > 0 THEN m3 / (sqrt(m2) * m2) END * 1e6 + 0.5) / 1e6 AS skew_q6,
           FLOOR(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 END * 1e6 + 0.5) / 1e6 AS kurt_q6
    FROM c
    """,
)
def events_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profile per event type: population skewness and
    excess kurtosis from raw power sums in one hash aggregate (portable
    raw-moment formulas, not the engine-specific sample-corrected
    built-ins)."""
    ev = _td(spark, sf_dir, "events")
    return stats.moment_stats(ev, value_col="value", by=("event_type",))


def _pagerank_oracle(damping: float = 0.85, iters: int = 10) -> str:
    """Generated chained-CTE PageRank oracle over the SAME transition
    edge list as events_transition_matrix — one contribution CTE + one
    dangling-mass CTE + one rank CTE per superstep (MATERIALIZED so the
    chain stays linear), ranks quantized floor-half-up 1e-9 per
    iteration exactly like graph.pagerank."""
    parts = [
        r"""
    WITH s AS MATERIALIZED (
      SELECT event_type AS state,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_state
      FROM events),
    e AS MATERIALIZED (
      SELECT state AS src, next_state AS dst, count(*) AS w FROM s
      WHERE next_state IS NOT NULL GROUP BY 1, 2),
    ot AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src),
    f AS MATERIALIZED (
      SELECT e.src, e.dst, e.w * 1.0 / ot.out_w AS p
      FROM e JOIN ot USING (src)),
    nd AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u),
    nn AS (SELECT count(*) AS n FROM nd),
    r0 AS MATERIALIZED (
      SELECT node, floor(1.0 / nn.n * 1e9 + 0.5) / 1e9 AS rank
      FROM nd CROSS JOIN nn)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"""
    , c{i} AS MATERIALIZED (
      SELECT f.dst AS node, sum(r.rank * f.p) AS c
      FROM r{p} r JOIN f ON r.node = f.src GROUP BY f.dst),
    dm{i} AS (
      SELECT COALESCE(sum(r.rank), 0) AS dm
      FROM r{p} r LEFT JOIN (SELECT DISTINCT src FROM e) o ON r.node = o.src
      WHERE o.src IS NULL),
    r{i} AS MATERIALIZED (
      SELECT nd.node,
             floor(((1.0 - {damping!r}) / nn.n
                    + {damping!r} * (COALESCE(c.c, 0) + dm.dm / nn.n))
                   * 1e9 + 0.5) / 1e9 AS rank
      FROM nd CROSS JOIN nn CROSS JOIN dm{i} dm
      LEFT JOIN c{i} c ON nd.node = c.node)"""
        )
    parts.append(
        f"""
    SELECT node AS state, floor(rank * 1e6 + 0.5) / 1e6 AS rank_q6
    FROM r{iters}"""
    )
    return "".join(parts)


@_register("events_pagerank", _pagerank_oracle)
def events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank centrality over the event-type transition graph
    (which states matter in user paths): per superstep ONE
    edge-partitioned join + ONE destination hash agg with dangling-mass
    redistribution, ranks q9-quantized per iteration; the oracle
    re-derives the identical edge list and re-runs the identical
    10-superstep recipe as a generated CTE chain (graph.pagerank)."""
    from ..operators import graph

    ev = _td(spark, sf_dir, "events")
    edges = stats.transition_matrix(ev, tiebreak_cols=("event_id",)).select(
        "state", "next_state", "n"
    )
    return graph.pagerank(
        edges, src="state", dst="next_state", weight="n", damping=0.85, iters=10
    ).withColumnRenamed("node", "state")


@_register(
    "events_type_affinity",
    r"""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
    tc AS (SELECT event_type, count(*) AS c FROM ut GROUP BY 1),
    n AS (SELECT count(DISTINCT user_id) AS nu FROM ut),
    pc AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS pn
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, pn AS n_users_both,
           FLOOR(pn * 1.0 / nu * 1e6 + 0.5) / 1e6 AS support_q6,
           FLOOR(pn * 1.0 / ca.c * 1e6 + 0.5) / 1e6 AS conf_a_to_b_q6,
           FLOOR(pn * 1.0 * nu / (ca.c * cb.c) * 1e6 + 0.5) / 1e6 AS lift_q6
    FROM pc
    JOIN tc ca ON pc.type_a = ca.event_type
    JOIN tc cb ON pc.type_b = cb.event_type
    CROSS JOIN n
    """,
)
def events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between event types (support, confidence,
    lift per unordered pair) — computed WITHOUT the classic user-key
    self-join: per-user sorted type sets (alphabet-bounded), pairs
    expanded row-locally by a codegen expression, one alphabet²-sized
    hash agg. The oracle uses the self-join formulation — an independent
    derivation of the same counts."""
    ev = _td(spark, sf_dir, "events")
    return stats.type_affinity(ev)


@_register(
    "events_cusum_alarms",
    r"""
    WITH t AS (
      SELECT event_id, 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, value
      FROM events),
    st AS (
      SELECT symbol,
             (CAST(SUM(CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 / COUNT(value)) AS mu,
             (CAST(SUM(CAST(FLOOR(value * value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 / COUNT(value * value)) AS m2
      FROM t WHERE symbol IS NOT NULL GROUP BY symbol),
    sd AS (
      SELECT symbol, mu, sqrt(GREATEST(m2 - mu * mu, 0.0)) AS sdv
      FROM st),
    z AS (
      SELECT t.symbol, t.ts, t.event_id,
             CASE WHEN t.value IS NOT NULL AND sd.sdv > 0
                  THEN floor((t.value - sd.mu) / sd.sdv * 1e6 + 0.5) / 1e6
                  ELSE 0.0 END AS zq
      FROM t LEFT JOIN sd USING (symbol)),
    p AS (
      SELECT *,
             sum(zq - 0.5) OVER w AS pu,
             sum(-zq - 0.5) OVER w AS pd
      FROM z
      WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    c AS (
      SELECT *,
             pu - LEAST(min(pu) OVER w, 0) AS su,
             pd - LEAST(min(pd) OVER w, 0) AS sdn
      FROM p
      WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT symbol,
           count(*) FILTER (WHERE su > 3.0) AS n_alarms_up,
           count(*) FILTER (WHERE sdn > 3.0) AS n_alarms_dn,
           FLOOR(max(su) * 1e6 + 0.5) / 1e6 AS max_up_q6,
           FLOOR(max(sdn) * 1e6 + 0.5) / 1e6 AS max_dn_q6,
           min(ts) FILTER (WHERE su > 3.0 OR sdn > 3.0) AS first_alarm_ts
    FROM c GROUP BY symbol
    """,
)
def events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift monitoring per symbol (Page's test, k=0.5σ, h=3σ):
    the clamped recurrence solved as prefix-sum + running-min windows —
    no recursion, no UDF (stats.cusum_changepoints); summarized to
    per-symbol alarm counts, maxima and first alarm time."""
    t = _td(spark, sf_dir, "ticks")
    scored = stats.cusum_changepoints(
        t, ts_col="ts", value_col="value", by=("symbol",),
        tiebreak_cols=("event_id",), k=0.5, h=3.0,
    )
    return scored.groupBy("symbol").agg(
        F.count_if(F.col("alarm_up")).alias("n_alarms_up"),
        F.count_if(F.col("alarm_dn")).alias("n_alarms_dn"),
        q6(F.max("cusum_up")).alias("max_up_q6"),
        q6(F.max("cusum_dn")).alias("max_dn_q6"),
        F.min(F.when(F.col("alarm_up") | F.col("alarm_dn"), F.col("ts"))).alias(
            "first_alarm_ts"
        ),
    )


@_register(
    "events_attribution",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             first_value(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events WHERE user_id IS NOT NULL),
    conv AS (
      SELECT COALESCE(first_touch, 'direct') AS first_touch,
             COALESCE(last_touch, 'direct') AS last_touch
      FROM seq WHERE event_type = 'purchase')
    SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS n_conversions
    FROM (
      SELECT 'first_touch' AS model, first_touch AS channel FROM conv
      UNION ALL
      SELECT 'last_touch', last_touch FROM conv) t
    GROUP BY model, channel
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch conversion attribution: each purchase
    credits (a) the user's first and (b) the most recent preceding
    non-purchase event type; purchases with no prior touch credit
    'direct'. One window pass over the per-user ordered stream (the
    sessionize sort, shared frame for both models) + one
    channel-sized agg — counts only, trivially layout-independent."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    seq = ev.select(
        "event_type",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    conv = seq.filter(F.col("event_type") == "purchase").select(
        F.coalesce("first_touch", F.lit("direct")).alias("first_touch"),
        F.coalesce("last_touch", F.lit("direct")).alias("last_touch"),
    )
    # both models from ONE pass: explode the (model, channel) pair
    # per conversion instead of unioning two recomputations of the
    # window (caught by the scan audit — union lineage re-scanned the
    # stream per model)
    stacked = conv.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_touch").alias("channel"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_touch").alias("channel"),
                ),
            )
        ).alias("mc")
    ).select("mc.model", "mc.channel")
    return stacked.groupBy("model", "channel").agg(
        F.count(F.lit(1)).alias("n_conversions")
    )


@_register(
    "events_time_to_convert",
    r"""
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1),
    p AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.t0
      GROUP BY e.user_id),
    d AS (
      SELECT v.user_id,
             date_diff('millisecond', v.t0, p.t1) / 1000.0 AS dur_s
      FROM v JOIN p USING (user_id)),
    nv AS (SELECT count(*) AS n_viewers FROM v)
    SELECT count(*) AS n_converted,
           nv.n_viewers,
           FLOOR(count(*) * 1.0 / nv.n_viewers * 1e6 + 0.5) / 1e6 AS conversion_q6,
           FLOOR(quantile_cont(dur_s, 0.5) * 1e6 + 0.5) / 1e6 AS p50_s_q6,
           FLOOR(quantile_cont(dur_s, 0.9) * 1e6 + 0.5) / 1e6 AS p90_s_q6
    FROM d CROSS JOIN nv GROUP BY nv.n_viewers
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel timing: per-user duration from first view to the first
    subsequent purchase, summarized to conversion rate and exact
    p50/p90 time-to-convert — two narrow user-key aggregates and one
    scalar summary row (the latency companion of events_funnel_steps)."""
    ev = _td(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    d = v.join(p, "user_id").select(
        "user_id",
        ((F.unix_millis("t1") - F.unix_millis("t0")) / 1000.0).alias("dur_s"),
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewers"))
    return (
        d.crossJoin(F.broadcast(nv))
        .groupBy("n_viewers")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            q6(F.count(F.lit(1)) / F.col("n_viewers")).alias("conversion_q6"),
            q6(F.percentile("dur_s", F.lit(0.5))).alias("p50_s_q6"),
            q6(F.percentile("dur_s", F.lit(0.9))).alias("p90_s_q6"),
        )
        .select("n_converted", "n_viewers", "conversion_q6", "p50_s_q6", "p90_s_q6")
    )


@_register(
    "events_threshold_islands",
    r"""
    WITH t AS (
      SELECT event_id, 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts,
             (value > 30.0) AS hot
      FROM events),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY symbol ORDER BY ts, event_id)
               - row_number() OVER (PARTITION BY symbol, hot ORDER BY ts, event_id)
               AS island
      FROM t)
    SELECT symbol, min(ts) AS island_start, max(ts) AS island_end,
           count(*) AS n_rows
    FROM r WHERE hot GROUP BY symbol, island
    """,
)
def events_threshold_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over a per-row threshold flag: contiguous runs
    of hot ticks (value > 30) collapsed into episodes per symbol —
    double-row_number island ids, one sort per series (stats.islands)."""
    t = _td(spark, sf_dir, "ticks").withColumn("hot", F.col("value") > 30.0)
    return stats.islands(
        t, flag_col="hot", ts_col="ts", by=("symbol",), tiebreak_cols=("event_id",)
    )


@_register(
    "events_inter_arrival",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, event_id
      FROM events),
    g AS (
      SELECT symbol,
             date_diff('millisecond',
                       lag(ts) OVER (PARTITION BY symbol ORDER BY ts, event_id),
                       ts) / 1000.0 AS gap_s
      FROM t)
    SELECT symbol,
           count(gap_s) AS n_gaps,
           FLOOR((CAST(SUM(CAST(FLOOR(gap_s * 1e3 + 0.5) AS BIGINT))
                       AS DOUBLE) / 1e3) / count(gap_s) * 1e6 + 0.5) / 1e6
             AS mean_gap_s_q6,
           FLOOR(quantile_cont(gap_s, 0.5) * 1e6 + 0.5) / 1e6 AS p50_gap_s_q6,
           FLOOR(quantile_cont(gap_s, 0.95) * 1e6 + 0.5) / 1e6 AS p95_gap_s_q6,
           FLOOR(max(gap_s) * 1e6 + 0.5) / 1e6 AS max_gap_s_q6
    FROM g WHERE gap_s IS NOT NULL GROUP BY symbol
    """,
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per symbol (feed-health /
    liquidity metric): lag-difference per series then one hash agg with
    exact percentiles — the latency profile the gap_fill/despike
    cleaning steps are tuned against."""
    t = _td(spark, sf_dir, "ticks")
    w = _tick_order()
    g = t.withColumn(
        "gap_s",
        (F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))) / 1000.0,
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("symbol").agg(
        F.count("gap_s").alias("n_gaps"),
        q6(
            (
                F.sum(
                    F.floor(F.col("gap_s") * 1e3 + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(1e3)
            )
            / F.count("gap_s")
        ).alias("mean_gap_s_q6"),
        q6(F.percentile("gap_s", F.lit(0.5))).alias("p50_gap_s_q6"),
        q6(F.percentile("gap_s", F.lit(0.95))).alias("p95_gap_s_q6"),
        q6(F.max("gap_s")).alias("max_gap_s_q6"),
    )


def _lag_corr_sums_sql(lags: int) -> str:
    """The ``t → r → rl → g → s → c`` CTEs of the return-autocorrelation
    oracles: cent-grid returns ``r0``, their lags 1..``lags``, per-lag
    exact integer Pearson sums with pairwise deletion (the DuckDB twin
    of stats.exact_corr_sums) and the ``num{k}``/``dx{k}``/``dy{k}``
    terms of stats.corr_terms. Ends after ``c``, with no comma."""
    guards = ",\n             ".join(
        f"CASE WHEN r0 IS NOT NULL AND r{k} IS NOT NULL THEN r0 END AS x{k},\n"
        f"             CASE WHEN r0 IS NOT NULL AND r{k} IS NOT NULL THEN r{k} END AS y{k}"
        for k in range(1, lags + 1)
    )
    sums = ",\n             ".join(
        f"count(x{k}) AS l{k}_n, sum(x{k}) AS l{k}_sx, sum(y{k}) AS l{k}_sy,\n"
        f"             sum(CAST(x{k} AS HUGEINT) * y{k}) AS l{k}_sxy,\n"
        f"             sum(CAST(x{k} AS HUGEINT) * x{k}) AS l{k}_sxx,\n"
        f"             sum(CAST(y{k} AS HUGEINT) * y{k}) AS l{k}_syy"
        for k in range(1, lags + 1)
    )
    combos = ",\n             ".join(
        f"CAST(l{k}_n AS DOUBLE) * CAST(l{k}_sxy AS DOUBLE)\n"
        f"               - CAST(l{k}_sx AS DOUBLE) * CAST(l{k}_sy AS DOUBLE) AS num{k},\n"
        f"             CAST(l{k}_n AS DOUBLE) * CAST(l{k}_sxx AS DOUBLE)\n"
        f"               - CAST(l{k}_sx AS DOUBLE) * CAST(l{k}_sx AS DOUBLE) AS dx{k},\n"
        f"             CAST(l{k}_n AS DOUBLE) * CAST(l{k}_syy AS DOUBLE)\n"
        f"               - CAST(l{k}_sy AS DOUBLE) * CAST(l{k}_sy AS DOUBLE) AS dy{k}"
        for k in range(1, lags + 1)
    )
    lag_cols = ",\n             ".join(
        f"lag(r0, {k}) OVER w AS r{k}" for k in range(1, lags + 1)
    )
    return f"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, event_id, value
      FROM events),
    r AS (
      SELECT symbol, ts, event_id,
             CAST(FLOOR((value - lag(value, 1) OVER w) * 100 + 0.5) AS BIGINT) AS r0
      FROM t WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    rl AS (
      SELECT symbol, r0,
             {lag_cols}
      FROM r WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    g AS (
      SELECT symbol, r0,
             {guards}
      FROM rl),
    s AS (
      SELECT symbol, count(r0) AS n_returns,
             {sums}
      FROM g GROUP BY symbol),
    c AS (
      SELECT symbol, n_returns,
             {combos}
      FROM s)"""


def _lag_corr_q6_sql(lags: int, alias: str) -> str:
    """The select list of per-lag correlations over the ``c`` CTE of
    :func:`_lag_corr_sums_sql`, snapped to q6 (NULL on a zero
    variance term); ``alias`` is formatted with ``k``."""
    return ",\n           ".join(
        f"CASE WHEN dx{k} > 0 AND dy{k} > 0 THEN\n"
        f"             FLOOR(num{k} / (sqrt(dx{k}) * sqrt(dy{k})) * 1e6 + 0.5) / 1e6\n"
        f"           END AS {alias.format(k=k)}"
        for k in range(1, lags + 1)
    )


def _acf_oracle(lags: int = 3) -> str:
    """Generated oracle for ticks_return_acf: cent-grid returns, then
    per-lag exact integer Pearson sums (pairwise deletion mirrored with
    explicit both-non-null guards) — the DuckDB twin of
    stats.exact_corr_sums / exact_corr_value."""
    outs = _lag_corr_q6_sql(lags, "acf{k}_q6")
    return _lag_corr_sums_sql(lags) + f"""
    SELECT symbol, n_returns,
           {outs}
    FROM c
    """


@_register(
    "ticks_return_acf",
    _acf_oracle,
)
def ticks_return_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return autocorrelation at lags 1-3 per symbol (microstructure /
    mean-reversion diagnostic): first-difference returns via one lag
    window, lagged copies over the SAME partition order (one sort
    total), Pearson corr per lag in one hash agg — NULL pairs at series
    heads are skipped identically by both engines. Order-independent:
    returns are snapped to integer cents (exact — the feed carries two
    decimals) and each lag's corr uses stats.exact_corr_sums, so no
    float sum ever crosses engines."""
    w = _tick_order()
    r = _cent_returns(_td(spark, sf_dir, "ticks"))
    rl = (
        r.withColumn("r1", F.lag("r0", 1).over(w))
        .withColumn("r2", F.lag("r0", 2).over(w))
        .withColumn("r3", F.lag("r0", 3).over(w))
    )
    agg = rl.groupBy("symbol").agg(
        F.count("r0").alias("n_returns"),
        *stats.exact_corr_sums(F.col("r0"), F.col("r1"), "l1"),
        *stats.exact_corr_sums(F.col("r0"), F.col("r2"), "l2"),
        *stats.exact_corr_sums(F.col("r0"), F.col("r3"), "l3"),
    )
    return agg.select(
        "symbol",
        "n_returns",
        q6(stats.exact_corr_value("l1")).alias("acf1_q6"),
        q6(stats.exact_corr_value("l2")).alias("acf2_q6"),
        q6(stats.exact_corr_value("l3")).alias("acf3_q6"),
    )


@_register(
    "events_top_paths",
    r"""
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    p AS (
      SELECT user_id,
             string_agg(event_type, ' > ' ORDER BY rn) AS path
      FROM o WHERE rn <= 3 GROUP BY user_id),
    c AS (SELECT path, count(*) AS n_users FROM p GROUP BY path),
    t AS (SELECT sum(n_users) AS total FROM c)
    SELECT path, n_users,
           FLOOR(n_users * 1.0 / total * 1e6 + 0.5) / 1e6 AS share_q6,
           rank
    FROM (
      SELECT c.path, c.n_users, t.total,
             row_number() OVER (ORDER BY c.n_users DESC, c.path ASC) AS rank
      FROM c CROSS JOIN t) r
    WHERE rank <= 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: each user's first three events (by time,
    event-id tie-break) concatenated into a path string, ranked by user
    count — the Sankey/path-analysis feed. One window + two hash aggs;
    the top-20 cut is TakeOrderedAndProject-shaped, path tie-break
    lexicographic."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    o = ev.select("user_id", "event_type", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 3
    )
    p = o.groupBy("user_id").agg(
        F.concat_ws(
            " > ", F.transform(F.array_sort(F.collect_list(F.struct("rn", "event_type"))), lambda s: s.getField("event_type"))
        ).alias("path")
    )
    c = p.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    t = c.agg(F.sum("n_users").alias("total"))
    ranked = (
        c.crossJoin(F.broadcast(t))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n_users").desc(), F.col("path").asc())
            ),
        )
        .filter(F.col("rank") <= 20)
    )
    return ranked.select(
        "path",
        "n_users",
        (F.floor(F.col("n_users") / F.col("total") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "share_q6"
        ),
        "rank",
    )


def _lag_log_returns_sql(ks: list[int]) -> str:
    """The ``ticks → lagged → ratios → lnr`` CTEs, DuckDB twin of
    :func:`_lag_log_returns` in wide form: one ratio ``hl{k}`` and one
    detmath ln ``r{k}`` column per lag. The prologue of the hurst and
    TSRV oracles."""
    lags = ",\n             ".join(f"lag(p, {k}) OVER w AS pl{k}" for k in ks)
    hls = ",\n             ".join(f"p / pl{k} AS hl{k}" for k in ks)
    lns = ",\n             ".join(
        f"{detmath.det_ln_pos_sql(f'hl{k}', 'duckdb')} AS r{k}" for k in ks
    )
    return rf"""
    WITH ticks AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             ts, event_id, value AS p
      FROM events WHERE value > 0),
    lagged AS (
      SELECT symbol, p,
             {lags}
      FROM ticks
      WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    ratios AS (
      SELECT symbol,
             {hls}
      FROM lagged),
    lnr AS (
      SELECT symbol,
             {lns}
      FROM ratios),"""


def _hurst_oracle() -> str:
    """Generated DuckDB oracle for ticks_hurst_exponent — one CTE per
    stage so every detmath/exactagg expansion references a short staged
    column (the expansion discipline), lags and formulas emitted from
    the same K list as the Spark side."""
    from ..functions import exactagg

    ks = [1, 2, 4, 8, 16]
    aggs = ",\n             ".join(
        f"count(r{k}) AS n{k},\n             "
        f"{exactagg.exact_sum_sql(f'r{k}', 9)} AS s1_{k},\n             "
        f"{exactagg.exact_sum_sql(f'(r{k} * r{k})', 12)} AS s2_{k}"
        for k in ks
    )
    vars_ = ",\n             ".join(
        f"CASE WHEN n{k} > 1 THEN s2_{k} / n{k}"
        f" - (s1_{k} / n{k}) * (s1_{k} / n{k}) END AS v{k}"
        for k in ks
    )
    ys = ",\n             ".join(
        f"CASE WHEN v{k} > 0 THEN "
        f"{detmath.det_ln_pos_sql(f'v{k}', 'duckdb')} END AS y{k}"
        for k in ks
    )
    den = detmath.dlit(20.0 * math.log(2.0))
    return _lag_log_returns_sql(ks) + rf"""
    agg AS (
      SELECT symbol,
             {aggs}
      FROM lnr GROUP BY symbol),
    v AS (
      SELECT symbol, n1,
             {vars_}
      FROM agg),
    y AS (
      SELECT symbol, n1, v1, v16,
             {ys}
      FROM v)
    SELECT symbol,
           CAST(n1 AS BIGINT) AS n_returns,
           FLOOR(v1 * 1e6 + 0.5) / 1e6 AS var_lag1_q6,
           FLOOR(v16 * 1e6 + 0.5) / 1e6 AS var_lag16_q6,
           FLOOR(CASE WHEN y1 IS NOT NULL AND y2 IS NOT NULL
                       AND y4 IS NOT NULL AND y8 IS NOT NULL
                       AND y16 IS NOT NULL
                  THEN (2.0 * (y16 - y1) + (y8 - y2)) / {den} END
                 * 1e6 + 0.5) / 1e6 AS hurst_q6
    FROM y
    """


def _lag_log_returns(spark: SparkSession, sf_dir: str, ks: list[int]) -> DataFrame:
    """``(symbol, k, hl, r)``: for every positive-price tick and each lag
    ``k`` in ``ks``, the price ratio to the tick ``k`` places earlier
    (``_tick_order``) and its detmath ln ``r`` (NULL when there is no
    such tick). The k-tick log returns of ticks_hurst_exponent and
    ticks_tsrv."""
    ticks_df = _td(spark, sf_dir, "ticks").filter(F.col("value") > 0).select(
        "symbol", "ts", "event_id", F.col("value").alias("p")
    )
    w = _tick_order()
    lagged = ticks_df.select(
        "symbol",
        "p",
        *[F.lag("p", k).over(w).alias(f"pl{k}") for k in ks],
    )
    # LONG format: one (symbol, k, ratio) row per lag, so the hot
    # corpus stage carries exactly ONE det_ln expansion — the wide
    # 5-column formulation fused 10 expansions into a single generated
    # aggregate function and blew janino's 64 KB method limit
    pairs = ", ".join(f"struct({k} AS k, p / pl{k} AS hl)" for k in ks)
    return (
        lagged.select(
            "symbol",
            F.explode(F.expr(f"array({pairs})")).alias("kv"),
        )
        .select("symbol", F.col("kv.k").alias("k"), F.col("kv.hl").alias("hl"))
        # NO isNotNull filter here: aggregating the unfiltered stream
        # with null-skipping count(r) keeps a symbol with <2 qualifying
        # ticks PRESENT in the output (n_returns=0, NULL metrics) exactly
        # like the oracle's GROUP BY over lagged NULLs — a filtered
        # stream would drop the symbol's rows entirely and row-count
        # mismatch on sparse keys (advisor r8)
        .withColumn("r", detmath.det_ln_pos("hl"))
    )


@_register("ticks_hurst_exponent", _hurst_oracle)
def ticks_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per symbol by the variance-ratio method: the
    k-lag log-return variance of a fractal process scales as k^2H, so
    H is half the log-log slope of Var(r_k) over k ∈ {{1,2,4,8,16}} —
    H < 0.5 mean-reverting, 0.5 random walk, > 0.5 trending: the
    regime diagnostic behind the frac-diff and momentum features. With
    power-of-two lags x_j = j·ln2, the least-squares slope collapses
    to the closed form (2(y₁₆−y₁) + (y₈−y₂))/(10·ln2) — fixed-order,
    no float re-aggregation; H is half that.

    One window pass computes ALL five lags (one symbol shuffle), one
    hash agg the five exact moment-sum sets (detmath ln returns,
    exactagg split sums at 1e-9/1e-12 grids) — the corpus never
    shuffles twice. Lags are ROW lags over the (ts, event_id) total
    order, the tick-time (not calendar-time) convention.  (The
    synthetic events value is i.i.d., not a random walk, so lag
    variance is flat in k and H ≈ 0 — the stationary-levels limit;
    a real price series lands near 0.5.)"""
    import math as _math

    from ..functions.exactagg import exact_sum

    ks = [1, 2, 4, 8, 16]
    long_df = _lag_log_returns(spark, sf_dir, ks)
    agg_df = long_df.groupBy("symbol", "k").agg(
        F.count(F.col("r")).alias("n"),
        exact_sum(F.col("r"), 9).alias("s1"),
        exact_sum(F.col("r") * F.col("r"), 12).alias("s2"),
    )
    # symbols × lags rows (20): materialize driver-side — breaks codegen
    # fusion with the detmath tail AND makes the pivot metadata-scale
    agg = to_local(agg_df)
    # the tail stays LONG too: ln(var) over (symbol, k, v) rows keeps
    # every codegen stage at exactly ONE det_ln expansion — the wide
    # 5-column formulation put 5 expansions in one collapsed Project
    # and exceeded janino's 64 KB method limit (interpreted fallback)
    var_long = agg.withColumn(
        "v",
        F.when(
            F.col("n") > 1,
            F.col("s2") / F.col("n")
            - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n")),
        ),
    )
    var_long = to_local(var_long)
    y_long = var_long.withColumn(
        "y", F.when(F.col("v") > 0, detmath.det_ln_pos("v"))
    )
    y_long = to_local(y_long)
    v = y_long.groupBy("symbol").agg(
        F.max(F.when(F.col("k") == 1, F.col("n"))).alias("n1"),
        *[
            F.max(F.when(F.col("k") == k, F.col("v"))).alias(f"__v{k}")
            for k in ks
        ],
        *[
            F.max(F.when(F.col("k") == k, F.col("y"))).alias(f"__y{k}")
            for k in ks
        ],
    )
    hurst = F.when(
        F.col("__y1").isNotNull()
        & F.col("__y2").isNotNull()
        & F.col("__y4").isNotNull()
        & F.col("__y8").isNotNull()
        & F.col("__y16").isNotNull(),
        (2.0 * (F.col("__y16") - F.col("__y1")) + (F.col("__y8") - F.col("__y2")))
        / F.lit(20.0 * _math.log(2.0)),
    )
    return v.select(
        "symbol",
        F.col("n1").cast("long").alias("n_returns"),
        q6(F.col("__v1")).alias("var_lag1_q6"),
        q6(F.col("__v16")).alias("var_lag16_q6"),
        q6(hurst).alias("hurst_q6"),
    )


@_register(
    "ticks_corwin_schultz",
    rf"""
    WITH daily AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             CAST(ts AS DATE) AS day,
             max(value) AS hi, min(value) AS lo
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT symbol, day, hi, lo,
             lead(day) OVER w AS day_next,
             lead(hi) OVER w AS hi1,
             lead(lo) OVER w AS lo1
      FROM daily WHERE lo > 0
      WINDOW w AS (PARTITION BY symbol ORDER BY day)),
    staged AS (
      SELECT symbol, day, day_next,
             hi / lo AS hl0,
             hi1 / lo1 AS hl1,
             GREATEST(hi, hi1) / LEAST(lo, lo1) AS hl2
      FROM pairs WHERE day_next IS NOT NULL AND lo1 > 0),
    lr AS (
      SELECT symbol, day, day_next,
             {detmath.det_ln_pos_sql('hl0', 'duckdb', assume_ge_1=True)} AS l0,
             {detmath.det_ln_pos_sql('hl1', 'duckdb', assume_ge_1=True)} AS l1,
             {detmath.det_ln_pos_sql('hl2', 'duckdb', assume_ge_1=True)} AS l2
      FROM staged),
    ab AS (
      SELECT symbol, day, day_next,
             l0 * l0 + l1 * l1 AS beta,
             l2 * l2 AS gamma
      FROM lr),
    al AS (
      SELECT symbol, day, day_next, beta, gamma,
             LEAST(GREATEST(
               (sqrt(2.0 * beta) - sqrt(beta)) / {detmath.dlit(_CS_DEN)}
                 - sqrt(gamma / {detmath.dlit(_CS_DEN)}), -41.0), 41.0)
               AS alpha
      FROM ab),
    ex AS (
      SELECT symbol, day, day_next, beta, gamma, alpha,
             {detmath.det_exp_sql('alpha', 'duckdb')} AS ea
      FROM al)
    SELECT symbol, day, day_next,
           FLOOR(beta * 1e6 + 0.5) / 1e6 AS beta_q6,
           FLOOR(gamma * 1e6 + 0.5) / 1e6 AS gamma_q6,
           FLOOR(2.0 * (ea - 1.0) / (1.0 + ea) * 1e6 + 0.5) / 1e6
             AS spread_q6,
           FLOOR(GREATEST(2.0 * (ea - 1.0) / (1.0 + ea), 0.0) * 1e6 + 0.5)
             / 1e6 AS spread_pos_q6
    FROM ex
    """,
)
def ticks_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin-Schultz (2012) bid-ask spread estimator from daily
    high/low ranges: two-day β = ln(H0/L0)² + ln(H1/L1)², two-day-range
    γ = ln(H01/L01)², α = (√(2β) − √β)/(3−2√2) − √(γ/(3−2√2)),
    S = 2(e^α − 1)/(1 + e^α) — THE liquidity estimator for markets
    where only OHLC survives (completing the microstructure family next
    to the Roll covariance estimator, ticks_roll_spread). Negative
    estimates are kept raw AND clamped (spread_pos_q6), the paper's
    two reported conventions.  (On this synthetic events table the
    daily ranges are enormous relative to a real price series, so the
    estimate saturates toward the sigmoid's bound — the VALUES are
    formula-exact; real tick data yields basis-point spreads.)

    One corpus hash agg to daily highs/lows, one lead window over the
    calendar-sized table — corpus never shuffles twice. Determinism:
    hi/lo are exact parquet doubles; every ln/exp is functions.detmath;
    sqrt is IEEE-correctly-rounded; all term combinations are
    fixed-order single-row expressions (no float re-aggregation), so
    both engines quantize identical doubles."""
    from pyspark.sql import Window

    daily = (
        _td(spark, sf_dir, "ticks")
        .select("symbol", F.to_date("ts").alias("day"), "value")
        .groupBy("symbol", "day")
        .agg(F.max("value").alias("hi"), F.min("value").alias("lo"))
        .filter(F.col("lo") > 0)
    )
    w = Window.partitionBy("symbol").orderBy("day")
    pairs = (
        daily.withColumn("day_next", F.lead("day").over(w))
        .withColumn("hi1", F.lead("hi").over(w))
        .withColumn("lo1", F.lead("lo").over(w))
        .filter(F.col("day_next").isNotNull() & (F.col("lo1") > 0))
    )
    staged = (
        pairs.withColumn("__hl0", F.col("hi") / F.col("lo"))
        .withColumn("__hl1", F.col("hi1") / F.col("lo1"))
        .withColumn(
            "__hl2",
            F.greatest("hi", "hi1") / F.least("lo", "lo1"),
        )
        .withColumn("__l0", detmath.det_ln_pos("__hl0", assume_ge_1=True))
        .withColumn("__l1", detmath.det_ln_pos("__hl1", assume_ge_1=True))
        .withColumn("__l2", detmath.det_ln_pos("__hl2", assume_ge_1=True))
        .withColumn(
            "__beta", F.col("__l0") * F.col("__l0") + F.col("__l1") * F.col("__l1")
        )
        .withColumn("__gamma", F.col("__l2") * F.col("__l2"))
        .withColumn(
            "__alpha",
            # clamp to det_exp's |x| <= 41 domain (identical clamp in the
            # oracle — parity preserved); the sigmoid-shaped S saturates
            # to ±2 far before the bound anyway
            F.least(
                F.greatest(
                    (F.sqrt(2.0 * F.col("__beta")) - F.sqrt("__beta"))
                    / F.lit(_CS_DEN)
                    - F.sqrt(F.col("__gamma") / F.lit(_CS_DEN)),
                    F.lit(-41.0),
                ),
                F.lit(41.0),
            ),
        )
        .withColumn("__ea", detmath.det_exp("__alpha"))
    )
    spread = 2.0 * (F.col("__ea") - 1.0) / (1.0 + F.col("__ea"))
    return staged.select(
        "symbol",
        "day",
        "day_next",
        q6(F.col("__beta")).alias("beta_q6"),
        q6(F.col("__gamma")).alias("gamma_q6"),
        q6(spread).alias("spread_q6"),
        q6(F.greatest(spread, F.lit(0.0))).alias("spread_pos_q6"),
    )


@_register(
    "ticks_parkinson_vol",
    rf"""
    WITH bars AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             CAST(ts AS DATE) AS day,
             date_trunc('minute', ts) AS bar,
             max(value) AS high, min(value) AS low
      FROM events GROUP BY 1, 2, 3),
    hb AS (
      SELECT symbol, day, high / low AS hl
      FROM bars WHERE low > 0 AND high >= low),
    lr AS (
      SELECT symbol, day,
             {detmath.det_ln_pos_sql('hl', 'duckdb', assume_ge_1=True)} AS lr
      FROM hb)
    SELECT symbol, day,
           count(*) AS n_bars,
           FLOOR(sqrt(((CAST(sum(CAST(FLOOR(lr * lr * 1e12 + 0.5) AS BIGINT))
                              AS DOUBLE) / 1e12) / count(*))
                      / {detmath.dlit(4 * math.log(2.0))})
                 * 1e6 + 0.5) / 1e6 AS parkinson_vol_q6
    FROM lr GROUP BY symbol, day
    """,
)
def ticks_parkinson_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson range-based volatility per (symbol, day): minute-bar
    high/low ranges → σ_P = √(mean(ln(H/L)²)/(4·ln2)) — the estimator
    quant desks prefer over close-to-close vol for sparse intraday data
    (~5× more efficient per bar). Two hash aggs (bars, then daily), no
    window, no self-join."""
    bars = (
        _td(spark, sf_dir, "ticks")
        .select(
            "symbol",
            F.to_date("ts").alias("day"),
            F.date_trunc("minute", F.col("ts")).alias("bar"),
            "value",
        )
        .groupBy("symbol", "day", "bar")
        .agg(F.max("value").alias("high"), F.min("value").alias("low"))
        .filter((F.col("low") > 0) & (F.col("high") >= F.col("low")))
    )
    import math

    from ..functions import detmath

    # detmath ln over the staged ratio (libm-free), per-bar ln² snapped
    # to a 1e-12 integer grid and summed as BIGINT — the per-day mean is
    # exact and order-free, so both engines quantize identical doubles
    staged = bars.withColumn("__hl", F.col("high") / F.col("low")).withColumn(
        "__lr", detmath.det_ln_pos("__hl", assume_ge_1=True)
    )
    t12 = F.floor(F.col("__lr") * F.col("__lr") * 1e12 + F.lit(0.5))
    c4ln2 = F.lit(4 * math.log(2.0))
    return staged.groupBy("symbol", "day").agg(
        F.count(F.lit(1)).alias("n_bars"),
        (
            F.floor(
                F.sqrt(
                    ((F.sum(t12).cast("double") / F.lit(1e12)) / F.count(F.lit(1)))
                    / c4ln2
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("parkinson_vol_q6"),
    )


def _tsrv_oracle() -> str:
    """Generated oracle for ticks_tsrv — the hurst long-format recipe at
    lags {1, 5}: staged detmath lns, exact split-sums of squared
    returns, closed-form two-scale combination."""
    from ..functions import exactagg

    ks = [1, 5]
    aggs = ",\n             ".join(
        f"count(r{k}) AS n{k},\n             "
        f"{exactagg.exact_sum_sql(f'(r{k} * r{k})', 12)} AS s2_{k}"
        for k in ks
    )
    return _lag_log_returns_sql(ks) + rf"""
    agg AS (
      SELECT symbol,
             {aggs}
      FROM lnr GROUP BY symbol),
    c AS (
      SELECT symbol, n1, s2_1 AS rv_all, s2_5 / 5.0 AS rv_avg
      FROM agg)
    SELECT symbol,
           CAST(n1 AS BIGINT) AS n_returns,
           FLOOR(rv_all * 1e6 + 0.5) / 1e6 AS rv_all_q6,
           FLOOR(rv_avg * 1e6 + 0.5) / 1e6 AS rv_avg5_q6,
           FLOOR(CASE WHEN n1 > 4
                  THEN rv_avg - (n1 - 4) / 5.0 / n1 * rv_all END
                 * 1e6 + 0.5) / 1e6 AS tsrv_q6
    FROM c
    """


@_register("ticks_tsrv", _tsrv_oracle)
def ticks_tsrv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-scale realized variance (Zhang, Mykland & Aït-Sahalia 2005)
    per symbol: the microstructure-noise-robust RV estimator — average
    the K=5 subsample-grid RVs (≡ the all-offsets 5-lag squared-return
    sum / 5) and subtract the noise bias (n̄/n)·RV_all with
    n̄ = (n−K+1)/K. Complements rv_signature (which SHOWS the noise via
    the signature plot) with the estimator that CORRECTS it.

    One window pass carries both lags (one symbol shuffle), one hash
    agg the exact squared-return split-sums (1e-12 grid, decimal
    accumulators per the exactagg k>6 rule), closed-form combine —
    corpus scanned once. The long explode keeps exactly ONE det_ln
    expansion per codegen stage (the hurst 64 KB-janino discipline)."""
    from ..functions.exactagg import exact_sum

    long_df = _lag_log_returns(spark, sf_dir, [1, 5])
    agg_df = long_df.groupBy("symbol", "k").agg(
        F.count(F.col("r")).alias("n"),
        exact_sum(F.col("r") * F.col("r"), 12).alias("s2"),
    )
    # 8-row pivot: materialize driver-side (breaks codegen fusion with
    # the arithmetic tail AND keeps the combine metadata-scale)
    agg = to_local(agg_df)
    v = agg.groupBy("symbol").agg(
        F.max(F.when(F.col("k") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("k") == 1, F.col("s2"))).alias("rv_all"),
        (F.max(F.when(F.col("k") == 5, F.col("s2"))) / F.lit(5.0)).alias(
            "rv_avg"
        ),
    )
    n1 = F.col("n1")
    tsrv = F.when(
        n1 > 4,
        F.col("rv_avg") - (n1 - 4) / F.lit(5.0) / n1 * F.col("rv_all"),
    )
    return v.select(
        "symbol",
        n1.cast("long").alias("n_returns"),
        q6(F.col("rv_all")).alias("rv_all_q6"),
        q6(F.col("rv_avg")).alias("rv_avg5_q6"),
        q6(tsrv).alias("tsrv_q6"),
    )


def _yang_zhang_oracle() -> str:
    """Generated DuckDB oracle for ticks_yang_zhang — staged CTEs per
    arithmetic stage (detmath expansion discipline), the same grid sums
    and the same left-to-right combination formulas as the Spark side."""
    ln = lambda e: detmath.det_ln_pos_sql(e, "duckdb")  # noqa: E731
    return rf"""
    WITH daily AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             CAST(ts AS DATE) AS day,
             arg_min(value, lpad(CAST(epoch_ms(ts) AS VARCHAR), 14, '0')
                            || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS open,
             MAX(value) AS high,
             MIN(value) AS low,
             arg_max(value, lpad(CAST(epoch_ms(ts) AS VARCHAR), 14, '0')
                            || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close
      FROM events WHERE value > 0 GROUP BY 1, 2),
    lagged AS (
      SELECT symbol, day, open, high, low, close,
             lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev_close
      FROM daily),
    ratios AS (
      SELECT symbol,
             open / prev_close AS r_o, close / open AS r_c,
             high / open AS r_u, low / open AS r_d
      FROM lagged WHERE prev_close IS NOT NULL AND prev_close > 0),
    lo AS (SELECT symbol, {ln('r_o')} AS o, r_c, r_u, r_d FROM ratios),
    lc AS (SELECT symbol, o, {ln('r_c')} AS c, r_u, r_d FROM lo),
    lu AS (SELECT symbol, o, c, {ln('r_u')} AS u, r_d FROM lc),
    ld AS (SELECT symbol, o, c, u, {ln('r_d')} AS d FROM lu),
    terms AS (
      SELECT symbol, o, c,
             u * (u - c) + d * (d - c) AS rs
      FROM ld),
    agg AS (
      SELECT symbol, COUNT(*) AS n,
             SUM(CAST(FLOOR(o * 1e9 + 0.5) AS BIGINT)) AS so1,
             SUM(CAST(FLOOR(o * o * 1e12 + 0.5) AS BIGINT)) AS so2,
             SUM(CAST(FLOOR(c * 1e9 + 0.5) AS BIGINT)) AS sc1,
             SUM(CAST(FLOOR(c * c * 1e12 + 0.5) AS BIGINT)) AS sc2,
             SUM(CAST(FLOOR(rs * 1e12 + 0.5) AS BIGINT)) AS srs
      FROM terms GROUP BY symbol HAVING COUNT(*) > 1),
    m AS (
      SELECT symbol, n,
             CAST(so1 AS DOUBLE) / 1e9 / n AS mo,
             CAST(sc1 AS DOUBLE) / 1e9 / n AS mc,
             CAST(so2 AS DOUBLE) / 1e12 / n AS qo,
             CAST(sc2 AS DOUBLE) / 1e12 / n AS qc,
             CAST(srs AS DOUBLE) / 1e12 / n AS vrs
      FROM agg),
    v AS (
      SELECT symbol, n, vrs,
             (qo - mo * mo) * n / (n - 1) AS vo,
             (qc - mc * mc) * n / (n - 1) AS vc,
             0.34 / (1.34 + (n + 1) / (n - 1)) AS k
      FROM m)
    SELECT symbol,
           CAST(n AS BIGINT) AS n_days,
           FLOOR(vo * 1e6 + 0.5) / 1e6 AS overnight_var_q6,
           FLOOR(vc * 1e6 + 0.5) / 1e6 AS openclose_var_q6,
           FLOOR(vrs * 1e6 + 0.5) / 1e6 AS rs_var_q6,
           FLOOR(sqrt(GREATEST(vo + k * vc + (1 - k) * vrs, 0.0)) * 1e6 + 0.5)
             / 1e6 AS yz_vol_q6
    FROM v
    """


@_register("ticks_yang_zhang", _yang_zhang_oracle)
def ticks_yang_zhang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yang-Zhang (2000) volatility per symbol — the drift-independent,
    jump-robust estimator that combines overnight variance (close→open),
    open-to-close variance, and the Rogers-Satchell range term with the
    variance-minimizing weight k = 0.34/(1.34 + (n+1)/(n−1)); the
    standard desk upgrade over both close-to-close and Parkinson when
    sessions gap overnight.

    Scale shape: ONE hash agg reduces ticks to daily OHLC (min_by/
    max_by on the (ts, event_id) total order — map-side partials), one
    symbol-keyed lag for the previous close, one moment agg on exact
    1e-9/1e-12 integer grids — the corpus is scanned once and nothing
    after the first agg exceeds #symbols × #days rows. detmath lns,
    fixed-order combination, sample-variance (n−1) scaling mirrored
    term for term in the oracle."""
    from pyspark.sql import Window

    ordk = F.struct("ts", "event_id")
    daily = (
        _td(spark, sf_dir, "ticks")
        .filter(F.col("value") > 0)
        .withColumn("day", F.to_date("ts"))
        .groupBy("symbol", "day")
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
        )
    )
    w = Window.partitionBy("symbol").orderBy("day")
    lagged = daily.withColumn("prev_close", F.lag("close").over(w)).filter(
        F.col("prev_close").isNotNull() & (F.col("prev_close") > 0)
    )
    ratios = lagged.select(
        "symbol",
        (F.col("open") / F.col("prev_close")).alias("r_o"),
        (F.col("close") / F.col("open")).alias("r_c"),
        (F.col("high") / F.col("open")).alias("r_u"),
        (F.col("low") / F.col("open")).alias("r_d"),
    )
    # one det_ln expansion per projection stage (the 64 KB-janino
    # codegen discipline — see detmath memory note)
    lo = ratios.withColumn("o", detmath.det_ln_pos("r_o"))
    lc = lo.withColumn("c", detmath.det_ln_pos("r_c"))
    lu = lc.withColumn("u", detmath.det_ln_pos("r_u"))
    ld = lu.withColumn("d", detmath.det_ln_pos("r_d"))
    terms = ld.select(
        "symbol",
        "o",
        "c",
        (
            F.col("u") * (F.col("u") - F.col("c"))
            + F.col("d") * (F.col("d") - F.col("c"))
        ).alias("rs"),
    )
    g = lambda col, s: F.sum(  # noqa: E731
        F.floor(col * F.lit(s) + F.lit(0.5)).cast("long")
    )
    agg = (
        terms.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            g(F.col("o"), 1e9).alias("so1"),
            g(F.col("o") * F.col("o"), 1e12).alias("so2"),
            g(F.col("c"), 1e9).alias("sc1"),
            g(F.col("c") * F.col("c"), 1e12).alias("sc2"),
            g(F.col("rs"), 1e12).alias("srs"),
        )
        .filter(F.col("n") > 1)
    )
    n = F.col("n")
    m = agg.select(
        "symbol",
        "n",
        (F.col("so1").cast("double") / 1e9 / n).alias("mo"),
        (F.col("sc1").cast("double") / 1e9 / n).alias("mc"),
        (F.col("so2").cast("double") / 1e12 / n).alias("qo"),
        (F.col("sc2").cast("double") / 1e12 / n).alias("qc"),
        (F.col("srs").cast("double") / 1e12 / n).alias("vrs"),
    )
    v = m.select(
        "symbol",
        "n",
        "vrs",
        ((F.col("qo") - F.col("mo") * F.col("mo")) * n / (n - 1)).alias("vo"),
        ((F.col("qc") - F.col("mc") * F.col("mc")) * n / (n - 1)).alias("vc"),
        (F.lit(0.34) / (F.lit(1.34) + (n + 1) / (n - 1))).alias("k"),
    )
    return v.select(
        "symbol",
        F.col("n").cast("long").alias("n_days"),
        q6(F.col("vo")).alias("overnight_var_q6"),
        q6(F.col("vc")).alias("openclose_var_q6"),
        q6(F.col("vrs")).alias("rs_var_q6"),
        q6(
            F.sqrt(
                F.greatest(
                    F.col("vo")
                    + F.col("k") * F.col("vc")
                    + (F.lit(1) - F.col("k")) * F.col("vrs"),
                    F.lit(0.0),
                )
            )
        ).alias("yz_vol_q6"),
    )


@_register(
    "events_decay_engagement",
    rf"""
    WITH anchor AS (SELECT MAX(ts) AS t_max FROM events),
    staged AS (
      SELECT user_id,
             GREATEST(-(CAST(epoch_ms(a.t_max) - epoch_ms(ts) AS DOUBLE)
               / 86400000.0) * {detmath.dlit(0.1)}, -41.0) AS x,
             ts
      FROM events CROSS JOIN anchor a
      WHERE user_id IS NOT NULL),
    term AS (
      SELECT user_id, ts,
             CAST(FLOOR({detmath.det_exp_sql('x', 'duckdb')} * 1e9 + 0.5)
                  AS BIGINT) AS w9
      FROM staged)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR(CAST(SUM(w9) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
             AS decay_score_q6,
           CAST(MAX(ts) AS TIMESTAMP) AS last_seen
    FROM term GROUP BY user_id
    """,
)
def events_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user — the
    feature-store recency pattern (each event contributes e^(−λ·Δdays)
    against the corpus max-timestamp anchor, λ = 0.1 ≈ one-week
    half-life): ranks 'active now' above 'active once, long ago' with
    one number, the standard churn/propensity feature.

    Determinism: Δdays is exact integer-epoch-millis arithmetic, the
    decay weight is detmath e^x (bit-identical across engines) snapped
    per event to a 1e-9 integer grid, and the per-user total is a
    BIGINT sum — partial-agg-order free. One corpus scan (the anchor is
    a broadcast scalar), one user-keyed hash agg."""
    ev = _td(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    anchor = ev.agg(F.max("ts").alias("t_max"))
    lam = 0.1
    staged = ev.crossJoin(F.broadcast(anchor)).withColumn(
        "__x",
        # clamp to det_exp's |x| <= 41 domain (identical clamp in the
        # oracle): e^-41 already underflows the 1e-9 weight grid to 0,
        # so ancient events contribute 0 either way
        F.greatest(
            -(
                (
                    F.unix_millis(F.col("t_max")) - F.unix_millis(F.col("ts"))
                ).cast("double")
                / F.lit(86400000.0)
            )
            * F.lit(lam),
            F.lit(-41.0),
        ),
    )
    term = staged.withColumn(
        "__w9",
        F.floor(detmath.det_exp("__x") * 1e9 + F.lit(0.5)).cast("long"),
    )
    return term.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.floor(F.sum("__w9").cast("double") / 1e9 * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("decay_score_q6"),
        F.max("ts").alias("last_seen"),
    )


@_register(
    "events_dau_mau",
    r"""
    WITH d AS (
      SELECT date_trunc('month', ts) AS month, CAST(ts AS DATE) AS day, user_id
      FROM events WHERE user_id IS NOT NULL),
    dau AS (SELECT month, day, count(DISTINCT user_id) AS dau
            FROM d GROUP BY 1, 2),
    mau AS (SELECT month, count(DISTINCT user_id) AS mau FROM d GROUP BY 1)
    SELECT CAST(mau.month AS DATE) AS month,
           mau.mau,
           count(*) AS n_days,
           FLOOR(avg(dau.dau) * 1e6 + 0.5) / 1e6 AS avg_dau_q6,
           FLOOR(avg(dau.dau) / mau.mau * 1e6 + 0.5) / 1e6 AS stickiness_q6
    FROM dau JOIN mau USING (month)
    GROUP BY mau.month, mau.mau
    """,
)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU engagement: distinct daily actives averaged per calendar
    month against monthly actives (stickiness = avg DAU / MAU) — two
    distinct-count aggregates joined on the month key, both
    calendar-bucketed so no rolling distinct window is needed."""
    ev = _td(spark, sf_dir, "events")
    d = ev.filter(F.col("user_id").isNotNull()).select(
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    dau = d.groupBy("month", "day").agg(F.countDistinct("user_id").alias("dau"))
    mau = d.groupBy("month").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(mau, "month")
        .groupBy(F.col("month").cast("date").alias("month"), "mau")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            q6(F.avg("dau")).alias("avg_dau_q6"),
            q6(F.avg("dau") / F.first("mau")).alias("stickiness_q6"),
        )
        .select("month", "mau", "n_days", "avg_dau_q6", "stickiness_q6")
    )


@_register(
    "events_alarm_episodes",
    r"""
    WITH t AS (
      SELECT event_id, 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, value
      FROM events),
    st AS (
      SELECT symbol,
             (CAST(SUM(CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 / COUNT(value)) AS mu,
             (CAST(SUM(CAST(FLOOR(value * value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 / COUNT(value * value)) AS m2
      FROM t WHERE symbol IS NOT NULL GROUP BY symbol),
    sd AS (
      SELECT symbol, mu, sqrt(GREATEST(m2 - mu * mu, 0.0)) AS sdv
      FROM st),
    z AS (
      SELECT t.symbol, t.ts, t.event_id,
             CASE WHEN t.value IS NOT NULL AND sd.sdv > 0
                  THEN floor((t.value - sd.mu) / sd.sdv * 1e6 + 0.5) / 1e6
                  ELSE 0.0 END AS zq
      FROM t LEFT JOIN sd USING (symbol)),
    p AS (
      SELECT *, sum(zq - 0.5) OVER w AS pu
      FROM z
      WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    c AS (
      SELECT symbol, ts, event_id,
             (pu - LEAST(min(pu) OVER w, 0)) > 3.0 AS alarm
      FROM p
      WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY symbol ORDER BY ts, event_id)
               - row_number() OVER (PARTITION BY symbol, alarm
                                    ORDER BY ts, event_id) AS island
      FROM c)
    SELECT symbol, min(ts) AS episode_start, max(ts) AS episode_end,
           count(*) AS n_rows
    FROM r WHERE alarm GROUP BY symbol, island
    """,
)
def events_alarm_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator composition: CUSUM upward alarms (stats.
    cusum_changepoints) collapsed into contiguous alert EPISODES
    (stats.islands) — per-row drift flags become reportable incident
    windows; the windows of both operators share one partition/order,
    so the composition still plans a single sort per series."""
    t = _td(spark, sf_dir, "ticks")
    scored = stats.cusum_changepoints(
        t, ts_col="ts", value_col="value", by=("symbol",),
        tiebreak_cols=("event_id",), k=0.5, h=3.0,
    )
    return stats.islands(
        scored.select("symbol", "ts", "event_id", F.col("alarm_up").alias("alarm")),
        flag_col="alarm",
        ts_col="ts",
        by=("symbol",),
        tiebreak_cols=("event_id",),
    ).withColumnsRenamed({"island_start": "episode_start", "island_end": "episode_end"})


@_register(
    "events_zipf_fit",
    rf"""
    WITH uc AS (
      SELECT user_id, count(*) AS c FROM events
      WHERE user_id IS NOT NULL GROUP BY user_id),
    top AS (
      SELECT c FROM uc ORDER BY c DESC, user_id ASC LIMIT 1000),
    rk AS (
      SELECT row_number() OVER (ORDER BY c DESC) AS r, c FROM top),
    xy AS (
      SELECT CAST(FLOOR({detmath.det_ln_pos_sql('r', 'duckdb', assume_ge_1=True)}
                        * 1e9 + 0.5) AS BIGINT) AS xi,
             CAST(FLOOR({detmath.det_ln_pos_sql('c', 'duckdb', assume_ge_1=True)}
                        * 1e9 + 0.5) AS BIGINT) AS yi
      FROM rk),
    si AS (
      SELECT count(*) AS n, sum(xi) AS ix, sum(yi) AS iy,
             sum(CAST(xi AS HUGEINT) * xi) AS ixx,
             sum(CAST(xi AS HUGEINT) * yi) AS ixy
      FROM xy),
    s AS (
      SELECT n,
             CAST(ix AS DOUBLE) / 1e9 AS sx, CAST(iy AS DOUBLE) / 1e9 AS sy,
             CAST(ixx AS DOUBLE) / 1e18 AS sxx, CAST(ixy AS DOUBLE) / 1e18 AS sxy
      FROM si)
    SELECT n AS n_ranks,
           FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
             AS zipf_slope_q6,
           FLOOR((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                 * 1e6 + 0.5) / 1e6 AS intercept_q6
    FROM s
    """,
)
def events_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the user-activity distribution: log-log OLS slope
    over the top-1000 rank/frequency head (slope ≈ −1 means classic
    Zipf; the skew diagnostic that predicts hot-key behavior before a
    shuffle does). TakeOrderedAndProject head cut, rank window over
    ≤1000 rows, closed-form OLS from one sums aggregate.
    Order-independent AND libm-free: detmath ln(rank)/ln(count)
    contributions (bit-identical across engines) snapped to a 1e-9
    integer grid and summed exactly, so the OLS sums combine identical
    integers on both engines and no grid flip is possible."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events")
    uc = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = uc.orderBy(F.col("c").desc(), F.col("user_id").asc()).limit(1000).select("c")
    rk = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("c").desc()))
    )
    xy = rk.select(
        F.floor(
            detmath.det_ln_pos("r", assume_ge_1=True) * 1e9 + F.lit(0.5)
        ).alias("xi"),
        F.floor(
            detmath.det_ln_pos("c", assume_ge_1=True) * 1e9 + F.lit(0.5)
        ).alias("yi"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    si = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("ix"),
        F.sum("yi").alias("iy"),
        F.sum(dec(F.col("xi")) * dec(F.col("xi"))).alias("ixx"),
        F.sum(dec(F.col("xi")) * dec(F.col("yi"))).alias("ixy"),
    )
    s = si.select(
        "n",
        (F.col("ix").cast("double") / F.lit(1e9)).alias("sx"),
        (F.col("iy").cast("double") / F.lit(1e9)).alias("sy"),
        (F.col("ixx").cast("double") / F.lit(1e18)).alias("sxx"),
        (F.col("ixy").cast("double") / F.lit(1e18)).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_ranks"),
        q6(slope).alias("zipf_slope_q6"),
        q6((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept_q6"),
    )


@_register(
    "ticks_vwap_twap",
    """
    WITH t AS (
      SELECT user_id, ts, event_id,
             date_trunc('minute', ts) AS bar_start,
             epoch_ms(ts) AS tms,
             epoch_ms(date_trunc('minute', ts)) + 60000 AS bar_end,
             lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
             CAST(FLOOR(value * 1e4 + 0.5) AS BIGINT) AS p4,
             (event_id % 100 + 1) AS sz
      FROM events
    ),
    d AS (
      SELECT *, LEAST(COALESCE(nxt, bar_end), bar_end) - tms AS dur FROM t
    )
    SELECT user_id, bar_start,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(sz) AS BIGINT) AS volume,
           FLOOR(((SUM(p4 * sz) * 1.0 / SUM(sz)) / 1e4) * 1e6 + 0.5) / 1e6 AS vwap,
           FLOOR(((SUM(p4 * dur) * 1.0 / SUM(dur)) / 1e4) * 1e6 + 0.5) / 1e6 AS twap
    FROM d GROUP BY 1, 2
    """,
)
def ticks_vwap_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VWAP/TWAP minute bars (`ticks.vwap_twap_bars`) over the events
    stand-in (value = price; deterministic synthetic size event_id%100+1
    on both sides). The classic unordered-float-sum hazard is absent by
    construction: integer-grid prices × integer sizes/durations sum as
    exact BIGINTs — partition-layout-independent per the playbook."""
    return ticks.vwap_twap_bars(
        _td(spark, sf_dir, "ticks"),
        ts_col="ts",
        price_col="value",
        size_col="sz",
        interval_ms=60_000,
        partition_cols=("user_id",),
        tiebreak_cols=("event_id",),
    )


@_register(
    "ticks_market_beta",
    r"""
    WITH m AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS sym,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS b,
             CAST(FLOOR(CAST(sum(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT))
                             AS DOUBLE) / count(value) + 0.5) AS BIGINT) AS v6
      FROM events GROUP BY 1, 2),
    mk AS (
      SELECT b, CAST(FLOOR(CAST(sum(v6) AS DOUBLE) / count(v6) + 0.5) AS BIGINT) AS m6
      FROM m GROUP BY b),
    -- pairwise deletion mirrors exact_corr_sums: a bucket whose values
    -- are all NULL yields v6/m6 NULL and must not count toward n
    j AS (SELECT m.sym, m.v6 AS x, mk.m6 AS y FROM m JOIN mk USING (b)
          WHERE m.v6 IS NOT NULL AND mk.m6 IS NOT NULL),
    s AS (
      SELECT sym, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM j GROUP BY sym),
    c AS (
      SELECT sym, n,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
      FROM s)
    SELECT sym, n AS n_buckets,
           FLOOR(num / dy * 1e6 + 0.5) / 1e6 AS beta,
           -- NULL for a flat symbol series (dx = 0): corr undefined even
           -- though beta is fine — mirrors exact_corr_value's guard
           CASE WHEN dx > 0
                THEN FLOOR(num / (sqrt(dx) * sqrt(dy)) * 1e6 + 0.5) / 1e6
                END AS mkt_corr
    FROM c WHERE n >= 2 AND dy > 0
    """,
)
def ticks_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-factor market exposure (`stats.market_beta`): hourly
    bucket means per symbol vs the equal-weight market series —
    beta = cov/var(market) and the market correlation, from the same
    exact-integer Pearson sums as `ticks_symbol_correlation` (linear in
    symbols; one market join instead of a pair self-join)."""
    t = _td(spark, sf_dir, "ticks")
    return stats.market_beta(t, interval_sec=3600)


def _ljung_box_oracle(lags: int = 5) -> str:
    """Generated oracle for events_ljung_box: the proven _acf_oracle
    machinery (cent-grid returns, exact integer Pearson sums per lag)
    extended with the Ljung-Box portmanteau statistic over the
    q6-SNAPPED autocorrelations — every input to the Q arithmetic is an
    identical IEEE double on both engines, and the +/×/÷ chain is
    written in the same left-to-right order as the Spark expression."""
    rhos = _lag_corr_q6_sql(lags, "rho{k}")
    q_terms = " + ".join(
        f"(rho{k} * rho{k}) / (n_returns - {k})" for k in range(1, lags + 1)
    )
    q_expr = (
        f"CAST(n_returns AS DOUBLE) * (CAST(n_returns AS DOUBLE) "
        f"+ CAST(2 AS DOUBLE)) * ({q_terms})"
    )
    return _lag_corr_sums_sql(lags) + f""",
    rh AS (
      SELECT symbol, n_returns,
           {rhos}
      FROM c),
    q AS (
      SELECT symbol, n_returns, {q_expr} AS q_raw FROM rh)
    SELECT symbol, CAST(n_returns AS BIGINT) AS n_returns,
           FLOOR(q_raw * 1e4 + 0.5) / 1e4 AS q_stat_q4,
           q_raw > 11.070497693516351e0 AS reject_white_noise
    FROM q
    """


@_register("events_ljung_box", _ljung_box_oracle)
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau white-noise test over the per-symbol return
    series (lags 1-5): Q = n(n+2)·Σ ρ̂ₖ²/(n−k) against the χ²₅ 95%
    critical value — the standard pre-modeling diagnostic before fitting
    AR/vol models to tick returns. Built entirely on the proven
    ticks_return_acf machinery: cent-grid returns, one window sort, one
    hash agg of exact integer Pearson sums per lag (pairwise deletion),
    ρ̂ₖ q6-snapped BEFORE the Q arithmetic so both engines combine
    identical doubles in the same left-to-right order (n here is the
    return count; ρ̂ₖ is the pairwise-deletion estimate — documented
    deviation from the textbook full-series ρ̂). Q is q4-quantized
    (values can exceed 1000, where q6 carries 10+ significant digits —
    the compare-precision rule). NULL at any undefined lag (constant
    series) propagates to a NULL Q and NULL flag identically in both
    engines."""
    lags = 5
    w = _tick_order()
    r = _cent_returns(_td(spark, sf_dir, "ticks"))
    rl = r.select(
        "symbol",
        "r0",
        *[F.lag("r0", k).over(w).alias(f"r{k}") for k in range(1, lags + 1)],
    )
    agg = rl.groupBy("symbol").agg(
        F.count("r0").alias("n_returns"),
        *[
            e
            for k in range(1, lags + 1)
            for e in stats.exact_corr_sums(F.col("r0"), F.col(f"r{k}"), f"l{k}")
        ],
    )
    rh = agg.select(
        "symbol",
        "n_returns",
        *[
            q6(stats.exact_corr_value(f"l{k}")).alias(f"rho{k}")
            for k in range(1, lags + 1)
        ],
    )
    q_terms = " + ".join(
        f"(rho{k} * rho{k}) / (n_returns - {k})" for k in range(1, lags + 1)
    )
    q_raw = F.expr(
        f"CAST(n_returns AS DOUBLE) * (CAST(n_returns AS DOUBLE) "
        f"+ CAST(2 AS DOUBLE)) * ({q_terms})"
    )
    return rh.select(
        "symbol",
        "n_returns",
        (F.floor(q_raw * 1e4 + F.lit(0.5)) / 1e4).alias("q_stat_q4"),
        (q_raw > F.lit(11.070497693516351)).alias("reject_white_noise"),
    )


def _ou_half_life_oracle() -> str:
    """Generated oracle for ticks_ou_half_life: cent-grid series, AR(1)
    slope from exact integer regression sums, q9-snapped slope through
    the detmath ln (bit-identical polynomial on both engines), half-life
    = ln2 / (−ln b). The slope guard (0 < b_q9 < 1, and b_q9 ≥ 1e-9 so
    1/b floors into BIGINT — the det_ln_pos domain) is mirrored
    verbatim."""
    ln_b = detmath.det_ln_pos_sql("b_q9", "duckdb")
    return f"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
      FROM events),
    l AS (
      SELECT symbol, v AS y, lag(v, 1) OVER w AS x
      FROM t WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    g AS (
      SELECT symbol,
             CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN x END AS xg,
             CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN y END AS yg
      FROM l),
    s AS (
      SELECT symbol, count(xg) AS n_pairs,
             sum(xg) AS sx, sum(yg) AS sy,
             sum(CAST(xg AS HUGEINT) * yg) AS sxy,
             sum(CAST(xg AS HUGEINT) * xg) AS sxx
      FROM g GROUP BY symbol),
    c AS (
      SELECT symbol, n_pairs,
             CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx
      FROM s),
    b AS (
      SELECT symbol, n_pairs,
             CASE WHEN dx > 0
                  THEN FLOOR(num / dx * 1e9 + 0.5) / 1e9 END AS b_q9
      FROM c),
    h AS (
      SELECT symbol, n_pairs, b_q9,
             CASE WHEN b_q9 >= 1e-9 AND b_q9 < 1.0
                  THEN {detmath.dlit(detmath.LN2)} / (0.0 - {ln_b}) END AS hl
      FROM b)
    SELECT symbol, CAST(n_pairs AS BIGINT) AS n_pairs,
           FLOOR(b_q9 * 1e6 + 0.5) / 1e6 AS ar1_slope_q6,
           FLOOR(hl * 1e4 + 0.5) / 1e4 AS half_life_q4,
           b_q9 >= 1e-9 AND b_q9 < 1.0 AS mean_reverting
    FROM h
    """


@_register("ticks_ou_half_life", _ou_half_life_oracle)
def ticks_ou_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ornstein-Uhlenbeck mean-reversion half-life per symbol — the
    stat-arb sizing number (how many ticks until a deviation decays by
    half): AR(1) slope b from the lag-1 regression of the cent-grid
    series (exact integer sums — no float crosses engines), half-life =
    ln2 / (−ln b) when 0 < b < 1, NULL otherwise (explosive or
    anti-persistent series have no OU half-life). ln runs through
    functions.detmath (bit-identical polynomial both engines) over the
    q9-SNAPPED slope — exactly ONE detmath expansion in the plan, on a
    #symbols-sized aggregate (the hurst 64 KB-codegen discipline). The
    b ≥ 1e-9 guard keeps 1/b inside det_ln_pos's BIGINT-floor domain."""
    t = _td(spark, sf_dir, "ticks").withColumn(
        "v", cents(F.col("value"))
    )
    w = _tick_order()
    lagd = t.select(
        "symbol", F.col("v").alias("y"), F.lag("v", 1).over(w).alias("x")
    )
    agg = lagd.groupBy("symbol").agg(
        *stats.exact_corr_sums(F.col("x"), F.col("y"), "l1")
    )
    num, dx, _dy = stats.corr_terms("l1")
    b = agg.select(
        "symbol",
        F.col("l1_n").alias("n_pairs"),
        F.when(dx > 0, F.floor(num / dx * 1e9 + F.lit(0.5)) / 1e9).alias("b_q9"),
    )
    ln_b = F.expr(detmath.det_ln_pos_sql("b_q9", "spark"))
    in_domain = (F.col("b_q9") >= 1e-9) & (F.col("b_q9") < 1.0)
    h = b.select(
        "symbol",
        "n_pairs",
        "b_q9",
        F.when(in_domain, F.lit(detmath.LN2) / (F.lit(0.0) - ln_b)).alias("hl"),
        in_domain.alias("mean_reverting"),
    )
    return h.select(
        "symbol",
        "n_pairs",
        (F.floor(F.col("b_q9") * 1e6 + F.lit(0.5)) / 1e6).alias("ar1_slope_q6"),
        (F.floor(F.col("hl") * 1e4 + F.lit(0.5)) / 1e4).alias("half_life_q4"),
        "mean_reverting",
    )


_RK_H = 4
# Parzen kernel weights k((h-1)/H) for h=1..H, H=4: x in {0, .25, .5,
# .75} -> {1, 0.71875, 0.25, 0.03125} — all dyadic rationals, hence
# EXACTLY representable doubles; both engines multiply identical values.
_RK_W = (1.0, 0.71875, 0.25, 0.03125)


def _realized_kernel_oracle() -> str:
    """Generated oracle for ticks_realized_kernel: cent-grid returns,
    exact integer autocovariance sums gamma_0..gamma_H (HUGEINT
    products), flat-top Parzen combine with dyadic literal weights in
    the same left-to-right order as the Spark expression."""
    lag_cols = ",\n             ".join(
        f"lag(r0, {h}) OVER w AS r{h}" for h in range(1, _RK_H + 1)
    )
    gammas = ",\n             ".join(
        f"CAST(sum(CAST(r0 AS HUGEINT) * r{h}) AS DOUBLE) AS g{h}"
        for h in range(1, _RK_H + 1)
    )
    combine = " + ".join(
        f"{w!r} * g{h}" for h, w in zip(range(1, _RK_H + 1), _RK_W)
    )
    return f"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, event_id, value
      FROM events),
    r AS (
      SELECT symbol, ts, event_id,
             CAST(FLOOR((value - lag(value, 1) OVER w) * 100 + 0.5) AS BIGINT) AS r0
      FROM t WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    rl AS (
      SELECT symbol, r0,
             {lag_cols}
      FROM r WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    s AS (
      SELECT symbol, count(r0) AS n_returns,
             CAST(sum(CAST(r0 AS HUGEINT) * r0) AS DOUBLE) AS g0,
             {gammas}
      FROM rl GROUP BY symbol)
    SELECT symbol, CAST(n_returns AS BIGINT) AS n_returns,
           FLOOR((g0 + 2.0 * ({combine})) / 1e4 * 1e6 + 0.5) / 1e6 AS rk_q6,
           FLOOR(g0 / 1e4 * 1e6 + 0.5) / 1e6 AS rv_q6
    FROM s
    """


@_register("ticks_realized_kernel", _realized_kernel_oracle)
def ticks_realized_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-top realized kernel (Barndorff-Nielsen, Hansen, Lunde &
    Shephard 2008) with a Parzen kernel at H=4 — the noise-robust
    realized-variance estimator that corrects RV with kernel-weighted
    return autocovariances: RK = γ₀ + 2·Σₕ k((h−1)/H)·γₕ. Complements
    ticks_tsrv (subsample averaging) with the kernel approach. One
    window sort produces the return and its H lags, one hash agg takes
    the exact integer autocovariance sums (cent-grid returns, HUGEINT/
    decimal products — no float sum crosses engines), and the combine
    multiplies by DYADIC kernel weights (exactly representable doubles)
    in a fixed left-to-right order. Emits RK and plain RV (γ₀) per
    symbol, both q6 in value² units (cents² / 1e4)."""
    w = _tick_order()
    r = _cent_returns(_td(spark, sf_dir, "ticks"))
    rl = r.select(
        "symbol",
        "r0",
        *[F.lag("r0", h).over(w).alias(f"r{h}") for h in range(1, _RK_H + 1)],
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = rl.groupBy("symbol").agg(
        F.count("r0").alias("n_returns"),
        F.sum(dec(F.col("r0")) * dec(F.col("r0"))).cast("double").alias("g0"),
        *[
            F.sum(dec(F.col("r0")) * dec(F.col(f"r{h}")))
            .cast("double")
            .alias(f"g{h}")
            for h in range(1, _RK_H + 1)
        ],
    )
    combine = " + ".join(
        f"{w_!r} * g{h}" for h, w_ in zip(range(1, _RK_H + 1), _RK_W)
    )
    return agg.select(
        "symbol",
        "n_returns",
        (
            F.floor(F.expr(f"(g0 + 2.0 * ({combine}))") / 1e4 * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("rk_q6"),
        (F.floor(F.col("g0") / 1e4 * 1e6 + F.lit(0.5)) / 1e6).alias("rv_q6"),
    )


def _benford_oracle() -> str:
    """Generated oracle for events_benford_test: first significant digit
    of the positive cent-grid value via VARCHAR slicing (identical for
    positive BIGINTs in both engines), exact integer digit counts, chi2
    against frozen log10(1+1/d) expectation literals in a fixed
    left-to-right order."""
    import math

    counts = ",\n             ".join(
        f"CAST(sum(CASE WHEN d = {k} THEN 1 ELSE 0 END) AS BIGINT) AS d{k}"
        for k in range(1, 10)
    )
    chi2 = " + ".join(
        f"(CAST(d{k} AS DOUBLE) - CAST(n AS DOUBLE) * {math.log10(1 + 1 / k)!r}) "
        f"* (CAST(d{k} AS DOUBLE) - CAST(n AS DOUBLE) * {math.log10(1 + 1 / k)!r}) "
        f"/ (CAST(n AS DOUBLE) * {math.log10(1 + 1 / k)!r})"
        for k in range(1, 10)
    )
    return f"""
    WITH v AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value > 0),
    d AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS d
      FROM v WHERE cents > 0),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {counts}
      FROM d)
    SELECT n, d1, d2, d3, d4, d5, d6, d7, d8, d9,
           FLOOR(({chi2}) * 1e4 + 0.5) / 1e4 AS chi2_q4,
           ({chi2}) < 15.50731305586545e0 AS benford_consistent
    FROM s
    """


@_register("events_benford_test", _benford_oracle)
def events_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance test over the event values — the
    classic data-quality / fraud screen for a numeric feed: first
    significant digit of each positive cent-grid value, observed counts
    vs n·log10(1+1/d), chi² against the χ²₈ 95% critical value. Digit
    extraction slices the VARCHAR of a positive BIGINT (engine-identical
    — no float log10 per row), counts are exact integers, and the chi²
    chain multiplies frozen expectation literals in one fixed
    left-to-right order, so the q4 statistic is bit-identical. Single
    global row (counts + chi² + verdict)."""
    import math

    ev = _td(spark, sf_dir, "events")
    pos = ev.filter(F.col("value") > 0).select(
        cents(F.col("value")).alias("cents")
    )
    d = pos.filter(F.col("cents") > 0).select(
        F.expr("CAST(substr(CAST(cents AS STRING), 1, 1) AS INT)").alias("d")
    )
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col("d") == k, 1).otherwise(0))
            .cast("long")
            .alias(f"d{k}")
            for k in range(1, 10)
        ],
    )
    chi2 = " + ".join(
        f"(CAST(d{k} AS DOUBLE) - CAST(n AS DOUBLE) * {math.log10(1 + 1 / k)!r}) "
        f"* (CAST(d{k} AS DOUBLE) - CAST(n AS DOUBLE) * {math.log10(1 + 1 / k)!r}) "
        f"/ (CAST(n AS DOUBLE) * {math.log10(1 + 1 / k)!r})"
        for k in range(1, 10)
    )
    return s.select(
        "n",
        *[f"d{k}" for k in range(1, 10)],
        (F.floor(F.expr(chi2) * 1e4 + F.lit(0.5)) / 1e4).alias("chi2_q4"),
        (F.expr(chi2) < F.lit(15.50731305586545)).alias("benford_consistent"),
    )


def _bipower_oracle() -> str:
    """Generated oracle for ticks_bipower_variation: cent-grid returns,
    exact integer sums of r², |r·r₋₁| and the counts, then the
    (π/2)-scaled bipower variation and the relative jump statistic with
    every float op on identical doubles in fixed order. π/2 is a frozen
    literal — both engines multiply the same IEEE double."""
    half_pi = 1.5707963267948966
    return f"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, event_id, value
      FROM events),
    r AS (
      SELECT symbol, ts, event_id,
             CAST(FLOOR((value - lag(value, 1) OVER w) * 100 + 0.5) AS BIGINT) AS r0
      FROM t WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    rl AS (
      SELECT symbol, r0, lag(r0, 1) OVER w AS r1
      FROM r WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    s AS (
      SELECT symbol,
             count(r0) AS n_returns,
             CAST(sum(CAST(r0 AS HUGEINT) * r0) AS DOUBLE) AS srr,
             CAST(sum(abs(CAST(r0 AS HUGEINT) * r1)) AS DOUBLE) AS sabs
      FROM rl GROUP BY symbol),
    m AS (
      SELECT symbol, n_returns,
             srr / 1e4 AS rv,
             ({half_pi!r} * sabs) / 1e4 AS bv
      FROM s)
    SELECT symbol, CAST(n_returns AS BIGINT) AS n_returns,
           FLOOR(rv * 1e6 + 0.5) / 1e6 AS rv_q6,
           FLOOR(bv * 1e6 + 0.5) / 1e6 AS bv_q6,
           CASE WHEN rv > 0
                THEN FLOOR((rv - bv) / rv * 1e6 + 0.5) / 1e6 END
             AS rel_jump_q6,
           rv - bv > 0 AS jump_positive
    FROM m
    """


@_register("ticks_bipower_variation", _bipower_oracle)
def ticks_bipower_variation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipower variation (Barndorff-Nielsen & Shephard 2004) — the
    jump-robust integrated-variance estimator BV = (π/2)·Σ|rₜ||rₜ₋₁|,
    and the relative jump statistic (RV−BV)/RV that separates the jump
    component from diffusive variance (the third leg of the vol family
    next to ticks_tsrv and ticks_realized_kernel). One window sort, one
    hash agg of exact integer sums: Σ|rₜ·rₜ₋₁| is exact because the
    cent-grid product is integer and |·| commutes with the integer
    product; only the final (π/2)-scale and ratio are float ops, on
    identical doubles in fixed order."""
    half_pi = 1.5707963267948966
    w = _tick_order()
    r = _cent_returns(_td(spark, sf_dir, "ticks"))
    rl = r.select("symbol", "r0", F.lag("r0", 1).over(w).alias("r1"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = rl.groupBy("symbol").agg(
        F.count("r0").alias("n_returns"),
        F.sum(dec(F.col("r0")) * dec(F.col("r0"))).cast("double").alias("srr"),
        F.sum(F.abs(dec(F.col("r0")) * dec(F.col("r1"))))
        .cast("double")
        .alias("sabs"),
    )
    m = s.select(
        "symbol",
        "n_returns",
        (F.col("srr") / 1e4).alias("rv"),
        ((F.lit(half_pi) * F.col("sabs")) / 1e4).alias("bv"),
    )
    return m.select(
        "symbol",
        "n_returns",
        (F.floor(F.col("rv") * 1e6 + F.lit(0.5)) / 1e6).alias("rv_q6"),
        (F.floor(F.col("bv") * 1e6 + F.lit(0.5)) / 1e6).alias("bv_q6"),
        F.when(
            F.col("rv") > 0,
            F.floor((F.col("rv") - F.col("bv")) / F.col("rv") * 1e6 + F.lit(0.5))
            / 1e6,
        ).alias("rel_jump_q6"),
        (F.col("rv") - F.col("bv") > 0).alias("jump_positive"),
    )


@_register(
    "events_runs_test",
    """
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, event_id, value
      FROM events),
    r AS (
      SELECT symbol, ts, event_id,
             CAST(FLOOR((value - lag(value, 1) OVER w) * 100 + 0.5) AS BIGINT) AS r0
      FROM t WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    s AS (
      SELECT symbol, ts, event_id,
             CASE WHEN r0 > 0 THEN 1 WHEN r0 < 0 THEN -1 END AS sgn
      FROM r WHERE r0 IS NOT NULL AND r0 != 0),
    runs AS (
      SELECT symbol, sgn,
             CASE WHEN lag(sgn) OVER w IS NULL OR lag(sgn) OVER w != sgn
                  THEN 1 ELSE 0 END AS new_run
      FROM s WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    agg AS (
      SELECT symbol,
             CAST(sum(new_run) AS BIGINT) AS n_runs,
             CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
             CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down
      FROM runs GROUP BY symbol),
    z AS (
      SELECT symbol, n_runs, n_up, n_down,
             CAST(n_up + n_down AS DOUBLE) AS n,
             2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
               / (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) + 1.0 AS e_runs
      FROM agg WHERE n_up > 0 AND n_down > 0),
    v AS (
      SELECT symbol, n_runs, n_up, n_down, e_runs,
             (e_runs - 1.0) * (e_runs - 2.0) / (n - 1.0) AS var_runs
      FROM z)
    SELECT symbol, n_runs, n_up, n_down,
           FLOOR(e_runs * 1e6 + 0.5) / 1e6 AS e_runs_q6,
           CASE WHEN var_runs > 0
                THEN FLOOR((CAST(n_runs AS DOUBLE) - e_runs) / sqrt(var_runs)
                           * 1e6 + 0.5) / 1e6 END AS z_q6,
           CASE WHEN var_runs > 0
                THEN abs((CAST(n_runs AS DOUBLE) - e_runs) / sqrt(var_runs))
                     > 1.959963984540054e0 END AS reject_random
    FROM v
    """,
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the sign sequence of per-symbol
    returns — the nonparametric randomness screen (too FEW runs =
    trending, too MANY = mean-reverting beyond chance): runs counted by
    sign-change boundaries (one window pass over the cent-grid return
    signs, zero returns excluded as in the classic two-sample form),
    E[R] = 2n₊n₋/(n₊+n₋)+1, Var[R] = (E−1)(E−2)/(n−1), z against the
    two-sided 95% normal critical value. Counts are exact integers;
    E/Var/z are fixed-order float chains on identical doubles (the
    critical value is a frozen literal)."""
    w = _tick_order()
    r = _cent_returns(_td(spark, sf_dir, "ticks"))
    s = r.filter(F.col("r0").isNotNull() & (F.col("r0") != 0)).withColumn(
        "sgn", F.when(F.col("r0") > 0, 1).otherwise(-1)
    )
    runs = s.withColumn(
        "new_run",
        F.when(
            F.lag("sgn").over(w).isNull() | (F.lag("sgn").over(w) != F.col("sgn")),
            1,
        ).otherwise(0),
    )
    agg = runs.groupBy("symbol").agg(
        F.sum("new_run").cast("long").alias("n_runs"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).cast("long").alias("n_up"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
    ).filter((F.col("n_up") > 0) & (F.col("n_down") > 0))
    z = agg.select(
        "symbol",
        "n_runs",
        "n_up",
        "n_down",
        (F.col("n_up") + F.col("n_down")).cast("double").alias("n"),
        (
            F.lit(2.0)
            * F.col("n_up").cast("double")
            * F.col("n_down").cast("double")
            / (F.col("n_up").cast("double") + F.col("n_down").cast("double"))
            + F.lit(1.0)
        ).alias("e_runs"),
    )
    v = z.withColumn(
        "var_runs",
        (F.col("e_runs") - 1.0) * (F.col("e_runs") - 2.0) / (F.col("n") - 1.0),
    )
    zexpr = (F.col("n_runs").cast("double") - F.col("e_runs")) / F.sqrt(
        F.col("var_runs")
    )
    return v.select(
        "symbol",
        "n_runs",
        "n_up",
        "n_down",
        (F.floor(F.col("e_runs") * 1e6 + F.lit(0.5)) / 1e6).alias("e_runs_q6"),
        F.when(
            F.col("var_runs") > 0, F.floor(zexpr * 1e6 + F.lit(0.5)) / 1e6
        ).alias("z_q6"),
        F.when(
            F.col("var_runs") > 0,
            F.abs(zexpr) > F.lit(1.959963984540054),
        ).alias("reject_random"),
    )


@_register(
    "events_gini_engagement",
    """
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id),
    r AS (
      SELECT user_id, n_events,
             row_number() OVER (ORDER BY n_events ASC, user_id ASC) AS rk
      FROM u),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_events) AS BIGINT) AS total,
             CAST(sum(CAST(rk AS HUGEINT) * n_events) AS BIGINT) AS rank_mass
      FROM r)
    SELECT n, total,
           FLOOR((2.0 * CAST(rank_mass AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
                  - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS gini_q6
    FROM s
    """,
)
def events_gini_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event activity — the
    inequality-of-engagement metric behind power-user concentration and
    data-source skew audits (and, over per-document token counts, the
    corpus-contribution version): G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n over
    values sorted ascending with a unique (count, user_id) total order.
    The rank-mass Σ i·xᵢ is exact integer arithmetic (rank via one
    global-sort window over the per-user AGGREGATE — #users rows; at
    100 TB swap the row_number for the global_cumsum rank, same
    algebra); the final formula is one fixed-order float chain on two
    exact integers."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    # window without partitionBy: over the per-USER aggregate, whose
    # cardinality is the user dimension, not the event stream — the
    # accepted aggregate-table exception (see playbook); the 100 TB
    # upgrade is stats.global_cumsum on the same total order
    rk = u.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("n_events").asc(), F.col("user_id").asc())
        ),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_events").cast("long").alias("total"),
        F.sum(dec(F.col("rk")) * dec(F.col("n_events")))
        .cast("long")
        .alias("rank_mass"),
    )
    gini = (
        F.lit(2.0) * F.col("rank_mass").cast("double")
        / (F.col("n").cast("double") * F.col("total").cast("double"))
        - (F.col("n").cast("double") + F.lit(1.0)) / F.col("n").cast("double")
    )
    return s.select(
        "n",
        "total",
        (F.floor(gini * 1e6 + F.lit(0.5)) / 1e6).alias("gini_q6"),
    )


def _variance_ratio_oracle(qs=(2, 4)) -> str:
    """Generated oracle for ticks_variance_ratio: cent-grid returns,
    OVERLAPPING q-period sums via rolling windows (integer), exact
    integer first/second moments per horizon, population variances and
    VR(q) as fixed-order float chains on identical doubles."""
    outs = ",\n           ".join(
        f"CASE WHEN v1 > 0 THEN FLOOR(v{q} / ({q} * v1) * 1e6 + 0.5) / 1e6 END"
        f" AS vr{q}_q6"
        for q in qs if q != 1
    )
    all_qs = sorted({1, *qs})
    roll_all = ",\n             ".join(
        f"CAST(sum(r0) OVER (PARTITION BY symbol ORDER BY ts, event_id "
        f"ROWS BETWEEN {q - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS rq{q},\n"
        f"             CASE WHEN row_number() OVER (PARTITION BY symbol "
        f"ORDER BY ts, event_id) >= {q} THEN 1 ELSE 0 END AS ok{q}"
        for q in all_qs
    )
    sums_all = ",\n             ".join(
        f"CAST(sum(CASE WHEN ok{q} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n{q},\n"
        f"             CAST(sum(CASE WHEN ok{q} = 1 THEN rq{q} END) AS BIGINT) AS s{q},\n"
        f"             CAST(sum(CASE WHEN ok{q} = 1 "
        f"THEN CAST(rq{q} AS HUGEINT) * rq{q} END) AS BIGINT) AS ss{q}"
        for q in all_qs
    )
    vars_all = ",\n             ".join(
        f"(CAST(n{q} AS DOUBLE) * CAST(ss{q} AS DOUBLE)"
        f" - CAST(s{q} AS DOUBLE) * CAST(s{q} AS DOUBLE))"
        f" / (CAST(n{q} AS DOUBLE) * CAST(n{q} AS DOUBLE)) AS v{q}"
        for q in all_qs
    )
    return f"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, event_id, value
      FROM events),
    r AS (
      SELECT symbol, ts, event_id,
             CAST(FLOOR((value - lag(value, 1) OVER w) * 100 + 0.5) AS BIGINT) AS r0
      FROM t WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    rr AS (SELECT * FROM r WHERE r0 IS NOT NULL),
    q AS (
      SELECT symbol, ts, event_id,
             {roll_all}
      FROM rr),
    s AS (
      SELECT symbol,
             {sums_all}
      FROM q GROUP BY symbol),
    v AS (
      SELECT symbol, n1 AS n_returns,
             {vars_all}
      FROM s)
    SELECT symbol, n_returns,
           FLOOR(v1 * 1e6 + 0.5) / 1e6 AS var1_q6,
           {outs}
    FROM v
    """


@_register("ticks_variance_ratio", _variance_ratio_oracle)
def ticks_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test (1988) at horizons q=2,4 — the
    random-walk diagnostic (VR≈1 random walk, VR>1 trending/momentum,
    VR<1 mean reversion) complementing the runs test and Ljung-Box in
    the market-efficiency battery. Overlapping q-period returns are
    ROLLING WINDOW SUMS of the cent-grid 1-period returns (integers —
    exact), each horizon's population variance comes from exact integer
    first/second moments (decimal/HUGEINT accumulators), and
    VR(q) = Var_q / (q·Var₁) is one fixed-order float chain. One window
    sort carries all horizons; one hash agg."""
    qs = (2, 4)
    all_qs = sorted({1, *qs})
    w = _tick_order()
    r = _cent_returns(_td(spark, sf_dir, "ticks")).filter(F.col("r0").isNotNull())
    cols = [F.col("symbol")]
    for q in all_qs:
        wq = w.rowsBetween(-(q - 1), 0)
        cols.append(F.sum("r0").over(wq).cast("long").alias(f"rq{q}"))
        cols.append(
            F.when(F.row_number().over(w) >= q, 1).otherwise(0).alias(f"ok{q}")
        )
    qdf = r.select(*cols)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    aggs = []
    for q in all_qs:
        ok = F.col(f"ok{q}") == 1
        rq = F.when(ok, F.col(f"rq{q}"))
        aggs += [
            F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias(f"n{q}"),
            F.sum(rq).cast("long").alias(f"s{q}"),
            F.sum(dec(rq) * dec(rq)).cast("long").alias(f"ss{q}"),
        ]
    s = qdf.groupBy("symbol").agg(*aggs)
    vcols = [F.col("symbol"), F.col("n1").alias("n_returns")]
    for q in all_qs:
        d = lambda c: F.col(c).cast("double")  # noqa: E731
        vcols.append(
            (
                (d(f"n{q}") * d(f"ss{q}") - d(f"s{q}") * d(f"s{q}"))
                / (d(f"n{q}") * d(f"n{q}"))
            ).alias(f"v{q}")
        )
    v = s.select(*vcols)
    out = [
        F.col("symbol"),
        F.col("n_returns"),
        (F.floor(F.col("v1") * 1e6 + F.lit(0.5)) / 1e6).alias("var1_q6"),
    ]
    for q in qs:
        out.append(
            F.when(
                F.col("v1") > 0,
                F.floor(F.col(f"v{q}") / (q * F.col("v1")) * 1e6 + F.lit(0.5))
                / 1e6,
            ).alias(f"vr{q}_q6")
        )
    return v.select(*out)


@_register(
    "stats_orc_roundtrip",
    """
    WITH f AS (
      SELECT event_id, event_type, value FROM events
      WHERE value > 50.0)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS key_sum,
           CAST(sum(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_sum
    FROM f GROUP BY event_type
    """,
)
def stats_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source through the driver contract (r9 — the
    warehouse-interchange columnar format next to parquet): write the
    events projection through io.write_orc (zstd), read it back with
    io.read_orc, push a value filter down to the ORC scan, and digest
    per event_type (exact integer counts / key sums / cent sums). The
    oracle recomputes the digests straight from the parquet events
    table, so any value mangled by the ORC encode/decode or a broken
    pushdown breaks the hash. Read-back is materialized before the temp
    dir is removed."""
    import shutil
    import tempfile

    from ..sources.io import read_orc, write_orc

    ev = _td(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="orc_roundtrip_")
    try:
        write_orc(ev.select("event_id", "event_type", "value"), d)
        back = read_orc(spark, d).filter(F.col("value") > 50.0)
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("long").alias("key_sum"),
            F.sum(cents(F.col("value")))
            .cast("long")
            .alias("cents_sum"),
        )
        return to_local(out)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _garman_klass_oracle() -> str:
    """Generated oracle for ticks_garman_klass: the minute-bar OHLC
    recipe (arg_min/arg_max on the padded ts||event_id string key — the
    yang_zhang convention), LONG-format ratios so each stage carries ONE
    detmath ln, per-bar GK terms snapped to 1e-12 and summed exactly,
    daily sqrt guarded non-negative."""
    ln = detmath.det_ln_pos_sql("ratio", "duckdb")
    c_gk = detmath.dlit(2 * math.log(2.0) - 1.0)
    return rf"""
    WITH bars AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             CAST(ts AS DATE) AS day,
             date_trunc('minute', ts) AS bar,
             arg_min(value, lpad(CAST(epoch_ms(ts) AS VARCHAR), 14, '0')
                            || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS open,
             MAX(value) AS high,
             MIN(value) AS low,
             arg_max(value, lpad(CAST(epoch_ms(ts) AS VARCHAR), 14, '0')
                            || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close
      FROM events WHERE value > 0 GROUP BY 1, 2, 3),
    ok AS (
      SELECT * FROM bars
      WHERE low > 0 AND open > 0 AND high >= low),
    long AS (
      SELECT symbol, day, bar, u.which, u.ratio
      FROM ok, UNNEST([struct_pack(which := 'hl', ratio := high / low),
                       struct_pack(which := 'co', ratio := close / open)])
             AS t(u)),
    lr AS (
      SELECT symbol, day, bar, which, {ln} AS lnv
      FROM long),
    piv AS (
      SELECT symbol, day, bar,
             MAX(CASE WHEN which = 'hl' THEN lnv END) AS u,
             MAX(CASE WHEN which = 'co' THEN lnv END) AS c
      FROM lr GROUP BY symbol, day, bar),
    terms AS (
      SELECT symbol, day,
             CAST(FLOOR((0.5e0 * (u * u) - {c_gk} * (c * c)) * 1e12 + 0.5)
                  AS BIGINT) AS t12
      FROM piv),
    agg AS (
      SELECT symbol, day, CAST(count(*) AS BIGINT) AS n_bars,
             CAST(sum(t12) AS BIGINT) AS s12
      FROM terms GROUP BY symbol, day)
    SELECT symbol, day, n_bars,
           CASE WHEN s12 >= 0
                THEN FLOOR(sqrt((CAST(s12 AS DOUBLE) / 1e12) / n_bars)
                           * 1e6 + 0.5) / 1e6 END AS gk_vol_q6
    FROM agg
    """


@_register("ticks_garman_klass", _garman_klass_oracle)
def ticks_garman_klass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Garman-Klass range-based volatility per (symbol, day) — the
    OHLC estimator between Parkinson (range only) and Yang-Zhang
    (drift+overnight): σ²_GK-bar = 0.5·ln²(H/L) − (2ln2−1)·ln²(C/O),
    daily σ = √(mean of bar terms). Minute-bar OHLC uses the proven
    arg_min/arg_max padded string key (deterministic first/last tick);
    the two log-ratios go through the LONG format so each codegen stage
    carries exactly ONE detmath ln expansion (the hurst 64 KB
    discipline); per-bar terms snap to a 1e-12 integer grid and sum
    exactly, so the daily mean is order-free. Negative daily sums (the
    GK term can be negative bar-by-bar) yield NULL rather than a NaN
    sqrt — mirrored in the oracle."""
    ev = _td(spark, sf_dir, "ticks")
    bars = (
        ev.filter(F.col("value") > 0)
        .select(
            "symbol",
            F.to_date("ts").alias("day"),
            F.date_trunc("minute", F.col("ts")).alias("bar"),
            "value",
            _event_key().alias("__k"),
        )
        .groupBy("symbol", "day", "bar")
        .agg(
            F.min_by("value", "__k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "__k").alias("close"),
        )
        .filter((F.col("low") > 0) & (F.col("open") > 0) & (F.col("high") >= F.col("low")))
    )
    long_df = bars.select(
        "symbol",
        "day",
        "bar",
        F.explode(
            F.expr(
                "array(struct('hl' AS which, high / low AS ratio), "
                "struct('co' AS which, close / open AS ratio))"
            )
        ).alias("u"),
    ).select(
        "symbol", "day", "bar", F.col("u.which").alias("which"),
        F.col("u.ratio").alias("ratio"),
    ).withColumn("lnv", detmath.det_ln_pos("ratio"))
    piv = long_df.groupBy("symbol", "day", "bar").agg(
        F.max(F.when(F.col("which") == "hl", F.col("lnv"))).alias("u"),
        F.max(F.when(F.col("which") == "co", F.col("lnv"))).alias("c"),
    )
    c_gk = F.lit(2 * math.log(2.0) - 1.0)
    terms = piv.select(
        "symbol",
        "day",
        F.floor(
            (F.lit(0.5) * (F.col("u") * F.col("u")) - c_gk * (F.col("c") * F.col("c")))
            * 1e12
            + F.lit(0.5)
        )
        .cast("long")
        .alias("t12"),
    )
    agg = terms.groupBy("symbol", "day").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.sum("t12").cast("long").alias("s12"),
    )
    return agg.select(
        "symbol",
        "day",
        "n_bars",
        F.when(
            F.col("s12") >= 0,
            F.floor(
                F.sqrt((F.col("s12").cast("double") / 1e12) / F.col("n_bars"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6,
        ).alias("gk_vol_q6"),
    )


# Shared by the Hayashi-Yoshida family (ticks_hayashi_yoshida,
# ticks_hy_lead_lag): the collapse-and-difference convention is the
# estimator's identity, so it lives in ONE place on each engine side.
_HY_IV_CTES = r"""t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             epoch_us(ts) AS us,
             arg_max(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), event_id)
               AS cents
      FROM events WHERE value > 0 GROUP BY 1, 2),
    iv AS (
      SELECT symbol,
             lag(us) OVER w AS start_us,
             us AS end_us,
             cents - lag(cents) OVER w AS r
      FROM t WINDOW w AS (PARTITION BY symbol ORDER BY us)),
    iv2 AS (SELECT * FROM iv WHERE start_us IS NOT NULL),
    rv AS (
      SELECT symbol, CAST(sum(r * r) AS BIGINT) AS rv
      FROM iv2 GROUP BY symbol)"""


def _hy_intervals(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cent-return interval table for the HY estimators: simultaneous
    same-symbol ticks collapse to the last by event_id (deterministic,
    strictly positive-length intervals), one lag window builds
    (start_us, end_us, r].  Checkpointed — every HY consumer feeds it
    to at least three lineage branches (RV + both join sides).

    Returns ``(iv, rv, a)``: the interval table, each symbol's realized
    variance ``rv`` (exact BIGINT sum of squared cent returns) and the
    left side of the overlap join, ``(sym_a, a_start, a_end, ra)``."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "ticks")
    t = (
        ev.filter(F.col("value") > 0)
        .select(
            "symbol",
            F.unix_micros("ts").alias("us"),
            cents(F.col("value")).alias("cents"),
            "event_id",
        )
        .groupBy("symbol", "us")
        .agg(F.max_by("cents", "event_id").alias("cents"))
    )
    w = Window.partitionBy("symbol").orderBy("us")
    iv = (
        t.select(
            "symbol",
            F.lag("us").over(w).alias("start_us"),
            F.col("us").alias("end_us"),
            (F.col("cents") - F.lag("cents").over(w)).alias("r"),
        )
        .filter(F.col("start_us").isNotNull())
        .localCheckpoint()
    )
    rv = iv.groupBy("symbol").agg(
        F.sum(F.col("r") * F.col("r")).cast("long").alias("rv")
    )
    a = iv.select(
        F.col("symbol").alias("sym_a"),
        F.col("start_us").alias("a_start"),
        F.col("end_us").alias("a_end"),
        F.col("r").alias("ra"),
    )
    return iv, rv, a


def _hy_normalized(ov: DataFrame, rv: DataFrame, keys: list) -> DataFrame:
    """Join the (lag-invariant) per-symbol realized variances and emit
    the normalized HY correlation — one fixed-order double tail (rv
    products can exceed int64, so the sqrt runs on the DOUBLE product,
    written identically in the oracles)."""
    rva = rv.select(F.col("symbol").alias("sym_a"), F.col("rv").alias("rv_a"))
    rvb = rv.select(F.col("symbol").alias("sym_b"), F.col("rv").alias("rv_b"))
    return (
        ov.join(F.broadcast(rva), "sym_a")
        .join(F.broadcast(rvb), "sym_b")
        .select(
            *keys,
            "n_overlaps",
            "hy_cov_c2",
            F.when(
                (F.col("rv_a") > 0) & (F.col("rv_b") > 0),
                F.floor(
                    F.col("hy_cov_c2").cast("double")
                    / F.sqrt(
                        F.col("rv_a").cast("double") * F.col("rv_b").cast("double")
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6,
            ).alias("hy_corr_q6"),
        )
    )


@_register(
    "ticks_hayashi_yoshida",
    rf"""
    WITH {_HY_IV_CTES},
    ov AS (
      SELECT a.symbol AS sym_a, b.symbol AS sym_b,
             CAST(count(*) AS BIGINT) AS n_overlaps,
             CAST(sum(a.r * b.r) AS BIGINT) AS hy_cov_c2
      FROM iv2 a JOIN iv2 b
        ON a.symbol < b.symbol
       AND a.start_us < b.end_us AND b.start_us < a.end_us
      GROUP BY 1, 2)
    SELECT sym_a, sym_b, n_overlaps, hy_cov_c2,
           CASE WHEN ra.rv > 0 AND rb.rv > 0
                THEN FLOOR(CAST(hy_cov_c2 AS DOUBLE)
                           / sqrt(CAST(ra.rv AS DOUBLE)
                                  * CAST(rb.rv AS DOUBLE))
                           * 1e6 + 0.5) / 1e6 END AS hy_corr_q6
    FROM ov
    JOIN rv ra ON ov.sym_a = ra.symbol
    JOIN rv rb ON ov.sym_b = rb.symbol
    """,
)
def ticks_hayashi_yoshida(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hayashi-Yoshida covariance/correlation between asynchronous tick
    streams — the estimator that needs NO common sampling grid (Hayashi
    & Yoshida 2005): HY-cov(A,B) = Σ over return-interval pairs
    (i, j) with overlapping (t_{i-1}, t_i] ∩ (s_{j-1}, s_j] ≠ ∅ of
    rA_i · rB_j.  Unlike grid-sampled realized covariance it is
    unbiased under non-synchronous trading (no Epps-effect shrinkage).

    Plan: simultaneous same-symbol ticks collapse to the last by
    event_id (max_by — deterministic, makes intervals strictly
    positive-length), one lag window builds cent-return intervals, and
    the pairwise overlap set comes from ``joins.interval_overlap_join``
    — hour-bucketized equi-join with exactly-once positional dedup, so
    the 100 TB shape is a shuffle partitioned by time bucket, never an
    O(n·m) theta join.  Returns are exact integer cents, so HY-cov is
    an exact BIGINT both engines agree on; the correlation normalizes
    by the two (exact) realized variances in one fixed-order double
    formula (rv products can exceed int64, so the sqrt runs on the
    DOUBLE product — written identically in the oracle).

    No counterpart in the reference (its correlation is grid-aligned
    pandas, symbol_statistics_generate.py:76-79); this is the
    asynchronous-microstructure upgrade of that alignment."""
    iv, rv, a = _hy_intervals(spark, sf_dir)
    b = iv.select(
        F.col("symbol").alias("sym_b"),
        F.col("start_us").alias("b_start"),
        F.col("end_us").alias("b_end"),
        F.col("r").alias("rb"),
    )
    ov = (
        joins.interval_overlap_join(
            a, b, "a_start", "a_end", "b_start", "b_end",
            extra="l.sym_a < r.sym_b",
        )
        .groupBy("sym_a", "sym_b")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum(F.col("ra") * F.col("rb")).cast("long").alias("hy_cov_c2"),
        )
    )
    return _hy_normalized(ov, rv, ["sym_a", "sym_b"])


def _user_spend(ev: DataFrame) -> DataFrame:
    """``(user_id, spend)``: each user's spend in whole cents, summed
    over the events with a positive value."""
    return (
        ev.filter(F.col("value") > 0)
        .groupBy("user_id")
        .agg(F.sum(cents(F.col("value"))).cast("long").alias("spend"))
    )


def _spend_hist(u: DataFrame) -> DataFrame:
    """``(spend, t, t_a)``: for each spend of a ``_user_spend`` table,
    the number of users and how many of them are in arm A."""
    return (
        u.select(_arm("A", "B").alias("arm"), "spend")
        .groupBy("spend")
        .agg(
            F.count(F.lit(1)).cast("long").alias("t"),
            F.count(F.when(F.col("arm") == "A", F.lit(1))).cast("long").alias("t_a"),
        )
    )


def _first_conv(ev: DataFrame) -> DataFrame:
    """``(is_a, conv)`` per user: 1 in arm A (else 0), and 1 when the
    user's first event by ``_event_key`` is a purchase (else 0)."""
    return (
        ev.select("user_id", "event_type", _event_key().alias("__k"))
        .groupBy("user_id")
        .agg(
            F.when(F.min_by("event_type", "__k") == "purchase", F.lit(1))
            .otherwise(F.lit(0))
            .alias("conv")
        )
        .select(_arm(1, 0).alias("is_a"), "conv")
    )


def _type_ztests(ev: DataFrame) -> DataFrame:
    """``(event_type, x_a, x_b, z_q6)``: per event type, the users of
    each arm whose first event (by ``_event_key``) has that type, and
    the pooled two-proportion z of the two arms' shares, snapped to q6.
    Types that are first for no user or for every user are left out."""
    u = (
        ev.select(
            "user_id",
            "event_type",
            _arm("A", "B").alias("arm"),
            _event_key().alias("__k"),
        )
        .groupBy("user_id", "arm")
        .agg(F.min_by("event_type", "__k").alias("event_type"))
        .localCheckpoint()  # feeds the population count and per-type counts
    )
    pop = u.agg(
        F.count(F.when(F.col("arm") == "A", F.lit(1))).cast("long").alias("n_a"),
        F.count(F.when(F.col("arm") == "B", F.lit(1))).cast("long").alias("n_b"),
    )
    x = u.groupBy("event_type").agg(
        F.count(F.when(F.col("arm") == "A", F.lit(1))).cast("long").alias("x_a"),
        F.count(F.when(F.col("arm") == "B", F.lit(1))).cast("long").alias("x_b"),
    )
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    zval = (
        F.col("x_a").cast("double") / na_d - F.col("x_b").cast("double") / nb_d
    ) / F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / na_d + F.lit(1.0) / nb_d))
    return (
        x.crossJoin(F.broadcast(pop))
        .filter(
            (F.col("x_a") + F.col("x_b") > 0)
            & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b"))
        )
        .select("event_type", "x_a", "x_b", q6(zval).alias("z_q6"))
    )


def _contingency(cells: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The margins of an ``(event_type, arm, o)`` table of cell counts:
    the row totals ``(event_type, r_tot)``, the column totals ``(arm,
    c_tot)`` and the one-row grand total ``(n_tot, r, c)`` with the
    numbers of rows and columns."""
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("r_tot"))
    ct = cells.groupBy("arm").agg(F.sum("o").cast("long").alias("c_tot"))
    tt = cells.agg(
        F.sum("o").cast("long").alias("n_tot"),
        F.countDistinct("event_type").cast("long").alias("r"),
        F.countDistinct("arm").cast("long").alias("c"),
    )
    return rt, ct, tt


def _mid_cut(ev: DataFrame) -> DataFrame:
    """One-row (cut_us) frame: the integer midpoint of the observed
    time range — both engines compute the identical BIGINT, no frozen
    calendar literal to drift from the generator."""
    return ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias(
            "cut_us"
        )
    )


@_register(
    "events_ab_test",
    r"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    g AS (
      SELECT CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a,
             CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS n_b,
             CAST(sum(conv) FILTER (arm = 'A') AS BIGINT) AS x_a,
             CAST(sum(conv) FILTER (arm = 'B') AS BIGINT) AS x_b
      FROM u),
    f AS (
      SELECT n_a, n_b, x_a, x_b,
             CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
             CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
             CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp,
             CAST(n_a + n_b AS DOUBLE) / 2.0 AS e
      FROM g WHERE n_a > 0 AND n_b > 0),
    s AS (
      SELECT n_a, n_b, x_a, x_b,
             ((CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e)
             + ((CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e)
               AS srm_chi2,
             (pa - pb)
             / sqrt((pp * (1.0 - pp))
                    * (1.0 / CAST(n_a AS DOUBLE)
                       + 1.0 / CAST(n_b AS DOUBLE))) AS z
      FROM f WHERE pp > 0.0 AND pp < 1.0)
    SELECT n_a, n_b, x_a, x_b,
           FLOOR(srm_chi2 * 1e6 + 0.5) / 1e6 AS srm_chi2_q6,
           FLOOR(z * 1e6 + 0.5) / 1e6 AS z_q6,
           FLOOR(srm_chi2 * 1e6 + 0.5) / 1e6 < 3.841459 AS srm_ok,
           abs(FLOOR(z * 1e6 + 0.5) / 1e6) >= 1.959964 AS significant
    FROM s
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over a deterministic hash split — the
    two canonical gates run together: a sample-ratio-mismatch (SRM)
    χ²₁ check on the arm sizes (the assignment-health gate every
    experimentation platform runs before looking at the metric) and a
    pooled two-proportion z-test on user-level purchase conversion.

    Arms come from the portable 28-bit md5 prefix of the user id
    (the doc_md5_* convention — bit-identical in both engines), so the
    split is reproducible under retries/re-execution, not a sampled
    state.  Counts are exact BIGINTs from ONE user-level aggregate; the
    χ² and z statistics are each one fixed-order double formula over
    those integers, snapped to q6, and the boolean verdicts compare the
    SNAPPED values against frozen 95% critical-value literals so a grid
    cell is the smallest unit of disagreement.  Scale: two hash aggs
    (events→users→one row); nothing else.

    No counterpart in the reference (no experimentation surface);
    motivated by its health-check posture (PDF §monitoring)."""
    ev = _td(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("conv")
        )
        .select(_arm("A", "B").alias("arm"), "conv")
    )
    g = u.agg(
        F.count(F.when(F.col("arm") == "A", F.lit(1))).cast("long").alias("n_a"),
        F.count(F.when(F.col("arm") == "B", F.lit(1))).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("conv")).otherwise(F.lit(0)))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("conv")).otherwise(F.lit(0)))
        .cast("long")
        .alias("x_b"),
    ).filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    f = g.select(
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        (F.col("x_a").cast("double") / F.col("n_a").cast("double")).alias("pa"),
        (F.col("x_b").cast("double") / F.col("n_b").cast("double")).alias("pb"),
        (
            (F.col("x_a") + F.col("x_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double")
        ).alias("pp"),
        ((F.col("n_a") + F.col("n_b")).cast("double") / F.lit(2.0)).alias("e"),
    )
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    s = f.filter((F.col("pp") > 0.0) & (F.col("pp") < 1.0)).select(
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        (
            ((na_d - F.col("e")) * (na_d - F.col("e")) / F.col("e"))
            + ((nb_d - F.col("e")) * (nb_d - F.col("e")) / F.col("e"))
        ).alias("srm_chi2"),
        (
            (F.col("pa") - F.col("pb"))
            / F.sqrt(
                (F.col("pp") * (F.lit(1.0) - F.col("pp")))
                * (F.lit(1.0) / na_d + F.lit(1.0) / nb_d)
            )
        ).alias("z"),
    )
    chi_q6 = F.floor(F.col("srm_chi2") * 1e6 + F.lit(0.5)) / 1e6
    z_q6 = F.floor(F.col("z") * 1e6 + F.lit(0.5)) / 1e6
    return s.select(
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        chi_q6.alias("srm_chi2_q6"),
        z_q6.alias("z_q6"),
        (chi_q6 < F.lit(3.841459)).alias("srm_ok"),
        (F.abs(z_q6) >= F.lit(1.959964)).alias("significant"),
    )


# Poisson(1) CDF thresholds on the 2^52 grid (u = 13-hex-digit md5
# prefix, uniform on [0, 2^52)): w = #thresholds <= u, truncated at 6
# (P[X > 6] ~ 8e-5).  floor(cum_k * 2^52) frozen as exact BIGINTs.
_POIS1_T52 = (
    1656781714176974,
    3313563428353948,
    4141954285442435,
    4418084571138597,
    4487117142562638,
    4500923656847446,
)
_BOOT_R = 40  # replicates; CI = order stats 1 and 39 (~95%)


def _poisson_bootstrap_oracle() -> str:
    w_case = " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS1_T52)
    )
    return rf"""
    WITH base AS (
      SELECT event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' AND value > 0),
    rep AS (
      SELECT b.event_id, b.cents, k.k,
             CAST(concat('0x', substr(md5(CAST(b.event_id AS VARCHAR)
                                          || '_' || CAST(k.k AS VARCHAR)),
                                      1, 13)) AS BIGINT) AS u
      FROM base b, (SELECT unnest(range(1, {_BOOT_R + 1})) AS k) k),
    wtd AS (
      SELECT k, CASE {w_case} ELSE 6 END AS w, cents FROM rep),
    means AS (
      SELECT k,
             CAST(sum(w) AS BIGINT) AS wn,
             CAST(sum(w * cents) AS BIGINT) AS wsum
      FROM wtd GROUP BY k),
    mq AS (
      SELECT k,
             CAST(FLOOR(CAST(wsum AS DOUBLE) / CAST(wn AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS m6
      FROM means WHERE wn > 0),
    ranked AS (
      SELECT m6, row_number() OVER (ORDER BY m6, k) AS pos,
             count(*) OVER () AS r_used
      FROM mq),
    pick AS (
      SELECT CAST(max(r_used) AS BIGINT) AS r_used,
             CAST(sum(m6) AS BIGINT) AS s6,
             max(CASE WHEN pos = 1 THEN m6 END) AS lo6,
             max(CASE WHEN pos = r_used - 1 THEN m6 END) AS hi6
      FROM ranked),
    allm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS csum
      FROM base)
    SELECT allm.n, pick.r_used,
           FLOOR(CAST(allm.csum AS DOUBLE) / allm.n * 1e4 + 0.5) / 1e4
             AS mean_cents_q4,
           FLOOR(CAST(pick.s6 AS DOUBLE) / pick.r_used * 1e-2 + 0.5) / 1e4
             AS boot_mean_cents_q4,
           CAST(pick.lo6 AS DOUBLE) / 1e6 AS ci_lo_cents_q6,
           CAST(pick.hi6 AS DOUBLE) / 1e6 AS ci_hi_cents_q6
    FROM allm, pick
    """


@_register("events_poisson_bootstrap_ci", _poisson_bootstrap_oracle)
def events_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap confidence interval for the mean purchase
    value — via the POISSON bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", the MapReduce-native
    resample): instead of drawing n rows with replacement (impossible
    without global coordination), each row independently receives a
    Poisson(1) multiplicity per replicate, which converges to the
    multinomial bootstrap and needs only map-side state.

    Everything is derandomized: the per-(row, replicate) uniform is the
    13-hex md5 prefix (52 bits) of ``event_id || '_' || k``, and the
    Poisson inverse-CDF is a CASE ladder over frozen 2^52-grid BIGINT
    thresholds (truncated at w = 6, P ~ 8e-5, documented) — so a retried
    task resamples identically, and the oracle replays the exact weights.
    Replicate means are exact-integer weighted sums snapped to q6; the
    CI is the (1st, 39th) order statistics of the 40 replicate means
    (~95%, tie-broken by replicate id).  Scale: the explode is map-side
    and partial aggregation collapses it to 40 partial sums per
    partition before the one tiny shuffle — the canonical 100 TB
    uncertainty plan.  No counterpart in the reference (point estimates
    only, symbol_statistics_generate.py)."""
    ev = _td(spark, sf_dir, "events")
    base = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 0)
    ).select(
        "event_id",
        cents(F.col("value")).alias("cents"),
    )
    rep = base.select(
        "event_id",
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_R))).alias("k"),
    ).withColumn(
        "u",
        F.expr(
            "cast(conv(substr(md5(concat(cast(event_id as string), '_',"
            " cast(k as string))), 1, 13), 16, 10) as bigint)"
        ),
    )
    w = F.lit(6)
    for k, t in reversed(list(enumerate(_POIS1_T52))):
        w = F.when(F.col("u") < F.lit(t), F.lit(k)).otherwise(w)
    means = (
        rep.select("k", w.alias("w"), "cents")
        .groupBy("k")
        .agg(
            F.sum("w").cast("long").alias("wn"),
            F.sum(F.col("w") * F.col("cents")).cast("long").alias("wsum"),
        )
        .filter(F.col("wn") > 0)
        .select(
            "k",
            F.floor(
                F.col("wsum").cast("double") / F.col("wn").cast("double") * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("m6"),
        )
    )
    from pyspark.sql import Window

    ranked = means.select(
        "m6",
        F.row_number().over(Window.orderBy("m6", "k")).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("r_used"),
    )
    pick = ranked.agg(
        F.max("r_used").cast("long").alias("r_used"),
        F.sum("m6").cast("long").alias("s6"),
        F.max(F.when(F.col("pos") == 1, F.col("m6"))).alias("lo6"),
        F.max(F.when(F.col("pos") == F.col("r_used") - 1, F.col("m6"))).alias(
            "hi6"
        ),
    )
    allm = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("csum"),
    )
    return allm.crossJoin(F.broadcast(pick)).select(
        "n",
        "r_used",
        (
            F.floor(F.col("csum").cast("double") / F.col("n") * 1e4 + F.lit(0.5))
            / 1e4
        ).alias("mean_cents_q4"),
        (
            F.floor(
                F.col("s6").cast("double") / F.col("r_used") * 1e-2 + F.lit(0.5)
            )
            / 1e4
        ).alias("boot_mean_cents_q4"),
        (F.col("lo6").cast("double") / 1e6).alias("ci_lo_cents_q6"),
        (F.col("hi6").cast("double") / 1e6).alias("ci_hi_cents_q6"),
    )


def _survival_users(ev: DataFrame, *extra: Column) -> DataFrame:
    """``(d_sec, c, *extra)``: one row per user with a click, the
    click→purchase duration of the survival queries. A user enters at
    the first click and converts (``c = 1``) at the first purchase
    strictly after it; otherwise ``c = 0`` and the duration runs to the
    user's last event. Durations are whole seconds (integer ``div``).
    ``events_kaplan_meier``, ``events_nelson_aalen`` and
    ``events_log_rank`` build on it; its oracle twin is
    :func:`_survival_users_sql`."""
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pur = (
        clicks.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("tp")
            ),
            "user_id",
        )
        .filter(F.col("tp") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("tp"))
    )
    lastev = ev.groupBy("user_id").agg(F.max("ts").alias("tl"))
    return (
        clicks.join(pur, "user_id", "left")
        .join(lastev, "user_id")
        .select(
            F.when(
                F.col("tp").isNotNull(),
                F.expr("(unix_micros(tp) - unix_micros(t0)) div 1000000"),
            )
            .otherwise(F.expr("(unix_micros(tl) - unix_micros(t0)) div 1000000"))
            .alias("d_sec"),
            F.when(F.col("tp").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("c"),
            *extra,
        )
    )


def _risk_sets(u: DataFrame) -> DataFrame:
    """``(d_sec, d_events, n_risk)`` at each event time of the
    :func:`_survival_users` rows ``u``: conversions there and the users
    still at risk, from an exact ``stats.global_cumsum`` of the per-time
    totals. Shared by ``events_kaplan_meier`` and
    ``events_nelson_aalen``; its oracle twin is :data:`_RISK_SETS_SQL`."""
    n_total = u.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    grp = u.groupBy("d_sec").agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum("c").cast("long").alias("d_events"),
    )
    ord_df = stats.global_cumsum(grp, ["d_sec"], "total").withColumnRenamed(
        "cum_total", "cumtot"
    )
    return (
        ord_df.crossJoin(F.broadcast(n_total))
        .filter(F.col("d_events") > 0)
        .select(
            "d_sec",
            "d_events",
            (F.col("n_total") - F.col("cumtot") + F.col("total")).alias("n_risk"),
        )
    )


def _survival_users_sql(extra: str = "") -> str:
    """The ``clicks → pur → lastev → u`` CTEs, DuckDB twin of
    :func:`_survival_users` (``extra`` is appended to ``u``'s select
    list); the prologue of the three survival oracles."""
    return r"""
    WITH clicks AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'click' GROUP BY user_id),
    pur AS (
      SELECT c.user_id, min(e.ts) AS tp
      FROM clicks c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.t0
      GROUP BY c.user_id),
    lastev AS (
      SELECT user_id, max(ts) AS tl FROM events GROUP BY user_id),
    u AS (
      SELECT c.user_id,
             CASE WHEN p.tp IS NOT NULL
                  THEN (epoch_us(p.tp) - epoch_us(c.t0)) // 1000000
                  ELSE (epoch_us(l.tl) - epoch_us(c.t0)) // 1000000
             END AS d_sec,
             CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS c""" + extra + r"""
      FROM clicks c
      LEFT JOIN pur p ON p.user_id = c.user_id
      JOIN lastev l ON l.user_id = c.user_id),"""


# events_log_rank's extra ``u`` column: the md5 arm (A = 1).
_LOG_RANK_ARM_SQL = r""",
             CASE WHEN CAST(concat('0x', substr(md5(CAST(c.user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE 0 END AS is_a"""

# The ``n → grp → ord → ev`` CTEs over ``u``, DuckDB twin of
# :func:`_risk_sets` (events_kaplan_meier, events_nelson_aalen).
_RISK_SETS_SQL = r"""
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM u),
    grp AS (
      SELECT d_sec, CAST(count(*) AS BIGINT) AS total,
             CAST(sum(c) AS BIGINT) AS d_events
      FROM u GROUP BY d_sec),
    ord AS (
      SELECT d_sec, total, d_events,
             CAST(sum(total) OVER (ORDER BY d_sec) AS BIGINT) AS cumtot
      FROM grp),
    ev AS (
      SELECT d_sec, d_events,
             n.n_total - cumtot + total AS n_risk
      FROM ord, n WHERE d_events > 0),"""


def _kaplan_meier_oracle() -> str:
    """Generated oracle for events_kaplan_meier: identical duration /
    risk-set construction, detmath ln on the per-event-time factor
    (1e-12 grid, exact cumulative integer sum), detmath exp on the
    clamped cumulative log-survival, q6 snap."""
    ln = detmath.det_ln_pos_sql("term", "duckdb")
    ex = detmath.det_exp_sql("cumd", "duckdb")
    return _survival_users_sql() + _RISK_SETS_SQL + rf"""
    t AS (
      SELECT d_sec, d_events, n_risk,
             CAST(n_risk - d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
               AS term
      FROM ev),
    l AS (
      SELECT d_sec, d_events, n_risk,
             CASE WHEN d_events < n_risk
                  THEN CAST(FLOOR({ln} * 1e12 + 0.5) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS l12
      FROM t),
    cum AS (
      SELECT d_sec, d_events, n_risk,
             greatest(CAST(sum(l12) OVER (ORDER BY d_sec) AS DOUBLE) / 1e12,
                      -20.0) AS cumd
      FROM l)
    SELECT d_sec, n_risk, d_events,
           CASE WHEN d_events = n_risk THEN 0.0
                ELSE FLOOR({ex} * 1e6 + 0.5) / 1e6 END AS km_q6
    FROM cum
    """


@_register("events_kaplan_meier", _kaplan_meier_oracle)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for click→purchase conversion — the
    right-censoring-aware time-to-convert estimate (events_time_to_convert
    reports only COMPLETED conversions, which biases fast): users enter
    at their first click, convert at their first later purchase, and are
    censored at their last observed event otherwise.  S(t) =
    Π_{t_i <= t} (1 - d_i / n_i) over event times, with censored users
    leaving the risk set without an event.

    Determinism: durations are exact integer seconds; per-event-time
    factors go through detmath ln (the only cross-engine-safe log),
    snap to a 1e-12 integer grid, and the PRODUCT becomes an exact
    integer cumulative sum — then ONE detmath exp per output row on the
    clamped (≥ −20, i.e. S < 2e-9 ≈ q6 zero) log-survival.  A
    zero-survival terminal time (d = n: the whole remaining risk set
    converts) short-circuits to 0 — it is provably the last event row.
    Scale: risk sets and the log-survival both ride
    ``stats.global_cumsum`` (range-exchange prefix sums), never a
    single-partition window.  No counterpart in the reference;
    upgrades its funnel timing (PDF §KPIs) to censoring-aware."""
    evt = _risk_sets(_survival_users(_td(spark, sf_dir, "events")))
    t = evt.withColumn(
        "term",
        (F.col("n_risk") - F.col("d_events")).cast("double")
        / F.col("n_risk").cast("double"),
    )
    l = t.select(
        "d_sec",
        "d_events",
        "n_risk",
        F.when(
            F.col("d_events") < F.col("n_risk"),
            F.floor(detmath.det_ln_pos("term") * 1e12 + F.lit(0.5)).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("l12"),
    )
    cum = stats.global_cumsum(l, ["d_sec"], "l12").select(
        "d_sec",
        "d_events",
        "n_risk",
        F.greatest(F.col("cum_l12").cast("double") / 1e12, F.lit(-20.0)).alias(
            "cumd"
        ),
    )
    return cum.select(
        "d_sec",
        "n_risk",
        "d_events",
        F.when(F.col("d_events") == F.col("n_risk"), F.lit(0.0))
        .otherwise(
            F.floor(detmath.det_exp("cumd") * 1e6 + F.lit(0.5)) / 1e6
        )
        .alias("km_q6"),
    )


@_register(
    "ticks_epps_effect",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             epoch_us(ts) AS us,
             arg_max(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), event_id)
               AS cents
      FROM events WHERE value > 0 GROUP BY 1, 2),
    fr AS (SELECT unnest([60, 300, 900]) AS freq_s),
    lastpx AS (
      SELECT fr.freq_s, t.symbol,
             t.us // (fr.freq_s * 1000000) AS bucket,
             arg_max(t.cents, t.us) AS px
      FROM t, fr GROUP BY 1, 2, 3),
    bounds AS (
      SELECT fr.freq_s,
             min(t.us) // (fr.freq_s * 1000000) AS b_lo,
             max(t.us) // (fr.freq_s * 1000000) AS b_hi
      FROM t, fr GROUP BY 1),
    grid AS (
      SELECT b.freq_s, s.symbol, g.bucket
      FROM bounds b,
           (SELECT DISTINCT symbol FROM t) s,
           LATERAL (SELECT unnest(range(b.b_lo, b.b_hi + 1)) AS bucket) g),
    filled AS (
      SELECT g.freq_s, g.symbol, g.bucket,
             last_value(l.px IGNORE NULLS)
               OVER (PARTITION BY g.freq_s, g.symbol ORDER BY g.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM grid g
      LEFT JOIN lastpx l
        ON l.freq_s = g.freq_s AND l.symbol = g.symbol
       AND l.bucket = g.bucket),
    rets AS (
      SELECT freq_s, symbol, bucket,
             p - lag(p) OVER (PARTITION BY freq_s, symbol ORDER BY bucket)
               AS r
      FROM filled),
    pairs AS (
      SELECT a.freq_s, a.symbol AS sym_a, b.symbol AS sym_b,
             a.r AS ra, b.r AS rb
      FROM rets a JOIN rets b
        ON a.freq_s = b.freq_s AND a.bucket = b.bucket
       AND a.symbol < b.symbol
      WHERE a.r IS NOT NULL AND b.r IS NOT NULL),
    m AS (
      SELECT freq_s, sym_a, sym_b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ra) AS BIGINT) AS sa, CAST(sum(rb) AS BIGINT) AS sb,
             CAST(sum(ra * rb) AS BIGINT) AS sab,
             CAST(sum(ra * ra) AS BIGINT) AS saa,
             CAST(sum(rb * rb) AS BIGINT) AS sbb
      FROM pairs GROUP BY 1, 2, 3)
    SELECT freq_s, sym_a, sym_b, n,
           CASE WHEN (n * saa - sa * sa) > 0 AND (n * sbb - sb * sb) > 0
                THEN FLOOR(CAST(n * sab - sa * sb AS DOUBLE)
                           / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                                  * CAST(n * sbb - sb * sb AS DOUBLE))
                           * 1e6 + 0.5) / 1e6 END AS corr_q6
    FROM m
    """,
)
def ticks_epps_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epps-effect curve: grid-sampled realized correlation per symbol
    pair at 60 s / 300 s / 900 s sampling — the classic demonstration
    that correlation estimated on a common grid SHRINKS as the grid
    tightens under asynchronous trading (Epps 1979), i.e. exactly the
    bias ``ticks_hayashi_yoshida`` avoids.  Previous-tick sampling:
    last trade price at-or-before each grid point, forward-filled.

    Determinism: same-microsecond ticks collapse by event_id (the HY
    convention); per-(freq, symbol, bucket) last price is
    arg_max-by-time over the collapsed stream (time now unique); the
    forward fill is Spark's ``last(ignorenulls)`` / DuckDB's
    ``last_value IGNORE NULLS`` over the SAME total bucket order;
    returns are exact integer cents, so every Pearson moment is an
    exact BIGINT and the correlation is one fixed-order double tail
    (the IC formula).  Scale: the freq explode is map-side (×3 before
    the one shuffle), the grid is time-range/freq rows per series —
    independent of tick count — and each series' ffill window is a
    bounded partition; the pair join is an equi-join on (freq, bucket).
    Grid table is checkpointed once (it feeds both self-join sides).

    No counterpart in the reference (grid-aligned daily stats only,
    symbol_statistics_generate.py:76-79)."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "ticks")
    t = (
        ev.filter(F.col("value") > 0)
        .select(
            "symbol",
            F.unix_micros("ts").alias("us"),
            cents(F.col("value")).alias("cents"),
            "event_id",
        )
        .groupBy("symbol", "us")
        .agg(F.max_by("cents", "event_id").alias("cents"))
        .localCheckpoint()  # feeds lastpx, bounds, and the symbol list
    )
    freqs = spark.range(1).select(
        F.explode(F.array(F.lit(60), F.lit(300), F.lit(900))).alias("freq_s")
    )
    lastpx = (
        t.crossJoin(F.broadcast(freqs))
        .select(
            "freq_s",
            "symbol",
            F.expr("us div (freq_s * 1000000)").alias("bucket"),
            "cents",
            "us",
        )
        .groupBy("freq_s", "symbol", "bucket")
        .agg(F.max_by("cents", "us").alias("px"))
    )
    # one global min/max agg; per-freq bounds derive arithmetically
    # (min(us) div k — division is monotonic, matching the oracle)
    # instead of re-aggregating the tick table once per frequency
    gx = t.agg(F.min("us").alias("gmin"), F.max("us").alias("gmax"))
    bounds = freqs.crossJoin(F.broadcast(gx)).select(
        "freq_s",
        F.expr("gmin div (freq_s * 1000000)").alias("b_lo"),
        F.expr("gmax div (freq_s * 1000000)").alias("b_hi"),
    )
    syms = t.select("symbol").distinct()
    grid = (
        bounds.crossJoin(F.broadcast(syms))
        .select(
            "freq_s",
            "symbol",
            F.explode(F.sequence(F.col("b_lo"), F.col("b_hi"))).alias("bucket"),
        )
    )
    wf = (
        Window.partitionBy("freq_s", "symbol")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        grid.join(lastpx, ["freq_s", "symbol", "bucket"], "left")
        .withColumn("p", F.last("px", ignorenulls=True).over(wf))
    )
    wl = Window.partitionBy("freq_s", "symbol").orderBy("bucket")
    rets = filled.select(
        "freq_s",
        "symbol",
        "bucket",
        (F.col("p") - F.lag("p").over(wl)).alias("r"),
    ).filter(F.col("r").isNotNull()).localCheckpoint()
    a = rets.select(
        "freq_s", F.col("symbol").alias("sym_a"), "bucket", F.col("r").alias("ra")
    )
    b = rets.select(
        "freq_s", F.col("symbol").alias("sym_b"), "bucket", F.col("r").alias("rb")
    )
    m = (
        a.join(b, ["freq_s", "bucket"])
        .filter(F.col("sym_a") < F.col("sym_b"))
        .groupBy("freq_s", "sym_a", "sym_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ra").cast("long").alias("sa"),
            F.sum("rb").cast("long").alias("sb"),
            F.sum(F.col("ra") * F.col("rb")).cast("long").alias("sab"),
            F.sum(F.col("ra") * F.col("ra")).cast("long").alias("saa"),
            F.sum(F.col("rb") * F.col("rb")).cast("long").alias("sbb"),
        )
    )
    va = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    vb = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    return m.select(
        "freq_s",
        "sym_a",
        "sym_b",
        "n",
        F.when(
            (va > 0) & (vb > 0),
            F.floor(
                num.cast("double") / F.sqrt(va.cast("double") * vb.cast("double"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6,
        ).alias("corr_q6"),
    )


@_register(
    "events_diff_in_diff",
    r"""
    WITH cut AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS cut_us
      FROM events),
    up AS (
      SELECT e.user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(e.user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'T' ELSE 'C' END AS arm,
             CASE WHEN epoch_us(e.ts) < c.cut_us THEN 'pre' ELSE 'post' END
               AS period,
             CAST(sum(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events e, cut c WHERE e.value > 0
      GROUP BY 1, 2, 3),
    cells AS (
      SELECT arm, period,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(cents) AS BIGINT) AS csum
      FROM up GROUP BY 1, 2),
    wide AS (
      SELECT
        max(CASE WHEN arm = 'T' AND period = 'pre' THEN n_users END) AS n_t_pre,
        max(CASE WHEN arm = 'T' AND period = 'post' THEN n_users END) AS n_t_post,
        max(CASE WHEN arm = 'C' AND period = 'pre' THEN n_users END) AS n_c_pre,
        max(CASE WHEN arm = 'C' AND period = 'post' THEN n_users END) AS n_c_post,
        CAST(max(CASE WHEN arm = 'T' AND period = 'pre' THEN csum END) AS DOUBLE)
          / max(CASE WHEN arm = 'T' AND period = 'pre' THEN n_users END) AS mtpre,
        CAST(max(CASE WHEN arm = 'T' AND period = 'post' THEN csum END) AS DOUBLE)
          / max(CASE WHEN arm = 'T' AND period = 'post' THEN n_users END) AS mtpost,
        CAST(max(CASE WHEN arm = 'C' AND period = 'pre' THEN csum END) AS DOUBLE)
          / max(CASE WHEN arm = 'C' AND period = 'pre' THEN n_users END) AS mcpre,
        CAST(max(CASE WHEN arm = 'C' AND period = 'post' THEN csum END) AS DOUBLE)
          / max(CASE WHEN arm = 'C' AND period = 'post' THEN n_users END) AS mcpost
      FROM cells)
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
           FLOOR(mtpre * 1e6 + 0.5) / 1e6 AS mean_t_pre_q6,
           FLOOR(mtpost * 1e6 + 0.5) / 1e6 AS mean_t_post_q6,
           FLOOR(mcpre * 1e6 + 0.5) / 1e6 AS mean_c_pre_q6,
           FLOOR(mcpost * 1e6 + 0.5) / 1e6 AS mean_c_post_q6,
           FLOOR(((mtpost - mtpre) - (mcpost - mcpre)) * 1e6 + 0.5) / 1e6
             AS did_q6
    FROM wide
    WHERE n_t_pre IS NOT NULL AND n_t_post IS NOT NULL
      AND n_c_pre IS NOT NULL AND n_c_post IS NOT NULL
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout — the quasi-experimental
    effect estimate when assignment isn't randomized per-exposure:
    (treated post − treated pre) − (control post − control pre) on
    user-period engagement spend, differencing out both the stable
    group gap and the common time trend.

    Arms ride the portable md5 user-hash (the events_ab_test split);
    the pre/post cut is the integer MIDPOINT of the observed time range
    (data-derived, so both engines compute the identical BIGINT cut —
    no frozen calendar literal to drift from the generator).  Per-cell
    sums and user counts are exact BIGINTs from two hash aggs; the four
    cell means and the DiD contrast are one fixed-order double tail,
    all snapped to q6.  Scale: events→user-period→4 cells; the time-cut
    scalar broadcasts.  No counterpart in the reference (no
    experimentation surface)."""
    ev = _td(spark, sf_dir, "events").filter(F.col("value") > 0)
    cut = _mid_cut(ev)
    up = (
        ev.crossJoin(F.broadcast(cut))
        .select(
            "user_id",
            _arm("T", "C").alias("arm"),
            F.when(F.unix_micros("ts") < F.col("cut_us"), F.lit("pre"))
            .otherwise(F.lit("post"))
            .alias("period"),
            cents(F.col("value")).alias("c1"),
        )
        .groupBy("user_id", "arm", "period")
        .agg(F.sum("c1").cast("long").alias("cents"))
    )
    cells = up.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("csum"),
    )

    def cell(a: str, p: str, col: str):
        return F.max(
            F.when((F.col("arm") == a) & (F.col("period") == p), F.col(col))
        )

    wide = cells.agg(
        cell("T", "pre", "n_users").alias("n_t_pre"),
        cell("T", "post", "n_users").alias("n_t_post"),
        cell("C", "pre", "n_users").alias("n_c_pre"),
        cell("C", "post", "n_users").alias("n_c_post"),
        (cell("T", "pre", "csum").cast("double") / cell("T", "pre", "n_users"))
        .alias("mtpre"),
        (cell("T", "post", "csum").cast("double") / cell("T", "post", "n_users"))
        .alias("mtpost"),
        (cell("C", "pre", "csum").cast("double") / cell("C", "pre", "n_users"))
        .alias("mcpre"),
        (cell("C", "post", "csum").cast("double") / cell("C", "post", "n_users"))
        .alias("mcpost"),
    ).filter(
        F.col("n_t_pre").isNotNull()
        & F.col("n_t_post").isNotNull()
        & F.col("n_c_pre").isNotNull()
        & F.col("n_c_post").isNotNull()
    )

    return wide.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        q6(F.col("mtpre")).alias("mean_t_pre_q6"),
        q6(F.col("mtpost")).alias("mean_t_post_q6"),
        q6(F.col("mcpre")).alias("mean_c_pre_q6"),
        q6(F.col("mcpost")).alias("mean_c_post_q6"),
        q6(
            (F.col("mtpost") - F.col("mtpre")) - (F.col("mcpost") - F.col("mcpre"))
        ).alias("did_q6"),
    )


def _arm_sums(*sums: tuple[str, Column, str | None]) -> list[Column]:
    """Aggregates over rows labelled ``arm`` T or C: the arm sizes
    ``n_t``/``n_c``, then for each ``(name, x, cast)`` the per-arm sums
    ``<name>_t``/``<name>_c`` of ``x`` (cast to ``cast`` unless None).
    The arm roll-up of events_cuped, events_msprt_sequential and
    events_did_event_study."""
    arms = (("T", "t"), ("C", "c"))
    aggs = [
        F.count(F.when(F.col("arm") == arm, F.lit(1))).cast("long").alias(f"n_{sfx}")
        for arm, sfx in arms
    ]
    for name, x, cast in sums:
        for arm, sfx in arms:
            s = F.sum(F.when(F.col("arm") == arm, x).otherwise(F.lit(0)))
            aggs.append((s if cast is None else s.cast(cast)).alias(f"{name}_{sfx}"))
    return aggs


@_register(
    "events_cuped",
    r"""
    WITH cut AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS cut_us
      FROM events),
    u AS (
      SELECT e.user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(e.user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'T' ELSE 'C' END AS arm,
             CAST(sum(CASE WHEN epoch_us(e.ts) < c.cut_us
                           THEN CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN epoch_us(e.ts) >= c.cut_us
                           THEN CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events e, cut c WHERE e.value > 0
      GROUP BY 1, 2),
    pool AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM u),
    arms AS (
      SELECT
        CAST(count(*) FILTER (arm = 'T') AS BIGINT) AS n_t,
        CAST(count(*) FILTER (arm = 'C') AS BIGINT) AS n_c,
        CAST(sum(x) FILTER (arm = 'T') AS BIGINT) AS sx_t,
        CAST(sum(x) FILTER (arm = 'C') AS BIGINT) AS sx_c,
        CAST(sum(y) FILTER (arm = 'T') AS BIGINT) AS sy_t,
        CAST(sum(y) FILTER (arm = 'C') AS BIGINT) AS sy_c
      FROM u),
    f AS (
      SELECT n_t, n_c,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * sxx
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
             ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * sxx
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * syy
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho2,
             CAST(sy_t AS DOUBLE) / n_t - CAST(sy_c AS DOUBLE) / n_c AS rawd,
             CAST(sx_t AS DOUBLE) / n_t - CAST(sx_c AS DOUBLE) / n_c AS xd
      FROM pool, arms
      WHERE n_t > 0 AND n_c > 0
        AND (CAST(n AS DOUBLE) * sxx
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
        AND (CAST(n AS DOUBLE) * syy
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0)
    SELECT n_t, n_c,
           FLOOR(theta * 1e6 + 0.5) / 1e6 AS theta_q6,
           FLOOR(rho2 * 1e6 + 0.5) / 1e6 AS rho2_q6,
           FLOOR(rawd * 1e6 + 0.5) / 1e6 AS diff_raw_q6,
           FLOOR((rawd - theta * xd) * 1e6 + 0.5) / 1e6 AS diff_cuped_q6
    FROM f
    """,
)
def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B contrast (Deng et al. 2013, "Improving the
    Sensitivity of Online Controlled Experiments") — the
    industry-standard variance-reduction trick: regress the experiment
    metric on its own PRE-period value (θ = cov(x,y)/var(x), pooled)
    and difference out the predictable component; the adjusted arm
    contrast is algebraically (ȳ_T − ȳ_C) − θ(x̄_T − x̄_C), so no
    per-user re-pass is needed.  Reports θ, the achieved variance
    reduction ρ² (var drops by exactly ρ²), and the raw vs adjusted
    treatment effects.

    Arms ride the portable md5 user split (events_ab_test); the
    pre/post cut is the data-derived integer midpoint
    (events_diff_in_diff).  User pre/post cent sums are exact BIGINTs;
    cross-moments accumulate in decimal(38,0)/HUGEINT (the
    price-elasticity pattern) and reach the θ/ρ² formulas as
    identically-rounded binary64.  Scale: one user-level hash agg, two
    one-row roll-ups.  No counterpart in the reference."""
    ev = _td(spark, sf_dir, "events").filter(F.col("value") > 0)
    cut = _mid_cut(ev)
    vc = cents(F.col("value"))
    u = (
        ev.crossJoin(F.broadcast(cut))
        .select(
            "user_id",
            _arm("T", "C").alias("arm"),
            F.when(F.unix_micros("ts") < F.col("cut_us"), vc)
            .otherwise(F.lit(0))
            .alias("xc"),
            F.when(F.unix_micros("ts") >= F.col("cut_us"), vc)
            .otherwise(F.lit(0))
            .alias("yc"),
        )
        .groupBy("user_id", "arm")
        .agg(
            F.sum("xc").cast("long").alias("x"),
            F.sum("yc").cast("long").alias("y"),
        )
        .localCheckpoint()  # feeds the pooled and the per-arm roll-up
    )
    pool = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        # operands cast to decimal BEFORE the multiply: a bigint*bigint
        # product would wrap silently (non-ANSI) past ~9.2e18 while
        # DuckDB raises; decimal(19,0)^2 -> decimal(38,0) holds any
        # per-user cent-sum cross-product exactly.
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .cast("double")
        .alias("syy"),
    )
    arms = u.agg(*_arm_sums(("sx", F.col("x"), "long"), ("sy", F.col("y"), "long")))
    vx, vy, cov = _cov_terms("n")
    f = (
        pool.crossJoin(F.broadcast(arms))
        .filter((F.col("n_t") > 0) & (F.col("n_c") > 0) & (vx > 0.0) & (vy > 0.0))
        .select(
            "n_t",
            "n_c",
            (cov / vx).alias("theta"),
            ((cov * cov) / (vx * vy)).alias("rho2"),
            (
                F.col("sy_t").cast("double") / F.col("n_t")
                - F.col("sy_c").cast("double") / F.col("n_c")
            ).alias("rawd"),
            (
                F.col("sx_t").cast("double") / F.col("n_t")
                - F.col("sx_c").cast("double") / F.col("n_c")
            ).alias("xd"),
        )
    )

    return f.select(
        "n_t",
        "n_c",
        q6(F.col("theta")).alias("theta_q6"),
        q6(F.col("rho2")).alias("rho2_q6"),
        q6(F.col("rawd")).alias("diff_raw_q6"),
        q6(F.col("rawd") - F.col("theta") * F.col("xd")).alias("diff_cuped_q6"),
    )


_HY_LAGS_US = (-1800_000_000, -300_000_000, 0, 300_000_000, 1800_000_000)


def _hy_lead_lag_oracle() -> str:
    lags = ", ".join(str(x) for x in _HY_LAGS_US)
    return rf"""
    WITH {_HY_IV_CTES},
    lg AS (SELECT unnest([{lags}]) AS lag_us),
    bsh AS (
      SELECT b.symbol, b.start_us - l.lag_us AS start_us,
             b.end_us - l.lag_us AS end_us, b.r, l.lag_us
      FROM iv2 b, lg l),
    ov AS (
      SELECT a.symbol AS sym_a, b.symbol AS sym_b, b.lag_us,
             CAST(count(*) AS BIGINT) AS n_overlaps,
             CAST(sum(a.r * b.r) AS BIGINT) AS hy_cov_c2
      FROM iv2 a JOIN bsh b
        ON a.symbol < b.symbol
       AND a.start_us < b.end_us AND b.start_us < a.end_us
      GROUP BY 1, 2, 3)
    SELECT ov.sym_a, ov.sym_b, ov.lag_us, ov.n_overlaps, ov.hy_cov_c2,
           CASE WHEN ra.rv > 0 AND rb.rv > 0
                THEN FLOOR(CAST(ov.hy_cov_c2 AS DOUBLE)
                           / sqrt(CAST(ra.rv AS DOUBLE)
                                  * CAST(rb.rv AS DOUBLE))
                           * 1e6 + 0.5) / 1e6 END AS hy_corr_q6
    FROM ov
    JOIN rv ra ON ov.sym_a = ra.symbol
    JOIN rv rb ON ov.sym_b = rb.symbol
    """


@_register("ticks_hy_lead_lag", _hy_lead_lag_oracle)
def ticks_hy_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hayashi-Yoshida LEAD-LAG curve (Hoffmann, Rosenbaum & Yoshida
    2013): the HY cross-covariance recomputed with one stream's return
    intervals time-shifted by each lag ℓ — corr(ℓ) peaks at the lag by
    which the second stream FOLLOWS the first (shift-by-−ℓ aligns a
    follower delayed by ℓ, proven in the semantic test with a planted
    5-minute echo).  The asynchronous-data answer to "which symbol
    leads?" that grid-based ticks_lead_lag_corr approximates.

    Plan: the SAME collapsed-interval table as ticks_hayashi_yoshida
    (checkpointed once); the lag explode is MAP-SIDE (×5 on the shifted
    side only — the unshifted side's buckets are lag-invariant, so ONE
    bucketized equi-join carries all lags and pairs, grouped by
    (pair, lag) after).  Epoch micros stay positive under every lag, so
    integer bucket division is exact; covariances are exact BIGINTs;
    the normalization reuses the lag-invariant realized variances."""
    iv, rv, a = _hy_intervals(spark, sf_dir)
    b = (
        iv.select(
            F.col("symbol").alias("sym_b"),
            "start_us",
            "end_us",
            F.col("r").alias("rb"),
        )
        .withColumn(
            "lag_us",
            F.explode(F.array(*[F.lit(x) for x in _HY_LAGS_US])),
        )
        .select(
            "sym_b",
            (F.col("start_us") - F.col("lag_us")).alias("b_start"),
            (F.col("end_us") - F.col("lag_us")).alias("b_end"),
            "rb",
            "lag_us",
        )
    )
    ov = (
        joins.interval_overlap_join(
            a, b, "a_start", "a_end", "b_start", "b_end",
            extra="l.sym_a < r.sym_b",
        )
        .groupBy("sym_a", "sym_b", "lag_us")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum(F.col("ra") * F.col("rb")).cast("long").alias("hy_cov_c2"),
        )
    )
    return _hy_normalized(ov, rv, ["sym_a", "sym_b", "lag_us"])


@_register(
    "events_bandit_replay",
    r"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value > 0 GROUP BY 1, 2),
    cum AS (
      SELECT day, event_type,
             CAST(sum(n) OVER w AS BIGINT) AS cn,
             CAST(sum(cents) OVER w AS BIGINT) AS cs
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    nextday AS (
      SELECT d.day AS decision_day, c.event_type,
             (c.cs * 1000000) // c.cn AS mean6
      FROM (SELECT DISTINCT day FROM daily) d
      JOIN cum c
        ON c.day = (SELECT max(c2.day) FROM cum c2
                    WHERE c2.event_type = c.event_type AND c2.day < d.day)),
    policy AS (
      SELECT decision_day AS day, event_type AS chosen_type
      FROM (SELECT decision_day, event_type, mean6,
                   row_number() OVER (PARTITION BY decision_day
                                      ORDER BY mean6 DESC, event_type)
                     AS rk
            FROM nextday)
      WHERE rk = 1),
    matched AS (
      SELECT p.day, p.chosen_type, d.n, d.cents
      FROM policy p
      LEFT JOIN daily d ON d.day = p.day AND d.event_type = p.chosen_type)
    SELECT day, chosen_type,
           CAST(coalesce(n, 0) AS BIGINT) AS n_matched,
           CASE WHEN n > 0
                THEN FLOOR(CAST(cents AS DOUBLE) / n * 1e4 + 0.5) / 1e4
           END AS est_value_q4
    FROM matched
    """,
)
def events_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline bandit-policy replay (Li et al. 2011, the unbiased
    replay evaluator): a daily-updated greedy policy — each day play
    the event type with the highest CUMULATIVE mean value through the
    previous day — is evaluated on the logged stream by keeping only
    the day's events whose type matches the policy's choice and
    averaging their reward.  The standard way to score a
    recommendation policy on logs without an online experiment.

    Determinism: per-(day, type) counts and cent sums are exact
    BIGINTs; cumulative means compare on an exact q6 integer-division
    grid with the type name as tiebreaker (a raw double comparison
    could tie-flip across engines on 1-ulp rational disagreements);
    per-day estimates are one identical double division + q4 snap.
    The "latest cumulative state strictly before day d" lookup is an
    as-of self-reference (correlated max in the oracle, a lag window
    on the dense Spark side — both total-ordered).  Scale: the corpus
    collapses to #days × #types rows in ONE hash agg; everything after
    runs on that tiny table.  No counterpart in the reference."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events").filter(F.col("value") > 0)
    daily = (
        ev.select(
            F.to_date("ts").alias("day"),
            "event_type",
            cents(F.col("value")).alias("c1"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c1").cast("long").alias("cents"),
        )
        .localCheckpoint()  # feeds cum-state, the day list, and the eval join
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "day",
        "event_type",
        F.sum("n").over(wt).cast("long").alias("cn"),
        F.sum("cents").over(wt).cast("long").alias("cs"),
    )
    days = daily.select("day").distinct()
    # latest cumulative state strictly before each decision day: join
    # states to later days, keep the max state-day per (day, type)
    nextday = (
        days.alias("d")
        .join(cum.alias("c"), F.col("c.day") < F.col("d.day"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy(F.col("d.day"), F.col("c.event_type")).orderBy(
                    F.col("c.day").desc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("d.day").alias("day"),
            F.col("c.event_type").alias("event_type"),
            F.expr("(cs * 1000000) div cn").alias("mean6"),
        )
    )
    policy = (
        nextday.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("day").orderBy(
                    F.col("mean6").desc(), F.col("event_type")
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("day", F.col("event_type").alias("chosen_type"))
    )
    matched = policy.join(
        daily.select(
            "day", F.col("event_type").alias("chosen_type"), "n", "cents"
        ),
        ["day", "chosen_type"],
        "left",
    )
    return matched.select(
        "day",
        "chosen_type",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_matched"),
        F.when(
            F.col("n") > 0,
            F.floor(F.col("cents").cast("double") / F.col("n") * 1e4 + F.lit(0.5))
            / 1e4,
        ).alias("est_value_q4"),
    )


@_register(
    "stats_zorder_roundtrip",
    r"""
    WITH f AS (
      SELECT event_id, user_id, value
      FROM events
      WHERE user_id BETWEEN 100 AND 400 AND value BETWEEN 20.0 AND 80.0)
    SELECT user_id % 10 AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS key_sum,
           CAST(sum(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_sum
    FROM f GROUP BY 1
    """,
)
def stats_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write + multi-dimensional range read through
    the driver contract (the data-layout optimization next to the
    ORC/CSV roundtrips): write the events projection through
    io.write_zordered on (user_id, value) — Morton-interleaved range
    layout, the OPTIMIZE ZORDER BY of the lakehouse world — read it
    back with a TWO-dimensional range predicate (exactly the shape
    z-ordering exists to prune; the companion unit test proves per-file
    min/max spans shrink on BOTH dimensions), and digest per user
    bucket with exact integer counts/sums.  The oracle recomputes the
    digests straight from the parquet events table, so any row lost,
    duplicated, or mangled by the interleave/write/read chain breaks
    the hash.  Read-back is materialized before the temp dir is
    removed."""
    import shutil
    import tempfile

    from ..sources.io import write_zordered

    ev = _td(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="zorder_roundtrip_")
    try:
        write_zordered(
            ev.select("event_id", "user_id", "value"),
            d,
            zorder_by=("user_id", "value"),
            num_files=8,
        )
        back = spark.read.parquet(d).filter(
            F.col("user_id").between(100, 400)
            & F.col("value").between(20.0, 80.0)
        )
        out = back.groupBy((F.col("user_id") % 10).alias("bucket")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("long").alias("key_sum"),
            F.sum(cents(F.col("value")))
            .cast("long")
            .alias("cents_sum"),
        )
        return to_local(out)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# Two-sided z critical values for alpha/k, alpha = 0.05, k = 1..64
# (Holm step-down denominators; bisected offline from erfc, frozen).
# Metric families beyond 64 clamp to the k=64 value — documented,
# slightly anti-conservative for the top-ranked rows of an absurdly
# wide family, and never a silently dropped metric.
_HOLM_ZCRIT = (
    (1, 1.959964), (2, 2.241403), (3, 2.39398), (4, 2.497705),
    (5, 2.575829), (6, 2.638257), (7, 2.69011), (8, 2.734369),
    (9, 2.772921), (10, 2.807034), (11, 2.837597), (12, 2.86526),
    (13, 2.890512), (14, 2.913726), (15, 2.935199), (16, 2.955167),
    (17, 2.97382), (18, 2.991316), (19, 3.007787), (20, 3.023341),
    (21, 3.038074), (22, 3.052065), (23, 3.065383), (24, 3.078088),
    (25, 3.090232), (26, 3.101862), (27, 3.113017), (28, 3.123735),
    (29, 3.134046), (30, 3.14398), (31, 3.153563), (32, 3.162818),
    (33, 3.171766), (34, 3.180426), (35, 3.188815), (36, 3.19695),
    (37, 3.204845), (38, 3.212514), (39, 3.219968), (40, 3.227218),
    (41, 3.234277), (42, 3.241152), (43, 3.247854), (44, 3.254389),
    (45, 3.260767), (46, 3.266995), (47, 3.273078), (48, 3.279024),
    (49, 3.284839), (50, 3.290527), (51, 3.296094), (52, 3.301545),
    (53, 3.306885), (54, 3.312118), (55, 3.317247), (56, 3.322278),
    (57, 3.327213), (58, 3.332056), (59, 3.33681), (60, 3.341479),
    (61, 3.346065), (62, 3.350571), (63, 3.355), (64, 3.359354),
)


def _type_ztests_sql(z_extra: str = "") -> str:
    """The ``u → pop → x → z → zq`` CTEs of the Holm and BH oracles, the
    DuckDB twin of :func:`_type_ztests`: first-touch event type and md5
    arm per user, arm sizes, per-type arm counts and the q6
    two-proportion z. ``z_extra`` is appended to ``z``'s select list."""
    return r"""
    WITH u AS (
      SELECT user_id,
             arg_min(event_type,
                     lpad(CAST(epoch_ms(ts) AS VARCHAR), 14, '0')
                     || lpad(CAST(event_id AS VARCHAR), 12, '0'))
               AS event_type,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm
      FROM events GROUP BY user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END),
    pop AS (
      SELECT CAST(count(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS n_b
      FROM u),
    x AS (
      SELECT event_type,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS x_a,
             CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS x_b
      FROM u GROUP BY event_type),
    z AS (
      SELECT x.event_type, x.x_a, x.x_b,""" + z_extra + r"""
             (CAST(x.x_a AS DOUBLE) / CAST(pop.n_a AS DOUBLE)
              - CAST(x.x_b AS DOUBLE) / CAST(pop.n_b AS DOUBLE))
             / sqrt((CAST(x.x_a + x.x_b AS DOUBLE)
                     / CAST(pop.n_a + pop.n_b AS DOUBLE))
                    * (1.0 - CAST(x.x_a + x.x_b AS DOUBLE)
                             / CAST(pop.n_a + pop.n_b AS DOUBLE))
                    * (1.0 / CAST(pop.n_a AS DOUBLE)
                       + 1.0 / CAST(pop.n_b AS DOUBLE))) AS zval
      FROM x, pop
      WHERE x.x_a + x.x_b > 0 AND x.x_a + x.x_b < pop.n_a + pop.n_b),
    zq AS (
      SELECT event_type, x_a, x_b,
             FLOOR(zval * 1e6 + 0.5) / 1e6 AS z_q6
      FROM z),"""


def _holm_oracle() -> str:
    zrows = ", ".join(f"({k}, {z})" for k, z in _HOLM_ZCRIT)
    return _type_ztests_sql(" pop.n_a, pop.n_b,") + rf"""
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY abs(z_q6) DESC, event_type)
                     AS BIGINT) AS rank,
             count(*) OVER () AS m
      FROM zq),
    crit AS (SELECT * FROM (VALUES {zrows}) AS c(k, zcrit)),
    tested AS (
      SELECT r.event_type, r.x_a, r.x_b, r.z_q6, r.rank,
             CASE WHEN abs(r.z_q6) >= c.zcrit THEN 1 ELSE 0 END AS raw_sig
      FROM ranked r JOIN crit c ON c.k = least(r.m - r.rank + 1, 64))
    SELECT event_type, x_a, x_b, z_q6, rank,
           CAST(min(raw_sig) OVER (ORDER BY rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BOOLEAN)
             AS significant_holm
    FROM tested
    """


@_register("events_holm_multiple_tests", _holm_oracle)
def events_holm_multiple_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down multiple-testing correction over the A/B metric
    family — one two-proportion z per event type on the portable md5
    arm split, metric = FIRST-TOUCH share (which type was the user's
    first event, by the padded (epoch_ms, event_id) key): every user
    contributes exactly one metric, so no metric can degenerate to a
    0%/100% conversion at any scale (an any-touch metric saturates as
    activity grows and the whole family drops out of the test).  Then
    the Holm 1979 procedure:
    order |z| descending, compare the i-th to the α/(m−i+1) critical
    value, and STOP at the first failure (everything after is not
    significant, however large its raw z).  The multiple-comparisons
    gate every metrics platform needs once an experiment ships more
    than one readout.

    Determinism: per-type conversion counts and the user populations
    are exact BIGINTs; each z is one fixed-order double snapped to q6
    BEFORE ranking (so the rank order compares grid values, never raw
    doubles); the critical values are frozen literals (offline erfc
    bisection, k = 1..64, clamped above); the step-down "all previous
    passed" chain is
    a running MIN over the rank order — emitted per metric with its
    rank so the full decision trace is auditable.  Scale: two hash
    aggs over the user-type table; the test table is #metrics rows.
    No counterpart in the reference."""
    from pyspark.sql import Window

    zq = _type_ztests(_td(spark, sf_dir, "events"))
    wr = Window.orderBy(F.abs(F.col("z_q6")).desc(), F.col("event_type"))
    ranked = zq.select(
        "*",
        F.row_number().over(wr).cast("long").alias("rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    crit = spark.createDataFrame(list(_HOLM_ZCRIT), "k long, zcrit double")
    tested = ranked.join(
        F.broadcast(crit), F.least(ranked.m - ranked.rank + 1, F.lit(64)) == crit.k
    ).select(
        "event_type",
        "x_a",
        "x_b",
        "z_q6",
        "rank",
        F.when(F.abs(F.col("z_q6")) >= F.col("zcrit"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("raw_sig"),
    )
    chain = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return tested.select(
        "event_type",
        "x_a",
        "x_b",
        "z_q6",
        "rank",
        (F.min("raw_sig").over(chain) == 1).alias("significant_holm"),
    )


@_register(
    "events_quantile_treatment_effect",
    r"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'T' ELSE 'C' END AS arm,
             CAST(sum(CASE WHEN event_type = 'purchase' AND value > 0
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2),
    n AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY arm),
    h AS (
      SELECT arm, cents, CAST(count(*) AS BIGINT) AS c
      FROM u GROUP BY arm, cents),
    cum AS (
      SELECT arm, cents,
             CAST(sum(c) OVER (PARTITION BY arm ORDER BY cents) AS BIGINT)
               AS cc
      FROM h),
    ps AS (SELECT unnest([0.25e0, 0.5e0, 0.75e0]) AS p),
    k AS (
      SELECT n.arm, ps.p,
             CAST(CEIL(ps.p * n.n) AS BIGINT) AS kk, n.n
      FROM n, ps),
    q AS (
      SELECT k.arm, k.p, k.n,
             min(cum.cents) AS qv
      FROM k JOIN cum ON cum.arm = k.arm AND cum.cc >= k.kk
      GROUP BY k.arm, k.p, k.n)
    SELECT t.p,
           t.n AS n_t, c.n AS n_c,
           t.qv AS q_t_cents, c.qv AS q_c_cents,
           t.qv - c.qv AS qte_cents
    FROM (SELECT * FROM q WHERE arm = 'T') t
    JOIN (SELECT * FROM q WHERE arm = 'C') c ON c.p = t.p
    """,
)
def events_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects — the DISTRIBUTIONAL A/B readout
    (Firpo 2007): the difference of the two arms' 25th/50th/75th
    percentile of per-user purchase spend.  Means (events_ab_test /
    events_cuped) hide effects that only move the tails; QTE shows
    WHERE in the distribution the treatment acts.

    Exactness: per-user spend is an exact BIGINT; each arm quantile is
    a TYPE-1 order statistic (smallest value whose cumulative count
    reaches ceil(p·n)) computed in the SCALABLE histogram shape —
    group by spend value, cumulative counts over the value order,
    first-crossing pick — never a per-row global rank.  Every output
    is an exact integer difference of exact integers; no float beyond
    the three p literals.  Scale: events→users→value histogram (≤
    distinct spend values per arm); the cumulative sweep runs on the
    histogram via ``stats.global_cumsum`` (one range exchange per arm
    — never a single-partition window).  No counterpart in the
    reference."""
    ev = _td(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 0),
                    cents(F.col("value")),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("cents")
        )
        .select(_arm("T", "C").alias("arm"), "cents")
        .localCheckpoint()  # feeds the arm sizes and the histogram
    )
    n = u.groupBy("arm").agg(F.count(F.lit(1)).cast("long").alias("n"))
    h = u.groupBy("arm", "cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # per-arm cumulative counts via the range-exchange prefix sum — a
    # Window.partitionBy(arm) would funnel each arm's ENTIRE value
    # histogram (millions of distinct spends at corpus scale) through
    # one task; two global_cumsum calls keep each sweep parallel
    cum = None
    for arm in ("T", "C"):
        part = stats.global_cumsum(
            h.filter(F.col("arm") == arm), ["cents"], "c"
        ).select("arm", "cents", F.col("cum_c").cast("long").alias("cc"))
        cum = part if cum is None else cum.unionByName(part)
    ps = spark.range(1).select(
        F.explode(F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("p")
    )
    k = n.crossJoin(F.broadcast(ps)).select(
        "arm", "p", F.ceil(F.col("p") * F.col("n")).cast("long").alias("kk"), "n"
    )
    q = (
        k.join(cum, "arm")
        .filter(F.col("cc") >= F.col("kk"))
        .groupBy("arm", "p", "n")
        .agg(F.min("cents").alias("qv"))
    )
    t = q.filter(F.col("arm") == "T").select(
        "p", F.col("n").alias("n_t"), F.col("qv").alias("q_t_cents")
    )
    c = q.filter(F.col("arm") == "C").select(
        "p", F.col("n").alias("n_c"), F.col("qv").alias("q_c_cents")
    )
    return t.join(c, "p").select(
        "p",
        "n_t",
        "n_c",
        "q_t_cents",
        "q_c_cents",
        (F.col("q_t_cents") - F.col("q_c_cents")).alias("qte_cents"),
    )


@_register(
    "events_power_analysis",
    r"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE 0 END AS is_a,
             CASE WHEN arg_min(event_type,
                               lpad(CAST(epoch_ms(ts) AS VARCHAR), 14, '0')
                               || lpad(CAST(event_id AS VARCHAR), 12, '0'))
                       = 'purchase'
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE 0 END),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(conv) AS BIGINT) AS x_conv,
             CAST(sum(is_a) AS BIGINT) AS n_a,
             CAST(count(*) - sum(is_a) AS BIGINT) AS n_b
      FROM u),
    f AS (
      SELECT n_users, x_conv, n_a, n_b,
             CAST(x_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p1
      FROM g WHERE n_users > 0 AND x_conv > 0 AND x_conv < n_users),
    c AS (
      SELECT *,
             CASE WHEN p1 + 0.02e0 > 1.0 THEN 1.0 ELSE p1 + 0.02e0 END AS p2
      FROM f)
    SELECT n_users, x_conv, n_a, n_b,
           FLOOR(p1 * 1e6 + 0.5) / 1e6 AS p_base_q6,
           0.02e0 AS mde_abs,
           CAST(CEIL(((1.959964e0 + 0.841621e0) * (1.959964e0 + 0.841621e0))
                     * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
                     / ((p2 - p1) * (p2 - p1))) AS BIGINT)
             AS required_n_per_arm,
           least(n_a, n_b)
             >= CAST(CEIL(((1.959964e0 + 0.841621e0)
                           * (1.959964e0 + 0.841621e0))
                          * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
                          / ((p2 - p1) * (p2 - p1))) AS BIGINT)
             AS powered
    FROM c WHERE p2 > p1
    """,
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size / power calculator — the DESIGN side of the
    experimentation suite (ab_test/cuped/QTE are the readout side):
    from the observed baseline conversion rate, the per-arm n required
    to detect a +2-point absolute lift at α = 0.05 two-sided with 80%
    power — n = (z_{α/2} + z_β)² · (p₁(1−p₁) + p₂(1−p₂)) / (p₂−p₁)² —
    and whether the current md5-split arms already clear it.

    Conversion = FIRST-TOUCH purchase (the user's first event, by the
    padded time key, is a purchase) — the Holm convention, so the
    baseline can never saturate to 100% as activity grows (an any-touch
    baseline degenerates and the calculator emits nothing).

    Exactness: user counts and conversions are exact BIGINTs; p₁ is
    one identical double division; the z quantiles are frozen
    erfc-bisected literals (the Holm convention) and the whole formula
    is one fixed-order double chain ending in a CEIL both engines
    floor/ceil identically; the verdict compares exact integers.
    Degenerate baselines (0% or 100%) emit no row rather than a
    division by zero.  Scale: one user-level hash agg, one-row output."""
    u = _first_conv(_td(spark, sf_dir, "events"))
    g = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("x_conv"),
        F.sum("is_a").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("is_a")).cast("long").alias("n_b"),
    )
    f = g.filter(
        (F.col("n_users") > 0)
        & (F.col("x_conv") > 0)
        & (F.col("x_conv") < F.col("n_users"))
    ).withColumn(
        "p1", F.col("x_conv").cast("double") / F.col("n_users").cast("double")
    )
    c = f.withColumn(
        "p2",
        F.when(F.col("p1") + F.lit(0.02) > 1.0, F.lit(1.0)).otherwise(
            F.col("p1") + F.lit(0.02)
        ),
    ).filter(F.col("p2") > F.col("p1"))
    zsum2 = (F.lit(1.959964) + F.lit(0.841621)) * (
        F.lit(1.959964) + F.lit(0.841621)
    )
    req = F.ceil(
        zsum2
        * (
            F.col("p1") * (F.lit(1.0) - F.col("p1"))
            + F.col("p2") * (F.lit(1.0) - F.col("p2"))
        )
        / ((F.col("p2") - F.col("p1")) * (F.col("p2") - F.col("p1")))
    ).cast("long")
    return c.select(
        "n_users",
        "x_conv",
        "n_a",
        "n_b",
        (F.floor(F.col("p1") * 1e6 + F.lit(0.5)) / 1e6).alias("p_base_q6"),
        F.lit(0.02).alias("mde_abs"),
        req.alias("required_n_per_arm"),
        (F.least(F.col("n_a"), F.col("n_b")) >= req).alias("powered"),
    )


@_register(
    "events_mann_whitney",
    r"""
    WITH su AS (
      SELECT user_id, SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS spend
      FROM events WHERE value > 0 GROUP BY user_id),
    u AS (
      SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             spend
      FROM su),
    g AS (
      SELECT spend, CAST(count(*) AS BIGINT) AS t,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS t_a
      FROM u GROUP BY spend),
    c AS (SELECT *, SUM(t) OVER (ORDER BY spend) AS cum_t FROM g),
    s AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(t_a) AS BIGINT) AS n_a,
             SUM(CAST(t_a AS HUGEINT)
                 * (2 * (cum_t - t) + t + 1)) AS two_r_a,
             SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
                 - t) AS ties
      FROM c),
    f AS (
      SELECT n, n_a, n - n_a AS n_b,
             two_r_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS two_u_a, ties
      FROM s WHERE n_a > 0 AND n - n_a > 0 AND n >= 2),
    z AS (
      SELECT n_a, n_b, CAST(two_u_a AS BIGINT) AS two_u_a,
             (CAST(two_u_a AS DOUBLE) / 2.0
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
             / sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
                    * ((CAST(n AS DOUBLE) + 1.0)
                       - CAST(ties AS DOUBLE)
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
               AS zval
      FROM f
      WHERE (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
            * ((CAST(n AS DOUBLE) + 1.0)
               - CAST(ties AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) > 0.0)
    SELECT n_a, n_b, two_u_a,
           FLOOR(zval * 1e6 + 0.5) / 1e6 AS z_q6,
           abs(FLOOR(zval * 1e6 + 0.5) / 1e6) >= 1.959964 AS significant
    FROM z
    """,
)
def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum test on per-user spend between
    the md5 arms — the nonparametric workhorse an experimentation
    platform reaches for when spend is heavy-tailed and the t-test's
    mean is the wrong functional (one whale flips it; ranks don't care).
    Midranks over tied spend values with the standard tie-corrected
    normal approximation; no continuity correction (documented — both
    engines must pick the same convention).

    Exactness: per-user cent sums are BIGINT; the rank machinery works
    on DOUBLED ranks so midranks stay integral — per distinct spend v
    with t(v) users (t_a in A) and cum_below below it,
    2·R_A += t_a · (2·cum_below + t + 1), accumulated with
    decimal(19,0)-cast operands (never a raw int64 product — the
    advisor-r9 wrap class); the tie term Σ(t³−t) likewise. z is ONE
    fixed-order double formula over those integers, snapped to q6, and
    the verdict compares the snapped value to the frozen 1.959964
    literal. Scale: one user agg, one value-histogram agg, a
    global_cumsum sweep over DISTINCT spend values (range-partitioned
    prefix sums — the doc_classifier_auc / QTE shape, never a
    single-partition window), one roll-up. two_u_a is exact BIGINT
    (bounded by n_a·n_b·2 — past int64 only beyond ~2e9 users per arm).
    No counterpart in the reference."""
    g = _spend_hist(_user_spend(_td(spark, sf_dir, "events")))
    c = stats.global_cumsum(g, ["spend"], "t")
    td = F.col("t").cast("decimal(19,0)")
    s = c.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum("t_a").cast("long").alias("n_a"),
        F.sum(
            F.col("t_a").cast("decimal(19,0)")
            * (2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1).cast(
                "decimal(19,0)"
            )
        ).alias("two_r_a"),
        F.sum(td * td * td - td).alias("ties"),
    )
    f = s.select(
        "n",
        "n_a",
        (F.col("n") - F.col("n_a")).alias("n_b"),
        (
            F.col("two_r_a")
            - F.col("n_a").cast("decimal(19,0)")
            * (F.col("n_a") + 1).cast("decimal(19,0)")
        ).alias("two_u_a"),
        "ties",
    ).filter((F.col("n_a") > 0) & (F.col("n_b") > 0) & (F.col("n") >= 2))
    nd = F.col("n").cast("double")
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    var = (nad * nbd / F.lit(12.0)) * (
        (nd + F.lit(1.0))
        - F.col("ties").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    zval = (
        F.col("two_u_a").cast("double") / F.lit(2.0) - nad * nbd / F.lit(2.0)
    ) / F.sqrt(var)
    zq6 = F.floor(zval * 1e6 + F.lit(0.5)) / 1e6
    return (
        f.filter(var > 0.0)
        .select(
            "n_a",
            "n_b",
            F.col("two_u_a").cast("long").alias("two_u_a"),
            zq6.alias("z_q6"),
            (F.abs(zq6) >= F.lit(1.959964)).alias("significant"),
        )
    )


def _g_test_oracle() -> str:
    ln_od = detmath.det_ln_pos_sql("od", "duckdb", assume_ge_1=True)
    ln_e = detmath.det_ln_pos_sql("e", "duckdb")
    return rf"""
    WITH ecells AS (
      SELECT event_type,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm
      FROM events),
    cells AS (
      SELECT event_type, arm, CAST(count(*) AS BIGINT) AS o
      FROM ecells GROUP BY event_type, arm),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r_tot
           FROM cells GROUP BY event_type),
    ct AS (SELECT arm, CAST(SUM(o) AS BIGINT) AS c_tot FROM cells GROUP BY arm),
    tt AS (SELECT CAST(SUM(o) AS BIGINT) AS n_tot,
                  CAST(count(DISTINCT event_type) AS BIGINT) AS r,
                  CAST(count(DISTINCT arm) AS BIGINT) AS c
           FROM cells),
    j AS (
      SELECT CAST(cells.o AS DOUBLE) AS od,
             CAST(rt.r_tot AS DOUBLE) * CAST(ct.c_tot AS DOUBLE)
               / CAST(tt.n_tot AS DOUBLE) AS e,
             tt.n_tot, tt.r, tt.c
      FROM cells JOIN rt USING (event_type) JOIN ct USING (arm) CROSS JOIN tt),
    t AS (
      SELECT n_tot, r, c,
             CAST(FLOOR(od * ({ln_od} - {ln_e}) * 1e6 + 0.5) AS BIGINT) AS t6
      FROM j),
    s AS (
      SELECT CAST(MAX(n_tot) AS BIGINT) AS n,
             CAST(MAX(r) AS BIGINT) AS r, CAST(MAX(c) AS BIGINT) AS c,
             CAST(SUM(t6) AS BIGINT) AS s6
      FROM t)
    SELECT n, (r - 1) * (c - 1) AS df,
           FLOOR(2.0 * (CAST(s6 AS DOUBLE) / 1e6) * 1e6 + 0.5) / 1e6 AS g_q6,
           FLOOR(2.0 * (CAST(s6 AS DOUBLE) / 1e6) * 1e6 + 0.5) / 1e6
             > (CASE WHEN (r - 1) * (c - 1) = 1 THEN 3.841459
                     WHEN (r - 1) * (c - 1) = 2 THEN 5.991465
                     WHEN (r - 1) * (c - 1) = 3 THEN 7.814728
                     WHEN (r - 1) * (c - 1) = 4 THEN 9.487729
                     WHEN (r - 1) * (c - 1) = 5 THEN 11.070498
                     WHEN (r - 1) * (c - 1) = 6 THEN 12.591587
                     WHEN (r - 1) * (c - 1) = 7 THEN 14.067140
                     ELSE 15.507313 END) AS significant
    FROM s WHERE r >= 2 AND c >= 2
    """


@_register("events_g_test", _g_test_oracle)
def events_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood-ratio test) of independence between event
    type and experiment arm — the χ²'s better-behaved sibling for
    sparse contingency tables (additive across partitions of the table,
    which is also why it distributes cleanly). Counts are event-level
    (is the MIX of actions arm-independent?), complementing
    events_ab_test's user-level conversion z and
    events_holm_multiple_tests' per-type family.

    Exactness: observed counts and margins are exact BIGINTs from ONE
    (type, arm) agg; every ln is detmath (bit-identical across
    engines); each cell's O·(ln O − ln E) term is snapped to a 1e-6
    integer grid and summed as BIGINT (a 1e-9 grid would overflow int64
    at ~1e9-event cells — documented headroom choice), so G carries no
    float-sum order anywhere. df = (r−1)(c−1) from the observed table;
    the verdict compares snapped G against frozen 95% χ² criticals for
    df 1..8, clamped above (a >9-type × >2-arm table needs a wider
    frozen set, not a new algorithm). Scale: one hash agg over events,
    then metadata-size joins (types × arms rows). No counterpart in the
    reference."""
    ev = _td(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            _arm("A", "B").alias("arm"),
        )
        .groupBy("event_type", "arm")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .localCheckpoint()  # types×2 rows feed four plan branches —
        # without this each branch re-scans the events corpus
    )
    rt, ct, tt = _contingency(cells)
    j = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "arm")
        .crossJoin(F.broadcast(tt))
        .select(
            F.col("o").cast("double").alias("od"),
            (
                F.col("r_tot").cast("double")
                * F.col("c_tot").cast("double")
                / F.col("n_tot").cast("double")
            ).alias("e"),
            "n_tot",
            "r",
            "c",
        )
        .withColumn("lno", detmath.det_ln_pos("od", assume_ge_1=True))
        .withColumn("lne", detmath.det_ln_pos("e"))
    )
    s = j.select(
        "n_tot",
        "r",
        "c",
        F.floor(
            F.col("od") * (F.col("lno") - F.col("lne")) * 1e6 + F.lit(0.5)
        )
        .cast("long")
        .alias("t6"),
    ).agg(
        F.max("n_tot").cast("long").alias("n"),
        F.max("r").cast("long").alias("r"),
        F.max("c").cast("long").alias("c"),
        F.sum("t6").cast("long").alias("s6"),
    )
    gq6 = (
        F.floor(
            F.lit(2.0) * (F.col("s6").cast("double") / F.lit(1e6)) * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    df_col = (F.col("r") - 1) * (F.col("c") - 1)
    crit = (
        F.when(df_col == 1, F.lit(3.841459))
        .when(df_col == 2, F.lit(5.991465))
        .when(df_col == 3, F.lit(7.814728))
        .when(df_col == 4, F.lit(9.487729))
        .when(df_col == 5, F.lit(11.070498))
        .when(df_col == 6, F.lit(12.591587))
        .when(df_col == 7, F.lit(14.067140))
        .otherwise(F.lit(15.507313))
    )
    return s.filter((F.col("r") >= 2) & (F.col("c") >= 2)).select(
        "n",
        df_col.alias("df"),
        gq6.alias("g_q6"),
        (gq6 > crit).alias("significant"),
    )


@_register(
    "events_jackknife_ratio_ci",
    r"""
    WITH bk AS (
      SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                      1, 7)) AS BIGINT) % 20 AS bucket,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS v_b,
             CAST(count(*) AS BIGINT) AS n_b
      FROM events WHERE value > 0 GROUP BY bucket),
    tot AS (
      SELECT CAST(SUM(v_b) AS BIGINT) AS v, CAST(SUM(n_b) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS b
      FROM bk),
    jk AS (
      SELECT CAST(FLOOR((CAST(t.v - bk.v_b AS DOUBLE)
                         / CAST(t.nn - bk.n_b AS DOUBLE)) * 1e9 + 0.5)
                  AS BIGINT) AS t9,
             t.v, t.nn, t.b
      FROM bk CROSS JOIN tot t WHERE t.nn - bk.n_b > 0),
    ag AS (
      SELECT CAST(SUM(t9) AS BIGINT) AS s, MAX(v) AS v, MAX(nn) AS nn,
             MAX(b) AS b
      FROM jk),
    sq AS (
      SELECT MAX(ag.v) AS v, MAX(ag.nn) AS nn, MAX(ag.b) AS b,
             SUM((CAST(jk.t9 AS HUGEINT) * ag.b - ag.s)
                 * (CAST(jk.t9 AS HUGEINT) * ag.b - ag.s)) AS ss
      FROM jk CROSS JOIN ag),
    f AS (
      SELECT b AS n_buckets,
             CAST(v AS DOUBLE) / CAST(nn AS DOUBLE) AS theta,
             sqrt(((CAST(b AS DOUBLE) - 1.0) / CAST(b AS DOUBLE))
                  * ((CAST(ss AS DOUBLE)
                      / (CAST(b AS DOUBLE) * CAST(b AS DOUBLE))) / 1e18))
               AS se
      FROM sq WHERE b >= 2)
    SELECT n_buckets,
           FLOOR(theta * 1e6 + 0.5) / 1e6 AS theta_q6,
           FLOOR(se * 1e6 + 0.5) / 1e6 AS se_q6,
           FLOOR((theta - 1.959964 * se) * 1e6 + 0.5) / 1e6 AS lo_q6,
           FLOOR((theta + 1.959964 * se) * 1e6 + 0.5) / 1e6 AS hi_q6
    FROM f
    """,
)
def events_jackknife_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife CI for a ratio metric (revenue per
    event) — THE standard error machinery for ratio metrics, whose
    naive per-unit variance is simply wrong (the denominator is random
    too; Kish's classic result). Units are grouped into 20 portable
    md5 user buckets so the leave-one-out set is metadata-sized at any
    corpus scale; n_buckets counts NONEMPTY buckets.

    Exactness: bucket revenue/count sums are exact BIGINTs from one
    hash agg (the only corpus pass, localCheckpointed); each
    leave-one-out ratio θ_(i) is one double division snapped to a 1e-9
    integer grid; the jackknife sum of squares is computed over
    B·t9_i − Σt9 with decimal/HUGEINT operands (exact while
    θ·1e9·B < 9.2e18, i.e. mean revenue per event below ~$4.6M —
    documented headroom); se/CI are one fixed-order double finish
    snapped to q6 with the frozen 1.959964 normal critical. Scale: one
    events pass, then ≤20-row frames. No counterpart in the
    reference."""
    ev = _td(spark, sf_dir, "events").filter(F.col("value") > 0)
    bk = (
        ev.select(
            _user_bucket(20).alias("bucket"),
            cents(F.col("value")).alias("c"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("c").cast("long").alias("v_b"),
            F.count(F.lit(1)).cast("long").alias("n_b"),
        )
        .localCheckpoint()  # one corpus pass feeds three <=20-row frames
    )
    tot = bk.agg(
        F.sum("v_b").cast("long").alias("v"),
        F.sum("n_b").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("b"),
    )
    jk = (
        bk.crossJoin(F.broadcast(tot))
        .filter((F.col("nn") - F.col("n_b")) > 0)
        .select(
            F.floor(
                (
                    (F.col("v") - F.col("v_b")).cast("double")
                    / (F.col("nn") - F.col("n_b")).cast("double")
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("t9"),
        )
    )
    ag = jk.crossJoin(F.broadcast(tot)).agg(
        F.sum("t9").cast("long").alias("s"),
        F.max("v").alias("v"),
        F.max("nn").alias("nn"),
        F.max("b").alias("b"),
    )
    dev = F.col("t9").cast("decimal(19,0)") * F.col("b").cast(
        "decimal(19,0)"
    ) - F.col("s").cast("decimal(19,0)")
    sq = jk.crossJoin(F.broadcast(ag)).agg(
        F.max("v").alias("v"),
        F.max("nn").alias("nn"),
        F.max("b").alias("b"),
        F.sum(dev * dev).alias("ss"),
    )
    bd = F.col("b").cast("double")
    theta = F.col("v").cast("double") / F.col("nn").cast("double")
    se = F.sqrt(
        ((bd - F.lit(1.0)) / bd)
        * ((F.col("ss").cast("double") / (bd * bd)) / F.lit(1e18))
    )

    return sq.filter(F.col("b") >= 2).select(
        F.col("b").alias("n_buckets"),
        q6(theta).alias("theta_q6"),
        q6(se).alias("se_q6"),
        q6(theta - F.lit(1.959964) * se).alias("lo_q6"),
        q6(theta + F.lit(1.959964) * se).alias("hi_q6"),
    )


@_register(
    "ticks_realized_semivariance",
    r"""
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol, ts, event_id, value
      FROM events),
    r AS (
      SELECT symbol,
             CAST(FLOOR((value - lag(value, 1) OVER w) * 100 + 0.5) AS BIGINT)
               AS r0
      FROM t WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
    s AS (
      SELECT symbol,
             count(r0) AS n_returns,
             CAST(sum(CASE WHEN r0 < 0
                           THEN CAST(r0 AS HUGEINT) * r0 ELSE 0 END)
                  AS DOUBLE) AS sneg,
             CAST(sum(CASE WHEN r0 > 0
                           THEN CAST(r0 AS HUGEINT) * r0 ELSE 0 END)
                  AS DOUBLE) AS spos
      FROM r GROUP BY symbol),
    m AS (
      SELECT symbol, n_returns,
             sneg / 1e4 AS rs_neg, spos / 1e4 AS rs_pos,
             (spos + sneg) / 1e4 AS rv
      FROM s)
    SELECT symbol, CAST(n_returns AS BIGINT) AS n_returns,
           FLOOR(rs_neg * 1e6 + 0.5) / 1e6 AS rs_neg_q6,
           FLOOR(rs_pos * 1e6 + 0.5) / 1e6 AS rs_pos_q6,
           FLOOR((rs_pos - rs_neg) * 1e6 + 0.5) / 1e6 AS sj_q6,
           CASE WHEN rv > 0
                THEN FLOOR((rs_pos - rs_neg) / rv * 1e6 + 0.5) / 1e6 END
             AS sj_rel_q6
    FROM m
    """,
)
def ticks_realized_semivariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized semivariances (Barndorff-Nielsen, Kinnebrock & Shephard
    2010): RS⁻ = Σ r²·1[r<0] and RS⁺ = Σ r²·1[r>0] split realized
    variance into downside and upside components, and the signed-jump
    statistic SJ = RS⁺ − RS⁻ (with its RV-relative form) isolates the
    jump asymmetry that forecasts future volatility better than RV
    itself (Patton & Sheppard 2015) — the fourth leg of the vol family
    next to ticks_rv_signature / ticks_bipower_variation /
    ticks_realized_kernel. Same exactness discipline as bipower:
    cent-grid returns, conditional exact integer sums of r² with
    decimal/HUGEINT-cast operands, one window sort + one hash agg; the
    only float ops are the final 1e-4 scale, the SJ subtraction and the
    ratio, on identical doubles in fixed order. No counterpart in the
    reference (its stats are mean/std only, data_summary.py)."""
    r = _cent_returns(_td(spark, sf_dir, "ticks"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = r.groupBy("symbol").agg(
        F.count("r0").alias("n_returns"),
        F.sum(
            F.when(F.col("r0") < 0, dec(F.col("r0")) * dec(F.col("r0")))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("double")
        .alias("sneg"),
        F.sum(
            F.when(F.col("r0") > 0, dec(F.col("r0")) * dec(F.col("r0")))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("double")
        .alias("spos"),
    )
    m = s.select(
        "symbol",
        "n_returns",
        (F.col("sneg") / 1e4).alias("rs_neg"),
        (F.col("spos") / 1e4).alias("rs_pos"),
        ((F.col("spos") + F.col("sneg")) / 1e4).alias("rv"),
    )

    return m.select(
        "symbol",
        F.col("n_returns").cast("long").alias("n_returns"),
        q6(F.col("rs_neg")).alias("rs_neg_q6"),
        q6(F.col("rs_pos")).alias("rs_pos_q6"),
        q6(F.col("rs_pos") - F.col("rs_neg")).alias("sj_q6"),
        F.when(
            F.col("rv") > 0,
            q6((F.col("rs_pos") - F.col("rs_neg")) / F.col("rv")),
        ).alias("sj_rel_q6"),
    )


@_register(
    "events_wasserstein_arms",
    r"""
    WITH su AS (
      SELECT user_id, SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS spend
      FROM events WHERE value > 0 GROUP BY user_id),
    u AS (
      SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             spend
      FROM su),
    g AS (
      SELECT spend, CAST(count(*) AS BIGINT) AS t,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS t_a
      FROM u GROUP BY spend),
    c AS (
      SELECT spend, SUM(t) OVER w AS cum_t, SUM(t_a) OVER w AS cum_t_a,
             row_number() OVER w AS i
      FROM g WINDOW w AS (ORDER BY spend)),
    tot AS (SELECT MAX(cum_t) AS n, MAX(cum_t_a) AS n_a FROM c),
    p AS (
      SELECT a.cum_t, a.cum_t_a, b.spend - a.spend AS gap
      FROM c a JOIN c b ON b.i = a.i + 1),
    s AS (
      SELECT SUM(abs(CAST(p.cum_t_a AS HUGEINT) * (t.n - t.n_a)
                     - CAST(p.cum_t - p.cum_t_a AS HUGEINT) * t.n_a)
                 * gap) AS tv,
             MAX(t.n) AS n, MAX(t.n_a) AS n_a
      FROM p CROSS JOIN tot t)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n - n_a AS BIGINT) AS n_b,
           FLOOR(CAST(tv AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS w1_cents_q6
    FROM s WHERE n_a > 0 AND n - n_a > 0
    """,
)
def events_wasserstein_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Wasserstein-1 (earth-mover) distance between the two md5
    arms' per-user spend distributions — the modern distribution-shift
    readout (a mean diff can be zero while the whole shape moved; W1
    integrates |F_A − F_B| over the value axis and sees it). The
    distributional sibling of events_mann_whitney's rank test and
    events_quantile_treatment_effect's pointwise quantile contrasts.

    Exactness end to end: |F_A(v) − F_B(v)| · gap is computed as
    |cum_a·n_b − cum_b·n_a| · gap over INTEGER cumulative counts and
    cent gaps (operands decimal/HUGEINT-cast before every multiply),
    summed exactly; ONE double division by n_a·n_b at the end, snapped
    to q6 — no float CDF anywhere. Scale: one user agg, one
    value-histogram agg, chained global_cumsum sweeps (range-partitioned
    prefix sums) for the two CDFs and the value index, then an
    adjacent-index equi-join (shuffle on one int) — the
    doc_classifier_auc / QTE histogram-sweep family, never a
    single-partition window over the corpus. No counterpart in the
    reference."""
    g = _spend_hist(_user_spend(_td(spark, sf_dir, "events"))).withColumn(
        "one", F.lit(1).cast("long")
    )
    c = stats.global_cumsum(
        stats.global_cumsum(
            stats.global_cumsum(g, ["spend"], "t"), ["spend"], "t_a"
        ),
        ["spend"],
        "one",
    )
    tot = c.agg(
        F.max("cum_t").cast("long").alias("n"),
        F.max("cum_t_a").cast("long").alias("n_a"),
    )
    a = c.select(
        "spend", "cum_t", "cum_t_a", F.col("cum_one").alias("i")
    )
    b = c.select(
        F.col("spend").alias("spend_next"), F.col("cum_one").alias("i_next")
    )
    p = a.join(b, (F.col("i") + F.lit(1)) == F.col("i_next")).select(
        "cum_t", "cum_t_a", (F.col("spend_next") - F.col("spend")).alias("gap")
    )
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    s = p.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.abs(
                d19(F.col("cum_t_a")) * d19(F.col("n") - F.col("n_a"))
                - d19(F.col("cum_t") - F.col("cum_t_a")) * d19(F.col("n_a"))
            )
            * d19(F.col("gap"))
        ).alias("tv"),
        F.max("n").alias("n"),
        F.max("n_a").alias("n_a"),
    )
    return s.filter(
        (F.col("n_a") > 0) & ((F.col("n") - F.col("n_a")) > 0)
    ).select(
        F.col("n_a").cast("long").alias("n_a"),
        (F.col("n") - F.col("n_a")).cast("long").alias("n_b"),
        (
            F.floor(
                F.col("tv").cast("double")
                / (
                    F.col("n_a").cast("double")
                    * (F.col("n") - F.col("n_a")).cast("double")
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("w1_cents_q6"),
    )


@_register(
    "events_ks_test",
    r"""
    WITH su AS (
      SELECT user_id, SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS spend
      FROM events WHERE value > 0 GROUP BY user_id),
    u AS (
      SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             spend
      FROM su),
    g AS (
      SELECT spend, CAST(count(*) AS BIGINT) AS t,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS t_a
      FROM u GROUP BY spend),
    c AS (
      SELECT spend, SUM(t) OVER w AS cum_t, SUM(t_a) OVER w AS cum_t_a
      FROM g WINDOW w AS (ORDER BY spend)),
    tot AS (SELECT MAX(cum_t) AS n, MAX(cum_t_a) AS n_a FROM c),
    s AS (
      SELECT MAX(abs(CAST(c.cum_t_a AS HUGEINT) * (t.n - t.n_a)
                     - CAST(c.cum_t - c.cum_t_a AS HUGEINT) * t.n_a))
               AS d_num,
             MAX(t.n) AS n, MAX(t.n_a) AS n_a
      FROM c CROSS JOIN tot t)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n - n_a AS BIGINT) AS n_b,
           FLOOR(CAST(d_num AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS d_q6,
           FLOOR(CAST(d_num AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE))
                 * 1e6 + 0.5) / 1e6
             > FLOOR(1.3580986393225505
                     * sqrt((CAST(n_a AS DOUBLE) + CAST(n - n_a AS DOUBLE))
                            / (CAST(n_a AS DOUBLE)
                               * CAST(n - n_a AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 AS significant
    FROM s WHERE n_a > 0 AND n - n_a > 0
    """,
)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the md5 arms' per-user
    spend distributions — D = sup|F_A − F_B|, the classic any-difference
    detector that completes the distributional family:
    events_mann_whitney sees location, events_wasserstein_arms
    integrates the gap, KS takes its sup (most sensitive near the
    median, the known trade-off). Asymptotic 95% verdict via the frozen
    c(0.05) = sqrt(−ln(0.025)/2) literal.

    Exactness: D's numerator is an exact integer max of
    |cum_a·n_b − cum_b·n_a| over the value-histogram CDF sweep
    (decimal/HUGEINT-cast products — no float CDF), so sup|F_A − F_B|
    is a single exact integer divided once; both D and the critical
    value snap to q6 before comparison. Scale: the same
    global_cumsum histogram-sweep shape as events_wasserstein_arms —
    one user agg, one value agg, range-partitioned prefix sums, one
    roll-up. No counterpart in the reference."""
    g = _spend_hist(_user_spend(_td(spark, sf_dir, "events")))
    c = stats.global_cumsum(
        stats.global_cumsum(g, ["spend"], "t"), ["spend"], "t_a"
    )
    tot = c.agg(
        F.max("cum_t").cast("long").alias("n"),
        F.max("cum_t_a").cast("long").alias("n_a"),
    )
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    s = c.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(
                d19(F.col("cum_t_a")) * d19(F.col("n") - F.col("n_a"))
                - d19(F.col("cum_t") - F.col("cum_t_a")) * d19(F.col("n_a"))
            )
        ).alias("d_num"),
        F.max("n").alias("n"),
        F.max("n_a").alias("n_a"),
    )
    nad = F.col("n_a").cast("double")
    nbd = (F.col("n") - F.col("n_a")).cast("double")

    dq6 = q6(F.col("d_num").cast("double") / (nad * nbd))
    crit_q6 = q6(F.lit(1.3580986393225505) * F.sqrt((nad + nbd) / (nad * nbd)))
    return s.filter((F.col("n_a") > 0) & ((F.col("n") - F.col("n_a")) > 0)).select(
        F.col("n_a").cast("long").alias("n_a"),
        (F.col("n") - F.col("n_a")).cast("long").alias("n_b"),
        dq6.alias("d_q6"),
        (dq6 > crit_q6).alias("significant"),
    )


@_register(
    "events_winsorized_ab",
    r"""
    WITH su AS (
      SELECT user_id, SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS spend
      FROM events WHERE value > 0 GROUP BY user_id),
    u AS (
      SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             spend
      FROM su),
    g AS (
      SELECT spend, CAST(count(*) AS BIGINT) AS t,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS t_a
      FROM u GROUP BY spend),
    c AS (
      SELECT spend, t, t_a, SUM(t) OVER (ORDER BY spend) AS cum_t FROM g),
    tot AS (
      SELECT MAX(cum_t) AS n,
             (95 * MAX(cum_t) + 99) // 100 AS k
      FROM c),
    v95 AS (
      SELECT MIN(c.spend) AS v95 FROM c CROSS JOIN tot t
      WHERE c.cum_t >= t.k),
    s AS (
      SELECT CAST(SUM(c.t_a) AS BIGINT) AS n_a,
             CAST(SUM(c.t - c.t_a) AS BIGINT) AS n_b,
             MAX(v.v95) AS v95,
             SUM(CAST(c.t_a AS HUGEINT) * LEAST(c.spend, v.v95)) AS ws_a,
             SUM(CAST(c.t - c.t_a AS HUGEINT) * LEAST(c.spend, v.v95)) AS ws_b
      FROM c CROSS JOIN v95 v)
    SELECT n_a, n_b, CAST(v95 AS BIGINT) AS v95_cents,
           FLOOR(CAST(ws_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS wmean_a_q6,
           FLOOR(CAST(ws_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS wmean_b_q6,
           FLOOR((CAST(ws_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(ws_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e6 + 0.5)
             / 1e6 AS wdiff_q6
    FROM s WHERE n_a > 0 AND n_b > 0
    """,
)
def events_winsorized_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized-mean A/B readout: clamp every user's spend at the
    POOLED exact 95th-percentile order statistic before comparing arm
    means — the robustness standard for heavy-tailed revenue metrics
    (one whale in one arm moves a raw mean by itself; the clamp bounds
    any single user's influence). Pooled clamp, not per-arm, so the
    estimand is symmetric under the null.

    Exactness: the p95 cut is the exact order statistic v95 =
    min{v : cum(v) ≥ ceil(95n/100)} with the ceiling computed in
    integers ((95n+99) div 100); winsorized sums are exact
    decimal/HUGEINT Σ t_arm(v)·min(v, v95) over the value histogram;
    means and the diff are one fixed-order double finish snapped to q6.
    Scale: the same histogram-sweep shape as events_wasserstein_arms /
    events_ks_test — one user agg, one value agg, a global_cumsum
    sweep, one broadcast roll-up. No counterpart in the reference."""
    g = _spend_hist(_user_spend(_td(spark, sf_dir, "events")))
    c = stats.global_cumsum(g, ["spend"], "t")
    tot = c.agg(
        F.max("cum_t").cast("long").alias("n"),
        F.expr("(95 * max(cum_t) + 99) div 100").alias("k"),
    )
    v95 = (
        c.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_t") >= F.col("k"))
        .agg(F.min("spend").alias("v95"))
    )
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    clamp = F.least(F.col("spend"), F.col("v95"))
    s = c.crossJoin(F.broadcast(v95)).agg(
        F.sum("t_a").cast("long").alias("n_a"),
        F.sum(F.col("t") - F.col("t_a")).cast("long").alias("n_b"),
        F.max("v95").alias("v95"),
        F.sum(d19(F.col("t_a")) * d19(clamp)).alias("ws_a"),
        F.sum(d19(F.col("t") - F.col("t_a")) * d19(clamp)).alias("ws_b"),
    )
    wa = F.col("ws_a").cast("double") / F.col("n_a").cast("double")
    wb = F.col("ws_b").cast("double") / F.col("n_b").cast("double")

    return s.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "n_a",
        "n_b",
        F.col("v95").cast("long").alias("v95_cents"),
        q6(wa).alias("wmean_a_q6"),
        q6(wb).alias("wmean_b_q6"),
        q6(wa - wb).alias("wdiff_q6"),
    )


_MSPRT_TAU2 = 2500.0  # mixture prior tau = 50 cents, frozen cross-engine


def _msprt_oracle() -> str:
    ln_r = detmath.det_ln_pos_sql("r", "duckdb")
    t2 = _MSPRT_TAU2
    return rf"""
    WITH su AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS day,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS spend
      FROM events WHERE value > 0 GROUP BY user_id),
    u AS (
      SELECT day, spend,
             CAST(spend AS HUGEINT) * spend AS spend2,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'T' ELSE 'C' END AS arm
      FROM su),
    d AS (
      SELECT day,
             CAST(count(*) FILTER (arm = 'T') AS BIGINT) AS n_t,
             CAST(count(*) FILTER (arm = 'C') AS BIGINT) AS n_c,
             CAST(COALESCE(SUM(spend) FILTER (arm = 'T'), 0) AS BIGINT) AS sx_t,
             CAST(COALESCE(SUM(spend) FILTER (arm = 'C'), 0) AS BIGINT) AS sx_c,
             COALESCE(SUM(spend2) FILTER (arm = 'T'), 0) AS sxx_t,
             COALESCE(SUM(spend2) FILTER (arm = 'C'), 0) AS sxx_c
      FROM u GROUP BY day),
    c AS (
      SELECT day,
             CAST(SUM(n_t) OVER w AS BIGINT) AS c_n_t,
             CAST(SUM(n_c) OVER w AS BIGINT) AS c_n_c,
             CAST(SUM(sx_t) OVER w AS BIGINT) AS c_sx_t,
             CAST(SUM(sx_c) OVER w AS BIGINT) AS c_sx_c,
             SUM(sxx_t) OVER w AS c_sxx_t,
             SUM(sxx_c) OVER w AS c_sxx_c
      FROM d WINDOW w AS (ORDER BY day)),
    st AS (
      SELECT day, c_n_t, c_n_c,
             CAST(c_sx_t AS DOUBLE) / CAST(c_n_t AS DOUBLE)
               - CAST(c_sx_c AS DOUBLE) / CAST(c_n_c AS DOUBLE) AS delta,
             ((CAST(c_sxx_t AS DOUBLE)
               - CAST(c_sx_t AS DOUBLE) * CAST(c_sx_t AS DOUBLE)
                 / CAST(c_n_t AS DOUBLE))
              + (CAST(c_sxx_c AS DOUBLE)
                 - CAST(c_sx_c AS DOUBLE) * CAST(c_sx_c AS DOUBLE)
                   / CAST(c_n_c AS DOUBLE)))
             / (CAST(c_n_t AS DOUBLE) + CAST(c_n_c AS DOUBLE) - 2.0) AS sig2,
             2.0 * CAST(c_n_t AS DOUBLE) * CAST(c_n_c AS DOUBLE)
               / (CAST(c_n_t AS DOUBLE) + CAST(c_n_c AS DOUBLE)) AS n_eff
      FROM c WHERE c_n_t >= 1 AND c_n_c >= 1 AND c_n_t + c_n_c >= 3),
    rr AS (
      SELECT day, c_n_t, c_n_c, delta, sig2, n_eff,
             (2.0 * sig2) / (2.0 * sig2 + n_eff * {t2!r}) AS r
      FROM st WHERE sig2 > 0.0),
    lam AS (
      SELECT day, c_n_t, c_n_c,
             0.5 * ({ln_r})
             + (n_eff * n_eff * {t2!r} * (delta * delta))
               / (4.0 * sig2 * (2.0 * sig2 + n_eff * {t2!r})) AS lnl
      FROM rr WHERE r > 1e-15)
    SELECT day, c_n_t AS n_t, c_n_c AS n_c,
           FLOOR(lnl * 1e6 + 0.5) / 1e6 AS log_lambda_q6,
           FLOOR(lnl * 1e6 + 0.5) / 1e6 >= 2.995732273553991 AS reject
    FROM lam
    """


@_register("events_msprt_sequential", _msprt_oracle)
def events_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B testing — the mixture SPRT of Johari,
    Koomen, Pekelis & Walsh (KDD 2017, "Peeking at A/B Tests"), the
    statistic behind every modern experimentation platform's
    'significant so far?' dashboard: peeking at a fixed-horizon z-test
    daily inflates false positives to ~30%; the mSPRT likelihood ratio
    Λ_n is a martingale under the null, so rejecting when Λ ≥ 1/α is
    valid at EVERY day simultaneously. Users enter on their first-event
    day with their total spend; each output row is the test state after
    that day's cohort. Emitted in LOG space (one detmath ln, no exp —
    Λ overflows double past ~day-one at real effect sizes); reject =
    lnΛ ≥ ln 20 (α = 0.05), frozen literal. Mixture prior τ = 50 cents,
    frozen (_MSPRT_TAU2).

    Exactness: per-day cohort counts / spend sums / spend-square sums
    are exact BIGINT/decimal; the day-cumulative prefix sums run over
    the #days-grain frame (metadata-scale — a plain ordered window here
    is the bandit-replay precedent, NOT the corpus-scale class
    global_cumsum exists for); δ, pooled σ², n_eff and lnΛ are fixed-
    order double formulas over those integers; the ln is detmath. No
    counterpart in the reference."""
    from pyspark.sql import Window

    t2 = _MSPRT_TAU2
    ev = _td(spark, sf_dir, "events").filter(F.col("value") > 0)
    su = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("day"),
        F.sum(cents(F.col("value")))
        .cast("long")
        .alias("spend"),
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    u = su.select(
        "day",
        "spend",
        (d19(F.col("spend")) * d19(F.col("spend"))).alias("spend2"),
        _arm("T", "C").alias("arm"),
    )
    d = u.groupBy("day").agg(
        *_arm_sums(("sx", F.col("spend"), "long"), ("sxx", F.col("spend2"), None))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        F.sum("n_t").over(w).cast("long").alias("c_n_t"),
        F.sum("n_c").over(w).cast("long").alias("c_n_c"),
        F.sum("sx_t").over(w).cast("long").alias("c_sx_t"),
        F.sum("sx_c").over(w).cast("long").alias("c_sx_c"),
        F.sum("sxx_t").over(w).alias("c_sxx_t"),
        F.sum("sxx_c").over(w).alias("c_sxx_c"),
    )
    ntd = F.col("c_n_t").cast("double")
    ncd = F.col("c_n_c").cast("double")
    sxtd = F.col("c_sx_t").cast("double")
    sxcd = F.col("c_sx_c").cast("double")
    st = c.filter(
        (F.col("c_n_t") >= 1)
        & (F.col("c_n_c") >= 1)
        & ((F.col("c_n_t") + F.col("c_n_c")) >= 3)
    ).select(
        "day",
        "c_n_t",
        "c_n_c",
        (sxtd / ntd - sxcd / ncd).alias("delta"),
        (
            (
                (F.col("c_sxx_t").cast("double") - sxtd * sxtd / ntd)
                + (F.col("c_sxx_c").cast("double") - sxcd * sxcd / ncd)
            )
            / (ntd + ncd - F.lit(2.0))
        ).alias("sig2"),
        (F.lit(2.0) * ntd * ncd / (ntd + ncd)).alias("n_eff"),
    )
    rr = st.filter(F.col("sig2") > 0.0).withColumn(
        "r",
        (F.lit(2.0) * F.col("sig2"))
        / (F.lit(2.0) * F.col("sig2") + F.col("n_eff") * F.lit(t2)),
    )
    lam = rr.filter(F.col("r") > 1e-15).select(
        "day",
        "c_n_t",
        "c_n_c",
        (
            F.lit(0.5) * detmath.det_ln_pos("r")
            + (
                F.col("n_eff")
                * F.col("n_eff")
                * F.lit(t2)
                * (F.col("delta") * F.col("delta"))
            )
            / (
                F.lit(4.0)
                * F.col("sig2")
                * (
                    F.lit(2.0) * F.col("sig2")
                    + F.col("n_eff") * F.lit(t2)
                )
            )
        ).alias("lnl"),
    )
    lq6 = F.floor(F.col("lnl") * 1e6 + F.lit(0.5)) / 1e6
    return lam.select(
        "day",
        F.col("c_n_t").alias("n_t"),
        F.col("c_n_c").alias("n_c"),
        lq6.alias("log_lambda_q6"),
        (lq6 >= F.lit(2.995732273553991)).alias("reject"),
    )


@_register(
    "events_did_event_study",
    r"""
    WITH cut AS (
      SELECT (CAST(epoch_us(min(ts)) AS BIGINT)
              + CAST(epoch_us(max(ts)) AS BIGINT)) // 2 AS cut_us
      FROM events),
    e AS (
      SELECT ((CAST(epoch_us(ts) AS BIGINT) - c.cut_us
               + 100000 * 86400000000) // 86400000000) - 100000 AS rel,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'T' ELSE 'C' END AS arm,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events CROSS JOIN cut c WHERE value > 0),
    g AS (
      SELECT rel,
             CAST(count(*) FILTER (arm = 'T') AS BIGINT) AS n_t,
             CAST(count(*) FILTER (arm = 'C') AS BIGINT) AS n_c,
             CAST(COALESCE(SUM(cents) FILTER (arm = 'T'), 0) AS BIGINT) AS s_t,
             CAST(COALESCE(SUM(cents) FILTER (arm = 'C'), 0) AS BIGINT) AS s_c
      FROM e GROUP BY rel),
    pre AS (
      SELECT CAST(SUM(n_t) AS BIGINT) AS pn_t, CAST(SUM(n_c) AS BIGINT) AS pn_c,
             CAST(SUM(s_t) AS BIGINT) AS ps_t, CAST(SUM(s_c) AS BIGINT) AS ps_c
      FROM g WHERE rel < 0)
    SELECT g.rel, g.n_t, g.n_c,
           FLOOR(((CAST(g.s_t AS DOUBLE) / CAST(g.n_t AS DOUBLE)
                   - CAST(g.s_c AS DOUBLE) / CAST(g.n_c AS DOUBLE))
                  - (CAST(p.ps_t AS DOUBLE) / CAST(p.pn_t AS DOUBLE)
                     - CAST(p.ps_c AS DOUBLE) / CAST(p.pn_c AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS att_q6,
           g.rel < 0 AS is_pre
    FROM g CROSS JOIN pre p
    WHERE g.n_t > 0 AND g.n_c > 0 AND p.pn_t > 0 AND p.pn_c > 0
    """,
)
def events_did_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic difference-in-differences / event-study coefficients —
    the per-relative-period ATT(k) curve that modern causal work
    demands INSTEAD of a single static DiD number (Sun & Abraham 2021):
    the k < 0 rows are the parallel-trends diagnostic (they should
    hover near 0 if the design is sound), the k ≥ 0 rows trace the
    effect's dynamics. Complements the static events_diff_in_diff with
    the same data-derived integer midpoint cut and md5 arms.

    Exactness: the relative-day index uses a shifted division
    ((us − cut + K·day) div day − K with the dividend forced
    non-negative). Integer division of a NEGATIVE dividend is exactly
    where engine semantics can differ (floor vs truncate-toward-zero),
    and the pre-period rows this query exists to examine live on that
    side; the shift removes any dependence on negative-division
    semantics in either engine — on non-negative dividends floor and
    truncation coincide, so Spark's `div` and DuckDB's `//` agree by
    construction. Cents sums are exact BIGINTs
    per (rel, arm); each ATT(k) is one fixed-order double formula
    against the broadcast pre-period baseline, snapped to q6. Scale:
    one events pass to the (rel, arm) grain, then #days-sized frames.
    No counterpart in the reference."""
    ev = _td(spark, sf_dir, "events").filter(F.col("value") > 0)
    cut = _mid_cut(ev)
    e = ev.crossJoin(F.broadcast(cut)).select(
        F.expr(
            "((unix_micros(ts) - cut_us + 100000 * 86400000000)"
            " div 86400000000) - 100000"
        ).alias("rel"),
        _arm("T", "C").alias("arm"),
        cents(F.col("value")).alias("cents"),
    )
    g = (
        e.groupBy("rel")
        .agg(*_arm_sums(("s", F.col("cents"), "long")))
        .localCheckpoint()  # #days rows feed the baseline AND the curve
    )
    pre = g.filter(F.col("rel") < 0).agg(
        F.sum("n_t").cast("long").alias("pn_t"),
        F.sum("n_c").cast("long").alias("pn_c"),
        F.sum("s_t").cast("long").alias("ps_t"),
        F.sum("s_c").cast("long").alias("ps_c"),
    )
    att = (
        F.col("s_t").cast("double") / F.col("n_t").cast("double")
        - F.col("s_c").cast("double") / F.col("n_c").cast("double")
    ) - (
        F.col("ps_t").cast("double") / F.col("pn_t").cast("double")
        - F.col("ps_c").cast("double") / F.col("pn_c").cast("double")
    )
    return (
        g.crossJoin(F.broadcast(pre))
        .filter(
            (F.col("n_t") > 0)
            & (F.col("n_c") > 0)
            & (F.col("pn_t") > 0)
            & (F.col("pn_c") > 0)
        )
        .select(
            "rel",
            "n_t",
            "n_c",
            (F.floor(att * 1e6 + F.lit(0.5)) / 1e6).alias("att_q6"),
            (F.col("rel") < 0).alias("is_pre"),
        )
    )


def _bh_fdr_oracle() -> str:
    # z-stage: _type_ztests_sql, shared with _holm_oracle (first-touch
    # two-proportion z per event type on the md5 arms; the Spark side
    # is _type_ztests). After zq the procedures diverge: Holm is
    # step-DOWN on frozen critical values; BH is step-UP on p-values, so
    # this oracle also re-derives the two-sided normal p via the shared
    # A&S 7.1.26 erfc chain (frozen constants, detmath exp —
    # bit-identical engines).
    exp_neg = detmath.det_exp_sql("negx2", "duckdb")
    return _type_ztests_sql() + rf"""
    st AS (
      SELECT *,
             abs(z_q6) * 0.7071067811865476e0 AS xx,
             1.0 / (1.0 + 0.3275911e0 * (abs(z_q6) * 0.7071067811865476e0))
               AS t,
             -(abs(z_q6) * 0.7071067811865476e0)
               * (abs(z_q6) * 0.7071067811865476e0) AS negx2
      FROM zq),
    p AS (
      SELECT event_type, x_a, x_b, z_q6,
             FLOOR(((((1.061405429e0 * t - 1.453152027e0) * t
                      + 1.421413741e0) * t - 0.284496736e0) * t
                    + 0.254829592e0) * t * ({exp_neg}) * 1e9 + 0.5) / 1e9
               AS p_q9
      FROM st),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY p_q9 ASC, event_type)
                     AS BIGINT) AS rank,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM p),
    tested AS (
      SELECT *,
             CASE WHEN p_q9 <= 0.05e0 * CAST(rank AS DOUBLE)
                                      / CAST(m AS DOUBLE)
                  THEN rank END AS pass_rank
      FROM ranked),
    kstar AS (SELECT max(pass_rank) AS k_star FROM tested)
    SELECT t.event_type, t.x_a, t.x_b, t.z_q6, t.p_q9, t.rank,
           FLOOR(LEAST(min(CAST(t.m AS DOUBLE) * t.p_q9
                           / CAST(t.rank AS DOUBLE))
                         OVER (ORDER BY t.rank DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW), 1.0) * 1e6 + 0.5) / 1e6
             AS p_adj_q6,
           COALESCE(t.rank <= k.k_star, FALSE) AS significant_bh
    FROM tested t CROSS JOIN kstar k
    """


@_register("events_bh_fdr", _bh_fdr_oracle)
def events_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-UP FDR control over the same A/B metric
    family events_holm_multiple_tests step-downs — the modern default
    for wide metric families (Holm controls FWER and starves power as
    m grows; BH controls the false-discovery RATE, the quantity a
    metrics platform actually budgets). Per event type: first-touch
    two-proportion z on the md5 arms (the Holm z stage,
    :func:`_type_ztests` and its oracle twin ``_type_ztests_sql``),
    two-sided p via the Abramowitz-Stegun 7.1.26 erfc chain (frozen
    rational constants, detmath exp — no libm), then the 1995 step-up
    rule: rank p ascending, k* = the LARGEST rank with p ≤ α·rank/m,
    everything at rank ≤ k* is significant (unlike Holm, rejections
    can resume after a failure). Also emits the standard monotone
    adjusted p (running min of m·p/rank from the bottom, clamped at
    1).

    Determinism: counts are exact BIGINTs; z is one fixed-order double
    snapped q6; p is one fixed-order double chain over z_q6 (the exp
    via detmath's bit-identical exp2 reduction) snapped q9 BEFORE
    ranking; ranks tiebreak on event_type; the k* decision compares
    grid doubles against 0.05·rank/m evaluated in the same order both
    sides. Scale: two user-grain hash aggs, then #metrics-row frames
    (the Holm discipline); the reverse running min is over m rows.
    No counterpart in the reference."""
    from pyspark.sql import Window

    zq = _type_ztests(_td(spark, sf_dir, "events"))
    # A&S 7.1.26 erfc staged exactly as in the oracle: x = |z|/sqrt(2)
    # as one product with the frozen reciprocal literal, t the rational
    # node, exp(-x^2) via detmath on a staged column
    xx = F.abs(F.col("z_q6")) * F.lit(0.7071067811865476)
    st = zq.withColumn("__t", F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * xx)).withColumn(
        "__negx2", -(xx * xx)
    )
    t = F.col("__t")
    poly = (
        (
            (
                (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                + F.lit(1.421413741)
            )
            * t
            - F.lit(0.284496736)
        )
        * t
        + F.lit(0.254829592)
    ) * t
    p = st.select(
        "event_type",
        "x_a",
        "x_b",
        "z_q6",
        (
            F.floor(poly * detmath.det_exp("__negx2") * 1e9 + F.lit(0.5)) / 1e9
        ).alias("p_q9"),
    )
    wr = Window.orderBy(F.col("p_q9").asc(), F.col("event_type"))
    ranked = p.select(
        "*",
        F.row_number().over(wr).cast("long").alias("rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("m"),
    )
    tested = ranked.withColumn(
        "pass_rank",
        F.when(
            F.col("p_q9")
            <= F.lit(0.05) * F.col("rank").cast("double") / F.col("m").cast("double"),
            F.col("rank"),
        ),
    ).localCheckpoint()  # feeds both the k* scalar and the output rows
    kstar = tested.agg(F.max("pass_rank").alias("k_star"))
    wrev = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    adj = F.least(
        F.min(
            F.col("m").cast("double") * F.col("p_q9") / F.col("rank").cast("double")
        ).over(wrev),
        F.lit(1.0),
    )
    return tested.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        "x_a",
        "x_b",
        "z_q6",
        "p_q9",
        "rank",
        (F.floor(adj * 1e6 + F.lit(0.5)) / 1e6).alias("p_adj_q6"),
        F.coalesce(F.col("rank") <= F.col("k_star"), F.lit(False)).alias(
            "significant_bh"
        ),
    )


@_register(
    "events_kruskal_wallis",
    r"""
    WITH obs AS (
      SELECT event_type AS grp,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE value > 0),
    gv AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM obs GROUP BY v),
    c AS (SELECT *, SUM(t) OVER (ORDER BY v) AS cum_t FROM gv),
    gg AS (SELECT v, grp, CAST(count(*) AS BIGINT) AS tg
           FROM obs GROUP BY v, grp),
    r2 AS (
      SELECT gg.grp,
             CAST(SUM(tg) AS BIGINT) AS n_g,
             SUM(CAST(tg AS HUGEINT)
                 * (2 * (c.cum_t - c.t) + c.t + 1)) AS two_r_g
      FROM gg JOIN c USING (v) GROUP BY gg.grp),
    tot AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
                 - t) AS ties
      FROM gv),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(SUM(
               (2 * (CAST(two_r_g AS HUGEINT) * CAST(two_r_g AS HUGEINT)
                     * 1000000) + 4 * CAST(n_g AS HUGEINT))
               // (8 * CAST(n_g AS HUGEINT)))
               AS HUGEINT) AS s6
      FROM r2),
    h AS (
      SELECT tot.n, s.k, (s.k - 1) AS df,
             12.0 / (CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) + 1.0))
               * (CAST(s6 AS DOUBLE) / 1e6)
               - 3.0 * (CAST(tot.n AS DOUBLE) + 1.0) AS h_raw,
             1.0 - CAST(tot.ties AS DOUBLE)
                   / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)
                      * CAST(tot.n AS DOUBLE) - CAST(tot.n AS DOUBLE)) AS corr
      FROM tot CROSS JOIN s
      WHERE tot.n >= 2 AND s.k >= 2),
    f AS (
      SELECT n, k, df,
             FLOOR(h_raw * 1e6 + 0.5) / 1e6 AS h_q6,
             FLOOR(h_raw / corr * 1e6 + 0.5) / 1e6 AS h_adj_q6
      FROM h WHERE corr > 0.0)
    SELECT n, k, df, h_q6, h_adj_q6,
           h_adj_q6 > (CASE WHEN df = 1 THEN 3.841459
                            WHEN df = 2 THEN 5.991465
                            WHEN df = 3 THEN 7.814728
                            WHEN df = 4 THEN 9.487729
                            WHEN df = 5 THEN 11.070498
                            WHEN df = 6 THEN 12.591587
                            WHEN df = 7 THEN 14.067140
                            ELSE 15.507313 END) AS significant
    FROM f
    """,
)
def events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H — the k-sample generalization of
    events_mann_whitney: does event VALUE follow the same distribution
    across all event types, by ranks (heavy-tail-proof, the question a
    platform asks before trusting any per-type mean)? Midranks over the
    shared value histogram with the standard tie correction
    C = 1 − Σ(t³−t)/(N³−N); H = 12/(N(N+1))·ΣR_g²/n_g − 3(N+1), H/C
    against the χ²(k−1) frozen critical literals (the g_test table,
    df clamped at 8 — documented, anti-conservative only for absurdly
    wide type families).

    Exactness: cents values are exact BIGINTs; doubled rank sums per
    group accumulate decimal-cast integer products over the value
    histogram (2R_g += t_g·(2·cum_below + t + 1) — the Mann-Whitney
    recipe per group); ΣR_g²/n_g snaps each group's double term to the
    1e-6 grid and sums exactly (the calinski_harabasz convention —
    identical doubles floor identically, so the k-row sum is
    order-free); the H tail is one fixed-order double chain snapped
    q6. Scale: one event pass to the value histogram, one to the
    (value, type) histogram, a global_cumsum sweep over DISTINCT cents
    values (range-partitioned prefix sums, never a single-partition
    window), then k-row frames. No counterpart in the reference."""
    ev = _td(spark, sf_dir, "events").filter(F.col("value") > 0)
    obs = ev.select(
        F.col("event_type").alias("grp"),
        cents(F.col("value")).alias("v"),
    )
    gv = obs.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("t"))
    c = stats.global_cumsum(gv, ["v"], "t").localCheckpoint()
    gg = obs.groupBy("v", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("tg")
    )
    r2 = (
        gg.join(c, "v")
        .groupBy("grp")
        .agg(
            F.sum("tg").cast("long").alias("n_g"),
            F.sum(
                F.col("tg").cast("decimal(19,0)")
                * (2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1).cast(
                    "decimal(19,0)"
                )
            ).alias("two_r_g"),
        )
    )
    td = F.col("t").cast("decimal(19,0)")
    tot = c.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(td * td * td - td).alias("ties"),
    )
    # round-half-up of the EXACT rational R_g^2*1e6/n_g =
    # two_r_g^2*1e6/(4*n_g) in decimal arithmetic — the double-based
    # F.floor snap returns a BIGINT, which silently wraps past 9.2e18
    # (R_g^2/n_g*1e6 ~ 5e25 at 10M rows; the same overflow class the
    # 10M parity lane caught in events_anova_f)
    xr = F.col("two_r_g").cast("decimal(38,0)")
    term6 = exactagg.dec_round_div(
        xr * xr * F.lit(1000000).cast("decimal(19,0)"),
        F.lit(4).cast("decimal(19,0)") * F.col("n_g").cast("decimal(19,0)"),
    )
    s = r2.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(term6).cast("decimal(38,0)").alias("s6"),
    )
    nd = F.col("n").cast("double")
    h_raw = F.lit(12.0) / (nd * (nd + F.lit(1.0))) * (
        F.col("s6").cast("double") / F.lit(1e6)
    ) - F.lit(3.0) * (nd + F.lit(1.0))
    corr = F.lit(1.0) - F.col("ties").cast("double") / (nd * nd * nd - nd)
    h = (
        tot.crossJoin(F.broadcast(s))
        .filter((F.col("n") >= 2) & (F.col("k") >= 2))
        .select(
            "n",
            "k",
            (F.col("k") - 1).alias("df"),
            h_raw.alias("h_raw"),
            corr.alias("corr"),
        )
        .filter(F.col("corr") > 0.0)
    )
    crit = (
        F.when(F.col("df") == 1, F.lit(3.841459))
        .when(F.col("df") == 2, F.lit(5.991465))
        .when(F.col("df") == 3, F.lit(7.814728))
        .when(F.col("df") == 4, F.lit(9.487729))
        .when(F.col("df") == 5, F.lit(11.070498))
        .when(F.col("df") == 6, F.lit(12.591587))
        .when(F.col("df") == 7, F.lit(14.067140))
        .otherwise(F.lit(15.507313))
    )
    hq6 = F.floor(F.col("h_raw") * 1e6 + F.lit(0.5)) / 1e6
    haq6 = F.floor(F.col("h_raw") / F.col("corr") * 1e6 + F.lit(0.5)) / 1e6
    return h.select(
        "n",
        "k",
        "df",
        hq6.alias("h_q6"),
        haq6.alias("h_adj_q6"),
        (haq6 > crit).alias("significant"),
    )


@_register(
    "events_page_hinkley",
    r"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value > 0 GROUP BY 1),
    c AS (
      SELECT *, SUM(n) OVER (ORDER BY day) AS cum_n,
             SUM(cents) OVER (ORDER BY day) AS cum_cents
      FROM d),
    t AS (
      SELECT day, n,
             CAST(cents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS x,
             CAST(cum_cents AS DOUBLE) / CAST(cum_n AS DOUBLE) / 100.0 AS xb
      FROM c),
    t9 AS (
      SELECT day, n, x,
             CAST(FLOOR((x - xb - 0.005e0) * 1e9 + 0.5) AS BIGINT) AS term9
      FROM t),
    m0 AS (
      SELECT day, n, x,
             SUM(term9) OVER (ORDER BY day) AS m9
      FROM t9),
    m AS (
      SELECT day, n, x, m9,
             MIN(m9) OVER (ORDER BY day) AS minm9
      FROM m0)
    SELECT day, n,
           FLOOR(x * 1e6 + 0.5) / 1e6 AS mean_q6,
           FLOOR(CAST(m9 - minm9 AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS ph_q6,
           FLOOR(CAST(m9 - minm9 AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 > 0.5e0
             AS alarm
    FROM m
    """,
)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detector over the daily mean event value —
    the classical sequential change-point monitor (Page 1954, the
    standard drift test in streaming-ML toolkits): accumulate
    M_T = Σ_t (x_t − x̄_t − δ) where x̄_t is the running mean so far,
    track its running minimum, and alarm when M_T − min M exceeds λ —
    an upward mean shift makes the terms persistently positive and the
    gap grows. δ = 0.005 (drift tolerance, value units), λ = 0.5
    (alarm threshold); the batch replay of what streaming_cusum_alarms
    monitors live, sensitive to slow drifts CUSUM's reset forgives.

    Exactness: per-day counts and cent sums are exact BIGINTs; the
    running means are fixed-order double divisions of exact cumulative
    integers; each PH term snaps to the 1e-9 grid and the M/min-M
    machinery is EXACT BIGINT window arithmetic (association-free), so
    the alarm comparison sees identical grid doubles in both engines.
    Scale: one event pass to the day grain, then #days-sized window
    frames (the msprt convention — metadata, never corpus-ordered).
    No counterpart in the reference."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events").filter(F.col("value") > 0)
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents(F.col("value")))
        .cast("long")
        .alias("cents"),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        "n",
        "cents",
        F.sum("n").over(wd).alias("cum_n"),
        F.sum("cents").over(wd).alias("cum_cents"),
    )
    x = F.col("cents").cast("double") / F.col("n").cast("double") / F.lit(100.0)
    xb = (
        F.col("cum_cents").cast("double")
        / F.col("cum_n").cast("double")
        / F.lit(100.0)
    )
    t9 = c.select(
        "day",
        "n",
        x.alias("x"),
        F.floor((x - xb - F.lit(0.005)) * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("term9"),
    )
    m = t9.select(
        "day",
        "n",
        "x",
        F.sum("term9").over(wd).alias("m9"),
    ).withColumn("minm9", F.min("m9").over(wd))
    ph = F.floor(
        (F.col("m9") - F.col("minm9")).cast("double") / F.lit(1e9) * 1e6
        + F.lit(0.5)
    ) / 1e6
    return m.select(
        "day",
        "n",
        (F.floor(F.col("x") * 1e6 + F.lit(0.5)) / 1e6).alias("mean_q6"),
        ph.alias("ph_q6"),
        (ph > F.lit(0.5)).alias("alarm"),
    )


# The ``t`` CTE of the ticks_theil_sen and ticks_mann_kendall oracles:
# the positive ticks with their day, event key and whole cents, over
# which each takes the daily close (the twin of :func:`_daily_closes`).
_DAILY_TICKS_SQL = r"""
    WITH t AS (
      SELECT concat('S', CAST(user_id % 4 AS VARCHAR)) AS symbol,
             CAST(ts AS DATE) AS day,
             lpad(CAST(epoch_ms(ts) AS VARCHAR), 14, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value > 0),"""


def _daily_closes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(symbol, day, close)``: each symbol's last positive tick of the
    day (``max_by`` on :func:`_event_key`) in whole cents, the daily
    series of ticks_theil_sen and ticks_mann_kendall."""
    ev = _td(spark, sf_dir, "ticks").filter(F.col("value") > 0)
    t = ev.select(
        "symbol",
        F.to_date("ts").alias("day"),
        _event_key().alias("k"),
        cents(F.col("value")).alias("cents"),
    )
    return t.groupBy("symbol", "day").agg(F.max_by("cents", "k").alias("close"))


@_register(
    "ticks_theil_sen",
    _DAILY_TICKS_SQL
    + r"""
    d AS (
      SELECT symbol, day,
             day - DATE '1970-01-01' AS dd,
             arg_max(cents, k) AS close
      FROM t GROUP BY symbol, day),
    nd AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_days
           FROM d GROUP BY symbol),
    p AS (
      SELECT a.symbol,
             FLOOR(CAST(b.close - a.close AS DOUBLE)
                   / CAST(b.dd - a.dd AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS slope_q6
      FROM d a JOIN d b ON a.symbol = b.symbol AND a.day < b.day),
    r AS (
      SELECT symbol, slope_q6,
             CAST(row_number() OVER (PARTITION BY symbol ORDER BY slope_q6)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY symbol) AS BIGINT) AS n_pairs
      FROM p)
    SELECT r.symbol, nd.n_days, r.n_pairs, r.slope_q6 AS slope_med_q6
    FROM r JOIN nd ON nd.symbol = r.symbol
    WHERE r.rn = (r.n_pairs + 1) // 2
    """,
)
def ticks_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator per symbol — the median of all pairwise
    daily-close slopes (cents/day), the robust trend line quant and
    monitoring code reaches for when OLS is one outlier away from
    nonsense (50% breakdown point vs OLS's zero). Median convention:
    the LOWER median (order statistic at rank (n+1) div 2 of the
    slope multiset) — averaging the middle two would reintroduce a
    cross-engine double mean; an order statistic is exact.

    Exactness: daily closes are last-tick-by-padded-key cents
    (arg_max/max_by on the exact epoch-ms||event_id key — the
    first-touch convention reversed); each pairwise slope is ONE
    double division of exact integers snapped to q6 BEFORE ranking, so
    the rank order compares grid values; the rank→value map is
    deterministic under ties because tied ranks carry the same grid
    value. Scale: one tick pass to the (symbol, day) grain, then the
    pair self-join and rank window run on #days-sized frames per
    symbol (metadata — days², not ticks²; at 100 TB the day grain is
    still thousands of rows). No counterpart in the reference."""
    from pyspark.sql import Window

    d = (
        _daily_closes(spark, sf_dir)
        .withColumn("dd", F.datediff(F.col("day"), F.lit("1970-01-01")))
        .localCheckpoint()  # feeds the pair join twice + the day count
    )
    nd = d.groupBy("symbol").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    a, b = d.alias("a"), d.alias("b")
    slope = F.floor(
        (F.col("b.close") - F.col("a.close")).cast("double")
        / (F.col("b.dd") - F.col("a.dd")).cast("double")
        * 1e6
        + F.lit(0.5)
    ) / 1e6
    p = a.join(
        b,
        (F.col("a.symbol") == F.col("b.symbol")) & (F.col("a.day") < F.col("b.day")),
    ).select(F.col("a.symbol").alias("symbol"), slope.alias("slope_q6"))
    w = Window.partitionBy("symbol").orderBy("slope_q6")
    r = p.select(
        "symbol",
        "slope_q6",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("symbol")).cast("long").alias(
            "n_pairs"
        ),
    ).filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
    return r.join(F.broadcast(nd), "symbol").select(
        "symbol", "n_days", "n_pairs", F.col("slope_q6").alias("slope_med_q6")
    )


def _nelson_aalen_oracle() -> str:
    """Generated oracle for events_nelson_aalen: the Kaplan-Meier
    duration/risk-set construction (``_survival_users_sql`` and
    ``_RISK_SETS_SQL``, shared with _kaplan_meier_oracle), per-event-time
    hazard d/n snapped to a 1e-12 grid and cumulated exactly, detmath
    exp on the clamped negated hazard for the Fleming-Harrington
    survival twin."""
    ex = detmath.det_exp_sql("negh", "duckdb")
    return _survival_users_sql() + _RISK_SETS_SQL + rf"""
    h AS (
      SELECT d_sec, d_events, n_risk,
             CAST(FLOOR(CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
                        * 1e12 + 0.5) AS BIGINT) AS h12
      FROM ev),
    cum AS (
      SELECT d_sec, d_events, n_risk,
             CAST(sum(h12) OVER (ORDER BY d_sec) AS BIGINT) AS ch12
      FROM h),
    s AS (
      SELECT d_sec, d_events, n_risk, ch12,
             greatest(-(CAST(ch12 AS DOUBLE) / 1e12), -20.0) AS negh
      FROM cum)
    SELECT d_sec, n_risk, d_events,
           FLOOR(CAST(ch12 AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6
             AS cum_hazard_q6,
           FLOOR({ex} * 1e6 + 0.5) / 1e6 AS s_fh_q6
    FROM s
    """


@_register("events_nelson_aalen", _nelson_aalen_oracle)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard for click→purchase conversion —
    the hazard-space companion to events_kaplan_meier (the same
    entry/censoring construction, :func:`_survival_users`, and risk
    sets, :func:`_risk_sets`): H(t) = Σ_{t_i≤t} d_i/n_i, the
    estimator survival texts prefer for small risk sets (it never hits
    the KM product's hard zero when d = n) and the input to hazard-
    ratio eyeballing; also emits the Fleming-Harrington survival
    S_FH = exp(−H), which dominates KM exactly where risk sets thin.

    Determinism: durations are exact integer seconds; each hazard
    increment d/n is ONE double division snapped to the 1e-12 grid and
    the cumulative hazard is an EXACT integer sum over event times
    (association-free); one detmath exp per output row on the clamped
    (≥ −20) negated hazard. Scale: both the risk sets and the hazard
    accumulation ride stats.global_cumsum (range-exchange prefix
    sums), never a single-partition window; output is event-time-grain.
    No counterpart in the reference."""
    evt = _risk_sets(_survival_users(_td(spark, sf_dir, "events")))
    h = evt.select(
        "d_sec",
        "d_events",
        "n_risk",
        F.floor(
            F.col("d_events").cast("double") / F.col("n_risk").cast("double") * 1e12
            + F.lit(0.5)
        )
        .cast("long")
        .alias("h12"),
    )
    cum = stats.global_cumsum(h, ["d_sec"], "h12").withColumnRenamed(
        "cum_h12", "ch12"
    )
    s = cum.withColumn(
        "negh",
        F.greatest(
            -(F.col("ch12").cast("double") / F.lit(1e12)), F.lit(-20.0)
        ),
    )
    return s.select(
        "d_sec",
        "n_risk",
        "d_events",
        (
            F.floor(F.col("ch12").cast("double") / F.lit(1e12) * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("cum_hazard_q6"),
        (F.floor(detmath.det_exp("negh") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "s_fh_q6"
        ),
    )


@_register(
    "events_log_rank",
    _survival_users_sql(_LOG_RANK_ARM_SQL)
    + r"""
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
                 CAST(sum(is_a) AS BIGINT) AS n_a_total FROM u),
    grp AS (
      SELECT d_sec, CAST(count(*) AS BIGINT) AS total,
             CAST(sum(c) AS BIGINT) AS d_events,
             CAST(sum(is_a) AS BIGINT) AS total_a,
             CAST(sum(c * is_a) AS BIGINT) AS d_a
      FROM u GROUP BY d_sec),
    ord AS (
      SELECT *, CAST(sum(total) OVER (ORDER BY d_sec) AS BIGINT) AS cumtot,
             CAST(sum(total_a) OVER (ORDER BY d_sec) AS BIGINT) AS cumtot_a
      FROM grp),
    ev AS (
      SELECT d_sec, d_events, d_a,
             n.n_total - cumtot + total AS n_risk,
             n.n_a_total - cumtot_a + total_a AS n_risk_a
      FROM ord, n WHERE d_events > 0),
    t AS (
      SELECT d_sec, d_a,
             CAST(FLOOR(CAST(d_events AS DOUBLE)
                        * (CAST(n_risk_a AS DOUBLE) / CAST(n_risk AS DOUBLE))
                        * 1e12 + 0.5) AS HUGEINT) AS e12,
             CASE WHEN n_risk > 1 THEN
               CAST(FLOOR(CAST(d_events AS DOUBLE)
                 * (CAST(n_risk_a AS DOUBLE) / CAST(n_risk AS DOUBLE))
                 * (1.0 - CAST(n_risk_a AS DOUBLE) / CAST(n_risk AS DOUBLE))
                 * ((CAST(n_risk AS DOUBLE) - CAST(d_events AS DOUBLE))
                    / (CAST(n_risk AS DOUBLE) - 1.0))
                 * 1e12 + 0.5) AS HUGEINT)
             ELSE CAST(0 AS HUGEINT) END AS v12
      FROM ev),
    s AS (
      SELECT CAST(SUM(d_a) AS BIGINT) AS o_a,
             SUM(e12) AS se12, SUM(v12) AS sv12
      FROM t),
    f AS (
      SELECT n.n_total, n.n_a_total, s.o_a,
             CAST(s.se12 AS DOUBLE) / 1e12 AS e_a,
             CAST(s.sv12 AS DOUBLE) / 1e12 AS v
      FROM s CROSS JOIN n WHERE CAST(s.sv12 AS DOUBLE) > 0.0)
    SELECT n_total AS n_users, n_a_total AS n_a, o_a,
           FLOOR(e_a * 1e6 + 0.5) / 1e6 AS e_a_q6,
           FLOOR((CAST(o_a AS DOUBLE) - e_a) * (CAST(o_a AS DOUBLE) - e_a)
                 / v * 1e6 + 0.5) / 1e6 AS chi2_q6,
           FLOOR((CAST(o_a AS DOUBLE) - e_a) * (CAST(o_a AS DOUBLE) - e_a)
                 / v * 1e6 + 0.5) / 1e6 > 3.841459 AS significant
    FROM f
    """,
)
def events_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank (Mantel-Cox) test between the md5 arms on
    click→purchase time-to-convert — THE standard test for 'did the
    treatment change conversion speed', censoring-aware where a naive
    mean-duration comparison silently drops every non-converter
    (events_kaplan_meier draws the curves; this says whether they
    differ): at each event time, compare arm A's observed conversions
    d_A to its risk-share expectation d·n_A/n and accumulate the
    hypergeometric variance; χ² = (O_A − E_A)²/V against the frozen
    df=1 critical.

    Determinism: the duration/censoring construction is
    :func:`_survival_users`, as in events_kaplan_meier /
    events_nelson_aalen; risk sets come from exact integer cumsums;
    each per-time E and V term is a fixed-order double chain over
    exact integers snapped to the 1e-12 grid and summed exactly
    (decimal/HUGEINT); the χ² tail is one fixed-order double formula
    snapped q6. Scale: one user-grain pass, the global_cumsum
    event-time sweep (range-partitioned — the survival-family shape),
    then one-row frames.
    No counterpart in the reference."""
    u = _survival_users(_td(spark, sf_dir, "events"), _arm(1, 0).alias("is_a"))
    n = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("is_a").cast("long").alias("n_a_total"),
    )
    grp = u.groupBy("d_sec").agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum("c").cast("long").alias("d_events"),
        F.sum("is_a").cast("long").alias("total_a"),
        F.sum(F.col("c") * F.col("is_a")).cast("long").alias("d_a"),
    )
    c1 = stats.global_cumsum(grp, ["d_sec"], "total").withColumnRenamed(
        "cum_total", "cumtot"
    )
    c2 = stats.global_cumsum(c1, ["d_sec"], "total_a").withColumnRenamed(
        "cum_total_a", "cumtot_a"
    )
    evt = (
        c2.crossJoin(F.broadcast(n))
        .filter(F.col("d_events") > 0)
        .select(
            "d_sec",
            "d_events",
            "d_a",
            (F.col("n_total") - F.col("cumtot") + F.col("total")).alias("n_risk"),
            (F.col("n_a_total") - F.col("cumtot_a") + F.col("total_a")).alias(
                "n_risk_a"
            ),
        )
    )
    dd = F.col("d_events").cast("double")
    nad = F.col("n_risk_a").cast("double")
    nd_ = F.col("n_risk").cast("double")
    e12 = F.floor(dd * (nad / nd_) * 1e12 + F.lit(0.5)).cast("decimal(38,0)")
    v12 = F.when(
        F.col("n_risk") > 1,
        F.floor(
            dd
            * (nad / nd_)
            * (F.lit(1.0) - nad / nd_)
            * ((nd_ - dd) / (nd_ - F.lit(1.0)))
            * 1e12
            + F.lit(0.5)
        ).cast("decimal(38,0)"),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    t = evt.select("d_a", e12.alias("e12"), v12.alias("v12"))
    s = t.agg(
        F.sum("d_a").cast("long").alias("o_a"),
        F.sum("e12").alias("se12"),
        F.sum("v12").alias("sv12"),
    )
    f = (
        s.crossJoin(F.broadcast(n))
        .filter(F.col("sv12").cast("double") > 0.0)
        .select(
            F.col("n_total").alias("n_users"),
            F.col("n_a_total").alias("n_a"),
            "o_a",
            (F.col("se12").cast("double") / F.lit(1e12)).alias("e_a"),
            (F.col("sv12").cast("double") / F.lit(1e12)).alias("v"),
        )
    )
    oad = F.col("o_a").cast("double")
    chi2 = (
        F.floor((oad - F.col("e_a")) * (oad - F.col("e_a")) / F.col("v") * 1e6 + F.lit(0.5))
        / 1e6
    )
    return f.select(
        "n_users",
        "n_a",
        "o_a",
        (F.floor(F.col("e_a") * 1e6 + F.lit(0.5)) / 1e6).alias("e_a_q6"),
        chi2.alias("chi2_q6"),
        (chi2 > F.lit(3.841459)).alias("significant"),
    )


@_register(
    "events_anova_f",
    r"""
    WITH obs AS (
      SELECT event_type AS grp,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE value > 0),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
             CAST(SUM(v) AS BIGINT) AS s_g,
             SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS ss_g
      FROM obs GROUP BY grp),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             CAST(SUM(ss_g) AS HUGEINT) AS ss,
             CAST(count(*) AS BIGINT) AS k
      FROM g),
    b AS (
      SELECT CAST(SUM(
               (2 * (CAST(g.s_g AS HUGEINT) * CAST(g.s_g AS HUGEINT)
                     * 1000000) + CAST(g.n_g AS HUGEINT))
               // (2 * CAST(g.n_g AS HUGEINT)))
               AS HUGEINT) AS bsum6
      FROM g),
    f AS (
      SELECT tot.n, tot.k, (tot.k - 1) AS df_between,
             (tot.n - tot.k) AS df_within,
             CAST(b.bsum6 AS DOUBLE) / 1e6
               - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                 / CAST(tot.n AS DOUBLE) AS ssb,
             CAST(tot.ss AS DOUBLE) - CAST(b.bsum6 AS DOUBLE) / 1e6 AS ssw
      FROM tot CROSS JOIN b
      WHERE tot.k >= 2 AND tot.n > tot.k),
    o AS (
      SELECT n, k, df_between, df_within,
             FLOOR((ssb / CAST(df_between AS DOUBLE))
                   / (ssw / CAST(df_within AS DOUBLE)) * 1e6 + 0.5) / 1e6
               AS f_q6,
             FLOOR(ssb / (ssb + ssw) * 1e6 + 0.5) / 1e6 AS eta2_q6
      FROM f WHERE ssw > 0.0)
    SELECT n, k, df_between, df_within, f_q6, eta2_q6,
           f_q6 * CAST(df_between AS DOUBLE)
             > (CASE WHEN df_between = 1 THEN 3.841459
                     WHEN df_between = 2 THEN 5.991465
                     WHEN df_between = 3 THEN 7.814728
                     WHEN df_between = 4 THEN 9.487729
                     WHEN df_between = 5 THEN 11.070498
                     WHEN df_between = 6 THEN 12.591587
                     WHEN df_between = 7 THEN 14.067140
                     ELSE 15.507313 END) AS significant
    FROM o
    """,
)
def events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F on event value across event types — the
    parametric twin of events_kruskal_wallis (means instead of ranks;
    run both and disagreement itself is the heavy-tail diagnostic).
    F = (SSB/(k−1))/(SSW/(n−k)) with the eta² effect size; the
    significance gate uses the large-sample identity
    F(k−1, ∞) = χ²(k−1)/(k−1) against the frozen g_test criticals
    (df_within is corpus-sized at any real scale, so the asymptotic
    critical is the honest one — documented, df clamped at 8).

    Exactness: per-group n/Σv/Σv² are exact BIGINT/decimal cents
    moments from ONE corpus pass; the Σ(S_g²/n_g) cross-group sum
    snaps each group's double term to the 1e-6 grid and sums exactly
    (the calinski/kruskal convention); the F/eta² tail is one
    fixed-order double chain snapped q6. Scale: one hash agg to k
    group rows, then one-row frames — no window, no join, the
    cheapest query in the statistical family.
    No counterpart in the reference."""
    ev = _td(spark, sf_dir, "events").filter(F.col("value") > 0)
    obs = ev.select(
        F.col("event_type").alias("grp"),
        cents(F.col("value")).alias("v"),
    )
    vd = F.col("v").cast("decimal(19,0)")
    g = obs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("v").cast("long").alias("s_g"),
        F.sum(vd * vd).alias("ss_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("decimal(38,0)").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    # round-half-up of the EXACT rational s_g^2 * 1e6 / n_g in decimal
    # arithmetic (exactagg.dec_round_div): the old double-based
    # F.floor(...) snap returned a BIGINT, which silently WRAPS past
    # 9.2e18 — at 10M rows s_g^2/n_g*1e6 ~ 1.25e21, producing a
    # negative SSB/F (caught by the 10M value-oracle parity lane; the
    # sf0.01 gate never reached the overflow region)
    s2 = F.col("s_g").cast("decimal(19,0)") * F.col("s_g").cast("decimal(19,0)")
    bterm6 = exactagg.dec_round_div(
        s2 * F.lit(1000000).cast("decimal(19,0)"),
        F.col("n_g").cast("decimal(19,0)"),
    )
    b = g.select(bterm6.alias("b6")).agg(
        F.sum("b6").cast("decimal(38,0)").alias("bsum6")
    )
    ssb = F.col("bsum6").cast("double") / F.lit(1e6) - F.col("s").cast(
        "double"
    ) * F.col("s").cast("double") / F.col("n").cast("double")
    ssw = F.col("ss").cast("double") - F.col("bsum6").cast("double") / F.lit(1e6)
    f = (
        tot.crossJoin(F.broadcast(b))
        .filter((F.col("k") >= 2) & (F.col("n") > F.col("k")))
        .select(
            "n",
            "k",
            (F.col("k") - 1).alias("df_between"),
            (F.col("n") - F.col("k")).alias("df_within"),
            ssb.alias("ssb"),
            ssw.alias("ssw"),
        )
        .filter(F.col("ssw") > 0.0)
    )
    fq6 = (
        F.floor(
            (F.col("ssb") / F.col("df_between").cast("double"))
            / (F.col("ssw") / F.col("df_within").cast("double"))
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    eq6 = F.floor(F.col("ssb") / (F.col("ssb") + F.col("ssw")) * 1e6 + F.lit(0.5)) / 1e6
    crit = (
        F.when(F.col("df_between") == 1, F.lit(3.841459))
        .when(F.col("df_between") == 2, F.lit(5.991465))
        .when(F.col("df_between") == 3, F.lit(7.814728))
        .when(F.col("df_between") == 4, F.lit(9.487729))
        .when(F.col("df_between") == 5, F.lit(11.070498))
        .when(F.col("df_between") == 6, F.lit(12.591587))
        .when(F.col("df_between") == 7, F.lit(14.067140))
        .otherwise(F.lit(15.507313))
    )
    return f.select(
        "n",
        "k",
        "df_between",
        "df_within",
        fq6.alias("f_q6"),
        eq6.alias("eta2_q6"),
        (fq6 * F.col("df_between").cast("double") > crit).alias("significant"),
    )


@_register(
    "events_lorenz_curve",
    r"""
    WITH su AS (
      SELECT user_id, SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS spend
      FROM events WHERE value > 0 GROUP BY user_id),
    c AS (
      SELECT user_id, spend,
             CAST(row_number() OVER (ORDER BY spend, user_id) AS BIGINT)
               AS rnk,
             CAST(SUM(spend) OVER (ORDER BY spend, user_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cum_spend
      FROM su),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(spend) AS BIGINT) AS s FROM su),
    d AS (SELECT CAST(x AS BIGINT) AS decile
          FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) v(x)),
    b AS (
      SELECT d.decile, (tot.n * d.decile) // 10 AS boundary, tot.n, tot.s
      FROM d CROSS JOIN tot WHERE (tot.n * d.decile) // 10 >= 1)
    SELECT b.decile, b.boundary AS users_cum, c.cum_spend AS spend_cum_cents,
           FLOOR(CAST(b.boundary AS DOUBLE) / CAST(b.n AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS user_share_q6,
           FLOOR(CAST(c.cum_spend AS DOUBLE) / CAST(b.s AS DOUBLE) * 1e6
                 + 0.5) / 1e6 AS spend_share_q6
    FROM b JOIN c ON c.rnk = b.boundary
    """,
)
def events_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of per-user spend at decile grain — the curve
    behind events_gini_engagement's single number (the Gini is twice
    the area between this curve and the diagonal): at each user-count
    decile boundary, the cumulative share of total spend held by the
    bottom d/10 of users. The concentration report a monetization or
    data-mixing review reads directly ("the bottom half of users carry
    X% of spend").

    Exactness: spend is exact cents; users are ranked by the total
    order (spend, user_id); both the rank and the cumulative spend
    ride stats.global_cumsum (range-partitioned prefix sums — the rank
    is a cumsum of ones, never a global row_number window); decile
    boundaries are exact integer (n·d) div 10 positions joined against
    the rank, so every emitted row is an exact order statistic; the
    two shares are single double divisions of exact integers snapped
    q6. Scale: one user-grain agg, one range exchange, a 10-row
    broadcast join. No counterpart in the reference."""
    su = _user_spend(_td(spark, sf_dir, "events"))
    ranked = stats.global_cumsum(
        su.withColumn("one", F.lit(1).cast("long")),
        order_cols=[F.col("spend").asc(), F.col("user_id").asc()],
        value_col="one",
    ).withColumnRenamed("cum_one", "rnk")
    c = stats.global_cumsum(
        ranked,
        order_cols=[F.col("spend").asc(), F.col("user_id").asc()],
        value_col="spend",
    ).withColumnRenamed("cum_spend", "cum_spend")
    tot = su.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("spend").cast("long").alias("s"),
    )
    d = spark.range(1, 11).select(F.col("id").cast("long").alias("decile"))
    b = (
        d.crossJoin(F.broadcast(tot))
        .withColumn("boundary", F.expr("(n * decile) div 10"))
        .filter(F.col("boundary") >= 1)
    )
    return c.join(F.broadcast(b), c.rnk == b.boundary).select(
        "decile",
        F.col("boundary").alias("users_cum"),
        F.col("cum_spend").alias("spend_cum_cents"),
        (
            F.floor(
                F.col("boundary").cast("double") / F.col("n").cast("double") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("user_share_q6"),
        (
            F.floor(
                F.col("cum_spend").cast("double") / F.col("s").cast("double") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("spend_share_q6"),
    )


def _odds_ratio_oracle() -> str:
    ln_or = detmath.det_ln_pos_sql("orat", "duckdb")
    ln_rr = detmath.det_ln_pos_sql("rrat", "duckdb")
    ex_lo = detmath.det_exp_sql("lo_or", "duckdb")
    ex_hi = detmath.det_exp_sql("hi_or", "duckdb")
    return rf"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE 0 END AS is_a,
             CASE WHEN arg_min(event_type,
                     lpad(CAST(epoch_ms(ts) AS VARCHAR), 14, '0')
                     || lpad(CAST(event_id AS VARCHAR), 12, '0'))
                   = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE 0 END),
    t AS (
      SELECT CAST(SUM(is_a * conv) AS BIGINT) AS a,
             CAST(SUM(is_a * (1 - conv)) AS BIGINT) AS b,
             CAST(SUM((1 - is_a) * conv) AS BIGINT) AS c,
             CAST(SUM((1 - is_a) * (1 - conv)) AS BIGINT) AS d
      FROM u),
    f AS (
      SELECT a, b, c, d,
             (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
               / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS orat,
             (CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
               / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE)) AS rrat,
             sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                  + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)) AS se
      FROM t WHERE a > 0 AND b > 0 AND c > 0 AND d > 0),
    g AS (
      SELECT a, b, c, d, orat, rrat, se,
             ({ln_or}) - 1.959964e0 * se AS lo_or,
             ({ln_or}) + 1.959964e0 * se AS hi_or
      FROM f)
    SELECT a, b, c, d,
           FLOOR(orat * 1e6 + 0.5) / 1e6 AS odds_ratio_q6,
           FLOOR(rrat * 1e6 + 0.5) / 1e6 AS relative_risk_q6,
           FLOOR(({ex_lo}) * 1e6 + 0.5) / 1e6 AS or_ci_lo_q6,
           FLOOR(({ex_hi}) * 1e6 + 0.5) / 1e6 AS or_ci_hi_q6,
           FLOOR(({ex_lo}) * 1e6 + 0.5) / 1e6 > 1.0
             OR FLOOR(({ex_hi}) * 1e6 + 0.5) / 1e6 < 1.0 AS significant
    FROM g
    """


@_register("events_odds_ratio", _odds_ratio_oracle)
def events_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio and relative risk of FIRST-TOUCH purchase conversion
    between the md5 arms, with the Katz log-normal 95% CI — the
    effect-size report clinical and growth teams quote next to the
    p-value machinery (events_ab_test says WHETHER arms differ; this
    says BY HOW MUCH, on the multiplicative scale that composes across
    strata): OR = ad/bc, RR = (a/(a+b))/(c/(c+d)),
    CI = exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)); significant iff the CI
    excludes 1. Conversion is FIRST-TOUCH (the user's first event by
    the padded epoch-ms key is a purchase — the Holm/power convention),
    because any-touch saturates to 100% as activity grows and the 2×2
    degenerates.

    Exactness: the 2×2 cells are exact BIGINTs from one user-grain
    agg; OR/RR/SE are fixed-order double chains over the exact cells;
    ln and exp ride detmath (bit-identical engines); outputs snap q6
    and the significance verdict compares snapped CI bounds to the
    exact literal 1. Any empty cell emits no row (the Katz CI is
    undefined; callers wanting a Haldane correction can add 0.5 —
    documented, not silently applied). Scale: one hash agg, one-row
    frames. No counterpart in the reference."""
    u = _first_conv(_td(spark, sf_dir, "events"))
    t = u.agg(
        F.sum(F.col("is_a") * F.col("conv")).cast("long").alias("a"),
        F.sum(F.col("is_a") * (1 - F.col("conv"))).cast("long").alias("b"),
        F.sum((1 - F.col("is_a")) * F.col("conv")).cast("long").alias("c"),
        F.sum((1 - F.col("is_a")) * (1 - F.col("conv"))).cast("long").alias("d"),
    )
    ad, bd, cd, dd = (F.col(x).cast("double") for x in ("a", "b", "c", "d"))
    f = (
        t.filter(
            (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) & (F.col("d") > 0)
        )
        .withColumn("orat", (ad * dd) / (bd * cd))
        .withColumn("rrat", (ad / (F.col("a") + F.col("b")).cast("double"))
                    / (cd / (F.col("c") + F.col("d")).cast("double")))
        .withColumn(
            "se",
            F.sqrt(
                F.lit(1.0) / ad + F.lit(1.0) / bd + F.lit(1.0) / cd + F.lit(1.0) / dd
            ),
        )
        .withColumn("__lnor", detmath.det_ln_pos("orat"))
        .withColumn("lo_or", F.col("__lnor") - F.lit(1.959964) * F.col("se"))
        .withColumn("hi_or", F.col("__lnor") + F.lit(1.959964) * F.col("se"))
    )
    lo = q6(detmath.det_exp("lo_or"))
    hi = q6(detmath.det_exp("hi_or"))
    return f.select(
        "a",
        "b",
        "c",
        "d",
        q6(F.col("orat")).alias("odds_ratio_q6"),
        q6(F.col("rrat")).alias("relative_risk_q6"),
        lo.alias("or_ci_lo_q6"),
        hi.alias("or_ci_hi_q6"),
        ((lo > 1.0) | (hi < 1.0)).alias("significant"),
    )


@_register(
    "ticks_mann_kendall",
    _DAILY_TICKS_SQL
    + r"""
    d AS (
      SELECT symbol, day, arg_max(cents, k) AS close
      FROM t GROUP BY symbol, day),
    s AS (
      SELECT a.symbol,
             CAST(SUM(CASE WHEN b.close > a.close THEN 1
                           WHEN b.close < a.close THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM d a JOIN d b ON a.symbol = b.symbol AND a.day < b.day
      GROUP BY a.symbol),
    nn AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n FROM d
           GROUP BY symbol),
    ties AS (
      SELECT symbol,
             CAST(SUM(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tie_term
      FROM (SELECT symbol, close, CAST(count(*) AS BIGINT) AS tg
            FROM d GROUP BY symbol, close) x
      GROUP BY symbol),
    v AS (
      SELECT s.symbol, s.s_stat, nn.n,
             (CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0)
              * (2.0 * CAST(nn.n AS DOUBLE) + 5.0)
              - CAST(ties.tie_term AS DOUBLE)) / 18.0 AS var
      FROM s JOIN nn USING (symbol) JOIN ties USING (symbol)
      WHERE nn.n >= 2),
    z AS (
      SELECT symbol, s_stat, n,
             CASE WHEN s_stat > 0
                  THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var)
                  WHEN s_stat < 0
                  THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var)
                  ELSE 0.0 END AS zval
      FROM v WHERE var > 0.0)
    SELECT symbol, n AS n_days, s_stat,
           FLOOR(zval * 1e6 + 0.5) / 1e6 AS z_q6,
           abs(FLOOR(zval * 1e6 + 0.5) / 1e6) >= 1.959964 AS significant
    FROM z
    """,
)
def ticks_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per symbol on the daily-close series —
    the nonparametric 'is there a monotone trend at all?' gate that
    pairs with ticks_theil_sen (the same daily closes,
    :func:`_daily_closes`; Theil-Sen says the slope, MK says whether to
    believe it): S = Σ_{i<j} sign(c_j − c_i), tie-corrected variance
    [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18, the standard ±1 continuity
    correction, |z| against the frozen two-sided critical.

    Exactness: S is an exact integer from the day-pair join (days² per
    symbol — metadata at any corpus scale); the tie term is exact
    integer arithmetic over the per-symbol close histogram; z is one
    fixed-order double chain snapped q6. Zero-variance series (all
    closes tied) emit no row. Scale: one tick pass to the (symbol,
    day) grain, then day-grain frames only.
    No counterpart in the reference."""
    d = (
        _daily_closes(spark, sf_dir)
        .localCheckpoint()  # feeds the pair join (twice), counts and ties
    )
    a, b = d.alias("a"), d.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.symbol") == F.col("b.symbol"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.symbol").alias("symbol"))
        .agg(
            F.sum(
                F.when(F.col("b.close") > F.col("a.close"), F.lit(1))
                .when(F.col("b.close") < F.col("a.close"), F.lit(-1))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nn = d.groupBy("symbol").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        d.groupBy("symbol", "close")
        .agg(F.count(F.lit(1)).cast("long").alias("tg"))
        .groupBy("symbol")
        .agg(
            F.sum(F.col("tg") * (F.col("tg") - 1) * (2 * F.col("tg") + 5))
            .cast("long")
            .alias("tie_term")
        )
    )
    ndd = F.col("n").cast("double")
    var = (
        ndd * (ndd - F.lit(1.0)) * (F.lit(2.0) * ndd + F.lit(5.0))
        - F.col("tie_term").cast("double")
    ) / F.lit(18.0)
    v = (
        s.join(F.broadcast(nn), "symbol")
        .join(F.broadcast(ties), "symbol")
        .filter(F.col("n") >= 2)
        .withColumn("var", var)
        .filter(F.col("var") > 0.0)
    )
    sd = F.col("s_stat").cast("double")
    zval = (
        F.when(F.col("s_stat") > 0, (sd - F.lit(1.0)) / F.sqrt(F.col("var")))
        .when(F.col("s_stat") < 0, (sd + F.lit(1.0)) / F.sqrt(F.col("var")))
        .otherwise(F.lit(0.0))
    )
    zq6 = F.floor(zval * 1e6 + F.lit(0.5)) / 1e6
    return v.select(
        "symbol",
        F.col("n").alias("n_days"),
        "s_stat",
        zq6.alias("z_q6"),
        (F.abs(zq6) >= F.lit(1.959964)).alias("significant"),
    )


@_register(
    "ticks_dickey_fuller",
    r"""
    WITH t AS (
      SELECT concat('S', CAST(user_id % 4 AS VARCHAR)) AS symbol, ts,
             event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
      FROM events),
    l AS (
      SELECT symbol, v AS y,
             lag(v, 1) OVER (PARTITION BY symbol
                             ORDER BY ts, event_id) AS x
      FROM t),
    p AS (SELECT symbol, x, y - x AS d FROM l WHERE x IS NOT NULL),
    s AS (
      SELECT symbol,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(d) AS BIGINT) AS sd,
             SUM(CAST(x AS HUGEINT) * CAST(d AS HUGEINT)) AS sxd,
             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sdd
      FROM p GROUP BY symbol),
    f AS (
      SELECT symbol, n,
             CAST(n AS DOUBLE) * CAST(sxd AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE) AS num,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
             CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
               - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) AS dy
      FROM s WHERE n >= 3),
    g AS (
      SELECT symbol, n, num, dx, dy, num / dx AS q
      FROM f WHERE dx > 0.0),
    o AS (
      SELECT symbol, n, q,
             q / sqrt((dy - q * num)
                      / ((CAST(n AS DOUBLE) - 2.0) * dx)) AS tval
      FROM g WHERE dy - q * num > 0.0)
    SELECT symbol, n AS n_pairs,
           FLOOR(q * 1e6 + 0.5) / 1e6 AS gamma_q6,
           FLOOR(tval * 1e6 + 0.5) / 1e6 AS t_stat_q6,
           FLOOR(tval * 1e6 + 0.5) / 1e6 < -2.8621 AS mean_reverting
    FROM o
    """,
)
def ticks_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test per symbol — the classical 'is this
    price series actually mean-reverting or a random walk?' verdict
    that gates every OU/stat-arb readout (ticks_ou_half_life assumes
    reversion; this tests it): regress Δv_t on v_{t−1} with a constant
    and compare γ̂'s t-statistic against the Dickey-Fuller
    distribution's 5% critical (−2.8621, constant-only, large n — a
    frozen literal; the DF t does NOT follow Student's t, which is the
    whole point of the test). γ̂ near 0 → unit root (random walk);
    significantly negative → mean reversion.

    Exactness: the lag pairs live on the exact cent grid; all five
    regression sums ride decimal/HUGEINT integer products (the
    exact_corr_sums discipline — no float partial-agg order to
    disagree on); γ̂ and the t-statistic are ONE fixed-order double
    chain over those integers, snapped q6 before the frozen-critical
    compare. Degenerate series (constant levels or perfect fit) emit
    no row. Scale: the per-symbol lag window + one hash agg —
    #symbols-sized frames after the sums.
    No counterpart in the reference."""
    t = _td(spark, sf_dir, "ticks").withColumn(
        "v", cents(F.col("value"))
    )
    w = _tick_order()
    lagd = t.select(
        "symbol", F.col("v").alias("y"), F.lag("v", 1).over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    p = lagd.select("symbol", "x", (F.col("y") - F.col("x")).alias("d"))
    s = p.groupBy("symbol").agg(*stats.exact_corr_sums(F.col("x"), F.col("d"), "df"))
    num, dx, dy = stats.corr_terms("df")
    f = (
        s.filter(F.col("df_n") >= 3)
        .select("symbol", F.col("df_n").alias("n"), num.alias("num"),
                dx.alias("dx"), dy.alias("dy"))
        .filter(F.col("dx") > 0.0)
        .withColumn("q", F.col("num") / F.col("dx"))
        .filter(F.col("dy") - F.col("q") * F.col("num") > 0.0)
    )
    tval = F.col("q") / F.sqrt(
        (F.col("dy") - F.col("q") * F.col("num"))
        / ((F.col("n").cast("double") - F.lit(2.0)) * F.col("dx"))
    )
    tq6 = F.floor(tval * 1e6 + F.lit(0.5)) / 1e6
    return f.select(
        "symbol",
        F.col("n").alias("n_pairs"),
        (F.floor(F.col("q") * 1e6 + F.lit(0.5)) / 1e6).alias("gamma_q6"),
        tq6.alias("t_stat_q6"),
        (tq6 < F.lit(-2.8621)).alias("mean_reverting"),
    )


@_register(
    "events_cramers_v",
    r"""
    WITH ecells AS (
      SELECT event_type,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm
      FROM events),
    cells AS (
      SELECT event_type, arm, CAST(count(*) AS BIGINT) AS o
      FROM ecells GROUP BY event_type, arm),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r_tot
           FROM cells GROUP BY event_type),
    ct AS (SELECT arm, CAST(SUM(o) AS BIGINT) AS c_tot FROM cells GROUP BY arm),
    tt AS (SELECT CAST(SUM(o) AS BIGINT) AS n_tot,
                  CAST(count(DISTINCT event_type) AS BIGINT) AS r,
                  CAST(count(DISTINCT arm) AS BIGINT) AS c
           FROM cells),
    grid AS (
      -- FULL r x c scaffold: a zero cell still contributes (0-E)^2/E,
      -- which a bare GROUP BY silently drops (the G-test is immune --
      -- 0*ln(0/E) = 0 -- but chi-square is NOT; caught by the
      -- deterministic-association semantic test, invisible to parity)
      SELECT rt.event_type, ct.arm, rt.r_tot, ct.c_tot,
             COALESCE(cells.o, 0) AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN cells USING (event_type, arm)),
    j AS (
      SELECT CAST(grid.o AS DOUBLE) AS od,
             CAST(grid.r_tot AS DOUBLE) * CAST(grid.c_tot AS DOUBLE)
               / CAST(tt.n_tot AS DOUBLE) AS e,
             tt.n_tot, tt.r, tt.c
      FROM grid CROSS JOIN tt),
    t AS (
      SELECT n_tot, r, c,
             CAST(FLOOR((od - e) * (od - e) / e * 1e6 + 0.5) AS BIGINT) AS t6
      FROM j WHERE e > 0.0),
    s AS (
      SELECT CAST(MAX(n_tot) AS BIGINT) AS n,
             CAST(MAX(r) AS BIGINT) AS r, CAST(MAX(c) AS BIGINT) AS c,
             CAST(SUM(t6) AS BIGINT) AS s6
      FROM t)
    SELECT n, r, c,
           FLOOR(CAST(s6 AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS chi2_q6,
           FLOOR(sqrt((CAST(s6 AS DOUBLE) / 1e6)
                      / (CAST(n AS DOUBLE)
                         * CAST(LEAST(r - 1, c - 1) AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS cramers_v_q6
    FROM s WHERE r >= 2 AND c >= 2 AND LEAST(r - 1, c - 1) >= 1
    """,
)
def events_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event-type × arm contingency —
    the 'is the dependence LARGE, not just detectable' number that
    belongs next to events_g_test (at 100 TB every test is
    significant; V ∈ [0,1] is sample-size-free): Pearson χ² over the
    same exact contingency cells, V = √(χ²/(n·min(r−1, c−1))).

    Exactness: the contingency machinery extends events_g_test's CTEs
    with a FULL r×c scaffold — a zero cell still contributes
    (0−E)²/E to χ², which a bare GROUP BY silently drops (the G-test
    is immune: 0·ln(0/E) = 0; Pearson χ² is not — a both-engines-wrong
    class only the deterministic-association semantic test can catch);
    each cell's (O−E)²/E snaps to the 1e-6 grid and sums as an exact
    BIGINT (r×c terms), then χ² and V are one fixed-order double tail
    snapped q6. Scale: one hash agg to r×c cells, metadata frames
    after. No counterpart in the reference."""
    ev = _td(spark, sf_dir, "events")
    ecells = ev.select(
        "event_type",
        _arm("A", "B").alias("arm"),
    )
    cells = ecells.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint()  # feeds the row/col/grand totals and the cell pass
    rt, ct, tt = _contingency(cells)
    # FULL r x c scaffold: a zero cell still contributes (0-E)^2/E,
    # which a bare groupBy silently drops (the G-test is immune --
    # 0*ln(0/E) = 0 -- but chi-square is NOT)
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(cells, ["event_type", "arm"], "left")
        .select(
            "event_type",
            "arm",
            "r_tot",
            "c_tot",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    j = (
        grid.crossJoin(F.broadcast(tt))
        .select(
            F.col("o").cast("double").alias("od"),
            (
                F.col("r_tot").cast("double")
                * F.col("c_tot").cast("double")
                / F.col("n_tot").cast("double")
            ).alias("e"),
            "n_tot",
            "r",
            "c",
        )
        .filter(F.col("e") > 0.0)
    )
    t6 = F.floor(
        (F.col("od") - F.col("e")) * (F.col("od") - F.col("e")) / F.col("e") * 1e6
        + F.lit(0.5)
    ).cast("long")
    s = j.select("n_tot", "r", "c", t6.alias("t6")).agg(
        F.max("n_tot").cast("long").alias("n"),
        F.max("r").cast("long").alias("r"),
        F.max("c").cast("long").alias("c"),
        F.sum("t6").cast("long").alias("s6"),
    )
    chi2 = F.floor(F.col("s6").cast("double") / F.lit(1e6) * 1e6 + F.lit(0.5)) / 1e6
    v = (
        F.floor(
            F.sqrt(
                (F.col("s6").cast("double") / F.lit(1e6))
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
                )
            )
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    return (
        s.filter(
            (F.col("r") >= 2)
            & (F.col("c") >= 2)
            & (F.least(F.col("r") - 1, F.col("c") - 1) >= 1)
        )
        .select("n", "r", "c", chi2.alias("chi2_q6"), v.alias("cramers_v_q6"))
    )
