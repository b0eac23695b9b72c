"""Statistics / quality operators.

Covers the reference's quality scanner (``spark_data_cleaner_script.py``),
daily window statistics (``symbol_statistics_generate.py``) and the
reconstruction-error statistics of the ML layer
(``ML Model/Scripts/test.py:333-358``), as single-pass distributed
aggregations (the reference runs 4 actions per file for its quality scan;
we do one scan for the whole dataset).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import cents, q6
from .ticks import SESSION_WINDOWS, _tick_side, window_predicate


def quality_scan(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Row count + per-column null count in ONE pass (replaces the
    reference's count + N isNull().count() actions per file,
    spark_data_cleaner_script.py:21-26 — A5/P2).

    Output: one row — total_rows, null_<col> for each column.
    """
    cols = list(cols or df.columns)
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}"))
    return df.agg(*aggs)


def quality_scan_per_file(df_with_file: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-file variant of the quality report (the reference's report is
    per parquet file). Group by input_file_name() — still one scan."""
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}"))
    return (
        df_with_file.withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(*aggs)
    )


def daily_window_counts(
    df: DataFrame,
    ts_col: str = "ts",
    partition_cols: Sequence[str] = ("symbol",),
    windows=SESSION_WINDOWS,
    closed: str = "left",
) -> DataFrame:
    """Daily per-session-window tick counts (A2+J1+A8+O2,
    symbol_statistics_generate.py:70-81).

    The reference computes two filtered aggregates and outer-joins them;
    we compute both in ONE scan with conditional aggregation — no join,
    no second shuffle, and days where one window is empty naturally get 0
    (the reference needed outer-join + fillna(0) for that).
    """
    ts = F.col(ts_col)
    aggs = []
    for i, w in enumerate(windows, start=1):
        pred = window_predicate(ts, *w, closed=closed)
        aggs.append(F.sum(pred.cast("long")).alias(f"ticks_window{i}"))
    keys = [*partition_cols, F.to_date(ts).alias("date")]
    return df.groupBy(*keys).agg(*aggs).orderBy(*partition_cols, "date")


def error_stats(
    df: DataFrame,
    err_col: str = "err",
    group_cols: Sequence[str] = (),
    percentiles: Sequence[float] = (92.0, 99.5),
    decimals: int | None = None,
) -> DataFrame:
    """Mean/std/min/max/median + percentile thresholds over an error column
    (A6, test.py:333-358; thresholds from parameters.json).

    Exact ``percentile`` (linear interpolation, matches numpy/DuckDB
    quantile_cont); swap to percentile_approx at the 100 TB scale where an
    exact global sort of errors is not worth it.

    ``decimals``: when the column is exact at that decimal precision
    (e.g. the 2-dp events feed), mean/std are computed from integer-grid
    power sums (values at 10^d, squares at 10^2d — both exact) so the
    large-group reductions are order-independent across engines; None
    keeps the engine's float mean/stddev for arbitrary-precision data.
    """
    if decimals is not None:
        g1, g2 = float(10**decimals), float(10 ** (2 * decimals))
        c = F.col(err_col)
        s1 = F.sum(
            F.floor(c * F.lit(g1) + F.lit(0.5)).cast("decimal(38,0)")
        ).cast("double")
        s2 = F.sum(
            F.floor(c * c * F.lit(g2) + F.lit(0.5)).cast("decimal(38,0)")
        ).cast("double")
        n = F.count(c)
        mean = (s1 / F.lit(g1)) / n
        var = (s2 / F.lit(g2) - n.cast("double") * mean * mean) / (n - 1)
        mean_std = [
            mean.alias("mean_err"),
            F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).alias("std_err"),
        ]
    else:
        mean_std = [F.mean(err_col).alias("mean_err"), F.stddev(err_col).alias("std_err")]
    aggs = mean_std + [
        F.min(err_col).alias("min_err"),
        F.max(err_col).alias("max_err"),
        F.expr(f"percentile({err_col}, 0.5)").alias("median_err"),
    ]
    for p in percentiles:
        aggs.append(
            F.expr(f"percentile({err_col}, {p / 100.0})").alias(
                f"p{str(p).replace('.', '_')}"
            )
        )
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def threshold_exceed_counts(
    df: DataFrame,
    err_col: str,
    thresholds: dict[str, float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Anomaly counts/rates: how many errors exceed each threshold (A7,
    test.py:341-344) — conditional agg, one pass for all thresholds."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for name, t in thresholds.items():
        aggs.append(F.sum((F.col(err_col) > F.lit(t)).cast("long")).alias(f"exceed_{name}"))
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def resample_even(
    df: DataFrame,
    n_target: int,
    ts_col: str = "ts",
    partition_cols: Sequence[str] = ("symbol",),
) -> DataFrame:
    """Evenly-spaced downsample of each group to ``n_target`` rows (W4,
    model.py:313-315's np.linspace index pick).

    np.linspace(0, cnt-1, n) picks indices round(i*(cnt-1)/(n-1)); we keep
    rows whose 0-based row_number is one of those. Groups with <= n_target
    rows pass through unchanged. Distributed: one window over the group.
    """
    w = Window.partitionBy(*partition_cols).orderBy(F.col(ts_col).asc())
    out = df.withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy(*partition_cols))
    ).withColumn("__rn", F.row_number().over(w) - 1)
    # idx is selected iff rn == round(k*(cnt-1)/(n-1)) for some integer k in
    # [0, n-1]; invert: k = round(rn*(n-1)/(cnt-1)) and check the round-trip.
    # round(x) spelled floor(x+0.5) so every engine agrees on halfway cases.
    rn, cnt = F.col("__rn"), F.col("__cnt")
    k = F.floor(rn * (n_target - 1) / (cnt - 1) + 0.5)
    selected = F.floor(k * (cnt - 1) / (n_target - 1) + 0.5) == rn
    return (
        out.filter((cnt <= n_target) | selected)
        .drop("__cnt", "__rn")
    )


def chronological_split(
    df: DataFrame,
    order_col: str,
    partition_cols: Sequence[str] = (),
    ratios: Sequence[float] = (0.6, 0.2, 0.2),
    labels: Sequence[str] = ("train", "val", "test"),
) -> DataFrame:
    """Ordered train/val/test split by percent_rank (W3, model.py:326-349's
    60/20/20 chronological split), as a `split` label column."""
    if len(ratios) != len(labels):
        raise ValueError("ratios and labels must align")
    w = (
        Window.partitionBy(*partition_cols).orderBy(F.col(order_col).asc())
        if partition_cols
        else Window.orderBy(F.col(order_col).asc())
    )
    pr = F.percent_rank().over(w)
    expr = None
    cum = 0.0
    for ratio, label in zip(ratios[:-1], labels[:-1]):
        cum += ratio
        cond = pr < F.lit(cum)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    expr = expr.otherwise(labels[-1]) if expr is not None else F.lit(labels[-1])
    return df.withColumn("split", expr)


def key_skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 10,
) -> DataFrame:
    """Shuffle-skew diagnostic: per-key row counts for the ``top_k``
    heaviest keys plus each key's share of total and ratio to the mean
    key weight. Run this before choosing a join/agg strategy — a
    skew_ratio in the hundreds means the hot key needs salting
    (joins.salted_join) or AQE skew splitting; at 100 TB a single hot
    key is the difference between a 5-minute and a 5-hour stage."""
    from pyspark.sql import Window

    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    w = Window.orderBy(F.col("n_rows").desc(), *[F.col(c) for c in key_cols])
    return (
        counts.join(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            *key_cols,
            "n_rows",
            F.round(F.col("n_rows") / F.col("total_rows"), 6).alias("share"),
            F.round(
                F.col("n_rows") / (F.col("total_rows") / F.col("n_keys")), 4
            ).alias("skew_ratio"),
            "rank",
        )
    )


def exact_corr_sums(xi, yi, prefix: str) -> list:
    """Aggregate expressions for an order-independent Pearson corr over
    INTEGER-grid inputs ``xi``/``yi`` (pre-quantized long columns): pair
    count + the five raw sums, with the squared/cross products summed as
    decimal(38,0) so every partial aggregate is exact integer arithmetic
    — no float-summation order for the two oracle engines to disagree
    on. Rows where either side is NULL are excluded from all six, the
    same pair-wise deletion SQL ``corr()`` applies. Bound: |x_int·y_int|
    · n_rows must stay under 1e38 (at |x_int| ≤ 1e9 that allows 1e20
    rows — never the binding constraint)."""
    both = xi.isNotNull() & yi.isNotNull()
    x = F.when(both, xi)
    y = F.when(both, yi)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return [
        F.count(F.when(both, F.lit(1))).alias(f"{prefix}_n"),
        F.sum(x).alias(f"{prefix}_sx"),
        F.sum(y).alias(f"{prefix}_sy"),
        F.sum(dec(x) * dec(y)).alias(f"{prefix}_sxy"),
        F.sum(dec(x) * dec(x)).alias(f"{prefix}_sxx"),
        F.sum(dec(y) * dec(y)).alias(f"{prefix}_syy"),
    ]


def corr_terms(prefix: str):
    """(numerator, x-variance term, y-variance term) over
    :func:`exact_corr_sums` columns — shared by the correlation and
    beta readouts so the two can never drift algebraically. Every input
    is an exact integer cast to double, so both engines combine
    identical IEEE values; oracles mirror these expressions verbatim."""
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n = d(f"{prefix}_n")
    num = n * d(f"{prefix}_sxy") - d(f"{prefix}_sx") * d(f"{prefix}_sy")
    dx = n * d(f"{prefix}_sxx") - d(f"{prefix}_sx") * d(f"{prefix}_sx")
    dy = n * d(f"{prefix}_syy") - d(f"{prefix}_sy") * d(f"{prefix}_sy")
    return num, dx, dy


def exact_corr_value(prefix: str):
    """Pointwise Pearson corr from :func:`exact_corr_sums` columns —
    (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²)), NULL when
    either variance term is ≤ 0 (constant series)."""
    num, dx, dy = corr_terms(prefix)
    return F.when((dx > 0) & (dy > 0), num / (F.sqrt(dx) * F.sqrt(dy)))


def _bucket_means6(
    df: DataFrame, ts_col: str, symbol_col: str, value_col: str, interval_sec: int
) -> DataFrame:
    """``(sym, __b, __v6)``: each symbol's mean value per ``interval_sec``
    bucket on the 1e-6 integer grid (exact BIGINT sum over count, then
    one half-up floor), the resample step of :func:`symbol_correlation`,
    :func:`lead_lag_correlation` and :func:`market_beta`."""
    bucket = (F.col(ts_col).cast("long") / interval_sec).cast("long")
    v6 = F.floor(F.col(value_col) * 1e6 + F.lit(0.5))
    return (
        df.groupBy(F.col(symbol_col).alias("sym"), bucket.alias("__b"))
        .agg(F.sum(v6).alias("__s6"), F.count(value_col).alias("__c"))
        .select(
            "sym",
            "__b",
            # __s6 is already in 1e-6 units, so the grid-snapped mean is
            # one floor of the integer-over-count quotient
            F.floor(
                F.col("__s6").cast("double") / F.col("__c") + F.lit(0.5)
            ).alias("__v6"),
        )
    )


def symbol_correlation(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    value_col: str = "value",
    interval_sec: int = 3600,
    min_buckets: int = 2,
) -> DataFrame:
    """Pairwise Pearson correlation between symbols' resampled series —
    the cross-symbol analytics step downstream of the reference's
    per-symbol statistics (`Symbol Data And Stats`): bucket each symbol
    to ``interval_sec`` means, align buckets with a self-equi-join, and
    correlate per unordered pair.

    Scale: one hash agg to bucket means (map-side combined — the join
    and corr see #buckets×#symbols rows, never raw ticks), a bucket-key
    equi-join producing #buckets×#pairs rows, one pair agg. Quadratic
    ONLY in symbol count (a portfolio dimension, thousands at most),
    linear in data. Pairs with fewer than ``min_buckets`` aligned
    buckets are dropped (corr undefined/meaningless, as are
    zero-variance series — a halted ticker repeating one price).

    Determinism: the bucket mean is computed from per-tick values on a
    1e-6 integer grid (exact BIGINT sum / count), the mean is re-snapped
    to the same grid, and the per-pair Pearson corr uses
    :func:`exact_corr_sums` — every aggregate both engines compare is
    exact integer arithmetic, so partial-agg order cannot move the q6
    result (the r4 doc-query hash-FAIL class).
    """
    means = _bucket_means6(df, ts_col, symbol_col, value_col, interval_sec)
    a, b = means.alias("a"), means.alias("b")
    joined = a.join(
        b,
        (F.col("a.__b") == F.col("b.__b")) & (F.col("a.sym") < F.col("b.sym")),
    )
    agg = joined.groupBy(
        F.col("a.sym").alias("sym_a"), F.col("b.sym").alias("sym_b")
    ).agg(*exact_corr_sums(F.col("a.__v6"), F.col("b.__v6"), "c"))
    c = exact_corr_value("c")
    return (
        agg.withColumn("__corr", c)
        .filter((F.col("c_n") >= min_buckets) & F.col("__corr").isNotNull())
        .select(
            "sym_a",
            "sym_b",
            F.col("c_n").alias("n_buckets"),
            (F.floor(F.col("__corr") * 1e6 + F.lit(0.5)) / 1e6).alias("corr"),
        )
    )


def rv_signature(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "value",
    tiebreak_cols: Sequence[str] = (),
    intervals: Sequence[int] = (60, 300, 900, 3600),
    base_interval: int = 60,
    min_returns: int = 2,
) -> DataFrame:
    """Realized-variance signature plot per symbol: RV(Δ) = Σ (Δp)²
    over previous-tick-sampled prices at each sampling interval Δ — the
    standard microstructure-noise diagnostic (RV inflating as Δ shrinks
    reveals bid-ask bounce; the flat region is the usable sampling
    frequency).

    Scale: raw ticks are reduced ONCE by a single hash agg to
    last-price-per-``base_interval`` bucket (max_by on the
    (ts, tiebreaks) struct — map-side combined, the 100 TB reduction
    step); every coarser Δ then derives from that minute-scale table
    (#symbols×#minutes rows) — exploded ×len(``intervals``), one
    grouped agg, one lag pass, one final agg. Every Δ must be a
    multiple of ``base_interval``.

    Determinism: prices snap to the 1e-6 grid at the tick, every
    sample/diff is exact BIGINT, and RV sums squares as decimal(38,0)
    — the output is a pointwise function of exact integers on both
    engines. ``rv_q6`` is in squared price units.
    """
    for d_ in intervals:
        if d_ % base_interval:
            raise ValueError(
                f"interval {d_} is not a multiple of base_interval "
                f"{base_interval}"
            )
    p6 = F.floor(F.col(price_col) * 1e6 + F.lit(0.5))
    okey = F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak_cols])
    b0 = (F.col(ts_col).cast("long") / base_interval).cast("long")
    base = (
        df.withColumn("__p6", p6)
        .groupBy(F.col(symbol_col).alias("symbol"), b0.alias("__b0"))
        .agg(F.max_by("__p6", okey).alias("__l6"))
    )
    widened = base.select(
        "symbol",
        "__b0",
        "__l6",
        F.explode(
            F.array(*[F.lit(int(d_)) for d_ in intervals])
        ).alias("interval_sec"),
    )
    coarse = widened.groupBy(
        "symbol",
        "interval_sec",
        (
            (F.col("__b0") * base_interval).cast("long")
            / F.col("interval_sec")
        ).cast("long").alias("__b"),
    ).agg(F.max_by("__l6", "__b0").alias("__s6"))
    w = Window.partitionBy("symbol", "interval_sec").orderBy("__b")
    diffs = coarse.withColumn(
        "__dp", F.col("__s6") - F.lag("__s6", 1).over(w)
    )
    dec = F.col("__dp").cast("decimal(38,0)")
    agg = diffs.groupBy("symbol", "interval_sec").agg(
        F.count("__dp").alias("n_returns"),
        F.sum(dec * dec).alias("__ss"),
    )
    rv = F.col("__ss").cast("double") / F.lit(1e12)
    return agg.filter(F.col("n_returns") >= min_returns).select(
        "symbol",
        "interval_sec",
        "n_returns",
        (F.floor(rv * 1e6 + F.lit(0.5)) / 1e6).alias("rv_q6"),
    )


def roll_spread(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "value",
    tiebreak_cols: Sequence[str] = (),
    min_ticks: int = 3,
) -> DataFrame:
    """Roll (1984) effective-spread estimator per symbol: s =
    2·√(−cov(Δp_t, Δp_{t−1})) — bid-ask bounce makes consecutive trade-
    price changes negatively serially correlated, and the covariance
    recovers the implicit spread from trade prices alone (no quote
    data). When the serial covariance is non-negative (trending or
    too-sparse series) the estimator is undefined and the spread is
    NULL — the standard convention.

    Scale: one per-symbol sort (two lags over the same window), one
    hash agg of six integer sums — raw ticks never join or re-shuffle.

    Determinism: prices snap to the 1e-6 integer grid, so Δp and the
    lagged Δp are exact BIGINT differences and :func:`exact_corr_sums`
    accumulates exact integers; cov and the final √ are pointwise IEEE
    ops on identical doubles in both engines. Output ``roll_spread_q6``
    is in price units (the 1e-6 grid divides back out).
    """
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w1 = Window.partitionBy(symbol_col).orderBy(*order)
    p6 = F.floor(F.col(price_col) * 1e6 + F.lit(0.5))
    d = df.withColumn("__p6", p6).withColumn(
        "__dp", F.col("__p6") - F.lag("__p6", 1).over(w1)
    )
    d = d.withColumn("__dpl", F.lag("__dp", 1).over(w1))
    agg = d.groupBy(F.col(symbol_col).alias("symbol")).agg(
        *exact_corr_sums(F.col("__dp"), F.col("__dpl"), "c")
    )
    n = F.col("c_n").cast("double")
    cov6sq = (
        n * F.col("c_sxy").cast("double")
        - F.col("c_sx").cast("double") * F.col("c_sy").cast("double")
    ) / (n * n)
    # cov6sq is in (1e-6 price units)^2; √ converts back to 1e-6 units,
    # the final /1e6 to price units
    spread = F.lit(2.0) * F.sqrt(F.greatest(-cov6sq, F.lit(0.0))) / F.lit(1e6)
    return (
        agg.filter(F.col("c_n") >= min_ticks)
        .select(
            "symbol",
            F.col("c_n").alias("n_pairs"),
            F.when(
                cov6sq < 0, F.floor(spread * 1e6 + F.lit(0.5)) / 1e6
            ).alias("roll_spread_q6"),
        )
    )


def kyle_lambda(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "value",
    size_col: str = "size",
    tiebreak_cols: Sequence[str] = (),
    interval_sec: int = 3600,
    min_buckets: int = 3,
) -> DataFrame:
    """Kyle (1985) price-impact lambda per symbol: the OLS slope of the
    interval price change on the interval's net signed volume, Δp_b =
    λ·q_b + ε — the standard adverse-selection/impact readout that
    completes the trade-prices-only microstructure set next to
    :func:`roll_spread` (cost) and :func:`rv_signature` (noise). Signs
    come from the tick rule with zero-tick carry-forward (the same
    aggressor-side proxy as ``ticks.tick_rule_flow``; unclassified
    leading ticks contribute zero signed volume), q_b = Σ side·size over
    the bucket, Δp_b = close − previous bucket's close (previous-tick
    sampling across empty buckets). Also emits the regression R².

    Scale: one per-symbol sort (lag sign + carry-forward windows), ONE
    hash agg reducing raw ticks to (symbol, bucket) rows — map-side
    combined, the 100 TB reduction step — then a bucket-count-sized lag
    pass and a six-integer-sum agg per symbol. No joins, nothing
    quadratic.

    Determinism: prices snap to the 1e-6 grid at the tick, sides and
    sizes are integers, so q_b and Δp6_b are exact BIGINTs and
    :func:`exact_corr_sums` accumulates exact integer sums — the slope
    and R² are pointwise IEEE ops on identical doubles in both engines
    (the r4 unordered-float-sum hazard is absent by construction).
    ``lambda_q9`` is in price units per unit size (the 1e-6 grid
    divides back out); symbols with constant signed volume (dx ≤ 0) are
    dropped, a flat price series yields λ = 0 with NULL R².
    """
    d = df.withColumn(
        "__p6", F.floor(F.col(price_col) * 1e6 + F.lit(0.5))
    )
    _, side = _tick_side(ts_col, symbol_col, "__p6", tiebreak_cols)
    bucket = (F.col(ts_col).cast("long") / interval_sec).cast("long")
    okey = F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak_cols])
    bars = (
        d.withColumn("__side", side)
        .groupBy(F.col(symbol_col).alias("symbol"), bucket.alias("__b"))
        .agg(
            F.sum(
                F.coalesce(F.col("__side"), F.lit(0)) * F.col(size_col)
            ).alias("__q"),
            F.max_by("__p6", okey).alias("__l6"),
        )
    )
    wb = Window.partitionBy("symbol").orderBy("__b")
    diffs = bars.withColumn(
        "__dp6", F.col("__l6") - F.lag("__l6", 1).over(wb)
    )
    agg = diffs.groupBy("symbol").agg(
        *exact_corr_sums(F.col("__q"), F.col("__dp6"), "c")
    )
    num, dx, dy = corr_terms("c")
    # slope is in 1e-6 price units per unit size; /1e6 restores price
    lam = (num / dx) / F.lit(1e6)
    r2 = F.when(dy > 0, (num * num) / (dx * dy))
    return (
        agg.filter((F.col("c_n") >= min_buckets) & (dx > 0))
        .select(
            "symbol",
            F.col("c_n").alias("n_buckets"),
            (F.floor(lam * 1e9 + F.lit(0.5)) / 1e9).alias("lambda_q9"),
            (F.floor(r2 * 1e6 + F.lit(0.5)) / 1e6).alias("r2_q6"),
        )
    )


def vpin(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "value",
    size_col: str = "size",
    bucket_volume: int = 10_000,
    tiebreak_cols: Sequence[str] = (),
    min_buckets: int = 1,
) -> DataFrame:
    """VPIN (volume-synchronized probability of informed trading) per
    symbol: slice the tape into equal-volume buckets of ``bucket_volume``
    units (the :func:`~..operators.ticks.volume_bars` assignment — a
    tick with PRE-tick cumulative size c lands in bucket c//V, so the
    boundary-crossing tick closes its bucket), sign each tick with
    the tick rule (zero-tick carry-forward, as ``ticks.tick_rule_flow``),
    and average the absolute buy/sell imbalance |B_b − S_b|/V over
    COMPLETE buckets — the flow-toxicity monitor from Easley, López de
    Prado & O'Hara. Unclassified leading ticks fill bucket volume but
    join neither side, so they dilute the imbalance (documented
    convention, mirrored in the oracle); the partial tail bucket is
    excluded.

    Scale: one per-symbol sort shared by the sign, carry-forward, and
    prefix-sum windows, one hash agg to #volume/V bucket rows, one
    per-symbol agg. No joins.

    Determinism: sizes are integers, so bucket ids, B_b, S_b, and the
    Σ|B−S| numerator are exact integers; the single division per output
    row is pointwise — partition layout cannot move ``vpin_q6``.
    """
    if bucket_volume <= 0:
        raise ValueError(
            f"bucket_volume must be positive, got {bucket_volume}"
        )
    d = df.withColumn(
        "__p6", F.floor(F.col(price_col) * 1e6 + F.lit(0.5))
    )
    wc, side = _tick_side(ts_col, symbol_col, "__p6", tiebreak_cols)
    sz = F.col(size_col).cast("bigint")
    d = (
        d.withColumn("__side", side)
        .withColumn("__sz", sz)
        .withColumn("__cum", F.sum(sz).over(wc))
    )
    v = F.lit(int(bucket_volume))
    bucket = F.floor((F.col("__cum") - F.col("__sz")) / v).cast("long")
    buckets = d.groupBy(
        F.col(symbol_col).alias("symbol"), bucket.alias("__b")
    ).agg(
        F.sum(F.when(F.col("__side") == 1, F.col("__sz")).otherwise(0)).alias(
            "__buy"
        ),
        F.sum(
            F.when(F.col("__side") == -1, F.col("__sz")).otherwise(0)
        ).alias("__sell"),
        F.max("__cum").alias("__cmax"),
    )
    complete = buckets.filter(F.col("__cmax") >= (F.col("__b") + 1) * v)
    agg = complete.groupBy("symbol").agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.abs(F.col("__buy") - F.col("__sell"))).alias("__imb"),
    )
    vp = F.col("__imb").cast("double") / (
        F.col("n_buckets") * v
    ).cast("double")
    return agg.filter(F.col("n_buckets") >= min_buckets).select(
        "symbol",
        "n_buckets",
        (F.floor(vp * 1e6 + F.lit(0.5)) / 1e6).alias("vpin_q6"),
    )


def amihud_illiquidity(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "value",
    size_col: str = "size",
    tiebreak_cols: Sequence[str] = (),
    interval_sec: int = 86_400,
    min_periods: int = 2,
) -> DataFrame:
    """Amihud (2002) illiquidity per symbol: the average over periods
    (days by default) of |close-to-close return| / dollar volume — the
    standard price-impact-per-traded-dollar liquidity proxy next to
    :func:`kyle_lambda` (which needs signed flow; Amihud needs only
    absolute return and turnover). Reported ×1e9 (``illiq_e9_q6``), the
    usual scaling.

    Scale: ONE hash agg reduces raw ticks to (symbol, period) rows
    carrying the exact-grid close and the exact dollar-volume integer
    (map-side combined — the 100 TB reduction), then a period-count
    lag pass and one per-symbol agg. No joins.

    Determinism: the per-period ratio |Δp|/DV is pointwise IEEE on
    exact integers, and each period's contribution snaps to a 1e-15
    grid (BIGINT) BEFORE the cross-period average — the unordered
    float-sum hazard is absent by construction even over years of
    periods. Periods without a previous close are excluded; DV > 0
    always (every tick has positive size).
    """
    okey = F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak_cols])
    p6 = F.floor(F.col(price_col) * 1e6 + F.lit(0.5))
    sz = F.col(size_col).cast("bigint")
    period = (F.col(ts_col).cast("long") / interval_sec).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    bars = (
        df.withColumn("__p6", p6)
        .groupBy(F.col(symbol_col).alias("symbol"), period.alias("__d"))
        .agg(
            F.max_by("__p6", okey).alias("__c6"),
            F.sum(dec(F.col("__p6")) * dec(sz)).alias("__pv"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("__d")
    d = bars.withColumn("__prev", F.lag("__c6", 1).over(wd))
    # |r| = |Δp6|/prev6 (grid divides out); DV = pv/1e6 in price units
    absr = F.abs(F.col("__c6") - F.col("__prev")) / F.col("__prev")
    dv = F.col("__pv").cast("double") / F.lit(1e6)
    contrib = F.floor(absr / dv * F.lit(1e15) + F.lit(0.5))
    agg = d.withColumn("__c", contrib).groupBy("symbol").agg(
        F.count("__c").alias("n_periods"),
        F.sum("__c").alias("__s"),
    )
    # __c is |r|/DV in 1e-15 units = (|r|/DV × 1e9) in 1e-6 units
    out_q6 = (
        F.floor(F.col("__s").cast("double") / F.col("n_periods") + F.lit(0.5))
        / 1e6
    )
    return agg.filter(F.col("n_periods") >= min_periods).select(
        "symbol",
        "n_periods",
        out_q6.alias("illiq_e9_q6"),
    )


def lead_lag_correlation(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    value_col: str = "value",
    interval_sec: int = 3600,
    max_lag: int = 3,
    min_buckets: int = 2,
) -> DataFrame:
    """Directional lead-lag correlation between symbols: Pearson corr of
    symbol A's bucket-mean CHANGE at bucket b against symbol B's change
    at bucket b+k, for every ordered pair A≠B and lag k = 1..``max_lag``
    — the cross-symbol predictive-structure scan (does gold move before
    the index?) that complements :func:`symbol_correlation`'s
    contemporaneous, level-based matrix.

    Changes (first differences of CONSECUTIVE bucket means, gaps
    dropped) rather than levels: two trending series correlate near ±1
    at every lag, so level lead-lag is uninformative; differencing is
    the standard pre-whitening step.

    Scale: the same one hash agg to bucket means as
    :func:`symbol_correlation` (map-side combined — raw ticks never
    reach a join), one window-lag pass over #buckets×#symbols rows for
    the diffs, the lead side exploded ×``max_lag``, ONE bucket-key
    equi-join (``a.b + k = g.b`` is an equi-key), one (pair, lag) agg.
    Output rows: #pairs×``max_lag``; join input stays linear in buckets.

    Determinism: bucket means snapped to the 1e-6 integer grid, diffs
    are exact BIGINT subtraction, and the per-(pair, lag) Pearson uses
    :func:`exact_corr_sums` — every compared aggregate is exact integer
    arithmetic; partial-agg order cannot move the q6 output.
    """
    means = _bucket_means6(df, ts_col, symbol_col, value_col, interval_sec)
    w = Window.partitionBy("sym").orderBy("__b")
    diffs = (
        means.withColumn("__pv", F.lag("__v6").over(w))
        .withColumn("__pb", F.lag("__b").over(w))
        .filter(F.col("__pb") == F.col("__b") - 1)
        .select("sym", "__b", (F.col("__v6") - F.col("__pv")).alias("__d6"))
    )
    lead = diffs.select(
        F.col("sym").alias("sym_lead"),
        F.col("__b").alias("__lb"),
        F.col("__d6").alias("__da"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
        ).alias("lag_buckets"),
    )
    lagg = diffs.select(
        F.col("sym").alias("sym_lag"),
        F.col("__b").alias("__gb"),
        F.col("__d6").alias("__db"),
    )
    joined = lead.join(
        lagg,
        (F.col("__lb") + F.col("lag_buckets") == F.col("__gb"))
        & (F.col("sym_lead") != F.col("sym_lag")),
    )
    agg = joined.groupBy("sym_lead", "sym_lag", "lag_buckets").agg(
        *exact_corr_sums(F.col("__da"), F.col("__db"), "c")
    )
    return (
        agg.withColumn("__corr", exact_corr_value("c"))
        .filter((F.col("c_n") >= min_buckets) & F.col("__corr").isNotNull())
        .select(
            "sym_lead",
            "sym_lag",
            "lag_buckets",
            F.col("c_n").alias("n_buckets"),
            (F.floor(F.col("__corr") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "corr_q6"
            ),
        )
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    max_gap: str | None = None,
) -> DataFrame:
    """Greedy ordered funnel: a user's step-k timestamp is the earliest
    step-k event STRICTLY after their step-(k-1) timestamp (the standard
    product-analytics funnel — order matters, revisits don't).
    ``max_gap`` (an INTERVAL string, e.g. ``"24 hours"``) additionally
    bounds each step's gap — the time-bounded funnel that separates a
    conversion from a coincidence; greedy stays correct under the bound
    because taking the EARLIEST qualifying step-k event maximizes every
    later step's window.

    One hash agg for step 0, then per later step one filtered
    user-key equi-join + min-agg — k-1 narrow shuffles keyed by user,
    each over only that step's events. Output: one row per step with
    reached-user counts and conversion vs step 0 (q6).
    """
    from ..functions.scalars import interval_expr

    # validate the caller-supplied gap eagerly (advisor r6: raw string
    # interpolation into F.expr gave opaque Catalyst parse errors — or
    # expression injection — on malformed input); accepts '<n> <unit>'
    # or datetime.timedelta
    gap_expr = interval_expr(max_gap) if max_gap is not None else None
    steps = list(steps)
    cur = df.groupBy(user_col).agg(
        F.min(F.when(F.col(type_col) == steps[0], F.col(ts_col))).alias("t0")
    ).filter(
        # users who never did step 0 can never convert — drop them
        # before the per-step joins instead of carrying them through
        # every shuffle (count(t0) already ignored their nulls)
        F.col("t0").isNotNull()
    )
    for k, s in enumerate(steps[1:], start=1):
        ev = df.filter(F.col(type_col) == s).select(
            F.col(user_col), F.col(ts_col).alias("__ts")
        )
        within = F.col("__ts") > F.col(f"t{k-1}")
        if gap_expr is not None:
            within = within & (F.col("__ts") <= F.col(f"t{k-1}") + gap_expr)
        nxt = (
            ev.join(cur.select(user_col, f"t{k-1}"), user_col)
            .filter(within)
            .groupBy(user_col)
            .agg(F.min("__ts").alias(f"t{k}"))
        )
        cur = cur.join(nxt, user_col, "left")
    counts = cur.agg(
        *[F.count(F.col(f"t{k}")).alias(f"c{k}") for k in range(len(steps))]
    )
    stacked = counts.select(
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("step"), F.col(f"c{k}").alias("users")
                    )
                    for k, s in enumerate(steps)
                ]
            )
        ).alias("step_idx", "s"),
        F.col("c0").alias("__c0"),
    )
    return stacked.select(
        "step_idx",
        F.col("s.step").alias("step"),
        F.col("s.users").alias("users"),
        (
            F.floor(
                F.col("s.users") / F.greatest(F.col("__c0"), F.lit(1)) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("conversion_q6"),
    )


def retention_cohorts(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen ISO week,
    active-user counts per week offset, retention vs the cohort's own
    size (offset 0 is 100% by construction — a user is active in the
    week they first appear).

    Two hash aggs (first-seen per user, distinct user-weeks) and one
    user-key join — all shuffles keyed by user or (cohort, offset).
    """
    wk = F.date_trunc("week", F.col(ts_col))
    first = df.groupBy(user_col).agg(F.min(wk).alias("__cohort"))
    active = df.select(F.col(user_col), wk.alias("__wk")).distinct()
    joined = active.join(first, user_col).select(
        F.col(user_col),
        F.to_date("__cohort").alias("cohort_week"),
        (F.datediff(F.to_date("__wk"), F.to_date("__cohort")) / 7)
        .cast("int")
        .alias("week_offset"),
    )
    # `active` is already distinct on (user, week) and cohort/offset are
    # functions of (user, week), so a plain count equals count-distinct
    # without the partial-distinct aggregate state
    per_cell = joined.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    sizes = per_cell.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("active_users").alias("__size")
    )
    return (
        per_cell.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            (
                F.floor(
                    F.col("active_users") / F.col("__size") * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("retention_q6"),
        )
    )


def transition_matrix(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """First-order Markov transition counts/probabilities between event
    types (the path-analysis primitive behind funnel discovery): for
    each user's time-ordered stream, count (state, next_state) steps and
    normalize per source state.

    One lead() window per user (narrow user-key shuffle of slim
    (user, ts, type) rows) and one (state, next) hash agg — never a
    self-join. Deterministic given a total order: pass ``tiebreak_cols``
    (e.g. an event id) to break duplicate timestamps.
    """
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(user_col).orderBy(*order)
    steps = (
        df.select(F.col(user_col), F.col(ts_col), *tiebreak_cols, F.col(type_col))
        .withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
    )
    counts = steps.groupBy(
        F.col(type_col).alias("state"), F.col("__next").alias("next_state")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = Window.partitionBy("state")
    return counts.select(
        "state",
        "next_state",
        "n",
        (
            F.floor(F.col("n") / F.sum("n").over(totals) * 1e6 + F.lit(0.5)) / 1e6
        ).alias("prob_q6"),
    )


def robust_outliers(
    df: DataFrame,
    value_col: str = "value",
    by: Sequence[str] = ("event_type",),
    z_threshold: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier scoring via the modified z-score
    0.6745·(x − median)/MAD (Iglewicz-Hoaglin) — the despike/winsorize
    companion that does not assume normality and is immune to the
    outliers it hunts (reference domain: the cleaner's bad-print
    detection, `spark_data_cleaner_script.py`).

    Two exact-percentile aggregates (median, then median of absolute
    deviations) with the group-level results broadcast back onto the
    stream — the tick stream itself never shuffles. Returns the input
    plus ``med``/``mad``/``robust_z`` (NULL when the value is NULL or
    the group's MAD is 0 or too small for a finite quotient — a
    subnormal MAD overflows 0.6745·(x−med)/mad to ±inf, which is just
    "MAD is effectively 0" and gets the same NULL) and an
    ``is_outlier`` flag at ``z_threshold``.
    """
    by = list(by)
    med_tbl = (
        df.na.drop(subset=by)
        .groupBy(*by)
        .agg(F.percentile(F.col(value_col), F.lit(0.5)).alias("med"))
    )
    with_med = df.join(F.broadcast(med_tbl), by, "left")
    mad_tbl = (
        with_med.na.drop(subset=by)
        .groupBy(*by)
        .agg(
            F.percentile(F.abs(F.col(value_col) - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    out = with_med.join(F.broadcast(mad_tbl), by, "left")
    z_raw = F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad")
    z = F.when(
        F.col(value_col).isNotNull()
        & (F.col("mad") > 0)
        & ~F.isnan(z_raw)
        & (F.abs(z_raw) < F.lit(float("inf"))),
        z_raw,
    )
    return out.withColumn("robust_z", z).withColumn(
        "is_outlier",
        F.when(z.isNotNull(), F.abs(z) > z_threshold).otherwise(F.lit(False)),
    )


def moment_stats(
    df: DataFrame,
    value_col: str = "value",
    by: Sequence[str] = ("event_type",),
    input_grid: float = 1e4,
) -> DataFrame:
    """Higher-moment distribution profile per group: population skewness
    (m3/m2^1.5) and excess kurtosis (m4/m2² − 3) computed from raw power
    sums in ONE hash aggregate — no second centering pass, no built-in
    `skewness`/`kurtosis` (whose sample-correction conventions differ
    across engines; the explicit raw-moment formula is portable to any
    SQL oracle).

    Central moments from raw sums: m2 = s2/n − μ², m3 = s3/n − 3μs2/n +
    2μ³, m4 = s4/n − 4μs3/n + 6μ²s2/n − 3μ⁴. Single shuffle on the
    group key, map-side partials; NULL values are excluded from n.

    Determinism: values are snapped to a 1/``input_grid`` integer grid
    (default 1e-4) and the four power sums accumulate decimal(38,0) —
    exact integer arithmetic, so partial-agg order cannot move the q6
    outputs (the r4 hash-FAIL class; power sums are its worst case,
    |x⁴| dwarfs the final ratio). Bound: (|x|·grid)⁴·n_rows < 1e38,
    i.e. |x| ≤ ~3e4 at the default grid with 1e12 rows — pick a coarser
    grid for wider domains.
    """
    xi = F.floor(F.col(value_col).cast("double") * F.lit(input_grid) + F.lit(0.5))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    xd = dec(xi)
    agg = (
        df.groupBy(*[F.col(c) for c in by])
        .agg(
            F.count(xi).alias("n"),
            F.sum(xi).alias("__i1"),
            F.sum(xd * xd).alias("__i2"),
            F.sum(xd * xd * xd).alias("__i3"),
            F.sum(xd * xd * xd * xd).alias("__i4"),
        )
    )
    g = float(input_grid)
    s1 = F.col("__i1").cast("double") / F.lit(g)
    s2 = F.col("__i2").cast("double") / F.lit(g * g)
    s3 = F.col("__i3").cast("double") / F.lit(g * g * g)
    s4 = F.col("__i4").cast("double") / F.lit(g * g * g * g)
    n = F.col("n").cast("double")
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu
    m4 = (
        s4 / n
        - 4 * mu * s3 / n
        + 6 * mu * mu * s2 / n
        - 3 * mu * mu * mu * mu
    )
    return agg.select(
        *by,
        "n",
        q6(mu).alias("mean_q6"),
        # m2 can cancel to a tiny negative for near-constant groups —
        # clamp so std is 0, not NaN (oracle mirrors with GREATEST)
        q6(F.sqrt(F.greatest(m2, F.lit(0.0)))).alias("std_q6"),
        # sqrt(m2)^3 as sqrt*m2 products — sqrt is IEEE correctly-rounded
        # and multiplies are exact ops, so both engines agree bit-for-bit
        # (libm pow(x, 3) is not correctly rounded and can differ)
        q6(F.when(m2 > 0, m3 / (F.sqrt(m2) * m2))).alias("skew_q6"),
        q6(F.when(m2 > 0, m4 / (m2 * m2) - 3)).alias("kurt_q6"),
    )


def global_cumsum(
    df: DataFrame,
    order_cols: Sequence,
    value_col: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Global running sum over a total order WITHOUT a single-partition
    window — the scale-correct building block for Pareto/ABC curves,
    global quantile ranks and cumulative-share reports.

    The naive ``Window.orderBy(...)`` (no partitionBy) funnels the whole
    dataset through ONE task; this instead:

    1. ``repartitionByRange`` on the order (range exchange — the same
       shuffle a global sort needs anyway),
    2. per-partition prefix sums via a window PARTITIONED by
       ``spark_partition_id()`` (parallel),
    3. per-partition totals → exclusive offsets on the driver
       (``num_partitions`` rows — metadata, corpus-size-independent),
       broadcast-joined back.

    Requires ``order_cols`` to be a TOTAL order (unique key) — range
    partitioning may split equal keys across partition boundaries, which
    would make the per-partition offset attribution ambiguous.
    Returns the input plus ``cum_<value_col>``.
    """
    ordered = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # PIN the range partitioning: repartitionByRange samples the data to
    # pick boundaries, and a recompute between the offsets action below
    # and the caller's final action may sample DIFFERENT boundaries —
    # the per-partition offsets would then be attributed to the wrong
    # rows (caught by the 1M-row scale smoke; invisible at toy sizes
    # where the sample is exhaustive).
    local = ordered.withColumn(
        "__local_cum", F.sum(F.col(value_col)).over(w)
    ).localCheckpoint()
    # partition total = sum of the values, NOT max(prefix): with negative
    # values the running prefix can peak before the last row.
    #
    # The exclusive offsets are computed DISTRIBUTIVELY — a running sum
    # over the num_partitions-row totals frame (metadata-scale, one
    # single-partition window) broadcast-joined back — instead of the
    # r11 collect + Python loop + createDataFrame round trip, which
    # cost a separate job plus py4j serialization per call (~0.45 s at
    # 32 partitions; this operator is called up to 3× per query in the
    # CDF-sweep family). Values are bit-identical: the window's
    # left-to-right add order over __pid equals the Python loop's, the
    # integral path stays exact 64-bit, and the non-integral path casts
    # each partition total to double BEFORE accumulating — exactly the
    # float(t) the loop applied (TPC-H decimal totals must not hit
    # exact-decimal accumulation here, which could flip 1e-6 snaps vs
    # the driver-pinned oracle values).
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    integral = isinstance(
        local.schema[value_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    ptot = F.sum(F.col(value_col))
    totals = local.groupBy("__pid").agg(
        (ptot if integral else ptot.cast("double")).alias("__ptot")
    )
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # all-NULL partitions sum to a NULL total — the window sum skips
    # NULLs, so they contribute 0 to every later offset, same as the
    # loop's None -> 0; the first partition's empty exclusive frame
    # (NULL) is the loop's running = 0 start
    off_df = totals.select(
        "__pid",
        F.coalesce(
            F.sum("__ptot").over(w_off),
            F.lit(0).cast("bigint" if integral else "double"),
        ).alias("__offset"),
    )
    return (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(f"cum_{value_col}", F.col("__local_cum") + F.col("__offset"))
        .drop("__pid", "__local_cum", "__offset")
    )


def global_cummax(
    df: DataFrame,
    order_cols: Sequence,
    value_col: str,
    num_partitions: int = 32,
    exclusive: bool = False,
) -> DataFrame:
    """Global running MAX over a total order WITHOUT a single-partition
    window — the max-monoid sibling of :func:`global_cumsum` (same
    range-exchange + per-partition window + driver-offsets shape; max
    is associative and idempotent, so the decomposition is exact for
    any comparable type Spark can aggregate).

    ``exclusive=True`` returns the running max over STRICTLY PRECEDING
    rows (NULL for the global first row) — the form dominance/skyline
    scans need ("best value among everything ranked above me").
    Requires ``order_cols`` to be a TOTAL order (unique key), exactly
    like global_cumsum. Returns the input plus ``cummax_<value_col>``.
    """
    ordered = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    lo = -1 if exclusive else 0
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, lo)
    )
    # same boundary pin as global_cumsum: a recompute must not resample
    # range boundaries between the offsets action and the final action
    local = ordered.withColumn(
        "__local_max", F.max(F.col(value_col)).over(w)
    ).localCheckpoint()
    # per-partition INCLUSIVE totals feed the offsets regardless of
    # exclusive: partition p's offset is the max over all rows of
    # partitions < p
    # distributive offsets, same shape as global_cumsum: running max
    # over the num_partitions-row totals frame (exclusive window; max
    # skips NULL totals exactly like the old loop skipped None, and the
    # empty first frame is the loop's running = None start — no
    # coalesce, a NULL offset means "no preceding partition has a
    # value"). Max never changes the value type, so no integral/double
    # branching is needed.
    totals = local.groupBy("__pid").agg(
        F.max(F.col(value_col)).alias("__ptot")
    )
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_df = totals.select(
        "__pid", F.max("__ptot").over(w_off).alias("__offset")
    )
    out_col = f"cummax_{value_col}"
    return (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out_col,
            F.when(
                F.col("__local_max").isNull(), F.col("__offset")
            ).otherwise(
                F.when(
                    F.col("__offset").isNull(), F.col("__local_max")
                ).otherwise(F.greatest("__local_max", "__offset"))
            ),
        )
        .drop("__pid", "__local_max", "__offset")
    )


def abc_classification(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    a_share: float = 0.8,
    b_share: float = 0.95,
    num_partitions: int = 32,
    decimals: int = 4,
) -> DataFrame:
    """Pareto/ABC analysis: rank keys by total ``value_col`` descending,
    compute each key's cumulative share of the grand total, and classify
    A (the head that covers ``a_share`` of the total), B (up to
    ``b_share``), C (the tail) — the inventory/revenue-concentration
    report every warehouse runs.

    Values are quantized to an exact integer grid PER ROW (``decimals``
    matches the data's decimal precision), summed as decimal(38,0), and
    only then converted to cents — both the per-key totals and the
    cumulative pass are exact integer arithmetic, associative and
    engine-independent (a cents snap AFTER a float sum can flip on the
    engines' different partial-agg orders). Uses
    :func:`global_cumsum` (range-partitioned prefix sums), never a
    single-partition global window. Share boundaries are half-open:
    a key is 'A' while the cumulative share is ≤ ``a_share`` (the first
    key is always 'A' even if it alone exceeds the threshold).
    """
    grid = float(10**decimals)
    per_key = df.groupBy(*key_cols).agg(
        F.sum(
            F.floor(F.col(value_col) * F.lit(grid) + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("__vg")
    )
    per_key = per_key.select(
        *key_cols,
        cents(F.col("__vg") / F.lit(grid)).alias("__cents"),
    )
    order = [F.col("__cents").desc(), *[F.col(c).asc() for c in key_cols]]
    cum = global_cumsum(
        per_key, order_cols=order, value_col="__cents", num_partitions=num_partitions
    )
    total = per_key.agg(F.sum("__cents").alias("__total"))
    share = F.col("cum___cents") / F.col("__total")
    prev_share = (F.col("cum___cents") - F.col("__cents")) / F.col("__total")
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            (F.col("__cents") / 100.0).alias("total_value"),
            (F.floor(share * 1e6 + F.lit(0.5)) / 1e6).alias("cum_share_q6"),
            F.when(prev_share < a_share, "A")
            .when(prev_share < b_share, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


def type_affinity(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Market-basket affinity between event types: for every unordered
    type pair, how many users did both, with support, confidence (a→b)
    and lift — the co-occurrence report behind "users who X also Y".

    Scale shape: the classic formulation self-joins the (user, type)
    table on the user key — at 100 TB that shuffle carries the corpus
    twice and hot users quadratically. Instead: ``collect_set`` per user
    (bounded by the type alphabet, not by user activity), pairs
    generated INSIDE the row via an expression over the sorted set, then
    one hash agg per pair — the only shuffles are the user-key distinct
    and alphabet²-sized aggregates; no self-join exists in the plan.
    Returns (type_a < type_b, n_users_both, support_q6, conf_a_to_b_q6,
    lift_q6).
    """
    ut = (
        df.select(F.col(user_col).alias("u"), F.col(type_col).alias("t"))
        .na.drop(subset=["u", "t"])
    )
    per_user = ut.groupBy("u").agg(F.sort_array(F.collect_set("t")).alias("types"))
    pairs = per_user.select(
        F.explode(
            F.expr(
                "flatten(transform(types, (x, i) -> "
                "transform(slice(types, i + 2, size(types)), y -> "
                "struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("type_a"), F.col("p.b").alias("type_b"))
    pair_n = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_users_both")
    )
    type_n = per_user.select(F.explode("types").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("c")
    )
    total = per_user.agg(F.count(F.lit(1)).alias("nu"))
    return (
        pair_n.join(
            F.broadcast(type_n.withColumnRenamed("t", "type_a").withColumnRenamed("c", "ca")),
            "type_a",
        )
        .join(
            F.broadcast(type_n.withColumnRenamed("t", "type_b").withColumnRenamed("c", "cb")),
            "type_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "type_a",
            "type_b",
            "n_users_both",
            q6(F.col("n_users_both") / F.col("nu")).alias("support_q6"),
            q6(F.col("n_users_both") / F.col("ca")).alias("conf_a_to_b_q6"),
            q6(
                F.col("n_users_both") * F.col("nu") / (F.col("ca") * F.col("cb"))
            ).alias("lift_q6"),
        )
    )


def cusum_changepoints(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    by: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """One-sided CUSUM change-point detection per series (Page 1954):
    the standard drift/level-shift monitor over a metric stream —
    upward statistic S⁺ᵢ = max(0, S⁺ᵢ₋₁ + zᵢ − k) and the symmetric
    downward S⁻, alarm when either exceeds ``h`` (both in σ units).

    The recurrence looks inherently sequential, but the clamped form has
    a closed window solution: with Pᵢ = Σ(zⱼ − k), S⁺ᵢ = Pᵢ −
    min(0, min_{j≤i} Pⱼ) — ONE prefix-sum window plus ONE running-min
    window over the same per-series sort, no recursion, no UDF, no
    iteration. z-scores are q6-quantized before the prefix sums so both
    engines accumulate identical doubles in identical order (windowed
    sums are sequential within a partition) — the alarm set is then
    bit-reproducible.

    Scale shape: one stats aggregate broadcast back (the stream never
    shuffles for it) + one sort per series partition with three window
    passes over it. Returns the input plus ``cusum_up``/``cusum_dn``/
    ``alarm_up``/``alarm_dn``.
    """
    from ..functions.exactagg import exact_avg

    by = list(by)
    x = F.col(value_col).cast("double")
    # reference moments from exact integer-grid sums (the feed is exact
    # at 2 dp): a float-sum ulp in mu/sd would flip the q6 z-scores and
    # cascade through every downstream CUSUM decision
    st = (
        df.na.drop(subset=by)
        .groupBy(*by)
        .agg(
            exact_avg(x, 2).alias("__mu"),
            exact_avg(x * x, 4).alias("__m2"),
        )
        .select(
            *by,
            "__mu",
            F.sqrt(
                F.greatest(
                    F.col("__m2") - F.col("__mu") * F.col("__mu"), F.lit(0.0)
                )
            ).alias("__sd"),
        )
    )
    j = df.join(F.broadcast(st), by, "left")
    z = F.when(
        x.isNotNull() & (F.col("__sd") > 0), (x - F.col("__mu")) / F.col("__sd")
    ).otherwise(F.lit(0.0))
    zq = F.floor(z * 1e6 + F.lit(0.5)) / 1e6
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    wseq = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    up_p = F.sum(zq - F.lit(k)).over(wseq)
    dn_p = F.sum(-zq - F.lit(k)).over(wseq)
    out = (
        j.withColumn("__zq", zq)
        .withColumn("__pu", up_p)
        .withColumn("__pd", dn_p)
        .withColumn("cusum_up", F.col("__pu") - F.least(F.min("__pu").over(wseq), F.lit(0.0)))
        .withColumn("cusum_dn", F.col("__pd") - F.least(F.min("__pd").over(wseq), F.lit(0.0)))
    )
    return (
        out.withColumn("alarm_up", F.col("cusum_up") > h)
        .withColumn("alarm_dn", F.col("cusum_dn") > h)
        .drop("__mu", "__sd", "__zq", "__pu", "__pd")
    )


def islands(
    df: DataFrame,
    flag_col: str,
    ts_col: str = "ts",
    by: Sequence[str] = ("symbol",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Gaps-and-islands: collapse CONSECUTIVE flagged rows (by the
    series order) into intervals — the standard way to turn a per-row
    anomaly/threshold flag into reportable episodes (outage windows,
    alarm bursts, trading halts).

    The island id is the classic double-row_number difference: rows are
    numbered over the whole series and over the flagged subset; the
    difference is constant within each contiguous flagged run. Both
    windows share ONE partition/order — one sort per series, then a
    per-island hash agg. Returns (by…, island_start, island_end,
    n_rows).
    """
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(*by).orderBy(*order)
    wf = Window.partitionBy(*by, F.col(flag_col)).orderBy(*order)
    runs = (
        df.withColumn("__rn_all", F.row_number().over(w))
        .withColumn("__rn_flag", F.row_number().over(wf))
        .filter(F.col(flag_col).cast("boolean"))
        .withColumn("__island", F.col("__rn_all") - F.col("__rn_flag"))
    )
    return runs.groupBy(*by, "__island").agg(
        F.min(ts_col).alias("island_start"),
        F.max(ts_col).alias("island_end"),
        F.count(F.lit(1)).alias("n_rows"),
    ).drop("__island")


def market_beta(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    value_col: str = "value",
    interval_sec: int = 3600,
    min_buckets: int = 2,
) -> DataFrame:
    """Per-symbol beta and correlation against the equal-weight market —
    the single-factor exposure readout next to
    :func:`symbol_correlation` (same resample-and-align skeleton, one
    market join instead of a pair self-join, so LINEAR in symbols).

    The market series is the equal-weight mean of the symbols' bucket
    means, symbol itself included (documented convention — with
    portfolio-sized symbol counts the self-term is 1/n_symbols of the
    weight). beta = cov(sym, mkt)/var(mkt) from the same exact-integer
    Pearson sums as everywhere else (:func:`exact_corr_sums`): bucket
    means and the market mean are grid-snapped BIGINTs, so the q6
    result is partition-layout-independent. NULL-variance symbols (or
    a flat market) drop out, as does any symbol with fewer than
    ``min_buckets`` aligned buckets.
    """
    means = _bucket_means6(df, ts_col, symbol_col, value_col, interval_sec)
    mkt = means.groupBy("__b").agg(
        F.floor(
            F.sum("__v6").cast("double") / F.count("__v6") + F.lit(0.5)
        ).alias("__m6")
    )
    joined = means.join(mkt, "__b")
    agg = joined.groupBy("sym").agg(
        *exact_corr_sums(F.col("__v6"), F.col("__m6"), "c")
    )
    num, _dx, dm = corr_terms("c")
    beta = F.when(dm > 0, num / dm)
    corr = exact_corr_value("c")
    return (
        agg.withColumn("__beta", beta)
        .withColumn("__corr", corr)
        .filter((F.col("c_n") >= min_buckets) & F.col("__beta").isNotNull())
        .select(
            "sym",
            F.col("c_n").alias("n_buckets"),
            q6(F.col("__beta")).alias("beta"),
            q6(F.col("__corr")).alias("mkt_corr"),
        )
    )


def frac_diff_weights(d: float, window: int) -> list[float]:
    """Fixed-width fractional-differentiation weights (López de Prado
    2018, ch. 5 FFD): w_0 = 1, w_k = -w_{k-1}·(d - k + 1)/k, truncated
    at ``window`` terms. Computed driver-side (a ``window``-length
    python recurrence — metadata scale) and shipped as literals, so
    both engines consume the identical doubles."""
    w = [1.0]
    for k in range(1, window):
        w.append(-w[-1] * (d - k + 1) / k)
    return w


def frac_diff(
    bars: DataFrame,
    d: float = 0.4,
    window: int = 20,
    symbol_col: str = "symbol",
    ts_col: str = "bar_ts",
    price_i4_col: str = "close_i4",
) -> DataFrame:
    """Fixed-width fractional differentiation of an integer-grid price
    series (López de Prado 2018, ch. 5): x̃_t = Σ_{k<window} w_k·x_{t−k}
    — the stationarity transform that, unlike first differences
    (d = 1), preserves long-range memory; d is tuned to the smallest
    value passing an ADF test and 0.3-0.6 is typical for prices.

    Rows without a full ``window`` of history emit NULL (the
    fixed-width variant's contract — no expanding-window drift).

    Determinism: each w_k·x_{t−k} term is ONE correctly-rounded double
    product snapped to a 1e-9-relative integer grid, and the ≤ window
    terms sum as exact BIGINT (scale-separation rule) — identical lag
    algebra in the SQL oracle.

    Scale shape: one window sort per symbol partition computes all
    ``window`` lags in a single pass; no joins, no explode. The same
    sort is shared with every other per-symbol bar operator.

    Returns (symbol, ts, price_i4, ffd_q6).
    """
    from pyspark.sql import Window as W

    wts = frac_diff_weights(d, window)
    w = W.partitionBy(symbol_col).orderBy(ts_col)
    terms = [
        F.floor(
            F.lag(F.col(price_i4_col), k).over(w).cast("double")
            * F.lit(wk)
            * F.lit(1e9)
            + F.lit(0.5)
        )
        for k, wk in enumerate(wts)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    ffd = q6(total.cast("double") / F.lit(1e9) / F.lit(1e4))
    return bars.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("ts"),
        F.col(price_i4_col).alias("price_i4"),
        F.when(
            F.lag(F.col(price_i4_col), window - 1).over(w).isNotNull(), ffd
        ).alias("ffd_q6"),
    )
