"""Tick operator unit tests on FIXTURES.md §1-shaped data: nulls,
unparseable timestamps, duplicate seconds, negative spreads, ±inf."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from big_data_project_jan_2026_tick_data__spark.operators import stats, ticks


@pytest.fixture(scope="module")
def raw_ticks(spark):
    rows = [
        # DateTime, Bid, Ask, Volume, symbol
        ("20260105 07:50:00.100", 100.0, 100.5, 1.0, "US30"),
        ("20260105 07:50:00.200", 100.1, 100.6, 1.0, "US30"),  # same second
        ("20260105 07:50:01.000", 100.2, 100.7, 1.0, "US30"),
        ("20260105 07:55:30.000", None, 100.8, 1.0, "US30"),   # null bid
        ("20260105 08:30:00.000", 101.0, 100.0, 1.0, "US30"),  # out of window, neg spread
        ("20260105 13:51:00.000", 102.0, 102.5, 1.0, "US30"),
        ("not-a-timestamp", 103.0, 103.5, 1.0, "US30"),        # unparseable
        (None, 104.0, 104.5, 1.0, "US30"),                     # null ts
        ("20260105 07:50:00.150", 42000.0, 42001.0, 1.0, "BTCUSD"),
        ("20260105 13:59:59.999", 42010.0, float("inf"), 1.0, "BTCUSD"),
    ]
    return spark.createDataFrame(
        rows, "DateTime string, Bid double, Ask double, Volume double, symbol string"
    )


def test_parse_ticks_drops_unparseable_and_volume(raw_ticks):
    out = ticks.parse_ticks(raw_ticks)
    assert "Volume" not in out.columns
    assert set(out.columns) == {"ts", "bid", "ask", "symbol"}
    assert out.count() == 8  # 2 unparseable rows dropped
    assert out.filter(F.col("ts").isNull()).count() == 0


def test_session_filter_bounds(raw_ticks):
    parsed = ticks.parse_ticks(raw_ticks)
    # [start,end): 13:59:59.999 in, 08:30 out
    left = ticks.session_filter(parsed, closed="left")
    assert left.count() == 7
    # hour_tail (reference cleaner): keeps whole 7th/13th hour from :50
    tail = ticks.session_filter(parsed, closed="hour_tail")
    assert tail.count() == 7


def test_downsample_1s_deterministic_first(raw_ticks):
    parsed = ticks.parse_ticks(raw_ticks)
    ds = ticks.downsample_1s(parsed, partition_cols=("symbol",))
    us30_0750 = ds.filter(
        (F.col("symbol") == "US30")
        & (F.date_trunc("second", "ts") == "2026-01-05 07:50:00")
    ).collect()
    assert len(us30_0750) == 1
    assert us30_0750[0]["bid"] == 100.0  # earliest tick in the second wins


def test_spread_clamped_at_zero(raw_ticks):
    parsed = ticks.with_spread(ticks.parse_ticks(raw_ticks))
    neg = parsed.filter(F.col("ask") < F.col("bid")).collect()
    assert all(r["spread"] == 0.0 for r in neg)


def test_scrub_inf_then_fills(spark):
    df = spark.createDataFrame(
        [
            ("X", 1, 1.0),
            ("X", 2, float("inf")),
            ("X", 3, float("nan")),
            ("X", 4, 4.0),
            ("X", 5, None),
        ],
        "symbol string, ts long, v double",
    )
    scrubbed = ticks.scrub_inf_nan(df, ["v"])
    vals = {r["ts"]: r["v"] for r in scrubbed.collect()}
    assert vals[2] is None and vals[3] is None
    filled = ticks.ffill(scrubbed, ["v"], ts_col="ts")
    vals = {r["ts"]: r["v"] for r in filled.collect()}
    assert vals == {1: 1.0, 2: 1.0, 3: 1.0, 4: 4.0, 5: 4.0}
    # leading null needs bfill
    df2 = spark.createDataFrame(
        [("X", 1, None), ("X", 2, 2.0)], "symbol string, ts long, v double"
    )
    bf = ticks.bfill(df2, ["v"], ts_col="ts")
    assert {r["ts"]: r["v"] for r in bf.collect()} == {1: 2.0, 2: 2.0}


def test_shift_timezone(spark):
    df = spark.createDataFrame(
        [("X", "2026-01-05 07:50:00")], "symbol string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = ticks.shift_timezone(df, hours=2).collect()[0]
    assert out["ts"].hour == 9


def test_daily_window_counts_empty_window_zero(spark):
    # day with only a morning-window tick: afternoon count must be 0
    df = spark.createDataFrame(
        [("X", "2026-01-05 07:55:00"), ("X", "2026-01-06 13:55:00")],
        "symbol string, s string",
    ).withColumn("ts", F.to_timestamp("s"))
    out = stats.daily_window_counts(df, partition_cols=("symbol",))
    rows = {str(r["date"]): (r["ticks_window1"], r["ticks_window2"]) for r in out.collect()}
    assert rows == {"2026-01-05": (1, 0), "2026-01-06": (0, 1)}


def test_quality_scan_single_row(raw_ticks):
    out = stats.quality_scan(raw_ticks, cols=["DateTime", "Bid", "Ask"]).collect()[0]
    assert out["total_rows"] == 10
    assert out["null_DateTime"] == 1
    assert out["null_Bid"] == 1
    assert out["null_Ask"] == 0


def test_despike_removes_bad_print(spark):
    """An isolated 10x spike inside a stable series is dropped; normal
    ticks and the series head survive."""
    import pandas as pd

    from big_data_project_jan_2026_tick_data__spark.operators.ticks import despike

    base = pd.Timestamp(2026, 1, 5, 7, 50, 0)
    rows = [
        ("US30", base + pd.Timedelta(seconds=10 * i), 100.0 + (i % 3))
        for i in range(10)
    ]
    rows.insert(5, ("US30", base + pd.Timedelta(seconds=45), 1000.0))  # spike
    pdf = pd.DataFrame(rows, columns=["symbol", "ts", "bid"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf)
    out = despike(df, value_col="bid", max_rel_dev=0.5).collect()
    vals = sorted(r.bid for r in out)
    assert 1000.0 not in vals
    assert len(vals) == 10


def test_despike_keeps_rows_when_median_is_zero(spark):
    """A trailing median of 0 makes the relative deviation a division by
    zero, which is NULL: the row is kept, even a jump from 0 to 5."""
    from big_data_project_jan_2026_tick_data__spark.operators.ticks import despike

    df = spark.createDataFrame(
        [("US30", i, v) for i, v in enumerate([0.0, 0.0, 0.0, 5.0])],
        "symbol string, i long, bid double",
    ).withColumn("ts", F.timestamp_seconds(F.col("i") * 10))
    out = despike(df, value_col="bid", k=4, max_rel_dev=0.5).collect()
    assert sorted(r.bid for r in out) == [0.0, 0.0, 0.0, 5.0]


def test_winsorize_contract(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import ticks as tk

    rows = [("A", float(v)) for v in range(1, 100)] + [
        ("A", 10_000.0),   # high outlier
        ("A", -10_000.0),  # low outlier
        ("B", 5.0),
    ]
    df = spark.createDataFrame(
        [(s, i, v) for i, (s, v) in enumerate(rows)],
        "symbol string, tid long, value double",
    )
    out = {
        (r["symbol"], r["tid"]): r
        for r in tk.winsorize(
            df, value_cols=("value",), lo=0.05, hi=0.95
        ).collect()
    }
    a_vals = [r["value"] for k, r in out.items() if k[0] == "A"]
    a_flags = [r["value_clamped"] for k, r in out.items() if k[0] == "A"]
    # the two outliers were pulled inside the observed [p5, p95] band
    assert max(a_vals) < 10_000.0 and min(a_vals) > -10_000.0
    assert sum(a_flags) >= 2
    # mid-range values untouched and unflagged
    mid = next(r for k, r in out.items() if k[0] == "A" and r["value"] == 50.0)
    assert not mid["value_clamped"]
    # single-value group: both bounds equal the value, nothing clamps
    b = next(r for k, r in out.items() if k[0] == "B")
    assert b["value"] == 5.0 and not b["value_clamped"]


def test_winsorize_null_value_and_null_group_key(spark):
    """Review regressions: a NULL value must stay NULL and unflagged
    (greatest/least skip NULLs and would fabricate the low bound), and a
    NULL group key must not be dropped by the bounds join."""
    from big_data_project_jan_2026_tick_data__spark.operators import ticks as tk

    df = spark.createDataFrame(
        [("A", 1, 1.0), ("A", 2, 2.0), ("A", 3, None), (None, 4, 9.0)],
        "symbol string, tid long, value double",
    )
    out = {r["tid"]: r for r in tk.winsorize(df, value_cols=("value",), lo=0.25, hi=0.75).collect()}
    assert len(out) == 4
    assert out[3]["value"] is None and not out[3]["value_clamped"]
    assert out[4]["value"] == 9.0 and not out[4]["value_clamped"]


def test_drawdown_running_peak_and_guard(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 5, 9, 0, 0)
    rows = [
        # symbol A: 100 -> 110 -> 99 -> 104: max dd = (110-99)/110
        ("A", t0, 1, 100.0),
        ("A", t0 + dt.timedelta(seconds=1), 2, 110.0),
        ("A", t0 + dt.timedelta(seconds=2), 3, 99.0),
        ("A", t0 + dt.timedelta(seconds=3), 4, 104.0),
        # symbol B: non-positive peak -> dd_pct NULL everywhere
        ("B", t0, 5, -5.0),
        ("B", t0 + dt.timedelta(seconds=1), 6, -7.0),
    ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, event_id long, value double")
    per_tick = ticks.drawdown(
        df, partition_cols=("symbol",), tiebreak_cols=("event_id",)
    )
    a = {r["event_id"]: r for r in per_tick.filter("symbol = 'A'").collect()}
    assert a[2]["peak"] == 110.0 and a[2]["dd"] == 0.0
    assert a[3]["peak"] == 110.0 and abs(a[3]["dd_pct"] - 11.0 / 110.0) < 1e-12
    assert all(r["dd_pct"] is None for r in per_tick.filter("symbol = 'B'").collect())

    summ = {r["symbol"]: r for r in ticks.max_drawdown_summary(
        df, partition_cols=("symbol",), tiebreak_cols=("event_id",)
    ).collect()}
    assert abs(summ["A"]["max_dd_pct"] - round(11.0 / 110.0, 6)) < 1e-9
    assert summ["A"]["trough_ts"] == t0 + dt.timedelta(seconds=2)
    assert summ["A"]["n_ticks"] == 4
    # B has no positive-peak tick at all -> no summary row
    assert "B" not in summ


def test_drawdown_tie_resolves_to_earliest_trough(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 5, 9, 0, 0)
    rows = [
        ("A", t0, 1, 100.0),
        ("A", t0 + dt.timedelta(seconds=1), 2, 90.0),   # dd_pct 0.1
        ("A", t0 + dt.timedelta(seconds=2), 3, 95.0),
        ("A", t0 + dt.timedelta(seconds=3), 4, 90.0),   # same depth, later
    ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, event_id long, value double")
    row = ticks.max_drawdown_summary(
        df, partition_cols=("symbol",), tiebreak_cols=("event_id",)
    ).collect()[0]
    assert row["trough_ts"] == t0 + dt.timedelta(seconds=1)


def test_vwap_twap_hand_computed(spark):
    """3 ticks in one minute bar with known sizes and holding times:
    vwap = Σp·v/Σv, twap holds each price to the next tick (last one to
    the bar end), excluding the span before the first tick."""
    import datetime as dt

    from big_data_project_jan_2026_tick_data__spark.operators.ticks import (
        vwap_twap_bars,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 30, 0)

    def at(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        ("A", at(10), 100.0, 1, 1),   # holds 20 s
        ("A", at(30), 102.0, 3, 2),   # holds 15 s
        ("A", at(45), 101.0, 1, 3),   # holds to bar end: 15 s
        ("B", at(59), 50.0, 2, 4),    # single tick: holds 1 s
    ]
    df = spark.createDataFrame(
        rows, "symbol string, ts timestamp, price double, sz int, tid int"
    )
    out = {
        r.symbol: r
        for r in vwap_twap_bars(
            df,
            ts_col="ts",
            price_col="price",
            size_col="sz",
            interval_ms=60_000,
            partition_cols=("symbol",),
            tiebreak_cols=("tid",),
        ).collect()
    }
    a = out["A"]
    assert a.bar_start == t0.replace(second=0)
    assert a.n_ticks == 3 and a.volume == 5
    assert a.vwap == round((100 * 1 + 102 * 3 + 101 * 1) / 5, 6)
    assert a.twap == round((100 * 20 + 102 * 15 + 101 * 15) / 50, 6)
    b = out["B"]
    assert b.n_ticks == 1 and b.vwap == 50.0 and b.twap == 50.0


def test_market_beta_identities(spark):
    """Equal-weight market beta: a flat symbol has beta 0 (and NULL
    corr — no own variance), trend/anti-trend symbols get signed betas,
    and the cross-symbol beta average is exactly 1 (the equal-weight
    identity: Σcov(sym_i, mkt) = n·var(mkt))."""
    import datetime as dt

    from big_data_project_jan_2026_tick_data__spark.operators import stats

    rows = []
    for h in range(6):
        ts = dt.datetime(2024, 1, 1, h)
        rows += [
            ("FLAT", ts, 100.0),
            ("UP", ts, 100.0 + 2 * h),
            ("DOWN", ts, 100.0 - h),
        ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, value double")
    out = {r.sym: r for r in stats.market_beta(df).collect()}
    assert out["FLAT"].beta == 0.0 and out["FLAT"].mkt_corr is None
    assert out["UP"].beta > 0 and out["UP"].mkt_corr == 1.0
    assert out["DOWN"].beta < 0 and out["DOWN"].mkt_corr == -1.0
    assert abs(sum(r.beta for r in out.values()) / 3 - 1.0) < 1e-5


def test_tick_rule_flow_carry_forward_and_unclassified(spark):
    """Zero ticks inherit the previous direction; ticks before the
    first price change stay unclassified; the imbalance is the signed
    integer ratio."""
    from big_data_project_jan_2026_tick_data__spark.operators import ticks as tk

    # prices: 5 5 6 6 4 4 -> sides: null null +1 +1 -1 -1
    prices = [5.0, 5.0, 6.0, 6.0, 4.0, 4.0]
    rows = [("A", i, i, p) for i, p in enumerate(prices)]
    df = spark.createDataFrame(rows, "symbol string, es long, eid long, value double")
    out = tk.tick_rule_flow(
        df, ts_col="es", price_col="value", tiebreak_cols=("eid",),
        interval_sec=3600,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_up"], r["n_dn"], r["n_unclassified"]) == (2, 2, 2)
    assert r["imbalance_q6"] == 0.0
    assert r["bucket_start_epoch"] == 0


def test_roll_spread_bounce_and_trend(spark):
    """A pure bid-ask bounce series yields the hand-computed estimate;
    a trending series has positive serial covariance -> NULL spread."""
    from big_data_project_jan_2026_tick_data__spark.operators import stats

    rows = []
    # alternating 101/99: dp = ±2, n_pairs = 4, cov = -4 -> spread 4.0
    for i, p in enumerate([101.0, 99.0, 101.0, 99.0, 101.0, 99.0]):
        rows.append(("BOUNCE", i, i, p))
    # monotone trend: dp = +1 always -> cov >= 0 -> NULL
    for i, p in enumerate([1.0, 2.0, 3.0, 4.0, 5.0]):
        rows.append(("TREND", i, i, p))
    df = spark.createDataFrame(rows, "symbol string, es long, eid long, value double")
    out = {
        r["symbol"]: r
        for r in stats.roll_spread(
            df, ts_col="es", price_col="value", tiebreak_cols=("eid",)
        ).collect()
    }
    assert out["BOUNCE"]["n_pairs"] == 4
    assert out["BOUNCE"]["roll_spread_q6"] == 4.0
    assert out["TREND"]["roll_spread_q6"] is None


def test_amihud_illiquidity_hand_computed(spark):
    """Three daily closes 100 -> 125 -> 150: contributions
    (0.25/1000)*1e15 and (0.2/1500)*1e15, averaged on the integer grid."""
    from big_data_project_jan_2026_tick_data__spark.operators import stats

    rows = [
        ("A", 0, 0, 90.0, 10),        # day 0: DV irrelevant (no prev)
        ("A", 10, 1, 100.0, 10),      # day 0 close 100
        ("A", 86400, 2, 125.0, 8),    # day 1: close 125, DV 1000, r .25
        ("A", 172800, 3, 150.0, 10),  # day 2: close 150, DV 1500, r .2
    ]
    df = spark.createDataFrame(
        rows, "symbol string, es long, eid long, value double, sz long"
    )
    out = stats.amihud_illiquidity(
        df, ts_col="es", price_col="value", size_col="sz",
        tiebreak_cols=("eid",),
    ).collect()
    assert len(out) == 1 and out[0]["n_periods"] == 2
    # floor((250000000000 + 133333333333) / 2 + 0.5) / 1e6
    assert out[0]["illiq_e9_q6"] == 191666666667 / 1e6


def test_vpin_hand_computed_buckets(spark):
    """Two complete 100-unit buckets: |B-S| = 50 (half unclassified)
    then 100 (all sells) -> VPIN = 150/200 = 0.75; the partial third
    bucket is excluded."""
    from big_data_project_jan_2026_tick_data__spark.operators import stats

    rows = [
        ("A", 0, 0, 10.0, 50),  # first tick: unclassified
        ("A", 1, 1, 10.5, 50),  # +1, closes bucket 0: buy 50, sell 0
        ("A", 2, 2, 10.4, 60),  # -1
        ("A", 3, 3, 10.3, 40),  # -1, closes bucket 1: buy 0, sell 100
        ("A", 4, 4, 10.4, 30),  # +1, partial bucket 2 -> excluded
    ]
    df = spark.createDataFrame(
        rows, "symbol string, es long, eid long, value double, sz long"
    )
    out = stats.vpin(
        df, ts_col="es", price_col="value", size_col="sz",
        bucket_volume=100, tiebreak_cols=("eid",),
    ).collect()
    assert len(out) == 1
    assert out[0]["n_buckets"] == 2
    assert out[0]["vpin_q6"] == 0.75


def test_volume_bars_boundary_and_partial(spark):
    """Cumulative size hitting exactly k*V closes bar k-1 (the tick
    belongs to the bar it completes); the trailing short bar is emitted
    with complete=False; OHLC/VWAP hand-checked."""
    from big_data_project_jan_2026_tick_data__spark.operators import ticks as tk

    rows = [
        ("A", 0, 0, 10.0, 60),  # cum 60  -> bar 0
        ("A", 1, 1, 11.0, 40),  # cum 100 -> bar 0, closes it exactly
        ("A", 2, 2, 9.0, 30),   # cum 130 -> bar 1
        ("A", 3, 3, 12.0, 50),  # cum 180 -> bar 1, short of 200
    ]
    df = spark.createDataFrame(
        rows, "symbol string, es long, eid long, value double, sz long"
    )
    out = {
        r["bar_id"]: r
        for r in tk.volume_bars(
            df, ts_col="es", price_col="value", size_col="sz",
            bar_volume=100, tiebreak_cols=("eid",),
        ).collect()
    }
    b0, b1 = out[0], out[1]
    assert (b0["n_ticks"], b0["volume"], b0["complete"]) == (2, 100, True)
    assert (b0["open"], b0["high"], b0["low"], b0["close"]) == (10.0, 11.0, 10.0, 11.0)
    assert b0["vwap_q6"] == 10.4
    assert (b0["bar_start"], b0["bar_end"]) == (0, 1)
    assert (b1["n_ticks"], b1["volume"], b1["complete"]) == (2, 80, False)
    assert (b1["open"], b1["close"]) == (9.0, 12.0)
    assert b1["vwap_q6"] == 10.875


def test_kyle_lambda_perfect_linear_impact(spark):
    """Hourly closes engineered so dp = 0.01 * signed volume exactly
    (size 10 per tick, tick-rule signs by construction): lambda = 0.01
    with R^2 = 1. A never-moving symbol has constant (zero) signed
    volume -> dx = 0 -> dropped."""
    from big_data_project_jan_2026_tick_data__spark.operators import stats

    buckets = [  # per bucket: list of prices; sign pattern hand-checked
        [100.0, 100.1, 100.2],          # q=+20 (first tick unclassified)
        [100.3, 100.4],                 # q=+20, dp=+0.2
        [100.3, 100.2, 100.1, 100.0],   # q=-40, dp=-0.4
        [100.1],                        # q=+10, dp=+0.1
        [100.2, 100.3, 100.4],          # q=+30, dp=+0.3
    ]
    rows, eid = [], 0
    for b, prices in enumerate(buckets):
        for i, p in enumerate(prices):
            rows.append(("IMP", b * 3600 + i * 10, eid, p, 10))
            eid += 1
    for b in range(5):
        rows.append(("FLAT", b * 3600, eid, 50.0, 10))
        eid += 1
    df = spark.createDataFrame(
        rows, "symbol string, es long, eid long, value double, sz long"
    )
    out = {
        r["symbol"]: r
        for r in stats.kyle_lambda(
            df, ts_col="es", price_col="value", size_col="sz",
            tiebreak_cols=("eid",),
        ).collect()
    }
    assert "FLAT" not in out
    r = out["IMP"]
    assert r["n_buckets"] == 4
    assert r["lambda_q9"] == 0.01
    assert r["r2_q6"] == 1.0


def test_rv_signature_bounce_inflates_fine_sampling(spark):
    """Minute-alternating 101/99 over 3 hours: RV at 1-minute sampling
    sees every bounce (179 diffs of squared size 4); hourly sampling
    sees none (hour-end prices all equal)."""
    from big_data_project_jan_2026_tick_data__spark.operators import stats

    rows = [
        ("A", m * 60, m, 101.0 if m % 2 == 0 else 99.0) for m in range(180)
    ]
    df = spark.createDataFrame(rows, "symbol string, es long, eid long, value double")
    out = {
        r["interval_sec"]: r
        for r in stats.rv_signature(
            df, ts_col="es", price_col="value", tiebreak_cols=("eid",)
        ).collect()
    }
    assert out[60]["n_returns"] == 179 and out[60]["rv_q6"] == 716.0
    # hour-end samples: minutes 59, 119, 179 are all odd -> all 99
    assert out[3600]["n_returns"] == 2 and out[3600]["rv_q6"] == 0.0
    # 15-minute samples alternate -> 11 diffs of 4
    assert out[900]["rv_q6"] == 44.0


def test_frac_diff_weights_and_known_cases(spark):
    """d=1 reproduces first differences exactly (w = [1, -1, 0, ...]);
    a constant series fractionally-differences to (Σw)·x; rows without
    full history are NULL."""
    import datetime as dt

    from big_data_project_jan_2026_tick_data__spark.operators.stats import (
        frac_diff,
        frac_diff_weights,
    )

    w = frac_diff_weights(1.0, 5)
    assert w[0] == 1.0 and w[1] == -1.0 and all(x == 0.0 for x in w[2:])
    t0 = dt.datetime(2024, 5, 1, 9, 0)
    bars = spark.createDataFrame(
        [
            ("A", t0 + dt.timedelta(minutes=i), c)
            for i, c in enumerate([10000, 10100, 10050, 10200, 9900])
        ],
        "symbol string, bar_ts timestamp, close_i4 long",
    )
    out = sorted(
        frac_diff(bars, d=1.0, window=3).collect(), key=lambda r: r.ts
    )
    assert [r.ffd_q6 for r in out[:2]] == [None, None]
    # x_t - x_{t-1} in price units (close_i4 / 1e4)
    assert [r.ffd_q6 for r in out[2:]] == [-0.005, 0.015, -0.03]

    # constant series, fractional d: ffd = sum(w) * x everywhere
    const = spark.createDataFrame(
        [("B", t0 + dt.timedelta(minutes=i), 20000) for i in range(6)],
        "symbol string, bar_ts timestamp, close_i4 long",
    )
    wsum = sum(
        __import__("math").floor(20000.0 * wk * 1e9 + 0.5)
        for wk in frac_diff_weights(0.4, 4)
    )
    expect = __import__("math").floor(wsum / 1e9 / 1e4 * 1e6 + 0.5) / 1e6
    outc = [
        r.ffd_q6
        for r in frac_diff(const, d=0.4, window=4).collect()
        if r.ffd_q6 is not None
    ]
    assert len(outc) == 3 and all(v == expect for v in outc)


def test_funnel_max_gap_semantics(spark):
    """A click 25h after the view converts in the unbounded funnel but
    not in the 24h-bounded one; a click 1h after does both; greedy
    picks the EARLIEST qualifying event so a later in-window purchase
    still counts."""
    import datetime as dt

    from big_data_project_jan_2026_tick_data__spark.operators.stats import funnel

    t0 = dt.datetime(2024, 6, 1, 9, 0)

    def h(hours):
        return t0 + dt.timedelta(hours=hours)

    rows = [
        # user 1: view -> click(+1h) -> purchase(+2h): converts both
        (1, "view", h(0)), (1, "click", h(1)), (1, "purchase", h(3)),
        # user 2: view -> click(+25h): only the unbounded funnel counts
        (2, "view", h(0)), (2, "click", h(25)),
        # user 3: two clicks, first out of window, second inside —
        # bounded funnel must use the in-window one
        (3, "view", h(0)), (3, "click", h(30)), (3, "click", h(5)),
        (3, "purchase", h(6)),
    ]
    df = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp")
    unb = {r.step: r.users for r in funnel(df, ("view", "click", "purchase")).collect()}
    bnd = {
        r.step: r.users
        for r in funnel(
            df, ("view", "click", "purchase"), max_gap="24 hours"
        ).collect()
    }
    assert unb == {"view": 3, "click": 3, "purchase": 2}
    assert bnd == {"view": 3, "click": 2, "purchase": 2}


def test_interval_expr_validates_and_renders(spark):
    """Advisor r6: raw interpolation of caller strings into
    F.expr(f"INTERVAL {..}") gave opaque Catalyst errors (or expression
    injection) on malformed input — interval_expr validates eagerly."""
    import datetime

    import pytest

    from big_data_project_jan_2026_tick_data__spark.functions.scalars import (
        interval_expr,
    )

    df = spark.sql("SELECT TIMESTAMP '2024-01-01 00:00:00' AS ts")
    got = df.select(
        (F.col("ts") + interval_expr("24 hours")).alias("a"),
        (F.col("ts") + interval_expr(90, "minute")).alias("b"),
        (F.col("ts") + interval_expr(datetime.timedelta(minutes=90))).alias("c"),
        (F.col("ts") + interval_expr(-2, "hour")).alias("d"),
    ).first()
    assert got.a == datetime.datetime(2024, 1, 2, 0, 0)
    assert got.b == got.c == datetime.datetime(2024, 1, 1, 1, 30)
    assert got.d == datetime.datetime(2023, 12, 31, 22, 0)
    for bad in ("24 fortnights", "1; DROP TABLE x", "abc", "24 hours OR 1=1"):
        with pytest.raises(ValueError, match="invalid interval"):
            interval_expr(bad)
    with pytest.raises(ValueError):
        interval_expr(5)  # int requires a unit
    with pytest.raises(ValueError):
        interval_expr(5, "parsec")
    with pytest.raises(ValueError):
        interval_expr(True, "hour")


def test_funnel_rejects_malformed_max_gap(spark, sf_dir):
    import pytest

    from big_data_project_jan_2026_tick_data__spark.operators import stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(10)
    with pytest.raises(ValueError, match="invalid interval"):
        stats.funnel(ev, ["click", "purchase"], max_gap="1) OR (1=1")
