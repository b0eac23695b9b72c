"""ML featurization: window tensors (FIXTURES.md §5 cases — exactly n,
fewer (pad+fill), more (linspace downsample), leading nulls — and a
differential check against the numpy pad/resample oracle below), scaler,
chronological split, reconstruction errors."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from big_data_project_jan_2026_tick_data__spark.operators import mlfeat, stats


# -- numpy oracle of mlfeat.window_tensors (reference model.py:296-315) --


def _fill(values: np.ndarray) -> np.ndarray:
    """ffill → bfill → 0 per column (model.py:227-231, 301-311)."""
    return pd.DataFrame(values).ffill().bfill().fillna(0.0).to_numpy()


def _spaced_indices(n_points: int, span: int) -> np.ndarray:
    """round(i·span/(n_points-1)) for i in 0..n_points-1 — linspace
    endpoints-inclusive index spacing, computed in EXACT integer
    arithmetic with round-half-up: ``(2·i·span + (n-1)) // (2(n-1))``.
    Replaces ``np.linspace(...).round()`` (banker's rounding on floats),
    whose half-point behavior is float-representation-dependent and not
    reproducible in SQL — this formula is."""
    if n_points == 1:
        return np.zeros(1, dtype=int)
    d = n_points - 1
    return np.array([(2 * i * span + d) // (2 * d) for i in range(n_points)])


def _pad_resample(values: np.ndarray, n_target: int) -> np.ndarray:
    """<n → place at evenly-spaced positions then fill; >n → pick
    evenly-spaced indices; ==n → unchanged. Missing cells are filled in
    every branch (the reference scrubs before windowing)."""
    n = len(values)
    if n == n_target:
        return _fill(values)
    if n > n_target:
        idx = _spaced_indices(n_target, n - 1)
        return _fill(values[idx])
    out = np.full((n_target, values.shape[1]), np.nan, dtype=np.float64)
    pos = _spaced_indices(n, n_target - 1)
    out[pos] = values
    return _fill(out)


def _oracle_tensor(rows, feats, n_target: int) -> np.ndarray:
    """One window's float32 tensor from its (ts, *features) rows: a
    stable sort on (ts, *features) with NaN and null last, ±inf →
    missing, pad/resample + fill, float32."""
    pdf = pd.DataFrame(rows, columns=["ts", *feats])
    pdf = pdf.sort_values(["ts", *feats], kind="mergesort")
    vals = pdf[feats].to_numpy(dtype=np.float64)
    vals = np.where(np.isinf(vals), np.nan, vals)
    return _pad_resample(vals, n_target).astype(np.float32)


def _ticks(spark, n, day=5, h=7, m0=50, sym="US30", bid0=100.0, none_at=()):
    rows = []
    for i in range(n):
        ts = pd.Timestamp(2026, 1, day, h, m0 + i // 60, i % 60).to_pydatetime()
        bid = None if i in none_at else bid0 + i
        ask = None if i in none_at else bid0 + i + 0.5
        rows.append((sym, ts, bid, ask))
    return spark.createDataFrame(
        rows, "symbol string, ts timestamp, bid double, ask double"
    )


def test_tensor_exact_count(spark):
    df = _ticks(spark, 8)
    out = mlfeat.window_tensors(df, n_target=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r["window_id"] == "2026-01-05_morning"
    assert r["original_tick_count"] == 8
    feats = np.array(r["features"])
    assert feats.shape == (8, 3)
    np.testing.assert_allclose(feats[:, 0], [100 + i for i in range(8)])
    np.testing.assert_allclose(feats[:, 2], 0.5)  # spread


def test_tensor_pad_fills(spark):
    df = _ticks(spark, 3)
    r = mlfeat.window_tensors(df, n_target=7).collect()[0]
    feats = np.array(r["features"])
    assert feats.shape == (7, 3)
    assert r["original_tick_count"] == 3
    # linspace placement: rows at 0, 3, 6; gaps forward-filled
    np.testing.assert_allclose(feats[:, 0], [100, 100, 100, 101, 101, 101, 102])


def test_tensor_downsample_linspace(spark):
    df = _ticks(spark, 9)
    r = mlfeat.window_tensors(df, n_target=3).collect()[0]
    feats = np.array(r["features"])
    # np.linspace(0, 8, 3) → indices 0, 4, 8
    np.testing.assert_allclose(feats[:, 0], [100, 104, 108])


def test_tensor_leading_null_bfill(spark):
    df = _ticks(spark, 4, none_at=(0,))
    r = mlfeat.window_tensors(df, n_target=4).collect()[0]
    feats = np.array(r["features"])
    # leading null backward-filled from first valid (101)
    np.testing.assert_allclose(feats[:, 0], [101, 101, 102, 103])


def test_afternoon_window_id(spark):
    df = _ticks(spark, 2, h=13, m0=51)
    r = mlfeat.window_tensors(df, n_target=2).collect()[0]
    assert r["window_id"] == "2026-01-05_afternoon"


def test_scale_features(spark):
    df = _ticks(spark, 5)
    scaled = mlfeat.scale_features(df, ["bid"], group_cols=("symbol",))
    vals = sorted(r["bid"] for r in scaled.collect())
    np.testing.assert_allclose(np.mean(vals), 0.0, atol=1e-12)
    np.testing.assert_allclose(np.std(vals), 1.0, atol=1e-12)


def test_chronological_split(spark):
    df = spark.range(10).withColumn("wid", F.col("id"))
    out = stats.chronological_split(df, "wid", ratios=(0.6, 0.2, 0.2))
    by_split = {}
    for r in out.collect():
        by_split.setdefault(r["split"], []).append(r["id"])
    assert sorted(by_split["train"]) == list(range(6))
    assert sorted(by_split["val"]) == [6, 7]
    assert sorted(by_split["test"]) == [8, 9]


def test_pca_reconstructor_matches_numpy_oracle(spark):
    """fit_pca_reconstructor's distributed moments + driver eigh must
    reproduce a pure-numpy PCA on the same collected data exactly (up to
    float tolerance), and the scored MSEs must match the numpy formula."""
    rng = np.random.default_rng(7)
    # two symbols, correlated 3-feature tick vectors
    rows = []
    for sym, shift in (("A", 0.0), ("B", 5.0)):
        base = rng.normal(size=(40, 1))
        x = np.hstack([base, base * 2 + rng.normal(scale=0.1, size=(40, 1)), base * -1 + shift])
        for w in range(4):
            feats = x[w * 10 : (w + 1) * 10].astype(np.float32).tolist()
            rows.append((sym, f"w{w}", 10, feats))
    tensors = spark.createDataFrame(
        rows,
        "symbol string, window_id string, original_tick_count int, "
        "features array<array<float>>",
    )

    model = mlfeat.fit_pca_reconstructor(tensors, dim=3, n_components=1)
    errs = {
        (r["symbol"], r["window_id"]): r["err"]
        for r in mlfeat.reconstruction_errors(tensors, model_fn=model).collect()
    }

    # numpy oracle, per symbol
    for sym in ("A", "B"):
        data = [r for r in rows if r[0] == sym]
        allx = np.vstack([np.array(r[3], dtype=np.float64) for r in data])
        mean = allx.mean(axis=0)
        cov = np.cov(allx.T, bias=True)
        w_, v_ = np.linalg.eigh(cov)
        comps = v_[:, [np.argmax(w_)]]
        np.testing.assert_allclose(model.models[sym][0], mean, rtol=1e-9)
        # compare the projection (sign/rotation-invariant), not raw vecs
        np.testing.assert_allclose(
            model.models[sym][1] @ model.models[sym][1].T,
            comps @ comps.T,
            atol=1e-9,
        )
        for r in data:
            x = np.array(r[3], dtype=np.float64)
            recon = mean + (x - mean) @ comps @ comps.T
            expected = float(np.mean((x - recon) ** 2))
            # E[x²]-E[x]² moment covariance loses a few digits to
            # cancellation vs np.cov's centered two-pass — 1e-6 is the
            # honest agreement bound
            np.testing.assert_allclose(errs[(sym, r[1])], expected, rtol=1e-6)
    # a 1-component model on rank-~1 data reconstructs almost perfectly
    assert all(e < 0.1 for e in errs.values())


def test_reconstruction_errors_zero_for_constant(spark):
    # constant window → mean reconstruction is exact → err 0
    df = _ticks(spark, 4, bid0=100.0)
    const = df.withColumn("bid", F.lit(5.0)).withColumn("ask", F.lit(5.0))
    tensors = mlfeat.window_tensors(const, n_target=4)
    errs = mlfeat.reconstruction_errors(tensors).collect()
    assert len(errs) == 1
    assert errs[0]["err"] == 0.0
    # varying window → positive error
    tensors2 = mlfeat.window_tensors(df, n_target=4)
    errs2 = mlfeat.reconstruction_errors(tensors2).collect()
    assert errs2[0]["err"] > 0.0


def test_spaced_indices_properties():
    """_spaced_indices must behave like endpoint-inclusive linspace
    rounding: exact endpoints, strict monotonicity whenever the span
    allows distinct values, and agreement with np.linspace().round()
    away from half-points (where numpy's banker's rounding is float-
    representation-dependent by design — the integer formula is the
    spec there)."""
    for n_points in range(1, 70):
        for span in (0, 1, 5, 31, 32, 100, 599):
            idx = _spaced_indices(n_points, span)
            assert len(idx) == n_points
            assert idx[0] == 0
            if n_points > 1:
                assert idx[-1] == span
                assert all(b >= a for a, b in zip(idx, idx[1:]))
                if span >= n_points - 1:
                    # enough room: indices strictly increase (no dup picks)
                    assert all(b > a for a, b in zip(idx, idx[1:]))
                ls = np.linspace(0, span, n_points)
                frac_half = np.isclose(ls % 1, 0.5)
                agree = ls.round().astype(int)[~frac_half]
                assert (np.asarray(idx)[~frac_half] == agree).all()


_FEATS = ["a", "b", "c"]
_T0 = dt.datetime(2026, 1, 5, 7, 50)


def _window_rows(rng, n, n_ts, cells):
    """n rows of (ts, a, b, c) inside the 07:50-08:00 session: ts drawn
    from n_ts distinct instants (so ties on ts are common) and every
    cell drawn from ``cells`` (so ties on features are common too)."""
    ts = [_T0 + dt.timedelta(milliseconds=int(t)) for t in rng.integers(0, n_ts, n)]
    pick = rng.integers(0, len(cells), (n, len(_FEATS)))
    return [(t, *[cells[j] for j in row]) for t, row in zip(ts, pick)]


def _assert_matches_oracle(spark, windows, n_target):
    """Every window of ``windows`` (symbol → rows) through
    mlfeat.window_tensors in one job, each tensor equal to the oracle's
    bit for bit, and its original_tick_count equal to the row count."""
    data = [(sym, *r) for sym, rows in windows.items() for r in rows]
    df = spark.createDataFrame(
        data, "symbol string, ts timestamp, a double, b double, c double"
    )
    got = {
        r["symbol"]: r
        for r in mlfeat.window_tensors(
            df, feature_cols=_FEATS, n_target=n_target
        ).collect()
    }
    assert sorted(got) == sorted(windows)
    for sym, rows in windows.items():
        r = got[sym]
        assert r["window_id"] == "2026-01-05_morning"
        assert r["original_tick_count"] == len(rows)
        want = _oracle_tensor(rows, _FEATS, n_target)
        have = np.array(r["features"], dtype=np.float32)
        assert have.shape == want.shape, sym
        np.testing.assert_array_equal(have, want, err_msg=sym)


_SPECIAL = [None, float("nan"), float("inf"), float("-inf")]


def test_tensor_matches_oracle_on_missing_and_infinite_cells(spark):
    """null, NaN, +inf and -inf cells are all missing, filled from
    their neighbours; sizes around n_target (1, T-1, T, T+1, 2T+3)."""
    rng = np.random.default_rng(11)
    cells = [1.5, -2.25, 3.0, 0.0, *_SPECIAL]
    t = 8
    windows = {
        f"n{n}_{k}": _window_rows(rng, n, 1000, cells)
        for n in (1, 2, t - 1, t, t + 1, 2 * t + 3, 57)
        for k in range(3)
    }
    _assert_matches_oracle(spark, windows, t)


def test_tensor_ties_on_ts_break_on_features_nulls_last(spark):
    """Many rows share a ts: the order falls to the feature values,
    with null and NaN sorting after every number (-inf first, +inf
    before them), as a pandas sort puts NaN last. Picks land on tied
    rows, so a different tiebreak would change the tensor."""
    rng = np.random.default_rng(12)
    cells = [2.0, 1.0, -1.0, *_SPECIAL]
    windows = {
        f"w{k}": _window_rows(rng, n, 3, cells)
        for k, n in enumerate((5, 9, 16, 40, 41, 90))
    }
    _assert_matches_oracle(spark, windows, 7)


def test_tensor_single_slot_and_single_row(spark):
    """n_target=1 keeps the first row in (ts, features) order; a
    single row fills every slot of a wider tensor."""
    rng = np.random.default_rng(13)
    cells = [4.0, -4.0, *_SPECIAL]
    windows = {
        f"n{n}": _window_rows(rng, n, 50, cells) for n in (1, 2, 3, 30)
    }
    _assert_matches_oracle(spark, windows, 1)
    _assert_matches_oracle(spark, {"one": windows["n1"]}, 5)


def test_tensor_all_missing_column_is_zero(spark):
    """A feature column with no valid cell in the window is all 0.0;
    the other columns are unaffected."""
    rows = [
        (_T0 + dt.timedelta(seconds=i), 1.0 + i, None if i % 2 else float("nan"), 2.0)
        for i in range(6)
    ]
    _assert_matches_oracle(spark, {"S": rows}, 4)
    df = spark.createDataFrame(
        [("S", *r) for r in rows],
        "symbol string, ts timestamp, a double, b double, c double",
    )
    feats = np.array(
        mlfeat.window_tensors(df, feature_cols=_FEATS, n_target=9).first()["features"]
    )
    assert (feats[:, 1] == 0.0).all() and (feats[:, 2] == 2.0).all()


def test_tensor_full_window_size(spark):
    """The operator's default WINDOW_SIZE with windows of about half and
    about 1.2 times as many rows: placement, picks and the fill at
    full width."""
    rng = np.random.default_rng(14)
    cells = [0.125, 7.0, -3.5, 1e6, *_SPECIAL]
    windows = {
        f"n{n}": _window_rows(rng, n, 500_000, cells) for n in (301, 700)
    }
    _assert_matches_oracle(spark, windows, mlfeat.WINDOW_SIZE)


def test_purged_cv_folds_invariants(spark):
    """30 synthetic days, k=3, purge=2, embargo=1: test blocks are
    contiguous and exhaustive; the purge margin sits strictly before
    each block and the embargo strictly after; every (fold, day) cell
    has exactly one role; and train+purged+test covers all days."""
    import datetime as dt

    from big_data_project_jan_2026_tick_data__spark.operators.mlfeat import (
        purged_cv_folds,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        (base + dt.timedelta(days=d, hours=h),)
        for d in range(30)
        for h in (9, 15)
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = purged_cv_folds(df, k=3, purge=2, embargo=1).collect()
    assert len(out) == 3 * 30
    days = sorted({r.day for r in out})
    pos = {d: i + 1 for i, d in enumerate(days)}  # rank like the operator
    by_fold = {}
    for r in out:
        by_fold.setdefault(r.fold, {})[pos[r.day]] = r.role
        assert r.n_rows == 2
    assert sorted(by_fold) == [0, 1, 2]
    for f, roles in by_fold.items():
        test_pos = sorted(p for p, role in roles.items() if role == "test")
        lo, hi = test_pos[0], test_pos[-1]
        assert test_pos == list(range(lo, hi + 1))  # contiguous block
        assert len(test_pos) == 10  # 30 days / 3 folds
        for p, role in roles.items():
            if lo - 2 <= p <= hi + 1 and not (lo <= p <= hi):
                assert role == "purged", (f, p)
            elif p < lo - 2 or p > hi + 1:
                assert role == "train", (f, p)
    # each day is test in exactly one fold
    test_count = {}
    for f, roles in by_fold.items():
        for p, role in roles.items():
            if role == "test":
                test_count[p] = test_count.get(p, 0) + 1
    assert all(v == 1 for v in test_count.values()) and len(test_count) == 30


def test_triple_barrier_hand_computed(spark):
    """Four entries on one symbol: profit-first, stop-first, timeout
    (neither barrier within horizon), and end-of-tape (no forward bars
    at all -> timeout via the left join)."""
    import datetime as dt

    from big_data_project_jan_2026_tick_data__spark.operators.mlfeat import (
        triple_barrier_labels,
    )

    t0 = dt.datetime(2024, 5, 1, 9, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # close_i4 = price * 1e4; entry at 10000 -> up 10020, dn 9980
    bars = spark.createDataFrame(
        [
            ("A", m(0), 10000),
            ("A", m(1), 10010),   # inside barriers
            ("A", m(2), 10025),   # profit touch for entry@0
            ("A", m(3), 9970),    # stop touch (later than profit)
            ("A", m(60), 10000),  # entry 2
            ("A", m(61), 9975),   # stop touch first for entry@60
            ("A", m(62), 1030 * 10),  # 10300: profit later
            ("A", m(120), 10000),  # entry 3: only flat bars follow
            ("A", m(121), 10005),
            ("A", m(300), 10000),  # entry 4: nothing after
        ],
        "symbol string, bar_ts timestamp, close_i4 long",
    )
    entries = bars.filter("minute(bar_ts) = 0").select(
        "symbol",
        F.col("bar_ts").alias("entry_ts"),
        F.col("close_i4").alias("entry_close_i4"),
    )
    out = {
        r.entry_ts: r
        for r in triple_barrier_labels(
            bars, entries, horizon_minutes=120, up_mult=1.002, dn_mult=0.998
        ).collect()
    }
    assert len(out) == 4
    assert out[m(0)].label == "profit" and out[m(0)].t_up == m(2)
    assert out[m(0)].t_dn == m(3)  # stop WAS touched, just later
    assert out[m(60)].label == "stop" and out[m(60)].t_dn == m(61)
    assert out[m(120)].label == "timeout"
    assert out[m(120)].t_up is None and out[m(120)].t_dn is None
    assert out[m(300)].label == "timeout"  # no forward bars at all
    # barrier levels: one correctly-rounded product + floor
    assert out[m(0)].up_i4 == 10020 and out[m(0)].dn_i4 == 9980


def test_label_uniqueness_hand_computed(spark):
    """Two overlapping labels on one symbol: label 1 spans bars {1,2},
    label 2 spans bars {2,3}; bar 2 has concurrency 2, so both weights
    are mean(1, 1/2) = 0.75; an isolated label gets weight 1.0."""
    import datetime as dt

    from big_data_project_jan_2026_tick_data__spark.operators.mlfeat import (
        label_uniqueness_weights,
    )

    t0 = dt.datetime(2024, 5, 1, 9, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    bars = spark.createDataFrame(
        [("A", m(i), 10000) for i in range(8)]
        + [("A", m(60), 10000), ("A", m(61), 10000)],
        "symbol string, bar_ts timestamp, close_i4 long",
    )
    # labels: spans are (entry, t_end] with t_end = first touch
    labels = spark.createDataFrame(
        [
            ("A", m(0), m(2), None, "stop"),    # spans bars m1, m2
            ("A", m(1), None, m(3), "profit"),  # spans bars m2, m3
            ("A", m(59), m(61), None, "stop"),  # isolated: m60, m61
        ],
        "symbol string, entry_ts timestamp, t_dn timestamp, "
        "t_up timestamp, label string",
    )
    out = {
        r.entry_ts: r
        for r in label_uniqueness_weights(bars, labels).collect()
    }
    assert out[m(0)].n_bars == 2 and out[m(1)].n_bars == 2
    # mean(1/1, 1/2) = 0.75 exactly on the 1e-9 grid
    assert out[m(0)].avg_uniqueness_q6 == 0.75
    assert out[m(1)].avg_uniqueness_q6 == 0.75
    assert out[m(59)].avg_uniqueness_q6 == 1.0


def test_cpcv_folds_invariants(spark):
    """20 days, 5 groups choose 2: 10 folds; each group is in-test in
    exactly C(4,1)=4 folds; per fold the test days are the union of two
    4-day blocks; margins hug each block; roles partition the days."""
    import datetime as dt
    from itertools import combinations

    from big_data_project_jan_2026_tick_data__spark.operators.mlfeat import (
        cpcv_folds,
    )

    base = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(base + dt.timedelta(days=d),) for d in range(20)], "ts timestamp"
    )
    out = cpcv_folds(df, n_groups=5, k_test=2, purge=1, embargo=1).collect()
    assert len(out) == 10 * 20
    days = sorted({r.day for r in out})
    pos = {d: i for i, d in enumerate(days)}  # 0-based; group = pos // 4
    combos = list(combinations(range(5), 2))
    by_fold = {}
    for r in out:
        by_fold.setdefault(r.fold, {})[pos[r.day]] = r.role
    assert sorted(by_fold) == list(range(10))
    for f, roles in by_fold.items():
        gs = set(combos[f])
        for p, role in roles.items():
            g = p // 4
            if g in gs:
                assert role == "test", (f, p)
            else:
                near = any(
                    4 * tg - 1 <= p <= 4 * tg + 4 for tg in gs
                )  # purge 1 before block start, embargo 1 after block end
                assert role == ("purged" if near else "train"), (f, p)
    # each group serves as test in exactly 4 of the 10 folds
    from collections import Counter

    c = Counter(
        p // 4
        for roles in by_fold.values()
        for p, role in roles.items()
        if role == "test"
    )
    assert all(v == 4 * 4 for v in c.values())  # 4 folds × 4 days
