"""SEMANTIC correctness for the round-9 statistical diagnostics.

The oracle-parity gate proves Spark == DuckDB — it cannot catch a
formula both engines share wrong (the r6 VPIN lesson: "sanity-check
output MAGNITUDE too"). These tests run the registry callables against
a CRAFTED events table whose statistical structure is known by
construction, and assert the diagnostics say what a statistician would:
an alternating series is rejected as random with too MANY runs and
VR < 1; equal engagement gives Gini ≈ 0 while a dominant user pushes it
toward 1; a pure random walk's variance ratio sits near 1.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_project_jan_2026_tick_data__spark.registry import QUERIES

from _lanes import slow_lane  # noqa: E402


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, ts_str, user_id, event_type, value, props)."""
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    d = str(tmp_path / "sfsynth")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def _ts(i: int) -> str:
    """2024-01-01 plus i seconds — datetime-based so offsets past one
    hour render as valid timestamps (a plain mm:ss format string
    silently produced uncastable strings at i >= 3600, which Spark
    casts to NULL and drops)."""
    from datetime import datetime, timedelta

    return (datetime(2024, 1, 1) + timedelta(seconds=i)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _md5_bit(i: int) -> bool:
    """Deterministic unbiased coin: low bit of md5(i) — unlike a
    linear-congruential parity, md5 bits carry no lag structure."""
    import hashlib

    return hashlib.md5(str(i).encode()).digest()[0] % 2 == 0


def test_runs_test_rejects_alternating_series(spark, tmp_path):
    """A strictly alternating up/down price path has the MAXIMUM number
    of runs (one per return): z must be large POSITIVE and the test must
    reject randomness. user_id=0 -> symbol S0 only."""
    rows = []
    price = 100.0
    for i in range(200):
        price += 0.5 if i % 2 == 0 else -0.5
        rows.append((i, _ts(i), 0, "t", round(price, 2), "{}"))
    sf = _write_events(spark, tmp_path, rows)
    out = {r["symbol"]: r for r in QUERIES["events_runs_test"](spark, sf).collect()}
    r = out["S0"]
    # every return flips sign: runs == n_up + n_down (each its own run)
    assert r["n_runs"] == r["n_up"] + r["n_down"]
    assert r["z_q6"] > 3.0
    assert bool(r["reject_random"]) is True


def test_runs_test_accepts_hash_random_signs(spark, tmp_path):
    """Deterministic pseudo-random signs (parity of a hash) should NOT
    be rejected at the 95% level — the negative control."""
    rows = []
    price = 100.0
    for i in range(400):
        price += 0.5 if _md5_bit(i) else -0.5
        rows.append((i, _ts(i), 0, "t", round(price, 2), "{}"))
    sf = _write_events(spark, tmp_path, rows)
    out = {r["symbol"]: r for r in QUERIES["events_runs_test"](spark, sf).collect()}
    assert abs(out["S0"]["z_q6"]) < 3.0


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_variance_ratio_detects_mean_reversion_and_random_walk(spark, tmp_path):
    """Alternating returns cancel over 2 periods: VR(2) must be near 0
    (strong mean reversion). A deterministic-hash random walk must sit
    near VR = 1 at both horizons."""
    alt = []
    price = 100.0
    for i in range(400):
        price += 0.5 if i % 2 == 0 else -0.5
        alt.append((i, _ts(i), 0, "t", round(price, 2), "{}"))
    sf = _write_events(spark, tmp_path, alt)
    r = {x["symbol"]: x for x in QUERIES["ticks_variance_ratio"](spark, sf).collect()}
    assert r["S0"]["vr2_q6"] < 0.2

    rw = []
    price = 100.0
    for i in range(800):
        price += 0.5 if _md5_bit(i) else -0.5
        rw.append((i, _ts(i), 0, "t", round(price, 2), "{}"))
    sf2 = _write_events(spark, tmp_path / "b", rw)
    r2 = {x["symbol"]: x for x in QUERIES["ticks_variance_ratio"](spark, sf2).collect()}
    assert 0.6 < r2["S0"]["vr2_q6"] < 1.4
    assert 0.5 < r2["S0"]["vr4_q6"] < 1.6


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_gini_zero_for_equal_and_high_for_dominant(spark, tmp_path):
    """Equal per-user activity -> G ~ 0; one user owning ~99% of events
    -> G near (but below) 1."""
    eq = [
        (u * 10 + i, _ts(u * 10 + i), u, "t", 1.0, "{}")
        for u in range(20)
        for i in range(10)
    ]
    sf = _write_events(spark, tmp_path, eq)
    g = QUERIES["events_gini_engagement"](spark, sf).collect()[0]
    assert g["gini_q6"] < 0.05

    dom = [(i, _ts(i % 3600), 0, "t", 1.0, "{}") for i in range(990)]
    dom += [(1000 + u, _ts(u), 1 + u, "t", 1.0, "{}") for u in range(10)]
    sf2 = _write_events(spark, tmp_path / "d", dom)
    g2 = QUERIES["events_gini_engagement"](spark, sf2).collect()[0]
    assert g2["gini_q6"] > 0.8


def test_bipower_flags_a_jump(spark, tmp_path):
    """Small diffusive moves plus ONE huge jump: RV picks up the jump's
    square, bipower (product of ADJACENT absolute moves) largely does
    not — the relative jump statistic must be decisively positive.
    Without the jump it must hover near the BV/RV bias for the pattern,
    well below the jump case."""
    rows = []
    price = 100.0
    for i in range(300):
        price += 0.01 if i % 2 == 0 else -0.01
        if i == 150:
            price += 25.0  # the jump
        rows.append((i, _ts(i), 0, "t", round(price, 2), "{}"))
    sf = _write_events(spark, tmp_path, rows)
    r = {x["symbol"]: x for x in QUERIES["ticks_bipower_variation"](spark, sf).collect()}
    assert bool(r["S0"]["jump_positive"]) is True
    assert r["S0"]["rel_jump_q6"] > 0.9  # the jump dominates RV


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_ljung_box_rejects_alternating_accepts_hash_random(spark, tmp_path):
    """Alternating returns have rho1 ~ -1: Q explodes and the test
    rejects; hash-random signs stay under the critical value."""
    alt = []
    price = 100.0
    for i in range(300):
        price += 0.5 if i % 2 == 0 else -0.5
        alt.append((i, _ts(i), 0, "t", round(price, 2), "{}"))
    sf = _write_events(spark, tmp_path, alt)
    q = {x["symbol"]: x for x in QUERIES["events_ljung_box"](spark, sf).collect()}
    assert bool(q["S0"]["reject_white_noise"]) is True

    rnd = []
    price = 100.0
    for i in range(600):
        price += 0.5 if _md5_bit(i) else -0.5
        rnd.append((i, _ts(i), 0, "t", round(price, 2), "{}"))
    sf2 = _write_events(spark, tmp_path / "r", rnd)
    q2 = {x["symbol"]: x for x in QUERIES["events_ljung_box"](spark, sf2).collect()}
    assert bool(q2["S0"]["reject_white_noise"]) is False


def test_ou_half_life_on_ar1_series(spark, tmp_path):
    """A deterministic AR(1) level series x_t = 0.5*x_{t-1} + shock has
    slope ~ 0.5 -> half-life ~ ln2/ln2 = 1 period. The estimator must
    land near that and flag mean reversion."""
    rows = []
    x = 40.0
    for i in range(500):
        shock = (((i * 2654435761) % 97) - 48) / 10.0  # +-4.8, mean ~0
        x = 0.5 * x + shock
        rows.append((i, _ts(i), 0, "t", round(100.0 + x, 2), "{}"))
    sf = _write_events(spark, tmp_path, rows)
    r = {x_["symbol"]: x_ for x_ in QUERIES["ticks_ou_half_life"](spark, sf).collect()}
    row = r["S0"]
    assert bool(row["mean_reverting"]) is True
    assert 0.2 < row["ar1_slope_q6"] < 0.8
    assert 0.3 < row["half_life_q4"] < 3.0


def test_benford_consistent_on_benford_sample(spark, tmp_path):
    """Values drawn as 10^u for a uniform-ish deterministic u follow
    Benford's law by construction: the chi2 screen must NOT reject."""
    rows = []
    for i in range(2000):
        u = (((i * 2654435761) % 9973) / 9973.0) * 3.0  # u in [0, 3)
        v = round(10.0**u, 2)
        if v <= 0:
            continue
        rows.append((i, _ts(i % 3600), i % 7, "t", v, "{}"))
    sf = _write_events(spark, tmp_path, rows)
    b = QUERIES["events_benford_test"](spark, sf).collect()[0]
    assert bool(b["benford_consistent"]) is True
    # and the digit counts decay from d1 to d9 in aggregate
    assert b["d1"] > b["d9"]


# ---------------------------------------------------------------------------
# r9-continuation estimators: planted-structure semantics
# ---------------------------------------------------------------------------


def _write_docs(spark, tmp_path, rows):
    """rows: (doc_id, text, lang, source)."""
    df = spark.createDataFrame(
        [(i, t, la, s, len(t)) for (i, t, la, s) in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "sfsynth")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def _md5_arm(uid: int) -> str:
    """The registry's portable md5 split: 28-bit hex prefix, even -> A/T."""
    import hashlib

    h = int(hashlib.md5(str(uid).encode()).hexdigest()[:7], 16)
    return "A" if h % 2 == 0 else "B"


def test_hayashi_yoshida_synchronized_equals_realized_cov(spark, tmp_path):
    """Two streams ticking at IDENTICAL times: HY degenerates to the
    grid realized covariance.  S1 == S0 + const -> identical returns ->
    hy_cov = sum(r^2) exactly and corr = +1; S2 = const - S0 -> corr -1
    against both."""
    rows, eid = [], 0
    prices = [100.00 + (i % 7) + 0.25 * (i % 3) for i in range(50)]
    for i, p in enumerate(prices):
        rows.append((eid, _ts(10 * i), 0, "t", round(p, 2), "{}")); eid += 1
        rows.append((eid, _ts(10 * i), 1, "t", round(p + 50, 2), "{}")); eid += 1
        rows.append((eid, _ts(10 * i), 2, "t", round(300 - p, 2), "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {
        (r["sym_a"], r["sym_b"]): r
        for r in QUERIES["ticks_hayashi_yoshida"](spark, sf).collect()
    }
    cents = [round(p * 100) for p in prices]
    rv = sum((b - a) ** 2 for a, b in zip(cents, cents[1:]))
    assert out[("S0", "S1")]["hy_cov_c2"] == rv
    assert out[("S0", "S1")]["hy_corr_q6"] == 1.0
    assert out[("S0", "S2")]["hy_corr_q6"] == -1.0
    assert out[("S1", "S2")]["hy_corr_q6"] == -1.0


def test_epps_synchronized_identical_moves_corr_one(spark, tmp_path):
    """Identically-moving synchronized symbols: previous-tick sampling
    yields identical grid returns at EVERY frequency -> corr exactly 1
    (no Epps shrinkage without asynchrony)."""
    rows, eid = [], 0
    for i in range(240):  # 240 ticks x 60 s apart = 4 h, covers 900 s grid
        p = 100.0 + (i % 11) + 0.5 * (i % 2)
        rows.append((eid, _ts(60 * i), 0, "t", round(p, 2), "{}")); eid += 1
        rows.append((eid, _ts(60 * i), 1, "t", round(p + 10, 2), "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = QUERIES["ticks_epps_effect"](spark, sf).collect()
    got = {r["freq_s"]: r["corr_q6"] for r in out if (r["sym_a"], r["sym_b"]) == ("S0", "S1")}
    assert got == {60: 1.0, 300: 1.0, 900: 1.0}


def test_information_coefficient_monotone_momentum(spark, tmp_path):
    """Daily closes 100 + d^2 dollars: both yesterday's and today's
    returns are strictly increasing in d, so the rank permutations are
    identical -> IC exactly +1."""
    rows = []
    for d in range(12):
        ts = f"2024-01-{d + 1:02d} 12:00:00"
        rows.append((d, ts, 0, "t", round(100.0 + d * d, 2), "{}"))
    sf = _write_events(spark, tmp_path, rows)
    out = {r["symbol"]: r for r in QUERIES["ml_information_coefficient"](spark, sf).collect()}
    assert out["S0"]["ic_q6"] == 1.0
    assert out["S0"]["n"] == 10  # 12 closes -> 11 returns -> 10 (x, y) pairs


@slow_lane  # 5-8 s (r13 durations): exhaustive-lane
def test_kaplan_meier_no_censoring_matches_ecdf(spark, tmp_path):
    """Every user converts at a distinct duration: KM(t_k) must equal
    the empirical survival (n-k)/n at the k-th event time (within the
    q6 grid of the ln/exp round-trip)."""
    n = 20
    rows, eid = [], 0
    for u in range(n):
        rows.append((eid, _ts(0), u, "click", 1.0, "{}")); eid += 1
        d = 10 * (u + 1)  # distinct durations 10..200 s
        rows.append((eid, _ts(d), u, "purchase", 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = sorted(
        QUERIES["events_kaplan_meier"](spark, sf).collect(),
        key=lambda r: r["d_sec"],
    )
    assert len(out) == n
    for k, r in enumerate(out, start=1):
        assert r["n_risk"] == n - k + 1 and r["d_events"] == 1
        assert abs(r["km_q6"] - (n - k) / n) <= 2e-6, (k, r["km_q6"])
    assert out[-1]["km_q6"] == 0.0  # last at-risk converts -> S = 0


@slow_lane  # 5-8 s (r13 durations): exhaustive-lane
def test_kaplan_meier_censoring_shrinks_risk_not_survival(spark, tmp_path):
    """A user censored between two event times leaves the risk set but
    multiplies no factor: S drops by (n-d)/n only at EVENT times."""
    rows, eid = [], 0
    # converters at 10 s and 30 s; censored user last seen at 20 s
    for u, (typ, d) in enumerate([("purchase", 10), (None, 20), ("purchase", 30)]):
        rows.append((eid, _ts(0), u, "click", 1.0, "{}")); eid += 1
        if typ:
            rows.append((eid, _ts(d), u, typ, 1.0, "{}")); eid += 1
        else:
            rows.append((eid, _ts(d), u, "view", 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {r["d_sec"]: r for r in QUERIES["events_kaplan_meier"](spark, sf).collect()}
    assert set(out) == {10, 30}
    assert out[10]["n_risk"] == 3 and abs(out[10]["km_q6"] - 2 / 3) <= 2e-6
    # censored user gone by t=30: risk set is 1, the last converter
    assert out[30]["n_risk"] == 1 and out[30]["km_q6"] == 0.0


def test_ab_test_planted_effect_is_significant(spark, tmp_path):
    """Give EVERY even-md5 (arm A) user a purchase and no arm-B user
    one: z must blow past the critical value, SRM must pass (the md5
    split of 400 sequential ids is near-balanced)."""
    rows, eid = [], 0
    for u in range(400):
        rows.append((eid, _ts(u % 3600), u, "view", 1.0, "{}")); eid += 1
        if _md5_arm(u) == "A":
            rows.append((eid, _ts(u % 3600 + 1), u, "purchase", 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_ab_test"](spark, sf).collect()[0]
    assert r["n_a"] + r["n_b"] == 400
    assert r["x_a"] == r["n_a"] and r["x_b"] == 0
    assert bool(r["significant"]) is True and r["z_q6"] > 10
    assert bool(r["srm_ok"]) is True


def test_cuped_perfect_covariate_zeroes_the_contrast(spark, tmp_path):
    """Post metric y = 2x exactly (x = pre metric): theta = 2, rho^2 = 1,
    and the CUPED-adjusted contrast is exactly 0 — the raw arm gap is
    fully explained by the pre-period imbalance."""
    rows, eid = [], 0
    for u in range(100):
        x = 10.0 + u  # exact cents, varies across users and arms
        rows.append((eid, _ts(u), u, "view", x, "{}")); eid += 1          # pre
        rows.append((eid, f"2024-01-02 00:{u // 60:02d}:{u % 60:02d}", u,
                     "view", 2 * x, "{}")); eid += 1                      # post
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_cuped"](spark, sf).collect()[0]
    assert r["theta_q6"] == 2.0
    assert r["rho2_q6"] == 1.0
    assert abs(r["diff_cuped_q6"]) <= 1e-5
    assert abs(r["diff_raw_q6"]) > 0  # arms ARE imbalanced pre-adjustment


def test_diff_in_diff_recovers_planted_effect(spark, tmp_path):
    """Control: 100 -> 110 (common trend +10); treated: 100 -> 135.
    DiD must report exactly +2500 cents = the planted 25.00 effect."""
    rows, eid = [], 0
    for u in range(100):
        arm_t = _md5_arm(u) == "A"
        rows.append((eid, _ts(u), u, "view", 100.00, "{}")); eid += 1
        post_v = 135.00 if arm_t else 110.00
        rows.append((eid, f"2024-01-02 00:{u // 60:02d}:{u % 60:02d}", u,
                     "view", post_v, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_diff_in_diff"](spark, sf).collect()[0]
    assert r["did_q6"] == 2500.0  # cents
    assert r["mean_c_pre_q6"] == 10000.0 and r["mean_t_pre_q6"] == 10000.0


def test_poisson_bootstrap_ci_brackets_the_mean(spark, tmp_path):
    """A well-behaved 500-row purchase sample: the 95% bootstrap CI must
    bracket the exact mean and the bagged mean must sit close to it."""
    rows = []
    for i in range(500):
        rows.append((i, _ts(i % 3600), i % 50, "purchase",
                     round(1.0 + (i % 80) * 0.05, 2), "{}"))
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_poisson_bootstrap_ci"](spark, sf).collect()[0]
    assert r["n"] == 500 and r["r_used"] == 40
    assert r["ci_lo_cents_q6"] <= r["mean_cents_q4"] <= r["ci_hi_cents_q6"]
    assert abs(r["boot_mean_cents_q4"] - r["mean_cents_q4"]) < 10  # cents
    assert r["ci_hi_cents_q6"] > r["ci_lo_cents_q6"]


def test_rake_hand_derived_scores(spark, tmp_path):
    """'red apple and red apple of banana': phrases {red apple x2,
    banana}; deg/freq = 2 for red and apple, 1 for banana -> phrase
    scores 4.0 and 1.0, in that rank order."""
    sf = _write_docs(
        spark, tmp_path, [(1, "red apple and red apple of banana", "en", "s")]
    )
    out = sorted(
        QUERIES["doc_rake_keywords"](spark, sf).collect(), key=lambda r: r["rank"]
    )
    assert [(r["phrase"], r["rake_q6"]) for r in out] == [
        ("red apple", 4.0),
        ("banana", 1.0),
    ]


def test_gopher_rules_verdicts(spark, tmp_path):
    """10 words -> word-count rule fails (and the conjunction); 60
    well-formed words with two stopwords -> every rule passes."""
    short = " ".join(["word"] * 10)
    good = " ".join(["word"] * 58 + ["the", "of"])
    sf = _write_docs(spark, tmp_path, [(1, short, "en", "s"), (2, good, "en", "s")])
    out = {r["doc_id"]: r for r in QUERIES["doc_gopher_rules"](spark, sf).collect()}
    assert bool(out[1]["pass_word_count"]) is False
    assert bool(out[1]["pass_gopher"]) is False
    assert bool(out[2]["pass_word_count"]) is True
    assert bool(out[2]["pass_word_length"]) is True
    assert bool(out[2]["pass_alpha"]) is True
    assert out[2]["n_stop_distinct"] == 2
    assert bool(out[2]["pass_gopher"]) is True


def _write_lineitem(spark, tmp_path, rows):
    """rows: (l_orderkey, l_partkey)."""
    df = spark.createDataFrame(
        [(o, p, 1.0, 1.0) for (o, p) in rows],
        "l_orderkey long, l_partkey long, l_quantity double, "
        "l_extendedprice double",
    )
    d = str(tmp_path / "sfsynth")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    return d


def test_hy_lead_lag_finds_planted_echo(spark, tmp_path):
    """S1 repeats S0's price path delayed by exactly 1800 s — LONGER
    than the 1000 s inter-tick interval, so the misaligned lags carry
    no diagonal term (an echo shorter than the interval would leave the
    lag-0 overlap containing the full aligned product and corr(0) ~
    1 + rho1): corr must be EXACTLY 1 at lag = +1800 s and small at
    lag 0; the argmax identifies the follower delay."""
    rows, eid, price = [], 0, 100.0
    prices = []
    for i in range(60):  # md5-coin walk: no autocorrelation structure,
        price += 0.5 if _md5_bit(i) else -0.5  # so misaligned lags can't
        prices.append(round(price, 2))  # inflate past the aligned one
    for i, p in enumerate(prices):
        t0 = 1000 * i
        rows.append((eid, _ts(t0), 0, "t", p, "{}")); eid += 1
        rows.append((eid, _ts(t0 + 1800), 1, "t", p, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {
        r["lag_us"]: r
        for r in QUERIES["ticks_hy_lead_lag"](spark, sf).collect()
        if (r["sym_a"], r["sym_b"]) == ("S0", "S1")
    }
    assert out[1800_000_000]["hy_corr_q6"] == 1.0
    assert abs(out[0]["hy_corr_q6"]) < 0.9
    best = max(out.values(), key=lambda r: r["hy_corr_q6"])
    assert best["lag_us"] == 1800_000_000


def test_link_prediction_hand_derived_star(spark, tmp_path):
    """Graph 7-14, 14-21, 14-28, 7-21 (all part keys % 7 == 0): the only
    distance-2 non-edges are (7,28) and (21,28), each with one common
    neighbor (14, degree 3) -> Jaccard = 1/(deg_x + deg_y - 1) exactly
    and Adamic-Adar = 1/ln 3."""
    import math as m

    sf = _write_lineitem(
        spark, tmp_path, [(1, 7), (1, 14), (2, 14), (2, 21), (3, 14), (3, 28),
                          (4, 7), (4, 21)]
    )
    out = {
        (r["part_a"], r["part_b"]): r
        for r in QUERIES["part_link_prediction"](spark, sf).collect()
    }
    assert set(out) == {(7, 28), (21, 28)}
    for pair in [(7, 28), (21, 28)]:
        r = out[pair]
        assert r["common_neighbors"] == 1
        assert r["jaccard_e6"] == 1000000 // (2 + 1 - 1)  # 1/2 on the e6 grid
        assert abs(r["adamic_adar_q9"] - 1.0 / m.log(3.0)) <= 1e-6


def test_bandit_replay_greedy_tracks_the_hot_arm(spark, tmp_path):
    """Arm A pays ~10x arm B from day 1: the daily greedy policy must
    choose A on every later day; a day where A logged no events scores
    n_matched = 0 with a NULL estimate (the replay estimator's
    propensity hole, surfaced honestly)."""
    rows, eid = [], 0

    def day(d, typ, vals):
        nonlocal eid
        for j, v in enumerate(vals):
            rows.append((eid, f"2024-01-{d:02d} 01:00:{j:02d}", j, typ, v, "{}"))
            eid += 1

    day(1, "A", [10.0, 10.0]); day(1, "B", [1.0, 1.0])
    day(2, "A", [9.0, 9.0]);   day(2, "B", [1.0, 1.0])
    day(3, "A", [8.0, 8.0]);   day(3, "B", [1.0, 1.0])
    day(4, "B", [1.0, 1.0])  # A silent: policy still picks A, matches 0
    sf = _write_events(spark, tmp_path, rows)
    out = {
        str(r["day"]): r for r in QUERIES["events_bandit_replay"](spark, sf).collect()
    }
    assert set(out) == {"2024-01-02", "2024-01-03", "2024-01-04"}  # day 1 has no prior state
    assert all(r["chosen_type"] == "A" for r in out.values())
    assert out["2024-01-02"]["n_matched"] == 2
    assert out["2024-01-02"]["est_value_q4"] == 900.0  # cents
    assert out["2024-01-03"]["est_value_q4"] == 800.0
    assert out["2024-01-04"]["n_matched"] == 0
    assert out["2024-01-04"]["est_value_q4"] is None


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_holm_step_down_blocks_after_first_failure(spark, tmp_path):
    """The step-down property, not just per-metric thresholds.  First-
    touch shares are ZERO-SUM across metrics, so the planted positive
    excesses (m_big z ~ 31.7, m2 z ~ 2.314, m3 z ~ 2.245) are absorbed
    by a hugely NEGATIVE counterweight metric that ranks first — it
    passes, it does not block.  With m = 5: m2 at rank 3 raw-FAILS its
    alpha/3 critical (2.393980); m3 at rank 4 raw-PASSES its own
    alpha/2 critical (2.241403) but Holm must still reject it because
    the procedure stopped at m2.  A per-rank threshold check without
    the stop would pass m3."""
    import hashlib

    users = list(range(20000))
    a_users = [
        u for u in users
        if int(hashlib.md5(str(u).encode()).hexdigest()[:7], 16) % 2 == 0
    ]
    b_users = [u for u in users if u not in set(a_users)]
    assert (len(a_users), len(b_users)) == (10063, 9937)  # split is frozen

    def slices(arr, sizes):
        out, i = [], 0
        for n in sizes:
            out.append(arr[i:i + n]); i += n
        out.append(arr[i:])
        return out

    # A: m_big 2000, m2 2159, m3 2155, base 1800, m_neg rest (1949)
    a_big, a_m2, a_m3, a_base, a_neg = slices(a_users, [2000, 2159, 2155, 1800])
    # B: m_big 500, m2 2000, m3 2000, base 1777 (share-matched to A's
    # 1800/10063 so base z ~ 0), m_neg rest (3660)
    b_big, b_m2, b_m3, b_base, b_neg = slices(b_users, [500, 2000, 2000, 1777])

    plan = (
        [("m_big", u) for u in a_big + b_big]
        + [("m2", u) for u in a_m2 + b_m2]
        + [("m3", u) for u in a_m3 + b_m3]
        + [("base", u) for u in a_base + b_base]
        + [("m_neg", u) for u in a_neg + b_neg]
    )
    # each user gets exactly ONE event, so its type IS the first touch
    rows = [
        (eid, _ts(eid % 86000), uid, typ, 1.0, "{}")
        for eid, (typ, uid) in enumerate(plan)
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in QUERIES["events_holm_multiple_tests"](spark, sf).collect()
    }
    assert set(out) == {"m_big", "m2", "m3", "base", "m_neg"}
    assert sorted([out["m_big"]["rank"], out["m_neg"]["rank"]]) == [1, 2]
    assert [out[m]["rank"] for m in ("m2", "m3", "base")] == [3, 4, 5]
    # planted z magnitudes landed where the construction put them
    assert out["m_big"]["z_q6"] > 2.575829
    assert out["m_neg"]["z_q6"] < -2.575829
    assert 2.241403 <= abs(out["m3"]["z_q6"]) < abs(out["m2"]["z_q6"]) < 2.393980
    assert abs(out["base"]["z_q6"]) < 1.959964
    assert bool(out["m_big"]["significant_holm"]) is True
    assert bool(out["m_neg"]["significant_holm"]) is True
    assert bool(out["m2"]["significant_holm"]) is False  # raw failure
    assert bool(out["m3"]["significant_holm"]) is False  # blocked by m2
    assert bool(out["base"]["significant_holm"]) is False


@slow_lane  # 5-8 s (r13 durations): exhaustive-lane
def test_classifier_auc_separable_corpus(spark, tmp_path):
    """A corpus where the weak label is trivially separable by the
    token-count feature (en docs long, others short): the trained
    classifier's AUC must be ~1 and the confusion matrix must be
    internally consistent."""
    rows = []
    for i in range(60):
        if i % 2 == 0:
            rows.append((i, " ".join(["word"] * 40), "en", "s"))
        else:
            rows.append((i, " ".join(["mot"] * 5), "fr", "s"))
    sf = _write_docs(spark, tmp_path, rows)
    r = QUERIES["doc_classifier_auc"](spark, sf).collect()[0]
    assert r["n_pos"] == 30 and r["n_neg"] == 30
    assert r["tp"] + r["fn"] == r["n_pos"]
    assert r["fp"] + r["tn"] == r["n_neg"]
    assert r["auc_q6"] >= 0.99
    assert r["accuracy_q6"] >= 0.9


@slow_lane  # 5-8 s (r13 durations): exhaustive-lane
def test_davies_bouldin_hand_computable_sites(spark, tmp_path):
    """8 sites on a line at spacing 100, each with symmetric members at
    site ± 0.5 on a second axis: every cluster's centroid collapses to
    its site, S_c = 0.5 exactly, nearest-centroid separation = 100, so
    DB_c = (0.5 + 0.5) / 100 = 0.01 exactly for every cluster."""
    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    rows = []
    vid = 0
    for rep in range(6):  # ids interleave sites so lowest-id init
        for site in range(8):  # picks one seed per site
            vec = [0.0] * 64
            vec[0] = site * 100.0
            vec[1] = 0.5 if rep % 2 == 0 else -0.5
            rows.append((vid, [float(x) for x in vec], site))
            vid += 1
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    df = spark.createDataFrame(rows, schema)
    d = str(tmp_path / "sfsynth")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    out = QUERIES["emb_davies_bouldin"](spark, d).collect()
    assert len(out) == 8
    for r in out:
        assert r["n_members"] == 6
        assert r["s_q6"] == 0.5
        assert r["db_c_q6"] == 0.01


def test_silhouette_hand_computable_sites(spark, tmp_path):
    """Same 8-site configuration as the Davies-Bouldin test: every
    member has a² = 0.25 (own site) and b² = 100² + 0.5² (nearest
    other site), so the silhouette is the same hand-computable value
    (b − a)/b ≈ 0.995 for every cluster."""
    import math as m

    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    rows = []
    vid = 0
    for rep in range(6):
        for site in range(8):
            vec = [0.0] * 64
            vec[0] = site * 100.0
            vec[1] = 0.5 if rep % 2 == 0 else -0.5
            rows.append((vid, [float(x) for x in vec], site))
            vid += 1
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    df = spark.createDataFrame(rows, schema)
    d = str(tmp_path / "sfsynth")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    sa, sb = m.sqrt(0.25), m.sqrt(10000.25)
    expect = m.floor((sb - sa) / sb * 1e6 + 0.5) / 1e6
    out = QUERIES["emb_silhouette"](spark, d).collect()
    assert len(out) == 8
    for r in out:
        assert r["n_members"] == 6
        assert r["mean_sil_q6"] == expect


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_calinski_harabasz_separation_scaling(spark, tmp_path):
    """Same 8-site configuration: W = 48 x 0.25 = 12 exactly; spreading
    the sites 10x further apart multiplies B (and CH) by ~100 while W
    is unchanged — the variance-ratio criterion rewards separation."""
    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])

    def build(spacing, sub):
        rows, vid = [], 0
        for rep in range(6):
            for site in range(8):
                vec = [0.0] * 64
                vec[0] = site * spacing
                vec[1] = 0.5 if rep % 2 == 0 else -0.5
                rows.append((vid, [float(x) for x in vec], site))
                vid += 1
        d = str(tmp_path / sub)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/embeddings.parquet")
        return d

    near = QUERIES["emb_calinski_harabasz"](spark, build(100.0, "a")).collect()[0]
    far = QUERIES["emb_calinski_harabasz"](spark, build(1000.0, "b")).collect()[0]
    assert near["n"] == 48 and near["k_used"] == 8
    assert near["w_q6"] == 12.0 and far["w_q6"] == 12.0
    assert 95 < far["ch_q6"] / near["ch_q6"] < 105


# ---- round-10 robust/distributional experimentation block ----------------


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_mann_whitney_planted_shift_and_degenerate_ties(spark, tmp_path):
    """Arm-A users all out-spend arm-B users: every A rank is above
    every B rank, so U_A = n_a*n_b (two_u_a = 2*n_a*n_b), z > 0 and
    significant. An all-tied corpus (one distinct spend) has zero
    rank variance by the tie correction — the query must emit NOTHING
    rather than a 0/0."""
    rows, eid = [], 0
    for u in range(200):
        spend = 500.0 if _md5_arm(u) == "A" else 100.0 + (u % 7)
        rows.append((eid, _ts(u), u, "view", spend, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_mann_whitney"](spark, sf).collect()[0]
    assert r["two_u_a"] == 2 * r["n_a"] * r["n_b"]
    assert r["z_q6"] > 3 and bool(r["significant"]) is True

    rows = [(i, _ts(i), i, "view", 42.0, "{}") for i in range(50)]
    sf2 = _write_events(spark, tmp_path / "tied", rows)
    assert QUERIES["events_mann_whitney"](spark, sf2).collect() == []


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_g_test_independent_vs_dependent_mix(spark, tmp_path):
    """Every user emits the same (view, click) pair -> the type mix is
    exactly arm-independent and G must sit at 0. Arm-A users emitting
    only 'purchase' while arm-B emit only 'view' is maximal dependence
    -> G blows past the df=1 critical."""
    rows, eid = [], 0
    for u in range(100):
        rows.append((eid, _ts(u), u, "view", 1.0, "{}")); eid += 1
        rows.append((eid, _ts(u + 1), u, "click", 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_g_test"](spark, sf).collect()[0]
    assert r["g_q6"] == 0.0 and bool(r["significant"]) is False

    rows, eid = [], 0
    for u in range(200):
        et = "purchase" if _md5_arm(u) == "A" else "view"
        rows.append((eid, _ts(u), u, et, 1.0, "{}")); eid += 1
    sf2 = _write_events(spark, tmp_path / "dep", rows)
    r2 = QUERIES["events_g_test"](spark, sf2).collect()[0]
    assert r2["df"] == 1
    assert r2["g_q6"] > 100 and bool(r2["significant"]) is True


def test_jackknife_constant_ratio_zero_se(spark, tmp_path):
    """Every event is worth exactly $7.00: every leave-one-bucket-out
    ratio equals the full ratio, so the jackknife SE is exactly 0 and
    the CI collapses onto theta (700 cents)."""
    rows = [(i, _ts(i), i % 60, "view", 7.0, "{}") for i in range(300)]
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_jackknife_ratio_ci"](spark, sf).collect()[0]
    assert r["theta_q6"] == 700.0
    assert r["se_q6"] == 0.0
    assert r["lo_q6"] == 700.0 and r["hi_q6"] == 700.0
    assert r["n_buckets"] >= 2


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_wasserstein_zero_on_matched_mix_exact_on_shift(spark, tmp_path):
    """Both arms get the same 50/50 mix of $1.00 and $2.00 spenders ->
    the CDFs coincide and W1 = 0 exactly. Every A-user at $2.00 and
    every B-user at $1.00 -> the optimal transport moves every unit of
    mass 100 cents, W1 = 100 exactly."""
    # exactly 100 users per arm (md5 of a contiguous range splits
    # unevenly), alternating $1/$2 within each arm -> the two mixes are
    # EXACTLY 50/50 each and the CDFs coincide
    rows, eid, per_arm_seen, u = [], 0, {"A": 0, "B": 0}, 0
    while min(per_arm_seen.values()) < 100:
        arm = _md5_arm(u)
        if per_arm_seen[arm] < 100:
            spend = 1.0 if per_arm_seen[arm] % 2 == 0 else 2.0
            per_arm_seen[arm] += 1
            rows.append((eid, _ts(u), u, "view", spend, "{}")); eid += 1
        u += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_wasserstein_arms"](spark, sf).collect()
    assert r and r[0]["n_a"] == 100 and r[0]["n_b"] == 100
    assert r[0]["w1_cents_q6"] == 0.0

    rows, eid = [], 0
    for u in range(400):
        spend = 2.0 if _md5_arm(u) == "A" else 1.0
        rows.append((eid, _ts(u), u, "view", spend, "{}")); eid += 1
    sf2 = _write_events(spark, tmp_path / "shift", rows)
    r2 = QUERIES["events_wasserstein_arms"](spark, sf2).collect()[0]
    assert r2["w1_cents_q6"] == 100.0


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_semivariance_monotone_and_jump_paths(spark, tmp_path):
    """A monotонe-up price path has RS- = 0 and sj_rel = 1; planting a
    single large down-jump makes RS- dominate (sj flips negative)."""
    # all user_ids congruent mod 4 -> one symbol S1
    rows = [
        (i, _ts(i), 1, "view", 100.0 + 0.01 * i, "{}") for i in range(200)
    ]
    sf = _write_events(spark, tmp_path, rows)
    r = {x["symbol"]: x for x in QUERIES["ticks_realized_semivariance"](spark, sf).collect()}
    assert r["S1"]["rs_neg_q6"] == 0.0
    assert r["S1"]["rs_pos_q6"] > 0
    assert r["S1"]["sj_rel_q6"] == 1.0

    rows = [
        (i, _ts(i), 1, "view", 100.0 + 0.01 * i, "{}") for i in range(100)
    ] + [
        (100, _ts(100), 1, "view", 50.0, "{}")  # -50.99 dollar jump
    ]
    sf2 = _write_events(spark, tmp_path / "jump", rows)
    r2 = {x["symbol"]: x for x in QUERIES["ticks_realized_semivariance"](spark, sf2).collect()}
    assert r2["S1"]["sj_q6"] < 0
    assert r2["S1"]["rs_neg_q6"] > r2["S1"]["rs_pos_q6"]


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_ks_matched_mix_zero_full_separation_one(spark, tmp_path):
    """Matched 50/50 $1/$2 mixes in both arms -> D = 0; complete
    separation (every A above every B) -> D = 1 and significant."""
    rows, eid, per_arm_seen, u = [], 0, {"A": 0, "B": 0}, 0
    while min(per_arm_seen.values()) < 100:
        arm = _md5_arm(u)
        if per_arm_seen[arm] < 100:
            spend = 1.0 if per_arm_seen[arm] % 2 == 0 else 2.0
            per_arm_seen[arm] += 1
            rows.append((eid, _ts(u), u, "view", spend, "{}")); eid += 1
        u += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_ks_test"](spark, sf).collect()[0]
    assert r["d_q6"] == 0.0 and bool(r["significant"]) is False

    rows, eid = [], 0
    for u in range(400):
        spend = 2.0 if _md5_arm(u) == "A" else 1.0
        rows.append((eid, _ts(u), u, "view", spend, "{}")); eid += 1
    sf2 = _write_events(spark, tmp_path / "sep", rows)
    r2 = QUERIES["events_ks_test"](spark, sf2).collect()[0]
    assert r2["d_q6"] == 1.0 and bool(r2["significant"]) is True


def test_winsorized_ab_clamps_the_whale(spark, tmp_path):
    """Identical $1.00 arms except one arm-A whale at $10,000: the raw
    mean gap would be dollars, the p95-winsorized gap is EXACTLY zero
    (the whale clamps to v95 = 100 cents)."""
    rows, eid, whale_planted = [], 0, False
    for u in range(400):
        spend = 1.0
        if not whale_planted and _md5_arm(u) == "A":
            spend, whale_planted = 10_000.0, True
        rows.append((eid, _ts(u), u, "view", spend, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_winsorized_ab"](spark, sf).collect()[0]
    assert r["v95_cents"] == 100
    assert r["wmean_a_q6"] == 100.0 and r["wmean_b_q6"] == 100.0
    assert r["wdiff_q6"] == 0.0


@slow_lane  # 5-8 s (r13 durations): exhaustive-lane
def test_shap_linear_dominant_feature_and_sign(spark, tmp_path):
    """Separable-by-token-count corpus (en docs long, fr docs short):
    the trained weight on tokens_x is the discriminator, so every doc's
    TOP attribution must be tokens_x, positive for the long (en) docs
    and negative for the short ones — and within each class the phi
    values must be identical (identical features)."""
    rows = []
    for i in range(60):
        if i % 2 == 0:
            rows.append((i, " ".join(["word"] * 40), "en", "s"))
        else:
            rows.append((i, " ".join(["mot"] * 5), "fr", "s"))
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in QUERIES["doc_shap_linear"](spark, sf).collect()}
    assert len(out) == 60
    assert all(r["feature"] == "tokens_x" for r in out.values())
    long_phis = {r["phi_q6"] for i, r in out.items() if i % 2 == 0}
    short_phis = {r["phi_q6"] for i, r in out.items() if i % 2 == 1}
    assert len(long_phis) == 1 and len(short_phis) == 1
    assert long_phis.pop() > 0 > short_phis.pop()


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_msprt_accumulates_evidence_and_never_rejects_null(spark, tmp_path):
    """Planted persistent effect (T spends $5, C spends $1, cohorts
    entering over 10 days): log-lambda must RISE with the cumulative
    sample and reject by the final day. Exactly-equal arms: delta = 0,
    so log-lambda = 0.5·ln(r) < 0 on every day — never rejects (the
    always-valid guarantee's null side)."""
    from datetime import datetime, timedelta

    def day_ts(d, i):
        return (datetime(2024, 1, 1 + d) + timedelta(seconds=i)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )

    rows, eid = [], 0
    for d in range(10):
        for j in range(40):
            u = d * 40 + j
            spend = 5.0 if _md5_arm(u) == "A" else 1.0
            # tiny per-user jitter keeps sigma2 > 0 without moving means
            jitter = 0.01 if j % 2 == 0 else -0.01
            rows.append((eid, day_ts(d, j), u, "view", spend + jitter, "{}"))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = sorted(
        QUERIES["events_msprt_sequential"](spark, sf).collect(),
        key=lambda r: str(r["day"]),
    )
    assert len(out) == 10
    assert out[-1]["log_lambda_q6"] > out[0]["log_lambda_q6"]
    assert bool(out[-1]["reject"]) is True

    rows, eid = [], 0
    for d in range(10):
        for j in range(40):
            u = d * 40 + j
            jitter = 0.01 if j % 2 == 0 else -0.01
            rows.append((eid, day_ts(d, j), u, "view", 3.0 + jitter, "{}"))
            eid += 1
    sf2 = _write_events(spark, tmp_path / "null", rows)
    out2 = QUERIES["events_msprt_sequential"](spark, sf2).collect()
    assert out2 and all(not bool(r["reject"]) for r in out2)
    assert all(r["log_lambda_q6"] <= 0.1 for r in out2)


def test_event_study_flat_pretrends_and_planted_post_effect(spark, tmp_path):
    """Both arms at $1.00 before the (data-derived) midpoint; T jumps to
    $3.00 after it: every pre-period ATT(k) must be exactly 0 and every
    post-period ATT(k) exactly 200 cents."""
    from datetime import datetime, timedelta

    rows, eid = [], 0
    # 8 days of data -> midpoint cut lands between day 4 and 5
    for d in range(8):
        for j in range(50):
            u = j
            ts = (datetime(2024, 1, 1 + d) + timedelta(seconds=j)).strftime(
                "%Y-%m-%d %H:%M:%S"
            )
            post = d >= 4
            val = 3.0 if (post and _md5_arm(u) == "A") else 1.0
            rows.append((eid, ts, u, "view", val, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = QUERIES["events_did_event_study"](spark, sf).collect()
    assert out, "no event-study rows"
    pre = [r for r in out if r["is_pre"]]
    post = [r for r in out if not r["is_pre"]]
    assert pre and post
    assert all(r["att_q6"] == 0.0 for r in pre), pre
    assert all(r["att_q6"] == 200.0 for r in post), post


def test_price_index_doubling_prices_fixed_basket(spark, tmp_path):
    """Two ship years, identical part basket and quantities, every unit
    price exactly doubled in year 2: Laspeyres = Paasche = Fisher = 2.0
    exactly; the base-year row indexes at exactly 1.0."""
    rows = []
    for yr, mult in ((1995, 1.0), (1996, 2.0)):
        for pk in range(20):
            price_per_unit = (10.0 + pk) * mult
            qty = 4.0
            rows.append(
                (pk, pk, 1, 1, qty, price_per_unit * qty, 0.0, 0.0,
                 "N", "O", f"{yr}-06-15 00:00:00")
            )
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    d = str(tmp_path / "sfsynth")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = {r["yr"]: r for r in QUERIES["orders_price_index"](spark, d).collect()}
    assert out[1995]["laspeyres_q6"] == 1.0 == out[1995]["fisher_q6"]
    assert out[1996]["laspeyres_q6"] == 2.0
    assert out[1996]["paasche_q6"] == 2.0
    assert out[1996]["fisher_q6"] == 2.0
    assert out[1996]["n_parts"] == 20


# ---------------------------------------------------------------------------
# Round-11 statistical family: planted-structure semantics
# ---------------------------------------------------------------------------


def test_bh_fdr_flags_planted_signals_not_nulls(spark, tmp_path):
    """Users 0-199: arm A first-touches 'purchase', arm B 'view' — two
    metrics with maximal arm dependence. Users 200-399: first-touch
    'click'/'error' split by u%2, independent of arm — two null
    metrics. BH must reject exactly the planted pair; the adjusted p
    must be monotone nondecreasing in rank; and the significant set
    must be a prefix of the rank order (step-up rejects everything at
    or below k*)."""
    rows, eid = [], 0
    for u in range(200):
        et = "purchase" if _md5_arm(u) == "A" else "view"
        rows.append((eid, _ts(u), u, et, 1.0, "{}")); eid += 1
    for u in range(200, 400):
        et = "click" if u % 2 else "error"
        rows.append((eid, _ts(u), u, et, 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in QUERIES["events_bh_fdr"](spark, sf).collect()}
    assert bool(out["purchase"]["significant_bh"]) is True
    assert bool(out["view"]["significant_bh"]) is True
    assert bool(out["click"]["significant_bh"]) is False
    assert bool(out["error"]["significant_bh"]) is False
    by_rank = sorted(out.values(), key=lambda r: r["rank"])
    adj = [r["p_adj_q6"] for r in by_rank]
    assert adj == sorted(adj)  # monotone step-up adjustment
    sig = [bool(r["significant_bh"]) for r in by_rank]
    assert sig == sorted(sig, reverse=True)  # rejections form a rank prefix


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_kruskal_wallis_planted_shift_and_degenerate(spark, tmp_path):
    """One event type's values sit far above the other two (every rank
    in the top block) -> H blows past the chi-square critical. An
    all-tied corpus (one distinct value everywhere) has zero rank
    variance - the tie correction hits 0 and the query must emit
    NOTHING rather than divide by zero."""
    rows, eid = [], 0
    for u in range(300):
        if u % 3 == 0:
            et, v = "click", 500.0 + (u % 7)
        elif u % 3 == 1:
            et, v = "view", 100.0 + (u % 7)
        else:
            et, v = "purchase", 100.0 + ((u + 3) % 7)
        rows.append((eid, _ts(u), u, et, v, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_kruskal_wallis"](spark, sf).collect()[0]
    assert r["k"] == 3 and r["df"] == 2
    assert r["h_adj_q6"] > 50 and bool(r["significant"]) is True

    rows = [(i, _ts(i), i, "view" if i % 2 else "click", 42.0, "{}")
            for i in range(60)]
    sf2 = _write_events(spark, tmp_path / "tied", rows)
    assert QUERIES["events_kruskal_wallis"](spark, sf2).collect() == []


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_page_hinkley_alarms_on_shift_never_on_flat(spark, tmp_path):
    """A flat series drifts nowhere: every PH term is exactly -delta,
    M is its own running minimum and the statistic is pinned at 0. A
    10x upward mean shift on day 10 makes the post-shift terms large
    and positive - the gap must alarm on every post-shift day and on
    none before."""
    from datetime import datetime, timedelta

    def dts(day, i):
        return (datetime(2024, 1, 1) + timedelta(days=day, seconds=i)
                ).strftime("%Y-%m-%d %H:%M:%S")

    rows, eid = [], 0
    for day in range(20):
        for i in range(5):
            rows.append((eid, dts(day, i), eid, "view", 10.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path / "flat", rows)
    flat = QUERIES["events_page_hinkley"](spark, sf).collect()
    assert len(flat) == 20
    assert all(r["ph_q6"] == 0.0 and not r["alarm"] for r in flat)

    rows, eid = [], 0
    for day in range(20):
        v = 10.0 if day < 10 else 100.0
        for i in range(5):
            rows.append((eid, dts(day, i), eid, "view", v, "{}")); eid += 1
    sf2 = _write_events(spark, tmp_path / "shift", rows)
    out = sorted(QUERIES["events_page_hinkley"](spark, sf2).collect(),
                 key=lambda r: r["day"])
    assert all(not r["alarm"] for r in out[:10])
    assert all(r["alarm"] for r in out[10:])


def test_theil_sen_ignores_single_outlier_day(spark, tmp_path):
    """Eleven daily closes on an exact 5.00/day line except day 5,
    which spikes 100x: 45 of the 55 pairwise slopes are exactly 500
    cents/day, so the median slope IS 500 - the robustness OLS cannot
    offer (the spike would drag a least-squares fit far off 500)."""
    from datetime import datetime, timedelta

    rows = []
    for d in range(11):
        ts = (datetime(2024, 1, 1) + timedelta(days=d)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        v = 10000.0 if d == 5 else 100.0 + 5.0 * d
        rows.append((d, ts, 0, "view", v, "{}"))  # user 0 -> symbol S0
    sf = _write_events(spark, tmp_path, rows)
    out = QUERIES["ticks_theil_sen"](spark, sf).collect()
    r = {x["symbol"]: x for x in out}["S0"]
    assert r["n_days"] == 11 and r["n_pairs"] == 55
    assert r["slope_med_q6"] == 500.0


def _write_theil_tables(spark, tmp_path, cust_spend):
    """cust_spend: list of (custkey, nationkey, totalprice)."""
    d = str(tmp_path / "sftheil")
    spark.createDataFrame(
        [(0, "ALPHA", 0), (1, "BETA", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    spark.createDataFrame(
        [(ck, f"c{ck}", nk, 0.0, "SEG") for ck, nk, _ in cust_spend],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [
            (i, ck, "O", tp, "2024-01-01 00:00:00", "1-URGENT")
            for i, (ck, _, tp) in enumerate(cust_spend)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    return d


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_theil_index_zero_on_equality_pure_between_on_nation_gap(
    spark, tmp_path
):
    """Perfect equality (every customer spends $100) -> all three Theil
    components are exactly 0. Equal WITHIN each nation but a 4x gap
    BETWEEN nations -> the within component is exactly 0 and the total
    equals the between component (the additive decomposition, observed
    rather than forced)."""
    eq = [(ck, ck % 2, 100.0) for ck in range(10)]
    sf = _write_theil_tables(spark, tmp_path / "eq", eq)
    r = QUERIES["orders_theil_index"](spark, sf).collect()[0]
    assert r["n_customers"] == 10 and r["n_groups"] == 2
    assert r["theil_total_q6"] == 0.0
    assert r["theil_between_q6"] == 0.0
    assert r["theil_within_q6"] == 0.0

    gap = [(ck, ck % 2, 400.0 if ck % 2 == 0 else 100.0) for ck in range(10)]
    sf2 = _write_theil_tables(spark, tmp_path / "gap", gap)
    r2 = QUERIES["orders_theil_index"](spark, sf2).collect()[0]
    assert r2["theil_within_q6"] == 0.0
    assert r2["theil_between_q6"] > 0.1
    assert abs(r2["theil_total_q6"] - r2["theil_between_q6"]) < 1e-5


def _write_doc_texts(spark, tmp_path, texts):
    d = str(tmp_path / "sfdocs")
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_rater_agreement_perfect_and_independent(spark, tmp_path):
    """Raters that always agree (long <=> wordy by construction) give
    kappa exactly 1. A corpus built so the two raters are statistically
    independent with balanced marginals gives p_o = p_e = 0.5 and kappa
    exactly 0 - the chance-agreement discount percent-agreement (still
    50%) cannot see."""
    long_wordy = "word " * 80            # 400 chars, 80 words: (1,1)
    short_plain = "hi there"             # (0,0)
    agree = [long_wordy] * 25 + [short_plain] * 25
    sf = _write_doc_texts(spark, tmp_path / "agree", agree)
    r = QUERIES["doc_rater_agreement"](spark, sf).collect()[0]
    assert (r["n11"], r["n00"], r["n10"], r["n01"]) == (25, 25, 0, 0)
    assert r["kappa_q6"] == 1.0 and r["po_q6"] == 1.0

    long_plain = "x" * 400               # 400 chars, 1 word: (1,0)
    short_wordy = "a " * 70              # 140 chars, 70 words: (0,1)
    indep = ([long_wordy] * 25 + [long_plain] * 25
             + [short_wordy] * 25 + [short_plain] * 25)
    sf2 = _write_doc_texts(spark, tmp_path / "indep", indep)
    r2 = QUERIES["doc_rater_agreement"](spark, sf2).collect()[0]
    assert r2["po_q6"] == 0.5 and r2["pe_q6"] == 0.5
    assert r2["kappa_q6"] == 0.0


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_nelson_aalen_single_mass_conversion(spark, tmp_path):
    """Every user clicks at t=0 and purchases exactly 10 s later: one
    event time carrying the whole risk set, so the hazard increment is
    d/n = 1 exactly, the cumulative hazard is 1.0, and the
    Fleming-Harrington survival is exp(-1) — hand-checkable against
    the detmath exp. The cumulative hazard must also be nondecreasing
    in duration on any corpus (checked on the planted two-step one)."""
    rows, eid = [], 0
    for u in range(40):
        rows.append((eid, _ts(0), u, "click", 1.0, "{}")); eid += 1
        rows.append((eid, _ts(10), u, "purchase", 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = QUERIES["events_nelson_aalen"](spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["d_sec"] == 10 and r["n_risk"] == 40 and r["d_events"] == 40
    assert r["cum_hazard_q6"] == 1.0
    assert abs(r["s_fh_q6"] - 0.367879) < 2e-6

    rows, eid = [], 0
    for u in range(40):
        rows.append((eid, _ts(0), u, "click", 1.0, "{}")); eid += 1
        # half convert at 10 s, half at 20 s
        rows.append((eid, _ts(10 if u % 2 == 0 else 20), u, "purchase",
                     1.0, "{}")); eid += 1
    sf2 = _write_events(spark, tmp_path / "twostep", rows)
    out2 = sorted(QUERIES["events_nelson_aalen"](spark, sf2).collect(),
                  key=lambda r: r["d_sec"])
    hz = [r["cum_hazard_q6"] for r in out2]
    assert hz == sorted(hz) and len(hz) == 2
    # H = 20/40 + 20/20 = 1.5 exactly
    assert hz[-1] == 1.5


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_log_rank_null_vs_planted_arm_gap(spark, tmp_path):
    """Conversion delay depends only on u%5 — independent of the arm —
    so the arms' survival curves coincide and chi2 must sit far below
    the critical (a single shared event time would carry ZERO log-rank
    variance and correctly emit nothing, so the null case staggers
    times). Arm A converts at 10 s while arm B NEVER converts
    (censored at its last event) -> the gap blows past the df=1
    critical."""
    rows, eid = [], 0
    for u in range(200):
        rows.append((eid, _ts(0), u, "click", 1.0, "{}")); eid += 1
        rows.append((eid, _ts(10 + (u % 5) * 10), u, "purchase", 1.0, "{}"))
        eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_log_rank"](spark, sf).collect()[0]
    assert r["o_a"] == r["n_a"]  # every A user converts
    assert r["chi2_q6"] < 3.841459 and bool(r["significant"]) is False

    rows, eid = [], 0
    for u in range(200):
        rows.append((eid, _ts(0), u, "click", 1.0, "{}")); eid += 1
        if _md5_arm(u) == "A":
            rows.append((eid, _ts(10), u, "purchase", 1.0, "{}")); eid += 1
        else:
            rows.append((eid, _ts(30), u, "view", 1.0, "{}")); eid += 1
    sf2 = _write_events(spark, tmp_path / "gap", rows)
    r2 = QUERIES["events_log_rank"](spark, sf2).collect()[0]
    assert r2["o_a"] > 0 and r2["chi2_q6"] > 30
    assert bool(r2["significant"]) is True


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_pr_auc_separable_corpus_and_prevalence(spark, tmp_path):
    """The separable corpus of test_classifier_auc_separable_corpus:
    a perfect ranker's average precision is ~1. The prevalence column
    must equal the exact positive share (the random-classifier
    baseline AP is read against) — here 0.5."""
    rows = []
    for i in range(60):
        if i % 2 == 0:
            rows.append((i, " ".join(["word"] * 40), "en", "s"))
        else:
            rows.append((i, " ".join(["mot"] * 5), "fr", "s"))
    sf = _write_docs(spark, tmp_path, rows)
    r = QUERIES["doc_classifier_pr_auc"](spark, sf).collect()[0]
    assert r["n_pos"] == 30 and r["n_neg"] == 30
    assert r["prevalence_q6"] == 0.5
    assert r["ap_q6"] >= 0.99


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_anova_f_planted_shift_vs_matched_groups(spark, tmp_path):
    """One group's mean sits 5x above the others -> F blows past the
    chi2/df critical and eta2 says most variance is between groups.
    Three groups drawing the same 7-point value cycle -> F must sit
    far below the critical (and a zero-spread corpus emits nothing
    rather than 0/0)."""
    rows, eid = [], 0
    for u in range(300):
        if u % 3 == 0:
            et, v = "click", 500.0 + (u % 7)
        elif u % 3 == 1:
            et, v = "view", 100.0 + (u % 7)
        else:
            et, v = "purchase", 100.0 + ((u + 3) % 7)
        rows.append((eid, _ts(u), u, et, v, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_anova_f"](spark, sf).collect()[0]
    assert r["k"] == 3 and r["df_between"] == 2
    assert bool(r["significant"]) is True and r["eta2_q6"] > 0.9

    rows, eid = [], 0
    for u in range(300):
        et = ("click", "view", "purchase")[u % 3]
        rows.append((eid, _ts(u), u, et, 100.0 + ((u // 3) % 7), "{}")); eid += 1
    sf2 = _write_events(spark, tmp_path / "null", rows)
    r2 = QUERIES["events_anova_f"](spark, sf2).collect()[0]
    assert bool(r2["significant"]) is False and r2["eta2_q6"] < 0.05

    rows = [(i, _ts(i), i, ("view", "click")[i % 2], 42.0, "{}")
            for i in range(60)]
    sf3 = _write_events(spark, tmp_path / "const", rows)
    assert QUERIES["events_anova_f"](spark, sf3).collect() == []


@slow_lane  # 5-8 s (r13 durations): exhaustive-lane
def test_brier_decomposition_separable_corpus(spark, tmp_path):
    """On the trivially separable corpus the classifier RANKS perfectly
    (AP ~ 1) but its 12-step logistic scores are NOT calibrated — and
    Murphy is exactly the lens that separates those two facts:
    resolution equals uncertainty EXACTLY (every score decile is pure,
    carrying all the outcome variance; both are p(1-p) = 0.25 at the
    planted 50% base rate), so the binned Brier collapses to the
    reliability term alone — which stays well above 0, flagging the
    miscalibration ROC/PR metrics cannot see. The Murphy identity
    holds on the q6 grid by construction."""
    rows = []
    for i in range(60):
        if i % 2 == 0:
            rows.append((i, " ".join(["word"] * 40), "en", "s"))
        else:
            rows.append((i, " ".join(["mot"] * 5), "fr", "s"))
    sf = _write_docs(spark, tmp_path, rows)
    r = QUERIES["doc_brier_decomposition"](spark, sf).collect()[0]
    assert r["n"] == 60
    assert r["uncertainty_q6"] == 0.25
    assert r["resolution_q6"] == 0.25  # pure deciles: res == unc exactly
    assert r["brier_binned_q6"] == r["reliability_q6"]  # identity collapses
    assert 0.0 < r["reliability_q6"] < 0.25  # ranked perfectly, calibrated badly


@slow_lane  # 5-8 s (r13 durations): exhaustive-lane
def test_skyline_hand_crafted_frontier(spark, tmp_path):
    """Hand-checkable Pareto frontier: (100, day5) dominates (100, day4)
    and (95, day3); (90, day9) dominates (80, day9); an exact duplicate
    of a frontier point also survives (neither copy strictly beats the
    other). Frontier = both (100, day5) copies + (90, day9)."""
    d = str(tmp_path / "sfsky")
    rows = [
        (1, 100.0, "2024-01-05"),
        (2, 90.0, "2024-01-09"),
        (3, 95.0, "2024-01-03"),
        (4, 100.0, "2024-01-04"),
        (5, 80.0, "2024-01-09"),
        (6, 100.0, "2024-01-05"),  # duplicate frontier point
    ]
    spark.createDataFrame(
        [(k, 7, "O", p, f"{dt} 00:00:00", "1-URGENT") for k, p, dt in rows],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got = {r["o_orderkey"] for r in QUERIES["orders_skyline"](spark, d).collect()}
    assert got == {1, 2, 6}


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_lorenz_diagonal_on_equal_spend_and_concentrated(spark, tmp_path):
    """Ten users each spending exactly $1.00: the Lorenz curve IS the
    diagonal — spend share equals user share at every decile, exactly
    on the q6 grid. One whale holding ~99% of spend: the bottom 90% of
    users carry under 2%."""
    rows = [(u, _ts(u), u, "view", 1.0, "{}") for u in range(10)]
    sf = _write_events(spark, tmp_path, rows)
    out = {r["decile"]: r for r in QUERIES["events_lorenz_curve"](spark, sf).collect()}
    assert len(out) == 10
    for d in range(1, 11):
        assert out[d]["users_cum"] == d
        assert out[d]["user_share_q6"] == d / 10
        assert out[d]["spend_share_q6"] == d / 10  # exact diagonal

    rows = [(u, _ts(u), u, "view", 1.0, "{}") for u in range(9)]
    rows.append((9, _ts(9), 9, "view", 1000.0, "{}"))
    sf2 = _write_events(spark, tmp_path / "whale", rows)
    out2 = {r["decile"]: r for r in QUERIES["events_lorenz_curve"](spark, sf2).collect()}
    assert out2[9]["spend_share_q6"] < 0.02   # bottom 90% nearly nothing
    assert out2[10]["spend_share_q6"] == 1.0  # full mass at the top


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_odds_ratio_planted_lift_and_null(spark, tmp_path):
    """Arm A converts at ~80%, arm B at ~20% (by deterministic u%5):
    OR = (0.8/0.2)/(0.2/0.8) = 16 up to integer rounding, the CI
    excludes 1 and RR sits near 4. Identical conversion in both arms
    (u%2, independent of the md5 split): the CI must straddle 1."""
    rows, eid = [], 0
    for u in range(500):
        conv = (u % 5 != 0) if _md5_arm(u) == "A" else (u % 5 == 0)
        et = "purchase" if conv else "view"
        rows.append((eid, _ts(u), u, et, 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_odds_ratio"](spark, sf).collect()[0]
    assert r["odds_ratio_q6"] > 8 and r["relative_risk_q6"] > 2.5
    assert r["or_ci_lo_q6"] > 1.0 and bool(r["significant"]) is True

    rows, eid = [], 0
    for u in range(500):
        et = "purchase" if u % 2 == 0 else "view"
        rows.append((eid, _ts(u), u, et, 1.0, "{}")); eid += 1
    sf2 = _write_events(spark, tmp_path / "null", rows)
    r2 = QUERIES["events_odds_ratio"](spark, sf2).collect()[0]
    assert r2["or_ci_lo_q6"] < 1.0 < r2["or_ci_hi_q6"]
    assert bool(r2["significant"]) is False


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_mann_kendall_monotone_vs_alternating(spark, tmp_path):
    """A strictly rising daily close series has EVERY pair concordant —
    S = n(n-1)/2 exactly — and must flag a significant trend; an
    alternating series has S near 0 and must not. Constant closes
    (zero variance) emit nothing."""
    from datetime import datetime, timedelta

    def dts(day):
        return (datetime(2024, 1, 1) + timedelta(days=day)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )

    up = [(d, dts(d), 0, "view", 100.0 + d, "{}") for d in range(15)]
    sf = _write_events(spark, tmp_path / "up", up)
    r = {x["symbol"]: x for x in QUERIES["ticks_mann_kendall"](spark, sf).collect()}["S0"]
    assert r["s_stat"] == 15 * 14 // 2
    assert r["z_q6"] > 1.959964 and bool(r["significant"]) is True

    alt = [(d, dts(d), 0, "view", 100.0 + (d % 2), "{}") for d in range(15)]
    sf2 = _write_events(spark, tmp_path / "alt", alt)
    r2 = {x["symbol"]: x for x in QUERIES["ticks_mann_kendall"](spark, sf2).collect()}["S0"]
    assert abs(r2["z_q6"]) < 1.959964 and bool(r2["significant"]) is False

    flat = [(d, dts(d), 0, "view", 100.0, "{}") for d in range(15)]
    sf3 = _write_events(spark, tmp_path / "flat", flat)
    assert QUERIES["ticks_mann_kendall"](spark, sf3).collect() == []


@slow_lane  # 5-8 s (r13 durations): exhaustive-lane
def test_conformal_coverage_guarantee_on_separable_corpus(spark, tmp_path):
    """Split-conformal on the separable corpus: the empirical test
    coverage must clear the 1 - alpha = 0.9 guarantee (exchangeable
    splits, exact order-statistic threshold), and because the
    classifier separates the classes the average prediction-set size
    must stay near 1 (a guarantee met by abstention would show ~2)."""
    rows = []
    for i in range(200):
        if i % 2 == 0:
            rows.append((i, " ".join(["word"] * 40), "en", "s"))
        else:
            rows.append((i, " ".join(["mot"] * 5), "fr", "s"))
    sf = _write_docs(spark, tmp_path, rows)
    r = QUERIES["doc_conformal_coverage"](spark, sf).collect()[0]
    assert r["n_calib"] + r["n_test"] == 200
    assert r["coverage_q6"] >= 0.9
    assert r["avg_set_size_q6"] < 1.5
    assert 0.0 <= r["qhat_q6"] <= 1.0


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_dickey_fuller_mean_reverting_vs_random_walk(spark, tmp_path):
    """A strongly mean-reverting alternating series (every step pulls
    all the way back) must reject the unit root with a deeply negative
    t; a hash-random walk (cumulative md5 coin steps, no reversion)
    must NOT reject. Constant series emit nothing (zero lag
    variance)."""
    # jitter keeps the fit imperfect: a PERFECT alternation has zero
    # residual variance and correctly emits nothing (like `flat` below)
    alt = [(i, _ts(i), 0, "view", 100.0 + 10.0 * (i % 2) + 0.01 * (i % 7),
            "{}") for i in range(400)]
    sf = _write_events(spark, tmp_path / "alt", alt)
    r = {x["symbol"]: x for x in
         QUERIES["ticks_dickey_fuller"](spark, sf).collect()}["S0"]
    assert r["gamma_q6"] < -1.5  # overshooting reversion
    assert r["t_stat_q6"] < -2.8621 and bool(r["mean_reverting"]) is True

    lvl, rows = 100.0, []
    for i in range(400):
        lvl += 1.0 if _md5_bit(i) else -1.0
        rows.append((i, _ts(i), 0, "view", lvl, "{}"))
    sf2 = _write_events(spark, tmp_path / "walk", rows)
    r2 = {x["symbol"]: x for x in
          QUERIES["ticks_dickey_fuller"](spark, sf2).collect()}["S0"]
    assert bool(r2["mean_reverting"]) is False

    flat = [(i, _ts(i), 0, "view", 100.0, "{}") for i in range(50)]
    sf3 = _write_events(spark, tmp_path / "flat", flat)
    assert QUERIES["ticks_dickey_fuller"](spark, sf3).collect() == []


@slow_lane  # >8 s measured (r13 durations): re-proven in the
# SPARK_GRAFT_EXHAUSTIVE=1 lane
def test_cramers_v_bounds_on_independence_and_determinism(spark, tmp_path):
    """Exactly arm-independent type mix (every user emits the same
    pair) -> chi2 = 0 and V = 0. Arm fully DETERMINES the type -> V
    = 1 exactly (the [0,1] normalization's upper bound)."""
    rows, eid = [], 0
    for u in range(100):
        rows.append((eid, _ts(u), u, "view", 1.0, "{}")); eid += 1
        rows.append((eid, _ts(u + 1), u, "click", 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = QUERIES["events_cramers_v"](spark, sf).collect()[0]
    assert r["chi2_q6"] == 0.0 and r["cramers_v_q6"] == 0.0

    rows, eid = [], 0
    for u in range(200):
        et = "purchase" if _md5_arm(u) == "A" else "view"
        rows.append((eid, _ts(u), u, et, 1.0, "{}")); eid += 1
    sf2 = _write_events(spark, tmp_path / "det", rows)
    r2 = QUERIES["events_cramers_v"](spark, sf2).collect()[0]
    assert r2["cramers_v_q6"] > 0.999


def test_survival_users_durations_and_censoring(spark):
    """``_survival_users`` (the entry/censoring rows of the three
    survival queries) on five hand-made users: a converter, a purchase
    at the click's own instant, a purchase only before the first click,
    a click only, and a user who never clicks."""
    from big_data_project_jan_2026_tick_data__spark.registry.q_events_ticks import (
        _survival_users,
    )

    t0 = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in epoch micros
    s = 1_000_000
    rows = [
        # converts 60 s after the first click; the later view is ignored
        (1, t0, 1, "click"),
        (2, t0 + 20 * s, 1, "click"),
        (3, t0 + 60 * s, 1, "purchase"),
        (4, t0 + 900 * s, 1, "view"),
        # purchase at the click's ts is not after it: censored at the
        # last event, 30.5 s later (whole seconds, rounded down)
        (5, t0, 2, "click"),
        (6, t0, 2, "purchase"),
        (7, t0 + 30 * s + 500_000, 2, "view"),
        # purchase only before the first click: censored at the last event
        (8, t0 - 100 * s, 3, "purchase"),
        (9, t0, 3, "click"),
        (10, t0 + 200 * s, 3, "view"),
        # clicks only: censored at the last click
        (11, t0, 4, "click"),
        (12, t0 + 7 * s + 900_000, 4, "click"),
        # no click at all: not in the table
        (13, t0, 5, "view"),
        (14, t0 + 5 * s, 5, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, us long, user_id long, event_type string"
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
    )
    got = {
        r["user_id"]: (r["d_sec"], r["c"])
        for r in _survival_users(ev, F.col("user_id")).collect()
    }
    assert got == {1: (60, 1), 2: (30, 0), 3: (200, 0), 4: (7, 0)}
