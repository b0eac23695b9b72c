"""Streaming drift monitors (custom stateful operators).

The streaming counterpart of ``stats.cusum_changepoints``: Page's CUSUM
run continuously over a live tick/metric stream with
``applyInPandasWithState`` — the alerting deployment mode of the same
math the batch operator proves (reference domain: the live endpoint's
window-transition monitoring, ``ML Model/Scripts/live_endpoint.py``
spec; this is the drift-alarm sibling of
``session_pipeline.stateful_window_scorer``).

Determinism contract: the per-group state carries the PREFIX SUM and
its running MINIMUM (the closed form S = P − min(0, min prefix P)), not
the clamped recurrence — within a micro-batch the prefix is a
sequential ``np.cumsum``, the same left-to-right accumulation a SQL
window ``SUM ... ROWS UNBOUNDED PRECEDING`` performs, so a single-batch
replay reproduces the batch operator's alarms BIT-FOR-BIT (the driver
oracle checks exactly that). Across micro-batches the continuation adds
one float op per element (P_last + cumsum), which is drift-equivalent
but not bit-identical to a one-shot run — documented, inherent to any
incremental float monitor.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame


def cusum_monitor(
    stream: DataFrame,
    ref_stats: Mapping[str, tuple[float, float]],
    k: float = 0.5,
    h: float = 3.0,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "symbol",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key streaming CUSUM with reference statistics fitted offline
    (``ref_stats``: key → (mean, std) — the production pattern: fit on
    history, monitor the live stream; keys without stats score z = 0).

    Emits ONLY alarm rows (cusum exceeding ``h`` in σ units), in
    append mode: (key, ts, tiebreak, cusum_up_q6, cusum_dn_q6,
    alarm_up, alarm_dn). State per key is four floats — O(1) regardless
    of stream length.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    stats_map = {str(key): (float(m), float(s)) for key, (m, s) in ref_stats.items()}

    out_schema = (
        f"{key_col} string, {ts_col} timestamp, {tiebreak_col} long, "
        "cusum_up_q6 double, cusum_dn_q6 double, alarm_up boolean, alarm_dn boolean"
    )
    state_schema = "pu double, mu double, pd double, md double"

    def monitor(key, pdfs, state):
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            yield pd.DataFrame()
            return
        pu = mnu = pdn = mnd = 0.0
        if state.exists:
            pu, mnu, pdn, mnd = state.get
        sym = str(key[0])
        mu, sd = stats_map.get(sym, (0.0, 0.0))
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((pu, mnu, pdn, mnd))
            yield pd.DataFrame()
            return
        batch = pd.concat(frames).sort_values([ts_col, tiebreak_col])
        x = batch[value_col].astype(float).to_numpy()
        if sd > 0:
            z = np.floor((x - mu) / sd * 1e6 + 0.5) / 1e6
            z = np.where(np.isnan(x), 0.0, z)
        else:
            z = np.zeros(len(x))
        p_up = np.cumsum(z - k) + pu
        p_dn = np.cumsum(-z - k) + pdn
        run_min_up = np.minimum(np.minimum.accumulate(p_up), mnu)
        run_min_dn = np.minimum(np.minimum.accumulate(p_dn), mnd)
        s_up = p_up - np.minimum(run_min_up, 0.0)
        s_dn = p_dn - np.minimum(run_min_dn, 0.0)
        state.update(
            (
                float(p_up[-1]),
                float(run_min_up[-1]),
                float(p_dn[-1]),
                float(run_min_dn[-1]),
            )
        )
        mask = (s_up > h) | (s_dn > h)
        if not mask.any():
            yield pd.DataFrame()
            return
        out = pd.DataFrame(
            {
                key_col: sym,
                ts_col: batch[ts_col].to_numpy()[mask],
                tiebreak_col: batch[tiebreak_col].to_numpy()[mask],
                "cusum_up_q6": np.floor(s_up[mask] * 1e6 + 0.5) / 1e6,
                "cusum_dn_q6": np.floor(s_dn[mask] * 1e6 + 0.5) / 1e6,
                "alarm_up": s_up[mask] > h,
                "alarm_dn": s_dn[mask] > h,
            }
        )
        yield out

    return stream.groupBy(key_col).applyInPandasWithState(
        monitor,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ph_monitor(
    stream: DataFrame,
    ref_means: Mapping[str, float],
    delta: float = 0.005,
    lam: float = 0.5,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "symbol",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key streaming Page-Hinkley drift monitor — the slow-drift
    sibling of :func:`cusum_monitor` (CUSUM's reset forgives a drift
    that never spikes; PH's gap-to-running-minimum accumulates it).
    Reference means are fitted offline (``ref_means``: key → mean —
    the same fit-on-history / monitor-live split); keys without a
    reference contribute 0 terms and never alarm.

    Emits ONLY alarm rows ((M − min M)/1e9 exceeding ``lam``), append
    mode: (key, ts, tiebreak, ph_q6, alarm). State per key is TWO
    BIGINTs — the 1e-9-grid prefix sum and its running minimum — so
    unlike a float prefix the cross-micro-batch continuation is EXACT:
    a chunked replay reproduces a one-shot replay bit-for-bit at any
    batch boundary placement (stronger than the cusum_monitor
    contract, which is drift-equivalent across batches; asserted in
    tests/test_streaming.py)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    means = {str(k): float(m) for k, m in ref_means.items()}

    out_schema = (
        f"{key_col} string, {ts_col} timestamp, {tiebreak_col} long, "
        "ph_q6 double, alarm boolean"
    )
    state_schema = "p long, mn long"

    def monitor(key, pdfs, state):
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            yield pd.DataFrame()
            return
        p_last, mn_last = (state.get if state.exists else (0, 0))
        sym = str(key[0])
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((int(p_last), int(mn_last)))
            yield pd.DataFrame()
            return
        batch = pd.concat(frames).sort_values([ts_col, tiebreak_col])
        x = batch[value_col].astype(float).to_numpy()
        if sym in means:
            # same fixed-order per-row term as the SQL oracle:
            # (x - mu - delta) then ONE 1e-9 grid snap — int64 from here
            t9 = np.floor((x - means[sym] - delta) * 1e9 + 0.5).astype(np.int64)
            t9 = np.where(np.isnan(x), np.int64(0), t9)
        else:
            t9 = np.zeros(len(x), dtype=np.int64)
        p = np.cumsum(t9) + p_last  # exact: int64 addition commutes
        run_min = np.minimum(np.minimum.accumulate(p), mn_last)
        ph = np.floor((p - run_min).astype(np.float64) / 1e9 * 1e6 + 0.5) / 1e6
        state.update((int(p[-1]), int(run_min[-1])))
        mask = ph > lam
        if not mask.any():
            yield pd.DataFrame()
            return
        yield pd.DataFrame(
            {
                key_col: sym,
                ts_col: batch[ts_col].to_numpy()[mask],
                tiebreak_col: batch[tiebreak_col].to_numpy()[mask],
                "ph_q6": ph[mask],
                "alarm": np.ones(int(mask.sum()), dtype=bool),
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        monitor,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
