"""ML featurization: session-window tensors, scaling, scoring.

Re-expresses the reference's pandas featurization (`ML Model/Scripts/
model.py:187-398`) as distributed DataFrame ops. The tensor pad/resample
is one aggregate per window whose per-window logic is Catalyst
higher-order functions (the ``collect_list`` + ``transform`` form of
SURVEY §2.10), so building tensors starts no Python worker. Scaling
stats and reconstruction-error statistics are plain aggregations.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..engine import to_local
from ..functions.scalars import half_up, interval_expr, q6
from pyspark.sql import types as T

from .ticks import SESSION_WINDOWS, session_filter, with_spread

WINDOW_SIZE = 600  # ticks per session-window tensor (model.py:20)

def window_id(ts_col: str = "ts") -> Column:
    """`{date}_{morning|afternoon}` composite window key (model.py:260-272):
    morning = first session window, afternoon = second."""
    ts = F.col(ts_col)
    session = F.when(F.hour(ts) < 12, "morning").otherwise("afternoon")
    return F.concat_ws("_", F.to_date(ts).cast("string"), session)


def _spaced(i: str, n_points: str, span: str) -> str:
    """SQL for round(i·span/(n_points-1)) with round-half-up in exact
    integer arithmetic, ``(2·i·span + n_points-1) div (2(n_points-1))``,
    and 0 for a single point: the endpoint-inclusive ``linspace`` index
    of the reference without its float half-point ambiguity."""
    d = f"({n_points} - 1)"
    return f"CAST((2L * {i} * ({span}) + {d}) div greatest(2L * {d}, 1L) AS INT)"


def _tensor_sql(rows: str, n_feats: int, n_target: int) -> str:
    """SQL for the n_target × n_feats float tensor of one window's
    sorted ``rows`` (an array of structs of ``ts`` and the feature array
    ``v``, in which null cells are already NaN).

    ``n ≥ n_target`` picks rows at evenly spaced indices; ``n <
    n_target`` places every row at an evenly spaced slot (model.py:
    296-315). Each feature column is then forward-filled, back-filled
    and zero-filled on its own, NaN and ±inf counting as missing
    (``abs(x) < inf`` is false for exactly those): each valid cell
    repeats up to the next valid slot, so the fill is linear in
    n_target.

    ``transform(array(x), b -> …)[0]`` binds ``x`` to ``b`` inside the
    one expression. A computed array referenced from a lambda body
    instead would be inlined there by the optimizer and evaluated again
    for every element."""
    t = n_target
    n = "size(r)"
    # (slot, features) of the rows that reach the tensor, in slot order
    items = f"""transform(sequence(0, least({n}, {t}) - 1), i -> named_struct(
        'slot', if({n} >= {t}, i, {_spaced("i", n, str(t - 1))}),
        'v', r[if({n} >= {t}, {_spaced("i", str(t), f"{n} - 1")}, i)].v))"""
    # column c: the first valid cell from slot 0, and every valid cell up
    # to the next one (``get`` is null past the end: up to slot t); no
    # valid cell leaves t nulls, which become 0
    fill = f"""transform(array(filter(its, it -> abs(it.v[c]) < double('Infinity'))),
        ok -> concat(
          array_repeat(get(ok, 0).v[c], coalesce(get(ok, 0).slot, {t})),
          flatten(transform(ok, (it, j) -> array_repeat(
            it.v[c], coalesce(get(ok, j + 1).slot, {t}) - it.slot)))))[0]"""
    cells = f"""transform(sequence(0, {t - 1}), s ->
        transform(cols, col -> CAST(coalesce(col[s], 0D) AS FLOAT)))"""
    return f"""transform(array({rows}), r ->
      transform(array({items}), its ->
        transform(array(transform(sequence(0, {n_feats - 1}), c -> {fill})),
          cols -> {cells})[0])[0])[0]"""


def window_tensors(
    df: DataFrame,
    ts_col: str = "ts",
    feature_cols: Sequence[str] = ("bid", "ask", "spread"),
    n_target: int = WINDOW_SIZE,
    windows=SESSION_WINDOWS,
) -> DataFrame:
    """Per (symbol, window_id): the n_target × len(features) padded tensor.

    Session filter and window id are Catalyst expressions, and so is
    the tensor: one aggregate per (symbol, window_id) collects the
    window's rows, sorts them on ``(ts, *features)`` with null and NaN
    cells last (the order of a pandas sort, and a total order, so the
    tensor does not depend on upstream partitioning), and builds the
    tensor from them in its result expression (``_tensor_sql``). No
    Python worker runs. One shuffle; parallelism = #(symbol, window_id)
    groups, which grows with the data.
    """
    feats = list(feature_cols)
    base = session_filter(df, ts_col=ts_col, windows=windows, closed="both")
    if "spread" in feats and "spread" not in base.columns:
        base = with_spread(base)
    cells = ", ".join(f"coalesce(CAST(`{f}` AS DOUBLE), double('NaN'))" for f in feats)
    rows = f"array_sort(collect_list(named_struct('ts', `{ts_col}`, 'v', array({cells}))))"
    return base.groupBy("symbol", window_id(ts_col).alias("window_id")).agg(
        F.count(F.lit(1)).cast("int").alias("original_tick_count"),
        F.expr(_tensor_sql(rows, len(feats), n_target)).alias("features"),
    )


def scaler_stats(
    df: DataFrame, feature_cols: Sequence[str], group_cols: Sequence[str] = ("symbol",)
) -> DataFrame:
    """StandardScaler fit as a distributed aggregation (model.py:351-383
    fits sklearn on the driver; here mean/std are per-group agg columns)."""
    aggs = []
    for c in feature_cols:
        aggs.append(F.mean(c).alias(f"mean_{c}"))
        aggs.append(F.stddev_pop(c).alias(f"std_{c}"))
    return df.groupBy(*group_cols).agg(*aggs)


def scale_features(
    df: DataFrame, feature_cols: Sequence[str], group_cols: Sequence[str] = ("symbol",)
) -> DataFrame:
    """(x - mean) / std per group — broadcast-join the (tiny) stats table,
    arithmetic stays in codegen."""
    stats = scaler_stats(df, feature_cols, group_cols)
    out = df.join(F.broadcast(stats), list(group_cols))
    for c in feature_cols:
        std = F.when(F.col(f"std_{c}") == 0, 1.0).otherwise(F.col(f"std_{c}"))
        out = out.withColumn(c, (F.col(c) - F.col(f"mean_{c}")) / std)
    drop = [f"mean_{c}" for c in feature_cols] + [f"std_{c}" for c in feature_cols]
    return out.drop(*drop)


class PCAReconstructor:
    """Per-symbol closed-form linear autoencoder (reference
    `ML Model/Scripts/model.py:385-398` trains a torch autoencoder per
    symbol; torch is absent here, but PCA IS the optimal *linear*
    autoencoder — encoder V^T, decoder V — so this is a real trained
    reconstruction model, not a stand-in).

    ``models``: symbol → (mean f-vector, V f×k component matrix).
    Reconstruction of a window's tick-vectors x (n×f):
    ``mean + (x - mean) V V^T`` — the projection onto the learned k-dim
    subspace. Unknown symbols fall back to mean reconstruction (V=0)."""

    def __init__(self, models: dict[str, tuple[np.ndarray, np.ndarray]]):
        self.models = models

    def __call__(self, x: np.ndarray, symbol: str) -> np.ndarray:
        m = self.models.get(symbol)
        if m is None:
            return np.broadcast_to(x.mean(axis=0), x.shape)
        mean, comps = m
        centered = x - mean
        return mean + centered @ comps @ comps.T


def fit_pca_reconstructor(
    tensors: DataFrame, dim: int, n_components: int = 1
) -> PCAReconstructor:
    """Fit the per-symbol PCA reconstruction model distributively: the
    per-tick feature vectors inside every window are exploded JVM-side
    and reduced to per-symbol first/second moments in ONE hash aggregate
    (partial map-side combine — shuffle volume is #symbols × f² doubles,
    independent of data size). The f×f covariance eigendecomposition
    runs on the driver — f is the feature count (3 here), so this is
    metadata-scale math, the same shape as IVF's centroid collect."""
    fv = tensors.select("symbol", F.explode("features").alias("fv"))
    aggs: list = [F.count(F.lit(1)).alias("n")]
    for i in range(dim):
        aggs.append(F.sum(F.col("fv")[i].cast("double")).alias(f"s{i}"))
    for i in range(dim):
        for j in range(i, dim):
            aggs.append(
                F.sum(
                    (F.col("fv")[i] * F.col("fv")[j]).cast("double")
                ).alias(f"s{i}_{j}")
            )
    rows = fv.groupBy("symbol").agg(*aggs).collect()

    models: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for r in rows:
        n = r["n"]
        mean = np.array([r[f"s{i}"] / n for i in range(dim)])
        cov = np.zeros((dim, dim))
        for i in range(dim):
            for j in range(i, dim):
                cov[i, j] = cov[j, i] = r[f"s{i}_{j}"] / n - mean[i] * mean[j]
        eigvals, eigvecs = np.linalg.eigh(cov)
        comps = eigvecs[:, np.argsort(eigvals)[::-1][:n_components]]
        models[r["symbol"]] = (mean, comps)
    return PCAReconstructor(models)


def fit_pca_power_det(
    tensors: DataFrame, dim: int = 3, iters: int = 16
) -> dict[str, tuple[list[float], list[float]]]:
    """Per-symbol (mean, top principal component) fitted so that EVERY
    arithmetic step is reproducible by a SQL engine — the oracle-able
    twin of :func:`fit_pca_reconstructor` (whose ``np.linalg.eigh`` no
    SQL engine reproduces bit-for-bit):

    - moments are EXACT integer sums on the 1e-6 grid (floor(x·1e6+0.5)
      per cell / per product), accumulated in decimal(38,0) — order-
      independent, and immune to the int64 wrap a 1e10-per-row grid
      value hits at ~1e9 rows per group (DuckDB widens to HUGEINT; the
      decimal accumulator keeps Spark exact too — the exactagg k>6
      lesson);
    - covariance and the component come from plain binary64 arithmetic
      in a FIXED evaluation order (left-to-right dot terms, one
      normalize per power-iteration step from v₀ = (1,…,1)), which a
      generated SQL CTE chain replays operation for operation.

    The power method's convergence to the eigh component is irrelevant
    to parity: both engines run the SAME ``iters`` steps, so scores
    agree bit-for-bit regardless of the spectrum. Sign is pinned by v₀
    (and cancels in v·vᵀ anyway). Shuffle volume: #symbols × dim²
    decimals — metadata-scale, the centroid-collect precedent."""
    fv = tensors.select("symbol", F.explode("features").alias("fv"))
    cells = fv.select(
        "symbol",
        *[F.col("fv")[i].cast("double").alias(f"x{i}") for i in range(dim)],
    )
    aggs: list = [F.count(F.lit(1)).alias("n")]
    for i in range(dim):
        aggs.append(
            F.sum(
                half_up(F.col(f"x{i}") * 1e6).cast("decimal(38,0)")
            ).alias(f"s{i}")
        )
    for i in range(dim):
        for j in range(i, dim):
            aggs.append(
                F.sum(
                    half_up(F.col(f"x{i}") * F.col(f"x{j}") * 1e6).cast("decimal(38,0)")
                ).alias(f"s{i}_{j}")
            )
    rows = cells.groupBy("symbol").agg(*aggs).collect()

    import math

    models: dict[str, tuple[list[float], list[float]]] = {}
    for r in rows:
        n = r["n"]
        mean = [float(r[f"s{i}"]) / 1e6 / n for i in range(dim)]
        cov = [[0.0] * dim for _ in range(dim)]
        for i in range(dim):
            for j in range(i, dim):
                cij = float(r[f"s{i}_{j}"]) / 1e6 / n - mean[i] * mean[j]
                cov[i][j] = cov[j][i] = cij
        v = [1.0] * dim
        for _ in range(iters):
            u = []
            for i in range(dim):
                acc = cov[i][0] * v[0]
                for j in range(1, dim):
                    acc = acc + cov[i][j] * v[j]
                u.append(acc)
            nrm_sq = u[0] * u[0]
            for i in range(1, dim):
                nrm_sq = nrm_sq + u[i] * u[i]
            nrm = math.sqrt(nrm_sq)
            if nrm != 0.0:
                v = [u[i] / nrm for i in range(dim)]
        models[r["symbol"]] = (mean, v)
    return models


def pca_anomaly_errors_det(
    tensors: DataFrame,
    models: dict[str, tuple[list[float], list[float]]],
    dim: int = 3,
) -> DataFrame:
    """Per-window top-1-PC reconstruction MSE, entirely JVM-side (the
    scoring twin of :func:`reconstruction_errors` with zero Python in
    the hot path): explode the tensor cells, broadcast-join the
    (symbol → mean, component) table, and reduce each window with an
    EXACT 1e-9-grid integer sum of squared residuals —
    order-independent and bit-reproducible in SQL.

    Residual math per row: c = x − mean, t = c·v, d = c − t·v,
    err = Σ floor(d²·1e9 + 0.5) / 1e9 / (rows·dim)."""
    spark = tensors.sparkSession
    model_rows = [
        (sym, *mean, *v) for sym, (mean, v) in sorted(models.items())
    ]
    schema = "symbol string, " + ", ".join(
        f"m{i} double" for i in range(dim)
    ) + ", " + ", ".join(f"v{i} double" for i in range(dim))
    mdf = spark.createDataFrame(model_rows, schema)
    fv = tensors.select(
        "symbol", "window_id", F.explode("features").alias("fv")
    ).join(F.broadcast(mdf), "symbol")
    cs = [
        (F.col("fv")[i].cast("double") - F.col(f"m{i}")).alias(f"c{i}")
        for i in range(dim)
    ]
    staged = fv.select(
        "symbol",
        "window_id",
        *cs,
        *[F.col(f"v{i}") for i in range(dim)],
    )
    t = F.col("c0") * F.col("v0")
    for i in range(1, dim):
        t = t + F.col(f"c{i}") * F.col(f"v{i}")
    staged = staged.withColumn("t", t)
    q = None
    for i in range(dim):
        d = F.col(f"c{i}") - F.col("t") * F.col(f"v{i}")
        qi = half_up(d * d * 1e9).cast("long")
        q = qi if q is None else q + qi
    staged = staged.withColumn("q", q)
    return staged.groupBy("symbol", "window_id").agg(
        (
            F.sum("q").cast("double")
            / 1e9
            / (F.count(F.lit(1)) * F.lit(dim))
        ).alias("err")
    )


def reconstruction_errors(
    tensors: DataFrame,
    model_fn=None,
) -> DataFrame:
    """Per-window reconstruction MSE (model.py:385-398). ``model_fn``:
    ``(tensor n×f ndarray, symbol) → reconstruction ndarray`` — e.g. a
    fitted :class:`PCAReconstructor`; defaults to the per-window mean
    reconstruction (a 0-parameter baseline)."""

    def default_model(x: np.ndarray, symbol: str) -> np.ndarray:
        return np.broadcast_to(x.mean(axis=0), x.shape)

    def _mean_model_err(x: np.ndarray) -> float:
        """Mean-model MSE == mean of per-feature population variances,
        computed from 1e-6-grid integer sums so the value is a pure
        function of the f32 tensor cells — bit-reproducible by the SQL
        oracle (numpy's pairwise mean/var and an engine's var_pop
        otherwise disagree in the last ulp)."""
        n = x.shape[0]
        s1 = np.floor(x * 1e6 + 0.5).astype(np.int64).sum(axis=0)
        s2 = np.floor(x * x * 1e6 + 0.5).astype(np.int64).sum(axis=0)
        mean = (s1 / 1e6) / n
        m2 = np.maximum((s2 / 1e6) / n - mean * mean, 0.0)
        return float(m2.mean())

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        errs = []
        for sym, feats in zip(pdf["symbol"], pdf["features"]):
            # Arrow hands nested arrays as an object sequence of per-row
            # arrays — stack explicitly.
            x = np.stack([np.asarray(row, dtype=np.float64) for row in feats])
            if model_fn is None:
                errs.append(_mean_model_err(x))
            else:
                errs.append(float(np.mean((x - model_fn(x, sym)) ** 2)))
        return pd.DataFrame(
            {"symbol": pdf["symbol"], "window_id": pdf["window_id"], "err": errs}
        )

    out_schema = T.StructType(
        [
            T.StructField("symbol", T.StringType(), False),
            T.StructField("window_id", T.StringType(), False),
            T.StructField("err", T.DoubleType(), False),
        ]
    )
    return tensors.groupBy("symbol").applyInPandas(score, schema=out_schema)


def purged_cv_folds(
    df: DataFrame,
    ts_col: str = "ts",
    k: int = 5,
    purge: int = 1,
    embargo: int = 1,
) -> DataFrame:
    """Purged k-fold cross-validation plan for time-series ML (López de
    Prado 2018, ch. 7): the observed trading days split into ``k``
    contiguous test blocks, and for each fold every day within
    ``purge`` days BEFORE or ``embargo`` days AFTER the test block is
    excluded from training — the leakage control serial-correlated
    financial labels need (a plain random k-fold leaks through
    overlapping label horizons).

    Day positions are ranks over the OBSERVED days (gap-robust: a
    weekend/halt doesn't silently shrink the margins), and every
    boundary is integer arithmetic — nothing float-typed exists in the
    output, so the plan is trivially layout-independent.

    Scale shape: ONE hash agg reduces the corpus to (day, n_rows) and
    that calendar-sized frame (≈ 10⁴ rows for decades of days — the
    centroid-collect precedent) is pinned on the driver, so the corpus
    is scanned exactly once no matter how many plan branches reuse the
    calendar (lineage recompute would otherwise re-scan it per branch).
    The fold grid is k × #days rows; joining the plan back to the
    corpus is a broadcast on the day key.

    Returns (fold, day, role, n_rows) with role ∈
    {'test', 'purged', 'train'}.
    """
    from pyspark.sql import Window

    days_agg = (
        df.select(F.to_date(F.col(ts_col)).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    days = to_local(days_agg)
    n = days.agg(F.count(F.lit(1)).alias("n_days"))
    ranked = (
        days.crossJoin(F.broadcast(n))
        .withColumn("r", F.row_number().over(Window.orderBy("day")))
        .withColumn(
            "day_fold",
            F.floor((F.col("r") - 1) * k / F.col("n_days")).cast("int"),
        )
    )
    bounds = ranked.groupBy(F.col("day_fold").alias("fold")).agg(
        F.min("r").alias("lo"), F.max("r").alias("hi")
    )
    grid = ranked.crossJoin(F.broadcast(bounds))
    role = (
        F.when(F.col("day_fold") == F.col("fold"), F.lit("test"))
        .when(
            (F.col("r") >= F.col("lo") - purge)
            & (F.col("r") <= F.col("hi") + embargo),
            F.lit("purged"),
        )
        .otherwise(F.lit("train"))
    )
    return grid.select("fold", "day", role.alias("role"), "n_rows")


def triple_barrier_labels(
    bars: DataFrame,
    entries: DataFrame,
    horizon_minutes: int = 120,
    up_mult: float = 1.002,
    dn_mult: float = 0.998,
    symbol_col: str = "symbol",
    bar_ts_col: str = "bar_ts",
    close_col: str = "close_i4",
    entry_ts_col: str = "entry_ts",
    entry_close_col: str = "entry_close_i4",
) -> DataFrame:
    """Triple-barrier labeling (López de Prado 2018, ch. 3): each entry
    point is labeled by WHICH barrier its price path touches first —
    the profit-take level (``up_mult`` × entry), the stop-loss level
    (``dn_mult`` × entry), or the vertical time barrier
    (``horizon_minutes`` with neither touched → 'timeout'). This is the
    supervised-label generator the purged-CV plan exists to protect:
    labels spanning ``horizon_minutes`` are exactly the overlapping,
    serially-correlated targets that leak through naive k-folds.

    Prices ride an integer grid (``close_i4`` = price snapped to 1e-4);
    barrier levels are one correctly-rounded double product + floor per
    entry, and first-touch times are MIN aggregates over timestamps —
    nothing in the output can move with layout or partial-agg order.

    Scale shape: ONE equi-join on the symbol key with a two-sided time
    bound (entry < bar ≤ entry + horizon — the stream-stream interval
    join's batch shape), so the fan-out per entry is bounded by the
    horizon's bar count, never the tape; the label reduction is a
    conditional-MIN hash agg on (symbol, entry). At 100 TB, pre-bucket
    both sides by (symbol, coarse time) to co-locate the join.

    Returns (symbol, entry_ts, entry_close_i4, up_i4, dn_i4, t_up,
    t_dn, label).
    """
    e = entries.select(
        F.col(symbol_col).alias("symbol"),
        F.col(entry_ts_col).alias("entry_ts"),
        F.col(entry_close_col).alias("entry_close_i4"),
    ).withColumns(
        {
            "up_i4": half_up(F.col("entry_close_i4").cast("double") * up_mult),
            "dn_i4": half_up(F.col("entry_close_i4").cast("double") * dn_mult),
        }
    )
    b = bars.select(
        F.col(symbol_col).alias("symbol"),
        F.col(bar_ts_col).alias("bar_ts"),
        F.col(close_col).alias("close_i4"),
    )
    j = e.join(b, "symbol").filter(
        (F.col("bar_ts") > F.col("entry_ts"))
        & (
            F.col("bar_ts")
            <= F.col("entry_ts") + interval_expr(horizon_minutes, "minute")
        )
    )
    agg = j.groupBy(
        "symbol", "entry_ts", "entry_close_i4", "up_i4", "dn_i4"
    ).agg(
        F.min(
            F.when(F.col("close_i4") >= F.col("up_i4"), F.col("bar_ts"))
        ).alias("t_up"),
        F.min(
            F.when(F.col("close_i4") <= F.col("dn_i4"), F.col("bar_ts"))
        ).alias("t_dn"),
    )
    # entries with NO forward bars at all (end of tape) are timeouts too
    full = e.join(
        agg.select("symbol", "entry_ts", "t_up", "t_dn"),
        ["symbol", "entry_ts"],
        "left",
    )
    label = (
        F.when(F.col("t_up").isNull() & F.col("t_dn").isNull(), "timeout")
        .when(
            F.col("t_dn").isNull()
            | (F.col("t_up").isNotNull() & (F.col("t_up") < F.col("t_dn"))),
            "profit",
        )
        .otherwise("stop")
    )
    return full.select(
        "symbol",
        "entry_ts",
        "entry_close_i4",
        "up_i4",
        "dn_i4",
        "t_up",
        "t_dn",
        label.alias("label"),
    )


def label_uniqueness_weights(
    bars: DataFrame,
    labels: DataFrame,
    horizon_minutes: int = 120,
    symbol_col: str = "symbol",
    bar_ts_col: str = "bar_ts",
) -> DataFrame:
    """Average-uniqueness sample weights for overlapping labels (López
    de Prado 2018, ch. 4): a triple-barrier label spans the bars from
    its entry to its first touch (or the vertical barrier), concurrent
    labels share credit — each bar contributes 1/c(bar) where c is the
    number of labels spanning it — and the label's weight is the mean
    contribution over its span. Downweighting overlap is what keeps a
    bagged/boosted model from triple-counting the same move.

    Determinism: per-bar contributions snap to a 1e-9 integer grid
    BEFORE the (≤ horizon-bar) sum (the scale-separation rule), so the
    q6 weight cannot move with join or partial-agg order.

    Scale shape: the span expansion is the same horizon-bounded
    symbol-key interval join as the labeler; concurrency is one hash
    agg on (symbol, bar); everything else is label-sized. Returns
    (symbol, entry_ts, label, n_bars, avg_uniqueness_q6).
    """
    lab = labels.withColumn(
        "t_end",
        F.coalesce(
            F.least(
                F.coalesce("t_up", "t_dn"), F.coalesce("t_dn", "t_up")
            ),
            F.col("entry_ts") + interval_expr(horizon_minutes, "minute"),
        ),
    )
    b = bars.select(
        F.col(symbol_col).alias("symbol"), F.col(bar_ts_col).alias("bar_ts")
    )
    pairs = lab.select("symbol", "entry_ts", "t_end").join(b, "symbol").filter(
        (F.col("bar_ts") > F.col("entry_ts"))
        & (F.col("bar_ts") <= F.col("t_end"))
    )
    conc = pairs.groupBy("symbol", "bar_ts").agg(
        F.count(F.lit(1)).alias("c")
    )
    contrib = pairs.join(conc, ["symbol", "bar_ts"]).select(
        "symbol",
        "entry_ts",
        half_up(F.lit(1e9) / F.col("c")).alias("u9"),
    )
    w = contrib.groupBy("symbol", "entry_ts").agg(
        F.count(F.lit(1)).alias("n_bars"), F.sum("u9").alias("s9")
    )
    return lab.join(w, ["symbol", "entry_ts"], "left").select(
        "symbol",
        "entry_ts",
        "label",
        F.coalesce("n_bars", F.lit(0)).alias("n_bars"),
        F.when(
            F.col("n_bars") > 0,
            q6(F.col("s9").cast("double") / F.lit(1e9) / F.col("n_bars")),
        ).alias("avg_uniqueness_q6"),
    )


def cpcv_folds(
    df: DataFrame,
    ts_col: str = "ts",
    n_groups: int = 5,
    k_test: int = 2,
    purge: int = 1,
    embargo: int = 1,
) -> DataFrame:
    """Combinatorial purged cross-validation (López de Prado 2018,
    ch. 12): the observed days split into ``n_groups`` contiguous
    blocks and EVERY size-``k_test`` combination of blocks serves as
    one fold's test set — C(n, k) folds whose test sets jointly visit
    each group C(n−1, k−1) times, which is what lets CPCV assemble
    multiple independent backtest PATHS instead of the single path
    plain walk-forward gives. Purge/embargo margins around every test
    block are excluded from that fold's training days, exactly as in
    :func:`purged_cv_folds`.

    Scale shape: the corpus reduces once to the driver-pinned
    (day, n_rows) calendar; the combination list is C(n, k) × k rows of
    driver-side literals; the role grid is folds × days — calendar
    arithmetic end to end, all integers. Returns
    (fold, day, role, n_rows) with role ∈ {'test', 'purged', 'train'}.
    """
    from itertools import combinations

    from pyspark.sql import Window

    days_agg = (
        df.select(F.to_date(F.col(ts_col)).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    spark = df.sparkSession
    days = to_local(days_agg)
    n = days.agg(F.count(F.lit(1)).alias("n_days"))
    ranked = (
        days.crossJoin(F.broadcast(n))
        .withColumn("r", F.row_number().over(Window.orderBy("day")))
        .withColumn(
            "grp",
            F.floor((F.col("r") - 1) * n_groups / F.col("n_days")).cast(
                "int"
            ),
        )
    )
    bounds = ranked.groupBy(F.col("grp").alias("g")).agg(
        F.min("r").alias("lo"), F.max("r").alias("hi")
    )
    combos = [
        (f, g)
        for f, gs in enumerate(combinations(range(n_groups), k_test))
        for g in gs
    ]
    # LEFT join: a test group with no observed days (n_groups > n_days)
    # must not drop its folds from the grid — the fold still exists with
    # every day 'train' (null lo/hi make the margin predicate NULL,
    # which max() ignores and the role CASE treats as not-purged).
    fg = spark.createDataFrame(combos, "fold int, g int").join(
        F.broadcast(bounds), "g", "left"
    )
    grid = ranked.crossJoin(F.broadcast(fg))
    cell = grid.groupBy("fold", "day", "n_rows").agg(
        F.max((F.col("grp") == F.col("g")).cast("int")).alias("is_test"),
        F.max(
            (
                (F.col("r") >= F.col("lo") - purge)
                & (F.col("r") <= F.col("hi") + embargo)
            ).cast("int")
        ).alias("in_margin"),
    )
    role = (
        F.when(F.col("is_test") == 1, F.lit("test"))
        .when(F.col("in_margin") == 1, F.lit("purged"))
        .otherwise(F.lit("train"))
    )
    return cell.select("fold", "day", role.alias("role"), "n_rows")
