"""Mergeable distinct-count sketches (Apache DataSketches HLL via the
Spark 3.5+ ``hll_sketch_agg`` / ``hll_union_agg`` builtins).

The 100 TB pattern this enables: materialize ONE fine-grain rollup
table carrying a binary sketch column (e.g. per event_type × day), then
answer distinct-count questions at ANY coarser grain — weekly, monthly,
per-type, global — by unioning the stored sketches, never rescanning
the raw corpus. ``approx_count_distinct`` (the reference-parity approx
path, `registry/q_ml_streaming.py::approx_aggregates`) cannot do this:
its output is a final number, not a re-aggregable state.

Scale/determinism notes:

- Sketch construction is register-wise max → order- and
  partition-layout-independent state; union is the same max, so a
  union of per-day sketches is BYTE-equivalent in registers to the
  single-pass sketch of the union'd data.
- The HIP estimator on a directly-built sketch and the composite
  estimator a union falls back to can differ slightly, so exact
  cross-engine value matching is impossible BY DESIGN — the registry
  query therefore emits within-relative-error booleans next to the
  exact counts (the `approx_aggregates` self-check pattern), keeping
  the quality contract driver-verdictable.
- lgK=12 → 4 KiB sketches, ~1.6 % standard error; fine-grain rollup
  rows are group-count-sized, never corpus-sized.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import half_up, q6

DEFAULT_LGK = 12


def sketch_col_name(value_col: str) -> str:
    return f"hll_{value_col}"


def hll_rollup(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """Fine-grain sketch table: one row per group, one mergeable binary
    HLL sketch of ``value_col``'s distinct values. This is the table a
    pipeline persists (partitioned by the rollup grain); one shuffle on
    the group key with map-side partial sketches."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias(sketch_col_name(value_col))
    )


def hll_reaggregate(
    partials: DataFrame,
    group_cols: Sequence[str],
    sketch_col: str,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Coarser-grain distinct estimates from STORED sketches — unions
    the binary sketch column per output group and estimates; raw data is
    never touched. Input is rollup-sized, so this aggregation is
    metadata-scale at any corpus size."""
    return partials.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col, F.lit(False)))
        .cast("bigint")
        .alias(out_col)
    )


def histogram_rollup(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    nbins: int = 1000,
) -> DataFrame:
    """Fixed-bin histogram partials: one (group, bin, cnt) row per
    occupied bin — the mergeable-percentile twin of :func:`hll_rollup`.
    Merging partials to a coarser grain is an integer count sum
    (associative, order-independent), so a persisted per-day histogram
    table answers percentile questions at any grain without rescanning
    raw data — and, unlike HLL estimates, the result is EXACTLY
    reproducible cross-engine (integer counts + one closed-form
    interpolation), so the registry query hash-matches its oracle.
    Values outside [lo, hi) clamp to the edge bins."""
    width = (hi - lo) / nbins
    b = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int")
    b = F.least(F.greatest(b, F.lit(0)), F.lit(nbins - 1))
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, b.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


def histogram_percentiles(
    partials: DataFrame,
    group_cols: Sequence[str],
    probs: Sequence[float],
    lo: float,
    hi: float,
    nbins: int = 1000,
) -> DataFrame:
    """Percentile estimates from (merged) histogram partials: per group
    and probability p, find the bin where the cumulative count first
    reaches ceil(p·N) and interpolate uniformly inside it:
    ``est = lo + (bin + (target − cum_before)/cnt) · width``.

    Everything up to the final interpolation is integer arithmetic over
    the rollup table (grain-sized, never corpus-sized); the single
    float expression is computed identically by any IEEE engine, which
    is what makes the result oracle-hashable. The window ordering is by
    ``bin`` within each group — a total order, no tiebreak needed."""
    width = (hi - lo) / nbins
    merged = partials.groupBy(*group_cols, "bin").agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy(*group_cols).orderBy("bin")
    cum = merged.select(
        *group_cols,
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(*group_cols)).alias("n"),
    )
    pl = F.array(*[F.lit(float(p)) for p in probs])
    probed = cum.select(
        *group_cols, "bin", "cnt", "cum", "n", F.explode(pl).alias("p")
    ).withColumn("target", F.greatest(F.lit(1), F.ceil(F.col("p") * F.col("n"))))
    hit = probed.filter(
        (F.col("cum") >= F.col("target")) & (F.col("cum") - F.col("cnt") < F.col("target"))
    )
    est = (
        F.lit(lo)
        + (
            F.col("bin")
            + (F.col("target") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        )
        * F.lit(width)
    )
    return hit.select(*group_cols, "p", est.alias("est"))


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    nbins: int = 20,
    grid: float = 1e9,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    window of the same metric — the standard drift monitor a serving
    pipeline runs per feature (PSI < 0.1 stable, 0.1-0.25 drifting,
    > 0.25 shifted). Both sides histogram through
    :func:`histogram_rollup` (so at scale the inputs can be PERSISTED
    rollup tables — drift checks then never rescan raw data), bins are
    Laplace-smoothed by one count so empty bins stay finite, and
    PSI = Σ (p_i − q_i)·ln(p_i/q_i) over ≤ ``nbins`` bins.

    Determinism: the only transcendental is ln over smoothed count
    ratios, evaluated via functions.detmath (bit-identical across
    engines — libm ln is a grid-flip hazard); each bin's contribution
    snaps to a 1/``grid`` integer grid and the ≤ nbins BIGINT terms sum
    exactly, so neither partial-agg order nor libm can move the q6
    result. Returns (group_cols…, psi_q6).
    """
    from ..functions import detmath
    hr = histogram_rollup(ref, group_cols, value_col, lo, hi, nbins)
    hc = histogram_rollup(cur, group_cols, value_col, lo, hi, nbins)
    keys = [*group_cols, "bin"]
    joined = (
        hr.selectExpr(*keys, "cnt AS rc")
        .join(hc.selectExpr(*keys, "cnt AS cc"), keys, "full")
        .fillna({"rc": 0, "cc": 0})
    )
    tot = joined.groupBy(*group_cols).agg(
        F.sum("rc").alias("rn"), F.sum("cc").alias("cn")
    )
    j = joined.join(tot, list(group_cols))
    # Laplace smoothing: +1 per bin, denominator + nbins
    p = (F.col("rc") + 1).cast("double") / (F.col("rn") + nbins).cast("double")
    q = (F.col("cc") + 1).cast("double") / (F.col("cn") + nbins).cast("double")
    j = j.withColumn("__p", p).withColumn("__q", q).withColumn(
        "__pr", F.col("__p") / F.col("__q")
    )
    contrib = half_up(
        (F.col("__p") - F.col("__q"))
        * detmath.det_ln_pos("__pr")
        * F.lit(grid)
    ).cast("bigint")
    out = j.select(*group_cols, contrib.alias("__c")).groupBy(*group_cols).agg(
        F.sum("__c").alias("__s")
    )
    return out.select(
        *group_cols,
        q6(F.col("__s").cast("double") / F.lit(grid)).alias("psi_q6"),
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    top_k: int = 20,
) -> DataFrame:
    """Count-min-sketch heavy hitters with a built-in exactness audit —
    the mergeable frequency sketch next to the HLL rollup: d×w integer
    cells, each update touching ``depth`` cells picked by independent
    md5-derived hashes (the repo's cross-engine hash: identical in
    Spark's ``conv(substr(md5(...)))`` and DuckDB's hex cast).

    Scale story: the SKETCH build is one explode(depth) + hash agg to
    ≤ depth·width cells — mergeable across partitions, files, or days
    by cell-wise addition, so a 100 TB stream reduces to a few KB
    without ever shuffling keys. The estimate is min over the key's
    depth cells; CMS guarantees estimate >= true count, which this
    operator SURFACES by also computing the exact per-key counts (the
    approx_aggregates self-check pattern — at production scale you keep
    only the sketch side). Returns the top-``top_k`` keys by estimate
    (ties → key) with (key, cms_est, exact_count, overcount, rank);
    every column is an exact integer, so the oracle hash cannot drift.
    """
    from pyspark.sql import Window

    keys = df.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("k")
    )
    lanes = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("i")
    h = F.pmod(
        F.expr(
            "cast(conv(substr(md5(concat(k, '|', cast(i as string))), 1, 15), "
            "16, 10) as bigint)"
        ),
        F.lit(width),
    )
    cells = (
        keys.select("k", lanes)
        .withColumn("h", h)
        .groupBy("i", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = keys.groupBy("k").agg(F.count(F.lit(1)).alias("exact_count"))
    cand = exact.select("k", "exact_count", lanes).withColumn("h", h)
    est = (
        cand.join(F.broadcast(cells), ["i", "h"])
        .groupBy("k", "exact_count")
        .agg(F.min("c").alias("cms_est"))
    )
    w = Window.orderBy(F.col("cms_est").desc(), F.col("k").asc())
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("k").alias("key"),
            "cms_est",
            "exact_count",
            (F.col("cms_est") - F.col("exact_count")).alias("overcount"),
            "rank",
        )
    )
