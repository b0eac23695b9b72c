"""Join operators beyond Spark built-ins.

The reference's only relational join is a full-outer daily-stats align
(J1, symbol_statistics_generate.py:76-79 — plain ``df.join`` here). Its
nearest-neighbor file chaining (J2, spark_session_window_tick_cleaner.py:59-88)
generalizes to the **as-of join**, which Spark lacks natively; we provide
two scalable strategies.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import q6
from .dedup import _set_overlap


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] = ("symbol",),
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
    suffix: str = "_right",
    tolerance_ms: int | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the most recent (``backward``)
    or next (``forward``) right row at-or-before/after ``on``, per ``by``
    group.

    Strategy (the "union trick"): tag sides, union by name, one window
    sorted by (on, side) per group, last(ignorenulls) carries right values
    to left rows. Exactly ONE shuffle on (by, on) and no join at all —
    scales to arbitrarily large sides (vs merge_asof-per-group, which
    requires a whole group in one pandas batch). Ties (equal timestamps)
    resolve to the right row (inclusive as-of), matching pandas
    merge_asof(allow_exact_matches=True).

    ``tolerance_ms`` (pandas ``merge_asof(tolerance=...)``): a match
    further than this from the left timestamp is nulled out — quotes too
    stale to attach to a trade. Implemented by carrying the matched
    right timestamp through the same window (zero extra shuffles).
    """
    right_cols = list(right_cols or [c for c in right.columns if c != on and c not in by])
    by = list(by)

    lhs = left
    for c in right_cols:
        out_name = c + suffix if c in left.columns else c
        lhs = lhs.withColumn(out_name, F.lit(None).cast(right.schema[c].dataType))
    lhs = lhs.withColumn("__side", F.lit(1))

    if tolerance_ms is not None:
        lhs = lhs.withColumn("__r_on", F.lit(None).cast(right.schema[on].dataType))

    rhs = right.select(
        *by,
        F.col(on),
        *[
            F.col(c).alias(c + suffix if c in left.columns else c)
            for c in right_cols
        ],
    )
    if tolerance_ms is not None:
        rhs = rhs.withColumn("__r_on", F.col(on))
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    rhs = rhs.withColumn("__side", F.lit(0))

    unioned = lhs.unionByName(rhs)
    out_names = [c + suffix if c in left.columns else c for c in right_cols]
    if tolerance_ms is not None:
        out_names = [*out_names, "__r_on"]

    if direction == "backward":
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = unioned
        for c in out_names:
            filled = filled.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    elif direction == "forward":
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).asc(), F.col("__side").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        filled = unioned
        for c in out_names:
            filled = filled.withColumn(c, F.first(F.col(c), ignorenulls=True).over(w))
    else:
        raise ValueError("direction must be backward|forward")

    out = filled.filter(F.col("__side") == 1).drop("__side")
    if tolerance_ms is not None:
        gap = F.abs(F.unix_millis(F.col(on)) - F.unix_millis(F.col("__r_on")))
        stale = F.col("__r_on").isNull() | (gap > tolerance_ms)
        for c in out_names:
            if c != "__r_on":
                out = out.withColumn(c, F.when(stale, F.lit(None)).otherwise(F.col(c)))
        out = out.drop("__r_on")
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_start: str,
    right_end: str,
    by: Sequence[str] = (),
    bucket: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Interval containment join: left.ts ∈ [right.start, right.end).

    Naive theta-join is O(n·m); we bucketize both sides to ``bucket``
    granularity (integer epoch buckets — Spark allows only one
    ``window()`` expression per projection), explode the right interval
    over its covered buckets, and equi-join on (by, bucket) + residual
    filter — Catalyst gets a hash join with pruned probe sets. Choose
    ``bucket`` near the typical interval length.
    """
    import pandas as pd

    bucket_s = int(pd.Timedelta(bucket).total_seconds())
    l2 = left.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(left_ts)) / bucket_s)
    )
    r2 = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(right_start)) / bucket_s),
                F.floor(F.unix_timestamp(F.col(right_end)) / bucket_s),
            )
        ),
    )

    joined = l2.alias("l").join(
        r2.alias("r"),
        F.expr(
            " AND ".join(
                ["l.__bucket = r.__bucket"]
                + [f"l.{c} = r.{c}" for c in by]
                + [f"l.{left_ts} >= r.{right_start}", f"l.{left_ts} < r.{right_end}"]
            )
        ),
        how,
    )
    drop_cols = [F.col("l.__bucket"), F.col("r.__bucket")] + [F.col(f"r.{c}") for c in by]
    return joined.drop(*drop_cols)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: a hot key on the (large) left side would
    put one shuffle partition orders of magnitude above the rest; salting
    splits every left key across ``salt_buckets`` sub-partitions and
    replicates the right side per salt, so the hot key's work spreads over
    ``salt_buckets`` tasks.

    AQE's skew-join handles sort-merge skew automatically (enabled in
    ENGINE_CONF); explicit salting remains the tool for aggregate-after-
    join pipelines and for engines/paths AQE can't rewrite. Left salt is
    derived deterministically from a row hash, not rand(), so retries and
    oracle comparisons are stable.

    Only ``inner`` and ``left`` joins are supported: the right side is
    replicated once per salt, so a right/full outer join would emit each
    *unmatched* right row ``salt_buckets`` times — silent duplication.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got how={how!r}: "
            "unmatched right rows would be duplicated once per salt bucket"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets))
    l2 = left.withColumn("__salt", salt.cast("int"))
    r2 = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    out = l2.join(r2, [on, "__salt"], how)
    return out.drop("__salt")


def fuzzy_string_link(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_str: str,
    right_id: str,
    right_str: str,
    ngram: int = 3,
    threshold: float = 0.4,
    max_gram_df: int = 1000,
    best_only: bool = True,
) -> DataFrame:
    """Record linkage by character-n-gram Jaccard — the entity-
    resolution join for dirty string keys (catalog feeds with typos,
    vendor name variants) where no equi-key exists.

    Classic blocked similarity join, the cross-TABLE sibling of
    ``dedup.ngram_jaccard_pairs``: each side explodes to its DISTINCT
    character n-grams, candidates = pairs sharing a gram (equi-join on
    the gram — never a cross product), intersections counted per pair,
    exact Jaccard = i/(|A|+|B|−i) filtered at ``threshold``. Grams with
    document frequency > ``max_gram_df`` across the UNION of both sides
    are dropped first (stopword-gram guard — the family-standard cap
    that kills the quadratic hot-block blowup). ``best_only`` keeps the
    top match per left row (Jaccard desc, right id asc). Returns
    (left_id, right_id, jaccard_q6[, match_rank]).
    """
    def grams(df: DataFrame, id_col: str, s_col: str) -> DataFrame:
        # empty keys would emit a single '' gram and link any two empty
        # records with jaccard 1.0 — drop them before gram generation
        df = df.filter(F.length(F.col(s_col)) > 0)
        # substring with a dynamic start needs the SQL form
        gs = F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(length({s_col}) - {ngram - 1}, 1)), "
                f"i -> substr({s_col}, i, {ngram}))"
            )
        )
        return df.select(F.col(id_col).alias("id"), F.explode(gs).alias("g"))

    sides = [grams(left, left_id, left_str), grams(right, right_id, right_str)]
    jaccard = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    out = (
        _set_overlap(sides, max_gram_df)
        .withColumn("jaccard_q6", q6(jaccard))
        .filter(F.col("jaccard_q6") >= threshold)
        .select(
            F.col("id_a").alias(left_id), F.col("id_b").alias(right_id), "jaccard_q6"
        )
    )
    if not best_only:
        return out
    w = Window.partitionBy(left_id).orderBy(
        F.col("jaccard_q6").desc(), F.col(right_id).asc()
    )
    return (
        out.withColumn("match_rank", F.row_number().over(w))
        .filter(F.col("match_rank") == 1)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    extra: str = "true",
    bucket_width: int = 3600_000_000,
) -> DataFrame:
    """Interval × interval overlap join, each overlapping pair exactly once.

    Semantics: half-open intervals ``(start, end]`` on an integer axis
    (epoch micros by convention); a pair matches iff
    ``l.start < r.end AND r.start < l.end`` (plus ``extra``, a SQL
    predicate over aliases ``l``/``r``).  The predicate does not require
    ``start < end``: a zero-length interval ``(s, s]`` behaves as the
    point ``s`` and matches every interval that strictly straddles it
    (``other.start < s < other.end``), never another point.  Callers
    wanting strict-interval semantics should pre-filter
    ``start < end``; all in-repo callers already guarantee it.

    A naive theta-join is O(n·m).  Scale shape: both sides explode over
    the ``bucket_width`` epoch buckets their interval covers and
    equi-join on the bucket, so Catalyst gets a shuffled hash join
    partitioned by time bucket — the 100 TB plan.  Choose
    ``bucket_width`` within ~1-100x the typical interval length: too
    narrow replicates long intervals across many buckets, too wide
    funnels many intervals into one bucket where the residual overlap
    filter degenerates quadratic (the scale smoke demonstrates both
    regimes).  De-dup is positional,
    not DISTINCT: an overlapping pair is kept only in the bucket that
    contains ``greatest(l.start, r.start)`` — the overlap's left edge —
    which both exploded sides necessarily cover, so each pair survives
    in exactly one bucket and no post-join dedup shuffle is needed.

    No counterpart in the reference (its joins are single-key pandas
    merges); motivated by its tick-alignment chain
    (spark_session_window_tick_cleaner.py:59-88) which this generalizes
    to asynchronous two-stream alignment (Hayashi-Yoshida).
    """
    b = int(bucket_width)
    # `div` = exact integer division (axis values are non-negative epoch
    # micros by contract); a double floor(x / b) could flip a bucket on
    # a quotient that lands within an ulp of an integer.
    l2 = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.expr(f"CAST({left_start} AS BIGINT) div {b}"),
                F.expr(f"CAST({left_end} AS BIGINT) div {b}"),
            )
        ),
    )
    r2 = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.expr(f"CAST({right_start} AS BIGINT) div {b}"),
                F.expr(f"CAST({right_end} AS BIGINT) div {b}"),
            )
        ),
    )
    joined = l2.alias("l").join(
        r2.alias("r"),
        F.expr(
            " AND ".join(
                [
                    "l.__bucket = r.__bucket",
                    f"l.{left_start} < r.{right_end}",
                    f"r.{right_start} < l.{left_end}",
                    f"l.__bucket = (greatest(l.{left_start},"
                    f" r.{right_start}) div {b})",
                    f"({extra})",
                ]
            )
        ),
        "inner",
    )
    return joined.drop(F.col("l.__bucket")).drop(F.col("r.__bucket"))
