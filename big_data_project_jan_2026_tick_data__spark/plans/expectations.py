"""Declarative data contracts: expectation rules compiled into ONE
validation aggregate.

The reference's cleaning scripts check quality imperatively per file
(`Data Preprocessing and Cleaning/spark_data_cleaner_script.py` runs
count/filter actions per rule per file); here a rule LIST compiles into
a single conditional-aggregation pass over the table (plus one
aggregate for uniqueness rules, which need distinct counting), emitting
a per-rule violations report — the shape a 100 TB ingestion gate needs:
rule count never multiplies scan count.

Rule forms (dicts — declarative, serializable, loggable to tracking):
    {"rule": "not_null",  "col": "ts"}
    {"rule": "unique",    "col": "event_id"}
    {"rule": "in_range",  "col": "value", "lo": 0.0, "hi": 1e6}   # inclusive
    {"rule": "in_set",    "col": "event_type", "values": [...]}
    {"rule": "matches",   "col": "sym", "pattern": "^[A-Z]+$"}
    {"rule": "expr",      "name": "spread>=0", "predicate": "ask >= bid"}

NULL semantics: for value rules (in_range / in_set / matches / expr) a
NULL never violates — add an explicit not_null rule to reject NULLs, so
each rule reports exactly one failure mode.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _violation_pred(rule: dict):
    kind = rule["rule"]
    if kind == "not_null":
        return F.col(rule["col"]).isNull()
    c = F.col(rule["col"]) if "col" in rule else None
    if kind == "in_range":
        return c.isNotNull() & ((c < rule["lo"]) | (c > rule["hi"]))
    if kind == "in_set":
        return c.isNotNull() & ~c.isin(*rule["values"])
    if kind == "matches":
        return c.isNotNull() & ~c.rlike(rule["pattern"])
    if kind == "expr":
        return F.expr(rule["predicate"]).isNotNull() & ~F.expr(rule["predicate"])
    raise ValueError(f"unknown rule kind: {kind!r}")


def rule_name(rule: dict) -> str:
    if rule["rule"] == "expr":
        return f"expr:{rule['name']}"
    return f"{rule['rule']}:{rule['col']}"


def validate(df: DataFrame, rules: Sequence[dict]) -> DataFrame:
    """Evaluate every rule in (at most) two aggregation passes and
    return ``(rule, violations, total_rows, passed)`` — one row per
    rule, deterministic order-insensitive content.

    Pass 1: all row-local rules as conditional sums in one hash-free
    global aggregate (a single scan regardless of rule count).
    Pass 2 (only if any ``unique`` rule): count vs distinct count per
    uniqueness column in one aggregate over the same scan.
    """
    rules = list(rules)
    row_rules = [r for r in rules if r["rule"] != "unique"]
    uniq_rules = [r for r in rules if r["rule"] == "unique"]

    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, r in enumerate(row_rules):
        aggs.append(
            F.sum(_violation_pred(r).cast("long")).alias(f"__v{i}")
        )
    for i, r in enumerate(uniq_rules):
        col = r["col"]
        # violations = rows beyond the first per duplicated value; NULLs
        # are not counted by count(col) or count_distinct -> exempt
        aggs.append(
            (F.count(F.col(col)) - F.countDistinct(F.col(col))).alias(f"__u{i}")
        )
    row = df.agg(*aggs)

    entries = []
    for i, r in enumerate(row_rules):
        entries.append((rule_name(r), f"__v{i}"))
    for i, r in enumerate(uniq_rules):
        entries.append((rule_name(r), f"__u{i}"))
    structs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.coalesce(F.col(c), F.lit(0)).alias("violations"),
            )
            for name, c in entries
        ]
    )
    return row.select(
        F.explode(structs).alias("e"), F.col("__total").alias("total_rows")
    ).select(
        F.col("e.rule").alias("rule"),
        F.col("e.violations").alias("violations"),
        "total_rows",
        (F.col("e.violations") == 0).alias("passed"),
    )


def enforce(df: DataFrame, rules: Sequence[dict]) -> DataFrame:
    """Gate form: return rows violating NO row-local rule (uniqueness is
    a table property, not a row filter — use :func:`validate` /
    ``dedup.exact_dedup`` for that). One codegen'd filter, zero shuffle.
    """
    pred = None
    for r in rules:
        if r["rule"] == "unique":
            continue
        v = _violation_pred(r)
        pred = v if pred is None else (pred | v)
    return df if pred is None else df.filter(~F.coalesce(pred, F.lit(False)))


def _risk_rollup(
    classes: DataFrame, risky: Column, by: Sequence[str], ok_name: str
) -> DataFrame:
    """Roll equivalence ``classes`` (``__n`` rows each) up to the
    per-``by`` report of :func:`k_anonymity_report` and
    :func:`l_diversity_report`: row and class counts, the ``risky``
    ones, the q6 risky-row fraction and ``ok_name`` (no risky class)."""
    rep = classes.groupBy(*by).agg(
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(risky.cast("long")).alias("n_risky_classes"),
        F.sum(F.when(risky, F.col("__n")).otherwise(0)).alias("n_risky_rows"),
    )
    frac = (
        F.floor(
            F.col("n_risky_rows") / F.col("n_rows") * 1e6 + F.lit(0.5)
        )
        / 1e6
    )
    return rep.select(
        *by,
        "n_rows",
        "n_classes",
        "n_risky_classes",
        "n_risky_rows",
        frac.alias("risky_row_frac_q6"),
        (F.col("n_risky_classes") == 0).alias(ok_name),
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
    by: Sequence[str] = (),
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination — the
    re-identification-risk check a governed dataset runs BEFORE
    release, completing the privacy lifecycle next to the PII scrub
    (text.scrub_pii) and the GDPR delete (SnapshotTable.delete_where):
    a row is at risk when its quasi-identifier equivalence class holds
    fewer than ``k`` rows (it narrows the subject to < k candidates).

    One hash agg to equivalence classes, one class-sized agg to the
    report — the corpus never shuffles twice. ``by`` adds report
    grouping (e.g. per event_type). Returns per ``by``-group:
    (n_rows, n_classes, n_risky_classes, n_risky_rows,
    risky_row_frac_q6, k_anonymous) — all exact integers plus one
    count-ratio division, layout-independent.
    """
    classes = df.groupBy(*by, *quasi_cols).agg(
        F.count(F.lit(1)).alias("__n")
    )
    risky = F.col("__n") < k
    return _risk_rollup(classes, risky, by, "k_anonymous")


def l_diversity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 2,  # noqa: E741 — the criterion's canonical name
    by: Sequence[str] = (),
) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2007) — the
    homogeneity-attack check k-anonymity misses: an equivalence class
    whose rows all share one SENSITIVE value leaks it even when the
    class is large, so a class is risky when it holds fewer than ``l``
    distinct sensitive values. Same two-agg shape as
    :func:`k_anonymity_report` (class agg carries a count-distinct).
    Returns per ``by``-group: (n_rows, n_classes, n_risky_classes,
    n_risky_rows, risky_row_frac_q6, l_diverse)."""
    classes = df.groupBy(*by, *quasi_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct(sensitive_col).alias("__d"),
    )
    risky = F.col("__d") < l
    return _risk_rollup(classes, risky, by, "l_diverse")


def t_closeness_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    t: float = 0.2,
    by: Sequence[str] = (),
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    skewness/similarity-attack check l-diversity misses: a class can
    hold ``l`` distinct sensitive values yet still leak if its
    DISTRIBUTION differs sharply from the table's (e.g. 90% of one rare
    value). A class is risky when the total-variation distance (the
    equal-ground-distance EMD for a categorical sensitive attribute)
    between its sensitive-value distribution and the global one exceeds
    ``t``:  TVD = ½ Σ_v |n_cv/n_c − N_v/N|.

    Completes the governance trio next to :func:`k_anonymity_report`
    and :func:`l_diversity_report`.

    Scale shape: one (class, value) hash agg over the corpus, then
    everything is value-table-sized — the class×value support grid is
    built by joining the class list against the BROADCAST per-group
    value distribution (missing combinations enter as n_cv = 0, which
    the |0 − N_v/N| term requires). Determinism: each probability is a
    correctly-rounded ratio of exact counts, per-value terms snap to a
    1e-12 integer grid and sum as BIGINT within the class, and the
    per-class TVD is q6-quantized before the max/threshold — identical
    in any engine and under any partial-agg order.

    Returns per ``by``-group: (n_rows, n_classes, max_tvd_q6,
    n_risky_classes, n_risky_rows, risky_row_frac_q6, t_close)."""
    by = list(by)
    # ONE corpus scan: the (class, value) count table is the narrowest
    # complete statistic — the class totals AND the global distribution
    # both re-aggregate it, so it is materialized once (scan-audit
    # discipline; class-count × value-count rows, metadata-scale)
    cv = (
        df.groupBy(*by, *quasi_cols, sensitive_col)
        .agg(F.count(F.lit(1)).alias("__n_cv"))
        .localCheckpoint()
    )
    classes = cv.groupBy(*by, *quasi_cols).agg(F.sum("__n_cv").alias("__n_c"))
    gv = cv.groupBy(*by, sensitive_col).agg(F.sum("__n_cv").alias("__n_v"))
    gt = (
        gv.groupBy(*by).agg(F.sum("__n_v").alias("__n_tot"))
        if by
        else gv.agg(F.sum("__n_v").alias("__n_tot"))
    )
    gdist = (
        gv.join(gt, by) if by else gv.crossJoin(gt)
    )  # per-group value distribution — values × groups rows, broadcast
    grid = (
        classes.join(F.broadcast(gdist), by)
        if by
        else classes.crossJoin(F.broadcast(gdist))
    ).join(cv, [*by, *quasi_cols, sensitive_col], "left")
    term12 = F.floor(
        F.abs(
            F.coalesce(F.col("__n_cv"), F.lit(0)) / F.col("__n_c")
            - F.col("__n_v") / F.col("__n_tot")
        )
        * 1e12
        + F.lit(0.5)
    ).cast("long")
    cl = grid.groupBy(*by, *quasi_cols).agg(
        F.min("__n_c").alias("__n"),
        (
            F.floor(
                (F.sum(term12).cast("double") / F.lit(1e12))
                / 2
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("__tvd_q6"),
    )
    risky = F.col("__tvd_q6") > t
    rep = (
        cl.groupBy(*by)
        if by
        else cl.groupBy()
    ).agg(
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.max("__tvd_q6").alias("max_tvd_q6"),
        F.sum(risky.cast("long")).alias("n_risky_classes"),
        F.sum(F.when(risky, F.col("__n")).otherwise(0)).alias("n_risky_rows"),
    )
    frac = (
        F.floor(F.col("n_risky_rows") / F.col("n_rows") * 1e6 + F.lit(0.5)) / 1e6
    )
    return rep.select(
        *by,
        "n_rows",
        "n_classes",
        "max_tvd_q6",
        "n_risky_classes",
        "n_risky_rows",
        frac.alias("risky_row_frac_q6"),
        (F.col("n_risky_classes") == 0).alias("t_close"),
    )
