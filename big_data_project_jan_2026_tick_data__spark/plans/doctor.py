"""Plan doctor: machine-readable scale diagnostics for a DataFrame's
physical plan — the library form of the rules SCALE.md documents and
tests/test_plans.py pins for specific queries. Use it in CI or at the
REPL to catch a plan that would melt at 100 TB *before* running it:

    >>> report = plan_report(df)
    >>> report["cartesian_products"]        # must be 0
    >>> assert_scale_safe(df, max_shuffles=2)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _formatted_plan(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def plan_report(df: DataFrame) -> dict:
    """Counts of the plan features that decide scale behavior.

    - ``shuffles``: shuffle exchanges (Broadcast exchanges excluded) —
      each is a full network redistribution of its input.
    - ``broadcast_joins`` / ``sort_merge_joins`` / ``shuffled_hash_joins``:
      join strategy mix; a sort-merge join where a dimension should have
      broadcast is the classic silent regression.
    - ``cartesian_products`` / ``broadcast_nested_loop_joins``: almost
      always a missing equi-condition — quadratic at scale.
    - ``python_row_udfs``: row-at-a-time Python eval (BatchEvalPython);
      Arrow-batched Python UDFs (ArrowEvalPython / MapInPandas /
      MapInArrow / FlatMapGroupsInPandas) are reported separately as
      ``pandas_udfs`` and are acceptable where built-ins can't go.
    - ``codegen_stages``: WholeStageCodegen span count (higher = more of
      the plan fused into generated JVM loops).
    - ``scans`` / ``pushed_filter_scans``: parquet scans, and how many
      carry at least one pushed filter.
    """
    full = _formatted_plan(df)
    tree = full.split("\n\n")[0]
    scans = re.findall(r"Scan parquet", tree)
    pushed = [
        m
        for m in re.findall(r"PushedFilters: \[([^\]]*)\]", full)
        if m.strip()
    ]
    return {
        "shuffles": len(re.findall(r"(?<!Broadcast)Exchange", tree)),
        "broadcast_joins": tree.count("BroadcastHashJoin"),
        "sort_merge_joins": tree.count("SortMergeJoin"),
        "shuffled_hash_joins": tree.count("ShuffledHashJoin"),
        "cartesian_products": tree.count("CartesianProduct"),
        "broadcast_nested_loop_joins": tree.count("BroadcastNestedLoopJoin"),
        "python_row_udfs": tree.count("BatchEvalPython"),
        "pandas_udfs": tree.count("ArrowEvalPython")
        + tree.count("MapInPandas")
        + tree.count("MapInArrow")
        + tree.count("FlatMapGroupsInPandas"),
        "codegen_stages": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", tree))),
        "scans": len(scans),
        "pushed_filter_scans": len(pushed),
    }


class ScaleSafetyError(AssertionError):
    """A plan violates the requested scale constraints."""


def assert_scale_safe(
    df: DataFrame,
    max_shuffles: int | None = None,
    allow_sort_merge: bool = True,
    allow_pandas_udfs: bool = True,
) -> dict:
    """Raise :class:`ScaleSafetyError` when the plan contains a
    scale-killer; returns the :func:`plan_report` otherwise. Cartesian
    products, broadcast-nested-loop joins and row-at-a-time Python UDFs
    are always fatal; shuffle count / join strategy / pandas UDFs are
    policy knobs."""
    r = plan_report(df)
    problems = []
    if r["cartesian_products"]:
        problems.append(f"{r['cartesian_products']} CartesianProduct")
    if r["broadcast_nested_loop_joins"]:
        problems.append(f"{r['broadcast_nested_loop_joins']} BroadcastNestedLoopJoin")
    if r["python_row_udfs"]:
        problems.append(f"{r['python_row_udfs']} row-at-a-time Python UDF")
    if max_shuffles is not None and r["shuffles"] > max_shuffles:
        problems.append(f"{r['shuffles']} shuffles > max {max_shuffles}")
    if not allow_sort_merge and r["sort_merge_joins"]:
        problems.append(f"{r['sort_merge_joins']} SortMergeJoin")
    if not allow_pandas_udfs and r["pandas_udfs"]:
        problems.append(f"{r['pandas_udfs']} pandas UDF")
    if problems:
        raise ScaleSafetyError("; ".join(problems))
    return r


def registry_plan_audit(
    spark,
    sf_dir: str,
    names: "Sequence[str] | None" = None,
) -> DataFrame:
    """Fleet-wide plan audit: run :func:`plan_report` over every (or the
    given) registry query and return one row per query — the ops
    surface behind the round-6 lineage-recompute finding (SCALE.md):
    a periodic sweep of this table is how a deploy catches a lost
    broadcast, a new cartesian, or a multiply-consumed intermediate
    BEFORE it ships to the 1000-executor cluster. Queries whose build
    requires side effects that fail in the audit context are reported
    with error=<type> instead of aborting the sweep."""
    from ..registry import QUERIES

    rows = []
    for name in sorted(names or QUERIES):
        try:
            r = plan_report(QUERIES[name](spark, sf_dir))
            rows.append((name, None, *r.values()))
        except Exception as e:  # lifecycle/streaming harness queries
            rows.append((name, type(e).__name__, *([None] * 11)))
    keys = [
        "shuffles", "broadcast_joins", "sort_merge_joins",
        "shuffled_hash_joins", "cartesian_products",
        "broadcast_nested_loop_joins", "python_row_udfs", "pandas_udfs",
        "codegen_stages", "scans", "pushed_filter_scans",
    ]
    schema = "query string, error string, " + ", ".join(
        f"{k} int" for k in keys
    )
    return spark.createDataFrame(rows, schema)
