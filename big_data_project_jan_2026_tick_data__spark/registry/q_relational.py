"""Relational / SQL-surface registry queries: the TPC-H all-22 suite, join strategies (semi/anti/as-of/salted/range), window functions, rollup/cube/grouping sets, set ops, unpivot, and the plain-SQL view surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..engine import to_local
from ..operators import joins, stats
from ..functions import detmath
from ..functions.exactagg import exact_avg, exact_avg_sql, exact_sum, exact_sum_sql
from ..functions.scalars import cents, half_up, q6
from ._base import _cov_terms, _register, _td

# Shorthand for the oracle f-strings: exact integer-grid sums/means of
# fixed-decimal columns (see functions/exactagg.py) — revenue terms are
# exact at 4 dp (price 2dp x discount 2dp), charge at 6 dp (x tax 2dp).
_S = exact_sum_sql
_A = exact_avg_sql
_REV = "l_extendedprice * (1 - l_discount)"


# ---------------------------------------------------------------------------
# Relational surface (SURVEY §2.3-§2.7): joins, windows, rollup, set ops.
# ---------------------------------------------------------------------------


@_register(
    "tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           ROUND({_S("l_quantity", 2)}, 2) AS sum_qty,
           ROUND({_S("l_extendedprice", 2)}, 2) AS sum_base_price,
           ROUND({_S(_REV, 4)}, 2) AS sum_disc_price,
           ROUND({_S(_REV + " * (1 + l_tax)", 6)}, 2) AS sum_charge,
           ROUND({_A("l_quantity", 2)}, 4) AS avg_qty,
           ROUND({_A("l_extendedprice", 2)}, 4) AS avg_price,
           ROUND({_A("l_discount", 2)}, 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape): the canonical scan→filter→hash-agg
    plan; partial aggregation map-side, 6-agg single pass."""
    li = _td(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(exact_sum(F.col("l_quantity"), 2), 2).alias("sum_qty"),
            F.round(exact_sum(F.col("l_extendedprice"), 2), 2).alias("sum_base_price"),
            F.round(exact_sum(disc_price, 4), 2).alias("sum_disc_price"),
            F.round(exact_sum(disc_price * (1 + F.col("l_tax")), 6), 2).alias(
                "sum_charge"
            ),
            F.round(exact_avg(F.col("l_quantity"), 2), 4).alias("avg_qty"),
            F.round(exact_avg(F.col("l_extendedprice"), 2), 4).alias("avg_price"),
            F.round(exact_avg(F.col("l_discount"), 2), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "tpch_q3_top10",
    f"""
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           ROUND({_S(_REV, 4)}, 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def tpch_q3_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-10 (TPC-H Q3 shape): selective dim filter →
    join → agg → TakeOrderedAndProject; customer side broadcast."""
    c = _td(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _td(spark, sf_dir, "orders")
    li = _td(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@_register(
    "tpch_q5_region_revenue",
    f"""
    SELECT n_name,
           ROUND({_S(_REV, 4)}, 2) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def tpch_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue (TPC-H Q5 shape): 6-way join with two
    broadcast dims (nation, region) and a co-location predicate."""
    c = _td(spark, sf_dir, "customer")
    o = _td(spark, sf_dir, "orders")
    li = _td(spark, sf_dir, "lineitem")
    s = _td(spark, sf_dir, "supplier")
    n = _td(spark, sf_dir, "nation")
    r = _td(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2
            ).alias("revenue")
        )
    )


@_register(
    "join_semi_customers_with_orders",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    c = _td(spark, sf_dir, "customer")
    o = _td(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@_register(
    "join_anti_customers_without_orders",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)",
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    c = _td(spark, sf_dir, "customer")
    o = _td(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@_register(
    "topk_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders) WHERE rank <= 3
    """,
)
def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranked window (O3 generalized)."""
    from pyspark.sql import Window

    o = _td(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
    )


@_register(
    "window_lag_lead_rank",
    """
    SELECT event_id, user_id, ts,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           row_number() OVER w AS rn,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: lag/lead/row_number/running sum (SURVEY §2.5)."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.row_number().over(w).alias("rn"),
        F.round(F.sum("value").over(run), 2).alias("running_sum"),
    )


@_register(
    "orders_semi_additive_balance",
    """
    WITH cents AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders),
    cum AS (
      SELECT o_custkey, o_orderkey, o_orderdate, month,
             SUM(c) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS bal
      FROM cents),
    closing AS (
      SELECT o_custkey, month, bal FROM (
        SELECT o_custkey, month, bal,
               row_number() OVER (PARTITION BY o_custkey, month
                                  ORDER BY o_orderdate DESC,
                                           o_orderkey DESC) AS rn
        FROM cum) t
      WHERE rn = 1),
    months AS (SELECT DISTINCT month FROM cents),
    custs AS (SELECT DISTINCT o_custkey FROM cents),
    grid AS (
      SELECT c.o_custkey, m.month, cl.bal
      FROM custs c CROSS JOIN months m
      LEFT JOIN closing cl
        ON cl.o_custkey = c.o_custkey AND cl.month = m.month),
    carried AS (
      SELECT o_custkey, month,
             last_value(bal IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
      FROM grid)
    SELECT month,
           CAST(COUNT(bal) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(bal) AS DOUBLE) / 100 AS DOUBLE)
             AS total_closing_balance,
           FLOOR(CAST(SUM(bal) AS DOUBLE) / 100 / COUNT(bal) * 1e6 + 0.5)
             / 1e6 AS avg_closing_balance_q6
    FROM carried GROUP BY month
    """,
)
def orders_semi_additive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive measure handling — THE warehouse fact-table
    subtlety: a balance is additive across CUSTOMERS but not across
    TIME, and a customer with no orders in a month still carries a
    balance. Per customer: exact integer-cent running balance (prefix
    sums are sequential within the window partition — bit-identical in
    both engines); per (customer, month): the closing balance by total
    order; the month grid is densified (distinct months × customers)
    and balances CARRY FORWARD with last-value-ignore-nulls; per month:
    count + sum over customers of the carried closing balance.

    Scale shape: one orders scan, one customer-key window, one
    (customer, month) agg, a broadcast months grid, one carry-forward
    window, one month agg — the fact table never shuffles twice on the
    same key. Exact integer cents end to end; the single /100 cast is
    the only float op.

    DELIBERATE per-order cent snap (advisor r8 note): o_totalprice is
    exact at 4 dp, so FLOOR(x*100+0.5) rounds each order by up to half
    a cent BEFORE the running balance — that is the ledger convention
    being modeled (balances post at currency precision, like a bank
    statement), not a loss of exactness: the arithmetic downstream of
    the snap is exact integer cents, and both engines snap identically
    so cross-engine parity is unaffected. Accumulating at the 1e4 grid
    would instead model sub-cent carry — a different (valid) semantic,
    exercised elsewhere by the exact_sum(..., 4) consumers."""
    from pyspark.sql import Window

    o = _td(spark, sf_dir, "orders")
    oc = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month"),
        cents(F.col("o_totalprice")).alias("c"),
    )
    wcum = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = oc.withColumn("bal", F.sum("c").over(wcum))
    wlast = Window.partitionBy("o_custkey", "month").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    closing = (
        cum.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "month", "bal")
    )
    months = oc.select("month").distinct()
    custs = oc.select("o_custkey").distinct()
    grid = custs.crossJoin(F.broadcast(months)).join(
        closing, ["o_custkey", "month"], "left"
    )
    wff = (
        Window.partitionBy("o_custkey")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = grid.withColumn(
        "bal", F.last("bal", ignorenulls=True).over(wff)
    )
    return carried.groupBy("month").agg(
        F.count("bal").alias("n_customers"),
        (F.sum("bal").cast("double") / 100)
        .cast("double")
        .alias("total_closing_balance"),
        q6(
            F.sum("bal").cast("double") / 100 / F.count("bal")
        ).alias("avg_closing_balance_q6"),
    )


@_register(
    "rollup_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND({_S("o_totalprice", 4)}, 2) AS total
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchical aggregate (SURVEY §7.4 full relational
    surface; no rollup in the reference — built-in here)."""
    o = _td(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(exact_sum(F.col("o_totalprice"), 4), 2).alias("total"),
    )


@_register(
    "cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (status, priority) — all 2² grouping-set
    combinations in one pass (the Expand-based sibling of
    grouping_sets_orders / rollup_orders)."""
    o = _td(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@_register(
    "pivot_user_event_values",
    f"""
    SELECT user_id,
           ROUND(COALESCE({_S("CASE WHEN event_type='click' THEN value END", 2)}, 0), 2) AS click,
           ROUND(COALESCE({_S("CASE WHEN event_type='view' THEN value END", 2)}, 0), 2) AS view,
           ROUND(COALESCE({_S("CASE WHEN event_type='purchase' THEN value END", 2)}, 0), 2) AS purchase
    FROM events GROUP BY user_id
    """,
)
def pivot_user_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation)."""
    ev = _td(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(exact_sum(F.col("value"), 2))
    )
    return out.select(
        "user_id",
        *[F.round(F.coalesce(F.col(c), F.lit(0.0)), 2).alias(c) for c in ("click", "view", "purchase")],
    )


@_register(
    "set_users_click_and_purchase",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def set_users_click_and_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op."""
    ev = _td(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


@_register(
    "set_users_click_not_purchase",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def set_users_click_not_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op."""
    ev = _td(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.subtract(b)


@_register(
    "asof_purchase_last_click",
    """
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.value AS click_value, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 generalized: as-of join — each purchase gets the most recent
    click at-or-before it, per user (union-trick single-shuffle strategy,
    operators/joins.py)."""
    ev = _td(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    clicks2 = clicks.withColumnRenamed("value", "click_value").withColumn(
        "click_ts", F.col("ts")
    )
    out = joins.asof_join(
        purchases,
        clicks2,
        on="ts",
        by=("user_id",),
        right_cols=("click_value", "click_ts"),
        direction="backward",
    )
    return out.select("event_id", "user_id", "ts", "value", "click_value", "click_ts")


@_register(
    "asof_with_tolerance",
    """
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN date_diff('millisecond', c.ts, p.ts) <= 86400000
                THEN c.value END AS click_value,
           CASE WHEN date_diff('millisecond', c.ts, p.ts) <= 86400000
                THEN c.ts END AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_with_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (pandas merge_asof tolerance):
    clicks older than 24h before the purchase are nulled — the matched
    timestamp rides the same single-shuffle window, zero extra cost.
    Oracle = DuckDB ASOF JOIN + gap CASE."""
    ev = _td(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "value")
        .withColumnRenamed("value", "click_value")
        .withColumn("click_ts", F.col("ts"))
    )
    out = joins.asof_join(
        purchases,
        clicks,
        on="ts",
        by=("user_id",),
        right_cols=("click_value", "click_ts"),
        direction="backward",
        tolerance_ms=86_400_000,
    )
    return out.select("event_id", "user_id", "ts", "click_value", "click_ts")


@_register(
    "stats_min_max_metadata",
    """
    SELECT MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
           COUNT(*) AS n
    FROM lineitem
    """,
)
def stats_min_max_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: dataset time-range/extent WITHOUT a data scan — the reference
    reads parquet footers row-by-row on the driver
    (spark_session_window_tick_cleaner.py:44-57); Spark's aggregate
    pushdown (enabled in ENGINE_CONF) answers unfiltered MIN/MAX/COUNT
    from footer statistics."""
    li = _td(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "salted_join_skewed_users",
    """
    SELECT e.user_id, e.event_id, c.c_name
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def salted_join_skewed_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted equi-join (operators/joins.py::salted_join) —
    result must be identical to the plain join (the oracle)."""
    ev = _td(spark, sf_dir, "events").select("user_id", "event_id")
    c = _td(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    return joins.salted_join(ev, c, on="user_id", salt_buckets=8).select(
        "user_id", "event_id", "c_name"
    )


@_register(
    "tpch_q6_forecast_revenue",
    f"""
    SELECT ROUND({_S("l_extendedprice * l_discount", 4)}, 2) AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue filter+agg (TPC-H Q6 shape) — pure pushdown scan,
    no shuffle beyond the final single-row agg."""
    li = _td(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 4), 2
        ).alias("revenue")
    )


@_register(
    "tpch_q4_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): correlated EXISTS →
    left-semi join under Catalyst."""
    o = _td(spark, sf_dir, "orders")
    li = _td(spark, sf_dir, "lineitem")
    o.createOrReplaceTempView("orders_v")
    li.createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders_v
        WHERE EXISTS (SELECT 1 FROM lineitem_v
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


@_register(
    "tpch_q12_shipmode_buckets",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def tpch_q12_shipmode_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority bucketing after join (TPC-H Q12 shape): join + CASE-in-SUM
    conditional aggregation."""
    o = _td(spark, sf_dir, "orders")
    li = _td(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@_register(
    "tpch_q14_promo_ratio",
    f"""
    SELECT ROUND(100.0 * {_S("CASE WHEN p_type LIKE 'PROMO%' THEN "
                             "l_extendedprice * (1 - l_discount) "
                             "ELSE 0 END", 4)}
               / {_S(_REV, 4)}, 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def tpch_q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue ratio (TPC-H Q14 shape): broadcast dim join +
    conditional ratio aggregate."""
    li = _td(spark, sf_dir, "lineitem")
    p = _td(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * exact_sum(promo, 4) / exact_sum(rev, 4), 4
            ).alias("promo_revenue_pct")
        )
    )


@_register(
    "tpch_q18_large_orders",
    f"""
    SELECT o_orderkey, ROUND(total_qty, 2) AS total_qty
    FROM (SELECT l_orderkey AS o_orderkey, {_S("l_quantity", 2)} AS total_qty
          FROM lineitem GROUP BY l_orderkey)
    WHERE total_qty > 30
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders (TPC-H Q18 core): agg + HAVING filter."""
    li = _td(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(exact_sum(F.col("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 30)
        .select("o_orderkey", F.round("total_qty", 2).alias("total_qty"))
    )


@_register(
    "scalar_subquery_above_avg",
    f"""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_totalprice > (SELECT {_A("o_totalprice", 4)} FROM orders)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price."""
    o = _td(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
        FROM orders_v
        WHERE o_totalprice > (
          SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 1e4 + 0.5)
                               AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e4 / COUNT(o_totalprice)
          FROM orders_v)
        """
    )


@_register(
    "distinct_agg_per_status",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def distinct_agg_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    o = _td(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@_register(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube)."""
    o = _td(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@_register(
    "union_all_orders_split",
    """
    SELECT o_orderkey, 'high' AS tier FROM orders WHERE o_totalprice >= 150000
    UNION ALL
    SELECT o_orderkey, 'low' AS tier FROM orders WHERE o_totalprice < 150000
    """,
)
def union_all_orders_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (U1 generalized) — re-unioned disjoint split."""
    o = _td(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") >= 150000).select(
        "o_orderkey", F.lit("high").alias("tier")
    )
    lo = o.filter(F.col("o_totalprice") < 150000).select(
        "o_orderkey", F.lit("low").alias("tier")
    )
    return hi.unionByName(lo)


@_register(
    "minmax_by_priority",
    """
    SELECT o_orderpriority,
           arg_min(o_orderkey, o_totalprice) AS cheapest_order,
           arg_max(o_orderkey, o_totalprice) AS priciest_order,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def minmax_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax) aggregates."""
    o = _td(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@_register(
    "json_props_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the props column (F8-adjacent: semi-
    structured access in the data plane)."""
    ev = _td(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "string_funcs_part_names",
    """
    SELECT p_partkey,
           lower(replace(p_name, ' ', '_')) AS slug,
           split_part(p_type, ' ', 1) AS type_head,
           length(p_name) AS name_len
    FROM part
    """,
)
def string_funcs_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface (F9/F10): sanitize, prefix split, length."""
    p = _td(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower(F.regexp_replace("p_name", " ", "_")).alias("slug"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.length("p_name").alias("name_len"),
    )


@_register(
    "ntile_percentile_orders",
    """
    SELECT o_orderkey,
           ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile,
           ROUND(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pr
    FROM orders
    """,
)
def ntile_percentile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank global windows (W3 building blocks)."""
    from pyspark.sql import Window

    o = _td(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


@_register(
    "range_join_events_in_order_windows",
    """
    SELECT o.o_orderkey, COUNT(e.event_id) AS n_events
    FROM (SELECT o_orderkey, o_orderdate,
                 o_orderdate + INTERVAL 2 DAY AS window_end
          FROM orders WHERE o_orderkey % 100 = 0) o
    JOIN events e ON e.ts >= o.o_orderdate AND e.ts < o.window_end
    GROUP BY o.o_orderkey
    """,
)
def range_join_events_in_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment range join (bucketized equi-join strategy,
    operators/joins.py:range_join) — events falling in 2-day windows
    anchored at (a sample of) order dates."""
    ev = _td(spark, sf_dir, "events")
    o = (
        _td(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("w_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 2 DAYS")).alias("w_end"),
        )
    )
    joined = joins.range_join(
        ev, o, left_ts="ts", right_start="w_start", right_end="w_end",
        bucket="1 day",
    )
    return joined.groupBy("o_orderkey").agg(F.count("event_id").alias("n_events"))


# ---------------------------------------------------------------------------
# TPC-H completion suite (adapted to the driver's slimmed schema: no
# partsupp / l_commitdate / l_receiptdate / l_shipmode / c_phone — each
# query keeps the original's *relational shape* and swaps in available
# columns). Together with Q1/Q3/Q4/Q5/Q6/Q12/Q14/Q18 above this covers
# every distinct TPC-H plan pattern expressible on the testdata.
# ---------------------------------------------------------------------------


@_register(
    "tpch_q2_min_acctbal_supplier",
    """
    SELECT n_name, s_suppkey, s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal = (SELECT MIN(s2.s_acctbal) FROM supplier s2
                       WHERE s2.s_nationkey = supplier.s_nationkey)
    """,
)
def tpch_q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min-subquery re-joined to pick the
    extreme row per group (min acctbal supplier per nation; the original's
    min-supplycost-per-part, sans partsupp)."""
    s = _td(spark, sf_dir, "supplier")
    n = _td(spark, sf_dir, "nation")
    mins = s.groupBy("s_nationkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        s.join(F.broadcast(mins), "s_nationkey")
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("n_name", "s_suppkey", "s_name", "s_acctbal")
    )


@_register(
    "tpch_q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year, ROUND({_S("volume", 4)}, 2) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INTEGER) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
         ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral volume between two nations by ship year — the
    two-role dimension join (nation joined twice under different keys)."""
    li = _td(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    o = _td(spark, sf_dir, "orders")
    c = _td(spark, sf_dir, "customer")
    s = _td(spark, sf_dir, "supplier")
    n1 = _td(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _td(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair | rpair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2
            ).alias("revenue")
        )
    )


@_register(
    "tpch_q8_market_share",
    f"""
    SELECT o_year,
           ROUND({_S("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END", 4)}
                 / {_S("volume", 4)}, 6) AS mkt_share
    FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS nation
          FROM part JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA' AND p_type = 'PROMO'
            AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
         ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — conditional-sum ratio over an
    8-way join; every dimension side broadcast."""
    p = _td(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _td(spark, sf_dir, "lineitem")
    s = _td(spark, sf_dir, "supplier")
    o = _td(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    c = _td(spark, sf_dir, "customer")
    n1 = _td(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    n2 = _td(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = _td(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                exact_sum(
                    F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0), 4
                )
                / exact_sum(vol, 4),
                6,
            ).alias("mkt_share")
        )
    )


@_register(
    "tpch_q9_product_profit",
    f"""
    SELECT nation, o_year, ROUND({_S("amount", 6)}, 2) AS sum_profit
    FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount)
                   - 0.5 * p_retailprice * l_quantity AS amount
          FROM part JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN nation ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: cost = 0.5*p_retailprice*l_quantity in place of
    ps_supplycost — partsupp is absent from the testdata): profit by
    supplier nation × order year over a LIKE-filtered part dimension."""
    p = _td(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = _td(spark, sf_dir, "lineitem")
    s = _td(spark, sf_dir, "supplier")
    o = _td(spark, sf_dir, "orders")
    n = _td(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.5) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(exact_sum(amount, 6), 2).alias("sum_profit"))
    )


@_register(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey, c_name, ROUND({_S(_REV, 4)}, 2)
             AS revenue, c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue in a quarter
    — selective fact filters on both fact tables, then top-k."""
    c = _td(spark, sf_dir, "customer")
    o = _td(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _td(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _td(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@_register(
    "tpch_q11_important_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey, {_S("l_extendedprice * l_quantity", 4)} AS value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_19'
      GROUP BY l_partkey)
    SELECT l_partkey AS partkey, ROUND(value, 2) AS value FROM pv
    WHERE value > (SELECT {_S("value", 4)} * 0.0015 FROM pv)
    """,
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: part value from lineitem flow instead of
    partsupp stock): per-part value filtered by a global-fraction scalar
    subquery (HAVING > SUM()*f)."""
    li = _td(spark, sf_dir, "lineitem")
    s = _td(spark, sf_dir, "supplier")
    n = _td(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_19")
    pv = (
        li.join(
            F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * F.col("l_quantity"), 4
            ).alias("value")
        )
    )
    thresh = pv.agg((exact_sum(F.col("value"), 4) * 0.0015).alias("threshold"))
    return (
        pv.join(F.broadcast(thresh))
        .filter(F.col("value") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("partkey"), F.round("value", 2).alias("value")
        )
    )


@_register(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count histogram — left outer join with a join-side
    predicate, two-level aggregation."""
    c = _td(spark, sf_dir, "customer")
    o = _td(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@_register(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {_S(_REV, 4)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, ROUND(total_revenue, 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the max quarterly revenue — a
    reused CTE consumed both as join input and as a scalar-max subquery."""
    li = _td(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _td(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        s.join(F.broadcast(rev), s.s_suppkey == F.col("supplier_no"))
        .join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .select(
            "s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue")
        )
    )


@_register(
    "tpch_q16_supplier_count",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: supplier-part association from lineitem, not
    partsupp): distinct-count per attribute triple with NOT-LIKE and
    IN-list dimension predicates."""
    p = _td(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    li = _td(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "tpch_q17_small_quantity_revenue",
    f"""
    SELECT ROUND({_S("l_extendedprice", 2)} / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < (
      SELECT 0.5 * {_A("l2.l_quantity", 2)} FROM lineitem l2
      WHERE l2.l_partkey = part.p_partkey)
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: small-quantity-order revenue — correlated per-part
    average decorrelated into an aggregate + broadcast re-join."""
    li = _td(spark, sf_dir, "lineitem")
    p = _td(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    half_avg = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.lit(0.5) * exact_avg(F.col("l_quantity"), 2)).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(half_avg), li.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(exact_sum(F.col("l_extendedprice"), 2) / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


@_register(
    "tpch_q19_disjunctive_predicate",
    f"""
    SELECT ROUND({_S(_REV, 4)}, 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
           AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
           AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#7' AND l_quantity BETWEEN 20 AND 30
           AND p_size BETWEEN 1 AND 15)
    """,
)
def tpch_q19_disjunctive_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs mixed join/residual predicate — Catalyst
    pushes the per-side conjuncts below the join and keeps the cross-table
    disjunction as a residual filter."""
    li = _td(spark, sf_dir, "lineitem")
    p = _td(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2
            ).alias("revenue")
        )
    )


@_register(
    "tpch_q20_part_promotion",
    f"""
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey HAVING {_S("l_quantity", 2)} > 100)
    """,
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: shipped-quantity threshold replaces the
    partsupp availqty comparison): IN-subquery over a HAVING-filtered
    aggregate → left-semi join."""
    s = _td(spark, sf_dir, "supplier")
    li = _td(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = _td(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(exact_sum(F.col("l_quantity"), 2).alias("qty"))
        .filter(F.col("qty") > 100)
    )
    return s.join(
        F.broadcast(heavy), s.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@_register(
    "tpch_q21_sole_fault_supplier",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def tpch_q21_sole_fault_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: returnflag='R' marks the fault in place of
    receipt-after-commit — those date columns are absent): EXISTS +
    NOT-EXISTS with non-equi correlation → semi + anti join on a compound
    condition."""
    li = _td(spark, sf_dir, "lineitem")
    o = _td(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _td(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey")
    )
    cand = l1.join(
        l2,
        (l1.l_orderkey == F.col("l2_orderkey"))
        & (l1.l_suppkey != F.col("l2_suppkey")),
        "left_semi",
    ).join(
        l3,
        (l1.l_orderkey == F.col("l3_orderkey"))
        & (l1.l_suppkey != F.col("l3_suppkey")),
        "left_anti",
    )
    return (
        cand.join(o, cand.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), cand.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_register(
    "tpch_q22_global_sales_opportunity",
    f"""
    SELECT cntrycode, COUNT(*) AS numcust,
           ROUND({_S("c_acctbal", 2)}, 2) AS totacctbal
    FROM (SELECT c_nationkey % 5 AS cntrycode, c_acctbal FROM customer
          WHERE c_nationkey IN (1, 2, 3, 8, 9, 11, 17)
            AND c_acctbal > (SELECT {_A("c2.c_acctbal", 2)} FROM customer c2
                             WHERE c2.c_acctbal > 0.0
                               AND c2.c_nationkey IN (1, 2, 3, 8, 9, 11, 17))
            AND NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey
                              AND o_orderpriority = '1-URGENT')
         ) custsale
    GROUP BY cntrycode
    """,
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: nationkey bucket replaces the phone country
    prefix — c_phone is absent; "no urgent orders" replaces "no orders"
    since the dense testdata gives every customer an order): above-average
    -balance customers — uncorrelated scalar avg + anti join + agg."""
    keys = [1, 2, 3, 8, 9, 11, 17]
    c = _td(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(keys))
    o = _td(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        exact_avg(F.col("c_acctbal"), 2).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy((F.col("c_nationkey") % 5).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(exact_sum(F.col("c_acctbal"), 2), 2).alias("totacctbal"),
        )
    )


@_register(
    "set_ops_multiset",
    """
    SELECT event_type, n FROM (
      SELECT event_type, COUNT(*) AS n FROM (
        SELECT event_type FROM events WHERE user_id % 2 = 0
        EXCEPT ALL
        SELECT event_type FROM events WHERE user_id % 3 = 0) e
      GROUP BY event_type
      UNION ALL
      SELECT event_type, -COUNT(*) AS n FROM (
        SELECT event_type FROM events WHERE user_id % 2 = 0
        INTERSECT ALL
        SELECT event_type FROM events WHERE user_id % 3 = 0) i
      GROUP BY event_type) u
    """,
)
def set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL — multiset semantics (duplicate counts
    subtract / take-min, unlike the DISTINCT set ops already covered);
    aggregated to per-type counts for a stable comparison."""
    ev = _td(spark, sf_dir, "events")
    a = ev.filter(F.col("user_id") % 2 == 0).select("event_type")
    b = ev.filter(F.col("user_id") % 3 == 0).select("event_type")
    exc = (
        a.exceptAll(b)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    inter = (
        a.intersectAll(b)
        .groupBy("event_type")
        .agg((-F.count(F.lit(1))).alias("n"))
    )
    return exc.unionByName(inter)


@_register(
    "orders_unpivot",
    f"""
    SELECT o_orderpriority, metric, ROUND(val, 2) AS val
    FROM (SELECT o_orderpriority,
                 {_S("o_totalprice", 4)} AS total_price,
                 {_A("o_totalprice", 4)} AS avg_price,
                 CAST(COUNT(*) AS DOUBLE) AS n_orders
          FROM orders GROUP BY o_orderpriority) w
    UNPIVOT (val FOR metric IN (total_price, avg_price, n_orders))
    """,
)
def orders_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide metrics -> long rows) via stack() — the
    inverse of the pivot query already covered."""
    o = _td(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        exact_sum(F.col("o_totalprice"), 4).alias("total_price"),
        exact_avg(F.col("o_totalprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return wide.select(
        "o_orderpriority",
        F.expr(
            "stack(3, 'total_price', total_price, 'avg_price', avg_price, "
            "'n_orders', n_orders) AS (metric, val)"
        ),
    ).withColumn("val", F.round("val", 2))


@_register(
    "window_value_functions",
    """
    SELECT event_id, user_id, ts,
           first_value(value) OVER w AS day_open,
           last_value(value) OVER (PARTITION BY user_id, CAST(ts AS DATE)
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS day_close,
           nth_value(value, 2) OVER w AS day_second
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts, event_id)
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with explicit frames —
    last_value needs the full-partition frame (the default frame stops
    at CURRENT ROW, a classic SQL footgun both engines share)."""
    from pyspark.sql import Window

    ev = _td(spark, sf_dir, "events")
    day = F.to_date("ts")
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.first("value").over(w).alias("day_open"),
        F.last("value").over(w_full).alias("day_close"),
        F.nth_value("value", 2).over(w).alias("day_second"),
    )


@_register(
    "part_name_tokens",
    """
    SELECT p_partkey, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
    FROM (SELECT p_partkey, string_split(p_name, ' ') AS toks FROM part) s,
         UNNEST(range(1, len(toks) + 1)) AS t(i)
    """,
)
def part_name_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW posexplode: one output row per token with its
    position (the generator/flatten pattern; 0-based in both engines)."""
    p = _td(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "tok"),
    )


# Engine-neutral exact revenue sum: DECIMAL(38,0) accumulation parses
# and sums exactly in BOTH Spark SQL and DuckDB, so the one string
# stays valid on the two engines AND order-independent.
_SQL_OVER_VIEWS = """
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(FLOOR(o.o_totalprice * 1e4 + 0.5)
                               AS DECIMAL(38,0))) AS DOUBLE) / 1e4, 2)
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY c.c_mktsegment
"""


@_register("sql_over_views", _SQL_OVER_VIEWS)
def sql_over_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain-SQL user surface: testdata tables registered as temp
    views (sources/catalog.py::register_testdata_views — the Trino-SQL
    workflow of the reference), then ONE ANSI SQL string executed by
    ``spark.sql`` — the very same string IS the DuckDB oracle."""
    from ..sources.catalog import register_testdata_views

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    register_testdata_views(spark, sf_dir)
    return spark.sql(_SQL_OVER_VIEWS)


@_register(
    "orders_abc_pareto",
    rf"""
    WITH pk AS (
      SELECT l_partkey,
             CAST(FLOOR({_S(_REV, 4)} * 100 + 0.5)
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey),
    t AS (SELECT sum(cents) AS total FROM pk),
    c AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM pk)
    SELECT l_partkey,
           cents / 100.0 AS total_value,
           FLOOR(cum * 1.0 / total * 1e6 + 0.5) / 1e6 AS cum_share_q6,
           CASE WHEN (cum - cents) * 1.0 / total < 0.8 THEN 'A'
                WHEN (cum - cents) * 1.0 / total < 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c CROSS JOIN t
    """,
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC revenue-concentration report over parts: per-part
    lineitem revenue quantized to integer cents, then a RANGE-
    PARTITIONED global prefix sum (stats.global_cumsum — per-partition
    prefix sums + broadcast offsets, never a single-partition global
    window) classifies parts into A/≤80%, B/≤95%, C tail by cumulative
    share. The oracle uses the plain windowed cumsum — same exact
    integer arithmetic, so the distributed decomposition is provably
    equivalent."""
    li = _td(spark, sf_dir, "lineitem")
    rev = li.withColumn("__rev", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return stats.abc_classification(
        rev, key_cols=("l_partkey",), value_col="__rev"
    )


@_register(
    "orders_seasonality",
    rf"""
    WITH agg AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             CAST(FLOOR({_S("o_totalprice", 4)} * 100 + 0.5) AS BIGINT) AS cents,
             count(*) AS n_orders
      FROM orders GROUP BY 1),
    bounds AS (
      SELECT min(mon) AS mn, max(mon) AS mx FROM agg),
    -- complete month spine: a ROWS-based lag is only a calendar lag if
    -- no month is missing, so scaffold the gaps with 0-revenue rows
    spine AS (
      SELECT unnest(range(mn, mx + INTERVAL 1 MONTH, INTERVAL 1 MONTH)) AS mon
      FROM bounds),
    m AS (
      SELECT CAST(spine.mon AS DATE) AS month,
             COALESCE(agg.cents, 0) AS cents,
             COALESCE(agg.n_orders, 0) AS n_orders
      FROM spine LEFT JOIN agg ON spine.mon = agg.mon)
    SELECT month,
           cents / 100.0 AS revenue,
           n_orders,
           FLOOR(CASE WHEN lag(cents, 1) OVER w > 0
                 THEN cents * 1.0 / (lag(cents, 1) OVER w) - 1 END
                 * 1e6 + 0.5) / 1e6 AS mom_growth_q6,
           FLOOR(CASE WHEN lag(cents, 12) OVER w > 0
                 THEN cents * 1.0 / (lag(cents, 12) OVER w) - 1 END
                 * 1e6 + 0.5) / 1e6 AS yoy_growth_q6,
           FLOOR(AVG(cents) OVER (ORDER BY month
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0
                 * 1e6 + 0.5) / 1e6 AS ma3_q6
    FROM m WINDOW w AS (ORDER BY month)
    """,
)
def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue seasonality: month-over-month and year-over-year
    growth (lag-12) plus a 3-month moving average. Revenue is quantized
    to integer cents BEFORE the ratios so both engines divide identical
    longs; a complete month SPINE scaffolds calendar gaps with 0-revenue
    rows so the ROWS-based lags are true calendar lags (a gapped month
    would otherwise silently misalign every later YoY). The global
    window here is CORRECT at scale — it runs over the per-month
    aggregate (#months rows, corpus-size-independent), unlike a per-row
    global window (cf. orders_abc_pareto's range-partitioned prefix
    sums for the corpus-sized case)."""
    o = _td(spark, sf_dir, "orders")
    from pyspark.sql import Window

    agg = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mon")
    ).agg(
        cents(exact_sum(F.col("o_totalprice"), 4)).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    spine = agg.agg(F.min("mon").alias("mn"), F.max("mon").alias("mx")).select(
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 1 MONTH"))
        ).alias("mon")
    )
    m = spine.join(agg, "mon", "left").select(
        F.col("mon").cast("date").alias("month"),
        F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    growth = lambda n: F.when(  # noqa: E731
        F.lag("cents", n).over(w) > 0,
        F.col("cents") / F.lag("cents", n).over(w) - 1,
    )
    return m.select(
        "month",
        (F.col("cents") / 100.0).alias("revenue"),
        "n_orders",
        q6(growth(1)).alias("mom_growth_q6"),
        q6(growth(12)).alias("yoy_growth_q6"),
        q6(F.avg("cents").over(w.rowsBetween(-2, 0)) / 100.0).alias("ma3_q6"),
    )


@_register(
    "orders_rfm_segments",
    rf"""
    WITH ref AS (SELECT max(o_orderdate) AS mx FROM orders),
    c AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), ref.mx) AS recency_days,
             count(*) AS frequency,
             CAST(FLOOR({_S("o_totalprice", 4)} * 100 + 0.5) AS BIGINT) AS cents
      FROM orders CROSS JOIN ref GROUP BY o_custkey, ref.mx),
    s AS (
      SELECT *,
             6 - ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
             6 - ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
             6 - ntile(5) OVER (ORDER BY cents DESC, o_custkey ASC) AS m_score
      FROM c)
    SELECT o_custkey, recency_days, frequency,
           cents / 100.0 AS monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM s
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary per
    customer, quintile scores via deterministic NTILE (custkey
    tie-break; 6−ntile so 5 = best), and the standard segment labels.
    The quintile windows run over the per-CUSTOMER aggregate (one row
    per customer, not per order); monetary quantized to integer cents
    before ranking so both engines order identical longs."""
    o = _td(spark, sf_dir, "orders")
    from pyspark.sql import Window

    ref = o.agg(F.max("o_orderdate").alias("mx"))
    c = (
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey", "mx")
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            cents(exact_sum(F.col("o_totalprice"), 4)).alias("cents"),
        )
        .select(
            "o_custkey",
            F.datediff(F.col("mx"), F.col("__last")).alias("recency_days"),
            "frequency",
            "cents",
        )
    )
    r_w = Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
    f_w = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    m_w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey").asc())
    s = (
        c.withColumn("r_score", 6 - F.ntile(5).over(r_w))
        .withColumn("f_score", 6 - F.ntile(5).over(f_w))
        .withColumn("m_score", 6 - F.ntile(5).over(m_w))
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champions")
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "at_risk")
        .otherwise("regular")
    )
    return s.select(
        "o_custkey",
        "recency_days",
        "frequency",
        (F.col("cents") / 100.0).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


@_register(
    "orders_cohort_ltv",
    rf"""
    WITH fo AS (
      SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
      FROM orders GROUP BY 1),
    r AS (
      SELECT o.o_custkey, fo.cohort,
             (year(o.o_orderdate) - year(fo.cohort)) * 12
               + (month(o.o_orderdate) - month(fo.cohort)) AS offs,
             o.o_totalprice
      FROM orders o JOIN fo USING (o_custkey)),
    cz AS (SELECT cohort, count(*) AS cohort_size FROM fo GROUP BY 1),
    cell AS (
      SELECT cohort, offs,
             CAST(FLOOR({_S("o_totalprice", 4)} * 100 + 0.5) AS BIGINT) AS cents,
             count(DISTINCT o_custkey) AS active
      FROM r GROUP BY 1, 2)
    SELECT CAST(cohort AS DATE) AS cohort_month,
           offs AS month_offset,
           active AS active_customers,
           cents / 100.0 AS revenue,
           FLOOR(sum(cents) OVER (PARTITION BY cell.cohort ORDER BY offs
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / 100.0 / cohort_size * 1e6 + 0.5) / 1e6 AS cum_ltv_q6
    FROM cell JOIN cz USING (cohort)
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue per (cohort × month offset) cell, cumulative LTV per
    cohort customer — the monetary twin of the retention matrix. The
    cumulative window runs over the cohort×offset AGGREGATE (corpus-
    size-independent); revenue quantized to integer cents before the
    running sum."""
    from pyspark.sql import Window

    o = _td(spark, sf_dir, "orders")
    fo = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    r = o.join(fo, "o_custkey").select(
        "o_custkey",
        "cohort",
        (
            (F.year("o_orderdate") - F.year("cohort")) * 12
            + (F.month("o_orderdate") - F.month("cohort"))
        ).alias("offs"),
        "o_totalprice",
    )
    cz = fo.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    cell = r.groupBy("cohort", "offs").agg(
        cents(exact_sum(F.col("o_totalprice"), 4)).alias("cents"),
        F.countDistinct("o_custkey").alias("active"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("offs")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cell.join(F.broadcast(cz), "cohort")
        .select(
            F.col("cohort").cast("date").alias("cohort_month"),
            F.col("offs").alias("month_offset"),
            F.col("active").alias("active_customers"),
            (F.col("cents") / 100.0).alias("revenue"),
            q6(
                F.sum("cents").over(w) / 100.0 / F.col("cohort_size")
            ).alias("cum_ltv_q6"),
        )
    )


@_register(
    "supplier_return_rates",
    rf"""
    WITH s AS (
      SELECT l_suppkey,
             count(*) AS n_items,
             count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
             CAST(FLOOR({_S(_REV, 4)} * 100 + 0.5) AS BIGINT) AS cents,
             CAST(FLOOR(COALESCE({_S("CASE WHEN l_returnflag = 'R' THEN " + _REV + " END", 4)}, 0)
                        * 100 + 0.5) AS BIGINT) AS ret_cents
      FROM lineitem GROUP BY l_suppkey)
    SELECT l_suppkey, n_items, n_returned,
           cents / 100.0 AS revenue,
           FLOOR(n_returned * 1.0 / n_items * 1e6 + 0.5) / 1e6 AS return_rate_q6,
           FLOOR(ret_cents * 1.0 / GREATEST(cents, 1) * 1e6 + 0.5) / 1e6
             AS returned_value_share_q6
    FROM s
    """,
)
def supplier_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier reliability report: per-supplier item and revenue-
    weighted return rates from the lineitem return flag — one
    conditional hash aggregate, revenue quantized to integer cents
    before the share ratios."""
    li = _td(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ret = F.col("l_returnflag") == "R"
    ret_cents = cents(F.coalesce(exact_sum(F.when(ret, rev), 4), F.lit(0.0)))
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.count_if(ret).alias("n_returned"),
            cents(exact_sum(rev, 4)).alias("cents"),
            ret_cents.alias("ret_cents"),
        )
        .select(
            "l_suppkey",
            "n_items",
            "n_returned",
            (F.col("cents") / 100.0).alias("revenue"),
            q6(F.col("n_returned") / F.col("n_items")).alias("return_rate_q6"),
            q6(
                F.col("ret_cents") / F.greatest(F.col("cents"), F.lit(1))
            ).alias("returned_value_share_q6"),
        )
    )


@_register(
    "part_fuzzy_link",
    r"""
    WITH clean AS (SELECT p_partkey, p_name FROM part),
    dirty AS (
      SELECT p_partkey AS d_key,
             substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
               || substr(p_name, CAST(p_partkey % length(p_name) AS INT) + 2)
               AS d_name
      FROM part),
    lg AS (
      SELECT DISTINCT d_key AS lid, g FROM dirty,
        UNNEST(list_transform(range(1, GREATEST(length(d_name) - 2, 1) + 1),
                              i -> substr(d_name, i, 3))) AS t(g)),
    rg AS (
      SELECT DISTINCT p_partkey AS rid, g FROM clean,
        UNNEST(list_transform(range(1, GREATEST(length(p_name) - 2, 1) + 1),
                              i -> substr(p_name, i, 3))) AS t(g)),
    hot AS (
      SELECT g FROM (
        SELECT g, count(*) AS df FROM (
          SELECT g FROM lg UNION ALL SELECT g FROM rg) u GROUP BY g)
      WHERE df > 1000),
    lgc AS (SELECT * FROM lg WHERE g NOT IN (SELECT g FROM hot)),
    rgc AS (SELECT * FROM rg WHERE g NOT IN (SELECT g FROM hot)),
    ls AS (SELECT lid, count(*) AS la FROM lgc GROUP BY lid),
    rs AS (SELECT rid, count(*) AS ra FROM rgc GROUP BY rid),
    inter AS (
      SELECT lid, rid, count(*) AS i
      FROM lgc JOIN rgc USING (g) GROUP BY lid, rid),
    jac AS (
      SELECT lid, rid,
             FLOOR(i * 1.0 / (la + ra - i) * 1e6 + 0.5) / 1e6 AS jaccard_q6
      FROM inter JOIN ls USING (lid) JOIN rs USING (rid))
    SELECT lid AS d_key, rid AS p_partkey, jaccard_q6, match_rank FROM (
      SELECT *, row_number() OVER (PARTITION BY lid
               ORDER BY jaccard_q6 DESC, rid ASC) AS match_rank
      FROM jac WHERE jaccard_q6 >= 0.4) r
    WHERE match_rank = 1
    """,
)
def part_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution demo on a deterministic dirty feed: every part
    name with one character deleted (position = partkey mod length) is
    linked back to the clean catalog by trigram-blocked exact Jaccard
    (joins.fuzzy_string_link — gram equi-join with the hot-gram cap,
    never a cross product), best match per dirty record."""
    part = _td(spark, sf_dir, "part")
    pos = (F.col("p_partkey") % F.length("p_name")).cast("int")
    dirty = part.select(
        F.col("p_partkey").alias("d_key"),
        F.concat(
            F.expr("substr(p_name, 1, cast(p_partkey % length(p_name) as int))"),
            F.expr("substr(p_name, cast(p_partkey % length(p_name) as int) + 2)"),
        ).alias("d_name"),
    )
    return joins.fuzzy_string_link(
        dirty,
        part.select("p_partkey", "p_name"),
        left_id="d_key",
        left_str="d_name",
        right_id="p_partkey",
        right_str="p_name",
        ngram=3,
        threshold=0.4,
    )


def _rfm_half_cte(alias: str, pred: str) -> str:
    """One half-period RFM scoring block for the migration oracle —
    identical quintile logic to orders_rfm_segments, reference date =
    the half's own max order date."""
    return f"""
    ref_{alias} AS (SELECT max(o_orderdate) AS mx FROM orders WHERE {pred}),
    c_{alias} AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), ref_{alias}.mx) AS recency_days,
             count(*) AS frequency,
             CAST(FLOOR({_S("o_totalprice", 4)} * 100 + 0.5) AS BIGINT) AS cents
      FROM orders CROSS JOIN ref_{alias}
      WHERE {pred} GROUP BY o_custkey, ref_{alias}.mx),
    s_{alias} AS (
      SELECT o_custkey,
             6 - ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
             6 - ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score
      FROM c_{alias}),
    seg_{alias} AS (
      SELECT o_custkey,
             CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
                  WHEN r_score >= 4 THEN 'recent'
                  WHEN f_score >= 4 THEN 'loyal'
                  WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                  ELSE 'regular' END AS segment
      FROM s_{alias})"""


@_register(
    "orders_segment_migration",
    "WITH "
    + _rfm_half_cte("a", "o_orderdate < TIMESTAMP '1998-07-01'")
    + ","
    + _rfm_half_cte("b", "o_orderdate >= TIMESTAMP '1998-07-01'")
    + r"""
    , cells AS (
      SELECT a.segment AS segment_early, b.segment AS segment_late,
             count(*) AS n_customers
      FROM seg_a a JOIN seg_b b USING (o_custkey)
      GROUP BY 1, 2),
    tot AS (SELECT segment_early, sum(n_customers) AS row_n FROM cells GROUP BY 1)
    SELECT c.segment_early, c.segment_late, c.n_customers,
           FLOOR(c.n_customers * 1.0 / t.row_n * 1e6 + 0.5) / 1e6 AS row_frac_q6
    FROM cells c JOIN tot t USING (segment_early)
    """,
)
def orders_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longitudinal RFM: customers scored in the early half (orders
    before 1998-07-01) and the late half, joined into a segment
    MIGRATION matrix (who moved champions → at_risk, etc.) with
    per-early-segment row fractions — the churn-detection view on top of
    orders_rfm_segments' scoring logic. Each half's quintile windows run
    over that half's per-customer aggregate."""
    from pyspark.sql import Window

    o = _td(spark, sf_dir, "orders")
    split = F.lit("1998-07-01").cast("timestamp")

    def seg(part):
        ref = part.agg(F.max("o_orderdate").alias("mx"))
        c = (
            part.crossJoin(F.broadcast(ref))
            .groupBy("o_custkey", "mx")
            .agg(
                F.max("o_orderdate").alias("__last"),
                F.count(F.lit(1)).alias("frequency"),
            )
            .select(
                "o_custkey",
                F.datediff(F.col("mx"), F.col("__last")).alias("recency_days"),
                "frequency",
            )
        )
        r_w = Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
        f_w = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
        s = c.withColumn("r_score", 6 - F.ntile(5).over(r_w)).withColumn(
            "f_score", 6 - F.ntile(5).over(f_w)
        )
        lab = (
            F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champions")
            .when(F.col("r_score") >= 4, "recent")
            .when(F.col("f_score") >= 4, "loyal")
            .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "at_risk")
            .otherwise("regular")
        )
        return s.select("o_custkey", lab.alias("segment"))

    early = seg(o.filter(F.col("o_orderdate") < split))
    late = seg(o.filter(F.col("o_orderdate") >= split))
    cells = (
        early.withColumnRenamed("segment", "segment_early")
        .join(late.withColumnRenamed("segment", "segment_late"), "o_custkey")
        .groupBy("segment_early", "segment_late")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    tot = Window.partitionBy("segment_early")
    return cells.select(
        "segment_early",
        "segment_late",
        "n_customers",
        q6(F.col("n_customers") / F.sum("n_customers").over(tot)).alias("row_frac_q6"),
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(src, dst)``: the co-purchase graph on one part category
    (``l_partkey % 7 = 0``), an edge ``src < dst`` for every two parts
    in the same order (once per such order). The graph of
    part_copurchase_triangles and part_copurchase_communities."""
    li = _td(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 7 == 0)
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))


@_register(
    "part_copurchase_triangles",
    """
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey % 7 = 0 AND b.l_partkey % 7 = 0
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg
      FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
      GROUP BY node
    ),
    wd AS (
      SELECT e0.a, e0.b, dga.deg AS da, dgb.deg AS db
      FROM e0
      JOIN deg dga ON dga.node = e0.a
      JOIN deg dgb ON dgb.node = e0.b
    ),
    o AS (
      SELECT CASE WHEN (da < db) OR (da = db AND a < b) THEN a ELSE b END AS u,
             CASE WHEN (da < db) OR (da = db AND a < b) THEN b ELSE a END AS v,
             CASE WHEN (da < db) OR (da = db AND a < b) THEN db ELSE da END AS dv
      FROM wd
    ),
    w AS (
      SELECT o1.u AS apex, o1.v AS x, o2.v AS y
      FROM o o1
      JOIN o o2 ON o1.u = o2.u
              AND ((o1.dv < o2.dv) OR (o1.dv = o2.dv AND o1.v < o2.v))
    ),
    t AS (SELECT w.* FROM w WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)),
    n AS (
      SELECT apex AS node FROM t
      UNION ALL SELECT x FROM t
      UNION ALL SELECT y FROM t
    )
    SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS triangles
    FROM n GROUP BY node
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts on the co-purchase graph
    (`operators/graph.py::triangle_counts`): parts are adjacent when
    they appear in the same order (pair expansion bounded by items per
    order — the market-basket blocking), sliced to one part category
    (l_partkey % 7 = 0, mirrored in the oracle) so the registry run
    stays sweep-sized; the operator itself is degree-oriented with the
    O(m^1.5) wedge bound. The oracle independently re-derives the same
    orientation algebra in SQL."""
    from ..operators.graph import triangle_counts

    return triangle_counts(_copurchase_edges(spark, sf_dir)).select(
        F.col("node").alias("part_key"), "triangles"
    )


def _lpa_oracle(iters: int = 4) -> str:
    """Chained-CTE mirror of graph.label_propagation on the co-purchase
    slice: one (neighbor-count → row_number pick → relabel) block per
    superstep, MATERIALIZED so DuckDB doesn't inline the chain
    exponentially (the pagerank/kmeans oracle discipline)."""
    parts = [
        """e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey % 7 = 0 AND b.l_partkey % 7 = 0
    )""",
        "ed AS MATERIALIZED (SELECT a, b FROM e0 UNION SELECT b, a FROM e0)",
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM ed)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""n{i} AS MATERIALIZED (
      SELECT e.a AS node, l.label, COUNT(*) AS cnt
      FROM ed e JOIN l{i-1} l ON l.node = e.b GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"""b{i} AS MATERIALIZED (
      SELECT node, label AS best FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rk
        FROM n{i}) WHERE rk = 1
    )"""
        )
        parts.append(
            f"""l{i} AS MATERIALIZED (
      SELECT l.node, COALESCE(b.best, l.label) AS label
      FROM l{i-1} l LEFT JOIN b{i} b ON b.node = l.node
    )"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node AS part_key, CAST(label AS BIGINT) AS community FROM l{iters}"
    )


@_register("part_copurchase_communities", _lpa_oracle(4))
def part_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (`graph.label_propagation`, 4 synchronous
    min-mode supersteps) on the same co-purchase slice as the triangle
    query — the oracle re-derives every superstep as a chained CTE, so
    the green row proves the full iterative update rule, not just the
    final partition."""
    from ..operators.graph import label_propagation

    return label_propagation(_copurchase_edges(spark, sf_dir), iters=4).select(
        F.col("node").alias("part_key"), F.col("label").alias("community")
    )


@_register(
    "part_association_rules",
    """
    WITH it AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
      FROM lineitem WHERE l_partkey % 7 = 0),
    nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM it),
    c AS (SELECT item, count(*) AS n_item FROM it
          GROUP BY 1 HAVING count(*) >= 2),
    f AS (SELECT it.bk, it.item, c.n_item FROM it JOIN c USING (item)),
    p AS (
      SELECT a.item AS item_a, b.item AS item_b,
             a.n_item AS n_a, b.n_item AS n_b, count(*) AS n_ab
      FROM f a JOIN f b ON a.bk = b.bk AND a.item < b.item
      GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
    r AS (
      SELECT item_a AS antecedent, item_b AS consequent,
             n_ab, n_a AS n_ante, n_b AS n_cons FROM p
      UNION ALL
      SELECT item_b, item_a, n_ab, n_b, n_a FROM p),
    s AS (
      SELECT antecedent, consequent, n_ab,
             n_ante AS n_a, n_cons AS n_b,
             FLOOR(CAST(n_ab AS DOUBLE) / n_baskets * 1e6 + 0.5) / 1e6
               AS support_q6,
             FLOOR(CAST(n_ab AS DOUBLE) / n_ante * 1e6 + 0.5) / 1e6
               AS confidence_q6,
             FLOOR((CAST(n_ab AS DOUBLE) / n_ante)
                   / (CAST(n_cons AS DOUBLE) / n_baskets) * 1e6 + 0.5) / 1e6
               AS lift_q6
      FROM r CROSS JOIN nb)
    SELECT * FROM (
      SELECT *, row_number() OVER (
               ORDER BY lift_q6 DESC, confidence_q6 DESC,
                        antecedent ASC, consequent ASC) AS rank
      FROM s) WHERE rank <= 30
    """,
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (`graph.association_rules`) on
    the same co-purchase slice as the triangle/community queries: item
    supports counted first, the apriori downward-closure prune applied
    BEFORE the basket self-join (infrequent items never enter the pair
    expansion), pairs thresholded, then both rule directions scored
    with exact-integer-count support/confidence/lift and ranked by
    lift. Every metric is a fixed sequence of correctly-rounded IEEE
    divisions over BIGINT counts, q6-snapped before ranking — written
    identically in the oracle."""
    from ..operators.graph import association_rules

    li = _td(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 7 == 0)
    return association_rules(
        li,
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_count=2,
        min_pair_count=2,
        top_k=30,
    )


@_register(
    "orders_concentration_hhi",
    """
    WITH c AS (
      SELECT date_part('year', o_orderdate) AS year, o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    t AS (SELECT year, sum(cents) AS tot FROM c GROUP BY 1),
    s AS (
      SELECT c.year,
             CAST(FLOOR((CAST(c.cents AS DOUBLE) / t.tot)
                        * (CAST(c.cents AS DOUBLE) / t.tot) * 1e12
                        + 0.5) AS BIGINT) AS sh12
      FROM c JOIN t USING (year))
    SELECT CAST(year AS INT) AS year,
           CAST(count(*) AS BIGINT) AS n_customers,
           FLOOR(CAST(sum(sh12) AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6
             AS hhi_q6
    FROM s GROUP BY year
    """,
)
def orders_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Herfindahl index per year (Σ share² over
    customers; 1/n = perfectly even, → 1 as one buyer dominates) — the
    concentration-risk readout next to ABC/Pareto. Per-customer revenue
    is exact integer cents; each squared share (one correctly-rounded
    division + one multiply, written as an explicit x*x — never libm
    pow) snaps
    to a 1e-12 integer grid BEFORE the customer-sized sum (the grid
    rule: the sum is corpus-scale, so no float accumulation may touch
    it)."""
    o = _td(spark, sf_dir, "orders")
    c = o.groupBy(
        F.year("o_orderdate").alias("year"), "o_custkey"
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("cents"))
    t = c.groupBy("year").agg(F.sum("cents").alias("tot"))
    share = F.col("cents").cast("double") / F.col("tot")
    s = c.join(t, "year").select(
        "year",
        half_up(share * share * 1e12).cast("bigint").alias("sh12"),
    )
    return s.groupBy("year").agg(
        F.count(F.lit(1)).alias("n_customers"),
        q6(F.sum("sh12").cast("double") / F.lit(1e12)).alias("hhi_q6"),
    ).select(F.col("year").cast("int").alias("year"), "n_customers", "hhi_q6")


@_register(
    "orders_forecast_yoy",
    """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1),
    y AS (
      SELECT a.month, a.rev_cents - b.rev_cents AS d
      FROM m a JOIN m b
        ON a.month = CAST(b.month + INTERVAL 12 MONTH AS TIMESTAMP)),
    st AS (SELECT CAST(SUM(d) AS BIGINT) AS s, COUNT(*) AS n FROM y),
    t AS (SELECT max(month) AS tmax FROM m),
    basis AS (
      SELECT m.month AS basis_month, m.rev_cents,
             CAST(date_diff('month',
                  CAST(t.tmax - INTERVAL 12 MONTH AS TIMESTAMP), m.month)
                  AS INT) AS horizon
      FROM m CROSS JOIN t
      WHERE m.month > CAST(t.tmax - INTERVAL 12 MONTH AS TIMESTAMP))
    SELECT CAST(basis_month + INTERVAL 12 MONTH AS TIMESTAMP) AS month,
           horizon,
           FLOOR(rev_cents * 1.0 / 100 * 1e6 + 0.5) / 1e6 AS basis_revenue,
           FLOOR((CAST(s AS DOUBLE) / n) / 100 * 1e6 + 0.5) / 1e6
             AS mean_yoy,
           FLOOR((CAST(rev_cents AS DOUBLE) + CAST(s AS DOUBLE) / n) / 100
                 * 1e6 + 0.5) / 1e6 AS forecast
    FROM basis CROSS JOIN st
    WHERE horizon BETWEEN 1 AND 6
    """,
)
def orders_forecast_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive + drift revenue forecast: ŷ(T+h) = y(T+h−12) +
    mean year-over-year increment, for horizons 1-6 months past the
    last observed month — the standing baseline every fancier model
    must beat (Hyndman & Athanasopoulos). Everything reduces over the
    MONTHLY aggregate (corpus-size-independent, the decomposition
    precedent): the YoY increments and their sum are exact integer
    cents, so the one division (mean increment) happens once on the
    driver-shaped 1-row frame and the q6 outputs are
    layout-independent."""
    orders = _td(spark, sf_dir, "orders")
    m_agg = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"))
    # calendar-sized — pin on the driver so the four consumers (prev,
    # increment stats, max month, basis) cost ONE corpus scan, not four
    # (purged-CV precedent, caught by the scan audit)
    m = to_local(m_agg)
    prev = m.select(
        F.to_timestamp(F.add_months("month", 12)).alias("month"),
        F.col("rev_cents").alias("prev_cents"),
    )
    st = (
        m.join(prev, "month")
        .agg(
            F.sum(F.col("rev_cents") - F.col("prev_cents")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    t = m.agg(F.max("month").alias("tmax"))
    basis = (
        m.crossJoin(F.broadcast(t))
        .filter(
            F.col("month") > F.to_timestamp(F.add_months("tmax", -12))
        )
        .select(
            F.col("month").alias("basis_month"),
            "rev_cents",
            F.months_between(
                F.col("month"), F.to_timestamp(F.add_months("tmax", -12))
            )
            .cast("int")
            .alias("horizon"),
        )
    )

    mean_yoy = F.col("s").cast("double") / F.col("n")
    return (
        basis.crossJoin(F.broadcast(st))
        .filter(F.col("horizon").between(1, 6))
        .select(
            F.to_timestamp(F.add_months("basis_month", 12)).alias("month"),
            "horizon",
            q6(F.col("rev_cents").cast("double") / 100).alias("basis_revenue"),
            q6(mean_yoy / 100).alias("mean_yoy"),
            q6((F.col("rev_cents").cast("double") + mean_yoy) / 100).alias("forecast"),
        )
    )


@_register(
    "orders_seasonal_decompose",
    """
    WITH m AS (
      -- DuckDB's month-grain date_trunc yields DATE; cast back so the
      -- column hashes identically to Spark's TIMESTAMP month
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1),
    t AS (
      SELECT month, rev_cents,
             SUM(rev_cents) OVER w AS t12,
             COUNT(*) OVER w AS wn,
             month(month) AS moy
      FROM m
      WINDOW w AS (ORDER BY month ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)),
    d AS (
      SELECT *, CASE WHEN wn = 12 THEN 12 * rev_cents - t12 END AS dev12 FROM t),
    s AS (
      SELECT moy,
             CAST(SUM(dev12) AS BIGINT) AS ds, COUNT(dev12) AS dn
      FROM d WHERE dev12 IS NOT NULL GROUP BY moy)
    SELECT d.month,
           FLOOR(d.rev_cents * 1.0 / 100 * 1e6 + 0.5) / 1e6 AS revenue,
           CASE WHEN d.wn = 12
                THEN FLOOR(d.t12 * 1.0 / 12 / 100 * 1e6 + 0.5) / 1e6 END AS trend,
           CASE WHEN s.dn > 0
                THEN FLOOR(s.ds * 1.0 / s.dn / 12 / 100 * 1e6 + 0.5) / 1e6
                END AS seasonal,
           CASE WHEN d.wn = 12 AND s.dn > 0
                THEN FLOOR((d.dev12 * 1.0 / 12 / 100 - s.ds * 1.0 / s.dn / 12 / 100)
                           * 1e6 + 0.5) / 1e6 END AS residual
    FROM d LEFT JOIN s ON s.moy = d.moy
    """,
)
def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of monthly revenue — trend =
    centered 12-month moving average (NULL at the edges where the
    window is short), seasonal = per-calendar-month mean deviation,
    residual = remainder. Window math runs over the MONTHLY aggregate
    (corpus-size-independent, the orders_seasonality precedent); every
    cross-engine aggregate is integer cents — deviations are kept in
    cents×12 (12·rev − Σ12) so no division happens before the bounded
    per-month mean, making the q6 outputs layout-independent."""
    orders = _td(spark, sf_dir, "orders")
    m = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("rev_cents")
    )
    w = Window.orderBy("month").rowsBetween(-6, 5)
    t = m.select(
        "month",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("t12"),
        F.count("*").over(w).alias("wn"),
        F.month("month").alias("moy"),
    ).withColumn(
        "dev12",
        F.when(F.col("wn") == 12, 12 * F.col("rev_cents") - F.col("t12")),
    )
    s = (
        t.filter(F.col("dev12").isNotNull())
        .groupBy("moy")
        .agg(F.sum("dev12").alias("ds"), F.count("dev12").alias("dn"))
    )

    j = t.join(s, "moy", "left")
    return j.select(
        "month",
        q6(F.col("rev_cents").cast("double") / 100).alias("revenue"),
        F.when(
            F.col("wn") == 12, q6(F.col("t12").cast("double") / 12 / 100)
        ).alias("trend"),
        F.when(
            F.col("dn") > 0, q6(F.col("ds").cast("double") / F.col("dn") / 12 / 100)
        ).alias("seasonal"),
        F.when(
            (F.col("wn") == 12) & (F.col("dn") > 0),
            q6(
                F.col("dev12").cast("double") / 12 / 100
                - F.col("ds").cast("double") / F.col("dn") / 12 / 100
            ),
        ).alias("residual"),
    )


def _price_elasticity_oracle() -> str:
    """Generated oracle for orders_price_elasticity: identical per-part
    aggregation, detmath ln on the exact unit-price ratio and on the
    exact quantity, q4 snaps, and the same HUGEINT→DOUBLE moment casts
    (Spark accumulates the q4 products in decimal(38,0) — both reach
    the slope formula as identically-rounded binary64)."""
    lnp = detmath.det_ln_pos_sql("u", "duckdb")
    lnq = detmath.det_ln_pos_sql("qd", "duckdb", assume_ge_1=True)
    return rf"""
    WITH pp AS (
      SELECT l_partkey,
             CAST(sum(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS q,
             CAST(sum(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS pc
      FROM lineitem GROUP BY l_partkey),
    uq AS (
      SELECT p.p_brand AS brand,
             CAST(pp.pc AS DOUBLE) / CAST(pp.q AS DOUBLE) AS u,
             CAST(pp.q AS DOUBLE) AS qd
      FROM pp JOIN part p ON p.p_partkey = pp.l_partkey
      WHERE pp.q > 0 AND pp.pc > 0),
    l AS (
      SELECT brand,
             CAST(FLOOR({lnp} * 1e4 + 0.5) AS BIGINT) AS lx,
             CAST(FLOOR({lnq} * 1e4 + 0.5) AS BIGINT) AS ly
      FROM uq),
    m AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS DOUBLE) AS sxy,
             CAST(sum(lx * lx) AS DOUBLE) AS sxx,
             CAST(sum(ly * ly) AS DOUBLE) AS syy
      FROM l GROUP BY brand)
    SELECT brand, n_parts,
           CASE WHEN n_parts >= 2
                 AND (CAST(n_parts AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
                THEN FLOOR((CAST(n_parts AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (CAST(n_parts AS DOUBLE) * sxx
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * 1e6 + 0.5) / 1e6 END AS elasticity_q6,
           CASE WHEN n_parts >= 2
                 AND (CAST(n_parts AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
                 AND (CAST(n_parts AS DOUBLE) * syy
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0
                THEN FLOOR(((CAST(n_parts AS DOUBLE) * sxy
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            * (CAST(n_parts AS DOUBLE) * sxy
                               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                           / ((CAST(n_parts AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n_parts AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6 END AS r2_q6
    FROM m
    """


@_register("orders_price_elasticity", _price_elasticity_oracle)
def orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per brand — the log-log regression
    slope of quantity on unit price across a brand's parts (the pricing
    team's first-cut demand curve): elasticity = d ln Q / d ln P.

    Determinism: per-part sold quantity and revenue cents are exact
    BIGINTs; the unit price is their double ratio (identical division
    both engines); both logs go through detmath ln and snap to a q4
    integer grid, so the regression moments are exact integers — the
    cross products accumulate in decimal(38,0) on the Spark side and
    HUGEINT on the DuckDB side, and BOTH convert once to binary64
    (correctly-rounded by spec) before the one fixed-order slope/R²
    tail.  Slope is invariant to the common q4 scaling of both axes.
    Scale: lineitem collapses per part in one hash agg, the part dim
    broadcasts, brands are a 25-row output.  No counterpart in the
    reference (no price analytics); extends its per-symbol daily stats
    posture to the demand side."""
    li = _td(spark, sf_dir, "lineitem")
    pt = _td(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pp = li.groupBy("l_partkey").agg(
        F.sum(half_up(F.col("l_quantity")).cast("long"))
        .cast("long")
        .alias("q"),
        F.sum(cents(F.col("l_extendedprice")))
        .cast("long")
        .alias("pc"),
    )
    uq = (
        pp.filter((F.col("q") > 0) & (F.col("pc") > 0))
        .join(F.broadcast(pt), pp.l_partkey == pt.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            (F.col("pc").cast("double") / F.col("q").cast("double")).alias("u"),
            F.col("q").cast("double").alias("qd"),
        )
    )
    l = uq.select(
        "brand",
        half_up(detmath.det_ln_pos("u") * 1e4).cast("long").alias("lx"),
        half_up(detmath.det_ln_pos("qd", assume_ge_1=True) * 1e4).cast("long")
        .alias("ly"),
    )
    m = l.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum((F.col("lx") * F.col("ly")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("ly") * F.col("ly")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
    )
    vx, vy, cov = _cov_terms("n_parts")
    return m.select(
        "brand",
        "n_parts",
        F.when(
            (F.col("n_parts") >= 2) & (vx > 0.0),
            q6(cov / vx),
        ).alias("elasticity_q6"),
        F.when(
            (F.col("n_parts") >= 2) & (vx > 0.0) & (vy > 0.0),
            q6((cov * cov) / (vx * vy)),
        ).alias("r2_q6"),
    )


def _link_prediction_oracle() -> str:
    """Generated oracle for part_link_prediction: same slice/orientation,
    detmath ln on the center degree (1e-9 inverse-log grid, exact sums),
    exact integer-division Jaccard."""
    ln = detmath.det_ln_pos_sql("degd", "duckdb", assume_ge_1=True)
    return rf"""
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey % 7 = 0 AND b.l_partkey % 7 = 0),
    adj AS (
      SELECT a AS c, b AS n FROM e0
      UNION ALL SELECT b AS c, a AS n FROM e0),
    deg AS (
      SELECT c AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY c),
    ct AS (
      SELECT d.node, CAST(d.deg AS DOUBLE) AS degd FROM deg d),
    cinv AS (
      SELECT node, CAST(FLOOR((1.0 / {ln}) * 1e9 + 0.5) AS BIGINT) AS t9
      FROM ct),
    wedges AS (
      SELECT a1.n AS x, a2.n AS y, a1.c AS c
      FROM adj a1 JOIN adj a2 ON a1.c = a2.c AND a1.n < a2.n),
    cand AS (
      SELECT w.x, w.y,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(ci.t9) AS BIGINT) AS aa9
      FROM wedges w JOIN cinv ci ON ci.node = w.c
      GROUP BY w.x, w.y),
    nonedge AS (
      SELECT cand.* FROM cand
      WHERE NOT EXISTS (SELECT 1 FROM e0
                        WHERE e0.a = cand.x AND e0.b = cand.y))
    SELECT n.x AS part_a, n.y AS part_b, n.common_neighbors,
           CAST((n.common_neighbors * 1000000)
                // (dx.deg + dy.deg - n.common_neighbors) AS BIGINT)
             AS jaccard_e6,
           CAST(n.aa9 AS DOUBLE) / 1e9 AS adamic_adar_q9
    FROM nonedge n
    JOIN deg dx ON dx.node = n.x
    JOIN deg dy ON dy.node = n.y
    """


@_register("part_link_prediction", _link_prediction_oracle)
def part_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph — the three classical
    neighborhood scores (Liben-Nowell & Kleinberg 2003) for every
    NON-adjacent part pair at distance 2: common-neighbor count,
    Jaccard overlap of neighborhoods, and Adamic-Adar (Σ 1/ln deg(c) —
    rare shared neighbors weigh more).  The "customers who bought these
    also bought..." candidate generator.

    Same %7 category slice and distinct-edge construction as the
    triangle/community queries (bounded by items-per-order).  Exactness:
    common-neighbor counts and degrees are exact BIGINTs; Jaccard is an
    exact integer division on the 1e6 grid; each center's 1/ln(deg)
    goes through detmath ln (deg ≥ 2 for any wedge center) and snaps to
    a 1e-9 integer grid so the Adamic-Adar SUM is exact.  Scale: wedge
    generation is the adjacency self-join keyed by center (the O(m·d̄)
    market-basket shape), candidates anti-join the edge set, degrees
    broadcast.  No counterpart in the reference."""
    li = _td(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 7 == 0)
    a, b = li.alias("a"), li.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
        .distinct()
        .localCheckpoint()  # feeds adjacency, the anti-join, and degrees
    )
    adj = e0.select(F.col("a").alias("c"), F.col("b").alias("n")).unionByName(
        e0.select(F.col("b").alias("c"), F.col("a").alias("n"))
    )
    deg = adj.groupBy(F.col("c").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    ).localCheckpoint()  # feeds the inverse-log weights and both ends
    cinv = deg.select(
        "node", F.col("deg").cast("double").alias("degd")
    ).select(
        "node",
        half_up((F.lit(1.0) / detmath.det_ln_pos("degd", assume_ge_1=True)) * 1e9)
        .cast("long")
        .alias("t9"),
    )
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    wedges = a1.join(
        a2,
        (F.col("a1.c") == F.col("a2.c")) & (F.col("a1.n") < F.col("a2.n")),
    ).select(
        F.col("a1.n").alias("x"), F.col("a2.n").alias("y"), F.col("a1.c").alias("c")
    )
    cand = (
        wedges.join(cinv, wedges.c == cinv.node)
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum("t9").cast("long").alias("aa9"),
        )
    )
    nonedge = cand.join(
        e0, (cand.x == e0.a) & (cand.y == e0.b), "left_anti"
    )
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("dy"))
    return (
        nonedge.join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            "common_neighbors",
            F.expr(
                "cast((common_neighbors * 1000000)"
                " div (dx + dy - common_neighbors) as bigint)"
            ).alias("jaccard_e6"),
            (F.col("aa9").cast("double") / 1e9).alias("adamic_adar_q9"),
        )
    )


@_register(
    "orders_price_index",
    r"""
    WITH g AS (
      SELECT CAST(date_part('year', l_shipdate) AS BIGINT) AS yr,
             l_partkey AS part,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sp,
             CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sq
      FROM lineitem GROUP BY yr, part),
    p AS (
      SELECT yr, part, sq,
             CAST(FLOOR(CAST(sp AS DOUBLE) / CAST(sq AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS p6
      FROM g WHERE sq > 0),
    b AS (SELECT MIN(yr) AS byr FROM p),
    base AS (
      SELECT p.part, p.p6 AS p6_b, p.sq AS sq_b
      FROM p CROSS JOIN b WHERE p.yr = b.byr),
    j AS (
      SELECT p.yr, p.p6, p.sq, base.p6_b, base.sq_b
      FROM p JOIN base USING (part)),
    s AS (
      SELECT yr, CAST(count(*) AS BIGINT) AS n_parts,
             SUM(CAST(p6 AS HUGEINT) * sq_b) AS l_num,
             SUM(CAST(p6_b AS HUGEINT) * sq_b) AS l_den,
             SUM(CAST(p6 AS HUGEINT) * sq) AS p_num,
             SUM(CAST(p6_b AS HUGEINT) * sq) AS p_den
      FROM j GROUP BY yr),
    f AS (
      SELECT yr, n_parts,
             CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE) AS lsp,
             CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE) AS psh
      FROM s WHERE l_den > 0 AND p_den > 0)
    SELECT yr, n_parts,
           FLOOR(lsp * 1e6 + 0.5) / 1e6 AS laspeyres_q6,
           FLOOR(psh * 1e6 + 0.5) / 1e6 AS paasche_q6,
           FLOOR(sqrt(lsp * psh) * 1e6 + 0.5) / 1e6 AS fisher_q6
    FROM f
    """,
)
def orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher-ideal price indices per ship year
    against the first observed year — index-number theory's standard
    triple for separating price inflation from volume/mix shift in a
    commerce fact table (the Fisher index is the geometric mean that
    satisfies the time-reversal test; every BI 'price vs volume'
    decomposition is one of these in disguise). Per (year, part) unit
    values weight the base-year (Laspeyres) or current-year (Paasche)
    quantity baskets; only parts present in BOTH years enter (matched
    sample, documented — n_parts reports the basket size).

    Exactness: revenue/quantity sums are exact BIGINT cent/centi-unit
    grids; the per-(year, part) unit value is ONE double division
    snapped to a 1e-6 integer grid; all four basket aggregates are
    decimal/HUGEINT sums of integer products (operands cast before the
    multiply); each index is one fixed-order double ratio snapped to
    q6. Scale: one lineitem pass to the (year, part) grain, a
    base-year broadcast-shaped join on part, one roll-up per year.
    No counterpart in the reference."""
    li = _td(spark, sf_dir, "lineitem")
    g = (
        li.groupBy(
            F.year("l_shipdate").cast("long").alias("yr"),
            F.col("l_partkey").alias("part"),
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice")))
            .cast("long")
            .alias("sp"),
            F.sum(cents(F.col("l_quantity")))
            .cast("long")
            .alias("sq"),
        )
        .filter(F.col("sq") > 0)
        .select(
            "yr",
            "part",
            "sq",
            half_up(F.col("sp").cast("double") / F.col("sq").cast("double") * 1e6)
            .cast("long")
            .alias("p6"),
        )
        .localCheckpoint()  # (year, part) grain feeds base + current sides
    )
    byr = g.agg(F.min("yr").alias("byr"))
    base = (
        g.crossJoin(F.broadcast(byr))
        .filter(F.col("yr") == F.col("byr"))
        .select(
            "part", F.col("p6").alias("p6_b"), F.col("sq").alias("sq_b")
        )
    )
    j = g.join(base, "part")
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    s = j.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(d19(F.col("p6")) * d19(F.col("sq_b"))).alias("l_num"),
        F.sum(d19(F.col("p6_b")) * d19(F.col("sq_b"))).alias("l_den"),
        F.sum(d19(F.col("p6")) * d19(F.col("sq"))).alias("p_num"),
        F.sum(d19(F.col("p6_b")) * d19(F.col("sq"))).alias("p_den"),
    )
    lsp = F.col("l_num").cast("double") / F.col("l_den").cast("double")
    psh = F.col("p_num").cast("double") / F.col("p_den").cast("double")

    return s.filter((F.col("l_den") > 0) & (F.col("p_den") > 0)).select(
        "yr",
        "n_parts",
        q6(lsp).alias("laspeyres_q6"),
        q6(psh).alias("paasche_q6"),
        q6(F.sqrt(lsp * psh)).alias("fisher_q6"),
    )


def _theil_oracle() -> str:
    ln_rt = detmath.det_ln_pos_sql("rt", "duckdb")
    ln_rw = detmath.det_ln_pos_sql("rw", "duckdb")
    ln_rb = detmath.det_ln_pos_sql("rb", "duckdb")
    return rf"""
    WITH cu AS (
      SELECT o_custkey AS ck,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1),
    cg AS (
      SELECT cu.x, n.n_name AS grp
      FROM cu JOIN customer c ON c.c_custkey = cu.ck
              JOIN nation n ON n.n_nationkey = c.c_nationkey),
    g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
                 CAST(SUM(x) AS BIGINT) AS x_g
          FROM cg GROUP BY grp),
    tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                   CAST(SUM(x_g) AS BIGINT) AS x_tot FROM g),
    pc AS (
      SELECT cg.x, tot.x_tot,
             CAST(cg.x AS DOUBLE) * CAST(tot.n AS DOUBLE)
               / CAST(tot.x_tot AS DOUBLE) AS rt,
             CAST(cg.x AS DOUBLE) * CAST(g.n_g AS DOUBLE)
               / CAST(g.x_g AS DOUBLE) AS rw
      FROM cg JOIN g USING (grp) CROSS JOIN tot),
    pt AS (
      SELECT CAST(FLOOR((CAST(x AS DOUBLE) / CAST(x_tot AS DOUBLE))
                        * ({ln_rt}) * 1e12 + 0.5) AS HUGEINT) AS t12,
             CAST(FLOOR((CAST(x AS DOUBLE) / CAST(x_tot AS DOUBLE))
                        * ({ln_rw}) * 1e12 + 0.5) AS HUGEINT) AS w12
      FROM pc),
    sums AS (SELECT SUM(t12) AS st12, SUM(w12) AS sw12 FROM pt),
    gb AS (
      SELECT g.x_g, tot.x_tot,
             (CAST(g.x_g AS DOUBLE) * CAST(tot.n AS DOUBLE))
               / (CAST(tot.x_tot AS DOUBLE) * CAST(g.n_g AS DOUBLE)) AS rb
      FROM g CROSS JOIN tot),
    bt AS (
      SELECT CAST(FLOOR((CAST(x_g AS DOUBLE) / CAST(x_tot AS DOUBLE))
                        * ({ln_rb}) * 1e12 + 0.5) AS HUGEINT) AS b12,
             1 AS one
      FROM gb),
    bsum AS (SELECT SUM(b12) AS sb12, CAST(SUM(one) AS BIGINT) AS k FROM bt)
    SELECT tot.n AS n_customers, bsum.k AS n_groups,
           FLOOR(CAST(sums.st12 AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6
             AS theil_total_q6,
           FLOOR(CAST(bsum.sb12 AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6
             AS theil_between_q6,
           FLOOR(CAST(sums.sw12 AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6
             AS theil_within_q6
    FROM tot CROSS JOIN sums CROSS JOIN bsum
    """


@_register("orders_theil_index", _theil_oracle)
def orders_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer spend with the classical
    between/within-nation decomposition — the concentration lens
    orders_concentration_hhi (market shares) and orders_abc_pareto
    (cumulative curve) don't give: T = (1/n)Σ(x/μ)ln(x/μ) is the only
    standard inequality measure that decomposes ADDITIVELY into
    between-group and within-group components (T ≈ T_B + T_W), so a
    revenue team can say how much spend inequality lives across
    nations vs inside them.

    Exactness: customer spend is exact cents (BIGINT); each log ratio
    is detmath's bit-identical ln over ONE fixed-order double ratio of
    exact integers (x·n/X — products before the division, replicated
    verbatim in SQL); per-customer terms snap to the 1e-12 grid and
    sum as decimal(38,0) (order-free); the three emitted indices are
    independent fixed-order tails snapped q6 (the decomposition
    identity holds to grid precision, deliberately NOT forced).
    Scale: one orders hash agg to the customer grain, one equi-join to
    customer (shuffle on custkey), broadcast nation, then a 25-row
    group frame and two one-row roll-ups; the per-customer ln chain is
    whole-stage codegen, zero extra shuffles.
    No counterpart in the reference."""
    o = _td(spark, sf_dir, "orders")
    c = _td(spark, sf_dir, "customer")
    nat = _td(spark, sf_dir, "nation")
    cu = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(cents(F.col("o_totalprice")))
        .cast("long")
        .alias("x")
    )
    cg = (
        cu.join(c, cu.ck == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .select("x", F.col("n_name").alias("grp"))
        .localCheckpoint()  # feeds the group frame AND the per-customer pass
    )
    g = (
        cg.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("x").cast("long").alias("x_g"),
        )
        .localCheckpoint()  # 25-row frame feeding tot, pc and gb — pin it
        # so the customer-grain agg runs once, not per branch
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("x_g").cast("long").alias("x_tot"),
    )
    xd = F.col("x").cast("double")
    pc = (
        cg.join(F.broadcast(g), "grp")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "x_tot",
            (xd * F.col("n").cast("double") / F.col("x_tot").cast("double")).alias(
                "rt"
            ),
            (xd * F.col("n_g").cast("double") / F.col("x_g").cast("double")).alias(
                "rw"
            ),
        )
        .withColumn("__lt", detmath.det_ln_pos("rt"))
        .withColumn("__lw", detmath.det_ln_pos("rw"))
    )
    share = F.col("x").cast("double") / F.col("x_tot").cast("double")
    pt = pc.select(
        half_up(share * F.col("__lt") * 1e12).cast("decimal(38,0)").alias("t12"),
        half_up(share * F.col("__lw") * 1e12).cast("decimal(38,0)").alias("w12"),
    )
    sums = pt.agg(F.sum("t12").alias("st12"), F.sum("w12").alias("sw12"))
    gb = (
        g.crossJoin(F.broadcast(tot))
        .select(
            "x_g",
            "x_tot",
            (
                (F.col("x_g").cast("double") * F.col("n").cast("double"))
                / (F.col("x_tot").cast("double") * F.col("n_g").cast("double"))
            ).alias("rb"),
        )
        .withColumn("__lb", detmath.det_ln_pos("rb"))
    )
    gshare = F.col("x_g").cast("double") / F.col("x_tot").cast("double")
    bsum = gb.select(
        half_up(gshare * F.col("__lb") * 1e12).cast("decimal(38,0)").alias("b12"),
        F.lit(1).alias("one"),
    ).agg(F.sum("b12").alias("sb12"), F.sum("one").cast("long").alias("k"))
    q6_e12 = lambda col: q6(col.cast("double") / F.lit(1e12))  # noqa: E731
    return (
        tot.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(bsum))
        .select(
            F.col("n").alias("n_customers"),
            F.col("k").alias("n_groups"),
            q6_e12(F.col("st12")).alias("theil_total_q6"),
            q6_e12(F.col("sb12")).alias("theil_between_q6"),
            q6_e12(F.col("sw12")).alias("theil_within_q6"),
        )
    )


@_register(
    "orders_skyline",
    r"""
    WITH o AS (
      SELECT o_orderkey, o_totalprice, o_orderdate,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS pc,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS dd
      FROM orders),
    g AS (SELECT pc, CAST(MAX(dd) AS BIGINT) AS gmax FROM o GROUP BY pc),
    e AS (
      SELECT pc, gmax,
             MAX(gmax) OVER (ORDER BY pc DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS exc
      FROM g)
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM o JOIN e USING (pc)
    WHERE o.dd = e.gmax AND (e.exc IS NULL OR e.exc < o.dd)
    """,
)
def orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query over orders maximizing BOTH
    total price and recency — the multi-criteria 'best offers' operator
    (Börzsönyi et al. 2001) relational engines ship as SKYLINE OF: an
    order survives iff no other order is at least as good on both
    criteria and strictly better on one. The classical sort-scan
    insight makes it one pass: an order is on the frontier iff its
    date strictly beats the best date among all STRICTLY
    higher-priced orders and nothing at its own price is more recent.

    Exactness: both criteria live on integer grids (price cents, epoch
    days), so dominance comparisons are exact; the scan rides
    stats.global_cummax (range-partitioned running max, the max-monoid
    global_cumsum — never a single-partition window) in its EXCLUSIVE
    form over the distinct-price grain, then one equi-join back to
    orders on the price key. Scale: one hash agg to the price
    histogram, one range exchange over distinct prices, one equi-join
    back — the frontier test itself is per-row codegen.
    No counterpart in the reference."""
    o = _td(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        cents(F.col("o_totalprice")).alias("pc"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("dd"),
    )
    g = o.groupBy("pc").agg(F.max("dd").cast("long").alias("gmax"))
    e = stats.global_cummax(
        g, order_cols=[F.col("pc").desc()], value_col="gmax", exclusive=True
    ).withColumnRenamed("cummax_gmax", "exc")
    return (
        o.join(e, "pc")
        .filter(
            (F.col("dd") == F.col("gmax"))
            & (F.col("exc").isNull() | (F.col("exc") < F.col("dd")))
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )
