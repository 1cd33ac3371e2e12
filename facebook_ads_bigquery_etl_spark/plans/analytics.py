"""Relational analytics query library (SURVEY §2.3-2.6 obligations).

The reference engine runs exactly one (API-delegated) aggregation
(reference main.py:176-181) and zero joins/windows/sorts in code — but
its data model exists to *enable* this analytics layer downstream
(day-partitioned spend ⋈ fx-by-date, campaign rollups: reference
main.py:16-42, README.md:18-20). These queries are the capability
surface, expressed Spark-first over the driver's TPC-H-ish warehouse.

Scale notes are per-query docstrings; the common pattern: aggregations
are hash-aggregates with map-side partials; dimension joins broadcast;
fact-fact joins shuffle on the join key with AQE handling skew; window
queries over *aggregated* (bounded) inputs may use a global window —
the input is already reduced to ~thousands of rows.

ROUND convention (r12-r13 ROUND-tie triage): per-row rounds over
bit-identical deriveds go through the decimal-string twin
(integrity.round_double_sql, generated sites). ROUND over double
AGGREGATES (class b) stays native by decision - the dominant
cross-engine term is addition-order ulp drift in the aggregate, which
rounding cannot close; DECIMAL sums are used where order-dependence
amplifies the risk (global cumsums, incremental cents). Per-family
rationale: scripts/round_sites_classified.json `r13_class_b_decisions`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators import casting as cst
from ..operators import materialize
from ..operators.asof import asof_join
from ..operators.exprs import knuth_bucket
from ..operators.rank import with_global_ntile
from ..operators.bloom import bloom_pruned_join, ensure_runtime_bloom
from ..operators.topk import top_k_per_group
from .registry import load_tables, register
from ..operators.integrity import round_double_sql


# --------------------------------------------------------------------------
# Aggregations (A1/A2-style: groupBy + multi-agg)
# --------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 6)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                                   AS avg_price,
           ROUND(AVG(l_discount), 6)                                        AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + 2-key hash aggregate, 8 measures.

    Scale: filter and the 7-column projection push into the parquet
    scan; partial aggregation runs map-side, so the shuffle carries
    only (#groups × #partitions) rows. Output is 6 rows at any SF.
    """
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    oracle="""
    SELECT n_name AS nation,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join, mixed fact-fact + dimension joins.

    Scale: nation/region/supplier are broadcast (dims); customer ⋈
    orders ⋈ lineitem shuffle on their keys. Catalyst reorders; AQE
    converts to broadcast at runtime if a side turns out small.
    """
    t = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "brand_revenue",
    oracle="""
    SELECT p_brand,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(SUM(l_quantity), 2)                          AS sum_qty,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT)          AS n_parts
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ small dim: explicitly broadcast `part` — the build side
    ships to every executor, no shuffle of the 100-TB fact side."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


@register(
    "rollup_returns",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2)     AS sum_qty,
           CAST(COUNT(*) AS BIGINT)      AS n_rows
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    -- HAVING COUNT(*) > 0: encode Spark's empty-input semantics —
    -- Spark's Expand+aggregate emits NO grouping-set rows (not even
    -- the grand total) over an empty relation, while ANSI emits the
    -- () row; no-op on non-empty input (r10 empty sweep)
    HAVING COUNT(*) > 0
    """,
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (A2 capability: campaign→adset-style rollups
    on the reference's clustered columns, reference main.py:42)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


@register(
    "cube_events",
    oracle="""
    SELECT COALESCE(event_type, 'ALL')                        AS event_type,
           COALESCE(CAST(date_part('day', ts) AS INTEGER), -1) AS day_of_month,
           CAST(COUNT(*) AS BIGINT)                            AS n_events,
           ROUND(SUM(value), 2)                                AS total_value
    FROM events
    GROUP BY CUBE(event_type, CAST(date_part('day', ts) AS INTEGER))
    -- HAVING COUNT(*) > 0: encode Spark's empty-input semantics —
    -- Spark's Expand+aggregate emits NO grouping-set rows (not even
    -- the grand total) over an empty relation, while ANSI emits the
    -- () row; no-op on non-empty input (r10 empty sweep)
    HAVING COUNT(*) > 0
    """,
)
def cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-month): all grouping-set rollups
    in one pass (Spark expands to a union of grouping sets internally,
    still map-side partial aggregated)."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    return (
        ev.withColumn("dom", F.dayofmonth("ts"))
        .cube("event_type", "dom")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("dom", F.lit(-1)).alias("day_of_month"),
            "n_events",
            "total_value",
        )
    )


@register(
    "distinct_counts",
    oracle="""
    SELECT CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT)  AS n_nations,
           CAST(COUNT(*) AS BIGINT)                     AS n_customers
    FROM customer
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase hash agg)."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    return c.agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count("*").alias("n_customers"),
    )


@register(
    "approx_distinct_orders",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_partkey)  AS BIGINT) AS exact_parts,
           TRUE AS orders_within_5pct,
           TRUE AS parts_within_5pct
    FROM lineitem
    """,
)
def approx_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct — THE 100-TB idiom for cardinality (one
    pass, bounded sketch memory, no expand).

    Sketch estimates are engine-specific, so the driver check uses the
    accuracy-bound pattern: Spark emits its own exact distinct counts
    plus booleans asserting the HLL estimate lands within 5% (2.5× the
    configured rsd); DuckDB recomputes the exact counts and emits TRUE.
    A hash match therefore proves both the exact counts AND the sketch
    accuracy. The exact side exists for the gate only — the production
    path at 100 TB is the sketch alone (see tests/test_operators.py
    for the rsd assertion)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # sketches and exact distincts in SEPARATE aggregates: sharing one
    # agg puts the HLL buffers inside every (gid, value) group of the
    # multi-distinct Expand rewrite — per-group kilobytes across every
    # distinct value (see operators/profile.py for the arithmetic)
    sketch = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("a_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("a_parts"),
    )
    agg = li.agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    ).crossJoin(sketch)
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) <= 0.05 * F.col(e)
    )
    return agg.select(
        "exact_orders",
        "exact_parts",
        within("a_orders", "exact_orders").alias("orders_within_5pct"),
        within("a_parts", "exact_parts").alias("parts_within_5pct"),
    )


@register(
    "conditional_margins",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_discount > 0.06 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2) AS hi_disc_revenue,
           CAST(COUNT(CASE WHEN l_discount > 0.06 THEN 1 END) AS BIGINT)                                   AS hi_disc_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                                               AS total_revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def conditional_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (CASE WHEN inside SUM/COUNT)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    hi = F.col("l_discount") > 0.06
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(hi, rev).otherwise(0.0)), 2).alias("hi_disc_revenue"),
        F.count(F.when(hi, 1)).alias("hi_disc_lines"),
        F.round(F.sum(rev), 2).alias("total_revenue"),
    )


# --------------------------------------------------------------------------
# Joins (equi / broadcast / semi / anti) — SURVEY §2.3
# --------------------------------------------------------------------------

@register(
    "order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (TPC-H Q4 shape). Semi join ships only
    the join key; no payload duplication, no row multiplication."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    o, li = t["orders"], t["lineitem"]
    filtered = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS")
    )
    return (
        filtered.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate <  TIMESTAMP '1997-01-01')
    GROUP BY c_mktsegment
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    o96 = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        t["customer"]
        .join(o96, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "top_customers",
    oracle="""
    SELECT c_custkey, c_name, revenue FROM (
      SELECT c_custkey, c_name,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name
    ) ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape + global top-k. ORDER BY ... LIMIT k compiles
    to TakeOrderedAndProject — each partition keeps k rows, driver
    merges k·p rows, never a full global sort. Ordered by the ROUNDED
    measure + unique key so the selected set is engine-stable."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_returnflag") == "R")
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Window functions — SURVEY §2.5
# --------------------------------------------------------------------------

@register(
    "daily_revenue_dod",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    )
    SELECT order_date,
           ROUND(rev, 2) AS revenue,
           ROUND(rev - COALESCE(LAG(rev) OVER (ORDER BY order_date), 0.0), 2) AS dod_delta
    FROM daily
    """,
)
def daily_revenue_dod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day delta via LAG — the canonical query on the
    reference's day-partitioned spend table (SURVEY §2.5).

    Scale: the window runs over the *aggregated* daily series (#days
    rows — bounded regardless of fact size), so the single-partition
    global window is safe; the heavy lifting is the distributed
    pre-aggregation."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    daily = o.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    w = W.orderBy("order_date")
    return daily.select(
        "order_date",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") - F.coalesce(F.lag("rev").over(w), F.lit(0.0)), 2).alias("dod_delta"),
    )


@register(
    "rolling_7d_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    )
    SELECT order_date,
           ROUND(rev, 2) AS revenue,
           ROUND(SUM(rev) OVER (
             ORDER BY date_diff('day', DATE '1970-01-01', order_date)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS revenue_7d
    FROM daily
    """,
)
def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day revenue via RANGE frame keyed on day number —
    calendar-correct across gaps (a ROWS frame would be wrong)."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    daily = o.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    day_no = F.datediff(F.col("order_date"), F.lit("1970-01-01").cast("date"))
    w = W.orderBy(day_no).rangeBetween(-6, 0)
    return daily.select(
        "order_date",
        F.round("rev", 2).alias("revenue"),
        F.round(F.sum("rev").over(w), 2).alias("revenue_7d"),
    )


@register(
    "top3_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, revenue, rank FROM (
      SELECT p_brand, p_partkey, revenue,
             CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS INTEGER) AS rank
      FROM (
        SELECT p_brand, p_partkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey
      )
    ) WHERE rank <= 3
    """,
)
def top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: rank-filter windows get a WindowGroupLimit
    pushdown in Spark (per-partition top-k below the shuffle), so the
    full per-group sort never materializes."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    per_part = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return top_k_per_group(
        per_part, ["p_brand"], [F.desc("revenue"), F.asc("p_partkey")], 3
    ).select("p_brand", "p_partkey", "revenue", "rank")


@register(
    "user_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                       > CAST(6 AS BIGINT) * 3600 * 1000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT)                   AS n_events
    FROM s GROUP BY user_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: LAG gap-detect + running SUM session ids —
    one shuffle on user_id, then two within-partition window passes."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 6 * 3600 * 1_000_000), 1).otherwise(0),
    )
    s = g.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return s.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


# --------------------------------------------------------------------------
# As-of join (custom operator — Spark lacks a native one)
# --------------------------------------------------------------------------

@register(
    "asof_last_purchase",
    oracle=f"""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch_all AS (
      SELECT event_id AS purchase_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    -- native ASOF picks ARBITRARILY among right rows tied on
    -- (user_id, ts); the Spark operator picks the max right_values
    -- tuple — pre-reduce to one WHOLE row per (user_id, ts) with the
    -- SAME total order so both engines pick the same physical row
    -- (r13 operator review; value rides along, never mixed across
    -- rows). value joins the sort because an at-least-once replay can
    -- carry the same purchase_id twice with drifted payloads
    -- (duplicates sweep): DESC NULLS LAST = Spark's max-struct order.
    purch AS (
      SELECT purchase_id, user_id, ts, value FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id, ts
          ORDER BY purchase_id DESC, value DESC NULLS LAST
        ) AS rn FROM purch_all
      ) WHERE rn = 1
    )
    SELECT c.event_id                           AS click_id,
           c.user_id,
           COALESCE(p.purchase_id, -1)          AS purchase_id,
           -- raw per-row value, bit-identical: decimal-string round
           -- (r13 class-a conversion, integrity.round_double_sql)
           {round_double_sql("COALESCE(p.value, 0.0)", 2)}     AS purchase_value
    FROM clicks c
    ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: for every click, the same user's most
    recent purchase at-or-before it. Uses the union+window as-of
    operator (operators/asof.py) — one shuffle on user_id, same cost
    class as an equi-join; DuckDB's native ASOF JOIN is the oracle."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts", "value"
    )
    joined = asof_join(
        clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
        right_values=["purchase_id", "value"], how="left",
    )
    return joined.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
        F.round(F.coalesce("value", F.lit(0.0)), 2).alias("purchase_value"),
    )


# --------------------------------------------------------------------------
# Set operations — SURVEY §2.5
# --------------------------------------------------------------------------

_Y96 = "o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'"
_Y98 = "o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'"


def _year_custkeys(spark: SparkSession, sf_dir: str, lo: str, hi: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return o.filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))


@register(
    "repeat_customers",
    oracle=f"""
    SELECT o_custkey AS custkey FROM orders WHERE {_Y96}
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE {_Y98}
    """,
)
def repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers active in both 1996 and 1998."""
    a = _year_custkeys(spark, sf_dir, "1996-01-01", "1997-01-01")
    b = _year_custkeys(spark, sf_dir, "1998-01-01", "1999-01-01")
    return a.intersect(b)


@register(
    "churned_customers",
    oracle=f"""
    SELECT o_custkey AS custkey FROM orders WHERE {_Y96}
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE {_Y98}
    """,
)
def churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): active in 1996, gone by 1998."""
    a = _year_custkeys(spark, sf_dir, "1996-01-01", "1997-01-01")
    b = _year_custkeys(spark, sf_dir, "1998-01-01", "1999-01-01")
    return a.subtract(b)


@register(
    "order_size_tiers",
    oracle="""
    SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM (
      SELECT 'large' AS tier, o_totalprice FROM orders WHERE o_totalprice >= 300000
      UNION ALL
      SELECT 'small' AS tier, o_totalprice FROM orders WHERE o_totalprice < 300000
    ) GROUP BY tier
    """,
)
def order_size_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of tagged branches + re-aggregate (unionByName)."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    large = o.filter(F.col("o_totalprice") >= 300000).select(
        F.lit("large").alias("tier"), "o_totalprice"
    )
    small = o.filter(F.col("o_totalprice") < 300000).select(
        F.lit("small").alias("tier"), "o_totalprice"
    )
    return (
        large.unionByName(small)
        .groupBy("tier")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# --------------------------------------------------------------------------
# Scalar-function surface: dates, strings, JSON, pivot — SURVEY §2.6
# --------------------------------------------------------------------------

@register(
    "events_by_day",
    oracle="""
    SELECT CAST(ts AS DATE)                       AS event_date,
           CAST(COUNT(*) AS BIGINT)               AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(SUM(value), 2)                   AS total_value
    FROM events GROUP BY 1
    """,
)
def events_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily grain — the reference's `time_increment=1` semantics
    (reference main.py:180) as a date_trunc group-by."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    return ev.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "orders_by_month",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(COUNT(*) AS BIGINT)                        AS n_orders,
           ROUND(SUM(o_totalprice), 2)                     AS revenue
    FROM orders GROUP BY 1
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month truncation (F.trunc) — date-function surface (F1/F2,
    reference main.py:100-102,136)."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return o.groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("order_month")).agg(
        F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )


@register(
    "part_type_tokens",
    oracle="""
    SELECT UPPER(string_split(p_type, ' ')[1]) AS type_head,
           CAST(COUNT(*) AS BIGINT)            AS n_parts,
           ROUND(AVG(p_retailprice), 6)        AS avg_price,
           ROUND(AVG(p_size), 6)               AS avg_size
    FROM part GROUP BY 1
    """,
)
def part_type_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions (split/upper — F3/F4 surface)."""
    p = load_tables(spark, sf_dir, "part")["part"]
    return p.groupBy(
        F.upper(F.split("p_type", " ").getItem(0)).alias("type_head")
    ).agg(
        F.count("*").alias("n_parts"),
        F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
        F.round(F.avg("p_size"), 6).alias("avg_size"),
    )


@register(
    "events_json_stats",
    oracle="""
    -- malformed/empty JSON yields NULL fields, never an abort: that is
    -- get_json_object's (and BigQuery's) contract, and at 100 TB a
    -- truncated props blob is routine — the oracle gates extraction on
    -- json_valid to match (r11 extremes sweep)
    WITH ev AS (
      SELECT event_type,
             CASE WHEN json_valid(props)
                  THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
             END AS k
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)      AS n_events,
           ROUND(AVG(k), 6)              AS avg_k,
           CAST(MIN(k) AS BIGINT)        AS min_k,
           CAST(MAX(k) AS BIGINT)        AS max_k
    FROM ev GROUP BY event_type
    """,
)
def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (F6, reference main.py:132,138: nested JSON key
    access) over the events.props JSON column."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "event_type_pivot",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (explicit list ⇒ single pass,
    no driver-side distinct-values pre-query — the scale-safe form)."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    piv = (
        ev.groupBy(F.to_date("ts").alias("event_date"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return piv.select(
        "event_date", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in _EVENT_TYPES]
    )


# --------------------------------------------------------------------------
# §2.5 completions: set operations, ntile, percentiles, grouping sets,
# and a bounded interval self-join — the window/set-op obligations the
# reference's day-partitioned model implies but never runs itself.
# --------------------------------------------------------------------------


@register(
    "nation_footprint_setops",
    oracle="""
    WITH c AS (SELECT DISTINCT n.n_name FROM customer
               JOIN nation n ON c_nationkey = n_nationkey WHERE c_acctbal > 9000),
         s AS (SELECT DISTINCT n.n_name FROM supplier
               JOIN nation n ON s_nationkey = n_nationkey WHERE s_acctbal > 9000)
    SELECT n_name, 'both' AS segment FROM (SELECT * FROM c INTERSECT SELECT * FROM s)
    UNION ALL
    SELECT n_name, 'customers_only' AS segment FROM (SELECT * FROM c EXCEPT SELECT * FROM s)
    UNION ALL
    SELECT n_name, 'suppliers_only' AS segment FROM (SELECT * FROM s EXCEPT SELECT * FROM c)
    """,
)
def nation_footprint_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one query: nations with
    high-balance customers vs high-balance suppliers. Set ops hash on
    the (tiny) distinct nation names — shuffle is O(25) regardless of
    fact size; the heavy side is the pushed-down balance filter scan."""
    t = load_tables(spark, sf_dir, "customer", "supplier", "nation")
    c = (
        t["customer"].filter(F.col("c_acctbal") > 9000)
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name").distinct()
    )
    s = (
        t["supplier"].filter(F.col("s_acctbal") > 9000)
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name").distinct()
    )
    return (
        c.intersect(s).withColumn("segment", F.lit("both"))
        .unionByName(c.exceptAll(s).withColumn("segment", F.lit("customers_only")))
        .unionByName(s.exceptAll(c).withColumn("segment", F.lit("suppliers_only")))
    )


@register(
    "order_value_quartiles",
    oracle="""
    WITH t AS (
      SELECT o_totalprice,
             NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT quartile,
           CAST(COUNT(*) AS BIGINT)       AS n_orders,
           ROUND(MIN(o_totalprice), 2)    AS min_price,
           ROUND(MAX(o_totalprice), 2)    AS max_price,
           ROUND(SUM(o_totalprice), 2)    AS total_price
    FROM t GROUP BY quartile
    """,
)
def order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles over order value (orderkey tie-break ⇒ total
    order ⇒ identical tiles across engines). Scale: the registered
    form uses operators/rank.py:with_global_ntile — range-bucketed
    exact global rank, so the corpus-sized sort runs as many parallel
    per-bucket windows and the plan never contains an ``Exchange
    SinglePartition`` (the committed plan IS the 100 TB plan;
    equality to ``F.ntile`` is pinned in tests/test_operators.py). NULL semantics: quartiles of
    order VALUE are defined over PRICED orders — a NULL price has no
    rank position, and Spark (NULLS FIRST) and ANSI engines (NULLS
    LAST) disagree on where to park it, so both sides filter it out
    of the rank input (r11 nulls sweep)."""
    o = load_tables(spark, sf_dir, "orders")["orders"].filter(
        F.col("o_totalprice").isNotNull()
    )
    t = with_global_ntile(
        o,
        "o_totalprice",
        ["o_orderkey"],
        4,
        out_col="quartile",
    )
    return t.groupBy("quartile").agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "price_percentiles",
    oracle="""
    -- a non-finite price is not a measurement: NaN/Inf have no place
    -- on a quantile interpolation (the two engines order and
    -- interpolate them differently) — NULLed at input on both sides,
    -- quantiles ignore NULL (r11 extremes sweep)
    WITH o_fin AS (
      SELECT * REPLACE (CASE WHEN isfinite(o_totalprice)
                             THEN o_totalprice END AS o_totalprice)
      FROM orders
    )
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(o_totalprice, 0.90), 4) AS p90
    FROM o_fin GROUP BY o_orderpriority
    """,
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per priority class (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``: linear interpolation).
    The exact form sorts each group's values; at 100 TB swap in
    ``percentile_approx`` (t-digest sketch, mergeable map-side) —
    registered separately as approx_distinct-style rows-only.
    Non-finite prices are NULLed at input (r11 extremes sweep)."""
    o = load_tables(spark, sf_dir, "orders")["orders"].withColumn(
        "o_totalprice", cst.finite_or_null(F.col("o_totalprice"))
    )
    pct = F.percentile("o_totalprice", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.9)]))
    return o.groupBy("o_orderpriority").agg(
        F.round(pct[0], 4).alias("p25"),
        F.round(pct[1], 4).alias("p50"),
        F.round(pct[2], 4).alias("p75"),
        F.round(pct[3], 4).alias("p90"),
    )


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT COALESCE(r_name, '(all)')  AS region,
           COALESCE(n_name, '(all)')  AS nation,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT)    AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    -- HAVING COUNT(*) > 0: encode Spark's empty-input semantics —
    -- Spark's Expand+aggregate emits NO grouping-set rows (not even
    -- the grand total) over an empty relation, while ANSI emits the
    -- () row; no-op on non-empty input (r10 empty sweep)
    HAVING COUNT(*) > 0
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (finer than rollup/cube: exactly the three listed
    grains). Catalyst expands to a single Expand+hash-agg — one pass
    over the joined input, no per-grain rescan."""
    load_tables(spark, sf_dir, "orders", "customer", "nation", "region")
    return spark.sql(
        """
        SELECT COALESCE(r_name, '(all)')  AS region,
               COALESCE(n_name, '(all)')  AS nation,
               ROUND(SUM(o_totalprice), 2) AS revenue,
               COUNT(*)                    AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """
    )


@register(
    "price_percentiles_approx",
    oracle="""
    -- a NULL priority is not a class: the engine's join-on-group-key
    -- shape inherently drops the NULL key (SQL equality), so both
    -- sides filter it explicitly (r11 nulls sweep)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS p25_rank_ok, TRUE AS p50_rank_ok,
           TRUE AS p75_rank_ok, TRUE AS p90_rank_ok
    FROM orders WHERE o_orderpriority IS NOT NULL
    GROUP BY o_orderpriority
    """,
)
def price_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx sketch: the 100-TB percentile path — the
    sketch is mergeable map-side, so no per-group value sort.

    Driver check via the rank-validation pattern (float-free, so no
    cross-engine interpolation/rounding hazards): for each group Spark
    takes the sketch percentiles, counts how many rows fall at or
    below each one, and asserts the realized rank is within 2% (+1/n
    granularity) of the target quantile; DuckDB recomputes the exact
    group counts and emits TRUE. Sketch-vs-exact value error is
    additionally asserted in tests/test_operators.py. A NULL priority
    is filtered on both sides — the engine's broadcast join back on
    the group key drops the NULL group silently (SQL equality) while
    a plain GROUP BY keeps it (r11 nulls sweep)."""
    o = load_tables(spark, sf_dir, "orders")["orders"].filter(
        F.col("o_orderpriority").isNotNull()
    )
    pct = F.percentile_approx(
        "o_totalprice", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.9)]), 10000
    )
    sk = o.groupBy("o_orderpriority").agg(pct.alias("pcts"))
    joined = o.join(F.broadcast(sk), "o_orderpriority")
    ranked = joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        # the sketch only ever saw PRICED rows (percentile_approx
        # skips NULLs), so the realized rank must be taken over the
        # same population — dividing by n_orders would deflate every
        # rank by the NULL-price fraction and fail the audit on rows
        # that are fine (r13 decorrelated nulls sweep)
        F.sum(F.col("o_totalprice").isNotNull().cast("long")).alias("n_priced"),
        *[
            F.sum(
                (F.col("o_totalprice") <= F.col("pcts")[i]).cast("long")
            ).alias(f"n_le_{tag}")
            for i, tag in enumerate(("p25", "p50", "p75", "p90"))
        ],
    )
    def rank_ok(tag: str, q: float):
        tol = F.lit(0.02) + 1.0 / F.col("n_priced")
        return F.coalesce(
            # a group with zero priced rows has no percentiles to
            # audit — vacuously in-bound (the division is NULL-guarded
            # by the when, not ANSI-crashed)
            F.when(
                F.col("n_priced") > 0,
                F.abs(F.col(f"n_le_{tag}") / F.col("n_priced") - q) <= tol,
            ),
            F.lit(True),
        ).alias(f"{tag}_rank_ok")

    return ranked.select(
        "o_orderpriority",
        "n_orders",
        rank_ok("p25", 0.25),
        rank_ok("p50", 0.50),
        rank_ok("p75", 0.75),
        rank_ok("p90", 0.90),
    )


@register(
    "rapid_reorder_pairs",
    oracle="""
    SELECT a.o_custkey                    AS custkey,
           CAST(COUNT(*) AS BIGINT)       AS n_rapid_pairs,
           CAST(MIN(DATEDIFF('day', a.o_orderdate, b.o_orderdate)) AS BIGINT) AS min_gap_days
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND b.o_orderdate >= a.o_orderdate
     AND b.o_orderdate <= a.o_orderdate + INTERVAL 7 DAY
    GROUP BY 1
    """,
)
def rapid_reorder_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: pairs of orders by one customer ≤7 days
    apart. The equi key (custkey) makes this a hash join with a range
    RESIDUAL — per-customer groups are small, so the quadratic term is
    bounded; never a broadcast-nested-loop over the whole fact."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    a, b = o.alias("a"), o.alias("b")
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.col("b.o_orderdate") >= F.col("a.o_orderdate"))
        & (F.col("b.o_orderdate") <= F.date_add(F.col("a.o_orderdate"), 7)),
    )
    return pairs.groupBy(F.col("a.o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_rapid_pairs"),
        F.min(
            F.datediff(F.col("b.o_orderdate"), F.col("a.o_orderdate"))
        ).alias("min_gap_days"),
    )


@register(
    "orders_above_customer_avg",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, ROUND(o.o_totalprice, 2) AS totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
        SELECT AVG(i.o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
    )
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 1.5× above the customer's own
    average). Catalyst DECORRELATES this into one aggregate + one join
    — a single pass over orders, not a subquery per row; the plan is
    the same shape a hand-written window formulation produces."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, ROUND(o.o_totalprice, 2) AS totalprice
        FROM orders o
        WHERE o.o_totalprice > 1.5 * (
            SELECT AVG(i.o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "sliding_2d_revenue",
    oracle="""
    WITH days AS (
      SELECT CAST(ts AS DATE) AS d, SUM(value) AS v, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    starts AS (  -- each day contributes to the window starting that day
                 -- and the one starting the day before (2-day windows,
                 -- 1-day hop == Spark's window(ts, '2 days', '1 day'))
      SELECT unnest([d, d - INTERVAL 1 DAY]) AS w_start, v, n FROM days
    )
    SELECT CAST(w_start AS DATE)      AS window_start,
           ROUND(SUM(v), 2)           AS total_value,
           CAST(SUM(n) AS BIGINT)     AS n_events
    FROM starts GROUP BY 1
    """,
)
def sliding_2d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows: 2-day span, 1-day hop —
    each event lands in exactly two windows. Spark's window() expands
    rows window-count times BEFORE the aggregate (same Expand-then-agg
    shape as grouping sets); the oracle replays that expansion with
    unnest."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count("*").alias("n_events"),
        )
        .select(F.to_date("w.start").alias("window_start"), "total_value", "n_events")
    )


# --------------------------------------------------------------------------
# TPC-H classic shapes (widening §2.3-2.5 coverage: top-k over join-agg,
# conditional-ratio agg, multi-alias self-join dims, having + semi-join
# back, OR-of-ANDs pushdown, share-of-total)
# --------------------------------------------------------------------------


@register(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE)                         AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered 3-way join → per-order revenue
    → global top-10.

    Scale: both date filters and the segment filter push into the
    scans; the top-10 is TakeOrderedAndProject (per-partition heaps,
    driver merges 10×#partitions rows — no global sort). Tie-break on
    l_orderkey makes the cutoff a total order, so results are stable
    across engines."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-06-01").cast("timestamp")
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "promo_revenue",
    oracle="""
    SELECT ROUND(SUM(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END), 2)                         AS promo_revenue,
           ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                       / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-03-01'
    """,
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-ratio aggregate over a fact⋈dim
    join (share of promo revenue in a ship-date window).

    Scale: part is broadcast (dim), lineitem's date filter pushes into
    the scan; the single global aggregate is a map-side partial + one
    1-row final — no keyed shuffle of fact rows."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-03-01").cast("timestamp"))
        )
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(F.sum(promo), 2).alias("promo_revenue"),
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(disc), 6).alias("promo_pct"),
        )
    )


@register(
    "volume_shipping",
    oracle="""
    SELECT n1.n_name                                  AS supp_nation,
           n2.n_name                                  AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey  = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension (nation) joined twice under
    different roles (supplier's vs customer's), with a symmetric
    pair predicate, grouped by year.

    Scale: both nation copies broadcast; the nation-pair filter can
    only apply after those joins, but Catalyst pushes each n_name IN
    ('NATION_1','NATION_2') residual down to its own broadcast hash
    join, shrinking fact rows before the orders⋈customer shuffle."""
    t = load_tables(spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation")
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t["supplier"]
        .join(t["lineitem"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "big_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE)    AS order_date,
           ROUND(o_totalprice, 2)       AS total_price,
           ROUND(SUM(l_quantity), 2)    AS total_qty
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate used as a semi-join
    filter back onto the fact tables (large-volume orders).

    Scale: the qualifying-keys aggregate reduces lineitem to order
    grain first; the result (rare keys) joins back left_semi — at
    scale AQE turns that semi join into a broadcast because the
    HAVING filter is highly selective."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        t["orders"]
        .join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
    )


@register(
    "special_brand_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT)                          AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15
           AND l_quantity BETWEEN 1  AND 20)
       OR (p_brand = 'Brand#7'  AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def special_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive band predicates
    mixing columns from both join sides.

    Scale: Catalyst cannot push the whole OR below the join, but it
    derives and pushes the per-side implied filters — part gets
    `p_brand IN (...)` (dictionary-filtered at the parquet scan),
    lineitem gets `l_quantity BETWEEN 1 AND 50` — so the broadcast
    join sees pre-shrunk inputs and only the residual OR runs
    post-join."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .filter(band)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "nation_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
             n_name,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey  = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    )
    SELECT order_year,
           ROUND(SUM(CASE WHEN n_name = 'NATION_6' THEN volume ELSE 0 END), 2)
             AS nation_revenue,
           ROUND(SUM(CASE WHEN n_name = 'NATION_6' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM vol GROUP BY order_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of its region's revenue per
    year — share-of-total via conditional aggregation, avoiding a
    second pass or a window over the whole fact table.

    Scale: supplier/nation/region broadcast; one shuffle keyed by
    year (tiny cardinality) after map-side partials. The region
    filter prunes at the broadcast build side."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "supplier", "nation", "region")
    vol = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.col("n_name"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
    )
    target = F.when(F.col("n_name") == "NATION_6", F.col("volume")).otherwise(F.lit(0.0))
    return vol.groupBy("order_year").agg(
        F.round(F.sum(target), 2).alias("nation_revenue"),
        F.round(F.sum(target) / F.sum("volume"), 6).alias("mkt_share"),
    )


@register(
    "bloom_pruned_revenue",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT)                          AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (operators/bloom.py): revenue
    of lineitems belonging to URGENT orders. Catalyst injects a Bloom
    filter built from the filtered orders' keys into the lineitem scan
    (``might_contain(xxhash64(l_orderkey))``), so non-joining fact rows
    die at the scan instead of crossing the shuffle — at 100 TB this is
    the difference between shuffling the whole fact table and shuffling
    the ~20% that survives. Semantics-preserving (no false negatives),
    hence a plain-join oracle; plan shape asserted in
    tests/test_scale_layout.py."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    urgent = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    j = bloom_pruned_join(
        t["lineitem"], urgent, F.col("l_orderkey") == F.col("o_orderkey")
    )
    agg = j.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )
    return ensure_runtime_bloom(agg)


@register(
    "lineitem_metrics_unpivot",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             ROUND(SUM(l_quantity), 2)                         AS sum_qty,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             CAST(COUNT(*) AS DOUBLE)                          AS n_lines
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM m
    UNION ALL
    SELECT l_returnflag, 'revenue', revenue FROM m
    UNION ALL
    SELECT l_returnflag, 'n_lines', n_lines FROM m
    """,
)
def lineitem_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): per-flag metrics melted to (metric,
    value) rows — the inverse of event_type_pivot, completing the
    pivot/unpivot pair. Spark's native ``unpivot`` is a zero-shuffle
    Expand over the already-aggregated (bounded) frame."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    m = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count("*").cast("double").alias("n_lines"),
    )
    return m.unpivot(
        ["l_returnflag"], ["sum_qty", "revenue", "n_lines"], "metric", "value"
    )


@register(
    "rolling_distinct_users",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
    SELECT d.day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users_7d
    FROM d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day — the 'rolling DAU/WAU'
    shape. Spark windows can't do COUNT(DISTINCT) over a frame, and a
    per-day self-join re-scans the fact 7×; the scalable rewrite is
    EXPLODE-TO-WINDOW: each (day, user) contributes itself to the ≤7
    target days it falls in (a bounded sequence → explode), then ONE
    hash countDistinct per target day. Shuffle is O(7 · |distinct
    (day, user)|) — linear in data, no frame state, no re-scan."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    day_user = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = day_user.select("day").distinct()
    contrib = day_user.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    return (
        contrib.join(days, "day")  # only emit days that exist in the data
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )


@register(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
    SELECT CAST(FLOOR(DATEDIFF('day', DATE '2000-01-03', f.d0) / 7) AS BIGINT)
               AS cohort_week,
           CAST(FLOOR(DATEDIFF('day', f.d0, a.d) / 7) AS BIGINT)    AS week_k,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT)                AS n_users
    FROM firsts f JOIN act a USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week
    (anchored to the 2000-01-03 Monday epoch), counted distinct in
    each subsequent week offset. Two hash aggregates + one equi join
    on user_id — first-seen frame is |users|-sized; at 100 TB the
    firsts table is the thing you'd persist incrementally rather than
    recompute (same query semantics either way)."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    firsts = act.groupBy("user_id").agg(F.min("d").alias("d0"))
    j = act.join(firsts, "user_id")
    return (
        j.select(
            F.floor(F.datediff("d0", F.lit("2000-01-03").cast("date")) / 7)
            .cast("long").alias("cohort_week"),
            F.floor(F.datediff("d", "d0") / 7).cast("long").alias("week_k"),
            "user_id",
        )
        .groupBy("cohort_week", "week_k")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "price_histogram",
    oracle="""
    -- a non-finite price is not a measurement: NaN poisons MIN/MAX
    -- differently per engine and Inf stretches the range to nothing —
    -- NULLed at input on both sides; NULL prices land in the NULL bin
    -- (r11 extremes sweep)
    WITH o_fin AS (
      SELECT * REPLACE (CASE WHEN isfinite(o_totalprice)
                             THEN o_totalprice END AS o_totalprice)
      FROM orders
    ),
    mm AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
                FROM o_fin)
    -- hi = lo (degenerate range: one distinct price) puts every row
    -- in bin 0 instead of dividing by zero (r10 one-row sweep)
    SELECT CAST(CASE WHEN hi = lo THEN 0
                ELSE LEAST(9, FLOOR((o_totalprice - lo) / (hi - lo) * 10))
                END AS BIGINT)                     AS bin,
           CAST(COUNT(*) AS BIGINT)                AS n_orders,
           ROUND(SUM(o_totalprice), 2)             AS total_value
    FROM o_fin CROSS JOIN mm
    GROUP BY 1
    """,
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 10-bin histogram of order value: global min/max via
    one tiny aggregate BROADCAST back onto the scan (no collect, no
    second pass with a literal), then a hash aggregate on the bin id.
    The distribution profile every data-quality dashboard starts
    with."""
    # non-finite prices NULLed at input (r11 extremes sweep)
    o = load_tables(spark, sf_dir, "orders")["orders"].withColumn(
        "o_totalprice", cst.finite_or_null(F.col("o_totalprice"))
    )
    mm = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    # hi == lo (one distinct price): every row lands in bin 0 — the
    # bare division would hard-error under ANSI (r10 one-row sweep)
    binned = o.crossJoin(F.broadcast(mm)).withColumn(
        "bin",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 10
                ),
            )
        )
        .cast("long"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
    )


@register(
    "props_map_stats",
    oracle="""
    WITH kv AS (
      -- malformed/empty props parse to a NULL map in Spark and fan
      -- out to zero rows; json_valid is the same row drop (r11
      -- extremes sweep)
      SELECT event_type,
             unnest(json_keys(props)) AS k,
             CAST(props ->> '$.k' AS BIGINT) AS v
      FROM events WHERE json_valid(props)
    )
    SELECT event_type, k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(v) AS BIGINT)   AS min_v,
           CAST(MAX(v) AS BIGINT)   AS max_v,
           ROUND(AVG(v), 6)         AS avg_v
    FROM kv GROUP BY 1, 2
    """,
)
def props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured MAP column path: the JSON props payload parsed
    to ``map<string,string>`` (schema-on-read — no fixed struct
    needed when keys vary by event), exploded to (key, value) rows,
    aggregated per (event_type, key). Complements events_json_stats'
    point-lookup (`get_json_object`) with the full map surface:
    from_json(MapType) → explode(map) → agg, all codegen'd."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    kv = ev.select(
        "event_type",
        F.explode(
            F.from_json("props", "map<string,string>")
        ).alias("k", "v_str"),
    ).withColumn("v", F.col("v_str").try_cast("long"))
    return kv.groupBy("event_type", "k").agg(
        F.count("*").alias("n"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.round(F.avg("v"), 6).alias("avg_v"),
    )


# --------------------------------------------------------------------------
# TPC-H "hard" shapes: correlated scalar subqueries, EXISTS / NOT EXISTS
# chains, count distributions (round-2 additions; SURVEY §2.10).
# Catalyst DECORRELATES every subquery below into joins + aggregates —
# one bounded pass per input, never a subquery-per-row — which is the
# property that makes these shapes survive a 100 TB fact table.
# --------------------------------------------------------------------------

@register(
    "customer_order_distribution",
    oracle="""
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY n_orders
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution over customers,
    keeping zero-order customers via a LEFT join with the filter in
    the join condition (a WHERE would silently turn it inner). Two
    hash aggregates; the first shuffles on c_custkey (orders is
    pre-filtered map-side), the second is over at most |customers|
    distinct counts — tiny. COUNT(o_orderkey) (not COUNT(*)) is what
    makes the unmatched-customer bucket read 0, matching SQL NULL
    semantics on both engines."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    per_cust = (
        c.join(
            o.filter(F.col("o_orderpriority") != "1-URGENT"),
            c["c_custkey"] == o["o_custkey"],
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@register(
    "small_qty_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(i.l_quantity) FROM lineitem i
        WHERE i.l_partkey = l.l_partkey
      )
    """,
)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of small-quantity lines vs the part's
    own average. The correlated AVG is computed explicitly as one
    grouped aggregate over the brand-pruned lineitems — pruning FIRST
    via a broadcast semi-join on the ~1% of parts in the brand, so the
    per-part threshold pass touches 1% of the fact instead of all of
    it (the correlation key is l_partkey, so restricting to the
    surviving parts cannot change any threshold). One shuffle on
    l_partkey serves both the threshold agg and the final join.
    Quantities are integer-valued doubles, so AVG is exact in both
    engines and the strict `<` boundary cannot flip cross-engine."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"], t["part"]
    pk = p.filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    pruned = li.join(
        F.broadcast(pk), li["l_partkey"] == pk["p_partkey"], "left_semi"
    )
    thresh = pruned.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        pruned.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


_Q21_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders     ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY s_name
"""


@register("late_shippers", oracle=_Q21_SQL)
def late_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to the available columns: latest
    l_shipdate stands in for receipt-after-commit): suppliers whose
    line shipped strictly last on a multi-supplier finalized order.
    The EXISTS / NOT EXISTS pair decorrelates into a left-semi and a
    left-anti join on l_orderkey — three passes over lineitem that
    all shuffle on the SAME key, so AQE plans them as one exchange
    reused twice; no per-row subquery, no cartesian anywhere."""
    load_tables(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(_Q21_SQL)


_Q22_SQL = """
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (
    SELECT AVG(i.c_acctbal) FROM customer i WHERE i.c_acctbal > 0
  )
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey
"""


@register("idle_customer_balance", oracle=_Q22_SQL)
def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (nationkey stands in for the phone country
    code): well-funded customers who never ordered. The uncorrelated
    scalar AVG becomes a broadcast one-row subquery; the NOT EXISTS
    becomes a left-anti join shuffling only o_custkey (8 bytes/row)
    against customer — never the orders payload."""
    load_tables(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q22_SQL)


@register(
    "top_revenue_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly
    revenue. The revenue view is one shuffled hash agg bounded at
    |suppliers| rows; the MAX and the equality filter are both
    broadcast joins against that tiny frame, so the fact table is
    scanned exactly once. Revenue is rounded to cents BEFORE the max
    comparison on both engines — equality on the rounded value is
    deterministic where raw-double equality would not be."""
    t = load_tables(spark, sf_dir, "lineitem", "supplier")
    li, s = t["lineitem"], t["supplier"]
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("total_rev"))
    return (
        rev.join(F.broadcast(mx), "total_rev")
        .join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


_Q2_SQL = """
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         ROUND(AVG(l_extendedprice), 4) AS avg_price
  FROM lineitem GROUP BY 1, 2
)
SELECT p.p_partkey, s.s_name, ps.avg_price
FROM part p
JOIN ps ON ps.partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = ps.suppkey
WHERE p.p_size <= 5
  AND ps.avg_price = (
    SELECT MIN(i.avg_price) FROM ps i WHERE i.partkey = ps.partkey
  )
"""


@register("min_cost_supplier", oracle=_Q2_SQL)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (lineitem's observed per-(part, supplier) average
    price stands in for the absent partsupp table): the cheapest
    supplier(s) per small part. The correlated MIN over the derived
    ps frame decorrelates into a min-per-partkey aggregate joined
    back on (partkey, avg_price) — ps is built once (one shuffle on
    the compound key), and every subsequent join is against frames
    bounded by |part|×|supplier|, not the fact. Prices are rounded
    before the min/equality so the tie-set is engine-stable."""
    load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_Q2_SQL)


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT '2_click_after_view', CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL
    SELECT '3_purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel over the event stream: users whose
    first view precedes a click precedes a purchase, counted per
    stage. The batch twin of stream_view_purchase_funnel, generalized
    to three stages.

    Plan shape: each stage is a filtered slice of the SAME events scan
    aggregated per user, then an equi-join on user_id against the
    previous stage's (user, first-ts) frame — all three shuffles hash
    the same key, so AQE co-partitions them and each stage's join
    input shrinks monotonically (stage N has ≤ stage N-1 users). No
    window over the whole stream, no per-user event arrays: state per
    user is ONE timestamp per stage, which is what lets the same plan
    run at 100 TB where collect_list-per-user would not."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    # each stage frame is consumed twice (the next stage's join + its
    # own count) — materialize the user-grain stage frames once (r13
    # optimization, guide §5: eager checkpoint, the honest-fastest
    # barrier measured) so the events scan runs once per stage instead
    # of once per consumer chain; the frames are one timestamp per
    # surviving user, tiny at any scale. The view-stage pushdown now
    # lives in the materialization pass — asserted there by
    # scripts/gen_plans.py PRE_AUDITS.
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    ).transform(materialize.checkpoint)
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    ).transform(materialize.checkpoint)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _stage(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_users")
        ).select(F.lit(label).alias("stage"), "n_users")

    return (
        _stage(v, "1_view")
        .unionByName(_stage(c, "2_click_after_view"))
        .unionByName(_stage(p, "3_purchase_after_click"))
    )


@register(
    "last_touch_attribution",
    oracle="""
    WITH touches AS (
      SELECT user_id, ts, MAX(event_type) AS event_type
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    att AS (
      SELECT p.value,
             CASE WHEN t.ts IS NOT NULL AND p.ts - t.ts <= INTERVAL 7 DAY
                  THEN t.event_type END AS touch_type
      FROM purchases p
      ASOF LEFT JOIN touches t ON p.user_id = t.user_id AND p.ts >= t.ts
    )
    SELECT COALESCE(touch_type, 'none')    AS touch_type,
           CAST(COUNT(*) AS BIGINT)        AS n_purchases,
           ROUND(SUM(value), 2)            AS attributed_value
    FROM att GROUP BY 1
    """,
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent view/click at or before it, within a 7-day
    lookback — the question the reference's spend warehouse exists to
    answer (ad touch → conversion, reference main.py:22-40) but its
    SQL layer never implements.

    Runs on the as-of join operator (operators/asof.py): union +
    carry-forward window, ONE shuffle on user_id, same cost profile as
    an equi-join at 100 TB. The oracle uses DuckDB's NATIVE ASOF JOIN
    — two independent as-of implementations must agree row-for-row.
    Touches are pre-deduplicated per (user, ts) so equal-timestamp
    ordering can't differ between engines."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("event_type"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    att = asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["event_type"],
        tolerance_expr="INTERVAL '7' DAY",
    )
    return att.groupBy(
        F.coalesce("event_type", F.lit("none")).alias("touch_type")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("attributed_value"),
    )


@register(
    "value_outliers",
    oracle="""
    -- a non-finite value is not a measurement: a single NaN/Inf would
    -- poison the type's mean/σ (and DuckDB's STDDEV aborts on Inf),
    -- so both engines NULL it at the query input (r11 extremes sweep)
    WITH ev AS (
      SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END AS value)
      FROM events
    ),
    stats AS (
      SELECT event_type,
             ROUND(AVG(value), 6)         AS m,
             ROUND(STDDEV_SAMP(value), 6) AS s
      FROM ev GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ABS(e.value - st.m) > 3 * st.s
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM ev e JOIN stats st ON e.event_type = st.event_type
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type
    """,
)
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier audit per event type: two aggregates — one for
    per-type mean/stddev, one counting values beyond 3σ after a
    broadcast join of the tiny stats frame back onto the scan. The
    data-quality sibling of constraint_audit_orders for *statistical*
    expectations.

    Mean and σ are rounded to 6dp on BOTH engines before the
    comparison: parallel summation order differs between engines, and
    an unrounded boundary would let a value sitting exactly at 3σ
    classify differently."""
    # non-finite values are not measurements (r11 extremes sweep):
    # NULL them at the query input so the NULL conventions apply
    ev = load_tables(spark, sf_dir, "events")["events"].withColumn(
        "value", cst.finite_or_null(F.col("value"))
    )
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("m"),
        F.round(F.stddev_samp("value"), 6).alias("s"),
    )
    return (
        ev.filter(F.col("value").isNotNull())
        .join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.abs(F.col("value") - F.col("m")) > 3 * F.col("s"), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@register(
    "rolling_users_hll",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
    SELECT d.day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_users_7d,
           TRUE                                      AS within_5pct
    FROM d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def rolling_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day unique users via MERGEABLE HLL sketches
    (DataSketches ``hll_sketch_agg`` / ``hll_union_agg``): one sketch
    per day (a single scan of events), then each day's 7-day estimate
    merges ≤7 PRE-AGGREGATED sketches — the raw fact table is scanned
    once, ever, no matter how many windows read the result. This is
    the 100 TB replacement for rolling_distinct_users' exact
    explode-to-window (which shuffles O(7·|day,user|)): sketch state
    is O(days · sketch_size), and the same pre-aggregated sketch table
    serves 7-day, 30-day, and all-time windows for free.

    Driver-checkable accuracy-audit form: the engine recomputes the
    EXACT count (via the explode rewrite) alongside the estimate and
    emits the exact value plus a 5% relative-error boolean (HLL
    lgK=12 has σ≈1.6%, so 5% ≈ 3σ); the oracle recomputes the exact
    side and pins the boolean TRUE."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    day_user = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    # one sketch per day — at scale this tiny table is what persists
    daily = day_user.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sketch")
    )
    days = daily.select("day")
    contrib = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "day"
        ),
        "sketch",
    )
    est = (
        contrib.join(days, "day")
        .groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_7d")
        )
    )
    exact = (
        day_user.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("day"),
            "user_id",
        )
        .join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    return est.join(exact, "day").select(
        "day",
        "exact_users_7d",
        (
            F.abs(F.col("est_7d") - F.col("exact_users_7d")) * 100
            <= 5 * F.col("exact_users_7d")
        ).alias("within_5pct"),
    )


@register(
    "supplier_revenue_share",
    oracle="""
    WITH s AS (
      SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT ROUND(SUM(rev), 2) AS total FROM s)
    SELECT s.l_suppkey,
           s.rev                                    AS revenue,
           ROUND(s.rev / tot.total, 7)              AS share
    FROM s, tot
    WHERE s.rev > tot.total * 0.0015
    """,
)
def supplier_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape adapted to the testdata (no partsupp table):
    suppliers whose revenue exceeds a fixed fraction of GLOBAL
    revenue. The global total is a 1-row aggregate broadcast back
    over the per-supplier frame — the scalar-subquery pattern that at
    100 TB must stay a broadcast, never a re-scan or a cross join of
    the fact. Per-supplier revenue is rounded BEFORE both the total
    and the threshold compare, and the TOTAL itself is rounded too —
    cross-engine summation order can differ in the last ulp, and an
    unrounded total would let a supplier sitting exactly on the
    0.0015 threshold flip sides between engines."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    per_supp = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "rev"
        )
    )
    total = per_supp.agg(F.round(F.sum("rev"), 2).alias("total"))
    return (
        per_supp.join(F.broadcast(total))
        .filter(F.col("rev") > F.col("total") * 0.0015)
        .select(
            "l_suppkey",
            F.col("rev").alias("revenue"),
            F.round(F.col("rev") / F.col("total"), 7).alias("share"),
        )
    )


@register(
    "orders_pareto",
    oracle="""
    -- non-finite money has no DECIMAL representation: NULLed at input
    -- on both engines (r11 extremes sweep)
    WITH o_fin AS (
      SELECT * REPLACE (CASE WHEN isfinite(o_totalprice)
                             THEN o_totalprice END AS o_totalprice)
      FROM orders
    ),
    c AS (
      -- a customer with NO measurable revenue (every price NULL or
      -- non-finite) has no place in a revenue ranking
      SELECT o_custkey,
             CAST(ROUND(SUM(o_totalprice), 2) AS DECIMAL(18,2)) AS rev
      FROM o_fin GROUP BY o_custkey
      HAVING SUM(o_totalprice) IS NOT NULL
    ),
    r AS (
      SELECT o_custkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER ()                          AS total
      FROM c
    )
    SELECT CAST(COUNT(*) AS BIGINT)                          AS n_top_customers,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT)          AS n_customers,
           ROUND(CAST(MAX(cum) AS DOUBLE) / CAST(MAX(total) AS DOUBLE), 7)
             AS revenue_share
    FROM r
    WHERE CAST(cum - rev AS DOUBLE) < CAST(total AS DOUBLE) * 0.8e0
    """,
)
def orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the smallest prefix of customers (by
    revenue, total-ordered with a key tie-break) covering 80% of
    revenue. A take-while over a DESC running share over the
    CUSTOMER-GRAIN frame — corpus-sized at 100 TB — so the running
    sum uses operators/rank.py:with_global_cumsum (range-bucketed
    parallel exact cumsum; no ``Exchange SinglePartition``). The
    per-customer revenue is carried as DECIMAL(18,2): decimal addition
    is associative, so the bucketed partial-sum combination is
    bit-identical to the oracle's sequential window (double would
    drift by ulps), and the DESC-rev / ASC-custkey mixed order is
    expressed as ASC on the negated metric. Emits one summary row.
    ``per_cust`` is persisted because it derives from FLOAT
    aggregation (sum of doubles, then round): the cumsum operator
    runs 3 separate actions plus the scalar readout, and double
    aggregation is not bit-deterministic across re-executions — a
    rev value straddling a rounding/bucket boundary could otherwise
    change buckets between the counts action and the window action
    (advisor r9 finding). All actions now read one pinned
    materialization, matching customer_rfm_segments."""
    from ..operators.rank import with_global_cumsum

    orders = load_tables(spark, sf_dir, "orders")["orders"].withColumn(
        # non-finite money has no DECIMAL representation: NULL at
        # input (r11 extremes sweep)
        "o_totalprice", cst.finite_or_null(F.col("o_totalprice"))
    )
    per_cust = materialize.persist(
        orders.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2)
            .cast("decimal(18,2)")
            .alias("rev")
        )
        # a customer with NO measurable revenue has no place in a
        # revenue ranking (and NULL would hit the cumsum bucketing)
        .filter(F.col("rev").isNotNull())
    )
    scalars = per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("rev").alias("total"),
    )
    ranked = with_global_cumsum(
        per_cust.withColumn("__neg_rev", -F.col("rev")),
        sum_col="rev",
        value_col="__neg_rev",
        tiebreak_cols=["o_custkey"],
        out_col="cum",
    ).join(F.broadcast(scalars))
    top = ranked.filter(
        (F.col("cum") - F.col("rev")).cast("double")
        < F.col("total").cast("double") * 0.8
    )
    # empty input: `top` has no rows, so MAX(n_customers) is NULL while
    # the oracle's scalar subquery COUNT(*) reads 0 — coalesce to match
    # (advisor r9 finding).
    return top.agg(
        F.count(F.lit(1)).cast("long").alias("n_top_customers"),
        F.coalesce(F.max("n_customers"), F.lit(0).cast("long")).alias(
            "n_customers"
        ),
        F.round(
            F.max("cum").cast("double") / F.max("total").cast("double"), 7
        ).alias("revenue_share"),
    ).select("n_top_customers", "n_customers", "revenue_share")


@register(
    "returned_revenue_topk",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS lost_revenue,
           CAST(COUNT(*) AS BIGINT)                              AS n_return_items
    FROM customer c
    JOIN orders o    ON o.o_custkey = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN nation n    ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items. Plan: returnflag filter pushed to the lineitem scan,
    customer/nation broadcast, ONE shuffle for the fact join + hash
    agg, then TakeOrderedAndProject (top-k, never a global sort of
    the aggregate). Revenue rounded before the ORDER BY with a key
    tie-break so the top-20 cut is engine-stable."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    joined = (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("lost_revenue"),
        F.count(F.lit(1)).cast("long").alias("n_return_items"),
    )
    return agg.orderBy(F.col("lost_revenue").desc(), F.col("c_custkey")).limit(20)


@register(
    "shipmode_priority_counts",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)  AS high_priority,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)  AS low_priority
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_linestatus
    """,
)
def shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted to this schema (no shipmode/commitdate
    columns): among lineitems shipped more than 60 days after their
    order date, count high- vs low-priority orders per linestatus —
    conditional aggregation over a date-arithmetic join predicate.
    The date bound is a post-join filter on the equi-join (never a
    range-only join); priority classification is a codegen'd CASE."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    joined = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy(F.col("l_linestatus").alias("linestatus")).agg(
        F.coalesce(F.sum(F.when(hi, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("high_priority"),
        F.coalesce(F.sum(F.when(~hi, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("low_priority"),
    )


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS potential_revenue,
           CAST(COUNT(*) AS BIGINT)                    AS n_items
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.06 AND l_quantity < 25
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue that would be gained by eliminating a
    discount band — a single-table scan-aggregate whose entire
    predicate (date range, discount band, quantity cap) must reach
    the parquet scan as pushed filters; no join, no shuffle beyond
    the 1-row final combine."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "potential_revenue"
            ),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


@register(
    "product_profit",
    oracle="""
    SELECT n.n_name                                 AS nation,
           CAST(YEAR(o.o_orderdate) AS BIGINT)      AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * 0.1 * l.l_quantity), 2) AS profit,
           CAST(COUNT(*) AS BIGINT)                 AS n_items
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%gear%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    GROUP BY n.n_name, YEAR(o.o_orderdate)
    """,
)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year),
    adapted: no partsupp table in this schema, so supply cost is
    proxied as 10% of p_retailprice per unit — the plan shape is the
    point: the part filter prunes the fact FIRST via a broadcast
    join, supplier/nation ride along broadcast, and only the pruned
    ~26% of lineitem shuffles into the orders join."""
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation", "orders")
    pr = t["part"].filter(F.col("p_name").like("%gear%"))
    joined = (
        t["lineitem"]
        .join(F.broadcast(pr), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.1 * F.col("l_quantity")
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(
        F.round(F.sum(profit), 2).alias("profit"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@register(
    "supplier_part_counts",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT)  AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier-part relationship counts), adapted:
    observed (l_partkey, l_suppkey) pairs stand in for partsupp, and
    negative-balance suppliers stand in for the complaints NOT IN.
    Plan: the distinct pair reduction happens BEFORE any join (tiny
    shuffle of two int keys), the exclusion list broadcasts as an
    anti join, the part dimension broadcasts with its filters."""
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    ps = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pr = t["part"].filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(pr), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "dominant_part_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l.l_partkey, l.l_suppkey, SUM(l.l_quantity) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'small%'
      WHERE l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01'
      GROUP BY l.l_partkey, l.l_suppkey),
    shares AS (
      SELECT l_suppkey, qty,
             SUM(qty) OVER (PARTITION BY l_partkey) AS part_total
      FROM shipped)
    SELECT s.s_name, n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_dominant_parts
    FROM shares sh
    JOIN supplier s ON s.s_suppkey = sh.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE sh.qty > 0.5 * sh.part_total
    GROUP BY s.s_name, n.n_name
    """,
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess-stock suppliers), adapted: no partsupp
    availqty, so 'dominant' = supplier shipped >50% of a part's 1996
    volume. Plan: part filter broadcast-prunes the fact, the pair agg
    reduces BEFORE the per-part window (window runs over the reduced
    frame, reusing its partitioning — never over raw lineitem), and
    the supplier/nation dims broadcast onto the survivors.
    l_quantity is integer-valued so the 0.5-share comparison is
    float-exact in both engines."""
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    pr = t["part"].filter(F.col("p_name").like("small%")).select("p_partkey")
    shipped = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        )
        .join(F.broadcast(pr), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    part_total = F.sum("qty").over(W.partitionBy("l_partkey"))
    dominant = shipped.withColumn("part_total", part_total).filter(
        F.col("qty") > 0.5 * F.col("part_total")
    )
    return (
        dominant.join(
            F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_dominant_parts"))
    )


@register(
    "kmv_distinct_users",
    oracle="""
    -- unlabeled (NULL event_type) events are not a segment: filtered
    -- on BOTH branches and both engines, so '__all__' is exactly the
    -- merge of the per-segment sketches (r11 nulls sweep)
    SELECT event_type AS segment,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS kmv_within_20pct
    FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    UNION ALL
    SELECT '__all__', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE
    FROM events WHERE event_type IS NOT NULL
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-users sketch per event_type plus the merged
    '__all__' sketch (operators/sketches.kmv_group_distinct) under the
    accuracy-bound audit pattern: Spark emits its own exact counts and
    a boolean pinning the KMV estimate within 20% (k=512 → σ≈4.4%,
    ~4.5σ margin); DuckDB recomputes the exact counts and pins TRUE.
    The exact branch exists for the gate only — the production path is
    the bounded sketch (state ≤ groups·k at every stage, vs a full
    distinct shuffle for the exact count)."""
    from ..operators.sketches import kmv_group_distinct

    # unlabeled events are not a segment; filtering at the source
    # keeps '__all__' ≡ merge of the per-segment sketches (the NULL
    # group would otherwise silently drop in the equality join below
    # while the oracle's GROUP BY keeps it; r11 nulls sweep)
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("event_type").isNotNull()
    )
    sk = kmv_group_distinct(ev, "event_type", "user_id", k=512)
    exact_g = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    exact_all = ev.agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    ).select(F.lit("__all__").alias("event_type"), "n_exact")
    exact = exact_g.unionByName(exact_all)
    # n_exact = 0 (the '__all__' row of an empty table): the relative-
    # error gate would divide by zero under ANSI — a zero-cardinality
    # segment is "within bound" iff the sketch also reads 0
    # (r10 empty sweep)
    return sk.join(exact, "event_type").select(
        F.col("event_type").alias("segment"),
        "n_exact",
        F.when(
            F.col("n_exact") == 0,
            F.coalesce(F.col("kmv_estimate"), F.lit(0)) == 0,
        )
        .otherwise(
            F.abs(F.col("kmv_estimate") - F.col("n_exact"))
            / F.col("n_exact")
            <= 0.20
        )
        .alias("kmv_within_20pct"),
    )


@register(
    "kmv_overlap_audit",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT 'click' AS group_a, 'purchase' AS group_b,
           CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT)
               AS n_intersect,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events
                 WHERE event_type IN ('click', 'purchase')) AS BIGINT)
               AS n_union,
           TRUE AS jaccard_within_05,
           TRUE AS intersection_within_25pct
    """,
)
def kmv_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from two KMV sketches
    (operators/sketches.kmv_pair_stats) under the accuracy-bound audit
    pattern: Spark computes the exact intersection/union of click vs
    purchase users plus booleans pinning the sketch's Jaccard within
    0.05 absolute and intersection within 25% relative; DuckDB
    recomputes the exact values and pins TRUE. At 100 TB the exact
    branch disappears and the overlap of ANY two segments is answered
    from two k-value arrays — no re-scan, no distinct shuffle."""
    from ..operators.sketches import kmv_pair_stats, kmv_sketch_frame

    ev = load_tables(spark, sf_dir, "events")["events"]
    sk = kmv_sketch_frame(ev, "event_type", "user_id", k=512)
    # kmv_pair_stats deliberately RAISES on absent groups (a typo'd
    # segment must fail loudly); an EMPTY/degenerate corpus is not a
    # typo, so the audit emits the exact zero-overlap row there. The
    # r10 probe allowed the fallback for ANY absent segment, which
    # silently swallowed a typo'd literal on a healthy corpus
    # (advisor r10) — so the fallback is now gated on volume: if a
    # queried segment is absent while OTHER segments carry >= 100
    # events, that is the typo case and the operator's fail-loudly
    # contract applies. The probe is a bounded readout (one row per
    # event_type — a small bounded domain).
    counts = {
        r["event_type"]: r["n"]
        for r in ev.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    other_volume = sum(
        n for g, n in counts.items() if g not in ("click", "purchase")
    )
    if {"click", "purchase"} <= counts.keys():
        est = kmv_pair_stats(sk, "click", "purchase", k=512)
    elif other_volume >= 100:
        missing = sorted({"click", "purchase"} - counts.keys())
        raise ValueError(
            f"kmv_overlap_audit: segment(s) {missing} absent from a"
            f" corpus with {other_volume} events in other segments —"
            " likely a typo'd segment literal (kmv_pair_stats"
            " fail-loudly contract)"
        )
    else:
        est = spark.createDataFrame(
            [("click", "purchase", 0.0, 0.0, 0.0)],
            "group_a string, group_b string, jaccard_est double,"
            " union_est double, intersection_est double",
        )
    # exact intersect/union in ONE events pass + ONE action (r14,
    # guide §1/§2.3 — was two distinct-shuffle passes and two driver
    # actions): per-user membership flags reduce map-side, the union
    # is the per-user row count and the intersection counts users
    # carrying both flags. Exact integers, identical values.
    per_user = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("a"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("b"),
        )
    )
    iu = per_user.agg(
        F.sum((F.col("a") * F.col("b"))).alias("i"),
        F.count(F.lit(1)).alias("u"),
    ).first()
    n_intersect = int(iu["i"] or 0)
    n_union = int(iu["u"])
    return est.select(
        "group_a",
        "group_b",
        F.lit(n_intersect).cast("long").alias("n_intersect"),
        F.lit(n_union).cast("long").alias("n_union"),
        (
            F.abs(F.col("jaccard_est") - F.lit(n_intersect / max(n_union, 1)))
            <= 0.05
        ).alias("jaccard_within_05"),
        (
            F.abs(F.col("intersection_est") - n_intersect) / F.lit(max(n_intersect, 1))
            <= 0.25
        ).alias("intersection_within_25pct"),
    )


# --------------------------------------------------------------------------
# Round-3 native-function widening: per-group linear regression, native
# PIVOT, ordered event bigrams — all codegen'd built-ins, no UDF.
# --------------------------------------------------------------------------

_TREND_ORACLE = """
    -- non-finite prices are not measurements: one NaN/Inf month would
    -- poison the whole nation's fit (and DuckDB's regr_* abort on
    -- Inf), so both engines NULL them at input (r11 extremes sweep)
    WITH o_fin AS (
      SELECT * REPLACE (CASE WHEN isfinite(o_totalprice)
                             THEN o_totalprice END AS o_totalprice)
      FROM orders
    ),
    monthly AS (
      SELECT n.n_name,
             (EXTRACT(year FROM o.o_orderdate) - 1992) * 12
               + EXTRACT(month FROM o.o_orderdate) - 1 AS month_idx,
             ROUND(SUM(o.o_totalprice), 2) AS rev
      FROM o_fin o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT)                    AS n_months,
           ROUND(regr_slope(rev, month_idx), 4) + 0.0  AS slope,
           ROUND(regr_intercept(rev, month_idx), 4) + 0.0 AS intercept,
           ROUND(regr_r2(rev, month_idx), 6) + 0.0     AS r2
    FROM monthly GROUP BY n_name
"""


@register("revenue_trend_by_nation", oracle=_TREND_ORACLE)
def revenue_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: ordinary-least-squares slope /
    intercept / R² of monthly revenue against a month index, via
    Spark's native partial-mergeable ``regr_*`` aggregates (no window,
    no collect, no UDF — the regression state is a constant-size
    monoid, so this is one hash agg over an already-reduced monthly
    frame). Monthly revenues are rounded before the fit so both
    engines regress identical inputs; fit outputs are rounded at the
    precision the summation-order ulp noise sits far below."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    # non-finite prices NULLed at input (r11 extremes sweep)
    orders = t["orders"].withColumn(
        "o_totalprice", cst.finite_or_null(F.col("o_totalprice"))
    )
    monthly = (
        orders
        .join(t["customer"], orders.o_custkey == t["customer"].c_custkey)
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
            ).alias("month_idx"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    return monthly.groupBy("n_name").agg(
        F.count("*").alias("n_months"),
        (F.round(F.regr_slope("rev", "month_idx"), 4) + F.lit(0.0)).alias("slope"),
        (F.round(F.regr_intercept("rev", "month_idx"), 4) + F.lit(0.0)).alias(
            "intercept"
        ),
        (F.round(F.regr_r2("rev", "month_idx"), 6) + F.lit(0.0)).alias("r2"),
    )


_PIVOT_ORACLE = """
    -- a non-finite quantity is not a measurement: Inf cannot round to
    -- a BIGINT (ANSI cast aborts) — NULLed at input on both engines,
    -- so the sums simply skip it (r11 extremes sweep)
    WITH li AS (
      SELECT * REPLACE (CASE WHEN isfinite(l_quantity)
                             THEN l_quantity END AS l_quantity)
      FROM lineitem
    )
    SELECT EXTRACT(year FROM l_shipdate) AS ship_year,
           CAST(SUM(CASE WHEN l_returnflag = 'A' THEN ROUND(l_quantity) ELSE 0 END) AS BIGINT) AS qty_a,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN ROUND(l_quantity) ELSE 0 END) AS BIGINT) AS qty_n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN ROUND(l_quantity) ELSE 0 END) AS BIGINT) AS qty_r
    FROM li GROUP BY 1
"""


@register("returns_pivot_by_year", oracle=_PIVOT_ORACLE)
def returns_pivot_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native PIVOT (wide-form rollup): shipped quantity per year ×
    return flag, with the pivot value list given explicitly so the
    plan is a single hash aggregate (no extra distinct-values job and
    no second shuffle — exactly the two-pass trap `pivot` falls into
    when the value list is omitted). The UNPIVOT inverse is
    `lineitem_metrics_unpivot`."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    p = (
        li.select(
            F.year("l_shipdate").alias("ship_year"),
            "l_returnflag",
            # non-finite quantity → NULL, the sums skip it (r11
            # extremes sweep; Inf cannot round into a BIGINT)
            F.round(cst.finite_or_null(F.col("l_quantity"))).cast("long").alias("qty"),
        )
        .groupBy("ship_year")
        .pivot("l_returnflag", ["A", "N", "R"])
        .sum("qty")
    )
    return p.select(
        "ship_year",
        F.coalesce(F.col("A"), F.lit(0)).alias("qty_a"),
        F.coalesce(F.col("N"), F.lit(0)).alias("qty_n"),
        F.coalesce(F.col("R"), F.lit(0)).alias("qty_r"),
    )


_BIGRAM_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
"""


@register("user_event_bigrams", oracle=_BIGRAM_ORACLE)
def user_event_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered behavior bigrams: for each user's event sequence (total
    order ts, event_id — the tie-break makes the lag deterministic
    cross-engine), count transitions prev_type → event_type. The
    Markov-transition table behind funnel/next-action analyses: one
    keyed window (shuffle on user_id) + one hash agg on a tiny
    (type × type) key space."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# Skyline / Pareto-frontier operator and fixed-iteration graph ranking


@register(
    "quantity_price_skyline",
    oracle="""
    -- only measurable points enter the skyline: a non-finite quantity
    -- cannot be a BIGINT group key (ANSI cast aborts) and a NaN/-Inf
    -- price would poison the dominance test differently per engine
    -- (r11 extremes sweep)
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS quantity,
             MIN(l_extendedprice)       AS min_price
      FROM lineitem
      WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)
      GROUP BY CAST(l_quantity AS BIGINT)
    )
    SELECT a.quantity, ROUND(a.min_price, 2) AS frontier_price
    FROM g a
    WHERE NOT EXISTS (
      SELECT 1 FROM g b
      WHERE b.quantity > a.quantity AND b.min_price <= a.min_price
    )
    """,
)
def quantity_price_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): line items that maximize quantity
    while minimizing price — a (quantity, price) point survives iff no
    other point has strictly higher quantity at an equal-or-lower
    price. The classic dominance query (Börzsönyi et al., ICDE 2001),
    which the oracle states as NOT EXISTS; the engine computes it
    without any self-join.

    Scale shape: REDUCE FIRST — groupBy quantity → min(price)
    collapses the fact table to one row per distinct quantity (~50)
    in a single map-side-combining hash agg; the dominance test is
    then a running-min window over that bounded frame. The only
    single-partition step operates on the post-reduction rows, never
    the fact table, so the plan is one fact shuffle at 100 TB."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # only measurable (finite quantity AND price) points enter the
    # skyline (r11 extremes sweep)
    li = li.filter(
        cst.finite_or_null(F.col("l_quantity")).isNotNull()
        & cst.finite_or_null(F.col("l_extendedprice")).isNotNull()
    )
    g = li.groupBy(F.col("l_quantity").cast("bigint").alias("quantity")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    w = (
        W.orderBy(F.col("quantity").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        g.withColumn("best_higher", F.min("min_price").over(w))
        .where(
            F.col("best_higher").isNull()
            | (F.col("min_price") < F.col("best_higher"))
        )
        .select("quantity", F.round("min_price", 2).alias("frontier_price"))
    )


@register(
    "nation_trade_pagerank",
    oracle="""
    WITH e AS (
      SELECT sn.n_name AS src, cn.n_name AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      GROUP BY sn.n_name, cn.n_name
    ),
    nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
    ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
    t AS (
      SELECT e.src, e.dst, e.w * 1e0 / ow.ow AS p
      FROM e JOIN ow ON e.src = ow.src
    ),
    r0 AS (SELECT n, 1e0 / nn.n_nodes AS pr FROM nodes, nn),
    r1 AS (
      SELECT nodes.n,
             0.15e0 / nn.n_nodes
             + 0.85e0 * COALESCE(SUM(r0.pr * t.p), 0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN t  ON t.dst = nodes.n
      LEFT JOIN r0 ON r0.n = t.src
      GROUP BY nodes.n, nn.n_nodes
    ),
    r2 AS (
      SELECT nodes.n,
             0.15e0 / nn.n_nodes
             + 0.85e0 * COALESCE(SUM(r1.pr * t.p), 0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN t  ON t.dst = nodes.n
      LEFT JOIN r1 ON r1.n = t.src
      GROUP BY nodes.n, nn.n_nodes
    ),
    r3 AS (
      SELECT nodes.n,
             0.15e0 / nn.n_nodes
             + 0.85e0 * COALESCE(SUM(r2.pr * t.p), 0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN t  ON t.dst = nodes.n
      LEFT JOIN r2 ON r2.n = t.src
      GROUP BY nodes.n, nn.n_nodes
    )
    SELECT n AS nation, ROUND(pr, 6) AS pagerank FROM r3
    """,
)
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 synchronous iterations) over the
    nation-level trade graph: a directed edge supplier-nation →
    customer-nation weighted by shipped line items. The oracle unrolls
    the same three iterations as SQL CTEs, so every rank is recomputed
    exactly (rounded 6dp at the end only).

    Scale shape: REDUCE THEN ITERATE — the expensive step (fact ⋈
    orders ⋈ customer ⋈ supplier ⋈ nation×2) happens ONCE and
    collapses 100 TB of line items into a ≤625-row weighted edge list;
    the power iterations then run as broadcast joins over that tiny
    frame (each iteration is dim-sized work, no fact re-scan). This
    is the shape GraphFrames/Pregel would produce for a
    small-vertex-set graph, without the framework. Dangling nodes
    (no out-edges) follow the simplified no-redistribution model on
    both engines.

    The reduced edge list is materialized ONCE via a bounded readout
    (≤ |nations|² = 625 rows by construction, independent of fact
    size) and the iterations run over the rebuilt local frame —
    without that barrier each lazy iteration would re-execute the
    6-way fact join (measured 3.6 s → 1 fact pass after)."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    cn = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
    )
    sn = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
    )
    edges = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )
    # Bounded readout: ≤625 (src, dst, w) rows whatever the fact size.
    # The power iteration then runs DRIVER-SIDE over that frame: a
    # first version iterated as chained tiny DataFrame joins, and the
    # ~12 micro-stages of 25-row shuffles cost 2.5 s of pure scheduler
    # overhead per run — for a dim-sized graph the iteration is O(625)
    # float ops, so compute it where the data already is and ship the
    # result back as a local relation (rounded by Spark so the
    # HALF_UP rule matches the other engine).
    rows = edges.collect()
    nodes = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    n_nodes = len(nodes)
    out_w: dict[str, float] = {}
    for r in rows:
        out_w[r["src"]] = out_w.get(r["src"], 0.0) + r["w"]
    trans = [(r["src"], r["dst"], r["w"] / out_w[r["src"]]) for r in rows]
    pr = {n: 1.0 / n_nodes for n in nodes}
    for _ in range(3):
        mass: dict[str, float] = {}
        for s, d, p in trans:
            mass[d] = mass.get(d, 0.0) + pr[s] * p
        pr = {n: 0.15 / n_nodes + 0.85 * mass.get(n, 0.0) for n in nodes}
    out = spark.createDataFrame(
        [(n, pr[n]) for n in nodes], "nation string, pagerank double"
    )
    return out.select("nation", F.round("pagerank", 6).alias("pagerank"))


# --------------------------------------------------------------------------
# Market-basket analysis, graph statistics, EWMA, exact group percentiles


@register(
    "copurchase_association_rules",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_ord AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM b),
    item AS (SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS p_a, c.l_partkey AS p_b, COUNT(*) AS c_ab
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    -- count ratios are bit-identical doubles on both engines, so the
    -- rounds ride the decimal-string domain (r12 ROUND-tie convention)
    SELECT p.p_a, p.p_b, CAST(p.c_ab AS BIGINT) AS n_both,
           {round_double_sql("p.c_ab * 1e0 / ia.c", 6)}               AS confidence,
           {round_double_sql("p.c_ab * 1e0 * n_ord.n / (ia.c * ib.c)", 6)}   AS lift
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.p_a
    JOIN item ib ON ib.l_partkey = p.p_b
    CROSS JOIN n_ord
    """,
)
def copurchase_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for every
    part pair co-purchased in ≥2 orders, support count, confidence
    P(b|a) and lift P(a,b)/(P(a)P(b)) — the Apriori candidate-pair
    step with its rule metrics, all integer counts until two final
    rounded divisions.

    Scale shape: baskets reduce to one sorted part-set array per order
    (ONE shuffle of (order, part) pairs — the 10× stress probe showed
    a self-join degrading to a sort-merge join at scale, so the pair
    stream is generated MAP-SIDE instead: nested `transform` over the
    basket array emits exactly the i<j combinations, Σ basket_size²
    work bounded by real basket sizes ~O(10), never n², with no join
    at all). Item counts are a parts-sized frame joined back
    broadcast; the total-order count is a 1-row broadcast scalar."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # r14 restructure (guide §2.4, VERDICT r13 item 1): the r13 form
    # materialized TWO frames eagerly (the distinct basket table AND
    # the item-support table) because the basket table fed four
    # consumers — but the double eager checkpoint was a measured
    # wall-clock tax at bench SF (interleaved A/B: 3.01 s vs 2.04 s
    # with no materialization). Every consumer is in fact derivable
    # from the ORDER-GRAIN basket-array frame the pair stream needs
    # anyway: n_ord = countDistinct(l_orderkey) over b ≡ the basket
    # row count, and item support = per-part row count of b ≡ the
    # per-part count of exploded basket arrays (each order's sorted
    # set holds each part exactly once, because b is distinct). So the
    # wide distinct table now has exactly ONE consumer (no barrier
    # needed), the corpus scan + distinct shuffle run once, and the
    # single materialize-once sits on the compact order-grain frame
    # that all three readouts share. Oracle-verified identical.
    b = li.select("l_orderkey", "l_partkey").distinct()
    baskets = b.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    ).transform(materialize.checkpoint)
    n_ord = baskets.agg(F.count(F.lit(1)).alias("n"))
    item = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
    )
    pair = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS p_a, y AS p_b))))"
                )
            ).alias("pr")
        )
        .select("pr.p_a", "pr.p_b")
        .groupBy("p_a", "p_b")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("p_a"), F.col("c").alias("c_a"))
    ib = item.select(F.col("l_partkey").alias("p_b"), F.col("c").alias("c_b"))
    return (
        pair.join(F.broadcast(ia), "p_a")
        .join(F.broadcast(ib), "p_b")
        .join(F.broadcast(n_ord))
        .select(
            "p_a",
            "p_b",
            F.col("c_ab").alias("n_both"),
            F.round(F.col("c_ab") / F.col("c_a"), 6).alias("confidence"),
            F.round(
                F.col("c_ab") * F.col("n") / (F.col("c_a") * F.col("c_b")), 6
            ).alias("lift"),
        )
    )


@register(
    "copurchase_triangle_stats",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, c.l_partkey AS v
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    wedge AS (SELECT SUM(d * (d - 1) / 2) AS w FROM deg)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg)  AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e)    AS n_edges,
           (SELECT CAST(t AS BIGINT) FROM tri)         AS n_triangles,
           -- integer-count ratio: decimal-string round (r12 convention)
           {round_double_sql("(SELECT 3e0 * t FROM tri) / (SELECT w FROM wedge)", 6)}
             AS global_clustering
    """,
)
def copurchase_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (edge = pair sharing ≥2 orders). The engine uses
    the DEGREE-ORDERED orientation (Chiba–Nishizeki / Cohen's
    MapReduce form): each undirected edge points from its
    lower-(degree, id) endpoint to the higher, so wedge generation at
    a vertex is bounded by its ORIENTED out-degree ≤ O(√m) on any
    graph — the hot-vertex wedge explosion a raw two-path join
    suffers cannot happen. Total triangle count is
    orientation-invariant, so the oracle recounts with the simple
    id-ordered orientation and the integers must agree exactly;
    clustering = 3·T / Σ C(deg,2) rounded at the end."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    b = li.select("l_orderkey", "l_partkey").distinct()
    # edge stream generated map-side from per-order basket arrays
    # (same no-self-join shape as copurchase_association_rules)
    e = (
        b.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("pr")
        )
        .select("pr.u", "pr.v")
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select("u", "v")
    )
    # The edge list feeds EVERY downstream branch (degrees, orientation,
    # wedge sides, closing edges, the n_edges readout): left lazy, each
    # branch replayed the full basket-pair generation from the base
    # scan — 44 parquet scans of lineitem and 68 exchanges in one plan
    # (r13 optimization, guide §5: reuse ≫ recompute). Materialize it
    # once (eager checkpoint — measured faster than a lazy persist,
    # whose columnar encode costs more per run than the replay it
    # saves at this frame size); every consumer then reads the
    # materialized edge partitions. Same for the degree table, which is
    # consumed four times (two orientation sides, the rank map, the
    # wedge-count readout). At scale the edge list is the dominant
    # intermediate — recomputing it per branch is the textbook reuse
    # failure, not a local quirk.
    e = e.transform(materialize.checkpoint)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select("v"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    ).transform(materialize.checkpoint)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    # orient: lower (degree, id) -> higher (degree, id)
    oriented = (
        e.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("o")
        )
        .select("o.s", "o.t")
    )
    rank = deg.select(
        "node", (F.col("d") * F.lit(2**33) + F.col("node")).alias("rk")
    )
    w1 = oriented.join(
        F.broadcast(rank.select(F.col("node").alias("t"), F.col("rk").alias("rk_t"))),
        "t",
    )
    a = w1.select(F.col("s"), F.col("t").alias("b"), F.col("rk_t").alias("rk_b"))
    c = w1.select(F.col("s"), F.col("t").alias("c"), F.col("rk_t").alias("rk_c"))
    wedges = a.join(c, "s").where(F.col("rk_b") < F.col("rk_c"))
    closing = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).agg(F.count("*").alias("t"))
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("wedges"),
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return (
        stats.join(F.broadcast(n_edges))
        .join(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            F.round(F.lit(3.0) * F.col("t") / F.col("wedges"), 6).alias(
                "global_clustering"
            ),
        )
    )


@register(
    "revenue_ewma_by_nation",
    oracle="""
    -- non-finite prices are NULLed at input and a day with no
    -- measurable revenue is dropped from the fold — one NaN would
    -- otherwise poison the whole nation's EWMA (r11 extremes sweep)
    WITH o_fin AS (
      SELECT * REPLACE (CASE WHEN isfinite(o_totalprice)
                             THEN o_totalprice END AS o_totalprice)
      FROM orders
    ),
    daily AS (
      SELECT n.n_name AS nation, CAST(o.o_orderdate AS DATE) AS day,
             ROUND(SUM(o.o_totalprice), 2) AS rev
      FROM o_fin o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
      HAVING SUM(o.o_totalprice) IS NOT NULL
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(list_reduce(list(rev ORDER BY day),
                             (acc, x) -> 0.8e0 * acc + 0.2e0 * x), 4)
             AS ewma_revenue
    FROM daily GROUP BY nation
    """,
)
def revenue_ewma_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.2) of daily revenue
    per nation — the final smoothed level after folding the full
    history in day order. EWMA's recurrence y_t = (1−α)y_{t−1} + αx_t
    is inherently sequential per key, which is exactly what
    ``applyInPandas`` models: one vectorized Python worker per
    nation-group, with the day-ordered fold inside. The oracle runs
    the IDENTICAL fold via DuckDB's list_reduce, in the same order
    over the same 2dp-rounded daily sums, so the doubles match
    bit-for-bit before the final 4dp round.

    Scale shape: the fact table reduces to (nation, day) grain FIRST
    (one hash agg); the stateful fold then touches only
    days-per-nation rows per group — thousands, not billions — and
    groups parallelize across the cluster."""
    import pandas as pd

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    # non-finite prices NULLed at input; days with no measurable
    # revenue are dropped from the fold (r11 extremes sweep)
    orders = t["orders"].withColumn(
        "o_totalprice", cst.finite_or_null(F.col("o_totalprice"))
    )
    daily = (
        orders
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
        .filter(F.col("rev").isNotNull())
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        acc = None
        for x in pdf["rev"].to_numpy():
            acc = x if acc is None else 0.8 * acc + 0.2 * x
        return pd.DataFrame(
            {
                "nation": [pdf["nation"].iloc[0]],
                "n_days": [len(pdf)],
                "ewma_revenue": [round(acc, 4)],
            }
        )

    return daily.groupBy("nation").applyInPandas(
        fold, "nation string, n_days long, ewma_revenue double"
    )


@register(
    "brand_price_quartiles",
    oracle="""
    -- non-finite prices NULLed at input; quantiles ignore NULL
    -- (r11 extremes sweep)
    WITH p_fin AS (
      SELECT * REPLACE (CASE WHEN isfinite(p_retailprice)
                             THEN p_retailprice END AS p_retailprice)
      FROM part
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(quantile_cont(p_retailprice::DOUBLE, 0.25), 4) AS q1,
           ROUND(quantile_cont(p_retailprice::DOUBLE, 0.50), 4) AS median,
           ROUND(quantile_cont(p_retailprice::DOUBLE, 0.75), 4) AS q3
    FROM p_fin GROUP BY p_brand
    """,
)
def brand_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-brand price quartiles (linear interpolation at
    h=(n−1)p — the 'type 7' definition both Spark's `percentile` and
    DuckDB's `quantile_cont` implement), complementing the t-digest
    approximate path (`price_percentiles_approx`): exact where group
    cardinalities allow it, sketch where they don't. Spark's exact
    percentile is a proper aggregate with partial merge — no window,
    no global sort; memory is per-(group ✕ distinct-value), which is
    the documented reason the sketch variant exists for 100 TB."""
    # non-finite prices NULLed at input (r11 extremes sweep)
    part = load_tables(spark, sf_dir, "part")["part"].withColumn(
        "p_retailprice", cst.finite_or_null(F.col("p_retailprice"))
    )
    return part.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.round(F.percentile("p_retailprice", F.lit(0.25)), 4).alias("q1"),
        F.round(F.percentile("p_retailprice", F.lit(0.50)), 4).alias("median"),
        F.round(F.percentile("p_retailprice", F.lit(0.75)), 4).alias("q3"),
    )


# --------------------------------------------------------------------------
# Engine-ops tooling: skew diagnosis and join-size estimation


@register(
    "orders_key_skew_audit",
    oracle="""
    WITH g AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS sz
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT)           AS n_keys,
           CAST(MAX(sz) AS BIGINT)            AS max_group,
           ROUND(AVG(sz), 4)                  AS avg_group,
           ROUND(quantile_cont(sz::DOUBLE, 0.99), 4) AS p99_group,
           ROUND(MAX(sz) / AVG(sz), 4)        AS skew_ratio
    FROM g
    """,
)
def orders_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis — the measurement half of the salted
    join (operators/skew.py): per-key group sizes for the would-be
    shuffle key, reduced to the numbers that decide the strategy
    (max / avg / p99 group size, skew ratio). Run this BEFORE picking
    salting factors; a skew_ratio near 1 means plain hash join wins.

    Scale shape: one map-side-combining count per key (the only fact
    shuffle), then stats over the keys-sized frame — exact percentile
    included, since the frame is keys-sized, not fact-sized."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    g = orders.groupBy("o_custkey").agg(F.count("*").alias("sz"))
    return g.agg(
        F.count("*").alias("n_keys"),
        F.max("sz").alias("max_group"),
        F.round(F.avg("sz"), 4).alias("avg_group"),
        F.round(F.percentile(F.col("sz").cast("double"), F.lit(0.99)), 4).alias(
            "p99_group"
        ),
        F.round(F.max("sz") / F.avg("sz"), 4).alias("skew_ratio"),
    )


@register(
    "events_selfjoin_cardinality",
    oracle="""
    WITH g AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(c * c) AS BIGINT) AS predicted_rows,
           TRUE AS estimate_matches_actual
    FROM g
    """,
)
def events_selfjoin_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from key statistics: |A ⋈_k A| =
    Σ_k c_k² computed from per-key counts ALONE — the optimizer-
    statistics primitive that prices a join without running it. The
    audit executes the (test-scale) self-join for real and pins
    `estimate_matches_actual`; the oracle recomputes Σc² exactly and
    expects TRUE. At 100 TB only the estimator runs: one
    map-side-combining count per key plus a keys-sized sum."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    g = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    predicted = g.agg(F.sum(F.col("c") * F.col("c")).alias("predicted_rows"))
    a = ev.select(F.col("user_id").alias("k"))
    actual = (
        a.join(a.withColumnRenamed("k", "k2"), F.col("k") == F.col("k2"))
        .agg(F.count("*").alias("actual_rows"))
    )
    # empty input: SUM over no keys is NULL and NULL==0 is NULL, while
    # the oracle pins TRUE — an estimate of 0 for an empty join is
    # correct, so compare through a zero-coalesce (r10 empty sweep).
    return predicted.join(F.broadcast(actual)).select(
        "predicted_rows",
        (
            F.coalesce(F.col("predicted_rows"), F.lit(0))
            == F.col("actual_rows")
        ).alias("estimate_matches_actual"),
    )


@register(
    "session_window_rollup",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      -- event_id tie-break must match the brk window's order, else
      -- duplicate boundary timestamps can split a session differently
      -- between the two windows (ADVICE r3).
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           CAST(epoch_us(MIN(ts)) AS BIGINT)                        AS session_start_us,
           CAST(epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS BIGINT)   AS session_end_us,
           CAST(COUNT(*) AS BIGINT)                                 AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE `session_window` aggregate
    (30-minute inactivity gap) — the merging-interval operator the
    lag-based `user_sessions` hand-builds, here exercised directly:
    `groupBy(session_window(ts), user_id)` plans as a single
    SessionWindow aggregation (one shuffle on user_id, sessions merge
    inside the aggregate; the same operator backs the streaming
    `stream_sessionize`). The oracle derives identical sessions with
    the gaps-and-islands form: a new island when the gap is ≥ the
    window (Spark merges strictly-inside events only), and the
    session end is last-event + gap by `session_window` definition.
    Bounds are emitted as epoch microseconds (exact integers) so the
    cross-engine compare never depends on timestamp formatting.

    Measured comparison (STRESS.md): at 10× data the merging
    aggregate runs ~5× (session-buffer maintenance per group) vs the
    lag rewrite's ~1.2×; both stay registered — session_window is the
    streaming operator, the lag form is the batch scale path."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        ev.groupBy(sw, "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start").cast("timestamp")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


@register(
    "feature_hash_audit",
    oracle="""
    WITH f AS (
      SELECT 'brand=' || p_brand AS feat FROM part
      UNION ALL SELECT 'type=' || p_type FROM part
      UNION ALL SELECT 'name=' || p_name FROM part
    ),
    -- a NULL attribute emits NO feature (feat IS NULL after concat);
    -- both engines filter it before hashing (r11 nulls sweep)
    h AS (
      SELECT feat,
             split_part(feat, '=', 1) AS kind,
             list_reduce(
               list_prepend(0, list_transform(range(1, len(feat) + 1),
                                              i -> ascii(feat[i]))),
               (acc, c) -> (acc * 31 + c) % 1021) AS bucket
      FROM f WHERE feat IS NOT NULL
    ),
    d AS (SELECT DISTINCT kind, feat, bucket FROM h),
    load AS (
      SELECT kind, bucket, COUNT(*) AS n_feats
      FROM d GROUP BY kind, bucket
    )
    SELECT kind,
           CAST(SUM(n_feats) AS BIGINT)  AS n_distinct_features,
           CAST(COUNT(*) AS BIGINT)      AS n_buckets_used,
           CAST(MAX(n_feats) AS BIGINT)  AS max_bucket_load
    FROM load GROUP BY kind
    """,
)
def feature_hash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the 'hashing trick') with a PORTABLE hash:
    categorical part attributes map to 1021 buckets via a polynomial
    rolling hash over code points — integer arithmetic both engines
    evaluate identically (Spark `aggregate` HOF, DuckDB
    `list_reduce`), so bucket ids, bucket occupancy and collision
    loads all hash-check exactly. This is the audit you run before
    fixing a hash dimension for a model: distinct features per kind,
    buckets touched, worst collision load.

    Scale shape: feature streams are map-side projections unioned
    before ONE hash aggregate on (kind, bucket); nothing but bucket
    ids shuffles. The rolling hash runs in codegen — no Python."""
    part = load_tables(spark, sf_dir, "part")["part"]
    feats = None
    for kind, col in [("brand", "p_brand"), ("type", "p_type"),
                      ("name", "p_name")]:
        sl = part.select(
            F.concat(F.lit(kind + "="), F.col(col)).alias("feat"),
            F.lit(kind).alias("kind"),
        )
        feats = sl if feats is None else feats.unionByName(sl)
    bucket = F.expr(
        "aggregate(transform(sequence(1, length(feat)),"
        " i -> ascii(substring(feat, i, 1))),"
        " 0L, (acc, c) -> (acc * 31 + c) % 1021)"
    )
    # NULL attribute → NULL feat after concat → emits NO feature
    # (mirrors the oracle's WHERE feat IS NOT NULL; r11 nulls sweep)
    d = (
        feats.filter(F.col("feat").isNotNull())
        .select("kind", "feat", bucket.alias("bucket"))
        .distinct()
    )
    load = d.groupBy("kind", "bucket").agg(F.count("*").alias("n_feats"))
    return load.groupBy("kind").agg(
        F.sum("n_feats").alias("n_distinct_features"),
        F.count("*").alias("n_buckets_used"),
        F.max("n_feats").alias("max_bucket_load"),
    )


@register(
    "order_rank_in_customer_history",
    oracle=f"""
    -- percent_rank/cume_dist are small-integer ratios, bit-identical
    -- per row: decimal-string rounds (r13 class-a conversion,
    -- integrity.round_double_sql)
    SELECT o_orderkey, o_custkey,
           {round_double_sql("PERCENT_RANK() OVER w", 6)} AS pr,
           {round_double_sql("CUME_DIST() OVER w", 6)}    AS cd,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice NULLS FIRST, o_orderkey)
    """,
)
def order_rank_in_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does each order sit in ITS CUSTOMER's history? —
    percent_rank, cume_dist and ntile(4) over the per-customer value
    order, completing the ranking-window surface (rank/dense_rank/
    row_number are covered elsewhere). The window is keyed by
    customer: many SMALL partitions, so the sort-based window
    parallelizes and no partition outgrows an executor — the shape
    that makes exact distribution ranks viable at 100 TB (a GLOBAL
    percent_rank would be the single-partition anti-pattern; the
    global analog here is the approx-percentile family). Ties broken
    by (value, orderkey) so ntile assignment is deterministic on both
    engines. NULL placement is EXPLICIT on both sides (NULLS FIRST —
    Spark's ascending default vs DuckDB's NULLS LAST silently shifted
    every rank in a customer history containing an unpriced order;
    r11 nulls sweep)."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc_nulls_first(), "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@register(
    "latest_order_per_customer",
    oracle="""
    -- replay resolution (r11 duplicates sweep): a replayed
    -- o_orderkey would tie the scalar ordering key AND fan out the
    -- price join-back; one row per key survives, chosen by the
    -- deterministic content-total order (operators/dedup.
    -- resolve_replays twin)
    WITH o0 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                 ORDER BY o_custkey DESC NULLS LAST,
                          o_orderstatus DESC NULLS LAST,
                          o_totalprice DESC NULLS LAST,
                          o_orderdate DESC NULLS LAST,
                          o_orderpriority DESC NULLS LAST) AS rn
      FROM orders
    ),
    o_res AS (SELECT * EXCLUDE (rn) FROM o0 WHERE rn = 1),
    k AS (
      SELECT o_custkey,
             arg_max(o_orderkey,
                     (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                     * 10000000000 + o_orderkey)        AS latest_orderkey,
             CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS latest_date,
             CAST(COUNT(*) AS BIGINT)                   AS n_orders
      FROM o_res GROUP BY o_custkey
    )
    SELECT k.o_custkey, k.latest_orderkey,
           ROUND(o.o_totalprice, 2) AS latest_totalprice,
           k.latest_date, k.n_orders
    FROM k JOIN o_res o ON o.o_orderkey = k.latest_orderkey
    """,
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key WITHOUT a window: `max_by` (DuckDB
    `arg_max`) rides the ordinary hash aggregate — one shuffle,
    map-side partials, no sort, no row_number. This is the cheapest
    plan for top-1-per-group and the API-surface row for Spark's
    ordered-selection aggregates; the deterministic ordering key is a
    single scalar (epoch-days ⊕ orderkey) so ties cannot exist and
    both engines pick the identical row. NULL semantics: the latest
    order's price is reported AS IS — NULL when unrecorded. Spark's
    ``max_by(x, ord)`` happily returns a NULL x, but DuckDB's
    ``arg_max(arg, val)`` SKIPS NULL args (it would silently
    substitute the newest PRICED order's price), so the oracle picks
    the row by key and joins back for its price (r11 nulls sweep)."""
    from ..operators.dedup import resolve_replays

    # replay resolution at ingest (r11 duplicates sweep): a replayed
    # o_orderkey would tie the 'ties cannot exist' scalar ordering key
    orders = resolve_replays(
        load_tables(spark, sf_dir, "orders")["orders"], ["o_orderkey"]
    )
    key = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        * F.lit(10000000000).cast("bigint")
        + F.col("o_orderkey")
    )
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", key).alias("latest_orderkey"),
        F.round(F.max_by("o_totalprice", key), 2).alias("latest_totalprice"),
        F.max(F.col("o_orderdate").cast("date")).alias("latest_date"),
        F.count("*").alias("n_orders"),
    )


@register(
    "decimal_revenue_exact",
    oracle="""
    -- a non-finite price/discount is not money: it has no DECIMAL
    -- representation at all (the cast aborts) — NULLed at input on
    -- both engines, the sums skip it (r11 extremes sweep)
    WITH li AS (
      SELECT * REPLACE (
        CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END
          AS l_extendedprice,
        CASE WHEN isfinite(l_discount) THEN l_discount END AS l_discount)
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DOUBLE)
             AS gross_revenue,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2))
                    * CAST(l_discount AS DECIMAL(18, 4))) AS DOUBLE)
             AS discount_amount,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM li GROUP BY l_returnflag
    """,
)
def decimal_revenue_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money arithmetic in EXACT decimals: revenue sums computed in
    DECIMAL(18,2)/(18,4) — associative, order-independent, no float
    ulp anywhere — then emitted as doubles only at the boundary. This
    is the financial-reporting contract floating point cannot give
    (a double sum's last bits depend on partition order; a decimal
    sum is THE number): Spark's Decimal128 aggregation with overflow
    checking vs DuckDB's DECIMAL, same scales both sides. No ROUND()
    needed — exactness, not rounding, makes the hash match."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # non-finite money has no DECIMAL representation: NULL at input
    # (r11 extremes sweep)
    price = cst.finite_or_null(F.col("l_extendedprice")).cast("decimal(18,2)")
    disc = cst.finite_or_null(F.col("l_discount")).cast("decimal(18,4)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("double").alias("gross_revenue"),
        F.sum(price * disc).cast("double").alias("discount_amount"),
        F.count("*").alias("n_items"),
    )


@register(
    "nullsafe_segment_match",
    oracle="""
    WITH a AS (
      SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg
      FROM customer WHERE c_custkey % 2 = 0
    ),
    b AS (
      SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg
      FROM customer WHERE c_custkey % 2 = 1
    )
    SELECT a.seg, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    GROUP BY a.seg
    """,
)
def nullsafe_segment_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): two
    customer slices join on a DELIBERATELY NULLABLE key (one segment
    nulled out), and the NULL group must match itself — the semantics
    an ordinary equi join silently drops (NULL = NULL is NULL, so
    null-keyed rows vanish). Spark plans eqNullSafe as a hash join on
    the null-safe key, NOT a nested loop, so the null bucket shuffles
    like any other key value — this query is the proof row for that
    behavior, which warehouse dedup/merge logic (SCD attribute
    compares, operators/scd.py) relies on."""
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    a = cust.where(F.col("c_custkey") % 2 == 0).select(seg)
    b = cust.where(F.col("c_custkey") % 2 == 1).select(
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_b")
    )
    return (
        a.join(b, F.col("seg").eqNullSafe(F.col("seg_b")))
        .groupBy("seg")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "customer_order_years",
    oracle="""
    SELECT o_custkey,
           array_to_string(
             list_sort(list(DISTINCT CAST(EXTRACT(year FROM o_orderdate)
                                          AS BIGINT))), ',')
             AS active_years_csv,
           CAST(COUNT(DISTINCT EXTRACT(year FROM o_orderdate)) AS BIGINT)
             AS n_active_years
    FROM orders GROUP BY o_custkey
    """,
)
def customer_order_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY-VALUED aggregation: each customer's sorted distinct
    active years built as a single array column — the nested-output
    shape (BigQuery ARRAY_AGG(DISTINCT ... ORDER BY), reference
    main.py:33-38's repeated columns on the WRITE side) produced by
    the engine's own aggregate: collect_set → array_sort makes the
    array content AND order deterministic. The DRIVER-FACING
    projection canonicalizes the array to a CSV string
    (CORRECTNESS_r04: the driver's value-hash harness factorizes
    cells with pandas, and list cells are unhashable there — the
    array itself is asserted nested in
    tests/test_operators.py::test_customer_order_years_nested).
    One hash aggregate; arrays are bounded by the 7-year calendar."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    yr = F.year("o_orderdate").cast("bigint")
    arr = F.array_sort(F.collect_set(yr))
    return orders.groupBy("o_custkey").agg(
        F.array_join(arr.cast("array<string>"), ",").alias(
            "active_years_csv"
        ),
        F.size(arr).cast("bigint").alias("n_active_years"),
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             CAST(DATE '1998-12-31' - MAX(CAST(o_orderdate AS DATE)) AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             ROUND(SUM(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey)
                AS BIGINT) AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT)
             AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary, o_custkey) AS BIGINT)
             AS m_score
    FROM base
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM scoring: per customer,
    Recency (days since last order vs the dataset horizon), Frequency
    and Monetary total, each quintile-scored so 5 always means best
    (most recent / most often / most spent). The three ntile windows
    run over the CUSTOMER-GRAIN frame — the fact table reduces first
    (one hash agg), so the global windows sort thousands of rows, not
    billions; the (metric, custkey) tie-break makes every quintile
    assignment deterministic cross-engine.

    Scale: the three quintile scores run over the CUSTOMER-GRAIN frame
    — corpus-sized at 100 TB — so each uses
    operators/rank.py:with_global_ntile (range-bucketed parallel exact
    ntile, so the committed plan is free of ``Exchange
    SinglePartition``). The DESC
    recency order is expressed as ASC on the negated metric, which
    keeps the (metric DESC, custkey ASC) mixed-direction tie-break of
    the oracle exact. ``base`` is persisted because each score runs
    count + quantile + offset actions over it; the skinny
    (custkey, score) frames join back on the unique customer key."""

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    base = materialize.persist(
        orders.groupBy("o_custkey").agg(
            F.datediff(
                F.lit("1998-12-31").cast("date"),
                F.max(F.col("o_orderdate").cast("date")),
            )
            .cast("bigint")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )

    def score(value_col: str, out_col: str, negate: bool) -> DataFrame:
        src = base
        col = value_col
        if negate:  # metric DESC, custkey ASC ≡ (−metric) ASC, custkey ASC
            col = "__neg"
            src = base.withColumn("__neg", -F.col(value_col))
        return with_global_ntile(
            src, col, ["o_custkey"], 5, out_col=out_col
        ).select("o_custkey", F.col(out_col).cast("bigint").alias(out_col))

    r = score("recency_days", "r_score", negate=True)
    f = score("frequency", "f_score", negate=False)
    m = score("monetary", "m_score", negate=False)
    return (
        base.join(r, "o_custkey")
        .join(f, "o_custkey")
        .join(m, "o_custkey")
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
        )
    )


@register(
    "weekly_revenue_iso",
    oracle="""
    SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
             AS week_start,
           CAST(COUNT(*) AS BIGINT)        AS n_orders,
           ROUND(SUM(o_totalprice), 2)     AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def weekly_revenue_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-week revenue rollup: both engines' `date_trunc('week')`
    snap to MONDAY, and this query pins that calendar contract
    cross-engine (week bucketing is where calendar semantics silently
    diverge between systems — Sunday-start locales, ISO year
    boundaries). One pushed date filter + one two-phase aggregate on
    the truncated week."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        orders.where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .groupBy(
            F.date_trunc("week", F.col("o_orderdate"))
            .cast("date")
            .alias("week_start")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "nation_revenue_share_of_parent",
    oracle="""
    WITH n AS (
      SELECT r.r_name AS region, na.n_name AS nation,
             ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation na  ON c.c_nationkey = na.n_nationkey
      JOIN region r   ON na.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY region), 6)
             AS share_of_region,
           ROUND(revenue / SUM(revenue) OVER (), 6) AS share_of_global
    FROM n
    """,
)
def nation_revenue_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent OLAP report: every nation's revenue with its
    share of the region subtotal AND of the global total, in one pass
    — the hierarchy-proportion shape (MDX's ratio-to-parent, BI
    'percent of total') that grouping sets alone don't give because
    the child row needs its parents' totals ON the row. Window-over-
    aggregate does it without re-scanning: the fact reduces to the
    25-row nation grain first, then two window sums (region-keyed and
    global) run over that reduced frame — the global window is
    single-partition by definition but sees only dimension-sized
    input, the same reduce-first discipline as the skyline."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    n = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return n.select(
        "region",
        "nation",
        "revenue",
        F.round(
            F.col("revenue") / F.sum("revenue").over(W.partitionBy("region")), 6
        ).alias("share_of_region"),
        F.round(
            F.col("revenue") / F.sum("revenue").over(W.partitionBy()), 6
        ).alias("share_of_global"),
    )


@register(
    "longest_order_gap",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             CAST(CAST(o_orderdate AS DATE)
                  - LAG(CAST(o_orderdate AS DATE))
                      OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS BIGINT)
               AS gap_days
      FROM orders
    )
    SELECT o_custkey,
           CAST(MAX(gap_days) AS BIGINT)  AS max_gap_days,
           CAST(COUNT(gap_days) AS BIGINT) AS n_gaps
    FROM g
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    """,
)
def longest_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest inactivity streak per customer: max day-gap between
    consecutive orders — the churn-risk signal behind win-back
    campaigns, and the gap-analytics window shape (LAG diff over a
    keyed order) at customer grain. One shuffle on the customer key;
    the (date, orderkey) tie-break pins same-day order sequences so
    both engines difference identical neighbors."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate"), F.col("o_orderkey")
    )
    g = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("bigint")
        .alias("gap_days"),
    )
    return (
        g.where(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.max("gap_days").alias("max_gap_days"),
            F.count("gap_days").alias("n_gaps"),
        )
    )


# ---------------------------------------------------------------------------
# round-5 additions: remaining classic-OLAP surface (SURVEY §7b slate)
# ---------------------------------------------------------------------------


@register(
    "priority_groups_frame_revenue",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS mon,
             o_orderdate, o_totalprice,
             DENSE_RANK() OVER (
               PARTITION BY o_orderpriority,
                            strftime(CAST(o_orderdate AS DATE), '%Y-%m')
               ORDER BY o_orderdate) AS dr
      FROM orders
    )
    SELECT o_orderkey, o_orderpriority,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_orderpriority, mon ORDER BY dr
             RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS groups_sum,
           CAST(COUNT(*) OVER (
             PARTITION BY o_orderpriority, mon ORDER BY dr
             RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT)
             AS groups_n
    FROM o
    """,
)
def priority_groups_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011 GROUPS window frame (``GROUPS BETWEEN 1 PRECEDING AND
    1 FOLLOWING`` — the frame that steps over PEER GROUPS of the order
    key, not physical rows): revenue summed over each order's own
    order-date peer group plus the adjacent date on either side.
    NEITHER engine implements GROUPS natively (Spark 4 and DuckDB both
    reject it), so the engine exposes the exact standard rewrite:
    dense_rank() numbers the peer groups, and a RANGE frame of ±1 over
    that rank IS the GROUPS frame — peers share a rank, adjacent
    groups differ by exactly 1. Both sides compute the rewrite
    independently. Two window passes over ONE (priority, month)
    shuffle-sort; no join, no Python. The partition key deliberately
    includes the MONTH: a priority-only partition has 5 distinct keys,
    which caps window parallelism at 5 tasks forever — the 10× stress
    probe measured 6.5× cost growth on fixed cores for that shape vs
    ~1.3× after re-keying. Peer-group semantics are unchanged within
    each month; at 100 TB the frame never materializes more than the
    running aggregate state regardless of peer-group size."""
    orders = load_tables(spark, sf_dir, "orders")["orders"].withColumn(
        "mon", F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
    )
    dr = F.dense_rank().over(
        W.partitionBy("o_orderpriority", "mon").orderBy("o_orderdate")
    )
    wg = (
        W.partitionBy("o_orderpriority", "mon")
        .orderBy("dr")
        .rangeBetween(-1, 1)
    )
    return (
        orders.select(
            "o_orderkey", "o_orderpriority", "mon", "o_totalprice",
            dr.alias("dr"),
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.sum("o_totalprice").over(wg), 2).alias("groups_sum"),
            F.count("*").over(wg).alias("groups_n"),
        )
    )


@register(
    "qualify_nation_top_years",
    oracle="""
    WITH rev AS (
      SELECT n_name, EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS yr,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name, CAST(yr AS BIGINT) AS yr, revenue,
           CAST(RANK() OVER (PARTITION BY n_name
                             ORDER BY revenue DESC, yr) AS BIGINT) AS rnk,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY n_name), 6)
             AS share
    FROM rev
    QUALIFY rnk <= 2 OR share > 0.25e0
    """,
)
def qualify_nation_top_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-style post-window filter (BigQuery/Snowflake/DuckDB
    QUALIFY): keep each nation's two best revenue years PLUS any year
    carrying >25% of the nation's lifetime revenue — a predicate over
    TWO different window functions. Spark has no QUALIFY keyword; the
    engine expresses the identical semantics as a filter over the
    windowed projection (what QUALIFY desugars to), while the DuckDB
    oracle runs the native QUALIFY clause — cross-dialect parity, one
    aggregation + one window over the nation partition."""
    load_tables(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(
        """
        WITH rev AS (
          SELECT n_name, year(CAST(o_orderdate AS DATE)) AS yr,
                 ROUND(SUM(o_totalprice), 2) AS revenue
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          GROUP BY 1, 2
        ),
        win AS (
          SELECT n_name, CAST(yr AS BIGINT) AS yr, revenue,
                 CAST(RANK() OVER (PARTITION BY n_name
                                   ORDER BY revenue DESC, yr) AS BIGINT)
                   AS rnk,
                 ROUND(revenue / SUM(revenue) OVER (PARTITION BY n_name), 6)
                   AS share
          FROM rev
        )
        SELECT * FROM win WHERE rnk <= 2 OR share > 0.25D
        """
    )


@register(
    "grouping_id_revenue_routing",
    oracle="""
    SELECT CASE GROUPING_ID(n_name, yr)
             WHEN 0 THEN 'nation_year' WHEN 1 THEN 'nation'
             WHEN 2 THEN 'year'        ELSE 'grand' END AS level,
           CAST(GROUPING_ID(n_name, yr) AS BIGINT)      AS gid,
           COALESCE(n_name, 'ALL')                      AS nation,
           CAST(COALESCE(yr, -1) AS BIGINT)             AS yr,
           ROUND(SUM(o_totalprice), 2)                  AS revenue,
           CAST(COUNT(*) AS BIGINT)                     AS n_orders
    FROM (
      SELECT n_name, EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS yr,
             o_totalprice
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
    )
    GROUP BY GROUPING SETS ((n_name, yr), (n_name), (yr), ())
    -- HAVING COUNT(*) > 0: encode Spark's empty-input semantics —
    -- Spark's Expand+aggregate emits NO grouping-set rows (not even
    -- the grand total) over an empty relation, while ANSI emits the
    -- () row; no-op on non-empty input (r10 empty sweep)
    HAVING COUNT(*) > 0
    """,
)
def grouping_id_revenue_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING_ID routing over grouping sets: one multi-level
    aggregation whose rows are LABELED by which rollup level produced
    them — the bitmask GROUPING_ID(n_name, yr) distinguishes a genuine
    NULL group key from a rolled-up one (the thing COALESCE sentinels
    alone cannot), and the CASE routes each row to its report section.
    Spark plans GROUPING SETS as a single Expand + hash aggregate —
    one pass over the fact join, rows×4 only after the map-side
    projection; identical shape at any scale."""
    load_tables(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(
        """
        SELECT CASE GROUPING_ID(n_name, yr)
                 WHEN 0 THEN 'nation_year' WHEN 1 THEN 'nation'
                 WHEN 2 THEN 'year'        ELSE 'grand' END AS level,
               CAST(GROUPING_ID(n_name, yr) AS BIGINT)      AS gid,
               COALESCE(n_name, 'ALL')                      AS nation,
               CAST(COALESCE(yr, -1) AS BIGINT)             AS yr,
               ROUND(SUM(o_totalprice), 2)                  AS revenue,
               COUNT(*)                                     AS n_orders
        FROM (
          SELECT n_name, year(CAST(o_orderdate AS DATE)) AS yr,
                 o_totalprice
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
        )
        GROUP BY GROUPING SETS ((n_name, yr), (n_name), (yr), ())
        """
    )


@register(
    "orders_tablesample_hash",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)     AS n_sampled,
           ROUND(SUM(o_totalprice), 2)  AS sampled_revenue,
           ROUND(AVG(o_totalprice), 6)  AS avg_price
    FROM orders
    WHERE (o_orderkey * 2654435761 % 1000000007) % 100 < 5
    GROUP BY o_orderpriority
    """,
)
def orders_tablesample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TABLESAMPLE: a 5% Bernoulli sample drawn by a
    PORTABLE multiplicative hash of the row key (Knuth 2654435761 mod
    a large prime) instead of an RNG — so the sample is exactly
    reproducible across engines, runs and cluster sizes, and the
    oracle checks it EXACTLY (native TABLESAMPLE in both engines is
    seeded-random and not cross-engine comparable). The predicate is
    pure integer arithmetic in codegen, evaluated at the scan — at
    100 TB the sample never shuffles more than the 5% it keeps, and
    sampling composes with partition pruning. The estimator bias is
    the hash's, measurable: n_sampled/N vs the 5% nominal rate."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    bucket = knuth_bucket("o_orderkey", 100)
    return (
        orders.filter(bucket < 5)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 2).alias("sampled_revenue"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        )
    )


@register(
    "events_props_lateral",
    oracle="""
    SELECT event_type, k AS prop_key,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.' || k) AS BIGINT))
                AS BIGINT)          AS total,
           CAST(MAX(CAST(json_extract_string(props, '$.' || k) AS BIGINT))
                AS BIGINT)          AS max_val
    FROM (
      -- malformed/empty props parse to a NULL map in Spark and fan
      -- out to zero rows; the oracle's json_valid gate is the same
      -- row drop (r11 extremes sweep)
      SELECT event_type, props, unnest(json_keys(props)) AS k
      FROM events WHERE json_valid(props)
    )
    GROUP BY 1, 2
    """,
)
def events_props_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW / table-valued explode over a MAP column: the
    semi-structured props payload parses to map<string,string> and
    each row fans out to one row PER KEY (generic — no key names are
    hard-coded anywhere), then aggregates per (event_type, key). The
    Spark form is from_json + explode (LATERAL VIEW explode in SQL);
    generated columns stay in codegen. Map fan-out is map-side — the
    only shuffle carries (event_type, key) pairs."""
    events = load_tables(spark, sf_dir, "events")["events"]
    kv = events.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,string>")).alias(
            "prop_key", "v"
        ),
    )
    return kv.groupBy("event_type", "prop_key").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("bigint")).alias("total"),
        F.max(F.col("v").cast("bigint")).alias("max_val"),
    )


@register(
    "brand_price_disc_stats",
    oracle="""
    -- non-finite prices NULLed at input; quantiles ignore NULL
    -- (r11 extremes sweep)
    WITH p_fin AS (
      SELECT * REPLACE (CASE WHEN isfinite(p_retailprice)
                             THEN p_retailprice END AS p_retailprice)
      FROM part
    )
    SELECT p_brand,
           ROUND(quantile_disc(p_retailprice, 0.25e0), 2) AS p25_disc,
           ROUND(quantile_disc(p_retailprice, 0.5e0),  2) AS p50_disc,
           ROUND(quantile_disc(p_retailprice, 0.75e0), 2) AS p75_disc,
           ROUND(quantile_cont(p_retailprice::DOUBLE, 0.5e0), 6) AS p50_cont,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM p_fin GROUP BY p_brand
    """,
)
def brand_price_disc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distribution aggregates, DISCONTINUOUS family: exact
    PERCENTILE_DISC(q) WITHIN GROUP — always an actual data value (the
    smallest value whose cumulative distribution reaches q), vs the
    interpolating PERCENTILE_CONT shown alongside at the median. The
    existing brand_price_quartiles covers type-7 interpolation; this
    covers the type-1 step function, which is what you want for
    prices/latencies where an interpolated phantom value is
    meaningless. Spark plans these as sorted single-pass aggregates
    per group — one shuffle on p_brand."""
    # non-finite prices NULLed at input, via a conditioned temp view
    # (this query is the SQL-string form; r11 extremes sweep)
    t = load_tables(spark, sf_dir, "part")
    t["part"].withColumn(
        "p_retailprice", cst.finite_or_null(F.col("p_retailprice"))
    ).createOrReplaceTempView("part_fin")
    return spark.sql(
        """
        SELECT p_brand,
               ROUND(percentile_disc(0.25) WITHIN GROUP (ORDER BY p_retailprice), 2)
                 AS p25_disc,
               ROUND(percentile_disc(0.5)  WITHIN GROUP (ORDER BY p_retailprice), 2)
                 AS p50_disc,
               ROUND(percentile_disc(0.75) WITHIN GROUP (ORDER BY p_retailprice), 2)
                 AS p75_disc,
               ROUND(percentile_cont(0.5)  WITHIN GROUP (ORDER BY p_retailprice), 6)
                 AS p50_cont,
               COUNT(*) AS n_parts
        FROM part_fin GROUP BY p_brand
        """
    )


@register(
    "lineitem_unpivot_metrics",
    oracle="""
    SELECT l_returnflag, metric,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(val), 2)       AS total,
           ROUND(AVG(val), 6)       AS mean
    FROM (
      UNPIVOT (SELECT l_returnflag,
                      l_quantity::DOUBLE      AS l_quantity,
                      l_extendedprice::DOUBLE AS l_extendedprice,
                      l_discount::DOUBLE      AS l_discount,
                      l_tax::DOUBLE           AS l_tax
               FROM lineitem)
      ON l_quantity, l_extendedprice, l_discount, l_tax
      INTO NAME metric VALUE val
    )
    GROUP BY 1, 2
    """,
)
def lineitem_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — wide fact columns to long (metric, value) rows,
    then one aggregate per (returnflag, metric): the reshape every
    metrics store and ML feature pipeline needs, run with the native
    relational operator (Spark's UNPIVOT clause / DataFrame.unpivot —
    an Expand node, NOT a UNION of self-scans: the fact table is read
    ONCE and fanned out map-side ×4). The only shuffle carries
    (flag, metric) pairs. DuckDB's UNPIVOT syntax differs; semantics
    are identical."""
    load_tables(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, metric,
               COUNT(*)            AS n,
               ROUND(SUM(val), 2)  AS total,
               ROUND(AVG(val), 6)  AS mean
        FROM (
          SELECT l_returnflag,
                 CAST(l_quantity AS DOUBLE)      AS l_quantity,
                 CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                 CAST(l_discount AS DOUBLE)      AS l_discount,
                 CAST(l_tax AS DOUBLE)           AS l_tax
          FROM lineitem
        )
        UNPIVOT (val FOR metric IN
                 (l_quantity, l_extendedprice, l_discount, l_tax))
        GROUP BY 1, 2
        """
    )


@register(
    "daily_revenue_locf",
    oracle="""
    WITH obs AS (
      SELECT CAST(o_orderdate AS DATE) AS d, ROUND(SUM(o_totalprice), 2) AS rev
      FROM orders WHERE o_custkey % 97 = 0 GROUP BY 1
    ),
    cal AS (
      SELECT unnest(generate_series((SELECT MIN(d) FROM obs),
                                    (SELECT MAX(d) FROM obs),
                                    INTERVAL 1 DAY))::DATE AS d
    )
    SELECT cal.d AS date,
           COALESCE(ROUND(last_value(obs.rev IGNORE NULLS)
                          OVER (ORDER BY cal.d), 2), 0.0) AS rev_filled,
           obs.rev IS NOT NULL AS observed
    FROM cal LEFT JOIN obs ON cal.d = obs.d
    """,
)
def daily_revenue_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time series with LAST-OBSERVATION-CARRIED-FORWARD:
    a sparse daily series (one customer stratum's orders) joined onto
    a dense generated calendar, missing days filled by
    ``last_value IGNORE NULLS`` — the canonical LOCF idiom for sensor
    / price / balance series, complementing gap_filled_revenue's
    zero-fill. The calendar is sequence()-generated from the observed
    min/max (two-row bounded readout broadcast back, no driver loop);
    the carry is ONE global-order window — at scale you'd partition it
    per series key, which the same window spec expresses."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    obs = (
        orders.filter(F.col("o_custkey") % 97 == 0)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    bounds = obs.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("date")
    )
    w = W.orderBy("date").rowsBetween(W.unboundedPreceding, 0)
    return (
        cal.join(obs, cal["date"] == obs["d"], "left")
        .select(
            "date",
            F.coalesce(
                F.round(F.last("rev", ignorenulls=True).over(w), 2),
                F.lit(0.0),
            ).alias("rev_filled"),
            F.col("rev").isNotNull().alias("observed"),
        )
    )


@register(
    "purchase_nearest_view",
    oracle="""
    SELECT p.event_id, p.user_id,
           COALESCE(m.vid, -1)    AS nearest_view_id,
           COALESCE(m.gap, -1)    AS gap_us
    FROM events p
    LEFT JOIN LATERAL (
      SELECT v.event_id AS vid,
             CAST(abs(epoch_us(v.ts) - epoch_us(p.ts)) AS BIGINT) AS gap
      FROM events v
      WHERE v.user_id = p.user_id AND v.event_type = 'view'
        AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 7200000000
      ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)),
               (v.ts > p.ts),
               CASE WHEN v.ts <= p.ts THEN -v.event_id ELSE v.event_id END
      LIMIT 1
    ) m ON TRUE
    WHERE p.event_type = 'purchase'
    """,
)
def purchase_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (operators/asof.asof_nearest_join):
    each purchase event matched to the SAME USER's closest 'view'
    event in either time direction, within a ±2 h tolerance — the
    attribution/feature-engineering shape pandas calls merge_asof
    direction='nearest' and no SQL engine has natively. One shuffle on
    user_id + one within-partition sort; both directions' candidates
    come from two window carries over that single sort (no second
    shuffle, no range join). The oracle is an INDEPENDENT formulation
    (correlated LATERAL argmin with the same total tie order:
    distance, then backward-preferred, then id) — quadratic, fine at
    fixture scale, which is exactly why the engine's form is the one
    that survives 100 TB."""
    from ..operators.asof import asof_nearest_join

    events = load_tables(spark, sf_dir, "events")["events"]
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = asof_nearest_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_id="event_id",
        tolerance_us=7_200_000_000,
    )
    return out.select(
        "event_id",
        "user_id",
        F.coalesce("nearest_event_id", F.lit(-1)).alias("nearest_view_id"),
        F.coalesce("gap_us", F.lit(-1)).alias("gap_us"),
    )
