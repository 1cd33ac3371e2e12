"""Warehouse-maintenance queries: dimension history (SCD2), skew-safe
joins, and table statistics.

The reference's downstream warehouse (day-partitioned spend facts +
denormalized campaign attributes, reference main.py:22-40) needs
exactly these to operate at scale: change capture over dimension
snapshots, joins that survive hot keys, and the column statistics
that drive physical-layout and join-strategy decisions.


ROUND-over-aggregate sites (class b) stay native by documented-
tolerance decision; per-row sites ride integrity.round_double_sql.
See scripts/round_sites_classified.json `r13_class_b_decisions`.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import casting as cst
from ..operators import materialize
from ..operators.expectations import constraint_audit
from ..operators.exprs import knuth_bucket
from ..operators.incremental import finalize, merge_states, partial_state
from ..operators.integrity import multiset_diff, render_scaled_int_sql
from ..operators.profile import column_profile
from ..operators.scd import scd2_merge, snapshot_diff
from ..operators.skew import salted_join
from ..operators.timeseries import fill_date_gaps
from ..session import scoped_conf
from .registry import load_tables, read_parquet, register


def _customer_snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Two deterministic dimension snapshots derived from ``customer``
    (the testdata has no real history): the "old" snapshot is missing
    every 7th key (those become inserts), the "new" snapshot drops
    every 13th key (deletes) and bumps every 10th key's balance
    (updates). Both engines derive the same snapshots from the same
    base table, so the SCD2 output is fully oracle-checkable."""
    cust = load_tables(spark, sf_dir, "customer")["customer"].select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )
    old = cust.filter(F.col("c_custkey") % 7 != 0)
    new = cust.filter(F.col("c_custkey") % 13 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 10 == 0, F.round(F.col("c_acctbal") + 100.0, 2)
        ).otherwise(F.col("c_acctbal")),
    )
    return old, new


_SCD2_ORACLE = """
WITH base AS (
  SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal, 2) AS c_acctbal,
         c_mktsegment
  FROM customer
),
old AS (SELECT * FROM base WHERE c_custkey % 7 <> 0),
new AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 10 = 0 THEN ROUND(c_acctbal + 100.0, 2)
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM base WHERE c_custkey % 13 <> 0
),
j AS (
  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
         o.c_custkey IS NOT NULL AS in_old,
         n.c_custkey IS NOT NULL AS in_new,
         (o.c_name      IS NOT DISTINCT FROM n.c_name) AND
         (o.c_nationkey IS NOT DISTINCT FROM n.c_nationkey) AND
         (o.c_acctbal   IS NOT DISTINCT FROM n.c_acctbal) AND
         (o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment) AS same,
         o.c_name AS o_name, o.c_nationkey AS o_nationkey,
         o.c_acctbal AS o_acctbal, o.c_mktsegment AS o_mktsegment,
         n.c_name AS n_name, n.c_nationkey AS n_nationkey,
         n.c_acctbal AS n_acctbal, n.c_mktsegment AS n_mktsegment
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
SELECT c_custkey, o_name AS c_name, o_nationkey AS c_nationkey,
       o_acctbal AS c_acctbal, o_mktsegment AS c_mktsegment,
       DATE '2024-01-01' AS valid_from,
       CASE WHEN in_new AND same THEN DATE '9999-12-31'
            ELSE DATE '2024-02-01' END AS valid_to,
       (in_new AND same) AS is_current
FROM j WHERE in_old
UNION ALL
SELECT c_custkey, n_name, n_nationkey, n_acctbal, n_mktsegment,
       DATE '2024-02-01', DATE '9999-12-31', TRUE
FROM j WHERE in_new AND (NOT in_old OR NOT same)
"""


@register("scd2_dimension", oracle=_SCD2_ORACLE)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 merge of two customer-dimension snapshots
    (operators/scd.py): updates close the old version and open a new
    one, deletes close with no successor, inserts open at the new
    snapshot date. The oracle independently rebuilds the history with
    a FULL OUTER JOIN + IS NOT DISTINCT FROM comparison, so every
    validity range and current flag is value-checked.

    Fixes the reference's silent-history-rewrite (denormalized
    campaign names on fact rows, main.py:205-210): the history table
    this produces is what those fact rows should join to."""
    old, new = _customer_snapshots(spark, sf_dir)
    return scd2_merge(
        old,
        new,
        key="c_custkey",
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        old_date="2024-01-01",
        new_date="2024-02-01",
    )


_CDC_ORACLE = """
WITH base AS (
  SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal, 2) AS c_acctbal,
         c_mktsegment
  FROM customer
),
old AS (SELECT * FROM base WHERE c_custkey % 7 <> 0),
new AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 10 = 0 THEN ROUND(c_acctbal + 100.0, 2)
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM base WHERE c_custkey % 13 <> 0
)
SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'insert'
            WHEN n.c_custkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       n.c_name, n.c_nationkey, n.c_acctbal, n.c_mktsegment
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
   OR NOT ((o.c_name      IS NOT DISTINCT FROM n.c_name) AND
           (o.c_nationkey IS NOT DISTINCT FROM n.c_nationkey) AND
           (o.c_acctbal   IS NOT DISTINCT FROM n.c_acctbal) AND
           (o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment))
"""


@register("customer_snapshot_cdc", oracle=_CDC_ORACLE)
def customer_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff of two customer-dimension snapshots
    (operators/scd.py:37): one row per changed key with change_type ∈
    {insert, update, delete} and the new attribute values (NULL for
    deletes). The change set is what feeds the SCD2 merge and what the
    reference's append-only ETL (main.py:86-89) silently lacks — it
    has no way to notice a renamed campaign.

    Output is sized by churn, not dimension size: at 100 TB the
    full-outer join shuffles only the dimension (small by hypothesis),
    and unchanged keys are dropped before anything downstream."""
    old, new = _customer_snapshots(spark, sf_dir)
    return snapshot_diff(
        old, new, key="c_custkey",
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )


@register(
    "salted_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT)      AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by market segment through the SALTED join
    (operators/skew.py:19): the fact side's join key is salted over 8
    buckets and the dimension replicated 8×, so a hot customer spreads
    over 8 shuffle partitions instead of one. The oracle is the plain
    join — salting must be invisible in the result, which is exactly
    what this row checks.

    At 100 TB this is the escape hatch when AQE's skew splitting can't
    help (it splits *partitions*, not a single giant hash-table
    entry); here it runs against the same 8-way salt the scale path
    would use."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    cust = t["customer"].withColumnRenamed("c_custkey", "o_custkey")
    joined = salted_join(t["orders"], cust, on="o_custkey", salt=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


_GAPFILL_ORACLE = """
WITH rev AS (
  SELECT c_nationkey, o_orderdate AS order_date,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
  GROUP BY 1, 2
),
span AS (
  SELECT c_nationkey, MIN(order_date) AS d0, MAX(order_date) AS d1
  FROM rev GROUP BY 1
),
cal AS (
  SELECT c_nationkey,
         CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
           AS order_date
  FROM span
)
SELECT cal.c_nationkey, cal.order_date,
       rev.revenue IS NOT NULL AS was_observed,
       LAST_VALUE(rev.revenue IGNORE NULLS) OVER (
         PARTITION BY cal.c_nationkey ORDER BY cal.order_date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue
FROM cal LEFT JOIN rev
  ON cal.c_nationkey = rev.c_nationkey AND cal.order_date = rev.order_date
"""


@register("gap_filled_revenue", oracle=_GAPFILL_ORACLE)
def gap_filled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue per nation, densified to each nation's full 1995
    calendar with gaps carried forward (operators/timeseries.py). At
    sf0.01 a nation sees an order roughly every 4th day, so ~75% of
    the output rows are LOCF fills — the oracle rebuilds the same
    calendar with generate_series + LAST_VALUE IGNORE NULLS, so every
    fill value and the was_observed flag are value-checked.

    This is the densify step the reference's day-grain fact table
    (main.py:22-40 — days without delivery have no row) needs before
    any rolling-window math is trustworthy."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    rev = (
        t["orders"]
        .filter(F.col("o_orderdate").between("1995-01-01", "1995-12-31"))
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "c_nationkey", F.col("o_orderdate").cast("date").alias("order_date")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    return fill_date_gaps(
        rev, key_col="c_nationkey", date_col="order_date", value_col="revenue"
    )


_PROFILE_ORACLE = """
WITH n AS (
  SELECT * FROM (VALUES
    ('l_quantity'), ('l_extendedprice'), ('l_discount')
  ) AS t(col_name)
),
s AS (
  SELECT * FROM (VALUES ('l_returnflag'), ('l_linestatus')) AS t(col_name)
),
prof_num AS (
  SELECT 'l_quantity' AS col_name, COUNT(*) AS n_rows,
         COUNT(*) - COUNT(l_quantity) AS n_nulls,
         COUNT(DISTINCT l_quantity) AS n_distinct,
         ROUND(MIN(l_quantity), 4) AS min_num, ROUND(MAX(l_quantity), 4) AS max_num
  FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
         COUNT(DISTINCT l_extendedprice),
         ROUND(MIN(l_extendedprice), 4), ROUND(MAX(l_extendedprice), 4)
  FROM lineitem
  UNION ALL
  SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
         COUNT(DISTINCT l_discount),
         ROUND(MIN(l_discount), 4), ROUND(MAX(l_discount), 4)
  FROM lineitem
),
prof_str AS (
  SELECT 'l_returnflag' AS col_name, COUNT(*) AS n_rows,
         COUNT(*) - COUNT(l_returnflag) AS n_nulls,
         COUNT(DISTINCT l_returnflag) AS n_distinct,
         MIN(l_returnflag) AS min_str, MAX(l_returnflag) AS max_str
  FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', COUNT(*), COUNT(*) - COUNT(l_linestatus),
         COUNT(DISTINCT l_linestatus),
         MIN(l_linestatus), MAX(l_linestatus)
  FROM lineitem
)
SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_nulls AS BIGINT) AS n_nulls,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       TRUE AS ndv_within_tol,
       min_num, max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM prof_num
UNION ALL
SELECT col_name, CAST(n_rows AS BIGINT), CAST(n_nulls AS BIGINT),
       CAST(n_distinct AS BIGINT), TRUE,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_str, max_str
FROM prof_str
"""


@register("column_profile_lineitem", oracle=_PROFILE_ORACLE)
def column_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics over lineitem
    (operators/profile.py): rows / nulls / exact NDV / min-max in one
    aggregate pass, plus the HLL++ approx-NDV audited against the
    exact count with an integer-arithmetic 2% bound the oracle pins
    TRUE. These are the numbers the 100 TB planner runs on (broadcast
    eligibility, shuffle width, z-order column choice)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return column_profile(
        li,
        numeric_cols=["l_quantity", "l_extendedprice", "l_discount"],
        string_cols=["l_returnflag", "l_linestatus"],
    )


# COALESCE(SUM(...), 0): an EMPTY table trivially passes every
# constraint (0 violations, passed=TRUE — what the Spark operator
# reports); bare SUM over no rows would read NULL/NULL (r10 sweep).
_AUDIT_ORACLE = """
SELECT 'not_null:o_custkey' AS constraint_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_violations,
       COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) = 0
         AS passed
FROM orders
UNION ALL
SELECT 'range:o_totalprice', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NULL
                       OR o_totalprice < 0 OR o_totalprice > 450000
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
       COALESCE(SUM(CASE WHEN o_totalprice IS NULL
                  OR o_totalprice < 0 OR o_totalprice > 450000
                THEN 1 ELSE 0 END), 0) = 0
FROM orders
UNION ALL
SELECT 'in_set:o_orderstatus', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus IS NULL
                       OR o_orderstatus NOT IN ('O', 'F', 'P')
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
       COALESCE(SUM(CASE WHEN o_orderstatus IS NULL
                  OR o_orderstatus NOT IN ('O', 'F', 'P')
                THEN 1 ELSE 0 END), 0) = 0
FROM orders
UNION ALL
SELECT 'unique:o_orderkey', CAST(COALESCE(SUM(cnt), 0) AS BIGINT),
       CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT),
       COALESCE(SUM(cnt - 1), 0) = 0
FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'fk:o_custkey->c_custkey', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN o.o_custkey IS NOT NULL
                               AND c.c_custkey IS NULL
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
       COALESCE(SUM(CASE WHEN o.o_custkey IS NOT NULL
                      AND c.c_custkey IS NULL
                THEN 1 ELSE 0 END), 0) = 0
FROM orders o
LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON o.o_custkey = c.c_custkey
"""


@register("constraint_audit_orders", oracle=_AUDIT_ORACLE)
def constraint_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit over ``orders``
    (operators/expectations.py): not-null, range, set-membership,
    key-uniqueness and referential integrity into ``customer`` in one
    report. The scan checks share a single aggregate pass; the FK
    check broadcasts the distinct dimension keys — the fact table is
    scanned once per constraint CLASS, not per constraint. The range
    cap is deliberately tight (450 000) so the report proves it
    counts real violations, not just zeros."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    return constraint_audit(
        t["orders"],
        not_null=["o_custkey"],
        ranges={"o_totalprice": (0.0, 450000.0)},
        in_set={"o_orderstatus": ["O", "F", "P"]},
        unique=[["o_orderkey"]],
        foreign_keys=[("o_custkey", t["customer"], "c_custkey")],
    )


_INCR_ORACLE = """
-- money sums in DECIMAL: decimal addition is associative, so the
-- engine's history+delta state merge is bit-identical to this one
-- full sum regardless of grouping (double partials drifted a cent on
-- a .575 avg boundary; r11 nulls sweep). avg divides the exact total
-- in DOUBLE on both sides so both engines round the same binary.
-- and a non-finite price is not money: no DECIMAL representation,
-- NULLed at input on both engines (r11 extremes sweep)
WITH o_fin AS (
  SELECT * REPLACE (CASE WHEN isfinite(o_totalprice)
                         THEN o_totalprice END AS o_totalprice)
  FROM orders
),
agg AS (
  SELECT strftime(o_orderdate, '%Y-%m')               AS month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2)))     AS dtotal,
         COUNT(o_totalprice)                          AS n,
         MIN(o_totalprice)                            AS mn,
         MAX(o_totalprice)                            AS mx
  FROM o_fin
  GROUP BY 1
),
-- avg = FLOOR((2·cents + n) / (2·n)) in EXACT integer arithmetic,
-- matching finalize()'s (num - pmod(num,den))/den: subtracting the
-- POSITIVE mod before '//' makes DuckDB's truncating division an
-- explicit floor, so a NEGATIVE total (refund-heavy cell) floors on
-- both engines instead of DuckDB truncating toward zero (-7//2 = -3)
-- while Spark floors (-4) — r12 advisory. Ties round toward +inf on
-- both sides (half-up for the non-negative money this query sums).
-- n = 0 → den NULL → avg NULL (DuckDB x % NULL and x // NULL are
-- NULL, no divide error).
div AS (
  SELECT month, dtotal, n, mn, mx,
         2 * CAST(dtotal * 100 AS BIGINT) + n          AS num,
         CASE WHEN n > 0 THEN 2 * n END                AS den
  FROM agg
)
SELECT month,
       CAST(dtotal AS DOUBLE)                  AS total,
       CAST(n AS BIGINT)                       AS n,
       CAST((num - ((num % den + den) % den)) // den AS DOUBLE) / 100
                                               AS avg,
       ROUND(mn, 2)                            AS min,
       ROUND(mx, 2)                            AS max
FROM div
"""


@register("incremental_monthly_revenue", oracle=_INCR_ORACLE)
def incremental_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (operators/incremental.py): the
    monthly revenue table is kept as mergeable partial states; the
    "history" slice (orders before 1999-01-01) and the "newly arrived"
    slice are aggregated separately and MERGED, never re-scanned
    together — nightly cost O(delta), not O(history), at 100 TB. The
    oracle is a FULL recompute over all orders: a hash match proves
    the algebraic merge is exact, including the avg derived from
    states at finalize time. The money column rides the states as
    DECIMAL(18,2): decimal addition is associative, so the
    history+delta merge is bit-identical to the oracle's single sum
    under ANY grouping — double partials drifted a cent on a .575
    avg half-way case (r11 nulls sweep)."""
    orders = (
        load_tables(spark, sf_dir, "orders")["orders"]
        .withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
        # non-finite money has no DECIMAL representation: NULL at
        # input (r11 extremes sweep)
        .withColumn(
            "o_totalprice",
            cst.finite_or_null(F.col("o_totalprice")).cast("decimal(18,2)"),
        )
    )
    cut = F.to_date(F.lit("1999-01-01"))
    history = orders.filter(F.col("o_orderdate") < cut)
    delta = orders.filter(F.col("o_orderdate") >= cut)
    merged = merge_states(
        partial_state(history, ["month"], "o_totalprice"),
        partial_state(delta, ["month"], "o_totalprice"),
    )
    out = finalize(merged)
    # decimal state → decimal total/min/max; the report (and oracle)
    # speak double at the boundary
    return out.select(
        "month",
        F.col("total").cast("double").alias("total"),
        "n",
        "avg",
        F.col("min").cast("double").alias("min"),
        F.col("max").cast("double").alias("max"),
    )


_MANIFEST_ORACLE = f"""
-- non-finite money/quantity renders as its IEEE class token and
-- out-of-BIGINT-range values as a sign/'big' token so the checksum
-- stays TOTAL over corrupt rows (r11 extremes sweep + r12 advisory;
-- CASE text generated by integrity.render_scaled_int_sql so engine
-- and oracle share one ladder)
WITH h AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         CAST(('0x' || substr(sha256(concat_ws('|',
             l_orderkey::VARCHAR, l_linenumber::VARCHAR,
             l_partkey::VARCHAR, l_suppkey::VARCHAR,
             {render_scaled_int_sql("l_quantity")},
             {render_scaled_int_sql("l_extendedprice", 100)},
             {render_scaled_int_sql("l_discount", 100)},
             l_returnflag, l_linestatus)), 1, 7)) AS BIGINT) AS rh
  FROM lineitem
)
SELECT ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(rh) AS BIGINT)  AS checksum
FROM h GROUP BY ship_month
"""


@register("lineitem_integrity_manifest", oracle=_MANIFEST_ORACLE)
def lineitem_integrity_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ship-month integrity manifest (operators/integrity.py):
    row count + order-insensitive 28-bit-hash-sum checksum over the
    business key and exact-cents money columns. Two copies of the
    table produce identical manifests iff they hold the same rows —
    regardless of row order, file layout, or engine; the DuckDB hash
    match here IS that cross-engine guarantee. One aggregate pass;
    manifests re-aggregate to coarser grains because the checksum is
    a sum."""
    from ..operators.integrity import partition_manifest, render_scaled_int

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"].withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    hashed = [
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_partkey"),
        F.col("l_suppkey"),
        render_scaled_int(F.col("l_quantity")),
        render_scaled_int(F.col("l_extendedprice"), 100),
        render_scaled_int(F.col("l_discount"), 100),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    ]
    return partition_manifest(li, ["ship_month"], hashed)


# --------------------------------------------------------------------------
# Layout proofs promoted to oracle-checked query form (VERDICT r2 item 8):
# the z-order skipping and small-file-compaction guarantees used to live
# only in tests/test_scale_layout.py; these audit queries make them part
# of the driver's CORRECTNESS gate. Pattern = sketch-audit oracles: the
# exact quantities (band row counts, table counts) are recomputed by
# DuckDB; the layout claims are engine-verified booleans pinned TRUE.
# --------------------------------------------------------------------------

_ZORDER_ORACLE = """
    WITH b AS (
      SELECT MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
             MIN(l_suppkey) AS sk_min, MAX(l_suppkey) AS sk_max
      FROM lineitem
    )
    SELECT
      CAST(SUM(CASE WHEN l_partkey >= pk_min + 0.45 * (pk_max - pk_min)
                     AND l_partkey <= pk_min + 0.55 * (pk_max - pk_min)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_band_pk,
      CAST(SUM(CASE WHEN l_suppkey >= sk_min + 0.45 * (sk_max - sk_min)
                     AND l_suppkey <= sk_min + 0.55 * (sk_max - sk_min)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_band_sk,
      TRUE AS linear_skips_own_dim,
      TRUE AS linear_blind_other_dim,
      TRUE AS zorder_skips_both_dims
    FROM lineitem, b
"""


@register("zorder_skip_audit", oracle=_ZORDER_ORACLE)
def zorder_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (operators/zorder.py) file-skipping proof as a driver row.

    Rewrites lineitem's (l_partkey, l_suppkey, l_extendedprice) twice —
    Morton-curve z-ordered vs linearly sorted on l_partkey alone, 16
    files each — then measures, from the parquet footers, the fraction
    of files a 10%-wide mid-range band predicate on EACH key column
    must touch. Engine-verified claims (booleans): the linear layout
    skips on its own column (≤25% touched) but is blind on the other
    (>90%), while the z-order layout skips meaningfully on BOTH and its
    worst dimension beats the linear layout's worst. DuckDB anchors the
    row by recomputing the two band row counts exactly (band bounds are
    min + {0.45,0.55}·range — identical IEEE arithmetic both engines).
    The footer readout is 2×16 files — bounded, never data-sized."""
    import glob as _glob

    import pyarrow.parquet as pq

    from ..operators.zorder import write_zordered

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"].select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    mm = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).first()
    if mm[0] is None:
        # empty source: no key range to band, no files to lay out —
        # the oracle's SUMs read NULL and its layout claims hold
        # vacuously (r10 empty sweep)
        return spark.createDataFrame(
            [(None, None, True, True, True)],
            "n_band_pk long, n_band_sk long, linear_skips_own_dim"
            " boolean, linear_blind_other_dim boolean,"
            " zorder_skips_both_dims boolean",
        )
    pk_lo, pk_hi = (mm[0] + f * (mm[1] - mm[0]) for f in (0.45, 0.55))
    sk_lo, sk_hi = (mm[2] + f * (mm[3] - mm[2]) for f in (0.45, 0.55))

    tmp = materialize.scratch("zorder_audit_")
    zpath, spath = f"{tmp}/zord", f"{tmp}/linear"
    write_zordered(li, zpath, ["l_partkey", "l_suppkey"], n_files=16)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(spath)
    )

    def touch_fraction(path: str, col: str, lo: float, hi: float) -> float:
        # zero-row part files are legal parquet (Spark's writer
        # always emits a schema file for an empty partition 0) —
        # they hold no row groups, are skipped by every reader,
        # and must not crash or dilute the footer readout (r12)
        files = _glob.glob(f"{path}/part-*.parquet")
        touched = n_data_files = 0
        for f in files:
            pf = pq.ParquetFile(f)
            md = pf.metadata
            if md.num_row_groups == 0:
                continue
            n_data_files += 1
            idx = pf.schema_arrow.names.index(col)
            fmin = min(md.row_group(i).column(idx).statistics.min
                       for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max
                       for i in range(md.num_row_groups))
            touched += 1 if (fmax >= lo and fmin <= hi) else 0
        # fully-empty input → every part file is a zero-row-group
        # schema file → no data files to touch (r13 advisory)
        return touched / n_data_files if n_data_files else 0.0

    z_pk = touch_fraction(zpath, "l_partkey", pk_lo, pk_hi)
    z_sk = touch_fraction(zpath, "l_suppkey", sk_lo, sk_hi)
    s_pk = touch_fraction(spath, "l_partkey", pk_lo, pk_hi)
    s_sk = touch_fraction(spath, "l_suppkey", sk_lo, sk_hi)

    z_worst = max(z_pk, z_sk)
    # the z-order claim is SCALE-GATED: below ~1000 rows/file the
    # Morton boxes are coarser than the 10% band and the worst-dim
    # fraction hovers right at the 0.8 threshold (observed flaky at
    # sf0.001 in the r11 nulls-fixture runs — the banded columns are
    # not even nulled there, it is pure layout granularity); the
    # linear-layout claims are exact range-partition properties and
    # hold at any size. Vacuously TRUE below the floor, matching the
    # oracle's pinned TRUE — same convention as the one-row-sweep
    # scale-floor booleans.
    n_rows = li.count()
    zorder_claim = (
        bool(z_worst < 0.8 and z_worst < s_sk)
        if n_rows >= 16 * 1000
        else True
    )
    return li.agg(
        F.sum(F.col("l_partkey").between(pk_lo, pk_hi).cast("long"))
        .alias("n_band_pk"),
        F.sum(F.col("l_suppkey").between(sk_lo, sk_hi).cast("long"))
        .alias("n_band_sk"),
    ).select(
        "n_band_pk",
        "n_band_sk",
        F.lit(bool(s_pk <= 0.25)).alias("linear_skips_own_dim"),
        F.lit(bool(s_sk > 0.9)).alias("linear_blind_other_dim"),
        F.lit(zorder_claim).alias("zorder_skips_both_dims"),
    )


_COMPACTION_ORACLE = """
    -- fragmented_before is DATA-CONDITIONED: an empty source writes
    -- zero day dirs, so there is no fragmentation to observe; the
    -- other two booleans hold vacuously (0 == 0) on empty input
    SELECT CAST(COUNT(*) AS BIGINT)                       AS n_rows,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           COUNT(*) > 0 AS fragmented_before,
           TRUE AS one_file_per_day,
           TRUE AS rows_preserved
    FROM events
"""


@register("compaction_file_audit", oracle=_COMPACTION_ORACLE)
def compaction_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sinks.compact_partitions) proof as a
    driver row. Writes events day-partitioned with forced fragmentation
    (16-way repartition → up to 16 files per day directory — the shape
    a streaming foreachBatch sink leaves behind), compacts, and
    verifies: the table WAS fragmented, compaction leaves exactly one
    file per day partition, and no row was lost or duplicated (count
    re-read from the compacted files). DuckDB recomputes the row and
    day counts from the source; file counts are engine-verified
    booleans (one glob over ~30 day dirs — bounded metadata, not
    data)."""
    import glob as _glob

    from ..sinks import compact_partitions

    ev = load_tables(spark, sf_dir, "events")["events"].withColumn(
        "date", F.to_date("ts")
    )
    tmp = materialize.scratch("compact_audit_")
    path = f"{tmp}/events_tbl"
    ev.repartition(16).write.partitionBy("date").parquet(path)
    files_before = len(_glob.glob(f"{path}/date=*/part-*.parquet"))
    n_dirs = len(_glob.glob(f"{path}/date=*"))
    compact_partitions(
        spark, path, partition_field="date", clustering_fields=["user_id"]
    )
    files_after = len(_glob.glob(f"{path}/date=*/part-*.parquet"))
    # the schema-carrying reader tolerates an empty source (zero day
    # dirs written — r10 empty sweep)
    from ..sinks import read_published_or_empty

    n_back = read_published_or_empty(spark, path, like=ev).count()
    src_rows = ev.count()
    # the returned plan aggregates the SOURCE table (persistent), with
    # the layout claims as engine-verified literals
    return ev.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("date").alias("n_days"),
    ).select(
        "n_rows",
        "n_days",
        F.lit(bool(files_before > n_dirs)).alias("fragmented_before"),
        F.lit(bool(files_after == n_dirs)).alias("one_file_per_day"),
        F.lit(bool(n_back == src_rows)).alias("rows_preserved"),
    )


_BUCKETED_ORACLE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)        AS n_items,
           ROUND(SUM(l_extendedprice), 2)  AS revenue,
           TRUE AS colocated_join_shuffle_free,
           TRUE AS bucketed_matches_plain
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
"""


@register("bucketed_join_audit", oracle=_BUCKETED_ORACLE)
def bucketed_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (catalog.write_bucketed_table) proof as
    a driver row — the layout that converts the recurring fact⋈fact
    shuffle into a one-time ingest cost at 100 TB.

    Writes orders and lineitem as managed tables bucketed 8 ways on the
    order key, joins them with broadcast disabled, and engine-verifies
    two claims: the bucketed join plans with NO Exchange on either side
    (bucket i joins bucket i), and it returns exactly the plain join's
    row count. DuckDB anchors the row by recomputing the join aggregate
    (items + revenue per order priority) exactly. All bucketed-table
    work happens eagerly so the returned plan depends only on the
    persistent parquet source, never on the dropped managed tables."""
    from ..catalog import write_bucketed_table
    from ..operators.skew import explain_has_exchange

    tabs = load_tables(spark, sf_dir, "orders", "lineitem")
    orders, lineitem = tabs["orders"], tabs["lineitem"]
    db = "bucket_audit_db"

    def scrub():
        import shutil

        spark.sql(f"DROP TABLE IF EXISTS {db}.orders_b")
        spark.sql(f"DROP TABLE IF EXISTS {db}.lineitem_b")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)

    scrub()
    try:
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            write_bucketed_table(
                orders.select("o_orderkey", "o_orderpriority"),
                db, "orders_b", "o_orderkey", 8,
            )
            write_bucketed_table(
                lineitem.select("l_orderkey", "l_extendedprice"),
                db, "lineitem_b", "l_orderkey", 8, sort_cols=["l_orderkey"],
            )
            o, li = spark.table(f"{db}.orders_b"), spark.table(f"{db}.lineitem_b")
            joined = o.join(li, o.o_orderkey == li.l_orderkey)
            shuffle_free = not explain_has_exchange(joined)
            n_bucketed = joined.count()
            n_plain = orders.join(
                lineitem, orders.o_orderkey == lineitem.l_orderkey
            ).count()
    finally:
        scrub()

    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .select(
            "o_orderpriority",
            "n_items",
            "revenue",
            F.lit(bool(shuffle_free)).alias("colocated_join_shuffle_free"),
            F.lit(bool(n_bucketed == n_plain)).alias("bucketed_matches_plain"),
        )
    )


_FUZZY_ORACLE = """
    WITH s AS (
      SELECT p_partkey, p_name,
             lower(string_split_regex(trim(p_name), '\\s+')[1]) AS blk
      FROM part
    )
    SELECT CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM s a JOIN s b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 6
    GROUP BY 1
"""


@register("fuzzy_part_name_pairs", oracle=_FUZZY_ORACLE)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (operators/fuzzy.py) over part names:
    record-linkage pairs within first-token blocks at edit distance
    ≤ 6, reported as a per-distance pair histogram (the pair list
    itself repeats heavily — the histogram checks every comparison
    while keeping the driver row bounded). DuckDB mirrors the blocking
    scheme and Levenshtein exactly, so every candidate pair and
    distance is value-checked. Scale shape: one equi-shuffle on the
    block key, candidate space Σ block², no n² comparison anywhere."""
    from ..operators.fuzzy import blocked_fuzzy_pairs

    part = load_tables(spark, sf_dir, "part")["part"]
    pairs = blocked_fuzzy_pairs(part, "p_partkey", "p_name", max_dist=6)
    return (
        pairs.groupBy(F.col("dist").cast("long").alias("dist"))
        .agg(F.count("*").alias("n_pairs"))
    )


_DPP_ORACLE = """
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS date FROM events),
    r AS (SELECT date, row_number() OVER (ORDER BY date) AS rn FROM d)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2)   AS total_value,
           -- DATA-CONDITIONED: an empty fact writes zero partitions,
           -- AQE replaces the join, and no pruning subquery exists
           (SELECT COUNT(*) FROM events) > 0 AS dpp_in_plan,
           TRUE AS dpp_result_matches
    FROM events e JOIN r ON CAST(e.ts AS DATE) = r.date
    WHERE r.rn % 7 = 1
"""


@register("dpp_audit", oracle=_DPP_ORACLE)
def dpp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning proof as a driver row: the fact table
    is written day-partitioned, the date dimension is filtered on a
    column NOT derivable from the join key (a row_number tag — an
    expression of the date would be folded into a STATIC partition
    filter by constraint propagation, which is exactly what this audit
    must not measure), and the physical plan must carry a
    dynamicpruning subquery on the fact scan: partitions are pruned at
    RUNTIME from the broadcast dim values. At 100 TB this is the
    difference between scanning every day of history and scanning the
    handful of days the dim selects. DuckDB recomputes the surviving
    aggregate exactly; the plan marker and the DPP-equals-plain result
    equality are engine-verified booleans."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, "events")["events"].withColumn(
        "date", F.to_date("ts")
    )
    dim = (
        ev.select("date").distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("date")))
    )
    picked = dim.filter(F.col("rn") % 7 == 1)

    tmp = materialize.scratch("dpp_audit_")
    ev.write.partitionBy("date").mode("overwrite").parquet(tmp)
    # schema-carrying read-back: an empty source writes zero day
    # dirs (r10 empty sweep)
    from ..sinks import read_published_or_empty

    fact = read_published_or_empty(spark, tmp, like=ev)
    j = fact.join(F.broadcast(picked), "date").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    has_dpp = "dynamicpruning" in (
        j._jdf.queryExecution().executedPlan().toString().lower()
    )
    dpp_row = j.first()

    # the returned plan depends only on the persistent source; the
    # partitioned-table run is compared against it eagerly above
    plain = ev.join(picked, "date").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    plain_row = plain.first()
    matches = _row_multiset([dpp_row]) == _row_multiset([plain_row])
    return plain.select(
        "n_events",
        "total_value",
        F.lit(bool(has_dpp)).alias("dpp_in_plan"),
        F.lit(bool(matches)).alias("dpp_result_matches"),
    )


_REPAIR_DIFF_ORACLE = f"""
-- rows with a NULL partition key belong to NO partition and are
-- excluded from both manifests on both engines: NULL months would
-- otherwise hit three DIFFERENT null semantics at once (Spark's
-- three-valued filter, the oracle's USING join dropping NULL keys,
-- manifest_diff's full outer keeping them) — r11 nulls sweep.
-- Integer rendering (incl. the r12 out-of-range 'big' token) is
-- generated by integrity.render_scaled_int_sql.
WITH h AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_orderkey,
         CAST(('0x' || substr(sha256(concat_ws('|',
             l_orderkey::VARCHAR, l_linenumber::VARCHAR,
             l_partkey::VARCHAR, l_suppkey::VARCHAR,
             {render_scaled_int_sql("l_quantity")},
             {render_scaled_int_sql("l_extendedprice", 100)},
             {render_scaled_int_sql("l_discount", 100)},
             l_returnflag, l_linestatus)), 1, 7)) AS BIGINT) AS rh
  FROM lineitem WHERE l_shipdate IS NOT NULL
),
bounds AS (SELECT MIN(ship_month) AS lo, MAX(ship_month) AS hi FROM h),
expected AS (
  SELECT ship_month, CAST(COUNT(*) AS BIGINT) AS e_rows,
         CAST(SUM(rh) AS BIGINT) AS e_sum
  FROM h GROUP BY ship_month
),
actual AS (
  SELECT ship_month, CAST(COUNT(*) AS BIGINT) AS a_rows,
         CAST(SUM(rh) AS BIGINT) AS a_sum
  FROM h, bounds
  WHERE NOT (ship_month = hi AND l_orderkey % 10 = 0)
  GROUP BY ship_month
)
SELECT e.ship_month, e_rows, a_rows, e_sum, a_sum
FROM expected e JOIN actual a USING (ship_month)
WHERE e_rows <> a_rows OR e_sum <> a_sum
"""


@register("manifest_repair_diff", oracle=_REPAIR_DIFF_ORACLE)
def manifest_repair_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica-verification diff (operators/integrity.manifest_diff) as
    a driver row: a deterministically corrupted replica of lineitem
    (the latest ship month silently loses every 10th order's rows —
    the classic partial-copy failure) is compared manifest-to-manifest
    against the source. Exactly the damaged partitions surface, with
    their expected/actual counts and checksums; DuckDB rebuilds both
    manifests and the diff from scratch, so the cross-engine hash
    match proves the checksum algebra, not just the row counts. At
    100 TB: the comparison moves two manifest frames (one row per
    partition), never the tables."""
    from ..operators.integrity import manifest_diff, partition_manifest, render_scaled_int

    # NULL ship dates belong to no partition — excluded from both
    # manifests, mirroring the oracle (r11 nulls sweep; see the
    # oracle's header comment for the three-way NULL-semantics clash)
    li = (
        load_tables(spark, sf_dir, "lineitem")["lineitem"]
        .filter(F.col("l_shipdate").isNotNull())
        .withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))
    )
    hi = li.agg(F.max("ship_month")).first()[0]
    replica = li.filter(
        ~((F.col("ship_month") == hi) & (F.col("l_orderkey") % 10 == 0))
    )
    hashed = [
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_partkey"),
        F.col("l_suppkey"),
        render_scaled_int(F.col("l_quantity")),
        render_scaled_int(F.col("l_extendedprice"), 100),
        render_scaled_int(F.col("l_discount"), 100),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    ]
    diff = manifest_diff(
        partition_manifest(li, ["ship_month"], hashed),
        partition_manifest(replica, ["ship_month"], hashed),
    )
    return diff.select("ship_month", "e_rows", "a_rows", "e_sum", "a_sum")


_OBSERVE_ORACLE = """
    -- non-finite values are NULLed at input: one NaN makes every
    -- total NaN, and NaN != NaN turns the engine's observed-vs-
    -- recomputed equality check False (r11 extremes sweep)
    WITH ev AS (
      SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END AS value)
      FROM events
    )
    SELECT CAST(ts AS DATE) AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS day_value,
           TRUE AS observed_rows_match,
           TRUE AS observed_sum_matches
    FROM ev GROUP BY 1
"""


@register("observe_metrics_audit", oracle=_OBSERVE_ORACLE)
def observe_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline metrics via ``Dataset.observe``: the daily
    rollup runs ONCE, and named accumulator-style metrics (global row
    count, value total) ride the same scan — the row-accounting a
    100 TB nightly load needs WITHOUT a second pass over the fact.
    The engine-verified booleans pin the observed metrics to an
    independent aggregate; DuckDB recomputes the rollup itself. The
    reference has no accounting at all (fire-and-forget streaming
    inserts, main.py:86-91) — this is what 'did every row make it?'
    looks like when it's free."""
    from pyspark.sql import Observation

    # non-finite values NULLed at input: a NaN total would fail the
    # observed-vs-recomputed equality vacuously (NaN != NaN) — r11
    # extremes sweep
    ev = load_tables(spark, sf_dir, "events")["events"].withColumn(
        "value", cst.finite_or_null(F.col("value"))
    )
    if ev.isEmpty():
        # no task ever runs over an empty source, so the observation
        # side channel never populates and obs.get would hang/fail —
        # the rollup is simply empty (r10 empty sweep)
        return spark.createDataFrame(
            [],
            "event_date date, n_events long, day_value double,"
            " observed_rows_match boolean, observed_sum_matches boolean",
        )
    obs = Observation("load_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("value_total"),
    )
    rollup = observed.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("day_value"),
    )
    # one action drives BOTH the rollup and the metrics; the eager run
    # here is what populates obs (metrics are an execution side
    # channel, not a plan node)
    rollup.collect()
    got = obs.get
    n_expected = ev.count()
    v_expected = ev.agg(F.round(F.sum("value"), 2)).first()[0]
    return rollup.select(
        "event_date",
        "n_events",
        "day_value",
        F.lit(bool(got["n_rows"] == n_expected)).alias("observed_rows_match"),
        F.lit(bool(got["value_total"] == v_expected)).alias(
            "observed_sum_matches"
        ),
    )


@register(
    "orc_roundtrip_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT)                              AS n_rows,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)     AS revenue,
           TRUE AS count_roundtrips, TRUE AS sum_roundtrips
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1995-02-01'
    """,
)
def orc_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format sink/source proof: a month slice of the fact table
    round-trips through ORC (columnar, predicate-pushdown-capable,
    zlib-compressed by default — the other first-class columnar
    format a warehouse migration meets) and must preserve both the
    row count and the 2dp-rounded revenue. DuckDB recomputes both
    from the parquet source; the engine pins the
    orc-read-equals-parquet-read booleans after genuinely reading the
    ORC files back. Same pluggable-format seam as the
    ``bigquery_local`` connector writer (reference main.py:86-89's
    writer abstracted over format)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-02-01").cast("timestamp"))
    )
    rev = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    src_row = li.agg(F.count("*").alias("n"), rev.alias("r")).collect()[0]
    tmp = materialize.scratch("orc_audit_")
    li.write.mode("overwrite").orc(f"{tmp}/li_orc")
    back = spark.read.orc(f"{tmp}/li_orc")
    back_row = back.agg(F.count("*").alias("n"), rev.alias("r")).collect()[0]
    return spark.createDataFrame(
        [
            (
                int(back_row["n"]),
                # empty slice: SUM is NULL on both sides — keep it NULL
                # like the oracle, don't float() it (r10 empty sweep)
                None if back_row["r"] is None else float(back_row["r"]),
                bool(back_row["n"] == src_row["n"]),
                bool(back_row["r"] == src_row["r"]),
            )
        ],
        "n_rows long, revenue double,"
        " count_roundtrips boolean, sum_roundtrips boolean",
    )


@register(
    "schema_evolution_audit",
    oracle="""
    WITH half1 AS (
      SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 2 = 0
    ),
    half2 AS (
      SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM half1)            AS rows_v1,
           (SELECT CAST(n AS BIGINT) FROM half2)            AS rows_v2,
           (SELECT CAST(n AS BIGINT) FROM half1)            AS nulls_in_new_col,
           TRUE AS merged_schema_has_new_col,
           TRUE AS old_rows_null_in_new_col
    """,
)
def schema_evolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet table: batch v1 lands without the
    `o_priority_score` column, batch v2 (the evolved producer) adds
    it; a `mergeSchema` read must surface the union schema with the
    v1 rows NULL in the new column — the append-only evolution
    contract every long-lived warehouse table relies on (the
    reference's BigQuery tables evolve the same way: new nullable
    columns, old rows null). Row counts per batch and the null count
    in the evolved column are recomputed by DuckDB from the source;
    the schema-shape booleans are engine-verified on the read-back."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    v1 = orders.where(F.col("o_orderkey") % 2 == 0)
    v2 = orders.where(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_priority_score", F.length("o_orderpriority").cast("double")
    )
    tmp = materialize.scratch("schema_evo_")
    path = f"{tmp}/orders_tbl"
    v1.write.mode("overwrite").parquet(path)
    v2.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    has_col = "o_priority_score" in back.columns
    # only v1 rows count: v2 rows whose source value is NULL are
    # NULL in the new column too, but they are not "old rows"
    old = F.col("o_orderkey") % 2 == 0
    row = back.agg(
        F.count_if(old & F.col("o_priority_score").isNull()).alias("nulls_new"),
        F.count_if(old).alias("old_rows"),
    ).collect()[0]
    # one action for both batch counts (r14, guide §1 — was two
    # separate full scans of orders)
    cnts = orders.agg(
        F.sum((F.col("o_orderkey") % 2 == 0).cast("long")).alias("n1"),
        F.sum((F.col("o_orderkey") % 2 == 1).cast("long")).alias("n2"),
    ).first()
    n1, n2 = int(cnts["n1"] or 0), int(cnts["n2"] or 0)
    nulls_new = int(row["nulls_new"])
    nulls_match = bool(nulls_new == n1 == int(row["old_rows"]))
    return spark.createDataFrame(
        [(n1, n2, nulls_new, bool(has_col), nulls_match)],
        "rows_v1 long, rows_v2 long, nulls_in_new_col long,"
        " merged_schema_has_new_col boolean, old_rows_null_in_new_col boolean",
    )


_PIT_ORACLE = """
WITH base AS (
  SELECT c_custkey, ROUND(c_acctbal, 2) AS c_acctbal FROM customer
),
old AS (SELECT * FROM base WHERE c_custkey % 7 <> 0),
new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN ROUND(c_acctbal + 100.0, 2)
              ELSE c_acctbal END AS c_acctbal
  FROM base WHERE c_custkey % 13 <> 0
),
j AS (
  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
         o.c_custkey IS NOT NULL AS in_old,
         n.c_custkey IS NOT NULL AS in_new,
         (o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal) AS same,
         o.c_acctbal AS o_bal, n.c_acctbal AS n_bal
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
),
hist AS (
  SELECT c_custkey, o_bal AS c_acctbal,
         DATE '2024-01-01' AS valid_from,
         CASE WHEN in_new AND same THEN DATE '9999-12-31'
              ELSE DATE '2024-02-01' END AS valid_to,
         (in_new AND same) AS is_current
  FROM j WHERE in_old
  UNION ALL
  SELECT c_custkey, n_bal, DATE '2024-02-01', DATE '9999-12-31', TRUE
  FROM j WHERE in_new AND (NOT in_old OR NOT same)
),
probes AS (
  SELECT o_orderkey, o_custkey,
         DATE '2024-01-01' + CAST(o_orderkey % 60 AS INTEGER) AS as_of
  FROM orders
)
SELECT p.o_orderkey, p.o_custkey, p.as_of,
       h.c_acctbal AS version_acctbal, h.is_current
FROM probes p
JOIN hist h ON h.c_custkey = p.o_custkey
           AND p.as_of >= h.valid_from AND p.as_of < h.valid_to
"""


@register("scd2_pointintime_join", oracle=_PIT_ORACLE)
def scd2_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (bitemporal) fact→dimension resolution: each
    order probes the SCD2 customer history AT ITS OWN as-of date and
    picks the exactly-one version whose validity range covers it —
    the join every SCD2 table exists to serve (and what the
    reference's denormalized campaign columns, main.py:205-210,
    silently get wrong after an attribute change). Probe dates are a
    deterministic spread over the version boundaries, so the result
    exercises v1 hits, v2 hits, pre-insert misses and post-delete
    misses.

    Scale shape: the EQUI key (custkey) carries the join — versions
    per key are few (here ≤2), so the validity-range predicate is a
    cheap post-join filter, the same bounded-range-join shape as
    rapid_reorder_pairs; never a date-interval nested loop."""
    old, new = _customer_snapshots(spark, sf_dir)
    hist = scd2_merge(
        old.select("c_custkey", "c_acctbal"),
        new.select("c_custkey", "c_acctbal"),
        key="c_custkey",
        compare_cols=["c_acctbal"],
        old_date="2024-01-01",
        new_date="2024-02-01",
    )
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    probes = orders.select(
        "o_orderkey",
        "o_custkey",
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("o_orderkey") % 60).cast("int")
        ).alias("as_of"),
    )
    return (
        probes.join(hist, probes.o_custkey == hist.c_custkey)
        .where(
            (F.col("as_of") >= F.col("valid_from"))
            & (F.col("as_of") < F.col("valid_to"))
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "as_of",
            F.col("c_acctbal").alias("version_acctbal"),
            "is_current",
        )
    )


@register(
    "csv_quarantine_audit",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE o_orderkey % 97 <> 0) AS BIGINT)
             AS n_good,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 97 = 0) AS BIGINT)
             AS n_corrupt,
           -- a non-finite price has no DECIMAL/CSV rendering: it
           -- serializes as an explicit empty field exactly like NULL
           -- and reads back NULL (r11 extremes sweep)
           CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                         THEN CASE WHEN isfinite(o_totalprice)
                                   THEN CAST(ROUND(o_totalprice, 2)
                                             AS DECIMAL(18,2)) END
                         ELSE 0 END) AS DOUBLE)              AS good_total,
           TRUE AS corrupt_rows_quarantined,
           TRUE AS good_rows_parse_exactly
    FROM orders
    """,
)
def csv_quarantine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust CSV ingestion with PERMISSIVE quarantine — the
    connector-boundary behavior the reference's API ingest needs but
    never implements (it trusts every record, main.py:188-216): every
    97th order is serialized MALFORMED (a non-numeric totalprice), the
    CSV is read back under an explicit schema with
    `columnNameOfCorruptRecord`, and bad lines must land whole in the
    quarantine column while good lines parse to exactly the source
    values (decimal-exact total). DuckDB recomputes the expected
    good/corrupt split and total from the source table; the
    quarantine booleans are engine-verified on the actual read-back.
    Scale: CSV serialize/parse is map-only in both directions; the
    audit aggregate is one two-phase pass."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL price → EXPLICIT empty field (concat, not concat_ws:
    # concat_ws silently drops NULL args, which would emit a one-field
    # line and shift the parse; an empty CSV field round-trips to NULL
    # under the declared schema — which IS exact parsing of a NULL;
    # r11 nulls sweep)
    line = F.concat(
        F.col("o_orderkey").cast("string"),
        F.lit(","),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("NOT_A_PRICE")).otherwise(
            F.coalesce(
                F.round("o_totalprice", 2)
                .cast("decimal(18,2)")
                .cast("string"),
                F.lit(""),
            )
        ),
    )
    # NULL *or non-finite* prices serialize as the explicit empty
    # field and must read back as exactly-as-many NULLs (a NaN/Inf
    # price has no DECIMAL/CSV rendering; r11 extremes sweep)
    n_src_null_good = orders.filter(
        (F.col("o_orderkey") % 97 != 0)
        & cst.finite_or_null(F.col("o_totalprice")).isNull()
    ).count()
    tmp = materialize.scratch("csv_quar_")
    orders.select(line.alias("value")).write.mode("overwrite").text(
        f"{tmp}/orders_csv"
    )
    back = (
        spark.read.schema("o_orderkey LONG, o_totalprice DECIMAL(18,2), _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(f"{tmp}/orders_csv")
    )
    row = back.agg(
        F.sum(F.when(F.col("_bad").isNull(), 1).otherwise(0)).alias("good"),
        F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0)).alias("bad"),
        F.sum(
            F.when(F.col("_bad").isNull(), F.col("o_totalprice")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        )
        .cast("double")
        .alias("total"),
        F.min(
            F.when(
                F.col("_bad").isNotNull(), F.col("_bad").contains("NOT_A_PRICE")
            )
        ).alias("quarantined_whole"),
        # NULL-price goods must read back as exactly-as-many NULL
        # prices (value exactness of the non-null goods is pinned
        # by good_total vs the oracle; r11 nulls sweep)
        F.sum(
            F.when(
                F.col("_bad").isNull() & F.col("o_totalprice").isNull(),
                1,
            ).otherwise(0)
        ).alias("null_good"),
    ).collect()[0]
    # empty source: the aggregates read NULL (counts coalesce to 0,
    # the total stays NULL like the oracle's SUM) and the MIN-over-
    # WHEN booleans are vacuously true (r10 empty sweep)
    return spark.createDataFrame(
        [
            (
                int(row["good"] or 0),
                int(row["bad"] or 0),
                None if row["total"] is None else float(row["total"]),
                row["quarantined_whole"] is not False,
                int(row["null_good"] or 0) == n_src_null_good,
            )
        ],
        "n_good long, n_corrupt long, good_total double,"
        " corrupt_rows_quarantined boolean, good_rows_parse_exactly boolean",
    )


@register(
    "masked_customer_extract",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(
             c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
             '[0-9]', 'n', 'g')                          AS name_masked,
           CASE WHEN isfinite(c_acctbal)
                THEN CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT)
           END AS acctbal_band,
           c_mktsegment
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    """,
)
def masked_customer_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governed data extract: column masking + value banding + a
    row-level policy in one pass — the shape a privacy-scoped share
    of the reference's warehouse takes (its BigQuery tables carry
    names/ids verbatim, main.py:24-29; a compliant extract cannot).
    `F.mask` (codegen'd, upper→X / lower→x / digit→n) anonymizes the
    name, the balance coarsens to a 1000-unit band (k-anonymity-style
    generalization), and the RLS predicate restricts to the approved
    segments — all map-only, pushed to the scan where possible. The
    oracle replicates mask()'s character classes with regexp chains,
    so the masked values themselves hash-check."""
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    return cust.where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).select(
        "c_custkey",
        F.mask("c_name").alias("name_masked"),
        # a non-finite balance has no band: NULL, not a long-overflow
        # abort (r11 extremes sweep)
        (F.floor(cst.finite_or_null(F.col("c_acctbal")) / 1000) * 1000)
        .cast("bigint")
        .alias("acctbal_band"),
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# round-5 additions: MERGE upsert, commit-protocol audit, bloom side index,
# parquet codec matrix (SURVEY §7b slate)
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_monthly_revenue",
    oracle="""
    WITH base AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             SUM(o_totalprice) AS revenue, COUNT(*) AS n_orders
      FROM orders
      WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) < 1998 GROUP BY 1
    ),
    delta AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             SUM(o_totalprice) AS revenue, COUNT(*) AS n_orders
      FROM orders
      WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) >= 1998 GROUP BY 1
    )
    SELECT COALESCE(b.month, d.month) AS month,
           ROUND(COALESCE(b.revenue, 0) + COALESCE(d.revenue, 0), 2)
             AS revenue,
           CAST(COALESCE(b.n_orders, 0) + COALESCE(d.n_orders, 0) AS BIGINT)
             AS n_orders,
           CASE WHEN b.month IS NOT NULL AND d.month IS NOT NULL
                  THEN 'update'
                WHEN b.month IS NULL THEN 'insert' ELSE 'keep' END AS op
    FROM base b FULL OUTER JOIN delta d ON b.month = d.month
    """,
)
def merge_upsert_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-shape maintenance of a materialized monthly aggregate
    under LATE-ARRIVING facts (operators/incremental.merge_apply —
    the BigQuery/Delta ``MERGE INTO`` upsert vanilla Spark-on-parquet
    lacks): the stored rollup (pre-1998 months) absorbs a late fact
    delta (1998+) in one full-outer merge — overlapping months UPDATE
    by state addition, brand-new months INSERT, untouched history
    KEEPs, and every row journals its decision in ``op``. O(delta)
    nightly cost against O(history) recompute; one key shuffle, zero
    with a bucketed state table."""
    from ..operators.incremental import merge_apply

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    month = F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
    yr = F.year(F.col("o_orderdate").cast("date"))
    agg = lambda df: df.groupBy(month.alias("month")).agg(  # noqa: E731
        F.sum("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    base = agg(orders.filter(yr < 1998))
    delta = agg(orders.filter(yr >= 1998))
    merged = merge_apply(
        base,
        delta,
        keys=["month"],
        update_set={
            "revenue": F.col("t.revenue") + F.col("s.revenue"),
            "n_orders": F.col("t.n_orders") + F.col("s.n_orders"),
        },
    )
    return merged.select(
        "month", F.round("revenue", 2).alias("revenue"), "n_orders", "op"
    )


@register(
    "commit_protocol_audit",
    oracle="""
    -- the crash/roll-forward booleans are DATA-CONDITIONED: on an
    -- empty source compaction is a no-op (nothing to stage), so the
    -- injected crash never fires and recovery has nothing to roll
    SELECT CAST(COUNT(*) AS BIGINT)                       AS n_rows,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_partitions,
           COUNT(*) > 0 AS stable_under_crash,
           COUNT(*) > 0 AS rolled_forward,
           TRUE AS no_debris, TRUE AS compacted_single_file
    FROM events
    """,
)
def commit_protocol_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-protocol / snapshot-behavior proof as a driver row: a
    day-partitioned copy of the events table is fragmented (two
    writes), then compacted with a crash INJECTED between the journal
    write and the partition swaps — the exact window where a naive
    rewrite half-replaces a table. The audit then proves, against a
    genuine re-read: (a) post-crash content is bit-stable (every row
    count unchanged), (b) recovery rolls the journaled run FORWARD,
    (c) no ``_compact`` debris survives, (d) every partition ends as
    ONE file. DuckDB pins the expected row/partition counts from the
    source table and the four booleans. This is the reference's
    BigQuery-atomic-load guarantee (main.py:86-89) rebuilt on plain
    parquet + renames, held under fault injection."""
    from .. import sinks

    events = load_tables(spark, sf_dir, "events")["events"]
    df = events.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("ts").cast("date").alias("date"),
    )
    tmp = materialize.scratch("commit_audit_")
    table = f"{tmp}/t"
    sinks.write_day_partitioned(df, table)
    sinks.write_day_partitioned(df.limit(0), table, mode="append")
    # schema-carrying read-backs: an empty source writes zero day
    # dirs (r10 empty sweep)
    n_before = sinks.read_published_or_empty(spark, table, like=df).count()

    crashed = False
    try:
        with sinks.crash_at("journaled"):
            sinks.compact_partitions(spark, table)
    except RuntimeError:
        crashed = True
    n_crashed = sinks.read_published_or_empty(spark, table, like=df).count()
    report = sinks.recover(table, stale_after_s=0.0)
    n_after = sinks.read_published_or_empty(spark, table, like=df).count()
    import os

    parts = [d for d in os.listdir(table) if d.startswith("date=")]
    single = all(
        len([f for f in os.listdir(os.path.join(table, p))
             if f.endswith(".parquet")]) == 1
        for p in parts
    )
    return spark.createDataFrame(
        [
            (
                int(n_after),
                len(parts),
                bool(crashed and n_crashed == n_before
                     and n_after == n_before),
                bool(report["rolled_forward"] == 1),
                not os.path.isdir(os.path.join(table, "_compact")),
                bool(single),
            )
        ],
        "n_rows long, n_partitions long, stable_under_crash boolean,"
        " rolled_forward boolean, no_debris boolean,"
        " compacted_single_file boolean",
    )


@register(
    "bloom_partition_index_audit",
    oracle="""
    WITH probes AS (
      SELECT unnest([7, 13, 9999991]) AS probe_user
    ),
    bits AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d,
             (user_id * 2654435761 % 1000000007) % 1024 AS bit
      FROM events
    ),
    candidates AS (
      SELECT p.probe_user, b.d
      FROM probes p
      JOIN bits b
        ON b.bit = (p.probe_user * 2654435761 % 1000000007) % 1024
    ),
    truth AS (
      SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT p.probe_user,
           (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
            FROM events)                                   AS n_parts_total,
           CAST(COUNT(c.d) AS BIGINT)                      AS n_parts_probed,
           CAST(COUNT(t.d) AS BIGINT)                      AS n_parts_true,
           CAST(COALESCE(SUM(t.n), 0) AS BIGINT)           AS n_events_found
    FROM probes p
    LEFT JOIN candidates c ON c.probe_user = p.probe_user
    LEFT JOIN truth t
      ON t.user_id = p.probe_user AND t.d = c.d
    GROUP BY p.probe_user
    """,
)
def bloom_partition_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index emulation via a per-partition bloom side table:
    each day partition publishes the 1024-bit membership signature of
    its user_ids (single PORTABLE hash, so the oracle reproduces the
    index bit-for-bit and EVERY output — including the false-positive
    partition count — is exact, not pinned). A point lookup consults
    only the index (tiny, broadcast) to get candidate partitions, then
    scans just those: probed >= true partitions (no false negatives,
    by construction), and the found-event counts are exact. At 100 TB
    the index is #partitions × ≤1024 rows — the big table is touched
    only for candidate partitions; this is the file-skipping a
    Delta/Iceberg bloom column index provides, built relationally."""
    events = load_tables(spark, sf_dir, "events")["events"]
    probes = spark.createDataFrame(
        [(7,), (13,), (9999991,)], "probe_user long"
    )
    bit = lambda c: knuth_bucket(c, 1024)  # noqa: E731
    index = (
        events.select(
            F.col("ts").cast("date").alias("d"), bit("user_id").alias("bit")
        )
        .distinct()
    )
    candidates = probes.join(
        F.broadcast(index).hint("broadcast"),
        index["bit"] == bit("probe_user"),
    ).select("probe_user", "d")
    truth = events.groupBy(
        F.col("user_id"), F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    n_total = events.select(
        F.countDistinct(F.col("ts").cast("date")).alias("n_parts_total")
    )
    joined = (
        probes.join(candidates, "probe_user", "left")
        .join(
            truth,
            (truth["user_id"] == F.col("probe_user"))
            & (truth["d"] == candidates["d"]),
            "left",
        )
        .groupBy("probe_user")
        .agg(
            F.count(candidates["d"]).alias("n_parts_probed"),
            F.count(truth["d"]).alias("n_parts_true"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_events_found"),
        )
    )
    return joined.crossJoin(F.broadcast(n_total)).select(
        "probe_user", "n_parts_total", "n_parts_probed", "n_parts_true",
        "n_events_found",
    )


@register(
    "bloom_index_merge_maintenance",
    oracle="""
    -- replay resolution (r11 duplicates sweep): MERGE requires a
    -- key-unique target and source; a replayed event_id (at-least-
    -- once upstream) is resolved first by the deterministic
    -- content-total order (operators/dedup.resolve_replays)
    WITH ev0 AS (
      SELECT event_id, user_id, value, CAST(ts AS DATE) AS d,
             ROW_NUMBER() OVER (PARTITION BY event_id
                 ORDER BY user_id DESC NULLS LAST, value DESC NULLS LAST,
                          d DESC NULLS LAST) AS rn
      FROM events
    ),
    evr AS (SELECT event_id, user_id, value, d FROM ev0 WHERE rn = 1),
    ins AS (
      SELECT -event_id - 1        AS event_id,
             user_id + 1000000    AS user_id,
             d
      FROM evr
      WHERE event_id % 5 = 0 AND d < DATE '2024-01-11'
    ),
    merged AS (
      SELECT event_id, user_id, d FROM evr
      UNION ALL
      SELECT event_id, user_id, d FROM ins
    ),
    idx AS (
      SELECT DISTINCT d,
             (user_id * 2654435761 % 1000000007) % 1024 AS bit
      FROM merged
    ),
    touched AS (
      SELECT DISTINCT d FROM (
        SELECT d FROM evr
        WHERE event_id % 7 = 0 AND d < DATE '2024-01-11'
        UNION ALL SELECT d FROM ins)
    ),
    probe AS (
      SELECT MIN(user_id) + 1000000 AS u
      FROM evr
      WHERE event_id % 5 = 0 AND d < DATE '2024-01-11'
    ),
    cand AS (
      SELECT i.d FROM idx i, probe p
      WHERE i.bit = (p.u * 2654435761 % 1000000007) % 1024
    ),
    truth AS (
      SELECT m.d, COUNT(*) AS n FROM merged m, probe p
      WHERE m.user_id = p.u GROUP BY m.d
    )
    SELECT
      (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM merged) AS n_parts_total,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM touched)         AS n_touched_parts,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM idx)             AS n_index_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cand)            AS n_parts_probed,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)           AS n_parts_true,
      (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM truth) AS n_events_found,
      TRUE AS incr_equals_rebuild
    """,
)
def bloom_index_merge_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the per-partition bloom side index
    through the MERGE seam (round-8 slate pulled forward): a CDC batch
    — value updates for event_id % 7 == 0 and NEW-user inserts
    (event_id % 5 == 0, user_id shifted by 1e6) — lands on the fact
    via ``operators/incremental.merge_apply``, and the index is
    refreshed for ONLY the partitions the delta touched: untouched
    partitions keep their existing (d, bit) rows (anti-join against
    the broadcast touched-date set), touched ones are recomputed from
    the merged fact. The audit then REBUILDS the index from scratch
    and pins incremental ≡ rebuild (a multiset diff both ways) — the
    invariant that makes incremental refresh safe to trust at 100 TB,
    where rebuilding the index means re-reading every partition but
    refreshing means re-reading only the day(s) a CDC batch touched.
    A point probe for an inserted user then exercises the refreshed
    index end-to-end (no false negatives by construction; candidate
    and true partition counts exact). Same PORTABLE hash as
    ``bloom_partition_index_audit``, so DuckDB reproduces the merged
    fact, the index, the touched set, and every probe count
    bit-for-bit — nothing pinned except the equality boolean."""
    from ..operators.incremental import merge_apply

    from ..operators.dedup import resolve_replays

    events = load_tables(spark, sf_dir, "events")["events"]
    # replay resolution before the MERGE seam (r11 duplicates sweep):
    # a replayed event_id would trip merge_apply's duplicate-source
    # guard — resolve by the deterministic content-total order first.
    # fact0 feeds the delta, the stale index, the probe scalar AND the
    # merge source: persisted, the resolve_replays window shuffle runs
    # once, not once per consumer.
    fact0 = materialize.persist(
        resolve_replays(
            events.select(
                "event_id", "user_id", "value",
                F.col("ts").cast("date").alias("d"),
            ),
            ["event_id"],
        )
    )
    in_window = F.col("d") < F.lit("2024-01-11").cast("date")
    updates = fact0.filter((F.col("event_id") % 7 == 0) & in_window).select(
        "event_id", "user_id", (F.col("value") * 2).alias("value"), "d"
    )
    # synthetic new-row keys live in the NEGATIVE mirror of the key
    # space (-k-1): a fixed positive shift collides with real keys on
    # any corpus whose ids reach it — the 10x stress copies (keys
    # shifted by copy*1e9) tripped the MERGE duplicate-source guard on
    # exactly that aliasing.
    inserts = fact0.filter((F.col("event_id") % 5 == 0) & in_window).select(
        (-F.col("event_id") - 1).alias("event_id"),
        (F.col("user_id") + 1000000).alias("user_id"),
        "value",
        "d",
    )
    delta = updates.unionByName(inserts)
    # merged feeds the refreshed slice, the from-scratch rebuild, the
    # probe truth AND the partition census
    merged = materialize.persist(
        merge_apply(
            fact0,
            delta,
            keys=["event_id"],
            update_set={"value": F.col("s.value")},
        ).drop("op")
    )

    bit = lambda c: knuth_bucket(c, 1024)  # noqa: E731
    index0 = fact0.select("d", bit("user_id").alias("bit")).distinct()
    touched = delta.select("d").distinct()
    refreshed = merged.join(F.broadcast(touched), "d", "semi").select(
        "d", bit("user_id").alias("bit")
    ).distinct()
    kept = index0.join(F.broadcast(touched), "d", "anti")
    incr = materialize.persist(kept.unionByName(refreshed))
    rebuild = merged.select("d", bit("user_id").alias("bit")).distinct()
    diff = multiset_diff(incr, rebuild)

    probe_u = (
        fact0.filter((F.col("event_id") % 5 == 0) & in_window)
        .agg((F.min("user_id") + 1000000).alias("u"))
        .first()["u"]
    )
    if probe_u is None:
        # empty window: no inserted user exists to probe (r10 sweep)
        n_probed = 0
    else:
        probe_bit = (probe_u * 2654435761 % 1000000007) % 1024
        n_probed = incr.filter(F.col("bit") == probe_bit).count()
    # day count + event total over the probe truth in ONE action
    # (count(lit(1)) ≡ the old truth.count(); coalesced SUM keeps the
    # empty-probe 0 — r13 optimization)
    t_row = (
        merged.filter(F.col("user_id") == probe_u)
        .groupBy("d")
        .agg(F.count("*").alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("found"),
        )
        .first()
    )
    n_true, n_found = t_row["n_days"], t_row["found"]
    n_parts_total = merged.select("d").distinct().count()
    n_touched = touched.count()
    n_index_rows = incr.count()
    return spark.createDataFrame(
        [
            (
                n_parts_total,
                n_touched,
                n_index_rows,
                n_probed,
                n_true,
                int(n_found),
                diff == (0, 0),
            )
        ],
        "n_parts_total long, n_touched_parts long, n_index_rows long,"
        " n_parts_probed long, n_parts_true long, n_events_found long,"
        " incr_equals_rebuild boolean",
    )


@register(
    "parquet_codec_matrix_audit",
    oracle="""
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate <  TIMESTAMP '1995-02-01'
    )
    SELECT codec, n_rows, revenue,
           TRUE AS roundtrips, TRUE AS nonempty_files
    FROM agg, unnest(['gzip', 'lz4', 'snappy', 'uncompressed', 'zstd'])
         AS t(codec)
    """,
)
def parquet_codec_matrix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec matrix over the parquet writer: one fact
    slice round-trips through every codec Spark ships codecs for
    (snappy/gzip/zstd/lz4/uncompressed), and each must preserve the
    row count and 2dp revenue exactly while producing non-empty data
    files. Codec choice is a per-write option on the SAME sink seam —
    at 100 TB this is the knob that trades scan CPU against storage
    (zstd ~2× smaller than snappy, lz4 fastest to decode); the audit
    proves the engine reads every variant it can write."""
    import os

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-02-01").cast("timestamp"))
    )
    rev = F.round(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
    )
    src = li.agg(F.count("*").alias("n"), rev.alias("r")).collect()[0]
    tmp = materialize.scratch("codec_matrix_")
    rows = []
    for codec in ("gzip", "lz4", "snappy", "uncompressed", "zstd"):
        path = f"{tmp}/{codec}"
        li.write.mode("overwrite").option("compression", codec).parquet(
            path
        )
        back = read_parquet(spark, path)
        b = back.agg(F.count("*").alias("n"), rev.alias("r")).collect()[0]
        nbytes = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        rows.append(
            (
                codec,
                int(b["n"]),
                # empty slice: SUM stays NULL like the oracle's
                None if b["r"] is None else float(b["r"]),
                bool(b["n"] == src["n"] and b["r"] == src["r"]),
                bool(nbytes > 0),
            )
        )
    return spark.createDataFrame(
        rows,
        "codec string, n_rows long, revenue double,"
        " roundtrips boolean, nonempty_files boolean",
    )


@register(
    "compaction_binpack_audit",
    oracle="""
    WITH per_day AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT)           AS n_rows,
           CAST(COUNT(*) AS BIGINT)                      AS n_partitions,
           CAST(COALESCE(SUM(CAST(CEIL(n / 150.0) AS BIGINT)), 0)
                AS BIGINT)                               AS expected_files,
           TRUE AS file_counts_match, TRUE AS rows_stable,
           TRUE AS no_debris
    FROM per_day
    """,
)
def compaction_binpack_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction v2 — BIN-PACKED to a target file size instead of
    one-file-per-partition: a fragmented day-partitioned table is
    compacted through the atomic staged protocol with
    ``max_records_per_file=150``, and every partition must end with
    EXACTLY ceil(rows/150) files (the writer's per-file cap as a
    target-size knob). This is the missing half of compaction at
    100 TB: a hot partition must not collapse into one unsplittable
    monolith — downstream scan parallelism is bounded by file count.
    The oracle recomputes the expected total file count from per-day
    row counts; the engine verifies per-partition equality file by
    file after a genuine re-listing."""
    import os

    from .. import sinks

    events = load_tables(spark, sf_dir, "events")["events"]
    df = events.select(
        "event_id", "user_id", "event_type", "value",
        F.col("ts").cast("date").alias("date"),
    )
    tmp = materialize.scratch("binpack_audit_")
    table = f"{tmp}/t"
    # two fragmented loads → multiple small files per partition;
    # schema-carrying read-backs tolerate an empty source (zero
    # day dirs written — r10 empty sweep)
    sinks.write_day_partitioned(df, table)
    sinks.write_day_partitioned(df.limit(0), table, mode="append")
    n_before = sinks.read_published_or_empty(spark, table, like=df).count()
    sinks.compact_partitions(spark, table, max_records_per_file=150)
    n_after = sinks.read_published_or_empty(spark, table, like=df).count()
    per_day = {
        r["date"]: r["n"]
        for r in df.groupBy("date").agg(F.count("*").alias("n")).collect()
    }
    # per-partition expected file count: ceil(rows / 150)
    import datetime as _dt

    ok = True
    parts = [d for d in os.listdir(table) if d.startswith("date=")]
    for p in parts:
        day = _dt.date.fromisoformat(p.split("=", 1)[1])
        nfiles = len(
            [f for f in os.listdir(os.path.join(table, p))
             if f.endswith(".parquet")]
        )
        if nfiles != -(-per_day[day] // 150):
            ok = False
    return spark.createDataFrame(
        [
            (
                int(n_after),
                len(parts),
                int(sum(-(-n // 150) for n in per_day.values())),
                bool(ok),
                bool(n_before == n_after),
                not os.path.isdir(os.path.join(table, "_compact")),
            )
        ],
        "n_rows long, n_partitions long, expected_files long,"
        " file_counts_match boolean, rows_stable boolean,"
        " no_debris boolean",
    )


@register(
    "partition_evolution_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT)                        AS n_rows,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                                                           AS day_partitions,
           CAST(COUNT(DISTINCT strftime(CAST(ts AS DATE), '%Y-%m'))
                AS BIGINT)                                 AS month_partitions,
           TRUE AS rows_stable,
           -- DATA-CONDITIONED: an empty source evolves to zero month
           -- dirs, so there is no monthly layout to observe
           COUNT(*) > 0 AS layout_is_monthly
    FROM events
    """,
)
def partition_evolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION: a day-partitioned table is re-laid-out to
    MONTH partitioning (the day grain that was right at ingest volume
    becomes too fine as the table ages — thousands of day directories
    cost more in listing than they save in pruning) by one distributed
    read → re-key → partitioned overwrite into a fresh layout root.
    The audit re-reads the evolved table and proves: row stability,
    the old grain's directory count, the new grain's, and that the
    physical layout actually IS month directories. The evolved write
    uses the same exactly-once partitioned writer — evolution is a
    query + a sink, not a special engine mode."""
    import os

    from .. import sinks

    events = load_tables(spark, sf_dir, "events")["events"]
    day = events.select(
        "event_id", "user_id", "value",
        F.col("ts").cast("date").alias("date"),
    )
    tmp = materialize.scratch("part_evo_")
    sinks.write_day_partitioned(day, f"{tmp}/by_day")
    day_parts = len(
        [d for d in os.listdir(f"{tmp}/by_day") if d.startswith("date=")]
    )
    # schema-carrying read-backs: an empty source writes zero
    # partition dirs at either grain (r10 empty sweep)
    evolved = sinks.read_published_or_empty(
        spark, f"{tmp}/by_day", like=day
    ).withColumn("month", F.date_format("date", "yyyy-MM"))
    sinks.write_day_partitioned(
        evolved, f"{tmp}/by_month", partition_field="month"
    )
    month_dirs = [
        d for d in os.listdir(f"{tmp}/by_month")
        if d.startswith("month=")
    ]
    n_after = sinks.read_published_or_empty(
        spark, f"{tmp}/by_month", like=evolved, partition_field="month"
    ).count()
    n_src = day.count()
    return spark.createDataFrame(
        [
            (
                int(n_after),
                day_parts,
                len(month_dirs),
                bool(n_after == n_src),
                bool(
                    month_dirs
                    and all(len(m) == len("month=2024-01")
                            for m in month_dirs)
                ),
            )
        ],
        "n_rows long, day_partitions long, month_partitions long,"
        " rows_stable boolean, layout_is_monthly boolean",
    )


@register(
    "retractable_view_maintenance",
    oracle="""
    WITH base AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             SUM(o_totalprice) AS revenue, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    corrections AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             SUM(o_totalprice) AS revenue, COUNT(*) AS n_orders
      FROM orders WHERE o_orderkey % 50 = 0 GROUP BY 1
    )
    SELECT b.month,
           ROUND(b.revenue - COALESCE(c.revenue, 0), 2) AS revenue,
           CAST(b.n_orders - COALESCE(c.n_orders, 0) AS BIGINT)
             AS n_orders,
           CASE WHEN c.month IS NOT NULL THEN 'update' ELSE 'keep' END
             AS op
    FROM base b LEFT JOIN corrections c ON c.month = b.month
    """,
)
def retractable_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance with RETRACTIONS: the monthly
    revenue rollup absorbs a correction feed of DELETED facts (every
    50th order is voided) by applying NEGATIVE deltas through the same
    MERGE seam — update = state SUBTRACTION, the retraction algebra a
    maintained aggregate needs when late data can be a takeback, not
    just an arrival (merge_upsert_monthly_revenue covers the additive
    half). Sum/count are abelian-group state (invertible), which is
    exactly why the rollup stores them rather than derived ratios.
    One key shuffle; O(corrections) cost against O(history)
    recompute."""
    from ..operators.incremental import merge_apply

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    month = F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
    agg = lambda df: df.groupBy(month.alias("month")).agg(  # noqa: E731
        F.sum("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    base = agg(orders)
    retractions = agg(orders.filter(F.col("o_orderkey") % 50 == 0))
    merged = merge_apply(
        base,
        retractions,
        keys=["month"],
        update_set={
            # coalesce: a correction batch whose retracted rows ALL
            # carry NULL prices sums to a NULL delta — it retracts
            # zero REVENUE (SUM-ignores-NULL algebra) while still
            # retracting the rows; bare subtraction nulled the whole
            # month's revenue (the oracle's COALESCE already said
            # this; r11 nulls sweep)
            "revenue": F.col("t.revenue")
            - F.coalesce(F.col("s.revenue"), F.lit(0.0)),
            "n_orders": F.col("t.n_orders") - F.col("s.n_orders"),
        },
    )
    return merged.select(
        "month", F.round("revenue", 2).alias("revenue"), "n_orders", "op"
    )


def _final_plan(df: DataFrame) -> str:
    """The AQE FINAL physical plan text — callers must have executed
    ``df`` (``collect()`` on the same Dataset, not ``first()``, which
    plans a separate LIMIT query and leaves this one unexecuted)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


_NAN = object()


def _row_multiset(rows) -> Counter:
    """``rows`` as a multiset of tuples with every float NaN replaced by
    one sentinel: two result sets compare equal exactly when they hold
    the same rows the same number of times, NaN matching NaN (a NaN
    group total from a non-finite source value is the same through any
    plan, but NaN != NaN would read as a divergence — r11 extremes
    sweep)."""
    return Counter(
        tuple(_NAN if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    )


_AQE_SKEW_ORACLE = """
    -- the plan booleans are DATA-CONDITIONED: with either join side
    -- empty, AQE's empty-relation propagation replaces the join
    -- entirely, so no skew split exists to observe (r10 empty sweep)
    WITH has_data AS (
      SELECT (SELECT COUNT(*) FROM lineitem) > 0
             AND (SELECT COUNT(*) FROM part) > 0 AS b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_extendedprice + p_retailprice), 2) AS total_value,
           CAST(CASE WHEN (SELECT b FROM has_data) THEN 1 ELSE 0 END
                AS BIGINT) AS n_skewed_joins,
           (SELECT b FROM has_data) AS skew_split_in_plan,
           TRUE AS matches_unsplit
    FROM (SELECT CASE WHEN l_orderkey % 5 <> 0 THEN 1
                      ELSE (l_partkey % 2000) + 1 END AS sk,
                 l_extendedprice
          FROM lineitem) f
    JOIN (SELECT p_partkey AS sk, p_retailprice FROM part) d USING (sk)
"""


@register("aqe_skew_split_audit", oracle=_AQE_SKEW_ORACLE)
def aqe_skew_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join splitting PROVEN, not trusted (round-6 verdict:
    load-bearing at 100 TB — one hot key turns a shuffle join into a
    single straggler task — but never audited). A deliberately skewed
    join (4/5 of lineitem mapped onto one hot key → one shuffle
    partition ~150× the median) must come back from AQE re-planning
    with the SortMergeJoin marked ``skew=true``: the hot partition is
    split across its MAP outputs and the dim side's matching partition
    replicated per split, restoring parallelism with no correctness
    change. Thresholds are scaled to sf0.01 bytes (the DEFAULT 256 MiB
    threshold is the 100 TB operating point; the ratio test is
    identical); the fact side is repartitioned first because skew
    splits follow map-output boundaries — a single-mapper toy shuffle
    cannot split, while any real cluster scan has thousands of
    mappers (empirically verified: 1 mapper → 0 skewed partitions
    detected, 16 mappers → 1). The audit pins: the split happened
    (plan boolean), exactly one join was treated (count), and the
    split run equals the unsplit control run row-for-row; DuckDB
    value-checks the aggregate itself."""
    tabs = load_tables(spark, sf_dir, "lineitem", "part")
    li, part = tabs["lineitem"], tabs["part"]
    sk = F.when(F.col("l_orderkey") % 5 != 0, F.lit(1)).otherwise(
        (F.col("l_partkey") % 2000) + 1
    ).alias("sk")
    fact = li.select(sk, "l_extendedprice").repartition(16)
    dim = part.select(F.col("p_partkey").alias("sk"), "p_retailprice")

    def run() -> tuple:
        j = fact.join(dim, "sk").agg(
            F.count("*").alias("n_rows"),
            F.round(
                F.sum(F.col("l_extendedprice") + F.col("p_retailprice")), 2
            ).alias("total_value"),
        )
        row = j.collect()[0]
        return row, _final_plan(j)

    with scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            # hot-vs-median contrast independent of the caller's
            # shuffle.partitions (driver session runs 8, tests 32)
            "spark.sql.shuffle.partitions": "32",
        },
    ):
        split_row, split_plan = run()
        with scoped_conf(
            spark, {"spark.sql.adaptive.skewJoin.enabled": "false"}
        ):
            plain_row, plain_plan = run()

    n_skewed = split_plan.count("skew=true")
    return spark.createDataFrame(
        [
            (
                split_row["n_rows"],
                split_row["total_value"],
                n_skewed,
                n_skewed >= 1 and "skew=true" not in plain_plan,
                _row_multiset([split_row]) == _row_multiset([plain_row]),
            )
        ],
        "n_rows long, total_value double, n_skewed_joins long,"
        " skew_split_in_plan boolean, matches_unsplit boolean",
    )


_AQE_DEMOTE_ORACLE = """
    -- the plan booleans are DATA-CONDITIONED: with either join side
    -- empty, AQE's empty-relation propagation removes the join, so
    -- there is no promotion/demotion to observe (r10 empty sweep)
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sparse_n,
             ROUND(SUM(o_totalprice), 2) AS sparse_value
      FROM orders JOIN customer
        ON o_custkey = c_custkey AND c_custkey % 500 = 0
    ),
    d AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS dense_n,
             ROUND(SUM(o_totalprice), 2) AS dense_value
      FROM orders JOIN customer
        ON o_custkey = c_custkey AND c_custkey % 2 = 0
    )
    SELECT sparse_n, sparse_value, dense_n, dense_value,
           (SELECT COUNT(*) FROM orders) > 0
             AND (SELECT COUNT(*) FROM customer WHERE c_custkey % 500 = 0) > 0
             AS sparse_demoted_to_smj,
           (SELECT COUNT(*) FROM orders) > 0
             AND (SELECT COUNT(*) FROM customer WHERE c_custkey % 2 = 0) > 0
             AS dense_promoted_to_bhj
    FROM s, d
"""


@register("aqe_broadcast_demotion_audit", oracle=_AQE_DEMOTE_ORACLE)
def aqe_broadcast_demotion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime join-strategy selection proven in BOTH directions
    (round-6 verdict: trusted, not audited). Static planning is
    disabled (static broadcast threshold −1 → the initial plan is
    always SortMergeJoin); the runtime threshold is left generous, so
    the decision is made from RUNTIME shuffle statistics
    (DynamicJoinSelection):

    * dense small side (every 2nd customer — all shuffle partitions
      non-empty) → PROMOTED: final plan is BroadcastHashJoin;
    * sparse small side (every 500th customer — ~3 non-empty of 32
      partitions, under the 0.2 non-empty-partition-ratio floor) →
      DEMOTED: broadcasting a mostly-empty relation loses to a local
      shuffle read, so the final plan stays SortMergeJoin even though
      the side fits the size threshold.

    At 100 TB this is the guard against broadcasting a filtered dim
    whose post-filter footprint is tiny but whose partition layout is
    pathological. Both joins' aggregates are DuckDB value-checked; the
    two plan-shape booleans pin the promotion and the demotion."""
    tabs = load_tables(spark, sf_dir, "orders", "customer")
    orders, cust = tabs["orders"], tabs["customer"]

    def run(mod: int) -> tuple:
        dim = cust.filter(F.col("c_custkey") % mod == 0).select("c_custkey")
        j = orders.join(dim, orders.o_custkey == dim.c_custkey).agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("v"),
        )
        row = j.collect()[0]
        return row, _final_plan(j)

    with scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
            # Pin the ratio's denominator and floor: the sparse side
            # must land ≤3 non-empty of 32 (0.094 < 0.2) regardless of
            # the calling session's shuffle.partitions — the driver's
            # vanilla session runs 8, where 3/8 would NOT demote.
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.adaptive.nonEmptyPartitionRatioForBroadcastJoin": "0.2",
        },
    ):
        sparse_row, sparse_plan = run(500)
        dense_row, dense_plan = run(2)

    return spark.createDataFrame(
        [
            (
                sparse_row["n"],
                sparse_row["v"],
                dense_row["n"],
                dense_row["v"],
                "SortMergeJoin" in sparse_plan
                and "BroadcastHashJoin" not in sparse_plan,
                "BroadcastHashJoin" in dense_plan,
            )
        ],
        "sparse_n long, sparse_value double, dense_n long,"
        " dense_value double, sparse_demoted_to_smj boolean,"
        " dense_promoted_to_bhj boolean",
    )


_AQE_COALESCE_ORACLE = """
    SELECT o_custkey % 1000            AS g,
           CAST(COUNT(*) AS BIGINT)    AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_value,
           TRUE AS coalesced_in_plan,
           TRUE AS parts_reduced,
           TRUE AS matches_control
    FROM orders GROUP BY 1
"""


@register("aqe_coalesce_partitions_audit", oracle=_AQE_COALESCE_ORACLE)
def aqe_coalesce_partitions_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE post-shuffle partition COALESCING proven — the third AQE
    behavior after the skew-split and promotion/demotion audits: a
    64-partition shuffle whose map outputs are far below the advisory
    size must come back from runtime re-planning as an
    ``AQEShuffleRead coalesced`` with strictly fewer reduce partitions
    than configured, and the coalesced run must equal the
    uncoalesced control group-for-group. At 100 TB this is the knob
    that makes one global ``shuffle.partitions`` livable: stages size
    their reducers from actual map-output bytes instead of a static
    count, so a filtered branch doesn't schedule thousands of
    near-empty reduce tasks (task-launch overhead + tiny-file output
    are the costs at scale). Every per-group aggregate is DuckDB
    value-checked; the booleans pin the plan shape, the partition
    reduction, and run equality."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]

    def run() -> tuple:
        j = orders.groupBy((F.col("o_custkey") % 1000).alias("g")).agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
        rows = j.collect()
        return rows, _final_plan(j), j.rdd.getNumPartitions()

    with scoped_conf(
        spark,
        {
            # fixed contrast base independent of the caller's session
            # (driver runs 8 shuffle partitions, the test gate 32)
            "spark.sql.shuffle.partitions": "64",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
        },
    ):
        co_rows, co_plan, co_parts = run()
        with scoped_conf(
            spark,
            {"spark.sql.adaptive.coalescePartitions.enabled": "false"},
        ):
            ctl_rows, ctl_plan, ctl_parts = run()

    coalesced = "coalesced" in co_plan and "coalesced" not in ctl_plan
    reduced = co_parts < ctl_parts and ctl_parts == 64

    matches = _row_multiset(co_rows) == _row_multiset(ctl_rows)
    return spark.createDataFrame(
        [
            (r["g"], r["n_orders"], r["total_value"], coalesced, reduced, matches)
            for r in co_rows
        ],
        "g long, n_orders long, total_value double,"
        " coalesced_in_plan boolean, parts_reduced boolean,"
        " matches_control boolean",
    )


_MULTI_SWAP_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT)                         AS n_fact_rows,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           ROUND(COALESCE(SUM(value * 2), 0), 2)            AS total_value,
           TRUE AS crash_left_tables_mixed,
           TRUE AS recovery_converged,
           TRUE AS rollup_matches_fact,
           TRUE AS no_debris
    FROM events
"""


@register("multi_table_swap_audit", oracle=_MULTI_SWAP_ORACLE)
def multi_table_swap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table transactional publish under fault injection
    (sinks.publish_tables_atomic — round-6 slate): a day-partitioned
    fact copy of events and its per-day rollup are first published at
    generation 1, then RE-published at generation 2 (values doubled)
    with a crash injected BETWEEN the two tables' swap phases — the
    exact window where fact and rollup diverge. The audit pins the
    full contract: (a) the crash really left mixed generations (fact
    new, rollup old — the documented convergence window), (b) ONE
    recovery pass rolls the single shared journal FORWARD and both
    tables land on generation 2, (c) the recovered rollup equals a
    re-aggregation of the recovered fact row-for-row (the invariant a
    fact+rollup reader needs), (d) no staging debris survives. DuckDB
    pins row/day counts and the generation-2 total. Protocol cost is
    O(#partitions) renames per table; the journal write is the single
    commit point for the whole set."""
    from .. import sinks

    ev = load_tables(spark, sf_dir, "events")["events"].select(
        "event_id",
        "user_id",
        F.col("value"),
        F.col("ts").cast("date").alias("date"),
    )

    def gen(factor: int):
        fact = ev.withColumn("value", F.col("value") * factor)
        rollup = fact.groupBy("date").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("day_value"),
        )
        return fact, rollup

    tmp = materialize.scratch("multi_swap_audit_")
    fact_t, roll_t = f"{tmp}/a_fact", f"{tmp}/b_rollup"
    f1, r1 = gen(1)
    sinks.publish_tables_atomic(spark, [(f1, fact_t), (r1, roll_t)])
    # schema-carrying read-backs throughout: an empty source
    # publishes zero day partitions (r10 empty sweep)
    v1_rollup = {
        r["date"]: r["day_value"]
        for r in sinks.read_published_or_empty(
            spark, roll_t, like=r1
        ).collect()
    }

    f2, r2 = gen(2)
    crashed = False
    try:
        with sinks.crash_at("table_done:t0"):
            sinks.publish_tables_atomic(spark, [(f2, fact_t), (r2, roll_t)])
    except RuntimeError:
        crashed = True

    mixed_fact_total = sinks.read_published_or_empty(
        spark, fact_t, like=f2
    ).agg(F.round(F.sum("value"), 2)).first()[0] or 0.0
    mixed_rollup = {
        r["date"]: r["day_value"]
        for r in sinks.read_published_or_empty(
            spark, roll_t, like=r2
        ).collect()
    }
    report = sinks.recover(fact_t, stale_after_s=0.0)

    fact_df = sinks.read_published_or_empty(spark, fact_t, like=f2)
    # row count + recovered total in ONE action (r13 optimization)
    f_row = fact_df.agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t")
    ).first()
    n_fact, total = f_row["n"], f_row["t"] or 0.0
    refreshed = fact_df.groupBy("date").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("day_value"),
    )
    # the rollup read feeds the n_days readout and the diff
    stored = materialize.persist(
        sinks.read_published_or_empty(spark, roll_t, like=r2).select(
            "date", "n_events", "day_value"
        )
    )
    n_days = stored.count()
    diff = multiset_diff(refreshed, stored)
    import os

    return spark.createDataFrame(
        [
            (
                int(n_fact),
                int(n_days),
                float(total),
                bool(
                    crashed
                    # rollup still gen 1 / fact gen 2
                    and _row_multiset(mixed_rollup.items())
                    == _row_multiset(v1_rollup.items())
                    and (
                        abs(mixed_fact_total - total) < 0.02
                        or (
                            math.isnan(mixed_fact_total)
                            and math.isnan(total)
                        )
                    )
                ),
                bool(report["rolled_forward"] == 1),
                diff == (0, 0),
                not os.path.isdir(os.path.join(fact_t, "_compact"))
                and not os.path.isdir(os.path.join(roll_t, "_compact")),
            )
        ],
        "n_fact_rows long, n_days long, total_value double,"
        " crash_left_tables_mixed boolean, recovery_converged boolean,"
        " rollup_matches_fact boolean, no_debris boolean",
    )


_JOIN_COST_ORACLE = """
    SELECT r_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           TRUE AS all_dims_broadcast,
           TRUE AS all_smj_without_estimates,
           TRUE AS strategies_agree,
           TRUE AS cbo_reordered_dims_first
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
"""


@register("join_order_cost_audit", oracle=_JOIN_COST_ORACLE)
def join_order_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join planning proven on two axes (round-6 slate):

    1. STRATEGY by size estimate: the TPC-H star (lineitem → orders →
       customer → nation → region) must plan all four dimension joins
       as BroadcastHashJoin under normal thresholds and all four as
       SortMergeJoin with estimates disabled (threshold −1), with
       identical results — the broadcast-vs-shuffle decision is pure
       cost, never semantics. At 100 TB the first plan moves four dim
       tables once; the second shuffles the fact table four times.
    2. ORDER by CBO statistics: with ANALYZE'd tables and
       ``spark.sql.cbo.joinReorder.enabled``, a query WRITTEN as
       (fact ⋈ customer) ⋈ nation under a selective nation filter is
       REORDERED to join the two filtered dimensions first and the
       fact last (detected structurally: the fact relation moves from
       first to last in the optimized join tree, depth-first); without
       CBO the written order stands.

    DuckDB value-checks the per-region revenue; the four booleans pin
    both plan decisions. All eager work happens against managed probe
    tables that are dropped before returning."""
    tabs = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )

    def star() -> DataFrame:
        return (
            tabs["lineitem"]
            .join(
                tabs["orders"],
                tabs["lineitem"].l_orderkey == tabs["orders"].o_orderkey,
            )
            .join(
                tabs["customer"],
                tabs["orders"].o_custkey == tabs["customer"].c_custkey,
            )
            .join(
                tabs["nation"],
                tabs["customer"].c_nationkey == tabs["nation"].n_nationkey,
            )
            .join(
                tabs["region"],
                tabs["nation"].n_regionkey == tabs["region"].r_regionkey,
            )
            .groupBy("r_name")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2,
                ).alias("revenue")
            )
        )

    bcast = star()
    bcast_rows = _row_multiset(bcast.collect())
    bcast_plan = _final_plan(bcast)
    with scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        smj = star()
        smj_rows = _row_multiset(smj.collect())
        smj_plan = _final_plan(smj)

    db_tables = {
        "jcost_fact": tabs["orders"].select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        "jcost_cust": tabs["customer"].select("c_custkey", "c_nationkey"),
        "jcost_nat": tabs["nation"].select("n_nationkey", "n_name"),
    }
    sql = """
        SELECT n_name, COUNT(*) AS n
        FROM jcost_fact
        JOIN jcost_cust ON o_custkey = c_custkey
        JOIN jcost_nat  ON c_nationkey = n_nationkey
        WHERE n_nationkey < 3
        GROUP BY n_name
    """

    def scrub() -> None:
        import shutil

        for name in db_tables:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
                "file:"
            )
            shutil.rmtree(f"{wh}/{name}", ignore_errors=True)

    scrub()
    try:
        for name, df in db_tables.items():
            df.write.saveAsTable(name)
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
            spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS"
            )
        plain_opt = (
            spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
        )
        with scoped_conf(
            spark,
            {
                "spark.sql.cbo.enabled": "true",
                "spark.sql.cbo.joinReorder.enabled": "true",
            },
        ):
            cbo_opt = (
                spark.sql(sql)
                ._jdf.queryExecution()
                .optimizedPlan()
                .toString()
            )
        reordered = (
            plain_opt.index("jcost_fact")
            < plain_opt.index("jcost_nat")
            and cbo_opt.index("jcost_fact") > cbo_opt.index("jcost_nat")
        )
    finally:
        scrub()

    return bcast.select(
        "r_name",
        "revenue",
        F.lit(
            bcast_plan.count("BroadcastHashJoin") == 4
            and "SortMergeJoin" not in bcast_plan
        ).alias("all_dims_broadcast"),
        F.lit(
            smj_plan.count("SortMergeJoin") == 4
            and "BroadcastHashJoin" not in smj_plan
        ).alias("all_smj_without_estimates"),
        F.lit(bcast_rows == smj_rows).alias("strategies_agree"),
        F.lit(bool(reordered)).alias("cbo_reordered_dims_first"),
    )


_ZSTD_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT)                  AS n_rows,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags,
           ROUND(SUM(l_extendedprice), 2)            AS total_price,
           TRUE AS both_zstd,
           TRUE AS default_dict_encoded,
           TRUE AS nodict_plain_only,
           TRUE AS dict_smaller_on_lowcard,
           TRUE AS roundtrip_equal
    FROM lineitem
"""


@register("zstd_encoding_audit", oracle=_ZSTD_ORACLE)
def zstd_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet ENCODING-under-zstd audit (round-6 slate): the same
    lineitem projection (a 3-value flag column + a high-cardinality
    price column) is written twice with zstd compression — once with
    default dictionary encoding, once with
    ``parquet.enable.dictionary=false`` — and the footers are read
    back (pyarrow metadata, the same inspection a table-maintenance
    job runs). Pinned: both files really compress ZSTD; the default
    write dictionary-encodes the flag column; the forced write is
    PLAIN-only; and the dictionary version of the low-cardinality
    column is strictly SMALLER on disk — the reason dictionary +
    zstd is the right default for categorical columns at 100 TB
    (zstd alone cannot recover what a 3-entry dictionary removes
    before it). Row content round-trips identically from both files;
    DuckDB value-checks count/cardinality/sum."""
    import os

    import pyarrow.parquet as pq

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"].select(
        "l_returnflag", "l_extendedprice"
    )
    tmp = materialize.scratch("zstd_audit_")
    a_dir, b_dir = f"{tmp}/dict", f"{tmp}/nodict"

    # The two probe writes MUST run sequentially: they carry
    # CONFLICTING per-writer hadoop options, and concurrent parquet
    # write jobs in one session leak such options between each
    # other (measured on vanilla Spark 4.1 — 2-4 of 10 concurrent
    # dict/nodict write pairs came out with BOTH files encoded the
    # same way, in either direction, even with the option set
    # explicitly on both writers; r13 optimization round, reverted
    # concurrency). Concurrent writes with IDENTICAL options (the
    # staged-publish pools in sinks.py) are unaffected — a leaked
    # value equals the job's own.
    def _write(forced_plain: bool) -> None:
        w = li.coalesce(1).write.option("compression", "zstd")
        if forced_plain:
            w = w.option("parquet.enable.dictionary", "false")
        w.parquet(b_dir if forced_plain else a_dir)

    _write(False)
    _write(True)

    def footer(d: str):
        f = next(
            x for x in os.listdir(d) if x.endswith(".parquet")
        )
        md = pq.ParquetFile(os.path.join(d, f)).metadata
        if md.num_row_groups == 0:
            # footer-only file from an empty write: no pages, so
            # no encodings/sizes to inspect (r10 empty sweep)
            return None
        out = {}
        for i in range(md.num_columns):
            col = md.row_group(0).column(i)
            encs = set(col.encodings)
            size = sum(
                md.row_group(g).column(i).total_compressed_size
                for g in range(md.num_row_groups)
            )
            out[col.path_in_schema] = (col.compression, encs, size)
        return out

    fa, fb = footer(a_dir), footer(b_dir)
    dict_encs = {"PLAIN_DICTIONARY", "RLE_DICTIONARY"}
    if fa is None or fb is None:
        # empty source: every encoding claim holds vacuously,
        # matching the oracle's literal TRUEs (r10 empty sweep)
        both_zstd = default_dict = nodict_plain = dict_smaller = True
    else:
        both_zstd = all(
            v[0] == "ZSTD" for v in list(fa.values()) + list(fb.values())
        )
        default_dict = bool(fa["l_returnflag"][1] & dict_encs)
        nodict_plain = not any(
            v[1] & dict_encs for v in fb.values()
        )
        dict_smaller = fa["l_returnflag"][2] < fb["l_returnflag"][2]

    ra = read_parquet(spark, a_dir)
    rb = read_parquet(spark, b_dir)
    agg = lambda df: df.agg(  # noqa: E731
        F.count("*").alias("n_rows"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    ).first()
    # the two round-trip readouts are independent actions (and
    # carry no writer options, so the write-option leak above
    # cannot touch them); each pool target carries the caller's job
    # group, description and tags
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa_, fb_ = (pool.submit(inheritable_thread_target(spark)(agg), df) for df in (ra, rb))
        va, vb = fa_.result(), fb_.result()

    return spark.createDataFrame(
        [
            (
                va["n_rows"],
                va["n_flags"],
                va["total_price"],
                bool(both_zstd),
                bool(default_dict),
                bool(nodict_plain),
                bool(dict_smaller),
                _row_multiset([va]) == _row_multiset([vb]),
            )
        ],
        "n_rows long, n_flags long, total_price double,"
        " both_zstd boolean, default_dict_encoded boolean,"
        " nodict_plain_only boolean, dict_smaller_on_lowcard boolean,"
        " roundtrip_equal boolean",
    )


_STATS_STALE_ORACLE = """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT)        AS n_orders,
           ROUND(SUM(o_totalprice), 2)     AS total_price,
           TRUE AS fresh_stats_broadcast,
           TRUE AS stale_stats_still_broadcast,
           TRUE AS reanalyzed_plan_shuffles,
           TRUE AS results_stable
    FROM orders JOIN nation ON o_custkey % 25 = n_nationkey
    GROUP BY n_name
"""


@register("stats_staleness_audit", oracle=_STATS_STALE_ORACLE)
def stats_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based planning's OPERATIONAL failure mode proven: statistics
    go stale, plans follow the stats (round-8 slate pulled forward).
    With AQE disabled so the STATIC planner's decision is what is read:

    1. a 25-row ANALYZE'd EXTERNAL dimension joins the fact under a
       64 KiB broadcast threshold → BroadcastHashJoin (stats say tiny);
    2. the dimension is grown ~2400× OUT OF BAND — parquet files
       appended straight to the table location, bypassing the catalog
       (another engine, a bulk copy) — then REFRESH TABLE so scans see
       the files but the ANALYZE stats stay stale → the planner STILL
       broadcasts: it trusts catalog statistics now wrong by three
       orders. (A catalog-aware append would not reproduce this —
       Spark deliberately clears table stats on its own writes; the
       hazard is exactly the write path the catalog never saw.)
    3. one ANALYZE later the same query plans a SortMergeJoin.

    This is the audit behind the maintenance rule "ANALYZE after bulk
    load": at 100 TB a stale-stats broadcast ships a multi-GB build
    side to every executor. Results are pinned identical across all
    three runs and value-checked by DuckDB (the appended keys are
    deliberately non-matching); the three plan-shape booleans pin the
    decision sequence. AQE (re-enabled for the value runs) is the
    runtime backstop the engine's own aqe_broadcast_demotion_audit
    proves — this row proves why the backstop is needed."""
    tabs = load_tables(spark, sf_dir, "orders", "lineitem", "nation")
    dim_name = "stale_stats_dim"
    loc = materialize.scratch("stale_stats_dim_")

    def scrub() -> None:
        spark.sql(f"DROP TABLE IF EXISTS {dim_name}")

    def q() -> DataFrame:
        return (
            tabs["orders"]
            .join(
                spark.table(dim_name),
                tabs["orders"].o_custkey % 25
                == F.col(f"{dim_name}.n_nationkey"),
            )
            .groupBy("n_name")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
        )

    def static_plan() -> str:
        with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
            return (
                q()._jdf.queryExecution().executedPlan().toString()
            )

    scrub()
    try:
        with scoped_conf(
            spark, {"spark.sql.autoBroadcastJoinThreshold": "64KB"}
        ):
            tabs["nation"].select("n_nationkey", "n_name").write.mode(
                "overwrite"
            ).parquet(loc)
            spark.sql(
                f"CREATE TABLE {dim_name} (n_nationkey BIGINT, "
                f"n_name STRING) USING parquet LOCATION '{loc}'"
            )
            spark.sql(f"ANALYZE TABLE {dim_name} COMPUTE STATISTICS")
            fresh = static_plan()
            fresh_rows = _row_multiset(q().collect())

            # bulk-append ~60k NON-MATCHING rows OUT OF BAND: straight
            # to the location, never through the catalog — REFRESH makes
            # the scan see the files while ANALYZE stats stay stale
            tabs["lineitem"].select(
                (F.col("l_orderkey") + 1000).alias("n_nationkey"),
                F.concat(F.lit("pad-"), F.col("l_partkey").cast("string"))
                .alias("n_name"),
            ).write.mode("append").parquet(loc)
            spark.sql(f"REFRESH TABLE {dim_name}")
            stale = static_plan()
            stale_rows = _row_multiset(q().collect())

            spark.sql(f"ANALYZE TABLE {dim_name} COMPUTE STATISTICS")
            refreshed = static_plan()
            refreshed_rows = _row_multiset(q().collect())
            # data-condition the plan-shape claim: the re-analyzed
            # plan is only REQUIRED to shuffle when the refreshed
            # catalog size actually exceeds the broadcast threshold —
            # at tiny fixtures (sf0.001 and below) the whole appended
            # dim can legitimately stay under 64 KiB and keep
            # broadcasting with perfectly fresh stats (r11 nulls sweep
            # surfaced this as a scale floor, not a nulls effect; same
            # convention as the AQE plan-shape audits)
            analyzed_size = int(
                spark.table(dim_name)
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
            size_above_threshold = analyzed_size > 64 * 1024
    finally:
        scrub()

    return (
        tabs["orders"]
        .join(
            tabs["nation"],
            tabs["orders"].o_custkey % 25 == tabs["nation"].n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            "n_name",
            "n_orders",
            "total_price",
            F.lit("BroadcastHashJoin" in fresh).alias(
                "fresh_stats_broadcast"
            ),
            F.lit(
                "BroadcastHashJoin" in stale
                and "SortMergeJoin" not in stale
            ).alias("stale_stats_still_broadcast"),
            F.lit(
                (
                    "SortMergeJoin" in refreshed
                    and "BroadcastHashJoin" not in refreshed
                )
                if size_above_threshold
                else True
            ).alias("reanalyzed_plan_shuffles"),
            F.lit(
                fresh_rows == stale_rows == refreshed_rows
            ).alias("results_stable"),
        )
    )


@register(
    "parquet_bloom_filter_audit",
    oracle="""
    WITH p AS (SELECT MIN(event_id) AS k FROM events)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM events)  AS n_rows,
           (SELECT ROUND(SUM(value), 2) FROM events)      AS total_value,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM events, p WHERE event_id = p.k)          AS n_point_rows,
           TRUE AS bloom_written,
           TRUE AS dict_col_suppressed,
           TRUE AS size_increased,
           TRUE AS roundtrip_exact
    """,
)
def parquet_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE parquet column bloom filters proven at the footer level —
    the file-format sibling of the engine's relational bloom indexes
    (`bloom_partition_index_audit` family): the writer is asked for a
    split-block bloom on the high-cardinality ``event_id``
    (``parquet.bloom.filter.enabled#event_id``), and the audit pins

    * ``bloom_written`` — the footer's column chunk carries a bloom
      offset (> 0) for event_id, read back through the parquet footer
      API, and the control file written WITHOUT the option carries
      none (−1);
    * ``dict_col_suppressed`` — parquet-mr intentionally SKIPS the
      bloom for fully dictionary-encoded chunks (the dictionary is
      already an exact membership filter): requesting a bloom on the
      low-cardinality ``user_id`` yields offset −1 — the semantics a
      100 TB layout designer must know (bloom the surrogate keys, let
      dictionaries cover the categoricals);
    * ``size_increased`` — the bloom-bearing file is strictly larger
      than the control (the filter is real bytes, not a flag);
    * ``roundtrip_exact`` + the value columns — row count, 2dp value
      sum and a point lookup on MIN(event_id) are identical through
      the bloom-bearing file and DuckDB-value-checked.

    At 100 TB: point lookups on non-partition keys skip row groups via
    these blooms inside the parquet reader itself, composing with
    partition pruning and min/max — per-row-group filtering the
    relational side table can't give."""
    import glob as _glob
    import os

    ev = load_tables(spark, sf_dir, "events")["events"].select(
        "event_id", "user_id", "value"
    )
    tmp = materialize.scratch("pq_bloom_audit_")
    (
        ev.coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#event_id", "true")
        .option("parquet.bloom.filter.expected.ndv#event_id", "20000")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.expected.ndv#user_id", "1000")
        .parquet(f"{tmp}/bloomed")
    )
    ev.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/control")

    def bloom_offsets(path_glob: str) -> dict:
        f = _glob.glob(path_glob)[0]
        jvm = spark._jvm
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f),
            spark._jsc.hadoopConfiguration(),
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            infile
        )
        try:
            if reader.getFooter().getBlocks().size() == 0:
                # footer-only file from an empty write: no row
                # group, no bloom headers (r10 empty sweep)
                return None
            rg = reader.getFooter().getBlocks().get(0)
            out = {}
            for i in range(rg.getColumns().size()):
                col = rg.getColumns().get(i)
                out[col.getPath().toDotString()] = (
                    col.getBloomFilterOffset()
                )
            return out
        finally:
            reader.close()

    offs = bloom_offsets(f"{tmp}/bloomed/*.parquet")
    ctl_offs = bloom_offsets(f"{tmp}/control/*.parquet")
    size_b = os.path.getsize(_glob.glob(f"{tmp}/bloomed/*.parquet")[0])
    size_c = os.path.getsize(_glob.glob(f"{tmp}/control/*.parquet")[0])

    back = read_parquet(spark, f"{tmp}/bloomed")
    # row count + value sum + point key in ONE action over one
    # scan of the bloomed file instead of three (r13 optimization;
    # count(lit(1)) ≡ count())
    b_row = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("tv"),
        F.min("event_id").alias("pk"),
    ).first()
    n_rows, tv, point_key = b_row["n"], b_row["tv"], b_row["pk"]
    # empty source: SUM stays NULL like the oracle's, the point
    # probe finds nothing, and the footer claims hold vacuously
    # (r10 empty sweep)
    total_value = None if tv is None else round(float(tv), 2)
    n_point = back.filter(F.col("event_id") == point_key).count()
    src = ev.agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v")
    ).first()
    if offs is None or ctl_offs is None:
        bloom_written = dict_suppressed = size_increased = True
    else:
        bloom_written = bool(
            offs["event_id"] > 0 and ctl_offs["event_id"] == -1
        )
        dict_suppressed = bool(offs["user_id"] == -1)
        size_increased = bool(size_b > size_c)
    sv = None if src["v"] is None else float(src["v"])
    totals_equal = _row_multiset([(total_value,)]) == _row_multiset([(sv,)])
    return spark.createDataFrame(
        [
            (
                n_rows,
                total_value,
                n_point,
                bloom_written,
                dict_suppressed,
                size_increased,
                n_rows == src["n"] and totals_equal,
            )
        ],
        "n_rows long, total_value double, n_point_rows long,"
        " bloom_written boolean, dict_col_suppressed boolean,"
        " size_increased boolean, roundtrip_exact boolean",
    )
