"""Spark SQL text API: the reference's user surface.

The reference's marts are literal ``.sql`` files executed against named
tables (``src/dags/sql/*.sql``); its users write SQL, not DataFrames.
This module gives the engine the same front door: ``create_views``
registers every testdata table (drift-coerced through the scan layer)
plus the derived staging tables as temp views, and queries can then be
plain ``spark.sql(...)`` text. Catalyst compiles SQL text and DataFrame
code to the same plans — ``retention_compact_sqltext`` below proves it
by hash-matching the DataFrame pipeline's oracle from pure SQL.

Scale note: views are lazy names over the same cached scans/materialized
parquet the DataFrame queries use — registering them adds no work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from de_project_sprint_etl_spark.plans.registry import register
from de_project_sprint_etl_spark.plans.testdata import (
    SQL_RETENTION_COMPACT,
    events_df,
    order_log_v2_decimal,
    t,
    weeks_dim_cached,
)
from de_project_sprint_etl_spark.schemas import TESTDATA_TABLES


def create_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the base tables (+ decoded events, + the two staging
    tables the reference's mart SQL builds on) as temp views for
    ``spark.sql`` text queries."""
    for name in TESTDATA_TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    events_df(spark, sf_dir).createOrReplaceTempView("events_decoded")
    order_log_v2_decimal(spark, sf_dir).createOrReplaceTempView("order_log_v2")
    weeks_dim_cached(spark, sf_dir).createOrReplaceTempView("weeks")


#: The compact weekly retention mart as Spark SQL TEXT — the same
#: values as ``retention.retention_compact``, written the way a reference
#: user would: new/returned/refunded cohort CTEs chained by FULL JOIN
#: (reference loading_retention_mart.sql:2-3).
SPARK_SQL_RETENTION_COMPACT = """
WITH wk AS (
  SELECT date_trunc('week', start_date) AS wkk, start_date, end_date, period
  FROM weeks),
shipped AS (
  SELECT customer_id, date_time, period,
         COUNT(*) AS cnt, SUM(payment_amount) AS revenue
  FROM (
    SELECT v.customer_id, v.date_time, v.payment_amount,
           CASE WHEN CAST(v.date_time AS DATE)
                     BETWEEN w.start_date AND w.end_date
                THEN w.period END AS period
    FROM order_log_v2 v
    LEFT JOIN wk w ON date_trunc('week', v.date_time) = w.wkk
    WHERE v.status = 'shipped') s
  GROUP BY customer_id, date_time, period),
refunded AS (
  SELECT customer_id, date_time, period, COUNT(*) AS cnt
  FROM (
    SELECT v.customer_id, v.date_time,
           CASE WHEN CAST(v.date_time AS DATE)
                     BETWEEN w.start_date AND w.end_date
                THEN w.period END AS period
    FROM order_log_v2 v
    LEFT JOIN wk w ON date_trunc('week', v.date_time) = w.wkk
    WHERE v.status = 'refunded') s
  GROUP BY customer_id, date_time, period),
n AS (SELECT period, COUNT(customer_id) AS new_cust_count,
             CAST(SUM(revenue) AS DOUBLE) AS new_cust_revenue
      FROM shipped WHERE cnt = 1 GROUP BY period),
r AS (SELECT period, COUNT(customer_id) AS returned_cust_count,
             CAST(SUM(revenue) AS DOUBLE) AS returned_revenue
      FROM shipped WHERE cnt > 1 GROUP BY period),
f AS (SELECT period, COUNT(*) AS cust_with_refunds,
             SUM(cnt) AS total_refunds
      FROM refunded GROUP BY period)
SELECT COALESCE(n.period, r.period, f.period) AS period,
       n.new_cust_count, n.new_cust_revenue,
       r.returned_cust_count, r.returned_revenue,
       f.cust_with_refunds, f.total_refunds
FROM n
FULL JOIN r ON n.period = r.period
FULL JOIN f ON COALESCE(n.period, r.period) = f.period
"""


@register("retention_compact_sqltext", SQL_RETENTION_COMPACT)
def q_retention_compact_sqltext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship retention mart via the SQL-TEXT front door: temp
    views over the staging tables, one ``spark.sql`` statement, same
    DuckDB oracle as the DataFrame pipeline — a reference user can
    bring their ``.sql`` files to this engine unchanged in spirit.
    Catalyst still broadcasts the week dim and partial-combines both
    aggregation levels; SQL text and DataFrame code share the
    optimizer."""
    create_views(spark, sf_dir)
    return spark.sql(SPARK_SQL_RETENTION_COMPACT)


# --- LATERAL correlated subquery (SQL surface) ------------------------------

SPARK_SQL_LATERAL_TOP_LINES = """
SELECT o.o_orderkey, o.o_orderstatus,
       t.l_linenumber, t.l_extendedprice
FROM orders o,
LATERAL (
  SELECT l_linenumber, l_extendedprice
  FROM lineitem
  WHERE l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber
  LIMIT 2
) t
WHERE o.o_orderpriority = '1-URGENT'
"""

_SQL_LATERAL_ORACLE = """
SELECT o.o_orderkey, o.o_orderstatus,
       t.l_linenumber, t.l_extendedprice
FROM orders o,
LATERAL (
  SELECT l_linenumber, l_extendedprice
  FROM lineitem
  WHERE l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber
  LIMIT 2
) t
WHERE o.o_orderpriority = '1-URGENT'
"""


@register("lateral_top_lineitems", _SQL_LATERAL_ORACLE)
def q_lateral_top_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — each urgent order's 2 highest-value
    lineitems — run as literal SQL text on BOTH engines (the per-row
    top-N idiom SQL users reach for before learning window functions).
    Catalyst decorrelates the LATERAL ... LIMIT into a ranked
    window-over-join, so the physical plan is the same shuffle shape as
    the explicit row_number formulation (`distinct_on`/`argmax` family)
    — no per-order re-scan of lineitem survives at any scale."""
    create_views(spark, sf_dir)
    return spark.sql(SPARK_SQL_LATERAL_TOP_LINES)


# --- recursive CTE (Spark 4 WITH RECURSIVE) ----------------------------------

SPARK_SQL_RECURSIVE_SPINE = """
WITH RECURSIVE spine(d) AS (
  SELECT DATE '1999-01-01'
  UNION ALL
  SELECT DATE_ADD(d, 1) FROM spine WHERE d < DATE '1999-03-31'
)
SELECT CAST(s.d AS STRING) AS day,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM spine s
LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = s.d
GROUP BY s.d
"""

_SQL_SPINE_ORACLE = """
WITH spine AS (
  SELECT CAST(unnest(generate_series(DATE '1999-01-01', DATE '1999-03-31',
                                     INTERVAL 1 DAY)) AS DATE) AS d)
SELECT CAST(s.d AS VARCHAR) AS day,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM spine s
LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = s.d
GROUP BY s.d
"""


@register("recursive_date_spine", _SQL_SPINE_ORACLE)
def q_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE (`WITH RECURSIVE ... UNION ALL`) executed
    by the engine: a 90-day date spine generated by recursion, left-
    joined to orders so zero-order days survive — the classic
    gap-preserving calendar pattern, here exercising the NEW recursive
    execution path (bounded depth 90 < the 100-level default limit).
    The oracle states the same spine non-recursively via
    generate_series, cross-checking the recursion against a closed
    form. At scale a spine is generated, not recursed — this entry
    exists to cover the SQL surface."""
    create_views(spark, sf_dir)
    return spark.sql(SPARK_SQL_RECURSIVE_SPINE)


# --- PIVOT clause (SQL surface) ------------------------------------------------

SPARK_SQL_PIVOT = """
SELECT * FROM (
  SELECT o_orderpriority, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
PIVOT (
  CAST(SUM(price) AS DOUBLE) AS revenue, COUNT(*) AS n
  FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p)
)
"""

_SQL_PIVOT_ORACLE = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS f_revenue,
       CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f_n,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS o_revenue,
       CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o_n,
       CAST(SUM(CASE WHEN o_orderstatus = 'P'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS p_revenue,
       CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p_n
FROM orders
GROUP BY o_orderpriority
"""


@register("pivot_sqltext", _SQL_PIVOT_ORACLE)
def q_pivot_sqltext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL `PIVOT` clause (multi-aggregate, pinned value list) as
    literal query text — the reshaping surface SQL users get without
    the DataFrame `groupBy().pivot()` API (`pivot_status_revenue` is
    the API twin). Pinned IN-list = one Expand + one hash aggregate,
    no value-discovery pass; the oracle states the same table as
    portable conditional aggregation. Money sums ride DECIMAL until
    the final DOUBLE cast."""
    create_views(spark, sf_dir)
    return spark.sql(SPARK_SQL_PIVOT)


# --- join-strategy hint (SQL surface) --------------------------------------------

SPARK_SQL_BROADCAST_HINT = """
SELECT /*+ BROADCAST(n) */
       n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
"""

_SQL_BROADCAST_HINT_ORACLE = """
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
"""


@register("broadcast_hint_sqltext", _SQL_BROADCAST_HINT_ORACLE)
def q_broadcast_hint_sqltext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `/*+ BROADCAST(alias) */` optimizer-hint surface: user-
    directed join strategy through SQL text, the escape hatch when
    statistics mislead the planner (a dim under the auto-broadcast
    threshold needs no hint; one OVER it at 100 TB — but known-small
    after filters — does). The hint changes ONLY the physical plan:
    the oracle is the same query unhinted, and
    tests/test_analytics.py pins that the hint forces a
    BroadcastHashJoin even with the auto-broadcast threshold disabled
    while the unhinted twin shuffle-joins."""
    create_views(spark, sf_dir)
    return spark.sql(SPARK_SQL_BROADCAST_HINT)
