"""The reference's three pipeline entry points (SURVEY.md §3) as pure
Spark job compositions: snapshot load, incremental load + mart refresh,
and the retention-mart build.

The reference orchestrates 18 Airflow tasks across Postgres and HTTP
(``src/dags/ETL_logs_inc.py:294-436``); here each entry point is one
Python function over DataFrames, the inter-task "IR" is a layered
Parquet directory tree (staging/ → mart/), and Spark's lazy DAG
replaces task-level parallelism inside a stage. Each entry point writes
its tables and returns ``None``: consumers read the written layout.
Reads of tables this module wrote carry their declared schema, so no
read-back pays a schema-inference job. ``build_retention_mart`` builds
the week dim from ``mart/d_calendar``, as the reference does, so
``refresh_marts`` must run first; ``run_all`` orders them.

Layout written under a ``base_dir``::

    staging/user_order_log/         snapshot (full refresh each run)
    staging/user_order_log_inc/     increment (carries status)
    mart/d_calendar/  mart/d_customer/  mart/d_item/
    mart/f_sales/     mart/f_sales_v2/
    mart/d_calendar_weeks/  mart/retention_compact/
    mart/f_customer_retention/

Idempotency = the reference's own strategy (C5): deterministic
recompute + overwrite, so re-running any entry point is a fixed point
(README.md:21-22 "processed correctly and not duplicated").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_sprint_etl_spark import schemas
from de_project_sprint_etl_spark.operators import dims, facts, retention
from de_project_sprint_etl_spark.sources import readers, writers


def _p(base: str, *parts: str) -> str:
    return os.path.join(base, *parts)


# --- entry point 1: snapshot load (ETL_logs_inc.py:434-435) ---------------


def load_snapshot(spark: SparkSession, src_dir: str, base_dir: str) -> None:
    """Full snapshot load: CSVs → typed staging Parquet (full refresh,
    reference K2 drop+create semantics → mode=overwrite). Writes the
    four staging tables and returns ``None``."""
    tables = {
        "user_order_log": schemas.USER_ORDER_LOG,
        "user_activity_log": schemas.USER_ACTIVITY_LOG,
        "customer_research": schemas.CUSTOMER_RESEARCH,
    }
    for name, schema in tables.items():
        df = readers.read_csv(spark, _p(src_dir, f"{name}.csv"), schema=schema)
        writers.overwrite(df, _p(base_dir, "staging", name))
    price = readers.read_headerless_csv(
        spark, _p(src_dir, "price_log.csv"), schemas.PRICE_LOG
    )
    # dead sink in the reference (loaded, never read downstream) —
    # reproduced for load capability (SURVEY.md §2.2 note)
    writers.overwrite(price, _p(base_dir, "staging", "price_log"))


# --- entry point 2: increment load + mart refresh -------------------------


def load_increment(spark: SparkSession, src_dir: str, base_dir: str) -> None:
    """Increment load (reference ``*_inc.csv`` → ``*_temp`` tables):
    typed read, overwrite the increment layer. Returns ``None``."""
    inc = readers.read_csv(
        spark,
        _p(src_dir, "user_order_log_inc.csv"),
        schema=schemas.USER_ORDER_LOG_INC,
    )
    writers.overwrite(inc, _p(base_dir, "staging", "user_order_log_inc"))


def _staging(spark: SparkSession, base_dir: str) -> tuple[DataFrame, DataFrame | None]:
    """The snapshot order log and, when loaded, the increment, read with
    the schemas they were written from."""
    uol = spark.read.schema(schemas.USER_ORDER_LOG).parquet(
        _p(base_dir, "staging", "user_order_log")
    )
    inc_path = _p(base_dir, "staging", "user_order_log_inc")
    inc = (
        spark.read.schema(schemas.USER_ORDER_LOG_INC).parquet(inc_path)
        if os.path.isdir(inc_path)
        else None
    )
    return uol, inc


def refresh_marts(spark: SparkSession, base_dir: str) -> None:
    """Rebuild dims + facts from staging (reference
    update_mart_d_tables.sql / update_mart_f_table.sql /
    load_inc_f_table.sql, full-recompute strategy §4). Writes
    ``d_calendar``, ``d_customer``, ``d_item``, ``f_sales`` and
    ``f_sales_v2`` and returns ``None``; ``d_calendar`` is the date
    source of ``build_retention_mart``'s week dim."""
    uol, inc = _staging(spark, base_dir)
    ual = spark.read.schema(schemas.USER_ACTIVITY_LOG).parquet(
        _p(base_dir, "staging", "user_activity_log")
    )
    res = spark.read.schema(schemas.CUSTOMER_RESEARCH).parquet(
        _p(base_dir, "staging", "customer_research")
    )

    date_sources = [(uol, "date_time"), (ual, "date_time"), (res, "date_id")]
    if inc is not None:
        date_sources.append((inc, "date_time"))
    calendar = dims.build_calendar(date_sources)
    writers.overwrite(calendar, _p(base_dir, "mart", "d_calendar"))
    calendar = spark.read.schema(calendar.schema).parquet(
        _p(base_dir, "mart", "d_calendar")
    )

    all_orders = uol.unionByName(inc.drop("status"), allowMissingColumns=False) if inc is not None else uol
    d_customer = dims.distinct_on(
        all_orders.select("customer_id", "first_name", "last_name", "city_id", "date_time"),
        ["customer_id"],
        [F.col("date_time").desc()],
    ).drop("date_time")
    writers.overwrite(d_customer, _p(base_dir, "mart", "d_customer"))

    d_item = dims.distinct_on(
        all_orders.select("item_id", "item_name", "date_time"),
        ["item_id"],
        [F.col("date_time").desc()],
    ).drop("date_time")
    writers.overwrite(d_item, _p(base_dir, "mart", "d_item"))

    f_sales = facts.build_fact_sales(
        uol.select("date_time", "customer_id", "item_id", "city_id", "quantity", "payment_amount"),
        calendar,
        "date_time",
    ).select("date_id", "item_id", "customer_id", "city_id", "quantity", "payment_amount")
    writers.overwrite(f_sales, _p(base_dir, "mart", "f_sales"))

    # f_sales_v2 = merged order log (C5) joined to the calendar, with status
    v2 = facts.merge_snapshot_increment(uol, inc) if inc is not None else facts.stamp_status(uol)
    f_sales_v2 = facts.build_fact_sales(
        v2.select("date_time", "customer_id", "item_id", "city_id", "quantity", "payment_amount", "status"),
        calendar,
        "date_time",
    ).select(
        "date_id", "item_id", "customer_id", "city_id", "quantity", "payment_amount", "status"
    )
    writers.overwrite(f_sales_v2, _p(base_dir, "mart", "f_sales_v2"))


# --- entry point 3: retention mart (the flagship) -------------------------


def build_retention_mart(spark: SparkSession, base_dir: str) -> None:
    """Weekly retention mart (reference date_periods.sql +
    {new,returned,refunded}_customers.sql + loading_retention_mart.sql).
    Writes ``d_calendar_weeks``, ``retention_compact`` and
    ``f_customer_retention`` and returns ``None``. Reads
    ``mart/d_calendar``, so ``refresh_marts`` must have run."""
    uol, inc = _staging(spark, base_dir)
    v2 = (
        facts.merge_snapshot_increment(uol, inc)
        if inc is not None
        else facts.stamp_status(uol)
    ).withColumn("date_time", F.col("date_time").cast("date")).withColumn(
        "payment_amount", F.col("payment_amount").cast("decimal(18,2)")
    )

    # week dim FROM mart.d_calendar, as reference date_periods.sql:5-15
    # builds it: the calendar unions order/activity/research dates, so
    # every v2 date lands in a week, and activity/research-only weeks
    # still take a period number (v2 dates alone would renumber them).
    calendar = spark.read.schema(schemas.D_CALENDAR).parquet(
        _p(base_dir, "mart", "d_calendar")
    )
    weeks = retention.build_weeks(calendar.select("fact_date"))
    writers.overwrite(weeks, _p(base_dir, "mart", "d_calendar_weeks"))
    weeks = spark.read.schema(weeks.schema).parquet(
        _p(base_dir, "mart", "d_calendar_weeks")
    )

    with retention.retention_marts(v2, weeks) as (compact, mart):
        writers.overwrite(compact, _p(base_dir, "mart", "retention_compact"))
        writers.overwrite(mart, _p(base_dir, "mart", "f_customer_retention"))


def run_all(spark: SparkSession, src_dir: str, base_dir: str) -> None:
    """Full DAG (reference ETL_logs_inc.py:434-436): snapshot → increment
    → marts → retention, in dependency order (the retention build reads
    the calendar that ``refresh_marts`` writes)."""
    load_snapshot(spark, src_dir, base_dir)
    if os.path.exists(_p(src_dir, "user_order_log_inc.csv")):
        load_increment(spark, src_dir, base_dir)
    refresh_marts(spark, base_dir)
    build_retention_mart(spark, base_dir)
