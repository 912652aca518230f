"""Customer-retention mart (SURVEY.md §2 A7–A9, A12, W1, F1/F2, J2, J3).

This is the reference's flagship analytics pipeline (reference
``src/dags/sql/{date_periods,new_customers,returned_customers,
refunded_customers,loading_retention_mart}.sql``): split customers into
new / returning / refunded cohorts per ISO week and assemble a weekly
retention mart.

Expected ``v2`` input columns (the unified order log built by
operators.facts.merge_snapshot_increment): ``customer_id``, ``date_time``
(date), ``item_id``, ``payment_amount`` (decimal — exact sums), ``status``.

Scale design:
- week assignment is an equi-join on ``date_trunc('week')`` against the
  (tiny, broadcast) week dim — a BroadcastHashJoin, not the reference's
  correlated range subquery. The range-join form is kept as an explicit
  operator (``assign_week_period(..., how='range_join')``) for parity;
  both are equivalent because week buckets are min/max of observed dates
  within a week-trunc bucket, so every in-calendar date lands in its own
  bucket's [start, end].
- cohorts are two chained hash aggregations (partial map-side combine on
  both levels); the only wide exchanges are the two groupBys.
- the daily pipeline builds both marts from one classification frame
  (``retention_marts``): one aggregate at (status, customer, date, period,
  item) grain, then one conditional aggregate per mart instead of six
  cohort branches and four full joins. The per-cohort operators below
  are the reference form; the registered cohort queries run on them.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_weeks(dates: DataFrame, date_col: str = "fact_date") -> DataFrame:
    """``d_calendar_weeks`` (reference ``date_periods.sql:5-15``):
    per ISO week (Monday-truncated in both Postgres and Spark), the min and
    max observed date plus a sequential period number ordered by week.

    One row per week — tiny, so the unpartitioned row_number window is
    safe BY CONSTRUCTION (cardinality = observed calendar weeks, which
    grows with time, not data volume). The guard makes that argument
    executable: past ``guards.WEEK_DIM_BOUND`` rows the window raises
    instead of silently single-partition-sorting a mis-fed stream.
    """
    from de_project_sprint_etl_spark.functions import guards

    agg = (
        dates.groupBy(F.date_trunc("week", F.col(date_col)).alias("__wk"))
        .agg(
            F.min(date_col).cast("date").alias("start_date"),
            F.max(date_col).cast("date").alias("end_date"),
        )
        .drop("__wk")
    )
    w = Window.orderBy("start_date")
    period = guards.bounded_global_window(
        F.row_number().over(w).cast("long"),
        w,
        guards.WEEK_DIM_BOUND,
        "build_weeks period numbering",
        "a pre-built calendar dimension keyed by date_trunc('week')",
    )
    return agg.select("start_date", "end_date", period.alias("period"))


def assign_week_period(
    df: DataFrame,
    weeks: DataFrame,
    date_col: str = "date_time",
    how: str = "equi",
) -> DataFrame:
    """J2: attach each row's week ``period`` (NULL when no week matches).

    Reference form is a correlated scalar subquery with a BETWEEN range
    predicate (``new_customers.sql:5``) — an interval join in disguise.

    - ``how='equi'`` (default, the scale path): equi-join on the Monday
      week-truncation of both sides -> BroadcastHashJoin, zero shuffle of
      ``df``. Guarded by a post-join range check so dates whose week
      bucket exists but which fall outside [start_date, end_date] get a
      NULL period, matching the range semantics exactly.
    - ``how='range_join'`` (parity form): broadcast non-equi join,
      physical plan BroadcastNestedLoopJoin — fine because weeks is tiny,
      but O(|df| * |weeks|) comparisons; kept for semantics testing.
    """
    if how == "equi":
        wk = F.broadcast(
            weeks.select(
                F.date_trunc("week", "start_date").alias("__wk"),
                "start_date",
                "end_date",
                "period",
            )
        )
        joined = df.join(
            wk, F.date_trunc("week", F.col(date_col)) == wk["__wk"], "left"
        )
        in_range = F.col(date_col).cast("date").between(
            F.col("start_date"), F.col("end_date")
        )
        return joined.withColumn(
            "period", F.when(in_range, F.col("period"))
        ).drop("__wk", "start_date", "end_date")
    if how == "range_join":
        wk = F.broadcast(weeks)
        cond = F.col(date_col).cast("date").between(
            wk["start_date"], wk["end_date"]
        )
        return df.join(wk, cond, "left").drop("start_date", "end_date")
    raise ValueError(f"unknown week-assignment strategy: {how}")


def cohort_base(
    v2: DataFrame,
    weeks: DataFrame,
    status: str,
    item: bool,
    how: str = "equi",
) -> DataFrame:
    """Inner CTE shared by all three cohorts (reference
    ``new_customers.sql:3-7`` shape): filter by status, attach the week
    period, aggregate per (customer, date, period[, item]).

    The status filter runs before the join so predicate pushdown reaches
    the scan (F1/F2). The new and returned cohorts share the identical
    ``status='shipped'`` base; the retention assembly plans compute it
    once, ``persist()`` it and pass it to both via their ``base=``
    parameter. That saves a fact-table scan but measured no faster in
    the mart build (ROADMAP D): the cost is the job and exchange count,
    not the scans.
    """
    filtered = v2.filter(F.col("status") == status)
    with_period = assign_week_period(filtered, weeks, "date_time", how=how)
    keys = ["customer_id", "date_time", "period"] + (["item_id"] if item else [])
    return with_period.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("payment_amount").alias("revenue"),
    )


def new_customers(
    v2: DataFrame | None = None,
    weeks: DataFrame | None = None,
    item: bool = True,
    base: DataFrame | None = None,
) -> DataFrame:
    """``mart.new_cust`` / ``new_cust_compact`` (reference
    ``new_customers.sql``): shipped rows, HAVING count(*)=1 per
    (customer, date, period[, item]) — a customer whose (date[, item])
    appears exactly once is "new" — then re-aggregate per period[, item].
    """
    if base is None:
        base = cohort_base(v2, weeks, "shipped", item)
    base = base.filter(F.col("cnt") == 1)
    keys = ["period"] + (["item_id"] if item else [])
    out = base.groupBy(*keys).agg(
        F.count("customer_id").alias("new_cust_count"),
        F.sum("revenue").alias("new_cust_revenue"),
    )
    if item:
        out = out.withColumnRenamed("item_id", "item_new")
    return out


def returned_customers(
    v2: DataFrame | None = None,
    weeks: DataFrame | None = None,
    item: bool = True,
    base: DataFrame | None = None,
) -> DataFrame:
    """``mart.returned_cust`` (reference ``returned_customers.sql``):
    same shape as new_customers but HAVING count(*) > 1 (repeat rows in
    the same (date[, item]) bucket ⇒ returning)."""
    if base is None:
        base = cohort_base(v2, weeks, "shipped", item)
    base = base.filter(F.col("cnt") > 1)
    keys = ["period"] + (["item_id"] if item else [])
    out = base.groupBy(*keys).agg(
        F.count("customer_id").alias("returned_cust_count"),
        F.sum("revenue").alias("returned_revenue"),
    )
    if item:
        out = out.withColumnRenamed("item_id", "item_ret")
    return out


def refunded_customers(
    v2: DataFrame, weeks: DataFrame, item: bool = True
) -> DataFrame:
    """``mart.refunded_cust`` (reference ``refunded_customers.sql``):
    refunded rows, count(*) AS refunds per (customer, date, period[,
    item]) (no HAVING), then per period[, item]: count(*) customers with
    refunds + sum(refunds) total refund events."""
    base = cohort_base(v2, weeks, "refunded", item)
    keys = ["period"] + (["item_id"] if item else [])
    out = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cust_with_refunds"),
        F.sum("cnt").alias("total_refunds"),
    )
    if item:
        out = out.withColumnRenamed("item_id", "item_ref")
    return out


def assemble_retention_compact(
    new_c: DataFrame, ret_c: DataFrame, ref_c: DataFrame
) -> DataFrame:
    """``mart.retention_compact`` (reference
    ``loading_retention_mart.sql:2-3``): two chained FULL JOINs
    USING(period) — PySpark's ``on="period"`` reproduces the USING key
    coalescing — ordered by period. Weeks present in one cohort but not
    another yield NULL columns (reference comments.md:8)."""
    return (
        new_c.join(ret_c, on="period", how="full")
        .join(ref_c, on="period", how="full")
        .orderBy("period")
    )


def assemble_retention_mart(
    new: DataFrame, ret: DataFrame, ref: DataFrame
) -> DataFrame:
    """``mart.f_customer_retention`` (reference
    ``loading_retention_mart.sql:5-8`` into the ``creating_retention.sql``
    DDL): item-level cohorts full-joined USING(period) — note the
    reference joins on period alone, so items cross-combine within a
    period; we reproduce that faithfully — projected into the DDL's
    column names/types (counts int4, revenues bigint)."""
    joined = (
        new.join(ret, on="period", how="full")
        .join(ref, on="period", how="full")
        .orderBy("period")
    )
    return _mart_columns(joined)


def _mart_columns(joined: DataFrame) -> DataFrame:
    """Project the period-joined item cohorts into the
    ``creating_retention.sql`` DDL's column names and types."""
    return joined.select(
        F.col("new_cust_count").cast("int").alias("new_customers_count"),
        F.col("returned_cust_count").cast("int").alias("returning_customers_count"),
        F.col("cust_with_refunds").cast("int").alias("refunded_customer_count"),
        F.lit("weekly").alias("period_name"),
        F.col("period").cast("int").alias("period_id"),
        F.col("item_new").cast("int").alias("item_id_new_cust"),
        F.col("item_ret").cast("int").alias("item_id_returned_cust"),
        F.col("item_ref").cast("int").alias("item_id_refunded_cust"),
        # numeric -> bigint in Postgres rounds; Spark's cast truncates, so
        # round explicitly (half-up on positive revenue in both engines).
        F.round(F.col("new_cust_revenue")).cast("long").alias("new_customers_revenue"),
        F.round(F.col("returned_revenue")).cast("long").alias("returning_customers_revenue"),
        F.col("total_refunds").cast("int").alias("customers_refunded"),
    )


def _cohort_aggregate(df: DataFrame, keys: list[str]) -> DataFrame:
    """The three cohorts of ``new_customers`` / ``returned_customers`` /
    ``refunded_customers`` as one conditional aggregate per ``keys`` over
    a (status, customer_id, period, cnt, revenue) frame, with their
    column names and types. A cohort absent from a group gives NULL, not
    0, as the reference's FULL JOIN does.

    A FULL JOIN never matches NULL keys, so each cohort's NULL-period
    rows stay rows of their own there; grouping NULL periods by cohort
    (``__unmatched``) keeps them apart here too."""
    shipped = F.col("status") == "shipped"
    new = shipped & (F.col("cnt") == 1)
    ret = shipped & (F.col("cnt") > 1)
    ref = F.col("status") == "refunded"
    cohort = F.when(ref, "ref").when(new, "new").otherwise("ret")

    def if_present(member, agg):
        return F.when(F.count(F.when(member, 1)) > 0, agg)

    unmatched = F.when(F.col("period").isNull(), cohort).alias("__unmatched")
    return df.groupBy(*keys, unmatched).agg(
        if_present(new, F.count(F.when(new, F.col("customer_id")))).alias("new_cust_count"),
        F.sum(F.when(new, F.col("revenue"))).alias("new_cust_revenue"),
        if_present(ret, F.count(F.when(ret, F.col("customer_id")))).alias("returned_cust_count"),
        F.sum(F.when(ret, F.col("revenue"))).alias("returned_revenue"),
        if_present(ref, F.count(F.when(ref, 1))).alias("cust_with_refunds"),
        F.sum(F.when(ref, F.col("cnt"))).alias("total_refunds"),
    )


@contextlib.contextmanager
def retention_marts(
    v2: DataFrame, weeks: DataFrame
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """``(retention_compact, f_customer_retention)`` from one persisted
    classification frame, released when the block exits::

        with retention_marts(v2, weeks) as (compact, mart):
            ...write both...

    Equal in schema and rows to ``assemble_retention_compact`` and
    ``assemble_retention_mart`` over the per-cohort operators. The frame
    is ``cohort_base`` for both statuses at item grain: shipped and
    refunded rows, one ``assign_week_period``, one aggregate per
    (status, customer, date, period, item).

    - compact: cnt and revenue are additive over items, so the frame
      re-aggregated to customer grain is the customer-grain cohort base;
      then one conditional aggregate per period.
    - mart: one conditional aggregate per (period, item), each cohort
      collected per period and exploded (``explode_outer``, so an absent
      cohort is one NULL row). That is the reference's item
      cross-combination of FULL JOIN USING(period): max(n,1) * max(r,1)
      * max(f,1) rows for a period with n new, r returning and f
      refunded items.
    """
    frame = (
        assign_week_period(
            v2.filter(F.col("status").isin("shipped", "refunded")), weeks
        )
        .groupBy("status", "customer_id", "date_time", "period", "item_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("payment_amount").alias("revenue"),
        )
        .persist()
    )
    try:
        customers = frame.groupBy("status", "customer_id", "date_time", "period").agg(
            F.sum("cnt").alias("cnt"), F.sum("revenue").alias("revenue")
        )
        compact = (
            _cohort_aggregate(customers, ["period"])
            .drop("__unmatched")
            .orderBy("period")
        )

        def items_of(count: str, item: str, total: str):
            entry = F.struct(F.col("item_id").alias(item), count, total)
            return F.collect_list(F.when(F.col(count).isNotNull(), entry))

        per_period = _cohort_aggregate(frame, ["period", "item_id"]).groupBy(
            "period", "__unmatched"
        ).agg(
            items_of("new_cust_count", "item_new", "new_cust_revenue").alias("new"),
            items_of("returned_cust_count", "item_ret", "returned_revenue").alias("ret"),
            items_of("cust_with_refunds", "item_ref", "total_refunds").alias("ref"),
        )
        for c in ("new", "ret", "ref"):
            per_period = per_period.withColumn(c, F.explode_outer(c))
        mart = _mart_columns(
            per_period.select("period", "new.*", "ret.*", "ref.*").orderBy("period")
        )
        yield compact, mart
    finally:
        frame.unpersist()
