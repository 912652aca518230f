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
- each cohort is defined once, in ``COHORTS``. ``cohort_base`` is the
  one classification frame: a status filter (pushed into the scan), the
  week join and one aggregate per (status, customer, date, period[,
  item]). ``cohort`` filters it to one cohort and aggregates per period;
  ``retention_compact`` and ``retention_mart`` read all three cohorts in
  one conditional aggregate instead of three cohort branches and the
  reference's FULL JOINs.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
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


class Cohort(NamedTuple):
    """One cohort of the reference's cohort queries."""

    status: str
    #: which base groups belong, given their row count; None: every group
    member: Callable[[Column], Column] | None
    #: the column the count reads; None counts groups
    counted: str | None
    #: the base measure the total sums
    summed: str
    #: output names of the count, the total and the item
    columns: tuple[str, str, str]


_SHIPPED = "shipped"

#: The reference's cohorts (``new_customers.sql``,
#: ``returned_customers.sql``, ``refunded_customers.sql``) over the
#: per-(customer, date[, item]) rows of ``cohort_base``: a shipped group
#: seen once is new, seen more often returning; every refunded group
#: counts, with its refund events as the total.
COHORTS = {
    "new": Cohort(
        _SHIPPED, lambda cnt: cnt == 1, "customer_id", "revenue",
        ("new_cust_count", "new_cust_revenue", "item_new"),
    ),
    "ret": Cohort(
        _SHIPPED, lambda cnt: cnt > 1, "customer_id", "revenue",
        ("returned_cust_count", "returned_revenue", "item_ret"),
    ),
    "ref": Cohort(
        "refunded", None, None, "cnt",
        ("cust_with_refunds", "total_refunds", "item_ref"),
    ),
}

#: every status a cohort reads, in ``COHORTS`` order
STATUSES = tuple(dict.fromkeys(c.status for c in COHORTS.values()))


def cohort_base(
    v2: DataFrame, weeks: DataFrame, statuses: tuple[str, ...], item: bool
) -> DataFrame:
    """The inner CTE of the cohort queries (reference
    ``new_customers.sql:3-7`` shape): rows of ``statuses``, their week
    period, and per (status, customer, date, period[, item]) the row
    count ``cnt`` and ``revenue``.

    The status filter runs before the join so predicate pushdown reaches
    the scan (F1/F2)."""
    filtered = v2.filter(F.col("status").isin(*statuses))
    keys = ["status", "customer_id", "date_time", "period"]
    return (
        assign_week_period(filtered, weeks)
        .groupBy(*keys, *(["item_id"] if item else []))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("payment_amount").alias("revenue"),
        )
    )


def _member(name: str) -> Column:
    c = COHORTS[name]
    status = F.col("status") == c.status
    return status if c.member is None else status & c.member(F.col("cnt"))


def _counted(c: Cohort) -> Column:
    return F.lit(1) if c.counted is None else F.col(c.counted)


def cohort(base: DataFrame, name: str, keys: list[str]) -> DataFrame:
    """One cohort of ``COHORTS`` per ``keys`` over a ``cohort_base``
    frame (reference ``mart.new_cust`` / ``returned_cust`` /
    ``refunded_cust`` and their ``_compact`` forms): the cohort's groups,
    then its count and total; ``item_id`` is renamed to the cohort's
    item column."""
    c = COHORTS[name]
    count, total, item = c.columns
    out = base.filter(_member(name)).groupBy(*keys).agg(
        F.count(_counted(c)).alias(count), F.sum(c.summed).alias(total)
    )
    return out.withColumnRenamed("item_id", item)


def _cohort_aggregate(df: DataFrame, keys: list[str]) -> DataFrame:
    """Every cohort of ``COHORTS`` as one conditional aggregate per
    ``keys`` over a ``cohort_base`` frame, with ``cohort``'s column names
    and types. A cohort absent from a group gives NULL, not 0, as the
    reference's FULL JOIN does.

    A FULL JOIN never matches NULL keys, so each cohort's NULL-period
    rows stay rows of their own there; grouping NULL periods by cohort
    (``__unmatched``) keeps them apart here too."""
    member = {name: _member(name) for name in COHORTS}
    label = F.coalesce(*[F.when(m, name) for name, m in member.items()])
    unmatched = F.when(F.col("period").isNull(), label).alias("__unmatched")
    measures = []
    for name, m in member.items():
        c = COHORTS[name]
        count, total, _ = c.columns
        measures += [
            F.when(
                F.count(F.when(m, 1)) > 0, F.count(F.when(m, _counted(c)))
            ).alias(count),
            F.sum(F.when(m, F.col(c.summed))).alias(total),
        ]
    return df.groupBy(*keys, unmatched).agg(*measures)


def retention_compact(customers: DataFrame) -> DataFrame:
    """``mart.retention_compact`` (reference
    ``loading_retention_mart.sql:2-3``) from a customer-grain
    ``cohort_base`` of ``STATUSES``: the three cohorts per period, NULL
    where a week lacks a cohort (reference comments.md:8), ordered by
    period."""
    return (
        _cohort_aggregate(customers, ["period"])
        .drop("__unmatched")
        .orderBy("period")
    )


def retention_mart(items: DataFrame) -> DataFrame:
    """``mart.f_customer_retention`` (reference
    ``loading_retention_mart.sql:5-8`` into the ``creating_retention.sql``
    DDL) from an item-grain ``cohort_base`` of ``STATUSES``.

    One conditional aggregate per (period, item), each cohort collected
    per period and exploded (``explode_outer``, so an absent cohort is
    one NULL row). That is the reference's item cross-combination of
    FULL JOIN USING(period): max(n,1) * max(r,1) * max(f,1) rows for a
    period with n new, r returning and f refunded items. Projected into
    the DDL's column names and types (counts int4, revenues bigint)."""

    def items_of(name: str) -> Column:
        count, total, item = COHORTS[name].columns
        entry = F.struct(F.col("item_id").alias(item), count, total)
        return F.collect_list(F.when(F.col(count).isNotNull(), entry)).alias(name)

    per_period = (
        _cohort_aggregate(items, ["period", "item_id"])
        .groupBy("period", "__unmatched")
        .agg(*[items_of(name) for name in COHORTS])
    )
    for name in COHORTS:
        per_period = per_period.withColumn(name, F.explode_outer(name))
    joined = per_period.select(
        "period", *[f"{name}.*" for name in COHORTS]
    ).orderBy("period")
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


@contextlib.contextmanager
def retention_marts(
    v2: DataFrame, weeks: DataFrame
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """``(retention_compact, f_customer_retention)`` from one persisted
    item-grain ``cohort_base``, released when the block exits::

        with retention_marts(v2, weeks) as (compact, mart):
            ...write both...

    cnt and revenue are additive over items, so the frame re-aggregated
    to customer grain is the compact mart's customer-grain base."""
    items = cohort_base(v2, weeks, STATUSES, item=True).persist()
    try:
        customers = items.groupBy("status", "customer_id", "date_time", "period").agg(
            F.sum("cnt").alias("cnt"), F.sum("revenue").alias("revenue")
        )
        yield retention_compact(customers), retention_mart(items)
    finally:
        items.unpersist()
