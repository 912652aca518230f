"""Warehouse / analytics operators, round 3 batch 2.

Six op families a mart-building user reaches for next, none present in
the reference (SURVEY.md §2.12 — its surface stops at equi/range joins
and plain grouped aggregation), each Spark-first with an exact DuckDB
oracle:

- argmax aggregation (``max_by`` with a struct ordering key) — "the row
  that achieved the max" without a join-back or a window pass; single
  partial-aggregatable agg, deterministic under ties because the
  ordering key includes the id.
- exact median — Spark ``median`` = interpolated percentile_cont(0.5),
  which hash-matches DuckDB's ``median`` on doubles (same precedent as
  quality_percentiles).
- two-phase mode — groupBy-count then per-group rank with a
  deterministic tie-break. Spark HAS ``F.mode`` but its tie choice is
  engine-arbitrary; the two-phase form is both deterministic and the
  shape that scales (both phases partial-aggregatable / single window
  over pre-shrunk groups).
- schema-evolution union — ``unionByName(allowMissingColumns=True)``:
  merging v1 rows (no column) with v2 rows (new column) NULL-fills the
  missing side, the read-side analog of parquet mergeSchema. Map-side
  only, zero shuffle.
- time-series gap fill — date spine from ``sequence()`` + explode on a
  one-row min/max frame, left join of per-day aggregates, zero-fill.
  The spine is O(days) rows however big the fact table is, so the join
  build side stays broadcastable at 100 TB.
- SCD2 dimension build — change-detection (lag) → run numbering
  (running sum) → per-run collapse → validity intervals (lead). One
  shuffle on the entity key; every window reuses the same partitioning.
- event funnel — per-user stage timestamps via chained conditional
  window minima (click counted only at-or-after signup, purchase only
  at-or-after that click); one shuffle on user_id, the three window
  passes share the partitioning. Timestamps compared as unix micros so
  both engines order identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_sprint_etl_spark.plans import artifacts
from de_project_sprint_etl_spark.plans.registry import register
from de_project_sprint_etl_spark.plans.testdata import events_df, t

_DEC_SUM = "CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"


@register(
    "argmax_order_per_priority",
    """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
  FROM orders)
SELECT o_orderpriority, o_totalprice AS max_price, o_orderkey AS best_orderkey
FROM ranked WHERE rk = 1
""",
)
def q_argmax_order_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority: the priciest order's key via ``max_by`` ordered by
    (price, orderkey) — the struct key makes ties deterministic, and the
    whole thing is one partial-aggregatable agg (no join-back, no
    window; at 100 TB the map-side combine ships one candidate row per
    partition per group)."""
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.max("o_totalprice").alias("max_price"),
        F.max_by(
            "o_orderkey", F.struct("o_totalprice", "o_orderkey")
        ).alias("best_orderkey"),
    )


@register(
    "median_order_value_by_status",
    """
SELECT o_orderstatus,
       median(o_totalprice) AS median_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
)
def q_median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median (interpolated percentile_cont 0.5 in both
    engines). Exact medians buffer each group's values — the documented
    cost; quality_percentiles_approx is the sketch-based twin for when
    ±ε is acceptable at scale."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.median("o_totalprice").alias("median_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "mode_priority_by_status",
    """
SELECT o_orderstatus, o_orderpriority AS modal_priority, n
FROM (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY COUNT(*) DESC, o_orderpriority) AS rk
      FROM orders GROUP BY o_orderstatus, o_orderpriority)
WHERE rk = 1
""",
)
def q_mode_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal order priority per status, two-phase: count per (status,
    priority) — fully partial-aggregatable — then rank within status
    with a deterministic tie-break on the priority string. ``F.mode``
    exists but picks ties arbitrarily; this form is reproducible across
    engines AND the window only sees the collapsed group counts (5 rows
    per status), not the fact rows."""
    orders = t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            "n",
        )
    )


@register(
    "schema_evolution_union",
    """
SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL BY NAME
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 2 = 1
""",
)
def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution merge: v1 rows lack the column a later producer
    added; ``unionByName(allowMissingColumns=True)`` aligns by NAME (a
    positional union would silently mis-bind) and NULL-fills the v1
    side. Map-side only — no shuffle, no data movement beyond the scan,
    which is what makes schema drift survivable on a 100 TB backfill."""
    orders = t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    return v1.unionByName(v2, allowMissingColumns=True)


@register(
    "gap_fill_daily_events",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
         {_DEC_SUM.format(c='value')} AS total_value
  FROM events GROUP BY CAST(ts AS DATE)),
bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
            AS d
          FROM bounds)
SELECT CAST(spine.d AS VARCHAR) AS d,
       COALESCE(daily.n, 0) AS n_events,
       COALESCE(daily.total_value, 0.0) AS total_value
FROM spine LEFT JOIN daily ON spine.d = daily.d
""",
)
def q_gap_fill_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a continuous date spine (``sequence`` over
    the observed min/max, exploded) left-joined to per-day aggregates,
    missing days zero-filled. The spine is O(calendar days) — trivially
    broadcastable — and the fact table is touched exactly once, by the
    partial-aggregated daily rollup."""
    ev = events_df(spark, sf_dir)
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "total_value"
        ),
    )
    spine = (
        daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    return (
        spine.join(daily, "d", "left")
        .select(
            F.col("d").cast("string").alias("d"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("total_value"), F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "scd2_customer_priority",
    """
WITH daily AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         MIN(o_orderpriority) AS prio
  FROM orders GROUP BY o_custkey, CAST(o_orderdate AS DATE)),
flagged AS (
  SELECT o_custkey, d, prio,
         CASE WHEN prio IS DISTINCT FROM
                   LAG(prio) OVER (PARTITION BY o_custkey ORDER BY d)
              THEN 1 ELSE 0 END AS chg
  FROM daily),
runs AS (
  SELECT o_custkey, d, prio,
         SUM(chg) OVER (PARTITION BY o_custkey ORDER BY d) AS run_id
  FROM flagged),
collapsed AS (
  SELECT o_custkey, CAST(run_id AS INT) AS run_id, prio,
         MIN(d) AS valid_from, COUNT(*) AS n_active_days
  FROM runs GROUP BY o_custkey, run_id, prio)
SELECT o_custkey, run_id, prio AS priority,
       CAST(valid_from AS VARCHAR) AS valid_from,
       CAST(CAST(LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
                 - INTERVAL 1 DAY AS DATE) AS VARCHAR) AS valid_to,
       CAST(LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
            IS NULL AS BOOLEAN) AS is_current,
       n_active_days
FROM collapsed
""",
)
def q_scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the order log: track
    each customer's order-priority attribute over time as validity
    intervals. Change detection = lag ≠ current (null-safe), run
    numbering = running sum of change flags, then one collapse per run
    and ``lead`` for the closing date (open interval = current row).
    One shuffle on o_custkey; the daily pre-aggregate, both windows,
    and the collapse all reuse that partitioning. Same-day priority
    conflicts resolve deterministically via MIN — the determinism
    contract both engines share."""
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.min("o_orderpriority").alias("prio"))
    w_seq = Window.partitionBy("o_custkey").orderBy("d")
    runs = daily.withColumn(
        "run_id",
        F.sum(
            F.when(
                ~F.col("prio").eqNullSafe(F.lag("prio").over(w_seq)), 1
            ).otherwise(0)
        ).over(w_seq),
    )
    collapsed = runs.groupBy(
        "o_custkey", F.col("run_id").cast("int").alias("run_id"), "prio"
    ).agg(
        F.min("d").alias("valid_from"),
        F.count(F.lit(1)).alias("n_active_days"),
    )
    w_run = Window.partitionBy("o_custkey").orderBy("run_id")
    nxt = F.lead("valid_from").over(w_run)
    return collapsed.select(
        "o_custkey",
        "run_id",
        F.col("prio").alias("priority"),
        F.col("valid_from").cast("string").alias("valid_from"),
        F.date_sub(nxt, 1).cast("string").alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "n_active_days",
    )


@register(
    "funnel_signup_click_purchase",
    """
WITH s1 AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id) AS signup_us
  FROM events),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us >= signup_us
                     THEN ts_us END)
              OVER (PARTITION BY user_id) AS click_us
  FROM s1),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us >= click_us
                     THEN ts_us END)
              OVER (PARTITION BY user_id) AS purchase_us
  FROM s2),
per_user AS (
  SELECT user_id, MAX(signup_us) AS signup_us, MAX(click_us) AS click_us,
         MAX(purchase_us) AS purchase_us
  FROM s3 GROUP BY user_id)
SELECT COUNT(*) AS n_users,
       COUNT(signup_us) AS n_signup,
       COUNT(click_us) AS n_click_after_signup,
       COUNT(purchase_us) AS n_purchase_after_click
FROM per_user
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage event funnel (signup → click → purchase) with strict
    stage ordering: a click only counts at-or-after the user's first
    signup, a purchase only at-or-after that qualifying click. Chained
    conditional window minima over the SAME user_id partitioning — one
    shuffle total, three streaming window passes, then a per-user
    collapse and a global count. No self-joins: the naive formulation
    (events ⋈ events ⋈ events on user + ts ranges) explodes at 100 TB;
    this stays linear."""
    ev = events_df(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "signup_us",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).over(w),
    )
    s2 = s1.withColumn(
        "click_us",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts_us") >= F.col("signup_us")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "purchase_us",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") >= F.col("click_us")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("signup_us").alias("signup_us"),
        F.max("click_us").alias("click_us"),
        F.max("purchase_us").alias("purchase_us"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("signup_us").alias("n_signup"),
        F.count("click_us").alias("n_click_after_signup"),
        F.count("purchase_us").alias("n_purchase_after_click"),
    )


@register(
    "stats_moments_by_event_type",
    """
WITH m AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
         CAST(SUM(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
  FROM events GROUP BY event_type)
SELECT event_type, n,
       s / n AS mean_value,
       sqrt((ss - s * s / n) / (n - 1)) AS stddev_value
FROM m
""",
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean/stddev via EXACT decimal moments (Σx, Σx²) with
    the double math applied once, post-aggregation. The built-in
    ``stddev`` streams doubles in partition order, so its low bits vary
    run-to-run on a cluster — unusable for a reproducibility-gated
    pipeline. Decimal Σ/Σ² are addition-order-free, partial-aggregate
    map-side, and the identical final double expression rounds the same
    in any engine."""
    ev = events_df(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,2)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    return m.select(
        "event_type",
        "n",
        (s / n).alias("mean_value"),
        F.sqrt((ss - s * s / n) / (n - 1)).alias("stddev_value"),
    )


@register(
    "listagg_customer_years",
    """
SELECT o_custkey,
       string_agg(DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT),
                  ',' ORDER BY CAST(EXTRACT(year FROM o_orderdate) AS INT))
         AS active_years
FROM orders
GROUP BY o_custkey
""",
)
def q_listagg_customer_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg: each customer's active order years as one
    sorted CSV cell. ``collect_set`` (bounded: ≤ #distinct years per
    customer) → ``sort_array`` → join — the sort inside the row is what
    makes an inherently unordered distributed collect deterministic.
    One partial-aggregatable shuffle."""
    orders = t(spark, sf_dir, "orders")
    years = F.sort_array(F.collect_set(F.year("o_orderdate").cast("int")))
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(years, lambda c: c.cast("string")), ","
            ).alias("active_years")
        )
    )


@register(
    "revenue_share_by_status",
    """
WITH g AS (
  SELECT o_orderstatus,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY o_orderstatus)
SELECT o_orderstatus, revenue,
       revenue / CAST(SUM(CAST(revenue AS DECIMAL(18,2))) OVER () AS DOUBLE)
         AS revenue_share
FROM g
""",
)
def q_revenue_share_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio-to-report): revenue share per status via
    an empty-frame window over the AGGREGATED groups — the single
    partition the global window collapses to holds only one row per
    status, never fact rows, so the 'no partition defined' shape is
    safe at any corpus size. Decimal-summed revenue makes the shares
    engine-identical."""
    orders = t(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    total = (
        F.sum(F.col("revenue").cast("decimal(18,2)"))
        .over(Window.partitionBy())
        .cast("double")
    )
    return g.select(
        "o_orderstatus",
        "revenue",
        (F.col("revenue") / total).alias("revenue_share"),
    )


@register(
    "profile_orders",
    """
SELECT COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS nulls_custkey,
       COUNT(DISTINCT o_custkey) AS ndv_custkey,
       COUNT(DISTINCT o_orderstatus) AS ndv_status,
       COUNT(DISTINCT o_orderpriority) AS ndv_priority,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
       CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date
FROM orders
""",
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profiling: row count, null counts, exact distinct
    cardinalities, and min/max ranges in a SINGLE aggregate over one
    scan (Spark lowers the multiple DISTINCTs to one Expand — still one
    shuffle). The ingest-validation step every pipeline runs before
    trusting a new drop; swap ``approx_count_distinct`` in at 100 TB
    when ±2% NDV is acceptable."""
    orders = t(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("nulls_custkey"),
        F.count_distinct("o_custkey").alias("ndv_custkey"),
        F.count_distinct("o_orderstatus").alias("ndv_status"),
        F.count_distinct("o_orderpriority").alias("ndv_priority"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min(F.col("o_orderdate").cast("date")).cast("string").alias("min_date"),
        F.max(F.col("o_orderdate").cast("date")).cast("string").alias("max_date"),
    )


@register(
    "winsorize_event_values",
    """
WITH q AS (SELECT quantile_cont(value, 0.05) AS lo,
                  quantile_cont(value, 0.95) AS hi
           FROM events)
SELECT event_id, value,
       LEAST(GREATEST(value, lo), hi) AS value_winsorized
FROM events, q
""",
)
def q_winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clipping (winsorize at p05/p95): global quantiles from
    one aggregate pass, broadcast as a single row, then a map-side
    clamp — the two-pass shape feature normalization needs. The
    quantile row is ONE row whatever the corpus size, so the second
    pass is a broadcast join + narrow projection; the fact table is
    never shuffled."""
    ev = events_df(spark, sf_dir)
    q = ev.agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    return (
        ev.select("event_id", "value")
        .crossJoin(F.broadcast(q))
        .select(
            "event_id",
            "value",
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
                "value_winsorized"
            ),
        )
    )


@register(
    "cogroup_user_activity",
    """
WITH e AS (SELECT user_id AS uid, COUNT(*) AS n_events,
                  -- floor(v*100 + 0.5): the SAME IEEE expression the
                  -- pandas side evaluates — a double->DECIMAL cast
                  -- rounds half-away while pandas .round() is
                  -- half-even, and they disagree on ~4e-3 of rows at
                  -- sf1 (found by the sf1 sweep)
                  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                    AS event_cents
           FROM events GROUP BY user_id),
o AS (SELECT o_custkey AS uid, COUNT(*) AS n_orders,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS order_cents
      FROM orders GROUP BY o_custkey)
SELECT COALESCE(e.uid, o.uid) AS user_id,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(event_cents, 0) AS event_cents,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(order_cents, 0) AS order_cents
FROM e FULL OUTER JOIN o ON e.uid = o.uid
""",
)
def q_cogroup_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map (``groupBy().cogroup().applyInPandas``): both
    tables hash-shuffle ONCE, then each group's two row sets land in
    the same Python worker as Arrow-backed pandas frames — the
    plumbing for per-entity custom feature logic (model scoring,
    library calls) that SQL can't express.

    Scale-critical detail: the cogroup key is a BUCKET of the entity
    (user_id % 256), not the entity itself. applyInPandas invokes the
    Python function once per group — cogrouping millions of raw
    entities means millions of per-key Python calls on tiny frames
    (measured here: 19.4 s vs 1–2 s at sf0.1). Bucketing amortizes
    each call over ~n_entities/256 rows and the per-entity work runs
    vectorized INSIDE pandas (groupby + outer join); co-location per
    entity is preserved because bucket(user) is a function of user.
    The logic (counts + cent-exact sums) is deliberately
    SQL-expressible so the full-outer semantics and Arrow round-trip
    are hash-verified against a DuckDB FULL OUTER JOIN of two
    aggregates; per-element cent conversion keeps the pandas sums
    integer (addition-order-free)."""
    import numpy as np
    import pandas as pd

    ev = events_df(spark, sf_dir).select("user_id", "value")
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_totalprice"
    )
    bucket = (F.col("user_id") % 256).alias("bucket")

    def stats(key: tuple, e: pd.DataFrame, o: pd.DataFrame) -> pd.DataFrame:
        # floor(v*100 + 0.5), NOT .round(): half-even vs the oracle's
        # half-away double->DECIMAL cast diverges on exact half-cents;
        # this exact IEEE expression is mirrored in the SQL
        ec = (
            e.assign(cents=np.floor(e["value"] * 100 + 0.5).astype("int64"))
            .groupby("user_id")
            .agg(n_events=("value", "size"), event_cents=("cents", "sum"))
        )
        oc = (
            o.assign(
                cents=np.floor(o["o_totalprice"] * 100 + 0.5).astype("int64")
            )
            .groupby("user_id")
            .agg(n_orders=("o_totalprice", "size"), order_cents=("cents", "sum"))
        )
        m = ec.join(oc, how="outer").fillna(0).reset_index()
        for c in ("n_events", "event_cents", "n_orders", "order_cents"):
            m[c] = m[c].astype("int64")
        return m[["user_id", "n_events", "event_cents", "n_orders", "order_cents"]]

    return (
        ev.groupBy(bucket)
        .cogroup(orders.groupBy(bucket))
        .applyInPandas(
            stats,
            schema=(
                "user_id long, n_events long, event_cents long, "
                "n_orders long, order_cents long"
            ),
        )
    )


@register(
    "cdc_apply_orders",
    """
WITH snap AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         CAST(-1 AS BIGINT) AS seq, 'I' AS op
  FROM orders),
chg AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice,
         CAST(1 AS BIGINT) AS seq, 'U' AS op
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         CAST(2 AS BIGINT) AS seq, 'D' AS op
  FROM orders WHERE o_orderkey % 7 = 3
  UNION ALL
  SELECT o_orderkey + 100000000, 'N' AS o_orderstatus, o_totalprice,
         CAST(1 AS BIGINT) AS seq, 'I' AS op
  FROM orders WHERE o_orderkey % 13 = 0),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                               ORDER BY seq DESC) AS rk
  FROM (SELECT * FROM snap UNION ALL SELECT * FROM chg))
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM ranked WHERE rk = 1 AND op <> 'D'
""",
)
def q_cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet (functions/cdc.py): a
    synthesized changelog — updates (status→'X', seq 1), deletes
    (seq 2), and new-key inserts — applied latest-wins onto the orders
    snapshot. Keys hit by both a U and a later D resolve to the D
    (sequencing verified). One shuffle, no join: the snapshot is
    tagged seq=-1 and unioned with the changelog, then a single
    per-key row_number picks the newest version."""
    from de_project_sprint_etl_spark.functions.cdc import apply_changes

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        "o_totalprice",
        F.lit(1).cast("long").alias("seq"),
        F.lit("U").alias("op"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 7 == 3).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(2).cast("long").alias("seq"),
        F.lit("D").alias("op"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        F.lit(1).cast("long").alias("seq"),
        F.lit("I").alias("op"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return apply_changes(
        orders, changes, keys=["o_orderkey"], seq_col="seq", op_col="op"
    )


# --- graph analytics --------------------------------------------------------

from de_project_sprint_etl_spark.functions import graph  # noqa: E402


@register(
    "pagerank_copurchase",
    graph.sql_copurchase_pagerank("lineitem", iterations=3, top_k=100),
)
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, integer-scaled arithmetic) over the
    part co-purchase graph built from lineitem — the engine's weighted
    iterative-algorithm tier (functions/graph.py). Each iteration is one
    edges-by-src join + one partial-combined dst aggregation; edges and
    out-degrees are persisted once and reused across iterations. The
    oracle unrolls the same three iterations with identical `div`
    arithmetic, so ranks are bit-equal bigints."""
    edges = copurchase_edges_cached(spark, sf_dir).persist()
    ranks = graph.pagerank(edges, iterations=3)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(100)
        .withColumn("pos", F.row_number().over(w).cast("int"))
    )


@register(
    "triangle_count_copurchase",
    graph.sql_copurchase_triangles("lineitem"),
)
def q_triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count on the part co-purchase graph via degree
    orientation (functions/graph.triangle_count): each undirected edge
    directed from its (degree, id)-smaller endpoint bounds per-node
    out-degree by O(sqrt m), so the wedge self-join never explodes on a
    hub part — the shape that survives a power-law graph at 100 TB.
    ``simple_symmetric=True``: the copurchase edge artifact is distinct
    and emits both directions by construction, so the undirected
    collapse is a filter, not a dedup shuffle."""
    return graph.triangle_count(
        copurchase_edges_cached(spark, sf_dir), simple_symmetric=True
    )


@register(
    "bfs_copurchase_distances",
    graph.sql_copurchase_bfs("lineitem", max_depth=3),
)
def q_bfs_copurchase_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS distances from the co-purchase hub (max-out-degree
    part, ties → smallest id), bounded at 3 hops — the PATH primitive
    completing the graph tier next to importance (pagerank), cliques
    (triangles), and components (dup_groups). Per level: one
    frontier×adjacency equi-join against the stationary persisted edge
    partitioning + one anti-join against the settled set — O(frontier)
    moves per level, collect-free (the depth bound is the loop bound).
    The oracle replays a depth-bounded recursive CTE with MIN(d) per
    node; first-discovery == minimum because levels explore in order."""
    edges = copurchase_edges_cached(spark, sf_dir)
    hub = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.col("deg").desc(), F.col("src").asc())
        .limit(1)
        .select(F.col("src").alias("node"))
    )
    return graph.bfs_distances(edges, hub, max_depth=3).select(
        "node", F.col("dist").cast("int").alias("dist")
    )


@register(
    "label_propagation_communities",
    graph.sql_copurchase_label_propagation("lineitem", rounds=3),
)
def q_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (3 fixed
    supersteps, most-frequent-neighbor label, ties toward the smaller
    label) over the part co-purchase graph — the COMMUNITY primitive
    completing the graph tier next to importance (pagerank), cliques
    (triangles), paths (bfs), and components (dup_groups). Unlike the
    min-id contraction of connected components, frequency voting
    yields sub-component structure on a connected graph. Per superstep:
    one edges-by-dst join against the (node, label) frame + one
    partial-combined count + a per-node argmax window bounded by
    degree — the bounded-rounds Pregel shape that holds at 100 TB; the
    oracle unrolls the same three rounds with the identical tiebreak."""
    edges = copurchase_edges_cached(spark, sf_dir)
    return graph.label_propagation(edges, rounds=3)


# --- data-integrity fingerprint ---------------------------------------------

_CHECKSUM_ROW = (
    "CONCAT_WS('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),"
    " o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),"
    " CAST(CAST(o_orderdate AS DATE) AS VARCHAR), o_orderpriority)"
)


@register(
    "orders_table_checksum",
    f"""
SELECT COUNT(*) AS n_rows,
       BIT_XOR(CAST(CONCAT('0x', SUBSTR(md5({_CHECKSUM_ROW}), 1, 15)) AS BIGINT))
         AS checksum
FROM orders
""",
)
def q_orders_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint: XOR of per-row 60-bit hashes
    over a canonical string encoding (doubles through DECIMAL so both
    engines print identical digits). The anti-entropy primitive for
    verifying replicated / migrated tables at 100 TB: one narrow scan,
    one partial-combining XOR aggregate, no shuffle of data rows, and
    two replicas can be compared by exchanging 8 bytes."""
    from de_project_sprint_etl_spark.functions.text import h64

    o = t(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(h64(row)).alias("checksum"),
    )


# --- materialized co-purchase graph -----------------------------------------


def copurchase_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase edge set as a plans/artifacts stage over
    ``lineitem``: a graph at scale is a pipeline ARTIFACT — built by one
    job, queried by many — so pagerank/triangles scanning the edge
    parquet is the production shape, not a shortcut. The DuckDB oracles
    still derive the edges from raw ``lineitem``, so the cache sits
    inside the correctness gate. Bit-identical to the inline derivation
    (a deterministic projection round-tripped through parquet)."""
    from de_project_sprint_etl_spark.plans.llm import fan_out

    return artifacts.stage(
        spark,
        sf_dir,
        "copurchase_edges",
        ("lineitem",),
        lambda: graph.copurchase_edges(t(spark, sf_dir, "lineitem")),
        wrap=fan_out,
    )


# --- bucketed co-located join (write-time shuffle, amortized) ---------------

_BUCKETS = 8
_BK_READY: set[tuple[int, str]] = set()


def _bucketed_order_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Bucketed managed twins of orders/lineitem, keyed by the order key
    and created once per (session, corpus) — Spark's in-memory catalog
    is session-scoped, so the first invocation pays the write-time
    shuffle and every later query in the session joins them with ZERO
    exchanges (the classic warehouse layout for a fact table joined
    daily on one key; at cluster scale this is a persistent metastore +
    bucketed parquet on shared storage)."""
    from de_project_sprint_etl_spark.sources import writers

    key = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    to, tl = f"bk_orders_{key}", f"bk_lineitem_{key}"
    ck = (id(spark), sf_dir)
    if ck not in _BK_READY:
        # The in-memory catalog is session-scoped but the warehouse
        # DIRECTORY persists: a table written by a previous session is
        # unknown to this catalog yet its location exists, and
        # saveAsTable refuses to reuse it. Clear stale locations first.
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for name in (to, tl):
            loc = os.path.join(wh, name)
            if not spark.catalog.tableExists(name) and os.path.exists(loc):
                shutil.rmtree(loc)
        if not spark.catalog.tableExists(to):
            writers.save_bucketed_table(
                t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
                to,
                ["o_orderkey"],
                _BUCKETS,
                sort_by=["o_orderkey"],
            )
        if not spark.catalog.tableExists(tl):
            writers.save_bucketed_table(
                t(spark, sf_dir, "lineitem").select(
                    F.col("l_orderkey").alias("o_orderkey"),
                    "l_extendedprice",
                    "l_discount",
                ),
                tl,
                ["o_orderkey"],
                _BUCKETS,
                sort_by=["o_orderkey"],
            )
        _BK_READY.add(ck)
    return to, tl


@register(
    "bucketed_join_revenue",
    """
SELECT o_orderstatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order status through BUCKETED managed tables joined
    on their bucket key: the join itself runs with zero exchanges (the
    shuffle was paid once at materialization — pinned by
    tests/test_plans.py::test_bucketed_join_has_no_exchange). The
    ``merge`` hint keeps the plan on the co-located sort-merge path
    instead of broadcasting the (locally small) orders side, since the
    bucketed layout is exactly what replaces broadcast at 100 TB.
    Row-identical to the plain join — the oracle IS the plain join."""
    to, tl = _bucketed_order_tables(spark, sf_dir)
    joined = spark.table(tl).join(spark.table(to).hint("merge"), "o_orderkey")
    return joined.groupBy("o_orderstatus").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- equi-width histogram + event debounce ----------------------------------

_HIST_BINS = 20


@register(
    "orders_price_histogram",
    f"""
WITH b AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
binned AS (
  SELECT CAST(LEAST({_HIST_BINS - 1},
              FLOOR((o_totalprice - lo) / (hi - lo) * {_HIST_BINS})) AS INT)
           AS bin_idx,
         lo, hi
  FROM orders CROSS JOIN b)
SELECT bin_idx,
       ROUND(lo + bin_idx * (hi - lo) / {_HIST_BINS}, 6) AS bin_lo,
       COUNT(*) AS n_orders
FROM binned GROUP BY bin_idx, lo, hi
""",
)
def q_orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of order value — the profiling op
    behind every data-quality dashboard. The [min, max] frame is ONE
    partial-combined agg broadcast back (cross join of a 1-row frame);
    binning is a narrow projection and the histogram itself is a
    20-group aggregate — two scans, no wide shuffle of the fact
    table. Bin arithmetic is identical IEEE double ops on both engines.
    """
    orders = t(spark, sf_dir, "orders").select("o_totalprice")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(_HIST_BINS - 1),
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * _HIST_BINS
            ),
        )
        .cast("int")
        .alias("bin_idx"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin_idx", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_orders")
    ).select(
        "bin_idx",
        F.round(
            F.col("lo") + F.col("bin_idx") * (F.col("hi") - F.col("lo")) / _HIST_BINS,
            6,
        ).alias("bin_lo"),
        "n_orders",
    )


DEBOUNCE_GAP_US = 10 * 60 * 1_000_000


@register(
    "events_debounce",
    f"""
WITH lagged AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) AS prev_us
  FROM events),
marked AS (
  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > {DEBOUNCE_GAP_US}
                 THEN 1 ELSE 0 END AS new_burst
  FROM lagged),
bursts AS (
  SELECT *, SUM(new_burst) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS burst_id
  FROM marked)
SELECT user_id, event_type, event_id, CAST(ts_us AS BIGINT) AS ts_us
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type, burst_id
                                   ORDER BY ts_us, event_id) AS rn
      FROM bursts)
WHERE rn = 1
""",
)
def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: keep the FIRST event of each (user, type) burst, where a
    burst is a chain of events each within 10 min of the previous one —
    the event-log dedupe for repeated clicks / retried webhooks. Chained
    semantics (an event extends the burst even if it is > gap from the
    burst head) need the sessionize shape: lag → burst numbering by
    running sum → first-per-burst. One shuffle on (user, type); all
    three windows share the partitioning."""
    ev = events_df(spark, sf_dir).select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    marked = ev.withColumn("prev_us", F.lag("ts_us").over(w)).withColumn(
        "new_burst",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("ts_us") - F.col("prev_us") > DEBOUNCE_GAP_US),
            1,
        ).otherwise(0),
    )
    bursts = marked.withColumn(
        "burst_id",
        F.sum("new_burst").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wb = Window.partitionBy("user_id", "event_type", "burst_id").orderBy(
        "ts_us", "event_id"
    )
    return (
        bursts.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.col("ts_us").cast("long"))
    )


# --- hypertable-style cascade rollup ----------------------------------------


@register(
    "events_rollup_cascade",
    """
SELECT CAST(CAST(DATE_TRUNC('day', ts) AS DATE) AS VARCHAR) AS day_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def q_events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable/continuous-aggregate cascade: the DAILY rollup is
    built FROM the hourly partial aggregates, not from raw events —
    the TimescaleDB-style pattern where each coarser level reaggregates
    the finer level's partials (count→sum, sum→sum are
    self-combinable). At 100 TB the hourly table is what's materialized
    and the daily/monthly queries never touch the raw fact table; here
    the oracle aggregates the raw events directly, so the hash check
    proves the cascade is lossless. Money stays DECIMAL until the final
    cast, so partial re-summation is exact."""
    hourly = (
        events_df(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
        )
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", "hour_start").alias("__day"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("total_value"),
        )
        .select(
            F.col("__day").cast("date").cast("string").alias("day_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --- rolling-window anomaly detection ---------------------------------------

ANOM_FRAME = 20  # trailing events per (event_type) baseline window
ANOM_MIN_N = 10  # minimum baseline size before a z-score is emitted
ANOM_Z = 3.0


@register(
    "events_rolling_anomaly",
    f"""
WITH c AS (
  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
         CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events),
win AS (
  SELECT event_id, event_type, ts_us, cents,
         COUNT(*) OVER w AS n_prev,
         CAST(SUM(cents) OVER w AS BIGINT) AS s1,
         CAST(SUM(cents*cents) OVER w AS BIGINT) AS s2
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
               ROWS BETWEEN {ANOM_FRAME} PRECEDING AND 1 PRECEDING))
SELECT event_id, event_type, CAST(cents AS BIGINT) AS cents,
       CAST(n_prev AS BIGINT) AS n_prev,
       ROUND((cents - CAST(s1 AS DOUBLE) / n_prev)
             / SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_prev)
                    / n_prev + 1e-9), 6) AS z
FROM win
WHERE n_prev >= {ANOM_MIN_N}
  AND ABS((cents - CAST(s1 AS DOUBLE) / n_prev)
          / SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_prev)
                 / n_prev + 1e-9)) > {ANOM_Z}
""",
)
def q_events_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly detection: flag events whose value sits
    more than 3 sigma from the trailing-20 baseline of their event
    type. Moments are EXACT integer sums (cents and cents^2) over a
    totally-ordered frame, so mean/std/z are bit-identical across
    engines and partitionings — built-in floating stddev over a frame
    would be partition-order dependent. One (event_type) shuffle; both
    frame aggregates share the window (extension op)."""
    ev = events_df(spark, sf_dir)
    c = ev.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-ANOM_FRAME, -1)
    )
    win = c.select(
        "event_id",
        "event_type",
        "cents",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum("cents").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).cast("bigint").alias("s2"),
    )
    z = (F.col("cents") - F.col("s1").cast("double") / F.col("n_prev")) / F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n_prev"))
        / F.col("n_prev")
        + F.lit(1e-9)
    )
    return (
        win.filter(F.col("n_prev") >= ANOM_MIN_N)
        .withColumn("z", F.round(z, 6))
        .filter(F.abs(z) > ANOM_Z)
        .select(
            "event_id",
            "event_type",
            F.col("cents").cast("bigint").alias("cents"),
            F.col("n_prev").cast("bigint").alias("n_prev"),
            "z",
        )
    )


# --- data-quality constraint suite (Deequ-style expectations) ----------------


@register(
    "dq_check_orders",
    """
WITH base AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS null_keys,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_keys,
         COUNT(*) FILTER (WHERE o_totalprice <= 0) AS bad_price,
         COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
           AS bad_status
  FROM orders),
ri AS (
  SELECT COUNT(*) AS orphans
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM (
  SELECT 'o_orderkey_not_null' AS rule, n_rows AS n_checked,
         null_keys AS n_violations FROM base
  UNION ALL
  SELECT 'o_orderkey_unique', n_rows, dup_keys FROM base
  UNION ALL
  SELECT 'o_totalprice_positive', n_rows, bad_price FROM base
  UNION ALL
  SELECT 'o_orderstatus_domain', n_rows, bad_status FROM base
  UNION ALL
  SELECT 'o_custkey_references_customer', base.n_rows, ri.orphans
  FROM base CROSS JOIN ri) r
""",
)
def q_dq_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint suite (the Deequ/Great-Expectations
    pattern): completeness, uniqueness, range, domain, and referential
    integrity over ``orders``, evaluated in ONE aggregate pass plus one
    anti-join probe — the per-rule violation counts a pipeline gates a
    load on. Scale shape: every non-RI rule is a conditional count
    inside a single partial-combined aggregation (one scan); the RI
    rule is a broadcast anti join against the dim key set; rule rows
    are a driver-free union of one-row frames (extension op)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    base = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("null_keys"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_keys"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("bad_price"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("bad_status"),
    )
    ri = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )

    def rule(name: str, viol_col: str, src: DataFrame) -> DataFrame:
        return src.select(
            F.lit(name).alias("rule"),
            F.col("n_rows").cast("bigint").alias("n_checked"),
            F.col(viol_col).cast("bigint").alias("n_violations"),
        )

    base_p = base.persist()
    rows = (
        rule("o_orderkey_not_null", "null_keys", base_p)
        .unionByName(rule("o_orderkey_unique", "dup_keys", base_p))
        .unionByName(rule("o_totalprice_positive", "bad_price", base_p))
        .unionByName(rule("o_orderstatus_domain", "bad_status", base_p))
        .unionByName(
            rule(
                "o_custkey_references_customer",
                "orphans",
                base_p.crossJoin(F.broadcast(ri)),
            )
        )
    )
    return rows.withColumn("passed", F.col("n_violations") == 0)


# --- snapshot diff / reconciliation (inverse CDC) ----------------------------

from de_project_sprint_etl_spark.plans.registry import ORACLES as _W_ORACLES  # noqa: E402
from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES as _W_RAW  # noqa: E402


@register(
    "table_diff_orders",
    f"""
WITH v2 AS ({_W_ORACLES['cdc_apply_orders']}),
v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
       CASE WHEN v2.o_orderkey IS NULL THEN 'deleted'
            WHEN v1.o_orderkey IS NULL THEN 'inserted'
            ELSE 'updated' END AS change_type,
       v1.o_orderstatus AS old_status,
       v2.o_orderstatus AS new_status
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
WHERE v2.o_orderkey IS NULL OR v1.o_orderkey IS NULL
   OR v1.o_orderstatus <> v2.o_orderstatus
   OR v1.o_totalprice <> v2.o_totalprice
""",
)
def q_table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / reconciliation (the INVERSE of CDC apply): a
    keyed full-outer compare of two table versions emitting only the
    changelog-sized difference — inserted / deleted / updated rows with
    old and new values — exactly what replica reconciliation or a
    time-travel diff produces. Composed against the REGISTERED
    cdc_apply_orders output, so diff(v1, apply(v1, changelog)) recovers
    the changelog's effect; unchanged rows (the vast majority) never
    leave the join (extension op). One key-partitioned shuffle per
    side."""
    v1 = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = _W_RAW["cdc_apply_orders"](spark, sf_dir)
    a, b = v1.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    return j.filter(
        F.col("b.o_orderkey").isNull()
        | F.col("a.o_orderkey").isNull()
        | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
        | (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
    ).select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.when(F.col("b.o_orderkey").isNull(), "deleted")
        .when(F.col("a.o_orderkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("change_type"),
        F.col("a.o_orderstatus").alias("old_status"),
        F.col("b.o_orderstatus").alias("new_status"),
    )


# --- RFM customer segmentation --------------------------------------------------

RFM_TILES = 4
RFM_CUSTOMER_BOUND = 10_000_000

_SQL_RFM = f"""
WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
per AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_date,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT NTILE({RFM_TILES}) OVER (ORDER BY last_date, o_custkey) AS r_score,
         NTILE({RFM_TILES}) OVER (ORDER BY n_orders, o_custkey) AS f_score,
         NTILE({RFM_TILES}) OVER (ORDER BY rev_cents, o_custkey) AS m_score,
         n_orders, rev_cents
  FROM per)
SELECT CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS sum_orders,
       CAST(SUM(rev_cents) AS BIGINT) AS sum_revenue_cents
FROM scored
GROUP BY 1, 2, 3
"""


@register("rfm_customer_segments", _SQL_RFM)
def q_rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic marketing-warehouse cube: each
    customer scored 1-4 on Recency (last order date), Frequency (order
    count), and Monetary (lifetime revenue) by NTILE quartile, then the
    4x4x4 segment grid aggregated to counts and exact integer-cent
    revenue. Quartile 4 = most recent / most frequent / highest spend.

    Determinism: every NTILE ordering carries the custkey tiebreak, so
    equal values tile identically in both engines; revenue stays in
    integer cents end-to-end. Scale shape: one partial-combined groupBy
    to the customer grain, then three guarded unpartitioned NTILE
    windows — bounded by |customers|, with approx-quantile cut-point
    joins as the named 100-TB alternative (quartiles only need the 3
    cuts, not a total order)."""
    from de_project_sprint_etl_spark.functions import guards

    per = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents"),
        )
    )

    def tile(order_cols, what):
        w = Window.orderBy(*order_cols)
        return guards.bounded_global_window(
            F.ntile(RFM_TILES).over(w),
            w,
            RFM_CUSTOMER_BOUND,
            what,
            "approx-quantile cut-point joins",
        )

    scored = per.select(
        tile(
            [F.col("last_date").asc(), F.col("o_custkey").asc()],
            "rfm r_score ntile",
        ).alias("r_score"),
        tile(
            [F.col("n_orders").asc(), F.col("o_custkey").asc()],
            "rfm f_score ntile",
        ).alias("f_score"),
        tile(
            [F.col("rev_cents").asc(), F.col("o_custkey").asc()],
            "rfm m_score ntile",
        ).alias("m_score"),
        "n_orders",
        "rev_cents",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("n_orders").cast("bigint").alias("sum_orders"),
        F.sum("rev_cents").cast("bigint").alias("sum_revenue_cents"),
    )


# --- manifest-gated upsert chain over a warehouse fact (round 11) -----------
#
# The reference's K-family (truncate/recreate + chunked re-insert,
# K2/K3/K8 in SURVEY §2.2) exists because its warehouse could not
# upsert in place; sources/incremental.py is this engine's answer, and
# the proof below drives it through a WAREHOUSE-shaped chain: three
# daily upsert commits over an orders projection (status promotion,
# price restatement, late-fee restatement), each expressed as
# equality-deletes + recomputed rows, with auto-compaction bounding the
# merge-on-read anti-join chain mid-sequence. The oracle computes the
# closed-form final state straight from raw ``orders``, so hash
# equality proves the whole protocol — commit fold order, delete
# scoping, auto-compact rewrite — preserves values exactly.

_UPSERT_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]
#: the fixture table the upsert base and its views are derived from
ORDERS = ("orders",)


def _orders_upsert_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders projection every upsert view below takes as its base
    member (a plans/artifacts stage over ``orders``)."""
    from de_project_sprint_etl_spark.plans.llm import fan_out

    return artifacts.stage(
        spark,
        sf_dir,
        "orders_upsert_base",
        ORDERS,
        lambda: t(spark, sf_dir, "orders").select(*_UPSERT_COLS),
        wrap=fan_out,
    )


def _orders_upsert_view(spark: SparkSession, sf_dir: str):
    """Build (once per corpus) the upsert view and return its root.
    Day 1 promotes every in-progress order ('P' -> 'F'); day 2 restates
    prices for orderkey % 10 == 0 (doubled); day 3 adds a 1.00 late fee
    for orderkey % 7 == 0. Later days recompute their rows FROM BASE
    with the composition of earlier days applied — the standard upsert
    discipline (each commit owns the full current value of the keys it
    touches). ``auto_compact_after=2`` makes compaction fire after day
    2's commit, so the read below spans a compacted member plus a live
    delta — both protocol halves in one registered plan."""
    from de_project_sprint_etl_spark.sources import incremental

    base = _orders_upsert_base(spark, sf_dir)
    root = artifacts.path(sf_dir, "orders_upsert_view", ORDERS)
    incremental.init_view(
        root, [str(artifacts.path(sf_dir, "orders_upsert_base", ORDERS))]
    )
    key = F.col("o_orderkey")
    status1 = F.when(F.col("o_orderstatus") == "P", F.lit("F")).otherwise(
        F.col("o_orderstatus")
    )
    price2 = F.when(
        key % 10 == 0, F.col("o_totalprice") * 2
    ).otherwise(F.col("o_totalprice"))
    price3 = price2 + F.when(key % 7 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    days = [
        (
            "day1",
            F.col("o_orderstatus") == "P",
            [key.alias("o_orderkey"), F.lit("F").alias("o_orderstatus"),
             F.col("o_totalprice")],
        ),
        (
            "day2",
            key % 10 == 0,
            [key.alias("o_orderkey"), status1.alias("o_orderstatus"),
             price2.alias("o_totalprice")],
        ),
        (
            "day3",
            key % 7 == 0,
            [key.alias("o_orderkey"), status1.alias("o_orderstatus"),
             price3.alias("o_totalprice")],
        ),
    ]
    for tag, pred, cols in days:
        if not incremental.has_tag(root, tag):
            incremental.append_delta(
                base.filter(pred).select(*cols),
                root,
                tag=tag,
                deletes=[base.filter(pred).select("o_orderkey")],
                auto_compact_after=2,
            )
    return root


@register(
    "incremental_upsert_orders",
    """
WITH final AS (
  SELECT CASE WHEN o_orderstatus = 'P' THEN 'F'
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END
           + CASE WHEN o_orderkey % 7 = 0 THEN 1.0 ELSE 0.0 END AS price
  FROM orders)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM final
GROUP BY o_orderstatus
""",
)
def q_incremental_upsert_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three-commit upsert chain through the manifest-gated in-place
    view, auto-compacted mid-chain (``_orders_upsert_view``), then
    aggregated per status. The oracle applies the same three
    restatements as a closed-form projection of raw ``orders`` — hash
    equality proves drop-then-add fold order, per-commit delete
    scoping, AND the auto-compaction rewrite are all value-preserving.
    Scale shape: commits are restated-subset-sized, the base is
    referenced (never copied), reads fold one broadcast anti-join per
    live delete member with compaction bounding that chain at 2."""
    from de_project_sprint_etl_spark.sources import incremental

    root = _orders_upsert_view(spark, sf_dir)
    out = incremental.read_view(spark, root, columns=_UPSERT_COLS)
    return out.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


def _orders_delete_view(spark: SparkSession, sf_dir: str):
    """MERGE + DELETE WHERE through the public view API (a separate
    root from ``_orders_upsert_view`` — that chain's values are
    attested and must never be mutated by this one). Day 1 restates
    every fifth order's price (+10.00) via ``merge_upsert``; day 2
    purges finished orders with orderkey % 3 == 0 via ``delete_where``
    — a predicate over the POST-restatement view state, which is what
    makes the two-step composition worth proving."""
    from de_project_sprint_etl_spark.sources import incremental

    base = _orders_upsert_base(spark, sf_dir)
    root = artifacts.path(sf_dir, "orders_delete_view", ORDERS)
    incremental.init_view(
        root, [str(artifacts.path(sf_dir, "orders_upsert_base", ORDERS))]
    )
    key = F.col("o_orderkey")
    if not incremental.has_tag(root, "restate"):
        incremental.merge_upsert(
            base.filter(key % 5 == 0).select(
                key.alias("o_orderkey"),
                "o_orderstatus",
                (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
            ),
            root,
            ["o_orderkey"],
            tag="restate",
        )
    if not incremental.has_tag(root, "purge"):
        incremental.delete_where(
            spark,
            root,
            (F.col("o_orderstatus") == "F") & (key % 3 == 0),
            ["o_orderkey"],
            tag="purge",
        )
    return root


@register(
    "incremental_delete_where",
    """
WITH up AS (
  SELECT o_orderkey, o_orderstatus,
         o_totalprice
           + CASE WHEN o_orderkey % 5 = 0 THEN 10.0 ELSE 0.0 END AS price
  FROM orders)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM up
WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
GROUP BY o_orderstatus
""",
)
def q_incremental_delete_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-level MERGE + DELETE WHERE on the manifest view
    (``_orders_delete_view``), aggregated per status; the oracle is the
    closed-form restate-then-purge over raw ``orders``. Hash equality
    proves the delete commit's key materialization (evaluated on the
    post-restatement view) and the empty-data-member fold are
    value-exact. Scale shape: the restatement commit is
    subset-sized, the purge's delete file is matched-keys-sized, and
    the final read folds two broadcast anti-joins over the referenced
    base."""
    from de_project_sprint_etl_spark.sources import incremental

    root = _orders_delete_view(spark, sf_dir)
    out = incremental.read_view(spark, root, columns=_UPSERT_COLS)
    return out.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


def _orders_evolution_view(spark: SparkSession, sf_dir: str):
    """Additive schema evolution on a live view: the base carries
    (key, status, price); a later commit upserts every fourth order
    WITH a new ``late_fee`` column. Earlier rows fold in with the
    column null — no base rewrite, no backfill job — which is the
    add-a-column migration a 100-TB table cannot afford to do any
    other way."""
    from de_project_sprint_etl_spark.sources import incremental

    base = _orders_upsert_base(spark, sf_dir)
    root = artifacts.path(sf_dir, "orders_evolution_view", ORDERS)
    incremental.init_view(
        root, [str(artifacts.path(sf_dir, "orders_upsert_base", ORDERS))]
    )
    if not incremental.has_tag(root, "add-late-fee"):
        key = F.col("o_orderkey")
        incremental.merge_upsert(
            base.filter(key % 4 == 0).select(
                key.alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
                F.lit(5.0).alias("late_fee"),
            ),
            root,
            ["o_orderkey"],
            tag="add-late-fee",
        )
    return root


@register(
    "incremental_schema_evolution",
    """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(CASE WHEN o_orderkey % 4 = 0 THEN 1 END) AS BIGINT)
         AS n_with_fee,
       CAST(SUM(CASE WHEN o_orderkey % 4 = 0 THEN 5.0 ELSE 0.0 END)
            AS DOUBLE) AS fee_total,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders
GROUP BY o_orderstatus
""",
)
def q_incremental_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aggregate over the evolved view (``_orders_evolution_view``)
    reading the FULL contract including the late-added column: pre-
    evolution rows contribute null fees (counted and coalesced to 0),
    upserted rows contribute 5.00 — the oracle computes the same from
    raw orders, so hash equality proves the null-fill fold is exact
    and no row was lost or doubled across the evolution commit. Scale
    shape: identical to the other view reads (pruned members, one
    broadcast anti-join for the upsert's delete file)."""
    from de_project_sprint_etl_spark.sources import incremental

    root = _orders_evolution_view(spark, sf_dir)
    v = incremental.read_view(
        spark, root, columns=[*_UPSERT_COLS, "late_fee"]
    )
    return v.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count("late_fee").cast("bigint").alias("n_with_fee"),
        F.sum(F.coalesce(F.col("late_fee"), F.lit(0.0)))
        .cast("double")
        .alias("fee_total"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "incremental_changes_feed",
    """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
  FROM orders),
ch AS (
  SELECT 'delete' AS change_type, CAST(1 AS BIGINT) AS commit_gen,
         s, p FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT 'insert', CAST(1 AS BIGINT), s, p + 10.0
  FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT 'delete', CAST(2 AS BIGINT), s,
         CASE WHEN k % 5 = 0 THEN p + 10.0 ELSE p END
  FROM base WHERE s = 'F' AND k % 3 = 0)
SELECT change_type, commit_gen, s AS o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM ch
GROUP BY change_type, commit_gen, s
""",
)
def q_incremental_changes_feed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Change-data-feed over the restate-then-purge chain
    (``incremental.read_changes`` on ``_orders_delete_view``): the
    upsert's preimage deletes + postimage inserts at generation 1, the
    purge's preimage deletes (with restated prices — the state JUST
    BEFORE that commit) at generation 2, aggregated per (change_type,
    generation, status). The oracle derives the same feed in closed
    form from raw orders, so hash equality proves preimage content,
    commit attribution, and delete scoping are all exact — the
    downstream-consumer contract (replay the feed, get the view
    transition) holds by construction. Scale shape: one pruned scan
    per member in range + broadcast semi/anti-joins on
    matched-keys-sized delete files."""
    from de_project_sprint_etl_spark.sources import incremental

    root = _orders_delete_view(spark, sf_dir)
    ch = incremental.read_changes(spark, root, 0, columns=_UPSERT_COLS)
    return ch.groupBy("change_type", "commit_gen", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )
