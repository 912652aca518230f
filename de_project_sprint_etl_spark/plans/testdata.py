"""Reference-parity queries bound to the TESTDATA.md tables.

The reference's data model (``user_order_log`` order rows with customer /
date / item / amount / status) is mapped onto the TPC-H-ish testdata per
FIXTURES.md §B:

- order-log row  = ``lineitem`` ⋈ ``orders``  (one row per item in an
  order, like the reference's per-item order log):
  customer_id = o_custkey, date_time = o_orderdate::date,
  item_id = l_partkey, payment_amount = l_extendedprice
- snapshot vs increment (the reference's daily-increment model,
  ``date_periods.sql:17-26``): orders strictly before SPLIT_DATE are the
  historical snapshot (no status column — it gets stamped 'shipped');
  orders on/after SPLIT_DATE are the increment and carry their own
  status, where status='refunded' for high-priority orders (a
  deterministic stand-in for the reference's refunded rows).
- calendar dates = o_orderdate ∪ l_shipdate ∪ events.ts (three source
  tables union-ed, like ``update_mart_d_tables.sql:5-13``).

Numeric-determinism rules (so the DuckDB oracle hash-matches):
- money passes through as the original parquet double; aggregation chains
  cast to DECIMAL(18,2) first (exact sums), and final outputs cast back
  to double (correctly-rounded in both engines).
- counts stay BIGINT; row_number is cast BIGINT; int4-typed mart columns
  cast INT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_sprint_etl_spark.operators import dims, facts, retention
from de_project_sprint_etl_spark.plans import artifacts
from de_project_sprint_etl_spark.plans.registry import register

SPLIT_DATE = "1999-01-01"
REFUND_PRIORITIES = ("1-URGENT", "2-HIGH")
ITEM_CAP = 5  # retention_mart scopes items (reference full-joins item-level
# cohorts on period alone, cross-combining items per period —
# unbounded on TPC-H cardinalities, so the mart query caps item_id)


# Table-scan DataFrame cache. A DataFrame is an immutable logical plan,
# so handing the same object to every query is safe — and saves the
# ~0.1 s per call that spark.read.parquet spends on footer/schema reads
# plus the two conf round trips (measured: a cohort query paid ~0.8 s of
# driver-side build time, mostly in repeated t() calls).
_SCAN_CACHE: dict[tuple[int, str, str], DataFrame] = {}


# Canonical logical types every query was written against. The fixture
# generator has CHANGED physical types between rounds (events.ts was
# int64-nanos, then timestamp[us] — the round-2 driver run lost every
# events-based query to an AnalysisException over exactly this), so the
# scan layer coerces any drifted column back to the canonical type.
# Columns that already match pass through UNTOUCHED — no cast wrapper,
# so predicate pushdown / column pruning are unaffected in the normal
# case. events.ts is excluded: its decoding is value-dependent
# (int64-nanos needs a micros conversion, not a cast) and lives in
# events_df().
_CANONICAL: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark), sf_dir, name)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects by default; read nanos as long and convert in events_df().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    expected = _CANONICAL.get(name, {})
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    drifted = [
        (col, want)
        for col, want in expected.items()
        if col in actual
        and actual[col] != want
        # NTZ timestamps cast to session-zone timestamps as a wall-clock
        # identity under the UTC zone set above
        and not (want == "timestamp" and actual[col] == "timestamp_ntz")
        # a float column widened to double by a future generation must
        # NOT be narrowed back: queries upcast to double anyway, and a
        # float round-trip would lose precision vs the DuckDB oracle
        # reading the doubles directly
        and not (want == "array<float>" and actual[col] == "array<double>")
    ]
    if name == "events" and "ts" in actual and actual["ts"] == "timestamp_ntz":
        pass  # handled in events_df(); listed here for the reader
    if drifted:
        df = df.withColumns({col: F.col(col).cast(want) for col, want in drifted})
    _SCAN_CACHE[key] = df
    return df


def events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as a session-zone TIMESTAMP regardless of how the
    fixture generator serialized it: int64 nanos (read as LONG via
    nanosAsLong), parquet timestamp[us] without UTC adjustment (read as
    TIMESTAMP_NTZ), or a plain TIMESTAMP. Under the UTC session zone set
    in ``t()`` the NTZ→TZ cast is a wall-clock identity, so all three
    forms yield identical downstream dates/windows."""
    ev = t(spark, sf_dir, "events")
    ts_type = ev.schema["ts"].dataType.typeName()
    if ts_type == "long":
        # Magnitude-adaptive epoch decode: the generator has already
        # changed this column's physical encoding once, so don't assume
        # nanos — epoch nanos are ~1.7e18, micros ~1.7e15, millis
        # ~1.7e12, seconds ~1.7e9 for any plausible fixture date: four
        # non-overlapping magnitude bands (each cutoff sits between
        # adjacent encodings of any date from 1973 to 5138). Row-level
        # CASE, still a narrow projection.
        ev = ev.withColumn(
            "ts",
            F.expr(
                "timestamp_micros(CAST("
                "CASE WHEN abs(ts) >= 100000000000000000 THEN ts DIV 1000 "
                "     WHEN abs(ts) >= 100000000000000 THEN ts "
                "     WHEN abs(ts) >= 100000000000 THEN ts * 1000 "
                "     ELSE ts * 1000000 END AS LONG))"
            ),
        )
    elif ts_type != "timestamp":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


# --- shared builders (Spark side) ------------------------------------------


def order_log_snapshot_increment(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The reference's snapshot + increment order logs, derived from
    orders ⋈ lineitem (snapshot lacks ``status``; increment carries it)."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    log = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"], "inner"
    ).select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderdate").cast("date").alias("date_time"),
        F.col("l_partkey").alias("item_id"),
        F.col("l_extendedprice").alias("payment_amount"),
        F.col("o_orderdate").alias("__od"),
        F.col("o_orderpriority").alias("__prio"),
    )
    snapshot = log.filter(F.col("__od") < F.lit(SPLIT_DATE).cast("timestamp")).drop(
        "__od", "__prio"
    )
    increment = (
        log.filter(F.col("__od") >= F.lit(SPLIT_DATE).cast("timestamp"))
        .withColumn(
            "status",
            F.when(
                F.col("__prio").isin(*REFUND_PRIORITIES), F.lit("refunded")
            ).otherwise(F.lit("shipped")),
        )
        .drop("__od", "__prio")
    )
    return snapshot, increment


def order_log_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 merge: snapshot stamped 'shipped' ∪ increment (raw doubles)."""
    snapshot, increment = order_log_snapshot_increment(spark, sf_dir)
    return facts.merge_snapshot_increment(snapshot, increment)


# The merged order log is a PIPELINE STAGE — in production it is
# exactly the table the order_log_v2_merge job writes — so the nine
# cohort queries scan it as a plans/artifacts stage instead of each
# re-paying the lineitem ⋈ orders join. Staged over both tables it
# reads, so regenerating either one rebuilds it.


def order_log_v2_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return artifacts.stage(
        spark,
        sf_dir,
        "order_log_v2",
        ("orders", "lineitem"),
        lambda: order_log_v2(spark, sf_dir),
    )


def order_log_v2_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2 with payment_amount as DECIMAL(18,2) for exact aggregation —
    scanning the materialized merge output (values identical to the live
    merge; order_log_v2_merge / status_counts / fact_sales_v2 still
    execute the live join+merge plan)."""
    v2 = order_log_v2_cached(spark, sf_dir)
    return v2.withColumn(
        "payment_amount", F.col("payment_amount").cast("decimal(18,2)")
    )


def calendar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dims.all_dates(
        [
            (t(spark, sf_dir, "orders"), "o_orderdate"),
            (t(spark, sf_dir, "lineitem"), "l_shipdate"),
            (events_df(spark, sf_dir), "ts"),
        ]
    )


def weeks_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention.build_weeks(calendar_dates(spark, sf_dir))


def weeks_dim_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The week dimension materialized once per corpus generation (it is
    the calendar_weeks job's output — O(weeks) rows; scanning it saves
    each cohort query the 3-table date-union scan). calendar_weeks /
    calendar_dim keep building live. Staged over all three tables the
    calendar unions."""
    return artifacts.stage(
        spark,
        sf_dir,
        "weeks_dim",
        ("orders", "lineitem", "events"),
        lambda: weeks_dim(spark, sf_dir).coalesce(1),
    )


# --- shared SQL fragments (oracle side) ------------------------------------

SQL_ALL_DATES = """
SELECT DISTINCT fact_date FROM (
  SELECT CAST(o_orderdate AS DATE) AS fact_date FROM orders
  UNION ALL SELECT CAST(l_shipdate AS DATE) FROM lineitem
  UNION ALL SELECT CAST(ts AS DATE) FROM events
) AS dates
"""

SQL_WEEKS = f"""
SELECT MIN(fact_date) AS start_date, MAX(fact_date) AS end_date,
       CAST(ROW_NUMBER() OVER (ORDER BY MIN(fact_date)) AS BIGINT) AS period
FROM ({SQL_ALL_DATES}) d
GROUP BY DATE_TRUNC('week', fact_date)
"""

# Week dim keyed by its Monday truncation. Oracle joins use
# equi-on-wk + range filter instead of a bare BETWEEN join: DuckDB
# 1.0.0's parallel IEJoin intermittently livelocks (observed ~1/3 of
# runs at sf0.01), and the equi form is semantically identical because
# week buckets are [min,max] of observed dates within a
# date_trunc('week') bucket, so a date can only fall in its own week's
# range (same argument as operators/retention.py assign_week_period).
SQL_WEEKS_K = f"""
SELECT MIN(fact_date) AS start_date, MAX(fact_date) AS end_date,
       CAST(ROW_NUMBER() OVER (ORDER BY MIN(fact_date)) AS BIGINT) AS period,
       CAST(DATE_TRUNC('week', fact_date) AS DATE) AS wk
FROM ({SQL_ALL_DATES}) d
GROUP BY DATE_TRUNC('week', fact_date)
"""

SQL_V2 = f"""
SELECT o.o_custkey AS customer_id,
       CAST(o.o_orderdate AS DATE) AS date_time,
       l.l_partkey AS item_id,
       l.l_extendedprice AS payment_amount,
       CASE
         WHEN o.o_orderdate < TIMESTAMP '{SPLIT_DATE} 00:00:00' THEN 'shipped'
         WHEN o.o_orderpriority IN {REFUND_PRIORITIES} THEN 'refunded'
         ELSE 'shipped'
       END AS status
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""

SQL_V2_DECIMAL = f"""
SELECT customer_id, date_time, item_id,
       CAST(payment_amount AS DECIMAL(18,2)) AS payment_amount, status
FROM ({SQL_V2}) v2raw
"""


def _sql_cohort_inner(status: str, item: bool) -> str:
    item_key = ", item_id" if item else ""
    return f"""
SELECT v.customer_id, v.date_time, w.period{item_key},
       COUNT(*) AS cnt,
       SUM(v.payment_amount) AS revenue
FROM ({SQL_V2_DECIMAL}) v
LEFT JOIN ({SQL_WEEKS_K}) w
  ON CAST(DATE_TRUNC('week', v.date_time) AS DATE) = w.wk
 AND v.date_time BETWEEN w.start_date AND w.end_date
WHERE v.status = '{status}'
GROUP BY v.customer_id, v.date_time, w.period{item_key}
"""


def sql_new_cust(item: bool) -> str:
    sel_item = "item_id AS item_new," if item else ""
    grp = "period, item_id" if item else "period"
    return f"""
SELECT period, {sel_item}
       COUNT(customer_id) AS new_cust_count,
       CAST(SUM(revenue) AS DOUBLE) AS new_cust_revenue
FROM ({_sql_cohort_inner('shipped', item)} HAVING COUNT(*) = 1) c
GROUP BY {grp}
"""


def sql_returned_cust(item: bool) -> str:
    sel_item = "item_id AS item_ret," if item else ""
    grp = "period, item_id" if item else "period"
    return f"""
SELECT period, {sel_item}
       COUNT(customer_id) AS returned_cust_count,
       CAST(SUM(revenue) AS DOUBLE) AS returned_revenue
FROM ({_sql_cohort_inner('shipped', item)} HAVING COUNT(*) > 1) c
GROUP BY {grp}
"""


def sql_refunded_cust(item: bool) -> str:
    sel_item = "item_id AS item_ref," if item else ""
    grp = "period, item_id" if item else "period"
    return f"""
SELECT period, {sel_item}
       COUNT(*) AS cust_with_refunds,
       CAST(SUM(cnt) AS BIGINT) AS total_refunds
FROM ({_sql_cohort_inner('refunded', item)}) c
GROUP BY {grp}
"""


# =========================================================================
# Reference-parity queries
# =========================================================================

SQL_CALENDAR = f"""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY fact_date) AS BIGINT) AS date_id,
       fact_date,
       CAST(EXTRACT(day FROM fact_date) AS INT) AS day_num,
       CAST(EXTRACT(month FROM fact_date) AS INT) AS month_num,
       LOWER(STRFTIME(fact_date, '%b')) AS month_name,
       CAST(EXTRACT(year FROM fact_date) AS INT) AS year_num
FROM ({SQL_ALL_DATES}) d
"""


# Output date columns are serialized to ISO strings on BOTH sides: pandas
# renders Spark DateType and DuckDB DATE through different dtypes, so the
# driver's value hash could diverge on representation alone.


def calendar_dim_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dims.build_calendar(
        [
            (t(spark, sf_dir, "orders"), "o_orderdate"),
            (t(spark, sf_dir, "lineitem"), "l_shipdate"),
            (events_df(spark, sf_dir), "ts"),
        ]
    )


@register(
    "calendar_dim",
    f"""
SELECT date_id, CAST(fact_date AS VARCHAR) AS fact_date,
       day_num, month_num, month_name, year_num
FROM ({SQL_CALENDAR}) c
""",
)
def q_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d_calendar build: U1 UNION ALL + A10 DISTINCT + X1-X4 date parts +
    W3 sequence id (reference update_mart_d_tables.sql:4-15)."""
    return calendar_dim_df(spark, sf_dir).withColumn(
        "fact_date", F.col("fact_date").cast("string")
    )


@register(
    "calendar_weeks",
    f"""
SELECT CAST(start_date AS VARCHAR) AS start_date,
       CAST(end_date AS VARCHAR) AS end_date, period
FROM ({SQL_WEEKS}) w
""",
)
def q_calendar_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d_calendar_weeks: A12 week-truncated agg + W1 global row_number
    (reference date_periods.sql:5-15)."""
    return (
        weeks_dim(spark, sf_dir)
        .withColumn("start_date", F.col("start_date").cast("string"))
        .withColumn("end_date", F.col("end_date").cast("string"))
    )


@register(
    "order_log_v2_merge",
    f"""
SELECT customer_id, CAST(date_time AS VARCHAR) AS date_time,
       item_id, payment_amount, status
FROM ({SQL_V2}) v
""",
)
def q_order_log_v2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 snapshot∪increment merge with K6+K7 status stamping
    (reference date_periods.sql:17-26) — the 'no duplicates' semantics."""
    return order_log_v2(spark, sf_dir).withColumn(
        "date_time", F.col("date_time").cast("string")
    )


@register(
    "status_counts",
    f"""
SELECT status, COUNT(*) AS n,
       CAST(SUM(CAST(payment_amount AS DECIMAL(18,2))) AS DOUBLE) AS amount
FROM ({SQL_V2}) v GROUP BY status
""",
)
def q_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 status semantics sanity: rows + exact money per status."""
    return (
        order_log_v2(spark, sf_dir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("payment_amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("amount"),
        )
    )


@register(
    "fact_sales",
    f"""
WITH cal AS ({SQL_CALENDAR})
SELECT cal.date_id, o.o_custkey AS customer_id, l.l_partkey AS item_id,
       l.l_quantity AS quantity, l.l_extendedprice AS payment_amount
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN cal ON cal.fact_date = CAST(o.o_orderdate AS DATE)
WHERE o.o_orderdate < TIMESTAMP '{SPLIT_DATE} 00:00:00'
""",
)
def q_fact_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: snapshot fact × calendar dim on casted-date equality
    (reference update_mart_f_table.sql:4-6). Calendar is broadcast."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    cal = q_calendar_dim(spark, sf_dir)
    log = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("o_orderdate") < F.lit(SPLIT_DATE).cast("timestamp"))
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderdate").cast("date").alias("date_time"),
            F.col("l_partkey").alias("item_id"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("payment_amount"),
        )
    )
    return facts.build_fact_sales(log, cal, "date_time").select(
        "date_id", "customer_id", "item_id", "quantity", "payment_amount"
    )


@register(
    "fact_sales_v2",
    f"""
WITH cal AS ({SQL_CALENDAR})
SELECT cal.date_id, v.customer_id, v.item_id, v.payment_amount, v.status
FROM ({SQL_V2}) v
JOIN cal ON cal.fact_date = v.date_time
""",
)
def q_fact_sales_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + K6/K7: merged fact with status × calendar
    (reference load_inc_f_table.sql:2-10, update_mart_f_table.sql:8-12)."""
    v2 = order_log_v2(spark, sf_dir)
    cal = q_calendar_dim(spark, sf_dir)
    return facts.build_fact_sales(v2, cal, "date_time").select(
        "date_id", "customer_id", "item_id", "payment_amount", "status"
    )


@register(
    "distinct_on_customer",
    """
SELECT o_custkey AS customer_id,
       o_orderkey AS last_order_key,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS last_order_date,
       o_totalprice AS last_order_price
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders) s
WHERE rn = 1
""",
)
def q_distinct_on_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 DISTINCT ON (customer): one deterministic latest-order row per
    customer (reference update_mart_d_tables.sql:22-23, nondeterminism
    strengthened per SURVEY.md §7)."""
    orders = t(spark, sf_dir, "orders")
    picked = dims.distinct_on(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return picked.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("last_order_key"),
        F.col("o_orderdate").cast("date").cast("string").alias("last_order_date"),
        F.col("o_totalprice").alias("last_order_price"),
    )


@register(
    "distinct_on_item",
    """
SELECT l_partkey AS item_id,
       l_orderkey AS last_order_key,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS last_ship_date,
       l_extendedprice AS last_price
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY l_partkey
    ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
  FROM lineitem) s
WHERE rn = 1
""",
)
def q_distinct_on_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 DISTINCT ON (item) over the big fact: hash-shuffle on the key,
    per-partition rank — no global sort (reference
    update_mart_d_tables.sql:28-29)."""
    lineitem = t(spark, sf_dir, "lineitem")
    picked = dims.distinct_on(
        lineitem,
        ["l_partkey"],
        [
            F.col("l_shipdate").desc(),
            F.col("l_orderkey").desc(),
            F.col("l_linenumber").desc(),
        ],
    )
    return picked.select(
        F.col("l_partkey").alias("item_id"),
        F.col("l_orderkey").alias("last_order_key"),
        F.col("l_shipdate").cast("date").cast("string").alias("last_ship_date"),
        F.col("l_extendedprice").alias("last_price"),
    )


@register(
    "week_range_join",
    f"""
SELECT o.o_orderkey, w.period
FROM orders o
LEFT JOIN ({SQL_WEEKS_K}) w
  ON CAST(DATE_TRUNC('week', o.o_orderdate) AS DATE) = w.wk
 AND CAST(o.o_orderdate AS DATE) BETWEEN w.start_date AND w.end_date
""",
)
def q_week_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 in its literal range-join form (reference new_customers.sql:5
    correlated BETWEEN subquery -> broadcast non-equi join)."""
    orders = t(spark, sf_dir, "orders")
    weeks = weeks_dim(spark, sf_dir)
    assigned = retention.assign_week_period(
        orders.withColumn("date_time", F.col("o_orderdate").cast("date")),
        weeks,
        "date_time",
        how="range_join",
    )
    return assigned.select("o_orderkey", "period")


def _cohort(spark: SparkSession, sf_dir: str, name: str, item: bool) -> DataFrame:
    """One ``retention.COHORTS`` cohort per period[, item] over the
    materialized order log, reading only that cohort's status."""
    base = retention.cohort_base(
        order_log_v2_decimal(spark, sf_dir),
        weeks_dim_cached(spark, sf_dir),
        (retention.COHORTS[name].status,),
        item,
    )
    return retention.cohort(base, name, ["period"] + (["item_id"] if item else []))


def double_revenues(df: DataFrame) -> DataFrame:
    """The oracle's DOUBLE revenue sums for whichever of the new and
    returning revenues ``df`` carries."""
    return df.withColumns(
        {
            c: F.col(c).cast("double")
            for c in ("new_cust_revenue", "returned_revenue")
            if c in df.columns
        }
    )


@register("new_customers", sql_new_cust(item=True))
def q_new_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A9/F1/J2: new-customer cohort per (period, item)
    (reference new_customers.sql:1-9)."""
    return double_revenues(_cohort(spark, sf_dir, "new", item=True))


@register("new_customers_compact", sql_new_cust(item=False))
def q_new_customers_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """new_cust_compact (reference new_customers.sql:11-19)."""
    return double_revenues(_cohort(spark, sf_dir, "new", item=False))


@register("returned_customers", sql_returned_cust(item=True))
def q_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 HAVING count>1 cohort (reference returned_customers.sql:1-9)."""
    return double_revenues(_cohort(spark, sf_dir, "ret", item=True))


@register("returned_customers_compact", sql_returned_cust(item=False))
def q_returned_customers_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return double_revenues(_cohort(spark, sf_dir, "ret", item=False))


@register("refunded_customers", sql_refunded_cust(item=True))
def q_refunded_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 refunded cohort (reference refunded_customers.sql:1-8)."""
    return _cohort(spark, sf_dir, "ref", item=True)


@register("refunded_customers_compact", sql_refunded_cust(item=False))
def q_refunded_customers_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cohort(spark, sf_dir, "ref", item=False)


SQL_RETENTION_COMPACT = f"""
SELECT COALESCE(n.period, r.period, f.period) AS period,
       n.new_cust_count, n.new_cust_revenue,
       r.returned_cust_count, r.returned_revenue,
       f.cust_with_refunds, f.total_refunds
FROM ({sql_new_cust(item=False)}) n
FULL JOIN ({sql_returned_cust(item=False)}) r ON n.period = r.period
FULL JOIN ({sql_refunded_cust(item=False)}) f
  ON COALESCE(n.period, r.period) = f.period
"""


@register("retention_compact", SQL_RETENTION_COMPACT)
def q_retention_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: the flagship compact retention mart (reference
    loading_retention_mart.sql:2-3), the reference's chained FULL JOIN
    USING(period) as one conditional aggregate. v2/weeks are
    materialized parquet scans and the customer-grain base has one
    consumer, so nothing is persisted."""
    base = retention.cohort_base(
        order_log_v2_decimal(spark, sf_dir),
        weeks_dim_cached(spark, sf_dir),
        retention.STATUSES,
        item=False,
    )
    return double_revenues(retention.retention_compact(base))


@register(
    "retention_compact_ordered",
    f"""
SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY period) AS BIGINT) AS pos
FROM ({SQL_RETENTION_COMPACT}) rc
""",
)
def q_retention_compact_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 made verifiable: the driver's value hash is order-insensitive,
    so this variant stamps each row with its PHYSICAL output position —
    ``monotonically_increasing_id()`` assigned above the sort (it is
    nondeterministic, so Catalyst cannot push it below), then ranked.
    ``pos`` only equals the oracle's ``ROW_NUMBER() OVER (ORDER BY
    period)`` when ``retention.retention_compact`` actually sorts by
    period (reference loading_retention_mart.sql:3 ORDER BY) — removing
    that ``orderBy`` fails this entry (pinned in tests/test_operators.py).
    The unpartitioned stamp window is verification-only scaffolding over
    the 345-row mart, not a scale path."""
    return stamp_physical_order(q_retention_compact(spark, sf_dir))


def stamp_physical_order(df: DataFrame, pos_col: str = "pos") -> DataFrame:
    """Attach each row's physical output position as ``pos_col``: ids from
    ``monotonically_increasing_id()`` encode (partition, offset) and the
    expression is nondeterministic so Catalyst evaluates it above any
    upstream Sort — ranking the ids therefore reproduces the physical
    order the upstream plan actually emitted."""
    stamped = df.withColumn("__mid", F.monotonically_increasing_id())
    w = Window.orderBy("__mid")
    return stamped.withColumn(
        pos_col, F.row_number().over(w).cast("long")
    ).drop("__mid")


SQL_RETENTION_MART = f"""
WITH v2c AS (SELECT * FROM ({SQL_V2_DECIMAL}) vv WHERE item_id <= {ITEM_CAP}),
wk AS ({SQL_WEEKS_K}),
inner_shipped AS (
  SELECT v.customer_id, v.date_time, w.period, item_id,
         COUNT(*) AS cnt, SUM(v.payment_amount) AS revenue
  FROM v2c v LEFT JOIN wk w
    ON CAST(DATE_TRUNC('week', v.date_time) AS DATE) = w.wk
   AND v.date_time BETWEEN w.start_date AND w.end_date
  WHERE v.status = 'shipped'
  GROUP BY v.customer_id, v.date_time, w.period, item_id
),
inner_ref AS (
  SELECT v.customer_id, v.date_time, w.period, item_id, COUNT(*) AS cnt
  FROM v2c v LEFT JOIN wk w
    ON CAST(DATE_TRUNC('week', v.date_time) AS DATE) = w.wk
   AND v.date_time BETWEEN w.start_date AND w.end_date
  WHERE v.status = 'refunded'
  GROUP BY v.customer_id, v.date_time, w.period, item_id
),
n AS (SELECT period, item_id AS item_new, COUNT(customer_id) AS new_cust_count,
             SUM(revenue) AS new_cust_revenue
      FROM inner_shipped WHERE cnt = 1 GROUP BY period, item_id),
r AS (SELECT period, item_id AS item_ret, COUNT(customer_id) AS returned_cust_count,
             SUM(revenue) AS returned_revenue
      FROM inner_shipped WHERE cnt > 1 GROUP BY period, item_id),
f AS (SELECT period, item_id AS item_ref, COUNT(*) AS cust_with_refunds,
             SUM(cnt) AS total_refunds
      FROM inner_ref GROUP BY period, item_id)
SELECT CAST(n.new_cust_count AS INT) AS new_customers_count,
       CAST(r.returned_cust_count AS INT) AS returning_customers_count,
       CAST(f.cust_with_refunds AS INT) AS refunded_customer_count,
       'weekly' AS period_name,
       CAST(COALESCE(n.period, r.period, f.period) AS INT) AS period_id,
       CAST(n.item_new AS INT) AS item_id_new_cust,
       CAST(r.item_ret AS INT) AS item_id_returned_cust,
       CAST(f.item_ref AS INT) AS item_id_refunded_cust,
       CAST(ROUND(n.new_cust_revenue) AS BIGINT) AS new_customers_revenue,
       CAST(ROUND(r.returned_revenue) AS BIGINT) AS returning_customers_revenue,
       CAST(f.total_refunds AS INT) AS customers_refunded
FROM n
FULL JOIN r ON n.period = r.period
FULL JOIN f ON COALESCE(n.period, r.period) = f.period
"""


@register("retention_mart", SQL_RETENTION_MART)
def q_retention_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f_customer_retention: item-level cohorts combined on period alone
    (items cross-combine per period, as the reference's FULL JOIN in
    loading_retention_mart.sql:5-8 does), projected into the
    creating_retention.sql:2-13 DDL shape. Item space capped at ITEM_CAP
    to bound the reference's unbounded cross-combination on TPC-H
    cardinalities."""
    # no persist: the item_id cap pushes into the materialized log's
    # parquet scan (a persist would cache the UNFILTERED columns), and
    # the item-grain base has one consumer
    v2 = order_log_v2_decimal(spark, sf_dir).filter(F.col("item_id") <= ITEM_CAP)
    base = retention.cohort_base(
        v2, weeks_dim_cached(spark, sf_dir), retention.STATUSES, item=True
    )
    return retention.retention_mart(base)


@register(
    "date_functions",
    """
SELECT DISTINCT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
       CAST(EXTRACT(day FROM o_orderdate) AS INT) AS day_num,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS month_num,
       LOWER(STRFTIME(o_orderdate, '%b')) AS month_name,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year_num,
       CAST(CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS VARCHAR) AS week_start
FROM orders
""",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1-X5 scalar date functions (reference update_mart_d_tables.sql:14-15,
    date_periods.sql:13)."""
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderdate").cast("date").cast("string").alias("d"),
        F.dayofmonth("o_orderdate").alias("day_num"),
        F.month("o_orderdate").alias("month_num"),
        F.lower(F.date_format("o_orderdate", "MMM")).alias("month_name"),
        F.year("o_orderdate").alias("year_num"),
        F.date_trunc("week", "o_orderdate")
        .cast("date")
        .cast("string")
        .alias("week_start"),
    ).distinct()


@register(
    "ivm_customer_revenue",
    f"""
SELECT customer_id,
       CAST(SUM(CAST(payment_amount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM ({SQL_V2}) v GROUP BY customer_id
""",
)
def q_ivm_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-customer revenue mart is
    refreshed as combine(mart(snapshot), agg(increment delta)) — sum and
    count are self-combinable partial aggregates, so merging the two
    partials equals the full recompute (which is exactly what the
    oracle does from scratch). This is the reference's daily-increment
    model (snapshot and increment are date-disjoint at SPLIT_DATE)
    lifted from row appends to aggregate maintenance: at 100 TB the
    nightly refresh touches only the delta, never the full history."""
    snapshot, increment = order_log_snapshot_increment(spark, sf_dir)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("customer_id").agg(
            F.sum(F.col("payment_amount").cast("decimal(18,2)")).alias("__rev"),
            F.count(F.lit(1)).alias("__n"),
        )

    return (
        partial(snapshot)
        .unionByName(partial(increment.select(snapshot.columns)))
        .groupBy("customer_id")
        .agg(
            F.sum("__rev").cast("double").alias("revenue"),
            F.sum("__n").alias("n_rows"),
        )
    )
