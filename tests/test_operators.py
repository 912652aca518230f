"""Operator-level tests on tiny in-memory frames (SURVEY.md §5).

Golden fixture: a hand-checkable order log spanning 3 ISO weeks with
new / returning / refunded customers, mirroring FIXTURES.md §A.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from de_project_sprint_etl_spark.operators import dims, facts, retention

D = dt.date


def order_log(spark):
    # (customer_id, date_time, item_id, payment_amount, status)
    # Week 1: 2023-01-02..08, week 2: 01-09..15, week 3: 01-16..22.
    rows = [
        # c1: one row in week1 -> "new" in week 1
        (1, D(2023, 1, 2), 10, 100.0, "shipped"),
        # c2: two rows same (date, item) in week1 -> "returning"
        (2, D(2023, 1, 3), 11, 50.0, "shipped"),
        (2, D(2023, 1, 3), 11, 50.0, "shipped"),
        # c3: refunded in week2
        (3, D(2023, 1, 9), 12, 75.0, "refunded"),
        # c4: one row in week3 -> "new" in week 3
        (4, D(2023, 1, 16), 10, 25.0, "shipped"),
    ]
    return spark.createDataFrame(
        rows, "customer_id long, date_time date, item_id int, "
        "payment_amount double, status string"
    )


def test_build_weeks_disjoint_sequential(spark):
    dates = order_log(spark).select(F.col("date_time").alias("fact_date")).distinct()
    weeks = retention.build_weeks(dates).collect()
    assert [w.period for w in weeks] == [1, 2, 3]
    for w in weeks:
        assert w.start_date <= w.end_date
    # buckets disjoint
    for a, b in zip(weeks, weeks[1:]):
        assert a.end_date < b.start_date


def test_global_window_guard_fires_past_bound(spark):
    """The unpartitioned-window guard: values are untouched while the
    input is within the bound (current fixtures), and the window raises
    — naming the scale alternative — the moment the bound is crossed."""
    from pyspark.sql import Window
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from de_project_sprint_etl_spark.functions import guards

    df = spark.range(10).select(F.col("id").alias("v"))
    w = Window.orderBy("v")
    ok = df.select(
        guards.bounded_global_window(
            F.row_number().over(w), w, 10, "test op", "a partitioned path"
        ).alias("rn")
    )
    assert [r.rn for r in ok.collect()] == list(range(1, 11))

    over = df.select(
        guards.bounded_global_window(
            F.row_number().over(w), w, 9, "test op", "a partitioned path"
        ).alias("rn")
    )
    try:
        over.collect()
        raise AssertionError("expected the guard to raise past the bound")
    except Exception as exc:  # Py4J wraps the SparkRuntimeException
        assert "a partitioned path" in str(exc)


def test_assert_below_collision_guard(spark):
    """ADVICE r7: synthetic-corpus id offsets are guarded — a natural id
    at/past the offset raises at execution (the oracle shares the
    constant, so silent collision would be invisible to the
    differential); in-bound ids pass through unchanged."""
    from de_project_sprint_etl_spark.functions import guards

    df = spark.range(5).select(F.col("id").alias("doc_id"))
    ok = df.select(
        guards.assert_below(F.col("doc_id"), 5, "test corpus").alias("doc_id")
    )
    assert sorted(r.doc_id for r in ok.collect()) == [0, 1, 2, 3, 4]
    bad = df.select(
        guards.assert_below(F.col("doc_id"), 4, "test corpus").alias("doc_id")
    )
    try:
        bad.collect()
        raise AssertionError("expected the collision guard to raise")
    except Exception as exc:  # Py4J wraps the SparkRuntimeException
        assert "collide" in str(exc)


def test_gated_broadcast_flips_on_large_build_side(spark):
    """The near-dedup broadcast size gate: a small dup-group table keeps
    the broadcast-hash plan; a table the gate measures past the
    threshold loses the hint and plans a shuffle join instead — the
    high-dup-rate-corpus shape where an unconditional broadcast OOMs.
    Values must be identical either way (same anti join, different
    physical strategy)."""
    from de_project_sprint_etl_spark.functions import guards

    corpus = spark.range(1000).select(F.col("id").alias("doc_id"))
    drop = spark.range(0, 1000, 2).select(F.col("id").alias("doc_id"))

    def plan(threshold):
        gated = guards.gated_broadcast(drop, "test drop set", threshold_bytes=threshold)
        joined = corpus.join(gated, "doc_id", "left_anti")
        phys = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        return joined, phys

    # pin the session threshold under drop's 4000-byte stats so the
    # planner broadcasts ONLY when the gate's hint says so
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1000")
        # gate passes (500 rows x 64 B < 10 MB) -> hint forces broadcast
        small_j, small_p = plan(10 * 1024 * 1024)
        assert "BroadcastHashJoin" in small_p, small_p

        # 500 rows x 64 B/row = 32000 B > 1000 B threshold -> gate flips
        big_j, big_p = plan(1000)
        assert "BroadcastHashJoin" not in big_p, big_p

        # threshold -1 (broadcast disabled) -> never hint, never count
        off_j, off_p = plan(-1)
        assert "BroadcastHashJoin" not in off_p, off_p

        want = sorted(r.doc_id for r in small_j.collect())
        assert want == list(range(1, 1000, 2))
        assert sorted(r.doc_id for r in big_j.collect()) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_build_weeks_guard_is_value_neutral(spark):
    """Promoting the safety docstring into a guard must not change a
    single value on in-bound inputs (the registered queries' case)."""
    dates = order_log(spark).select(F.col("date_time").alias("fact_date")).distinct()
    got = retention.build_weeks(dates).collect()
    assert [w.period for w in got] == [1, 2, 3]


def test_assign_week_equi_matches_range_join(spark):
    log = order_log(spark)
    dates = log.select(F.col("date_time").alias("fact_date")).distinct()
    weeks = retention.build_weeks(dates)
    equi = retention.assign_week_period(log, weeks, "date_time", how="equi")
    rj = retention.assign_week_period(log, weeks, "date_time", how="range_join")
    assert sorted(map(str, equi.collect())) == sorted(map(str, rj.collect()))


def test_assign_week_out_of_calendar_is_null(spark):
    log = order_log(spark)
    dates = log.filter(F.col("date_time") < "2023-01-10").select(
        F.col("date_time").alias("fact_date")
    )
    weeks = retention.build_weeks(dates.distinct())
    out = retention.assign_week_period(log, weeks, "date_time", how="equi")
    periods = {r.customer_id: r.period for r in out.collect()}
    assert periods[4] is None  # week-3 order, calendar only covers weeks 1-2
    assert periods[1] is not None


def test_cohorts_disjoint_and_golden(spark):
    log = order_log(spark)
    dates = log.select(F.col("date_time").alias("fact_date")).distinct()
    weeks = retention.build_weeks(dates)
    new, ret, ref = (
        retention.cohort(
            retention.cohort_base(log, weeks, (c.status,), item=False),
            name,
            ["period"],
        ).collect()
        for name, c in retention.COHORTS.items()
    )
    assert {(r.period, r.new_cust_count) for r in new} == {(1, 1), (3, 1)}
    assert {(r.period, r.returned_cust_count) for r in ret} == {(1, 1)}
    assert {(r.period, r.cust_with_refunds, r.total_refunds) for r in ref} == {
        (2, 1, 1)
    }
    # revenue golden values
    assert {r.period: r.new_cust_revenue for r in new} == {1: 100.0, 3: 25.0}
    assert {r.period: r.returned_revenue for r in ret} == {1: 100.0}


def test_retention_compact_nulls_for_missing_weeks(spark):
    """Weeks with no cohort data yield NULL columns (reference
    comments.md:8 expectation)."""
    log = order_log(spark)
    dates = log.select(F.col("date_time").alias("fact_date")).distinct()
    weeks = retention.build_weeks(dates)
    out = retention.retention_compact(
        retention.cohort_base(log, weeks, retention.STATUSES, item=False)
    ).collect()
    by_period = {r.period: r for r in out}
    assert by_period[2].new_cust_count is None  # week 2 had only refunds
    assert by_period[2].cust_with_refunds == 1
    assert by_period[3].returned_cust_count is None


def reference_marts() -> tuple[str, str]:
    """The reference's cohort and mart SQL (new_customers.sql,
    returned_customers.sql, refunded_customers.sql and
    loading_retention_mart.sql) over DuckDB tables ``log`` and ``weeks``:
    the compact mart and the item mart. Weeks join by equality on the
    week truncation plus a range filter, not a bare BETWEEN (DuckDB
    1.0.0's IEJoin livelock, see plans/testdata.py SQL_WEEKS_K)."""

    def inner(status, item):
        keys = "v.customer_id, v.date_time, w.period" + (", v.item_id" if item else "")
        return f"""
SELECT {keys}, COUNT(*) AS cnt, SUM(v.payment_amount) AS revenue
FROM log v LEFT JOIN weeks w
  ON CAST(DATE_TRUNC('week', v.date_time) AS DATE) = w.wk
 AND v.date_time BETWEEN w.start_date AND w.end_date
WHERE v.status = '{status}'
GROUP BY {keys}"""

    def cohorts(item):
        grp = "period, item_id" if item else "period"

        def it(col):
            return f"item_id AS {col}," if item else ""

        return f"""
n AS (SELECT period, {it('item_new')} COUNT(customer_id) AS new_cust_count,
             SUM(revenue) AS new_cust_revenue
      FROM ({inner('shipped', item)} HAVING COUNT(*) = 1) c GROUP BY {grp}),
r AS (SELECT period, {it('item_ret')} COUNT(customer_id) AS returned_cust_count,
             SUM(revenue) AS returned_revenue
      FROM ({inner('shipped', item)} HAVING COUNT(*) > 1) c GROUP BY {grp}),
f AS (SELECT period, {it('item_ref')} COUNT(*) AS cust_with_refunds,
             CAST(SUM(cnt) AS BIGINT) AS total_refunds
      FROM ({inner('refunded', item)}) c GROUP BY {grp})"""

    joins = """
FROM n
FULL JOIN r ON n.period = r.period
FULL JOIN f ON COALESCE(n.period, r.period) = f.period"""
    compact = f"""
WITH {cohorts(False)}
SELECT COALESCE(n.period, r.period, f.period) AS period,
       n.new_cust_count, n.new_cust_revenue,
       r.returned_cust_count, r.returned_revenue,
       f.cust_with_refunds, f.total_refunds {joins}"""
    mart = f"""
WITH {cohorts(True)}
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
       CAST(f.total_refunds AS INT) AS customers_refunded {joins}"""
    return compact, mart


# A date no week covers: rows on it get a NULL period.
OFF_CALENDAR = D(2023, 3, 6)


@pytest.mark.parametrize(
    "extra",
    [
        pytest.param([], id="fixture"),
        # c7 ships two different items once each on one day: new at item
        # grain, returning at customer grain (the additive re-aggregation);
        # with c8's repeat and c3's refund, week 2 cross-combines 2x1x1
        pytest.param(
            [
                (7, D(2023, 1, 10), 20, 10.50, "shipped"),
                (7, D(2023, 1, 10), 21, 20.25, "shipped"),
                (8, D(2023, 1, 11), 22, 5.50, "shipped"),
                (8, D(2023, 1, 11), 22, 5.50, "shipped"),
            ],
            id="two_items_one_day",
        ),
        pytest.param(
            [
                (5, D(2023, 1, 23), 13, 40.0, "refunded"),
                (6, D(2023, 1, 24), 14, 60.0, "refunded"),
                (6, D(2023, 1, 24), 14, 60.0, "refunded"),
            ],
            id="refund_only_period",
        ),
        pytest.param(
            [
                (9, D(2023, 1, 17), 10, 12.0, "shipped"),
                (9, D(2023, 1, 17), 10, 12.0, "refunded"),
            ],
            id="shipped_and_refunded_same_day",
        ),
        # count(customer_id) skips the NULL id; count(*) of refunds does not
        pytest.param(
            [
                (None, D(2023, 1, 4), 10, 40.0, "shipped"),
                (None, D(2023, 1, 4), 11, 10.0, "refunded"),
                (None, D(2023, 1, 18), 30, 5.0, "shipped"),
            ],
            id="null_customer_id",
        ),
        # a FULL JOIN never matches NULL periods: one row per cohort
        pytest.param(
            [
                (10, OFF_CALENDAR, 40, 9.0, "shipped"),
                (11, OFF_CALENDAR, 41, 9.0, "shipped"),
                (11, OFF_CALENDAR, 41, 9.0, "shipped"),
                (12, OFF_CALENDAR, 42, 9.0, "refunded"),
            ],
            id="null_period",
        ),
    ],
)
def test_retention_marts_equal_per_cohort_composition(spark, extra):
    """Both marts, from the pipeline's one persisted frame and from the
    registered queries' direct base, equal the reference SQL run by
    DuckDB over the same rows (values canonicalized as
    tools/oracle_check.py does). Amounts are decimal, as in the
    pipeline's merged log, so revenue sums are exact."""
    import duckdb
    import pyarrow as pa

    from tools.oracle_check import compare_frames

    base = order_log(spark)
    log = base.unionByName(spark.createDataFrame(extra, base.schema)).withColumn(
        "payment_amount", F.col("payment_amount").cast("decimal(18,2)")
    )
    dates = log.select(F.col("date_time").alias("fact_date")).distinct()
    weeks = retention.build_weeks(dates.filter(F.col("fact_date") != OFF_CALENDAR))

    con = duckdb.connect()
    con.register(
        "log",
        pa.Table.from_pylist(
            [r.asDict() for r in log.collect()],
            pa.schema(
                [
                    ("customer_id", pa.int64()),
                    ("date_time", pa.date32()),
                    ("item_id", pa.int32()),
                    ("payment_amount", pa.decimal128(18, 2)),
                    ("status", pa.string()),
                ]
            ),
        ),
    )
    # reference date_periods.sql: min/max date and a period per week
    con.sql(f"""
CREATE TABLE weeks AS
SELECT MIN(d) AS start_date, MAX(d) AS end_date,
       CAST(ROW_NUMBER() OVER (ORDER BY MIN(d)) AS BIGINT) AS period,
       CAST(DATE_TRUNC('week', d) AS DATE) AS wk
FROM (SELECT DISTINCT date_time AS d FROM log
      WHERE date_time <> DATE '{OFF_CALENDAR}') dates
GROUP BY DATE_TRUNC('week', d)
""")
    want = [con.sql(q).arrow().to_pandas() for q in reference_marts()]

    direct = (
        retention.retention_compact(
            retention.cohort_base(log, weeks, retention.STATUSES, item=False)
        ),
        retention.retention_mart(
            retention.cohort_base(log, weeks, retention.STATUSES, item=True)
        ),
    )
    with retention.retention_marts(log, weeks) as pipeline:
        for got in (pipeline, direct):
            for g, w in zip(got, want):
                verdict = compare_frames(g.toPandas(), w)
                assert verdict["hash_match"], verdict["err"]


def test_merge_snapshot_increment_idempotent_and_no_dupes(spark):
    snap = spark.createDataFrame(
        [(1, D(2023, 1, 2), 10, 100.0)],
        "customer_id long, date_time date, item_id int, payment_amount double",
    )
    inc = spark.createDataFrame(
        [(3, D(2023, 1, 9), 12, 75.0, "refunded")],
        "customer_id long, date_time date, item_id int, "
        "payment_amount double, status string",
    )
    v2 = facts.merge_snapshot_increment(snap, inc)
    rows = v2.collect()
    assert len(rows) == 2
    assert {r.status for r in rows} == {"shipped", "refunded"}
    # deterministic recompute: running the merge again is a fixed point
    v2b = facts.merge_snapshot_increment(snap, inc)
    assert sorted(map(str, rows)) == sorted(map(str, v2b.collect()))


def test_distinct_on_deterministic(spark):
    df = spark.createDataFrame(
        [(1, D(2023, 1, 1), "old"), (1, D(2023, 1, 5), "new"), (2, D(2023, 1, 2), "x")],
        "k long, d date, v string",
    )
    picked = dims.distinct_on(df, ["k"], [F.col("d").desc()])
    got = {r.k: r.v for r in picked.collect()}
    assert got == {1: "new", 2: "x"}


def test_calendar_attributes(spark):
    df = spark.createDataFrame([(D(2023, 1, 2),)], "d date")
    cal = dims.build_calendar([(df, "d")]).collect()[0]
    assert (cal.date_id, cal.day_num, cal.month_num, cal.year_num) == (1, 2, 1, 2023)
    assert cal.month_name == "jan"  # lowercase, Postgres TO_CHAR('mon') parity


def test_sequence_ids_dense_and_unique(spark):
    df = spark.createDataFrame([(c,) for c in "cab"], "v string")
    seq = dims.with_sequence_id(df, "id", ["v"]).collect()
    assert {(r.id, r.v) for r in seq} == {(1, "a"), (2, "b"), (3, "c")}
    uniq = dims.with_unique_id(df, "id").collect()
    assert len({r.id for r in uniq}) == 3


def test_sequence_id_guard_fires_past_bound(spark, monkeypatch):
    """VERDICT r7 #7: with_sequence_id's single-partition global sort is
    guard-ENFORCED, not just documented — a frame past SEQUENCE_BOUND
    raises naming the with_unique_id scale path (bound shrunk via
    monkeypatch; the guard reads it at call time)."""
    from de_project_sprint_etl_spark.functions import guards

    monkeypatch.setattr(guards, "SEQUENCE_BOUND", 5)
    df = spark.range(6).select(F.col("id").alias("v"))
    try:
        dims.with_sequence_id(df, "sid", ["v"]).collect()
        raise AssertionError("expected the sequence-id guard to raise")
    except Exception as exc:  # Py4J wraps the SparkRuntimeException
        assert "with_unique_id" in str(exc)
    # within the bound: untouched dense ids
    ok = dims.with_sequence_id(df.limit(5), "sid", ["v"]).collect()
    assert sorted(r.sid for r in ok) == [1, 2, 3, 4, 5]


def test_order_stamp_detects_lost_sort(spark):
    """retention_compact_ordered's physical-position stamp is the O1/O2
    oracle tooth: positions match ROW_NUMBER-by-period only when the
    assembly actually sorts, and diverge when the orderBy is dropped."""
    from de_project_sprint_etl_spark.plans.testdata import stamp_physical_order

    df = spark.range(0, 300).select(
        (F.col("id") + 1).alias("period"), (F.col("id") * 7 % 100).alias("v")
    )
    hashed = df.repartition(8, "period")  # full-join-like hash output order

    sorted_pos = stamp_physical_order(hashed.orderBy("period")).collect()
    assert all(r.pos == r.period for r in sorted_pos)

    unsorted_pos = stamp_physical_order(hashed).collect()
    assert any(r.pos != r.period for r in unsorted_pos)


def test_asof_join_semantics(spark):
    """>=-tie visibility, latest-wins, and no-prior-row null — pinned
    against hand-computed expectations (the registered query also
    verifies against DuckDB's native ASOF LEFT JOIN)."""
    from de_project_sprint_etl_spark.functions.asof import asof_join

    probe = spark.createDataFrame(
        [(1, 10, "p10"), (1, 20, "p20"), (1, 5, "p5"), (2, 15, "p15")],
        "k int, pts int, tag string",
    )
    build = spark.createDataFrame(
        [(1, 10, 100.0), (1, 18, 180.0), (2, 30, 300.0)],
        "k int, bts int, val double",
    )
    got = {
        (r.k, r.pts): (r.bts, r.val)
        for r in asof_join(
            probe, build, on=["k"], probe_ts="pts",
            build_ts="bts", build_cols=["val"],
        ).collect()
    }
    assert got == {
        (1, 5): (None, None),        # no build row at-or-before ts=5
        (1, 10): (10, 100.0),        # equal-ts build row IS visible (>=)
        (1, 20): (18, 180.0),        # latest preceding, not first
        (2, 15): (None, None),       # build row is in the future
    }


def test_salted_join_matches_plain_join(spark):
    """Salting must change distribution only: row-identical to the
    plain join for inner and left, including unmatched-probe nulls."""
    from de_project_sprint_etl_spark.functions.skew import salted_join

    probe = spark.createDataFrame(
        [(k, i) for k in (1, 1, 1, 2, 3) for i in range(10)],
        "k int, payload int",
    )
    build = spark.createDataFrame([(1, "a"), (2, "b"), (9, "z")], "k int, tag string")
    for how in ("inner", "left"):
        got = sorted(
            tuple(r) for r in salted_join(probe, build, ["k"], n_salts=8, how=how).collect()
        )
        want = sorted(tuple(r) for r in probe.join(build, ["k"], how).collect())
        assert got == want, how


def test_salted_join_spreads_hot_key(spark):
    """A hot key's probe rows must scatter across many salt buckets —
    the whole point of the operator."""
    from pyspark.sql import functions as F

    probe = spark.createDataFrame(
        [(1, i) for i in range(500)], "k int, payload int"
    )
    salted = probe.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in probe.columns]), F.lit(16))
    )
    n_buckets = salted.select("__salt").distinct().count()
    assert n_buckets >= 12  # 500 distinct rows over 16 buckets


def test_salted_join_hot_threshold_matches_plain_join(spark):
    """Hot-key-only salting must also be row-identical to the plain
    join — hot keys spread, cold keys single-copy, nothing lost."""
    from de_project_sprint_etl_spark.functions.skew import salted_join

    probe = spark.createDataFrame(
        [(1, i) for i in range(100)]          # hot key
        + [(k, 0) for k in range(2, 30)],     # cold keys
        "k int, payload int",
    )
    build = spark.createDataFrame(
        [(k, f"t{k}") for k in range(0, 30)], "k int, tag string"
    )
    for how in ("inner", "left"):
        got = sorted(tuple(r) for r in salted_join(
            probe, build, ["k"], n_salts=8, how=how, hot_threshold=10).collect())
        want = sorted(tuple(r) for r in probe.join(build, ["k"], how).collect())
        assert got == want, how


def test_cdc_apply_changes_semantics(spark):
    """Latest-wins CDC apply: update overrides snapshot, delete wins
    over an earlier update, insert of a new key lands, delete of a
    key with no later change removes it, untouched rows pass through
    — and the plan is ONE shuffle (no join)."""
    from de_project_sprint_etl_spark.functions.cdc import apply_changes

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, v string"
    )
    chg = spark.createDataFrame(
        [
            (1, "a2", 1, "U"),   # plain update
            (2, "b2", 1, "U"),   # update then...
            (2, "b3", 2, "D"),   # ...later delete -> gone
            (3, None, 1, "D"),   # delete with no later change -> gone
            (5, "e", 1, "I"),    # brand-new key
            (6, "f1", 1, "I"),   # insert then updated in same batch
            (6, "f2", 2, "U"),
        ],
        "k int, v string, seq long, op string",
    )
    out = apply_changes(snap, chg, keys=["k"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "a2", 4: "d", 5: "e", 6: "f2"}

    plan_str = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan_str
    # one key shuffle (AQE final plans render it as a ShuffleQueryStage);
    # WindowGroupLimit = Spark pre-filters each map partition to its
    # per-key top-1 BEFORE the exchange, so only candidate winners shuffle
    assert plan_str.count("ShuffleQueryStage") == 1, plan_str
    assert "WindowGroupLimit" in plan_str, plan_str


def test_cached_generation_evicts_previous(spark):
    """The generation cache keeps at most ONE persisted frame per
    (session, tag): re-invoking a tag unpersists the prior generation
    (the ADVICE-r4 leak class), while distinct tags coexist."""
    from de_project_sprint_etl_spark.functions.caching import (
        _GENERATIONS,
        cached_generation,
    )

    base = spark.range(10)
    a1 = cached_generation(spark, "t_a", base.select("id"))
    a1.count()
    assert a1.storageLevel.useMemory
    b1 = cached_generation(spark, "t_b", base.select((F.col("id") * 2).alias("id")))
    b1.count()
    a2 = cached_generation(spark, "t_a", base.select((F.col("id") + 1).alias("id")))
    a2.count()
    # generation 1 of t_a evicted, generation of t_b untouched
    assert not a1.storageLevel.useMemory
    assert b1.storageLevel.useMemory
    assert a2.storageLevel.useMemory
    assert _GENERATIONS[(id(spark), "t_a")][1] is a2
    # cleanup
    for tag in ("t_a", "t_b"):
        _GENERATIONS.pop((id(spark), tag))[1].unpersist()


def test_cached_generation_evicts_dead_sessions(spark):
    """Single-live-session contract (ADVICE r5): an entry planted under
    a DIFFERENT session object is evicted on the next insert — a
    session churner can't accumulate dead sessions' frames — and the
    evicted frame's unpersist failure (stopped context) is swallowed."""
    from de_project_sprint_etl_spark.functions.caching import (
        _GENERATIONS,
        cached_generation,
    )

    class _DeadFrame:
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True
            raise RuntimeError("context stopped")  # stopped-session shape

    ghost_session, ghost_frame = object(), _DeadFrame()
    _GENERATIONS[(id(ghost_session), "ghost_tag")] = (ghost_session, ghost_frame)

    live = cached_generation(spark, "t_live", spark.range(5))
    live.count()
    assert (id(ghost_session), "ghost_tag") not in _GENERATIONS
    assert ghost_frame.unpersisted  # best-effort unpersist was attempted
    assert _GENERATIONS[(id(spark), "t_live")][0] is spark
    _GENERATIONS.pop((id(spark), "t_live"))[1].unpersist()


def test_cached_generation_spares_live_sibling_session(spark):
    """ADVICE r6: spark.newSession() shares one LIVE SparkContext — its
    cache did NOT die, so alternating calls from two live siblings must
    not unpersist each other's frames (the silent lost-persist that
    re-ran the dominant job every alternation)."""
    from de_project_sprint_etl_spark.functions.caching import (
        _GENERATIONS,
        cached_generation,
    )

    sibling = spark.newSession()
    a = cached_generation(spark, "sib_main", spark.range(7))
    a.count()
    b = cached_generation(sibling, "sib_other", sibling.range(9))
    b.count()
    # the sibling's insert must NOT have evicted the main session's entry
    assert _GENERATIONS[(id(spark), "sib_main")][1] is a
    assert a.storageLevel.useMemory
    # and alternating back leaves the sibling's frame alone too
    a2 = cached_generation(spark, "sib_main2", spark.range(3))
    a2.count()
    assert _GENERATIONS[(id(sibling), "sib_other")][1] is b
    assert b.storageLevel.useMemory
    for key in [(id(spark), "sib_main"), (id(spark), "sib_main2"),
                (id(sibling), "sib_other")]:
        _GENERATIONS.pop(key)[1].unpersist()


def test_session_scoped_value_purges_stale_fingerprint(spark):
    """ADVICE r6: a long-lived session that regenerates fixtures must
    not accumulate one dead memo per old fingerprint — inserting
    (locator, new_fp) purges same-session entries for the same locator
    with a different fingerprint, while other locators coexist."""
    from de_project_sprint_etl_spark.functions.caching import (
        _SESSION_VALUES,
        session_scoped_value,
    )

    ns = "test_stale_fp"
    v1 = session_scoped_value(ns, spark, ("/data/sfX", 111), lambda: "gen1")
    other = session_scoped_value(ns, spark, ("/data/sfY", 5), lambda: "other")
    assert (v1, other) == ("gen1", "other")
    v2 = session_scoped_value(ns, spark, ("/data/sfX", 222), lambda: "gen2")
    assert v2 == "gen2"
    store = _SESSION_VALUES[ns]
    assert (id(spark), "/data/sfX", 111) not in store  # stale fp purged
    assert (id(spark), "/data/sfX", 222) in store
    assert (id(spark), "/data/sfY", 5) in store  # other locator intact
    _SESSION_VALUES.pop(ns, None)


def test_data_fingerprint_sees_in_place_part_rewrite(tmp_path):
    """ADVICE r6: rewriting a parquet dataset dir's part files IN PLACE
    (same names, same sizes) can leave the parent dir's stat unchanged;
    the fingerprint must still flip because it folds in the leaf part
    files' own mtimes."""
    import os

    from de_project_sprint_etl_spark.plans.registry import data_fingerprint

    ds = tmp_path / "docs.parquet"
    ds.mkdir()
    part = ds / "part-00000.parquet"
    part.write_bytes(b"x" * 64)
    os.utime(ds, ns=(1_000_000_000, 1_000_000_000))
    os.utime(part, ns=(1_000_000_000, 1_000_000_000))
    fp1 = data_fingerprint(str(ds))

    # in-place rewrite: same name, same size, parent stat pinned back
    part.write_bytes(b"y" * 64)
    os.utime(part, ns=(2_000_000_000, 2_000_000_000))
    os.utime(ds, ns=(1_000_000_000, 1_000_000_000))
    fp2 = data_fingerprint(str(ds))
    assert fp1 != fp2

    # plain single-file path still fingerprints (and flips on touch)
    f = tmp_path / "plain.parquet"
    f.write_bytes(b"z")
    os.utime(f, ns=(1_000_000_000, 1_000_000_000))
    a = data_fingerprint(str(f))
    os.utime(f, ns=(3_000_000_000, 3_000_000_000))
    assert data_fingerprint(str(f)) != a


def test_protobuf_shim_rejects_future_gencode_major():
    """ADVICE r6: the vendored runtime_version shim is not a blanket
    no-op — gencode declaring a major beyond the validated range fails
    with an explicit skew message instead of an obscure downstream
    AttributeError."""
    from tools.vendor_protobuf import _RUNTIME_VERSION_SHIM

    mod: dict = {}
    exec(_RUNTIME_VERSION_SHIM, mod)  # noqa: S102 — our own shim source
    # Spark 4.1's StateMessage gencode declares 6.33.0 — in range
    ok = mod["ValidateProtobufRuntimeVersion"](
        mod["Domain"].PUBLIC, 6, 33, 0, "", "StateMessage_pb2.py"
    )
    assert ok is None
    try:
        mod["ValidateProtobufRuntimeVersion"](
            mod["Domain"].PUBLIC, 7, 0, 0, "", "Future_pb2.py"
        )
        raise AssertionError("expected the shim to reject major=7")
    except ImportError as exc:
        assert "re-vendor" in str(exc)


def test_plan_cache_evicts_dead_sessions():
    """VERDICT r5 #4: _PLAN_CACHE drops entries whose session is not
    the inserting one, so churning SparkSessions can't retain every
    dead session's plan objects forever. Exercised with stub sessions —
    _prepared only touches identity, never the Spark API."""
    from de_project_sprint_etl_spark.plans.registry import _PLAN_CACHE, _prepared

    calls = []

    def fake_query(spark, sf_dir):
        calls.append(spark)
        return ("plan-of", id(spark), sf_dir)

    wrapped = _prepared("__test_evict__", fake_query)
    old_session, new_session = object(), object()
    try:
        p1 = wrapped(old_session, "/sf")
        assert wrapped(old_session, "/sf") is p1  # hit, no rebuild
        assert len(calls) == 1
        p2 = wrapped(new_session, "/sf")  # new session: rebuild + purge
        assert p2 != p1 and len(calls) == 2
        assert not any(
            k[1] == id(old_session) for k in _PLAN_CACHE
        ), "dead session's plan survived the insert purge"
        # nothing from any other session remains after the insert purge
        assert all(sess is new_session for sess, _ in _PLAN_CACHE.values())
    finally:
        for k in [k for k in _PLAN_CACHE if k[0] == "__test_evict__"]:
            _PLAN_CACHE.pop(k, None)


def test_plan_cache_invalidates_on_fixture_regeneration(tmp_path):
    """Plans can bake DATA-dependent choices in at build time (adaptive
    IVF stride, SemDeDup k, the adaptive dedup tier), so regenerating
    the fixture dir must invalidate the cached plan even within one
    session — the cache key carries a directory fingerprint."""
    import os
    import time

    from de_project_sprint_etl_spark.plans.registry import _PLAN_CACHE, _prepared

    calls = []

    def fake_query(spark, sf_dir):
        calls.append(sf_dir)
        return ("plan", len(calls))

    wrapped = _prepared("__test_fp__", fake_query)
    sess = object()
    d = str(tmp_path / "sf")
    os.makedirs(d)
    f = os.path.join(d, "documents.parquet")
    open(f, "w").write("gen1")
    try:
        p1 = wrapped(sess, d)
        assert wrapped(sess, d) is p1  # unchanged dir: cache hit
        open(f, "w").write("gen2-bigger")  # regenerate (size + mtime)
        os.utime(f, ns=(time.time_ns(), time.time_ns()))
        p2 = wrapped(sess, d)
        assert p2 is not p1 and len(calls) == 2, "stale plan served"
        # and the stale-generation entry was purged, not retained
        assert sum(1 for k in _PLAN_CACHE if k[0] == "__test_fp__") == 1
    finally:
        for k in [k for k in _PLAN_CACHE if k[0] == "__test_fp__"]:
            _PLAN_CACHE.pop(k, None)


def test_session_scoped_value_contract():
    """The shared memo behind every corpus-property cache: computes
    once per (session, subkey), survives re-asks, refuses id()-reuse
    aliasing (identity check), and purges other sessions on insert."""
    from de_project_sprint_etl_spark.functions.caching import (
        _SESSION_VALUES,
        session_scoped_value,
    )

    ns = "__test_ssv__"
    calls = []
    a, b = object(), object()
    try:
        v1 = session_scoped_value(ns, a, ("k",), lambda: calls.append(1) or 11)
        v2 = session_scoped_value(ns, a, ("k",), lambda: calls.append(2) or 22)
        assert (v1, v2, calls) == (11, 11, [1])  # memoized
        # id-reuse ghost: same id-keyed entry but a DIFFERENT session
        # object must not be served — simulate by swapping the stored
        # session ref for a foreign object
        key = next(iter(_SESSION_VALUES[ns]))
        _SESSION_VALUES[ns][key] = (object(), 99)
        v3 = session_scoped_value(ns, a, ("k",), lambda: calls.append(3) or 33)
        assert v3 == 33 and calls == [1, 3]
        # new session purges the old session's entries on insert
        session_scoped_value(ns, b, ("k",), lambda: 44)
        assert all(s is b for s, _ in _SESSION_VALUES[ns].values())
    finally:
        _SESSION_VALUES.pop(ns, None)
