"""End-to-end pipeline test on reference-native CSV fixtures
(FIXTURES.md §A): snapshot + increment → staging → marts → retention,
with the reference's correctness invariants (README.md:21-22,
comments.md:8)."""

from __future__ import annotations

import csv
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from de_project_sprint_etl_spark import pipeline, schemas

ORDER_COLS = [
    "id", "uniq_id", "date_time", "city_id", "city_name", "customer_id",
    "first_name", "last_name", "item_id", "item_name", "quantity",
    "payment_amount",
]


def write_csv(path: Path, cols, rows):
    with path.open("w", newline="") as f:
        w = csv.writer(f)
        w.writerow(cols)
        w.writerows(rows)


@pytest.fixture(scope="module")
def src_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("refsrc")
    # snapshot: weeks of 2023-01-02 (w1), -09 (w2)
    snap = [
        # c1 single order in w1 -> new
        [1, "a1", "2023-01-02 10:00:00", 1, "kazan", 1, "Ann", "A", 10, "hat", 1, "100.00"],
        # c2 two rows same day in w1 -> returning
        [2, "a2", "2023-01-03 10:00:00", 1, "kazan", 2, "Bob", "B", 11, "cap", 1, "50.00"],
        [3, "a3", "2023-01-03 10:00:00", 1, "kazan", 2, "Bob", "B", 11, "cap", 1, "50.00"],
        # c5 order in w2 -> new in w2
        [4, "a4", "2023-01-09 09:00:00", 2, "perm", 5, "Eva", "E", 12, "tee", 2, "80.00"],
    ]
    write_csv(d / "user_order_log.csv", ORDER_COLS, snap)
    # increment: w3 (2023-01-16), carries status incl. refunded
    inc = [
        [10, "b1", "2023-01-16 12:00:00", 1, "kazan", 3, "Cat", "C", 10, "hat", 1, "30.00", "refunded"],
        [11, "b2", "2023-01-17 12:00:00", 2, "perm", 4, "Dan", "D", 12, "tee", 1, "60.00", "shipped"],
    ]
    write_csv(d / "user_order_log_inc.csv", ORDER_COLS + ["status"], inc)
    write_csv(
        d / "user_activity_log.csv",
        ["id", "uniq_id", "date_time", "action_id", "customer_id", "quantity"],
        [[1, "u1", "2023-01-02 10:00:00", 1, 1, 1]],
    )
    write_csv(
        d / "customer_research.csv",
        ["id", "date_id", "category_id", "geo_id", "sales_qty", "sales_amt"],
        [[1, "2023-01-04 00:00:00", 1, 1, 3, "120.00"]],
    )
    with (d / "price_log.csv").open("w") as f:
        f.write("hat,100\ncap,50\n")  # headerless (reference S6)
    return str(d)


def test_full_pipeline(spark, src_dir, tmp_path):
    base = str(tmp_path / "warehouse")
    pipeline.run_all(spark, src_dir, base)

    cal = spark.read.parquet(f"{base}/mart/d_calendar")
    # dates from orders + activity + research + increment, distinct
    dates = {str(r.fact_date) for r in cal.select("fact_date").collect()}
    assert {"2023-01-02", "2023-01-03", "2023-01-04", "2023-01-09",
            "2023-01-16", "2023-01-17"} == dates
    assert cal.count() == cal.select("date_id").distinct().count()

    cust = spark.read.parquet(f"{base}/mart/d_customer")
    assert cust.count() == 5  # one row per customer incl. increment's
    item = spark.read.parquet(f"{base}/mart/d_item")
    assert {r.item_id for r in item.collect()} == {10, 11, 12}

    v2 = spark.read.parquet(f"{base}/mart/f_sales_v2")
    assert v2.count() == 6  # 4 snapshot + 2 increment, no duplicates
    assert v2.filter(F.col("status") == "refunded").count() == 1

    compact = spark.read.parquet(f"{base}/mart/retention_compact").collect()
    by_period = {r.period: r for r in compact}
    assert by_period[1].new_cust_count == 1      # c1
    assert by_period[1].returned_cust_count == 1  # c2
    assert by_period[2].new_cust_count == 1      # c5
    assert by_period[2].returned_cust_count is None  # NULL for empty cohort
    assert by_period[3].cust_with_refunds == 1   # c3 refunded in w3
    assert by_period[3].new_cust_count == 1      # c4 shipped in w3

    mart = spark.read.parquet(f"{base}/mart/f_customer_retention")
    assert mart.filter(F.col("period_name") != "weekly").count() == 0
    # one row per period: each period has at most one item per cohort, so
    # the item cross-combination is 1x1x1; absent cohorts are NULL and
    # revenues are rounded bigints
    assert sorted(map(tuple, mart.collect()), key=repr) == sorted(
        [
            (1, 1, None, "weekly", 1, 10, 11, None, 100, 100, None),
            (1, None, None, "weekly", 2, 12, None, None, 80, None, None),
            (1, None, 1, "weekly", 3, 12, None, 10, 60, None, 1),
        ],
        key=repr,
    )

    # written parquet matches its declared schema (nullability aside);
    # the pipeline reads staging and d_calendar back with theirs, so a
    # drift must fail here rather than mis-read silently
    for table, declared in [
        ("staging/user_order_log", schemas.USER_ORDER_LOG),
        ("staging/user_order_log_inc", schemas.USER_ORDER_LOG_INC),
        ("staging/user_activity_log", schemas.USER_ACTIVITY_LOG),
        ("staging/customer_research", schemas.CUSTOMER_RESEARCH),
        ("mart/d_calendar", schemas.D_CALENDAR),
        ("mart/d_calendar_weeks", schemas.D_CALENDAR_WEEKS),
        ("mart/f_customer_retention", schemas.F_CUSTOMER_RETENTION),
    ]:
        inferred = spark.read.parquet(f"{base}/{table}").schema
        assert [(f.name, f.dataType) for f in inferred] == [
            (f.name, f.dataType) for f in declared
        ], table


def test_pipeline_rerun_is_fixed_point(spark, src_dir, tmp_path):
    """Reference invariant README.md:21-22: re-running must not
    duplicate or change anything."""
    base = str(tmp_path / "warehouse")
    pipeline.run_all(spark, src_dir, base)
    first = sorted(
        map(str, spark.read.parquet(f"{base}/mart/retention_compact").collect())
    )
    n_v2 = spark.read.parquet(f"{base}/mart/f_sales_v2").count()
    pipeline.run_all(spark, src_dir, base)
    second = sorted(
        map(str, spark.read.parquet(f"{base}/mart/retention_compact").collect())
    )
    assert first == second
    assert spark.read.parquet(f"{base}/mart/f_sales_v2").count() == n_v2


def test_save_as_table_round_trip(spark, tmp_path):
    """K4 catalog form: saveAsTable -> spark.table / spark.sql round-trip
    (the named-table analog of the reference's Postgres mart tables)."""
    from de_project_sprint_etl_spark.sources import writers

    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("bucket")
    )
    writers.save_as_table(df, "t_roundtrip", partition_by=["bucket"])
    try:
        back = spark.table("t_roundtrip")
        assert back.count() == 50
        assert set(back.columns) == {"k", "bucket"}
        assert spark.sql(
            "SELECT COUNT(*) AS n FROM t_roundtrip WHERE bucket = 3"
        ).collect()[0].n == 10
        # overwrite is idempotent (reference K2 drop+recreate semantics)
        writers.save_as_table(df, "t_roundtrip", partition_by=["bucket"])
        assert spark.table("t_roundtrip").count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS t_roundtrip")


def test_export_jsonl_shards(spark, tmp_path):
    """Training-data export: JSONL shards respect the per-file record
    cap, round-trip through spark.read.json with values intact, and
    every data file is valid newline-delimited JSON."""
    import glob
    import json as jsonlib

    from de_project_sprint_etl_spark.sources import writers

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .coalesce(2)
    )
    n = docs.count()
    out = str(tmp_path / "jsonl_export")
    writers.export_jsonl_shards(docs, out, max_records_per_file=100)

    back = spark.read.json(out)
    assert back.count() == n
    assert set(back.columns) == {"doc_id", "text"}
    # same content, not just same count
    assert (
        back.join(docs, ["doc_id", "text"], "inner").count() == n
    )

    files = glob.glob(f"{out}/part-*.json")
    assert len(files) >= n // 100, files
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines = [ln for ln in fh.read().splitlines() if ln]
        assert len(lines) <= 100
        for ln in lines[:3]:
            row = jsonlib.loads(ln)
            assert "doc_id" in row and "text" in row


def test_compact_small_files(spark, tmp_path):
    """Compaction: 64 tiny files rewritten as 4, identical content,
    versioned destination (old path untouched)."""
    import glob

    from de_project_sprint_etl_spark.sources import writers

    src = str(tmp_path / "frag" / "table")
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    df.repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64

    dst = writers.compact(spark, src, target_files=4, sort_within=["k"])
    assert dst != src
    assert len(glob.glob(f"{dst}/part-*.parquet")) == 4
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64  # source intact
    back = spark.read.parquet(dst)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]


def test_read_jsonl_permissive_quarantines_bad_records(spark, tmp_path):
    """PERMISSIVE NDJSON ingest: clean rows parse, malformed lines are
    captured verbatim in the corrupt column rather than killing the job
    or silently vanishing."""
    from de_project_sprint_etl_spark.sources import readers

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good row"}\n'
        '{"doc_id": "NOT_A_NUMBER", "text": "type mismatch"}\n'
        "this is not json at all\n"
        '{"doc_id": 3, "text": "another good row"}\n'
    )
    df = readers.read_jsonl_permissive(
        spark, str(p), "doc_id long, text string"
    ).cache()
    try:
        clean = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert sorted(r.doc_id for r in clean.collect()) == [1, 3]
        assert bad.count() == 2
        assert any(
            "not json at all" in r._corrupt_record for r in bad.collect()
        )
    finally:
        df.unpersist()


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC sink/source round-trip: values survive bit-exact and filters
    reach the ORC scan (PushedFilters), same contract as parquet."""
    from de_project_sprint_etl_spark.sources import writers

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = str(tmp_path / "orders_orc")
    writers.overwrite_fmt(src, path, fmt="orc")
    back = writers.read_fmt(spark, path, fmt="orc")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    plan = (
        back.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)" in plan, plan


def test_pipeline_bench_without_corpus_names_generator(tmp_path):
    """tools/pipeline_bench.py on a dir without orders.parquet exits
    non-zero before starting Spark, naming the corpus generator and the
    sf_dir argument."""
    import subprocess
    import sys

    tool = Path(__file__).resolve().parents[1] / "tools" / "pipeline_bench.py"
    done = subprocess.run(
        [sys.executable, str(tool), str(tmp_path), "--fixed-point"],
        capture_output=True, text=True, timeout=120,
    )
    assert done.returncode != 0
    assert "python tools/gen_sf1.py" in done.stderr, done.stderr
    assert "sf_dir" in done.stderr, done.stderr
    assert "Traceback" not in done.stderr, done.stderr
