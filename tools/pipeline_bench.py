"""Pipeline-lifecycle benchmark (VERDICT r8 #4): the reference's
operational unit is a DAG RUN — snapshot load → increment merge →
dims/facts → retention marts — with a 60-minute Airflow timeout
(reference ETL_logs_inc.py:290), not a single query. This tool times
that exact composition (``pipeline.run_all``) end-to-end at a chosen
corpus scale.

Inputs are derived ONCE (cached) from the TPC-H-shaped fixtures into
the reference's native CSV layout at the same scale:

- ``user_order_log.csv``     — orders x customer, order grain, dates
  before the increment cutoff (~90% of the date range)
- ``user_order_log_inc.csv`` — the remaining dates, with a status
  column (refunded for orderkey % 19 == 0, else shipped — the two
  statuses the retention mart classifies)
- ``user_activity_log.csv``  — the events table, activity grain
- ``customer_research.csv``  — per-day sales aggregate
- ``price_log.csv``          — headerless item,price pairs (S6)

Generation (DuckDB, deterministic ORDER BY) is excluded from the timed
section; the timed section is ONE ``run_all`` against a fresh
``base_dir`` — every staging/mart table is written to parquet exactly
as the production lifecycle would.

Usage: python tools/pipeline_bench.py [sf_dir] [--keep] [--fixed-point]
Prints one JSON line: {"metric": "pipeline_run_all", "value": <sec>, ...}

``--fixed-point`` re-runs the whole composition over the SAME base_dir
and asserts every mart's (row count, order-insensitive xxhash64 value
fingerprint) is unchanged — the reference's C5 idempotency invariant
(README.md:21-22 "processed correctly and not duplicated"), verified at
corpus scale rather than only on the unit-test fixtures.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

SF_DIR = next(
    (a for a in sys.argv[1:] if not a.startswith("--")),
    os.path.join(REPO, ".cache", "sf1"),
)


def _src_dir() -> str:
    st = os.stat(os.path.join(SF_DIR, "orders.parquet"))
    key = SF_DIR.strip("/").replace("/", "_")
    return os.path.join(
        REPO, ".cache", f"pipeline-src-{key}-{st.st_mtime_ns}-{st.st_size}"
    )


def generate(src: str) -> None:
    os.makedirs(src, exist_ok=True)
    con = duckdb.connect()
    for t in ("orders", "customer", "events"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(SF_DIR, t + '.parquet')}')"
        )
    con.sql("""
CREATE VIEW base AS
SELECT o.o_orderkey AS id,
       'u' || CAST(o.o_orderkey AS VARCHAR) AS uniq_id,
       CAST(o.o_orderdate AS TIMESTAMP)
         + (o.o_orderkey % 86400) * INTERVAL 1 SECOND AS date_time,
       CAST(o.o_custkey % 100 AS INT) AS city_id,
       'city_' || CAST(o.o_custkey % 100 AS VARCHAR) AS city_name,
       o.o_custkey AS customer_id,
       split_part(c.c_name, '#', 1) AS first_name,
       split_part(c.c_name, '#', 2) AS last_name,
       CAST(o.o_orderkey % 1000 AS INT) AS item_id,
       'item_' || CAST(o.o_orderkey % 1000 AS VARCHAR) AS item_name,
       CAST(o.o_orderkey % 5 + 1 AS BIGINT) AS quantity,
       o.o_totalprice AS payment_amount,
       CAST(o.o_orderdate AS DATE) AS od
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
""")
    cutoff = con.sql(
        "SELECT min(od) + CAST(FLOOR(0.9 * date_diff('day', min(od), max(od)))"
        " AS INT) FROM base"
    ).fetchone()[0]
    cols = """id, uniq_id, date_time, city_id, city_name, customer_id,
              first_name, last_name, item_id, item_name, quantity,
              payment_amount"""
    con.sql(
        f"COPY (SELECT {cols} FROM base WHERE od < DATE '{cutoff}' "
        f"ORDER BY id) TO '{src}/user_order_log.csv' (HEADER)"
    )
    con.sql(
        f"COPY (SELECT {cols}, CASE WHEN id % 19 = 0 THEN 'refunded' "
        f"ELSE 'shipped' END AS status FROM base "
        f"WHERE od >= DATE '{cutoff}' ORDER BY id) "
        f"TO '{src}/user_order_log_inc.csv' (HEADER)"
    )
    con.sql(f"""
COPY (SELECT ROW_NUMBER() OVER (ORDER BY event_id) AS id,
             'a' || CAST(event_id AS VARCHAR) AS uniq_id,
             ts AS date_time,
             CAST(hash(event_type) % 7 AS INT) AS action_id,
             user_id AS customer_id,
             CAST(1 AS BIGINT) AS quantity
      FROM events ORDER BY id)
TO '{src}/user_activity_log.csv' (HEADER)
""")
    con.sql(f"""
COPY (SELECT ROW_NUMBER() OVER (ORDER BY od) AS id,
             CAST(od AS TIMESTAMP) AS date_id,
             CAST(1 AS INT) AS category_id,
             CAST(1 AS INT) AS geo_id,
             CAST(SUM(quantity) AS BIGINT) AS sales_qty,
             SUM(payment_amount) AS sales_amt
      FROM base GROUP BY od ORDER BY od)
TO '{src}/customer_research.csv' (HEADER)
""")
    con.sql(f"""
COPY (SELECT DISTINCT item_name,
             CAST(item_id * 10 + 5 AS BIGINT) AS price
      FROM base ORDER BY item_name)
TO '{src}/price_log.csv' (HEADER FALSE)
""")


def main() -> None:
    if not os.path.exists(os.path.join(SF_DIR, "orders.parquet")):
        raise SystemExit(
            f"pipeline_bench: no orders.parquet in {SF_DIR}; build the sf1 "
            "corpus with `python tools/gen_sf1.py`, or pass a corpus dir "
            "as the sf_dir argument"
        )
    src = _src_dir()
    if not os.path.exists(os.path.join(src, "user_order_log.csv")):
        t0 = time.time()
        generate(src)
        print(f"# generated {src} in {time.time() - t0:.1f}s", file=sys.stderr)

    from de_project_sprint_etl_spark import pipeline
    from de_project_sprint_etl_spark.session import get_spark

    spark = get_spark()
    base = os.path.join(REPO, ".cache", "pipeline-bench-warehouse")
    shutil.rmtree(base, ignore_errors=True)

    t0 = time.time()
    pipeline.run_all(spark, src, base)
    wall = time.time() - t0

    counts = {
        name: spark.read.parquet(os.path.join(base, layer, name)).count()
        for layer, name in (
            ("staging", "user_order_log"),
            ("staging", "user_order_log_inc"),
            ("mart", "f_sales"),
            ("mart", "f_sales_v2"),
            ("mart", "retention_compact"),
            ("mart", "f_customer_retention"),
        )
    }
    out = {
        "metric": "pipeline_run_all",
        "value": round(wall, 2),
        "unit": "sec",
        "sf_dir": SF_DIR,
        "rows": counts,
    }
    if "--fixed-point" in sys.argv:
        from pyspark.sql import functions as F

        def fingerprint(layer: str, name: str) -> tuple[int, int]:
            df = spark.read.parquet(os.path.join(base, layer, name))
            row = df.select(
                F.xxhash64(
                    *[F.col(c).cast("string") for c in sorted(df.columns)]
                ).alias("h")
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"),
            ).collect()[0]
            return int(row["n"]), int(row["x"])

        marts = [
            ("mart", m)
            for m in (
                "d_calendar",
                "d_customer",
                "d_item",
                "f_sales",
                "f_sales_v2",
                "d_calendar_weeks",
                "retention_compact",
                "f_customer_retention",
            )
        ]
        before = {m[1]: fingerprint(*m) for m in marts}
        t0 = time.time()
        pipeline.run_all(spark, src, base)
        rerun_wall = time.time() - t0
        after = {m[1]: fingerprint(*m) for m in marts}
        diverged = sorted(k for k in before if before[k] != after[k])
        if diverged:
            raise SystemExit(f"fixed-point VIOLATED for marts: {diverged}")
        out["fixed_point"] = "ok"
        out["rerun_sec"] = round(rerun_wall, 2)
    print(json.dumps(out))
    if "--keep" not in sys.argv:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
