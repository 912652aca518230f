"""Manifest-view protocol lifecycle bench at sf1 (round-11 second
wave).

Times every protocol operation ONCE each on a FRESH view over the
sf1 orders projection (~1.5M rows), in the order a production table
would live them: init (fingerprint walk) → MERGE upsert commit →
DELETE WHERE commit → schema-evolution commit → folded read →
time-travel read → change-feed read → compaction → post-compact read.
Driver-side wall seconds; the point is that every COMMIT is
restated-subset-sized (never base-sized) and every READ is one
multi-member scan plus broadcast anti-joins — numbers that should
hold their shape at 1000x because nothing here is proportional to the
base except the final fold scan.

Usage: python tools/view_bench.py [sf_dir]   → markdown table rows.
The bench root lives under .cache and is recreated per run.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = next(
    (a for a in sys.argv[1:] if not a.startswith("--")), "/root/repo/.cache/sf1"
)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, ".cache", "view-bench-root")


def main() -> None:
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.plans import artifacts, warehouse
    from de_project_sprint_etl_spark.session import get_spark
    from de_project_sprint_etl_spark.sources import incremental

    spark = get_spark()
    base = warehouse._orders_upsert_base(spark, SF_DIR)
    n_base = base.count()  # warm the scan before timing
    shutil.rmtree(ROOT, ignore_errors=True)
    base_path = str(
        artifacts.path(SF_DIR, "orders_upsert_base", warehouse.ORDERS)
    )
    key = F.col("o_orderkey")
    rows: list[tuple[str, float, str]] = []

    def timed(name: str, fn, note: str = "") -> None:
        t0 = time.monotonic()
        fn()
        rows.append((name, time.monotonic() - t0, note))

    timed(
        "init_view (fingerprint walk)",
        lambda: incremental.init_view(ROOT, [base_path]),
        "records base listing hash",
    )
    timed(
        "merge_upsert commit",
        lambda: incremental.merge_upsert(
            base.filter(key % 5 == 0).select(
                key.alias("o_orderkey"),
                "o_orderstatus",
                (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
            ),
            ROOT,
            ["o_orderkey"],
            tag="restate",
        ),
        f"~{n_base // 5} keys restated",
    )
    timed(
        "delete_where commit",
        lambda: incremental.delete_where(
            spark,
            ROOT,
            (F.col("o_orderstatus") == "F") & (key % 3 == 0),
            ["o_orderkey"],
            tag="purge",
        ),
        "predicate on post-restate view",
    )
    timed(
        "schema-evolution commit",
        lambda: incremental.merge_upsert(
            base.filter(key % 4 == 0).select(
                key.alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
                F.lit(5.0).alias("late_fee"),
            ),
            ROOT,
            ["o_orderkey"],
            tag="add-late-fee",
        ),
        "adds late_fee column",
    )

    def read_agg() -> int:
        return (
            incremental.read_view(
                spark, ROOT, columns=[*warehouse._UPSERT_COLS, "late_fee"]
            )
            .groupBy("o_orderstatus")
            .count()
            .count()
        )

    timed("read_view (fold + agg)", read_agg, "3 anti-joins live")
    timed(
        "time travel (as_of_gen=1)",
        lambda: incremental.read_view(spark, ROOT, as_of_gen=1)
        .groupBy("o_orderstatus")
        .count()
        .count(),
        "post-restate state",
    )
    timed(
        "read_changes (full range)",
        lambda: incremental.read_changes(
            spark, ROOT, 0, columns=warehouse._UPSERT_COLS
        )
        .groupBy("change_type", "commit_gen")
        .count()
        .count(),
        "preimages + postimages",
    )
    timed(
        "compact",
        lambda: incremental.compact(spark, ROOT),
        "resolve + gc",
    )
    timed("read_view post-compact", read_agg, "single-member scan")
    print(f"base rows: {n_base} ({SF_DIR})")
    print("| op | sec | note |")
    print("|---|---|---|")
    for name, sec, note in rows:
        print(f"| {name} | {sec:.2f} | {note} |")
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
