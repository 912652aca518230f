"""Scaling-evidence sweep: time selected queries at sf0.1 and at a
derived 8x-replica corpus (documents + embeddings replicated with id
offsets, everything else untouched), steady-state (one warm pass then
one timed pass), fresh session.

The 8x corpus keeps the duplication *structure* of the original (each
replica is exact, so dedup-family outputs scale with the corpus), which
is the honest way to test "does the plan shape survive more data" —
the knobs (k, buckets, bands) are intentionally NOT retuned.

Usage: python tools/scale_sweep.py [--graph] [query ...]

``--graph`` builds the NODE-scaling corpus instead: lineitem replicated
with BOTH l_orderkey and l_partkey offsets, so each replica is a
disjoint isomorphic copy of the co-purchase graph — 8x nodes AND 8x
edges. The default corpus shares part keys across replicas (right for
item-grain distribution queries), which only densifies edges among the
same nodes; VERDICT r4 asked for the node-scaling variant to price the
graph tier honestly.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__  # noqa: E402,F401 — registers all queries
from de_project_sprint_etl_spark.plans import registry  # noqa: E402
from de_project_sprint_etl_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = 8
GRAPH_MODE = "--graph" in sys.argv
if GRAPH_MODE:
    sys.argv.remove("--graph")


#: every base table the replica dir is built from (replicated or copied)
SOURCE_TABLES = (
    "documents", "embeddings", "events", "orders", "lineitem",
    "region", "nation", "customer", "supplier", "part",
)


def _scale_dir() -> str:
    """Replica dir as a plans/artifacts directory over every base table
    it is built from, so a regenerated or re-pointed base corpus never
    reuses stale replicas."""
    from de_project_sprint_etl_spark.plans import artifacts

    tag = "-graph" if GRAPH_MODE else ""
    return str(artifacts.path(BASE, f"scale{REPLICAS}x{tag}", SOURCE_TABLES))


SCALE_DIR = _scale_dir()
GRAPH_QUERIES = [
    "triangle_count_copurchase",
    "pagerank_copurchase",
    "bfs_copurchase_distances",
    "label_propagation_communities",
]
DEFAULT_QUERIES = [
    "semdedup_embeddings",
    "semdedup_embeddings_adaptive",
    "match_recognize_funnel",
    "zorder_skipping_index",
    "zorder_skipping_effectiveness",
    "distribution_match_sample",
    "pandas_trimmed_mean_price",
    "bfs_copurchase_distances",
    "scd2_weeks_overlap",
    "pq_encode_embeddings",
    "pq_adc_topk",
    "dsir_importance_weights",
    "linreg_quality_train",
]


def build_scale_corpus() -> str:
    os.makedirs(SCALE_DIR, exist_ok=True)
    con = duckdb.connect()
    replaces = {
        "documents": ("doc_id + {o} AS doc_id",),
        "embeddings": ("vec_id + {o} AS vec_id",),
        # replica users are distinct people, so per-user state scales
        # with the corpus instead of deepening
        "events": ("event_id + {o} AS event_id", "user_id + {o} AS user_id"),
        # replica customers/orders are distinct; part/supplier keys stay
        # shared so item-grain distributions (skew heads, encodings)
        # deepen realistically instead of flattening
        "orders": ("o_orderkey + {o} AS o_orderkey", "o_custkey + {o} AS o_custkey"),
        "lineitem": ("l_orderkey + {o} AS l_orderkey",),
    }
    if GRAPH_MODE:
        # node-scaling: each replica's lineitem references ITS OWN part
        # ids, so the co-purchase graph becomes 8 disjoint isomorphic
        # components — 8x nodes and 8x edges (only lineitem matters to
        # the graph tier; the rest ride along unreplicated)
        replaces = {
            "lineitem": (
                "l_orderkey + {o} AS l_orderkey",
                "l_partkey + {o} AS l_partkey",
            ),
        }
    for tbl, exprs in replaces.items():
        dst = os.path.join(SCALE_DIR, f"{tbl}.parquet")
        if os.path.exists(dst):
            continue
        branches = " UNION ALL ".join(
            "SELECT * REPLACE ("
            + ", ".join(e.format(o=r * 10_000_000) for e in exprs)
            + f") FROM read_parquet('{BASE}/{tbl}.parquet')"
            for r in range(REPLICAS)
        )
        con.execute(f"COPY ({branches}) TO '{dst}' (FORMAT PARQUET)")
    # shared dimensions ride along un-replicated (they are the small
    # broadcast side everywhere), so every registered query can run
    # against the scale dir
    import shutil

    shared = ("region", "nation", "customer", "supplier", "part")
    if GRAPH_MODE:
        shared += ("documents", "embeddings", "events", "orders")
    for tbl in shared:
        dst = os.path.join(SCALE_DIR, f"{tbl}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(os.path.join(BASE, f"{tbl}.parquet"), dst)
    return SCALE_DIR


def timed(spark, name: str, sf_dir: str) -> float:
    fn = registry.RAW_QUERIES[name]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    spark.catalog.clearCache()
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    names = sys.argv[1:] or (GRAPH_QUERIES if GRAPH_MODE else DEFAULT_QUERIES)
    scale_dir = build_scale_corpus()
    spark = get_spark(app_name="scale_sweep")
    print(f"| op | 1x ({BASE}) | {REPLICAS}x | ratio |")
    print("|---|---|---|---|")
    for n in names:
        t1 = timed(spark, n, BASE)
        t8 = timed(spark, n, scale_dir)
        print(f"| {n} | {t1:.2f} s | {t8:.2f} s | {t8 / t1:.1f}x |")


if __name__ == "__main__":
    main()
