"""Seeded inputs for the benchmark.

Two input sets, both a pure function of ``(seed, size)``:

- ``corpus``: the TPC-H-shaped fixture tables the registered queries read
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the schemas and value families of the fixtures
  described in ``TESTDATA.md``: Poisson(4) lines per order, Exp(mean=50)
  event values, a 30-word document vocabulary with ~0.2% exact and ~1%
  near duplicates, 10-centroid unit-norm 64-d embeddings.
- ``etl_inputs``: the five reference-native CSVs that ``pipeline.run_all``
  loads, derived from a corpus with the same schemas and the same 90%
  snapshot/increment date cut as ``tools/pipeline_bench.generate``.

Files are cached under the benchmark's work directory, keyed by
``(seed, size)``; a directory is published only after every file in it is
written, so an interrupted generation is never reused.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["MEDIUM", "SMALL", "PROMO", "LARGE", "STANDARD", "ECONOMY"]
PNOUNS = ["ring", "bolt", "screw", "plate", "tube", "washer", "gear", "pin"]
PADJS = ["large", "hot", "blue", "red", "small", "dim", "cold", "pale"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "fr", "de", "es", "zh"]
DAY_US = 86_400_000_000
ETL_FILES = (
    "user_order_log.csv",
    "user_order_log_inc.csv",
    "user_activity_log.csv",
    "customer_research.csv",
    "price_log.csv",
)


def _days(date: str) -> int:
    return int((np.datetime64(date) - np.datetime64("1970-01-01")).astype(int))


def _ts_us(days) -> pa.Array:
    return pa.array(np.asarray(days, dtype=np.int64) * DAY_US, type=pa.timestamp("us"))


def _publish(tmp: str, out: str) -> str:
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _fresh(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)


def write_corpus(dst: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables for scale factor ``sf`` (sf0.01 =
    15k orders, 60k lineitems, 10k events) into ``dst``."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_orders = max(300, int(1_500_000 * sf))
    n_events = max(500, int(1_000_000 * sf))
    n_users = max(30, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    keys = np.arange(n_cust, dtype=np.int64)
    write("customer", {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    keys = np.arange(n_supp, dtype=np.int64)
    write("supplier", {
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
    })
    keys = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.choice(PADJS, n_part), rng.choice(PNOUNS, n_part)
    write("part", {
        "p_partkey": keys,
        "p_name": [f"{a} {n}" for a, n in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    order_days = rng.integers(_days("1995-01-01"), _days("2001-08-02"), n_orders)
    write("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts_us(order_days),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    n_lines = rng.poisson(4.0, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), n_lines)
    m = len(okeys)
    write("lineitem", {
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, m),
        "l_suppkey": rng.integers(0, n_supp, m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": rng.choice(["R", "N", "A"], m),
        "l_linestatus": rng.choice(["O", "F"], m),
        "l_shipdate": _ts_us(np.repeat(order_days, n_lines) + rng.integers(1, 96, m)),
    })
    start = _days("2024-01-01") * DAY_US
    write("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(start + rng.integers(0, 30 * DAY_US, n_events), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(["purchase", "signup", "click", "error", "view"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 4),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = [" ".join(rng.choice(VOCAB, n)) for n in rng.integers(10, 101, n_docs)]
    for i in rng.choice(n_docs, n_docs // 500, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    for i in rng.choice(n_docs, n_docs // 100, replace=False):
        words = texts[int(rng.integers(0, n_docs))].split()
        for j in rng.integers(0, len(words), 3):
            words[int(j)] = "dup"
        texts[i] = " ".join(words)
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    cents = rng.normal(size=(10, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = cents[labels] + 0.5 * rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def write_etl_inputs(corpus_dir: str, dst: str) -> None:
    """Derive the reference-native CSV layout from a corpus: the order
    log split at 90% of its date range into snapshot and increment
    (increment status ``refunded`` for id % 19 == 0, else ``shipped``),
    the activity log from ``events``, a per-day research aggregate and a
    headerless item price log."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("orders", "customer", "events"):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(corpus_dir, t + '.parquet')}')"
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
        cols = (
            "id, uniq_id, date_time, city_id, city_name, customer_id, first_name, "
            "last_name, item_id, item_name, quantity, payment_amount"
        )
        con.sql(
            f"COPY (SELECT {cols} FROM base WHERE od < DATE '{cutoff}' ORDER BY id) "
            f"TO '{dst}/user_order_log.csv' (HEADER)"
        )
        con.sql(
            f"COPY (SELECT {cols}, CASE WHEN id % 19 = 0 THEN 'refunded' "
            f"ELSE 'shipped' END AS status FROM base "
            f"WHERE od >= DATE '{cutoff}' ORDER BY id) "
            f"TO '{dst}/user_order_log_inc.csv' (HEADER)"
        )
        con.sql(f"""
COPY (SELECT ROW_NUMBER() OVER (ORDER BY event_id) AS id,
             'a' || CAST(event_id AS VARCHAR) AS uniq_id,
             ts AS date_time,
             CAST(hash(event_type) % 7 AS INT) AS action_id,
             user_id AS customer_id,
             CAST(1 AS BIGINT) AS quantity
      FROM events ORDER BY id)
TO '{dst}/user_activity_log.csv' (HEADER)
""")
        con.sql(f"""
COPY (SELECT ROW_NUMBER() OVER (ORDER BY od) AS id,
             CAST(od AS TIMESTAMP) AS date_id,
             CAST(1 AS INT) AS category_id,
             CAST(1 AS INT) AS geo_id,
             CAST(SUM(quantity) AS BIGINT) AS sales_qty,
             SUM(payment_amount) AS sales_amt
      FROM base GROUP BY od ORDER BY od)
TO '{dst}/customer_research.csv' (HEADER)
""")
        con.sql(f"""
COPY (SELECT DISTINCT item_name, CAST(item_id * 10 + 5 AS BIGINT) AS price
      FROM base ORDER BY item_name)
TO '{dst}/price_log.csv' (HEADER FALSE)
""")
    finally:
        con.close()


def corpus(root: str, seed: int, sf: float) -> str:
    """Cached corpus directory for ``(seed, sf)``."""
    out = os.path.join(root, f"corpus-s{seed}-sf{sf}")
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        tmp = out + ".tmp"
        _fresh(tmp)
        write_corpus(tmp, seed, sf)
        _publish(tmp, out)
    return out


def etl_inputs(root: str, seed: int, sf: float) -> str:
    """Cached reference-native CSV directory for ``(seed, sf)``."""
    out = os.path.join(root, f"etl-s{seed}-sf{sf}")
    if not all(os.path.exists(os.path.join(out, f)) for f in ETL_FILES):
        tmp = out + ".tmp"
        _fresh(tmp)
        write_etl_inputs(corpus(root, seed, sf), tmp)
        _publish(tmp, out)
    return out
