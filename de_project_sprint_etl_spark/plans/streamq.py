"""Structured-Streaming-executed registry queries.

The other streaming jobs are verified against their batch twins in
pytest (a stream can't be replayed inside the DuckDB harness) — but a
*bounded* stream can: with a single-file source and
``Trigger.AvailableNow`` the whole fixture arrives in ONE micro-batch,
the watermark never advances past data already aggregated, and the
final state of the windowed aggregation equals the batch plan exactly.
That makes the full streaming execution path (FileStreamSource →
watermark → stateful window agg → memory sink) hash-checkable against
a plain SQL oracle, not just rows-only.

The events source is materialized once per corpus as one parquet file
(decoded ``ts``, see plans/testdata.events_df) — single file ⇒ single
micro-batch ⇒ deterministic result. At production scale the same job
runs unbounded with the watermark bounding state; the harness-local
single-batch contract is only what makes it oracle-comparable.
"""

from __future__ import annotations

import atexit
import itertools
import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_project_sprint_etl_spark.plans import artifacts
from de_project_sprint_etl_spark.plans.llm import SESSION_GAP_US
from de_project_sprint_etl_spark.plans.registry import register
from de_project_sprint_etl_spark.plans.testdata import events_df
from de_project_sprint_etl_spark.streaming import jobs

#: the fixture table every stream source below is derived from
EVENTS = ("events",)

_SINK_SEQ = itertools.count()
#: last (memory-sink table, checkpoint dir) per (session, query tag) —
#: both cleaned up on the NEXT invocation (the caller still holds a plan
#: over the current sink), so a long-lived session re-running the
#: streaming queries accumulates neither sinks nor /tmp checkpoints.
#: A FRESH checkpoint per run is load-bearing: reusing one would resume
#: from committed offsets and the re-run would see no data.
_LAST_SINK: dict[tuple[int, str], tuple[str, str]] = {}


def _run_to_sink(spark: SparkSession, tag: str, stream: DataFrame,
                 mode: str) -> DataFrame:
    """Drain ``stream`` into a fresh memory sink with AvailableNow and
    return the sink table; drop the previous invocation's sink and
    checkpoint for this (session, tag) first."""
    import shutil

    prev = _LAST_SINK.pop((id(spark), tag), None)
    if prev is not None:
        spark.catalog.dropTempView(prev[0])
        shutil.rmtree(prev[1], ignore_errors=True)
    name = f"stream_{tag}_sink_{next(_SINK_SEQ)}"
    ckpt = tempfile.mkdtemp(prefix="strq_ckpt_")
    _LAST_SINK[(id(spark), tag)] = (name, ckpt)
    # A streaming query locks its state-partition count to
    # spark.sql.shuffle.partitions at first start of the checkpoint.
    # These gate queries drain ONE micro-batch of fixture-sized state,
    # where per-partition state-store open/commit is the dominant cost —
    # 32 partitions is pure fixed overhead here (measured ~2x on the
    # stream-stream join). 8 keeps the run parallel but cheap; a real
    # deployment sizes this to cluster width instead, which is why it is
    # scoped to the drain and restored after, never set session-wide.
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    return spark.table(name)


def _events_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """One-file parquet copy of the decoded events table (a
    plans/artifacts directory over ``events``)."""
    path = artifacts.path(sf_dir, "events_stream_src", EVENTS)
    if not (path / "_SUCCESS").exists():
        events_df(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(
            str(path)
        )
    return str(path)


@register(
    "streaming_windowed_counts",
    """
SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event counts executed BY THE STREAMING ENGINE:
    readStream over the materialized single-file events copy,
    watermarked stateful window aggregation, AvailableNow trigger into
    a memory sink, then the sink's table is returned for the hash
    check. Exercises the real streaming path end-to-end (source →
    state store → sink) with a batch-equal answer (see module
    docstring for why single-batch makes that exact)."""
    src = _events_stream_src(spark, sf_dir)
    stream = jobs.windowed_event_counts(
        jobs.read_event_stream(spark, src), window="1 hour", watermark="2 hours"
    )
    return _run_to_sink(spark, "win", stream, "complete").select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )



@register(
    "streaming_sessionize",
    f"""
WITH lagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events),
marked AS (
  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > {SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS new_sess
  FROM lagged),
sessions AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_id
""",
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization executed BY THE STREAMING ENGINE via the built-in
    ``session_window`` (30-min gap), AvailableNow into a memory sink —
    hash-checked against the lag+running-sum SQL formulation, proving
    the two sessionization formulations AND the batch/stream engines
    agree on every session boundary. Single-batch contract as in
    streaming_windowed_counts."""
    src = _events_stream_src(spark, sf_dir)
    stream = jobs.sessionize_stream(
        jobs.read_event_stream(spark, src), gap="30 minutes", watermark="2 hours"
    )
    return _run_to_sink(spark, "sess", stream, "complete").select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
    )


@register(
    "streaming_click_attribution",
    """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
       p.value AS purchase_value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
)
def q_streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join executed by the streaming engine:
    purchases attributed to same-user clicks in the preceding hour
    (jobs.attributed_purchases — watermarks on both sides + the time
    bound make the state evictable). Inner stream-stream joins emit on
    match, so the AvailableNow single-batch run emits exactly the batch
    join's rows — hash-checked against a plain equi+range SQL join (the
    oracle keeps the user_id equi key so DuckDB plans a hash join, not
    its parallel IEJoin). The most stateful streaming operator in the
    engine, inside the correctness gate."""
    src = _events_stream_src(spark, sf_dir)
    stream = jobs.attributed_purchases(
        jobs.read_event_stream(spark, src), within="1 hour", watermark="2 hours"
    )
    return _run_to_sink(spark, "attr", stream, "append").select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        "purchase_value",
    )


@register(
    "streaming_running_totals",
    """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events GROUP BY user_id
""",
)
def q_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM Python stateful operator (``applyInPandasWithState``)
    inside the correctness gate: per-user running (count, cents-sum)
    state updated per micro-batch, integer-cent arithmetic so the final
    state after the AvailableNow run is bit-identical to the batch
    GROUP BY on any engine. Covers the escape-hatch tier the built-in
    aggregations can't express — Arrow-batched, one state row per
    user."""
    src = _events_stream_src(spark, sf_dir)
    stream = jobs.running_user_totals_cents(jobs.read_event_stream(spark, src))
    # update-mode sink may hold one row per (user, batch); the LAST
    # update per user is the final state — single-batch here, but keep
    # the reduction general
    from pyspark.sql import Window as W

    sink = _run_to_sink(spark, "tot", stream, "update")
    return (
        sink.withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "sum_cents")
    )


@register(
    "streaming_user_ema",
    """
WITH RECURSIVE seq AS (
  SELECT user_id, COALESCE(value, 0.0) AS v,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events),
rec(user_id, rn, ema, n) AS (
  SELECT user_id, rn, v, n FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, 0.3 * s.v + 0.7 * r.ema, s.n
  FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, n AS n_events,
       CAST(FLOOR(ema * 1e6 + 0.5) AS BIGINT) AS ema_micros
FROM rec WHERE rn = n
""",
)
def q_streaming_user_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE custom stateful operator in the gate: per-user
    exponential moving average folded in (ts, event_id) order by
    ``applyInPandasWithState`` (streaming/jobs.user_value_ema_aiws) —
    a non-commutative recurrence no built-in streaming agg expresses.
    The single-file source drains in one micro-batch, so the fold order
    is total and the final state hash-matches the oracle's recursive
    CTE replaying the identical recurrence; the double arithmetic is
    IEEE-identical and the micro-unit projection removes rounding-rule
    divergence. At scale the same job runs unbounded, state one (n,
    ema) cell per user. The ``transformWithState`` twin
    (jobs.user_value_ema) is the Spark-4 typed-state form; it needs the
    protobuf state channel absent in this sandbox, so THIS entry is
    what keeps the operator executable and externally hash-checked."""
    src = _events_stream_src(spark, sf_dir)
    stream = jobs.user_value_ema_aiws(jobs.read_event_stream(spark, src))
    from pyspark.sql import Window as W

    sink = _run_to_sink(spark, "ema", stream, "update")
    return (
        sink.withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "ema_micros")
    )


@register(
    "streaming_match_recognize",
    """
WITH seq AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events),
isl AS (
  SELECT user_id, event_type, pos,
         COALESCE(SUM(CASE WHEN event_type IN ('purchase', 'error')
                           THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS island
  FROM seq),
per_island AS (
  SELECT user_id, island,
         MIN(CASE WHEN event_type = 'signup' THEN pos END) AS s_min,
         MAX(CASE WHEN event_type = 'click' THEN pos END) AS c_max,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p,
         COUNT(*) AS n_rows
  FROM isl GROUP BY user_id, island)
SELECT user_id,
       CAST(SUM(n_rows) AS BIGINT) AS n_events,
       CAST(SUM(has_p) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN has_p = 1 AND s_min IS NOT NULL
                     AND c_max > s_min THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matches
FROM per_island
GROUP BY user_id
""",
)
def q_streaming_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern matching executed BY THE STREAMING ENGINE: the
    MATCH_RECOGNIZE state machine (streaming/jobs.user_pattern_match_stream)
    drains the single-file events source and its final per-user state
    hash-matches the batch-relational island formulation — two utterly
    different computations (per-row state fold vs window/groupBy
    algebra) on two engines agreeing on every count is the strongest
    parity check in the streaming tier. 7th streaming-executed gate
    query; state is 4 small values per user, watermark-free because the
    pattern never expires (a production deployment adds timers for
    TTL)."""
    src = _events_stream_src(spark, sf_dir)
    stream = jobs.user_pattern_match_stream(jobs.read_event_stream(spark, src))
    from pyspark.sql import Window as W

    sink = _run_to_sink(spark, "cep", stream, "update")
    return (
        sink.withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "n_purchases", "n_matches")
    )


# --- custom Python DataSource (Spark 4 extension point) ---------------------

_GEN_SHARDS, _GEN_ROWS, _GEN_USERS = 8, 12_500, 1_000
_GEN_N = _GEN_SHARDS * _GEN_ROWS


def _events_dup_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """At-least-once events feed: the decoded events table UNION an
    identical replay of every 7th event (by id) — the deterministic
    stand-in for a source that re-delivers on retry. One file, a
    plans/artifacts directory over ``events``."""
    path = artifacts.path(sf_dir, "events_dup_stream_src", EVENTS)
    if not (path / "_SUCCESS").exists():
        ev = events_df(spark, sf_dir)
        ev.unionByName(ev.filter(F.col("event_id") % 7 == 0)).coalesce(
            1
        ).write.mode("overwrite").parquet(str(path))
    return str(path)


@register(
    "streaming_exact_dedup",
    """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
FROM events
""",
)
def q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once repair of an at-least-once feed executed BY THE
    STREAMING ENGINE: the source re-delivers every 7th event verbatim,
    ``dropDuplicatesWithinWatermark`` keeps one row per event_id with
    per-key state evicted at the watermark horizon (bounded state — a
    plain dropDuplicates would hold every key forever), and the sink
    must hash-equal the unique events table. Re-delivered rows are
    bit-identical, so which arrival wins is immaterial and the result
    is deterministic under parallel reads. Single-batch drain contract
    as in streaming_windowed_counts."""
    src = _events_dup_stream_src(spark, sf_dir)
    stream = jobs.dedup_stream(
        jobs.read_event_stream(spark, src), keys=["event_id"], watermark="2 hours"
    )
    return _run_to_sink(spark, "dedup", stream, "append").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _graftgen(spark: SparkSession) -> DataFrame:
    from de_project_sprint_etl_spark.sources import pysource

    pysource.register(spark)
    return (
        spark.read.format("graftgen")
        .option("shards", str(_GEN_SHARDS))
        .option("rowspershard", str(_GEN_ROWS))
        .option("users", str(_GEN_USERS))
        .load()
    )


@register(
    "pysource_user_totals",
    f"""
SELECT (g.k * 2654435761) % {_GEN_USERS} AS user_id,
       COUNT(*) AS n_events,
       CAST(SUM((g.k * 1315423911) % 100000) AS BIGINT) AS sum_cents
FROM generate_series(0, {_GEN_N - 1}) AS g(k)
GROUP BY 1
""",
)
def q_pysource_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals read through the CUSTOM Python DataSource
    (sources/pysource.py, Spark 4 `pyspark.sql.datasource` API): 100 k
    rows generated shard-parallel on executors, aggregated with one
    partial-combined shuffle. The generator is pure integer arithmetic
    on the global row index, so the DuckDB oracle reproduces the whole
    source from `generate_series` — a from-scratch connector inside
    the correctness gate. (`sf_dir` unused: the source IS the data.)"""
    df = _graftgen(spark)
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


_PRUNE_SHARD = 3


@register(
    "pysource_shard_pruned",
    f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM((g.k * 1315423911) % 100000) AS BIGINT) AS sum_cents
FROM generate_series({_PRUNE_SHARD * _GEN_ROWS},
                     {(_PRUNE_SHARD + 1) * _GEN_ROWS - 1}) AS g(k)
""",
)
def q_pysource_shard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`shard = 3` against the Python source: `pushFilters` consumes the
    equality filter and `partitions()` emits ONE shard — the other 7 are
    never generated (Python-source partition pruning, pinned by
    `tests/test_curation.py::test_pysource_pushdown_prunes_partitions`).
    The oracle integrates only that shard's index range."""
    df = _graftgen(spark)
    return df.filter(F.col("shard") == _PRUNE_SHARD).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


@register(
    "streaming_hourly_ohlc",
    """
SELECT event_type,
       CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS bar_hour,
       (MIN(struct_pack(ts := ts, event_id := event_id, value := value))).value
         AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       (MAX(struct_pack(ts := ts, event_id := event_id, value := value))).value
         AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type, bar_hour
""",
)
def q_streaming_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars executed BY THE STREAMING ENGINE: struct-min/max
    open/close inside the stateful window aggregation (state = one
    struct pair + extremes + count per bar), AvailableNow into a memory
    sink, hash-checked against the plain batch SQL — the fifth
    streaming-executed gate query, proving struct-typed aggregation
    state survives the state-store round trip bit-exactly."""
    src = _events_stream_src(spark, sf_dir)
    stream = jobs.windowed_ohlc(
        jobs.read_event_stream(spark, src), window="1 hour", watermark="2 hours"
    )
    return _run_to_sink(spark, "ohlc", stream, "complete").select(
        "event_type",
        F.col("bar_hour").cast("string").alias("bar_hour"),
        "open",
        "high",
        "low",
        "close",
        "n_events",
    )


_LAST_FEB: dict[tuple[int, str], tuple[str, str]] = {}


@atexit.register
def _cleanup_stream_tmpdirs() -> None:
    """The per-invocation lifecycle only removes the PREVIOUS run's
    checkpoint/drain dirs (the caller still holds a plan over the
    current ones) — so the FINAL generation under /tmp is cleaned here
    at interpreter exit instead of leaking one pair per session per
    process lifetime (ADVICE r5)."""
    import shutil

    for ckpt, out in _LAST_FEB.values():
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
    for _name, ckpt in _LAST_SINK.values():
        shutil.rmtree(ckpt, ignore_errors=True)


def _retention_stream_src(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Snapshot + increment order logs materialized once per corpus
    generation: the snapshot as one static parquet dir, the increment
    as SIX range-partitioned-by-date files — the reference's daily
    increment drops (ETL_logs_inc.py's per-execution-date fetch) so
    ``maxFilesPerTrigger`` turns them into genuinely separate arrivals."""
    from de_project_sprint_etl_spark.plans.testdata import (
        order_log_snapshot_increment,
    )

    # staged over BOTH tables the order log joins: regenerating
    # lineitem.parquet alone must rebuild it too (a stale stream source
    # would silently diverge from the batch oracle)
    root = artifacts.path(sf_dir, "retention_stream_src", ("orders", "lineitem"))
    snap_dir, inc_dir = str(root / "snapshot"), str(root / "increment")
    if not (Path(inc_dir) / "_SUCCESS").exists():
        snapshot, increment = order_log_snapshot_increment(spark, sf_dir)
        snapshot.write.mode("overwrite").parquet(snap_dir)
        increment.repartitionByRange(6, "date_time").write.mode(
            "overwrite"
        ).parquet(inc_dir)
    return snap_dir, inc_dir


from de_project_sprint_etl_spark.plans.testdata import (  # noqa: E402
    SQL_RETENTION_COMPACT,
)


@register("streaming_retention_compact", SQL_RETENTION_COMPACT)
def q_streaming_retention_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP executed incrementally BY THE STREAMING ENGINE: the
    reference's daily-increment flow (ETL_logs_inc.py: fetch increment,
    merge into the accumulated log, rebuild the mart) as readStream over
    the increment files (``maxFilesPerTrigger=2`` ⇒ a real multi-batch
    drain, not one big gulp) + ``foreachBatch`` appending each
    micro-batch EXACTLY-ONCE (batchId-keyed subdir + overwrite — a
    retried batch rewrites, never duplicates), then the batch query's
    operators (``retention.cohort_base`` into
    ``retention.retention_compact``) over snapshot ∪ drained increments.
    Hash-equal to the batch oracle because the C5 merge is a union
    (arrival-order-independent) and the mart is computed after the
    drain — the idempotent-merge fixed point the reference's README
    promises, proven on the streaming path."""
    import shutil

    from de_project_sprint_etl_spark.operators import facts, retention
    from de_project_sprint_etl_spark.plans.testdata import (
        double_revenues,
        weeks_dim_cached,
    )

    snap_dir, inc_dir = _retention_stream_src(spark, sf_dir)

    prev = _LAST_FEB.pop((id(spark), "retention"), None)
    if prev is not None:
        shutil.rmtree(prev[0], ignore_errors=True)
        shutil.rmtree(prev[1], ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix="strq_ret_ckpt_")
    out = tempfile.mkdtemp(prefix="strq_ret_out_")
    _LAST_FEB[(id(spark), "retention")] = (ckpt, out)

    schema = spark.read.parquet(inc_dir).schema

    def merge_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(os.path.join(out, f"b{batch_id}"))

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(inc_dir)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    snapshot = spark.read.parquet(snap_dir)
    increments = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(schema)
        .parquet(out)
    )
    v2 = facts.merge_snapshot_increment(snapshot, increments).withColumn(
        "payment_amount", F.col("payment_amount").cast("decimal(18,2)")
    )
    base = retention.cohort_base(
        v2, weeks_dim_cached(spark, sf_dir), retention.STATUSES, item=False
    )
    return double_revenues(retention.retention_compact(base))


# --- exactly-once streaming ingestion into a manifest view (round 11) -------
#
# streaming_retention_compact above proves the foreachBatch C5 merge
# with batchId-keyed overwrite dirs; this query proves the STRONGER
# production contract: each micro-batch lands as one atomic manifest
# commit in a sources/incremental.py view, a STABLE checkpoint pins the
# file→batch assignment, and the batch tag makes any replay a no-op —
# exactly-once end to end (jobs.ingest_stream_into_view documents the
# crash matrix). The oracle aggregates raw `events`, so hash equality
# proves the drained view holds every event exactly once regardless of
# how the files split into batches.


def _events_ingest_root(spark: SparkSession, sf_dir: str):
    """Build (once per corpus) the streaming-ingested events view:
    an empty schema-bearing base, a 6-file source copy drained at 2
    files per micro-batch (a genuine 3-commit chain), checkpoint kept
    UNDER the view root so restarts resume offsets instead of
    re-listing."""
    from de_project_sprint_etl_spark.sources import incremental

    artifacts.stage(
        spark,
        sf_dir,
        "events_ingest_base",
        EVENTS,
        lambda: events_df(spark, sf_dir).limit(0),
    )
    src_path = artifacts.path(sf_dir, "events_stream_src_multi", EVENTS)
    if not (src_path / "_SUCCESS").exists():
        events_df(spark, sf_dir).repartition(6).write.mode(
            "overwrite"
        ).parquet(str(src_path))
    root = artifacts.path(sf_dir, "events_ingest_view", EVENTS)
    incremental.init_view(
        root, [str(artifacts.path(sf_dir, "events_ingest_base", EVENTS))]
    )
    jobs.ingest_stream_into_view(
        jobs.read_event_stream(spark, str(src_path), max_files=2),
        root,
        root / "_checkpoint",
    )
    return root


@register(
    "streaming_view_ingest",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
)
def q_streaming_view_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-executed exactly-once ingestion: the events corpus is
    drained file-stream → foreachBatch → manifest-view commits (one
    atomic commit per micro-batch, tag-deduplicated replays), then the
    VIEW — not the sink — is aggregated per event type. Hash equality
    against the batch oracle proves no batch was lost or doubled.
    Scale shape: commits are batch-sized parquet appends with no
    shuffle; the view read is a pruned multi-member scan; re-running
    resumes the checkpoint and commits nothing."""
    from de_project_sprint_etl_spark.sources import incremental

    root = _events_ingest_root(spark, sf_dir)
    v = incremental.read_view(spark, root, columns=["event_type", "value"])
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )
