"""The benchmark's workloads and the closed loop that runs them.

Each workload is a list of operations run in passes by one client: the
next operation starts when the previous one finishes. An operation is a
registered query (built fresh from ``registry.RAW_QUERIES`` and written
to the ``noop`` sink) or a pipeline entry point. Every operation's output
is checked (see ``Tally``); a failed check is a failed operation, never
a timing.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from decimal import Decimal

# Registered queries at sf0.001: a TPC-H scan aggregation and a TPC-H
# join, the weekly cohort mart (backed by derived artifacts), the
# iterative dedup loop (connected components), a pandas UDF on the Python
# workers, a streaming drain into a memory sink, and a streaming ingest
# into a manifest-committed incremental view (its commits happen once per
# corpus, on the first pass). An odd number of queries puts the median
# latency inside one query's samples, not between two queries' samples.
QUERY_MIX = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "retention_compact",
    "dedup_groups",
    "pandas_trimmed_mean_price",
    "streaming_windowed_counts",
    "streaming_view_ingest",
]

# Marts written by each pipeline entry point; their (rows, hash) must be
# the same on every pass.
ETL_OUTPUTS = {
    "load_snapshot": [
        "staging/user_order_log", "staging/user_activity_log",
        "staging/customer_research", "staging/price_log",
    ],
    "load_increment": ["staging/user_order_log_inc"],
    "refresh_marts": [
        "mart/d_calendar", "mart/d_customer", "mart/d_item",
        "mart/f_sales", "mart/f_sales_v2",
    ],
    "build_retention_mart": [
        "mart/d_calendar_weeks", "mart/retention_compact",
        "mart/f_customer_retention",
    ],
}


# passes after the cold first pass that are checked but not measured
WARMUP_PASSES = 1
# fewest steady passes a run measures, whatever ``--seconds`` says
MIN_STEADY_PASSES = 4


@dataclass
class Workload:
    name: str
    kind: str  # "etl" or "mix"
    sf: float  # corpus scale factor the inputs are generated at
    queries: list[str] = field(default_factory=list)


WORKLOADS = {
    "etl_daily": Workload("etl_daily", "etl", 0.001),
    "query_mix": Workload("query_mix", "mix", 0.001, QUERY_MIX),
}


class Tally:
    """Outcome of every attempted operation. The first correct output of
    an operation is its reference; a later output that differs, an
    exception or a failed oracle comparison makes that attempt a failure
    and keeps its latency out of the samples."""

    def __init__(self) -> None:
        self.reference: dict[str, object] = {}
        self.attempted = 0
        self.failures: list[tuple[int, str, str]] = []
        self.latencies: list[tuple[int, str, float]] = []

    @property
    def failed(self) -> int:
        return len(self.failures)

    def record(self, pass_no: int, op: str, latency: float, value=None, error: str | None = None) -> bool:
        self.attempted += 1
        if error is None:
            ref = self.reference.setdefault(op, value)
            if value != ref:
                error = f"output {value!r} differs from first pass {ref!r}"
        if error is not None:
            self.failures.append((pass_no, op, error[:300]))
            return False
        self.latencies.append((pass_no, op, latency))
        return True


# -- oracle comparison ------------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        return str(int(v)) if v.is_integer() and abs(v) < 2**53 else repr(v)
    if isinstance(v, Decimal):
        return str(int(v)) if v == v.to_integral_value() else str(v.normalize())
    return str(v)


def canonical_rows(pdf) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form of a result: columns sorted by
    name, values rendered engine-independently, rows sorted."""
    cols = sorted(pdf.columns)
    return sorted(
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def oracle_mismatches(corpus: str, frames: dict) -> dict[str, str]:
    """Queries whose result differs from their DuckDB oracle (the
    canonicalized SQL of ``__spark_entry__.oracle_sql``). ``frames`` maps
    query names to the DataFrames the pass built; they are collected
    again here, outside the pass timer."""
    import duckdb

    import __spark_entry__ as entry
    from de_project_sprint_etl_spark.schemas import TESTDATA_TABLES

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    bad: dict[str, str] = {}
    try:
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')"
            )
        for name, df in frames.items():
            if name not in oracles:
                continue
            try:
                got = df.toPandas()
                want = con.execute(oracles[name]).df()
            except Exception as exc:  # noqa: BLE001 - reported as a failure
                bad[name] = f"oracle check error: {type(exc).__name__}: {exc}"
                continue
            if sorted(got.columns) != sorted(want.columns):
                bad[name] = f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
            elif canonical_rows(got) != canonical_rows(want):
                bad[name] = f"values differ from oracle ({len(got)} vs {len(want)} rows)"
    finally:
        con.close()
    return bad


def _table_print(path: str) -> tuple[int, int]:
    """(rows, order-insensitive hash) of one parquet table: the sum mod
    2**64 of a 64-bit hash of every row's values (columns by name)."""
    import hashlib

    import pyarrow.parquet as pq

    table = pq.read_table(path)
    table = table.select(sorted(table.column_names))
    h = 0
    for row in zip(*(c.to_pylist() for c in table.columns)):
        digest = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
        h = (h + int.from_bytes(digest, "little")) % 2**64
    return table.num_rows, h


def etl_fingerprints(base: str) -> dict[str, tuple]:
    """Fingerprints of every table each pipeline entry point writes,
    keyed by entry point. Read with pyarrow, outside the Spark session
    under measurement."""
    return {
        op: tuple((t, *_table_print(os.path.join(base, t))) for t in tables)
        for op, tables in ETL_OUTPUTS.items()
    }


# -- the loop ----------------------------------------------------------------


@dataclass
class PassRecord:
    index: int
    start: float
    wall: float
    cpu_jvm: float
    cpu_py: float
    traced: bool
    spans: tuple[int, int] = (0, 0)  # its spans are tracer.spans[lo:hi]
    jit_s: float = 0.0
    gc_s: float = 0.0
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)
    written: tuple[int, int, int] = (0, 0, 0)


def written_stats(paths: list[str]) -> tuple[int, int, int]:
    """(rows, bytes, files) of the parquet data files under ``paths``."""
    import pyarrow.parquet as pq

    rows = size = files = 0
    for path in paths:
        for dirpath, _, names in os.walk(path):
            for n in names:
                if n.startswith(("_", ".")):
                    continue
                f = os.path.join(dirpath, n)
                files += 1
                size += os.path.getsize(f)
                rows += pq.read_metadata(f).num_rows
    return rows, size, files


class Runner:
    """Runs one workload's passes against a live session. Every layer
    call goes through ``tracer``'s wrappers; ``counters`` (trace mode
    only) reads Spark's own counters."""

    def __init__(self, spark, wl: Workload, inputs: str, work: str, seed: int,
                 tracer, counters, cpu) -> None:
        self.spark = spark
        self.wl = wl
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self.counters = counters
        self.cpu = cpu
        self.tally = Tally()
        self.passes: list[PassRecord] = []
        self.smoke = False
        self.ops = list(wl.queries)
        random.Random(seed).shuffle(self.ops)
        self._frames: dict = {}  # first-pass results, for the oracle check
        self._writes: list[tuple[str, float]] = []  # (entry point, write latency)
        #: (pass, latency) of every query whose output checked correct: a
        #: mix query, or one table write of a pipeline entry point
        self.samples: list[tuple[int, float]] = []
        if counters is not None:
            # a written table's Catalyst time, and where it went
            tracer.inspect["sources.write"] = lambda df, path, *a, **k: {
                "catalyst_ms": counters.catalyst_ms(df), "path": path,
            }

    # one operation of a query mix
    def _query(self, name: str) -> tuple[float, int, object]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from de_project_sprint_etl_spark.plans import registry

        t0 = time.perf_counter()
        with self.tracer.span(f"plans.{name}", "plans"):
            df = registry.RAW_QUERIES[name](self.spark, self.inputs)
        obs = Observation(f"rows_{name}")
        attrs = {"catalyst_ms": self.counters.catalyst_ms(df)} if self.tracer.probing else None
        with self.tracer.span(f"engine.{name}", "engine", attrs):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
            rows = int(obs.get["n"])
        return time.perf_counter() - t0, rows, df

    def _mix_pass(self) -> list[tuple[str, float, object, str | None]]:
        out = []
        for name in self.ops:
            try:
                lat, rows, df = self._query(name)
                out.append((name, lat, rows, None))
                if not self.passes:
                    self._frames[name] = df
            except Exception as exc:  # noqa: BLE001 - a failed operation
                out.append((name, 0.0, None, f"{type(exc).__name__}: {exc}"))
            self.spark.catalog.clearCache()
        return out

    def _etl_pass(self) -> list[tuple[str, float, object, str | None]]:
        """One ``pipeline.run_all``. Each entry point's latency is its
        span's; each table it writes is one query, timed by its
        ``writers.overwrite`` span."""
        from de_project_sprint_etl_spark import pipeline

        base = os.path.join(self.work, "warehouse")
        shutil.rmtree(base, ignore_errors=True)
        first = len(self.tracer.spans)
        try:
            pipeline.run_all(self.spark, self.inputs, base)
            error = None
        except Exception as exc:  # noqa: BLE001 - a failed operation
            error = f"{type(exc).__name__}: {exc}"
        tr = self.tracer
        hi = len(tr.spans)
        ops = {i: s.name for i, s in enumerate(tr.spans[first:hi], first) if s.layer == "pipeline"}
        self._writes = []
        for s in tr.spans[first:hi]:
            if s.layer != "sources.write":
                continue
            p = s.parent
            while p is not None and p not in ops:
                p = tr.spans[p].parent
            if p is not None:
                self._writes.append((ops[p], s.end - s.start))
        lat = {s.name: s.end - s.start for s in tr.outermost("pipeline", first, hi)}
        return [(op, lat.get(f"pipeline.{op}", 0.0), None, error) for op in ETL_OUTPUTS]

    def run_pass(self, traced: bool) -> list:
        tr = self.tracer
        tr.probing = traced
        jit0 = gc0 = 0.0
        if traced:
            jit0, gc0 = self.counters.jit_gc_s()
        j0, py0 = self.cpu.snapshot()
        first = len(tr.spans)
        start = time.time()
        t0 = time.perf_counter()
        results = self._etl_pass() if self.wl.kind == "etl" else self._mix_pass()
        wall = time.perf_counter() - t0
        j1, py1 = self.cpu.snapshot()
        tr.probing = False
        rec = PassRecord(len(self.passes), start, wall, j1 - j0, py1 - py0, traced,
                         (first, len(tr.spans)))
        if traced:
            jit1, gc1 = self.counters.jit_gc_s()
            rec.jit_s, rec.gc_s = jit1 - jit0, gc1 - gc0
            jobs, stages = self.counters.jobs_and_stages()
            rec.jobs = {j: v for j, v in jobs.items() if start <= v["submissionTime"] / 1000.0 <= start + wall}
            rec.stages = {s: stages[s] for v in rec.jobs.values() for s in v["stageIds"] if s in stages}
            tr.attribute_jobs(rec.jobs, *rec.spans)
            rec.written = written_stats(
                [s.attrs["path"] for s in tr.spans[first:] if "path" in s.attrs]
            )
        self.passes.append(rec)
        return results

    def check(self, results: list, oracle: bool) -> None:
        """Record every operation of the pass that just ran, after its
        outputs are checked (outside the pass timer)."""
        p = len(self.passes) - 1
        if self.wl.kind == "etl":
            prints = {}
            if not any(err for *_, err in results):
                prints = etl_fingerprints(os.path.join(self.work, "warehouse"))
            for op, lat, _, err in results:
                if self.tally.record(p, op, lat, prints.get(op), err):
                    self.samples += [(p, t) for o, t in self._writes if o == f"pipeline.{op}"]
            return
        bad = oracle_mismatches(self.inputs, self._frames) if oracle else {}
        self._frames = {}
        for name, lat, rows, err in results:
            if self.tally.record(p, name, lat, rows, err or bad.get(name)):
                self.samples.append((p, lat))

    def run(self, seconds: float, smoke: bool, trace: bool, deadline: float) -> None:
        """A cold first pass, ``WARMUP_PASSES`` warm-up passes, then steady
        passes until they add up to ``seconds`` and at least
        ``MIN_STEADY_PASSES`` ran; ``smoke`` runs the first pass only.
        The warm-up passes absorb part of the JIT compilation the first
        pass leaves queued; they are checked but not measured.

        In trace mode the first pass is traced, the warm-up passes are
        not, and the steady passes are traced in the order traced,
        untraced, untraced, traced (repeated), with as many of each, so
        that neither kind always runs earlier while passes still get
        faster. No pass starts after ``deadline``; a run cut short of its
        steady passes counts the shortfall as a failed operation."""
        self.smoke = smoke
        steady_s = 0.0
        while True:
            n = len(self.passes)
            k = n - 1 - WARMUP_PASSES  # steady index of the next pass
            if smoke and n >= 1:
                break
            if not smoke and k >= MIN_STEADY_PASSES and steady_s >= seconds and not (trace and k % 2):
                break
            if n > 0 and time.time() > deadline:
                if not smoke and k < MIN_STEADY_PASSES:
                    self.tally.record(n, "steady passes", 0.0, error=(
                        f"deadline reached after {max(k, 0)} of {MIN_STEADY_PASSES} steady passes"
                    ))
                break
            results = self.run_pass(trace and (n == 0 or (k >= 0 and k % 4 in (0, 3))))
            if k >= 0:
                steady_s += self.passes[-1].wall
            self.check(results, oracle=(n == 0))

    def steady(self) -> list[PassRecord]:
        """The passes after the first and the warm-up passes; in a smoke
        run, which makes fewer, every pass."""
        return self.passes[1 + WARMUP_PASSES:] or (self.passes if self.smoke else [])
