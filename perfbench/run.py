"""Benchmark command for the engine, sized to the host it runs on.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload NAME --smoke

Runs one workload (see ``workloads.py`` and ``README.md``) on
``local[<cores>]`` in a closed loop with one client, checks every output
and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, taken from a separate traced run.

Inputs are generated from ``--seed`` and cached in ``.perfbench_work/``
at the root of the checkout; generation is outside every metric. Every
run starts from an empty derived-artifact cache for its inputs (cold),
so artifact builds show in ``first_pass_s``. ``--smoke`` runs one pass.
"""

from __future__ import annotations

import argparse
import compileall
import glob
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_LIMIT_S = 150.0

sys.path.insert(0, HERE)

import datagen  # noqa: E402
from tracing import ProcCpu, SparkCounters, Tracer, union_s  # noqa: E402
from workloads import ETL_OUTPUTS, WORKLOADS, Runner  # noqa: E402

E2E_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "cpu_s": "s",
    "query_p50_s": "s", "query_p90_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    **{f"pipeline.{op}_s": "s" for op in ETL_OUTPUTS},
    "sources.write_s": "s", "sources.rows_written": "count",
    "sources.bytes_written": "bytes", "sources.files_written": "count",
    "sources.commit_s": "s", "sources.commits": "count",
    "operators.build_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.first_build_s": "s", "plans.artifact_bytes": "bytes",
    "functions.iterative_s": "s", "functions.iterative_jobs": "count",
    "streaming.run_s": "s", "streaming.jobs": "count",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.catalyst_ms": "ms", "engine.exec_s": "s",
    "engine.executor_run_s": "s", "engine.executor_cpu_s": "s",
    "engine.shuffle_read_mb": "MB", "engine.shuffle_write_mb": "MB",
    "engine.spill_mb": "MB", "engine.core_busy_ratio": "ratio",
    "engine.jit_s": "s", "engine.gc_s": "s", "engine.python_worker_cpu_s": "s",
    "engine.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
# taken from the first pass, where this work happens (commits are made
# once per corpus); every other per-layer metric is the median over the
# traced steady passes
FIRST_PASS_LAYER = {"operators.build_s", "engine.jit_s", "sources.commit_s", "sources.commits"}


def since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_env(run_dir: str) -> dict[str, str]:
    """Session sizing and scratch placement for the host it runs on: all
    cores, a driver heap of a quarter of RAM (1-4 GiB), every temp and
    spill directory inside the run's own work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gib = int(fh.readline().split()[1]) // (1024 * 1024)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gib // 4))}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        # C1 only: see README.md, "Host fit and isolation"
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    }


# packages a run loads, besides the engine
PACKAGES = ("pyspark", "py4j", "pandas", "numpy", "pyarrow")


def warm_page_cache() -> None:
    """Read every file of the JDK and of ``PACKAGES`` once, so that set-up
    and the first pass measure start-up and class loading rather than
    disk reads, whatever the host's page cache held before the run. The
    packages are located, not imported: their import is part of set-up."""
    dirs = [os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("java"))))]
    for name in PACKAGES:
        dirs += importlib.util.find_spec(name).submodule_search_locations
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            for n in names:
                path = os.path.join(dirpath, n)
                if os.path.isfile(path):
                    with open(path, "rb") as fh:
                        while fh.read(1 << 22):
                            pass


def start_session():
    """Import the engine, register every query and start the session.
    Returns (spark, seconds spent in the engine's ``get_spark``)."""
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401 - registers every query
    from de_project_sprint_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def cold_start(inputs: str) -> None:
    """Drop every derived artifact the engine cached for ``inputs``."""
    key = inputs.strip("/").replace("/", "_")
    for path in artifact_paths(key):
        shutil.rmtree(path, ignore_errors=True)


def artifact_paths(key: str) -> list[str]:
    cache = os.path.join(ROOT, ".cache")
    return glob.glob(os.path.join(cache, "derived", f"{key}-*")) + glob.glob(
        os.path.join(cache, "media_fixture", key)
    )


def tree_bytes(paths: list[str]) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for p in paths
        for d, _, files in os.walk(p)
        for f in files
    )


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs: list[float], q: int) -> float | None:
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(runner: Runner, setup: dict) -> dict:
    steady = runner.steady()
    idx = {p.index for p in steady}
    lat = [t for p, t in runner.samples if p in idx]
    return {
        "setup_s": setup["setup_s"],
        "first_pass_s": runner.passes[0].wall,
        "pass_s": median([p.wall for p in steady]),
        "cpu_s": median([p.cpu_jvm + p.cpu_py for p in steady]),
        "query_p50_s": percentile(lat, 50),
        "query_p90_s": percentile(lat, 90),
    }


def pass_layers(runner: Runner, p, cpus: int) -> dict:
    """Per-layer figures of one traced pass."""
    tr = runner.tracer
    lo, hi = p.spans

    def busy(layer):
        return sum(s.end - s.start for s in tr.outermost(layer, lo, hi))

    def jobs(layer):
        return len(set().union(*[tr.jobs_under(s) for s in tr.outermost(layer, lo, hi)]))

    m = {}
    for op in ETL_OUTPUTS:
        m[f"pipeline.{op}_s"] = sum(
            s.end - s.start for s in tr.outermost("pipeline", lo, hi) if s.name == f"pipeline.{op}"
        )
    m["sources.write_s"] = busy("sources.write")
    m["sources.rows_written"], m["sources.bytes_written"], m["sources.files_written"] = p.written
    m["sources.commit_s"] = busy("sources.commit")
    m["sources.commits"] = len(tr.outermost("sources.publish", lo, hi))
    m["operators.build_s"] = busy("operators")
    m["plans.build_s"], m["plans.build_jobs"] = busy("plans"), jobs("plans")
    m["functions.iterative_s"] = busy("functions.iterative")
    m["functions.iterative_jobs"] = jobs("functions.iterative")
    m["streaming.run_s"], m["streaming.jobs"] = busy("streaming"), jobs("streaming")

    stages = [a for attempts in p.stages.values() for a in attempts if a["status"] == "COMPLETE"]
    run_s = sum(a["executorRunTime"] for a in stages) / 1e3
    m["engine.jobs"] = len(p.jobs)
    m["engine.stages"] = len(stages)
    m["engine.tasks"] = sum(a["numCompleteTasks"] for a in stages)
    m["engine.catalyst_ms"] = sum(s.attrs.get("catalyst_ms", 0.0) for s in tr.spans[lo:hi])
    m["engine.exec_s"] = union_s([
        (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
        for j in p.jobs.values() if j.get("completionTime")
    ])
    m["engine.executor_run_s"] = run_s
    m["engine.executor_cpu_s"] = sum(a["executorCpuTime"] for a in stages) / 1e9
    m["engine.shuffle_read_mb"] = sum(a["shuffleReadBytes"] for a in stages) / 1e6
    m["engine.shuffle_write_mb"] = sum(a["shuffleWriteBytes"] for a in stages) / 1e6
    m["engine.spill_mb"] = sum(a["diskBytesSpilled"] for a in stages) / 1e6
    m["engine.core_busy_ratio"] = run_s / (p.wall * cpus)
    m["engine.jit_s"], m["engine.gc_s"] = p.jit_s, p.gc_s
    m["engine.python_worker_cpu_s"] = p.cpu_py
    return m


def per_layer(runner: Runner, setup: dict, artifact_bytes: int, peak_rss_mb: float,
              cpus: int) -> dict:
    first = runner.passes[0]
    steady = runner.steady()
    traced = [p for p in steady if p.traced] or [first]
    plain = [p for p in steady if not p.traced]
    first_m = pass_layers(runner, first, cpus)
    steady = [pass_layers(runner, p, cpus) for p in traced]
    out = {k: median([m[k] for m in steady]) for k in first_m}
    for k in FIRST_PASS_LAYER:
        out[k] = first_m[k]
    out["plans.first_build_s"] = first_m["plans.build_s"]
    out["plans.artifact_bytes"] = artifact_bytes
    out["engine.peak_rss_mb"] = peak_rss_mb
    out["session.start_s"] = setup["start_s"]
    out["trace.overhead_s"] = (
        median([p.wall for p in traced]) - median([p.wall for p in plain]) if plain else None
    )
    return {k: out[k] for k in LAYER_UNITS}


def measure(args, run_dir: str) -> dict:
    interp_s = since_process_start()
    wl = WORKLOADS[args.workload]
    inputs_root = os.path.join(WORK, "inputs")
    os.makedirs(inputs_root, exist_ok=True)
    make = datagen.etl_inputs if wl.kind == "etl" else datagen.corpus
    inputs = make(inputs_root, args.seed, wl.sf)
    cold_start(inputs)
    # a deployed engine does not recompile its sources on every start, so
    # set-up is measured with the bytecode cache filled
    compileall.compile_dir(os.path.join(ROOT, "de_project_sprint_etl_spark"), quiet=1)
    compileall.compile_file(os.path.join(ROOT, "__spark_entry__.py"), quiet=1)
    warm_page_cache()

    t0 = time.perf_counter()
    spark, start_s = start_session()
    setup = {"setup_s": interp_s + time.perf_counter() - t0, "start_s": start_s}

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer()
    tracer.install()
    counters = None
    cpu = ProcCpu(jvm_pid)
    if args.trace:
        counters = SparkCounters(spark)

        def probe():
            jit, gc = counters.jit_gc_s()
            jvm_cpu, py_cpu = cpu.snapshot()
            return {"jit_s": jit, "gc_s": gc, "jvm_cpu_s": jvm_cpu, "python_worker_cpu_s": py_cpu}

        tracer.probe = probe
    runner = Runner(spark, wl, inputs, run_dir, args.seed, tracer, counters, cpu)
    try:
        runner.run(
            args.seconds, args.smoke, bool(args.trace),
            # room after the last pass for its checks and the shutdown
            deadline=time.time() + RUN_LIMIT_S - 20 - since_process_start(),
        )
        artifact_bytes = tree_bytes(artifact_paths(inputs.strip("/").replace("/", "_")))
        peak = cpu.peak_rss_mb()
    finally:
        tracer.uninstall()
        stop_session(spark)
        cold_start(inputs)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    if args.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
        values, units = per_layer(runner, setup, artifact_bytes, peak, cpus), LAYER_UNITS
    else:
        values, units = end_to_end(runner, setup), E2E_UNITS
    tally = runner.tally
    for pass_no, op, err in tally.failures:
        print(f"# FAILED pass {pass_no} {op}: {err}")
    print(
        f"# {args.workload} seed={args.seed} local[{cpus}] "
        f"heap={os.environ['SPARK_GRAFT_DRIVER_MEM']} passes={len(runner.passes)} "
        f"ops={tally.attempted} failed={tally.failed} "
        f"failed_ops_ratio={tally.failed / max(tally.attempted, 1)} "
        f"latency_samples={len(runner.samples)} derived_cache=cold peak_rss_mb={peak}"
    )
    for p in runner.passes:
        print(f"# {args.workload} pass {p.index}: {p.wall} s wall, {p.cpu_jvm} s JVM CPU, "
              f"{p.cpu_py} s Python-worker CPU{', traced' if p.traced else ''}")
    steady = {p.index for p in runner.steady()}
    for op in dict.fromkeys(op for _, op, _ in tally.latencies):
        first = [t for p, o, t in tally.latencies if o == op and p == 0]
        rest = [t for p, o, t in tally.latencies if o == op and p in steady]
        print(f"# {args.workload} op {op}: first {first[0] if first else None} s, steady median {median(rest)} s")
    for k, v in values.items():
        print(f"# {args.workload} {k} = {v} {units[k]}")
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def run_all(args) -> dict:
    """Every workload in turn, each in its own process (its own JVM)."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=True)
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"], required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="one pass")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "de_project_sprint_etl_spark", "session.py")):
        print(f"perfbench: the engine sources are not in {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.environ.update(host_env(run_dir))
    # relative paths Spark creates (warehouse, metastore) land in the run dir
    os.chdir(run_dir)
    try:
        result = run_all(args) if args.workload == "all" else measure(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
