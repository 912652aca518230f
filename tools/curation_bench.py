"""Curation-lifecycle benchmark (VERDICT r9 #1): the LLM-data analog
of tools/pipeline_bench.py. A production curation DAG is not a single
query — it is a staged composition where every stage is a WRITTEN
table the next stage scans (the Dolma-attributes / CCNet shape the
plans/llm.py artifacts mirror):

  raw documents ∪ increment  →  docs        (the working corpus)
  docs                       →  attributes  (per-doc text stats, scored once)
  docs                       →  shingles    (the n-gram stage)
  shingles                   →  signatures  (the MinHash fold, stored)
  signatures                 →  pairs       (LSH band join)
  pairs                      →  dup_groups  (connected components)
  docs ⟕ dup_groups          →  corpus_kept (drop non-canonical members)

This tool times that exact composition end-to-end at a chosen corpus
scale, every stage physically written to its own warehouse dir and
READ BACK by the next stage (no plan fusion across stage boundaries —
the cost model a staged pipeline actually pays), then optionally
re-runs the whole composition over the same warehouse and asserts each
stage's (row count, order-insensitive xxhash64 fingerprint) is a fixed
point — the reference's C5 idempotency invariant (README.md:21-22
"processed correctly and not duplicated") applied to the curation DAG.

Usage: python tools/curation_bench.py [sf_dir] [--keep] [--fixed-point]
                                      [--incremental] [--soak]
Prints one JSON line:
  {"metric": "curation_lifecycle", "value": <sec>, "stages": {...}, ...}

``--incremental`` additionally times the INCREMENTAL maintenance path
(plans/llm.py refresh_* — signatures/pairs/attributes/groups committed
from the increment's text + stored snapshot artifacts through the
manifest-gated in-place views, VERDICT r10 #2: the snapshot is
referenced, never copied, so the timed pass is increment-sized jobs
only) with the snapshot artifacts prebuilt and the refreshed views
cleared, and reports it next to the full-rebuild wall time — the
measured win the reference's increment-merge design exists to buy
(README.md:8-9).

``--soak`` times the k-day refresh chain (VERDICT r10 #3): the mutant
increment split into MUT_SLICES daily slices, each committed through
minhash_soak_step against the growing signature/pair views — per-step
seconds should stay flat in k (each day pays slice-sized signing +
band joins, never a rebuild).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = next(
    (a for a in sys.argv[1:] if not a.startswith("--")), "/root/repo/.cache/sf1"
)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.path.join(REPO, ".cache", "curation-bench-warehouse")

STAGES = (
    "docs",
    "attributes",
    "shingles",
    "signatures",
    "pairs",
    "dup_groups",
    "corpus_kept",
)


def run_lifecycle(spark) -> dict[str, float]:
    """ONE full pass: build each stage from the PREVIOUS stage's written
    parquet, write it, return per-stage wall seconds. Overwrite mode
    throughout — re-running over the same warehouse must converge to
    the identical tables (the fixed-point check)."""
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions import dedup, text
    from de_project_sprint_etl_spark.plans.llm import (
        MUT_OFFSET,
        _docs_with_mutants_plan,
        fan_out,
    )

    timings: dict[str, float] = {}

    def write(name: str, df) -> None:
        df.write.mode("overwrite").parquet(os.path.join(BASE, name))

    def read(name: str):
        return fan_out(spark, spark.read.parquet(os.path.join(BASE, name)))

    t0 = time.time()
    write("docs", _docs_with_mutants_plan(spark, SF_DIR))
    timings["docs"] = time.time() - t0

    t0 = time.time()
    write("attributes", text.with_text_stats(read("docs"), "text").drop("text"))
    timings["attributes"] = time.time() - t0

    t0 = time.time()
    write(
        "shingles",
        dedup._exploded_shingles(read("docs"), "text", "doc_id", n=3),
    )
    timings["shingles"] = time.time() - t0

    t0 = time.time()
    write(
        "signatures",
        dedup.minhash_signatures(shingles=read("shingles"), num_hashes=16),
    )
    timings["signatures"] = time.time() - t0

    t0 = time.time()
    write(
        "pairs",
        dedup.minhash_lsh_pairs(
            # persist_input=False: the stage input is the WRITTEN
            # signatures table — the 100-TB shape the persist comment
            # in minhash_lsh_pairs defers to
            read("signatures"), num_hashes=16, bands=4, min_est_jaccard=0.5,
            persist_input=False,
        ),
    )
    timings["pairs"] = time.time() - t0

    t0 = time.time()
    write("dup_groups", dedup.dup_groups(read("pairs")))
    timings["dup_groups"] = time.time() - t0

    t0 = time.time()
    drop = (
        read("dup_groups")
        .filter(F.col("id") != F.col("group_id"))
        .select(F.col("id").alias("doc_id"))
    )
    write(
        "corpus_kept",
        read("docs").join(drop, "doc_id", "left_anti").select(
            "doc_id", (F.col("doc_id") >= MUT_OFFSET).alias("is_increment")
        ),
    )
    timings["corpus_kept"] = time.time() - t0
    return timings


def fingerprint(spark, name: str) -> tuple[int, int]:
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(BASE, name))
    row = (
        df.select(
            F.xxhash64(
                *[F.col(c).cast("string") for c in sorted(df.columns)]
            ).alias("h")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["x"])


def main() -> None:
    from de_project_sprint_etl_spark.session import get_spark

    spark = get_spark()
    shutil.rmtree(BASE, ignore_errors=True)

    t0 = time.time()
    timings = run_lifecycle(spark)
    wall = time.time() - t0

    counts = {
        name: spark.read.parquet(os.path.join(BASE, name)).count()
        for name in STAGES
    }
    out = {
        "metric": "curation_lifecycle",
        "value": round(wall, 2),
        "unit": "sec",
        "sf_dir": SF_DIR,
        "stages": {k: round(v, 2) for k, v in timings.items()},
        "rows": counts,
    }
    if "--fixed-point" in sys.argv:
        before = {name: fingerprint(spark, name) for name in STAGES}
        t0 = time.time()
        run_lifecycle(spark)
        rerun = time.time() - t0
        after = {name: fingerprint(spark, name) for name in STAGES}
        diverged = sorted(k for k in before if before[k] != after[k])
        if diverged:
            raise SystemExit(f"fixed-point VIOLATED for stages: {diverged}")
        out["fixed_point"] = "ok"
        out["rerun_sec"] = round(rerun, 2)
    if "--incremental" in sys.argv:
        from de_project_sprint_etl_spark.plans import artifacts, llm

        # prebuild "yesterday's" state (snapshot artifacts + the shared
        # fixture-corpus stages) OUTSIDE the timed section, then clear
        # the refreshed artifacts so the timed pass performs the real
        # increment work
        llm.minhash_sigs_snapshot(spark, SF_DIR)
        llm.minhash_pairs_snapshot(spark, SF_DIR)
        llm.dup_groups_snapshot(spark, SF_DIR)
        llm.doc_stats(spark, SF_DIR)
        # the session's memoized scans are keyed on each artifact's
        # commit marker (groups) or manifest commit id (views), so the
        # rebuilt artifacts are re-listed, never served from a dead scan
        for name in (
            "mh_pairs_16x4_j05_refreshed",
            "mut_stats_refreshed",
            "mh_groups_refreshed",
        ):
            shutil.rmtree(
                artifacts.path(SF_DIR, name, llm.DOCS), ignore_errors=True
            )
        t0 = time.time()
        n_pairs = llm.refresh_minhash_pairs(spark, SF_DIR).count()
        n_stats = llm.refresh_mutant_stats(spark, SF_DIR).count()
        n_groups = llm.refresh_dup_groups(spark, SF_DIR).count()
        out["incremental_refresh_sec"] = round(time.time() - t0, 2)
        out["refresh_rows"] = {
            "pairs": n_pairs,
            "attributes": n_stats,
            "groups": n_groups,
        }
    if "--soak" in sys.argv:
        from de_project_sprint_etl_spark.plans import artifacts, llm
        from de_project_sprint_etl_spark.sources import incremental

        for name in ("mh_sigs_benchsoak", "mh_pairs_benchsoak"):
            shutil.rmtree(artifacts.path(SF_DIR, name, llm.DOCS), ignore_errors=True)
        sigs_root, pairs_root = llm.init_minhash_soak(
            spark, SF_DIR, "benchsoak"
        )
        steps = []
        for j in range(llm.MUT_SLICES):
            t0 = time.time()
            llm.minhash_soak_step(spark, SF_DIR, sigs_root, pairs_root, j)
            steps.append(round(time.time() - t0, 2))
        out["soak_step_sec"] = steps
        out["soak_pairs"] = incremental.read_view(
            spark, pairs_root
        ).count()
        # the EXACT tier's chained census-merge soak (r11)
        cut = llm._INC_NGRAM_CUT
        for name in (
            f"ngram_pairs_benchsoak_c{cut}",
            "ngram_stream_benchsoak",
            "ngram_census_benchsoak",
        ):
            shutil.rmtree(artifacts.path(SF_DIR, name, llm.DOCS), ignore_errors=True)
        ex_pairs, ex_stream, ex_census = llm.init_ngram_soak(
            spark, SF_DIR, cut, "benchsoak"
        )
        ex_steps = []
        for j in range(llm.MUT_SLICES):
            t0 = time.time()
            llm.ngram_soak_step(
                spark, SF_DIR, ex_pairs, ex_stream, ex_census, j, cut
            )
            ex_steps.append(round(time.time() - t0, 2))
        out["exact_soak_step_sec"] = ex_steps
        out["exact_soak_pairs"] = incremental.read_view(
            spark, ex_pairs
        ).count()
    print(json.dumps(out))
    if "--keep" not in sys.argv:
        shutil.rmtree(BASE, ignore_errors=True)


if __name__ == "__main__":
    main()
