"""Round-10 fixes and extensions: the ragged-embedding PC1 projection
(ADVICE r9 medium — zip_with NULL-padding made the whole dot NULL while
the oracle computed a partial dot), the int64-exactness refuse-loudly
guard in the PCA scatter kernel, incremental pair/attributes artifact
refresh, and the sharded pack ranking — each checked against the DuckDB
oracle on a purpose-built fixture or an independent invariant."""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__  # noqa: E402 — populates the registry

from de_project_sprint_etl_spark.plans import testdata as td  # noqa: E402
from de_project_sprint_etl_spark.plans.registry import (  # noqa: E402
    RAW_QUERIES,
)

SF = "/root/testdata/sf0.001"


def _write_ragged_embeddings(tmp_path: Path) -> str:
    """A corpus whose widths genuinely vary (4, 2, and 3 dims): the
    in-contract shape the width-grouped scatter branch exists for."""
    vecs = [
        (1, [0.9, 0.1, -0.2, 0.4]),
        (2, [0.8, 0.2, -0.1, 0.3]),
        (3, [0.05, -0.9]),  # width 2: zip_with used to NULL this row
        (4, [-0.85, 0.15]),
        (5, [0.1, 0.7, 0.6]),
        (6, [0.12, 0.68, 0.55]),
        (7, [1.0, 0.0, 0.0, 0.0]),
        (8, [0.0, -1.0]),
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([v for v, _ in vecs], pa.int64()),
            "embedding": pa.array(
                [e for _, e in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_pc1_scores_ragged_corpus_matches_oracle(spark, tmp_path):
    """ADVICE r9 (medium): on ragged widths the projection must fold
    over the ROW'S OWN positions (a real partial dot, like the oracle's
    per-(vec_id, j) sum) — never a NULL from zip_with padding."""
    import duckdb

    sf_dir = _write_ragged_embeddings(tmp_path)
    try:
        rows = RAW_QUERIES["embedding_pc1_scores"](spark, sf_dir).collect()
        assert len(rows) == 8
        assert all(r["pc1_score"] is not None for r in rows)

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        sql = __spark_entry__.oracle_sql()["embedding_pc1_scores"]
        expect = dict(con.execute(
            f"SELECT vec_id, pc1_score FROM ({sql}) q"
        ).fetchall())
        assert len(expect) == 8
        for r in rows:
            assert r["vec_id"] in expect
            assert abs(r["pc1_score"] - expect[r["vec_id"]]) < 1e-9, r
    finally:
        td._SCAN_CACHE.clear()


def test_pc1_registered_query_unchanged_on_equal_width_corpus(spark):
    """The slice fix must be a no-op on the equal-width fixture: the
    slice(varr, 1, size(xi)) of a full-width row IS varr, so the
    registered query's values are bit-identical to the r9 form (the
    driver's FULLDIFF hash history pins this corpus-side; this pins the
    invariant locally against the r9-attested top row shape)."""
    rows = RAW_QUERIES["embedding_pc1_scores"](spark, SF).collect()
    assert rows and all(r["pc1_score"] is not None for r in rows)
    # rank order is by |unrounded dot| desc — monotone on the rounded
    # magnitudes except at rounding-collision boundaries
    mags = [abs(r["pc1_score"]) for r in rows]
    assert all(a >= b - 1e-6 for a, b in zip(mags, mags[1:]))


def test_pca_scatter_rejects_unrepresentable_components():
    """ADVICE r9 (low): a batch max |component| >= 2^31 means a single
    outer-product entry overflows int64 even at step=1 — the kernel
    must raise, not wrap silently."""
    from de_project_sprint_etl_spark.plans.curation import (
        _pca_scatter_batches,
    )

    bad = pa.RecordBatch.from_arrays(
        [pa.array([[1 << 31, 1]], pa.list_(pa.int64()))], names=["xi"]
    )
    with pytest.raises(ValueError, match="2\\^31"):
        list(_pca_scatter_batches(iter([bad])))
    # just under the bound still emits exact partials
    ok = pa.RecordBatch.from_arrays(
        [pa.array([[(1 << 31) - 1, 1]], pa.list_(pa.int64()))],
        names=["xi"],
    )
    out = list(_pca_scatter_batches(iter([ok])))
    assert out, "sub-bound batch must emit scatter partials"
    top = max(b.column("av").to_pylist()[0] for b in out)
    assert top == ((1 << 31) - 1) ** 2


# --- sharded exact global rank (VERDICT r9 #3) ----------------------------------


def test_sharded_global_rank_equals_global_window(spark):
    """The sharded rank must BE the global row number — bit-for-bit —
    including heavy value ties straddling what would be cut points."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions.ranking import (
        sharded_global_rank,
    )

    rows = [(i, (i * 37) % 23) for i in range(1, 2001)]
    # a massive tie group (value 7) plus singletons
    rows += [(10_000 + i, 7) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: r["rn"]
        for r in sharded_global_rank(
            df, "n_tokens", "doc_id", n_shards=16
        ).collect()
    }
    w = Window.orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
    want = {
        r["doc_id"]: r["rn"]
        for r in df.select(
            "doc_id", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert got == want


def test_sharded_global_rank_degenerate_corpora(spark):
    from de_project_sprint_etl_spark.functions.ranking import (
        sharded_global_rank,
    )

    # all-equal values: one shard, ranks = tiebreak order
    df = spark.createDataFrame(
        [(i, 5) for i in range(1, 8)], "doc_id long, n_tokens long"
    )
    got = sorted(
        (r["doc_id"], r["rn"])
        for r in sharded_global_rank(df, "n_tokens", "doc_id").collect()
    )
    assert got == [(i, i) for i in range(1, 8)]
    # empty input: no rows, no crash
    empty = df.filter("doc_id < 0")
    assert sharded_global_rank(empty, "n_tokens", "doc_id").count() == 0


def test_pack_assign_plan_has_no_single_partition_exchange(spark):
    """The r9 guard-bounded global sort is gone: the packer's plan must
    contain NO Exchange SinglePartition (the sharded rank's windows are
    all partitioned) and no CartesianProduct."""
    df = RAW_QUERIES["pack_assign_greedy"](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


# --- incremental artifact refresh (VERDICT r9 #2) --------------------------------


def test_refreshed_artifacts_match_full_rebuild(spark):
    """Engine-side direct statement of refreshed == rebuilt (the
    registered queries prove it against the DuckDB oracle; this pins it
    between the two Spark artifacts row-for-row)."""
    from de_project_sprint_etl_spark.plans import llm

    cols = ["id_a", "id_b", "est_jaccard"]
    full = {
        tuple(r[c] for c in cols)
        for r in llm.minhash_pairs(spark, SF).select(*cols).collect()
    }
    refreshed = {
        tuple(r[c] for c in cols)
        for r in llm.refresh_minhash_pairs(spark, SF).select(*cols).collect()
    }
    assert refreshed == full
    scols = ["doc_id", *llm.STAT_COLS]
    full_s = {
        tuple(r[c] for c in scols)
        for r in llm.mutant_stats(spark, SF).select(*scols).collect()
    }
    ref_s = {
        tuple(r[c] for c in scols)
        for r in llm.refresh_mutant_stats(spark, SF).select(*scols).collect()
    }
    assert ref_s == full_s
    # groups: star-contraction refresh == CC over the full pair set
    from de_project_sprint_etl_spark.functions import dedup

    gcols = ["id", "group_id", "group_size"]
    full_g = {
        tuple(r[c] for c in gcols)
        for r in dedup.dup_groups(llm.minhash_pairs(spark, SF)).collect()
    }
    ref_g = {
        tuple(r[c] for c in gcols)
        for r in llm.refresh_dup_groups(spark, SF).select(*gcols).collect()
    }
    assert ref_g == full_g


def test_refreshed_artifact_invalidates_on_fixture_change(spark, tmp_path):
    """Staleness: a regenerated corpus must never serve a stale
    REFRESHED view (same fingerprint-keyed discipline as the pair
    artifacts), and the refresh commits through the manifest protocol —
    the view's base is the REFERENCED snapshot artifact (never copied),
    the increment tag makes re-runs no-ops, and a lost manifest (crash
    before publish) just re-commits."""
    import os
    import shutil

    from de_project_sprint_etl_spark.plans import artifacts, llm
    from de_project_sprint_etl_spark.sources import incremental

    d = tmp_path / "corpus"
    shutil.copytree("/root/testdata/sf0.001", d)
    p1 = llm.refresh_minhash_pairs(spark, str(d))
    files1 = set(p1.inputFiles())
    n1 = p1.count()
    root = artifacts.path(str(d), "mh_pairs_16x4_j05_refreshed", llm.DOCS)
    man = incremental.read_manifest(root)
    assert man is not None and "inc-mutants" in man["tags"]
    # in-place: the snapshot base is referenced from its own artifact
    # dir, not copied under the view root
    base_paths = [
        m["path"] for m in man["members"] if os.path.isabs(m["path"])
    ]
    assert base_paths and all(
        "mh_pairs_snap" in p for p in base_paths
    ), man["members"]
    doc = d / "documents.parquet"
    os.utime(doc, ns=(os.stat(doc).st_atime_ns, os.stat(doc).st_mtime_ns + 7))
    p2 = llm.refresh_minhash_pairs(spark, str(d))
    assert set(p2.inputFiles()) != files1, "stale refreshed view served"
    assert p2.count() == n1
    # a lost manifest (crash before the atomic publish) forces a
    # re-commit; values are unchanged (idempotent increment)
    root2 = artifacts.path(str(d), "mh_pairs_16x4_j05_refreshed", llm.DOCS)
    (root2 / incremental.MANIFEST).unlink()
    p3 = llm.refresh_minhash_pairs(spark, str(d))
    assert incremental.has_tag(root2, "inc-mutants")
    assert p3.count() == n1


def test_refresh_queries_scan_only_their_artifacts(spark):
    """Consumer cost model: a registered refresh query is a SCAN of its
    written artifact — its input files must all live under the derived
    cache, never the raw documents fixture (re-derivation would defeat
    the artifact)."""
    for name in (
        "incremental_pair_refresh",
        "incremental_attributes_refresh",
        "incremental_group_refresh",
        "incremental_exact_pair_refresh",
        "minhash_signatures_table",
    ):
        files = RAW_QUERIES[name](spark, SF).inputFiles()
        assert files, name
        assert all(".cache/derived" in f for f in files), (name, files[:2])


def test_sharded_global_rank_property(spark):
    """Property check over adversarial small corpora (heavy ties, skewed
    values, tiny shard counts): the sharded rank equals the sorted
    enumeration for every row."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from de_project_sprint_etl_spark.functions.ranking import (
        sharded_global_rank,
    )

    @settings(max_examples=8, deadline=None)
    @given(
        vals=st.lists(
            st.integers(min_value=0, max_value=9), min_size=1, max_size=40
        ),
        n_shards=st.integers(min_value=1, max_value=9),
    )
    def check(vals, n_shards):
        rows = [(i + 1, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        got = {
            r["doc_id"]: r["rn"]
            for r in sharded_global_rank(
                df, "n_tokens", "doc_id", n_shards=n_shards
            ).collect()
        }
        order = sorted(rows, key=lambda r: (-r[1], r[0]))
        want = {doc: i + 1 for i, (doc, _v) in enumerate(order)}
        assert got == want

    check()


def test_curation_bench_stages_match_library_artifacts(spark, monkeypatch):
    """The bench tool's staged lifecycle must not drift from the
    library pipeline: its written stages agree row-for-row with the
    plans/llm.py artifacts on the same corpus."""
    import importlib

    from de_project_sprint_etl_spark.plans import artifacts, llm

    cb = importlib.import_module("tools.curation_bench")
    base = artifacts.path(SF, "curation_bench_test_warehouse", llm.DOCS)
    monkeypatch.setattr(cb, "SF_DIR", SF)
    monkeypatch.setattr(cb, "BASE", str(base))
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    try:
        timings = cb.run_lifecycle(spark)
        assert set(timings) == set(cb.STAGES)
        docs = spark.read.parquet(str(base / "docs"))
        assert docs.count() == llm.docs_with_mutants(spark, SF).count()
        pairs = {
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(str(base / "pairs")).collect()
        }
        lib_pairs = {
            (r["id_a"], r["id_b"])
            for r in llm.minhash_pairs(spark, SF).collect()
        }
        assert pairs == lib_pairs
        groups = {
            (r["id"], r["group_id"])
            for r in spark.read.parquet(str(base / "dup_groups")).collect()
        }
        lib_groups = {
            (r["id"], r["group_id"])
            for r in llm.refresh_dup_groups(spark, SF).collect()
        }
        assert groups == lib_groups
    finally:
        shutil.rmtree(base, ignore_errors=True)
