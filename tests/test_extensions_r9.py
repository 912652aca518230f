"""Round-9 extension ops: executable FFD sequence packing, the
empirical LSH S-curve, the shingle posting-skew histogram and the PC1
projection — each checked against an independent Python reference or a
structural invariant, never against its own oracle SQL — plus the
derived-artifact cache integrity checks."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__  # noqa: E402,F401 — populates the registry

from de_project_sprint_etl_spark.functions.text import tokens  # noqa: E402
from de_project_sprint_etl_spark.plans import llm, testdata, warehouse  # noqa: E402
from de_project_sprint_etl_spark.plans.mlops import (  # noqa: E402
    PACK_FFD_BUDGET,
    PACK_FFD_CHUNK,
)
from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES  # noqa: E402
from de_project_sprint_etl_spark.plans.testdata import t  # noqa: E402

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


# --- pack_assign_greedy -------------------------------------------------------


def _reference_ffd(spark, sf):
    """Brute Python FFD over the same (len DESC, doc_id) order and the
    same chunking — the independent twin of both the Spark op and its
    recursive-CTE oracle."""
    docs = (
        t(spark, sf, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("nt"))
        .collect()
    )
    ordered = sorted(docs, key=lambda r: (-r["nt"], r["doc_id"]))
    out = {}
    for c0 in range(0, len(ordered), PACK_FFD_CHUNK):
        chunk = c0 // PACK_FFD_CHUNK
        loads: list[int] = []
        for r in ordered[c0 : c0 + PACK_FFD_CHUNK]:
            nt = int(r["nt"])
            slot = next(
                (i for i, l in enumerate(loads) if l + nt <= PACK_FFD_BUDGET),
                len(loads),
            )
            if slot == len(loads):
                loads.append(0)
            out[r["doc_id"]] = (nt, chunk * PACK_FFD_CHUNK + slot + 1, loads[slot])
            loads[slot] += nt
    return out


def test_pack_assign_greedy_matches_reference_ffd(spark):
    ref = _reference_ffd(spark, SF01)
    rows = RAW_QUERIES["pack_assign_greedy"](spark, SF01).collect()
    assert len(rows) == len(ref)
    for r in rows:
        assert ref[r["doc_id"]] == (r["n_tokens"], r["bin_id"], r["offset"])


def test_pack_assign_greedy_invariants(spark):
    rows = RAW_QUERIES["pack_assign_greedy"](spark, SF01).collect()
    by_bin: dict[int, list] = {}
    for r in rows:
        by_bin.setdefault(r["bin_id"], []).append(r)
    for bin_id, members in by_bin.items():
        load = sum(m["n_tokens"] for m in members)
        # a bin exceeds the budget only as a single oversized doc
        assert load <= PACK_FFD_BUDGET or len(members) == 1
        # offsets tile the bin contiguously from 0
        assert sorted(m["offset"] for m in members)[0] == 0
        assert (
            sorted(m["offset"] + m["n_tokens"] for m in members)[-1] == load
        )


def test_r9_ops_plan_shapes(spark):
    """Static-plan pins for the round's other ops: no CartesianProduct
    anywhere; the pair-keyed S-curve join broadcasts its smaller side;
    the PC1 top-k plans as TakeOrdered (never a global Sort)."""

    def plan(name):
        df = RAW_QUERIES[name](spark, SF01)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    for name in (
        "lsh_empirical_scurve",
        "shingle_df_histogram",
        "embedding_pc1_scores",
    ):
        assert "CartesianProduct" not in plan(name), name
    assert "BroadcastHashJoin" in plan("lsh_empirical_scurve")
    p = plan("embedding_pc1_scores")
    assert "TakeOrderedAndProject" in p
    assert "+- Sort" not in p


def test_pack_assign_greedy_plan_shape(spark):
    plan = RAW_QUERIES["pack_assign_greedy"](spark, SF01)._sc._jvm.PythonSQLUtils.explainString(
        RAW_QUERIES["pack_assign_greedy"](spark, SF01)._jdf.queryExecution(),
        "formatted",
    )
    assert "CartesianProduct" not in plan
    # exactly one global sort: the guard-bounded ranking window
    assert plan.count("Sort [n_tokens") <= 1


# --- lsh_empirical_scurve ------------------------------------------------------


def test_lsh_empirical_scurve_invariants(spark):
    rows = RAW_QUERIES["lsh_empirical_scurve"](spark, SF01).collect()
    assert rows, "expected at least one jaccard bucket"
    by_bucket = {r["bucket"] for r in rows}
    assert all(3 <= b <= 10 for b in by_bucket)
    for r in rows:
        assert 0 <= r["n_candidates"] <= r["n_pairs"]
        assert 0.0 <= r["recall"] <= 1.0
    # the S shape: the top bucket recalls at least as well as the bottom
    lo = min(rows, key=lambda r: r["bucket"])
    hi = max(rows, key=lambda r: r["bucket"])
    assert hi["recall"] >= lo["recall"]


# --- shingle_df_histogram ------------------------------------------------------


def test_shingle_df_histogram_accounts_for_every_posting(spark):
    from de_project_sprint_etl_spark.plans.llm import mutant_shingles

    rows = RAW_QUERIES["shingle_df_histogram"](spark, SF01).collect()
    total_postings = sum(r["n_postings"] for r in rows)
    total_shingles = sum(r["n_shingles"] for r in rows)
    sh = mutant_shingles(spark, SF01, n=3)
    assert total_postings == sh.count()
    assert total_shingles == sh.select("shingle").distinct().count()
    for r in rows:
        # bucket b holds df in [2^b, 2^(b+1)); candidate mass bounds
        assert r["candidate_mass"] >= r["n_postings"]


# --- embedding_pc1_scores ------------------------------------------------------


def test_pc1_scores_match_numpy_projection(spark):
    from de_project_sprint_etl_spark.plans.curation import (
        PC1_TOPK,
        PCA_SCALE,
        _pca_model,
    )

    emb = t(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    X = np.array(
        [
            [int(np.floor(float(a) * PCA_SCALE + 0.5)) for a in r["embedding"]]
            for r in emb
        ],
        dtype=np.float64,
    )
    model = _pca_model(spark, SF)
    v = np.array([model["v"][j] for j in sorted(model["v"])])
    scores = (X @ v) / PCA_SCALE
    order = sorted(
        range(len(emb)),
        key=lambda i: (-abs(scores[i]), emb[i]["vec_id"]),
    )[:PC1_TOPK]
    expect = {emb[i]["vec_id"]: scores[i] for i in order}
    rows = RAW_QUERIES["embedding_pc1_scores"](spark, SF).collect()
    assert len(rows) == min(PC1_TOPK, len(emb))
    for r in rows:
        assert r["vec_id"] in expect
        assert abs(r["pc1_score"] - round(expect[r["vec_id"]], 6)) < 1e-5


def test_pca_model_is_memoized(spark):
    from de_project_sprint_etl_spark.plans.curation import _pca_model

    assert _pca_model(spark, SF) is _pca_model(spark, SF)


# --- derived-artifact cache integrity -------------------------------------------


def test_pair_artifacts_match_live_pipelines(spark):
    """The materialized pair tables must be row-for-row the live
    pipelines' output — the bit-identical-artifact claim behind the
    round-9 consumer switch, pinned (the consumer oracles check this
    indirectly by re-deriving from raw docs; this is the direct
    engine-side statement)."""
    from de_project_sprint_etl_spark.plans import llm

    cols = ["id_a", "id_b", "shared", "n_a", "n_b", "jaccard"]
    live = {
        tuple(r[c] for c in cols)
        for r in llm.q_ngram_jaccard(spark, SF01).collect()
    }
    art = {
        tuple(r[c] for c in cols)
        for r in llm.ngram_pairs(spark, SF01).select(*cols).collect()
    }
    assert live == art
    mh_cols = ["id_a", "id_b"]
    live_mh = {
        tuple(r[c] for c in mh_cols)
        for r in llm.q_minhash_lsh(spark, SF01).collect()
    }
    art_mh = {
        tuple(r[c] for c in mh_cols)
        for r in llm.minhash_pairs(spark, SF01).select(*mh_cols).collect()
    }
    assert live_mh == art_mh


@pytest.mark.parametrize(
    "fixture, accessor",
    [
        ("documents", llm.ngram_pairs),
        ("lineitem", testdata.order_log_v2_cached),
        ("events", testdata.weeks_dim_cached),
        ("orders", warehouse._orders_upsert_base),
    ],
    ids=[
        "documents-ngram_pairs",
        "lineitem-order_log",
        "events-weeks",
        "orders-upsert_base",
    ],
)
def test_artifact_invalidates_on_fixture_change(spark, tmp_path, fixture, accessor):
    """A regenerated fixture must never serve a stale derived artifact:
    the artifact key folds in the fingerprint of every table its build
    reads, so rewriting any one of them — even with identical bytes —
    points the accessor at a fresh build."""
    import os
    import shutil

    d = tmp_path / "corpus"
    shutil.copytree("/root/testdata/sf0.001", d)
    p1 = accessor(spark, str(d))
    assert accessor(spark, str(d)) is p1  # one scan object per session
    files1 = set(p1.inputFiles())
    n1 = p1.count()
    src = d / f"{fixture}.parquet"
    os.utime(src, ns=(os.stat(src).st_atime_ns, os.stat(src).st_mtime_ns + 7))
    p2 = accessor(spark, str(d))
    files2 = set(p2.inputFiles())
    assert files1 != files2, f"stale artifact served after {fixture} rewrite"
    assert p2.count() == n1
