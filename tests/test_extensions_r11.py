"""Round-11 extensions: tie-group sub-sharding + NULL shard in the
sharded exact global rank (VERDICT r10 #6 / ADVICE r10), the
incremental exact-Jaccard (PPJoin) pair refresh with a df-cut crossing
(VERDICT r10 #1), the manifest-gated in-place append refresh
(VERDICT r10 #2), and the k-step refresh soak (VERDICT r10 #3)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__  # noqa: E402 — populates the registry

from de_project_sprint_etl_spark.plans.registry import (  # noqa: E402
    RAW_QUERIES,
)

SF = "/root/testdata/sf0.001"


# --- sharded rank: tie groups + NULLs (VERDICT r10 #6) ---------------------


def test_sharded_rank_two_value_corpus_balanced_and_exact(spark):
    """A 2-distinct-value corpus used to degenerate to two monster
    tie-group shards; tiebreak sub-sharding must now split them while
    keeping the rank bit-identical to the global window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions.ranking import (
        sharded_global_rank,
    )

    rows = [(i, 7 if i % 2 else 3) for i in range(1, 2001)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = sharded_global_rank(
        df, "n_tokens", "doc_id", n_shards=16, max_shard_rows=100
    )
    got = {r["doc_id"]: r["rn"] for r in out.collect()}
    w = Window.orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
    want = {
        r["doc_id"]: r["rn"]
        for r in df.select(
            "doc_id", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert got == want
    # balance: with the bound at 100 neither 1000-row tie group may
    # survive as a single shard; sketch resolution allows ~2x slack
    sizes = [
        r["n"]
        for r in sharded_global_rank(
            df, "n_tokens", "doc_id", n_shards=16, max_shard_rows=100,
            keep_shard_col=True,
        )
        .groupBy("_sgr_shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(sizes) > 2
    assert max(sizes) <= 250, sizes


def test_sharded_rank_null_values_rank_last(spark):
    """ADVICE r10: NULL value rows must land in a dedicated LAST shard
    and rank after every non-NULL row, in tiebreak order — matching the
    global window's desc() NULL placement."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions.ranking import (
        sharded_global_rank,
    )

    rows = [(i, i % 13 if i % 5 else None) for i in range(1, 301)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: r["rn"]
        for r in sharded_global_rank(
            df, "n_tokens", "doc_id", n_shards=8
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
    null_ranks = [got[i] for i in range(1, 301) if i % 5 == 0]
    nn = len(null_ranks)
    assert sorted(null_ranks) == list(range(301 - nn, 301))


def test_sharded_rank_heavy_null_group_subshards(spark):
    """A NULL tie group past max_shard_rows sub-shards by tiebreak like
    any other tie group (the NULL shard is single-'value' by
    construction)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions.ranking import (
        sharded_global_rank,
    )

    rows = [(i, None if i <= 900 else i) for i in range(1, 1001)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: r["rn"]
        for r in sharded_global_rank(
            df, "n_tokens", "doc_id", n_shards=8, max_shard_rows=64
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


def test_sharded_rank_fractional_tiebreak_subshards(spark):
    """ADVICE r11: a DOUBLE tiebreak whose ties concentrate inside one
    integer unit must still sub-shard — cuts are taken in the
    tiebreak's own domain, not cast to long (a long cast collapsed
    every cut to 0 and kept the whole tie group in one sub-shard)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions.ranking import (
        sharded_global_rank,
    )

    # one giant tie group; every tiebreak value lives in (0, 1)
    rows = [(i / 10_000.0, 5) for i in range(1, 2001)]
    df = spark.createDataFrame(rows, "score double, n_tokens long")
    out = sharded_global_rank(
        df, "n_tokens", "score", n_shards=16, max_shard_rows=100,
        keep_shard_col=True,
    ).collect()
    got = {r["score"]: r["rn"] for r in out}
    w = Window.orderBy(F.col("n_tokens").desc(), F.col("score").asc())
    want = {
        r["score"]: r["rn"]
        for r in df.select(
            "score", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert got == want
    from collections import Counter

    sizes = Counter(r["_sgr_shard"] for r in out)
    assert len(sizes) > 2, dict(sizes)
    assert max(sizes.values()) <= 250, dict(sizes)


# --- incremental exact-Jaccard (PPJoin) refresh (VERDICT r10 #1) -----------


def _pairs_set(df):
    cols = ["id_a", "id_b", "shared", "n_a", "n_b", "jaccard"]
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_ngram_refresh_handles_df_cut_crossing(spark):
    """The hard case: the increment pushes shingles ACROSS the
    max_shingle_df cut, which (a) invalidates an old pair (its shared
    shingles left the vocabulary) and (b) ADMITS a previously
    sub-threshold snapshot pair (a non-shared shingle leaving a doc's
    set raises J). The refresh must equal the full rebuild
    value-for-value, including both effects."""
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions import dedup

    snap_docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d f"),
            (3, "p q r s a b c d"),
            (4, "p q r s t"),
            (5, "x a b h1"),
        ],
        "doc_id long, text string",
    )
    inc_docs = spark.createDataFrame(
        [(101, "x a b c d y"), (102, "x a b c d w")],
        "doc_id long, text string",
    )
    cut, j = 3, 0.3
    snap_sh = dedup._exploded_shingles(snap_docs, "text", "doc_id", 3)
    inc_sh = dedup._exploded_shingles(inc_docs, "text", "doc_id", 3)
    snap_census = snap_sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    snap_pairs = dedup.ngram_jaccard_pairs(
        shingles=snap_sh, min_jaccard=j, max_shingle_df=cut
    )
    # precondition: the fixture really crosses the cut and the snapshot
    # really holds the pair that must die
    snap_set = _pairs_set(snap_pairs)
    assert {(a, b) for a, b, *_ in snap_set} == {(1, 2)}
    crossed = {
        r["shingle"]
        for r in snap_census.join(
            inc_sh.groupBy("shingle").count(), "shingle"
        )
        .filter((F.col("df") <= cut) & (F.col("df") + F.col("count") > cut))
        .collect()
    }
    assert crossed == {"a b c", "b c d"}

    refreshed = _pairs_set(
        dedup.ngram_refresh_pairs(
            snap_pairs,
            snap_census,
            snap_sh,
            inc_sh,
            min_jaccard=j,
            max_shingle_df=cut,
            cache_tag="t_ngref",
        )
    )
    rebuilt = _pairs_set(
        dedup.ngram_jaccard_pairs(
            shingles=snap_sh.unionByName(inc_sh),
            min_jaccard=j,
            max_shingle_df=cut,
        )
    )
    assert refreshed == rebuilt
    got_ids = {(a, b) for a, b, *_ in refreshed}
    assert (1, 2) not in got_ids  # old pair invalidated by the crossing
    assert (3, 4) in got_ids  # snapshot pair ADMITTED by the crossing
    assert (5, 101) in got_ids  # snapshot x increment
    assert (101, 102) in got_ids  # increment x increment


def test_ngram_refresh_shuffle_fallback_same_result(spark):
    """ADVICE r11: with broadcasting disabled the refresh's crossed-
    shingle and vocabulary probes must plan as shuffle joins and still
    equal the full rebuild — the adversarial-increment fallback path
    (gated_broadcast routing) instead of a broadcast-build failure."""
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions import dedup

    snap_docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d f"),
            (3, "p q r s a b c d"),
            (4, "p q r s t"),
            (5, "x a b h1"),
        ],
        "doc_id long, text string",
    )
    inc_docs = spark.createDataFrame(
        [(101, "x a b c d y"), (102, "x a b c d w")],
        "doc_id long, text string",
    )
    cut, j = 3, 0.3
    snap_sh = dedup._exploded_shingles(snap_docs, "text", "doc_id", 3)
    inc_sh = dedup._exploded_shingles(inc_docs, "text", "doc_id", 3)
    snap_census = snap_sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    snap_pairs = dedup.ngram_jaccard_pairs(
        shingles=snap_sh, min_jaccard=j, max_shingle_df=cut
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        refreshed = _pairs_set(
            dedup.ngram_refresh_pairs(
                snap_pairs,
                snap_census,
                snap_sh,
                inc_sh,
                min_jaccard=j,
                max_shingle_df=cut,
                cache_tag="t_ngref_nobc",
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    rebuilt = _pairs_set(
        dedup.ngram_jaccard_pairs(
            shingles=snap_sh.unionByName(inc_sh),
            min_jaccard=j,
            max_shingle_df=cut,
        )
    )
    assert refreshed == rebuilt


def test_ngram_refresh_empty_increment_is_identity(spark):
    """No increment ⇒ nothing crosses, nothing recomputes: the refresh
    returns the snapshot pair table verbatim."""
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions import dedup

    snap_docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "g h i j k")],
        "doc_id long, text string",
    )
    snap_sh = dedup._exploded_shingles(snap_docs, "text", "doc_id", 3)
    census = snap_sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    snap_pairs = dedup.ngram_jaccard_pairs(
        shingles=snap_sh, min_jaccard=0.3, max_shingle_df=5
    )
    empty = snap_sh.filter(F.lit(False))
    out = _pairs_set(
        dedup.ngram_refresh_pairs(
            snap_pairs, census, snap_sh, empty,
            min_jaccard=0.3, max_shingle_df=5, cache_tag="t_ngref0",
        )
    )
    assert out == _pairs_set(snap_pairs)


# --- manifest-gated in-place views (VERDICT r10 #2) ------------------------


def _view_rows(spark, root):
    from de_project_sprint_etl_spark.sources import incremental

    return {
        (r["k"], r["v"])
        for r in incremental.read_view(spark, root).collect()
    }


def test_incremental_view_append_delete_compact(spark, tmp_path):
    """The full commit protocol on a toy table: external base
    (referenced, not copied), an append+delete commit expressing
    drop-then-add, compaction folding the chain into one self-contained
    member, and gc removing superseded dirs — same rows at every
    step."""
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.sources import incremental

    base_dir = tmp_path / "base_table"
    spark.createDataFrame(
        [(i, i * 10) for i in range(1, 6)], "k long, v long"
    ).write.parquet(str(base_dir))
    root = tmp_path / "view"
    incremental.init_view(root, [str(base_dir)])
    assert _view_rows(spark, root) == {(i, i * 10) for i in range(1, 6)}

    # commit: drop k in {2,3}, re-add recomputed k=3 plus new k=6
    delta = spark.createDataFrame([(3, 333), (6, 60)], "k long, v long")
    dels = [spark.createDataFrame([(2,), (3,)], "k long")]
    assert not incremental.has_tag(root, "day1")
    incremental.append_delta(delta, root, tag="day1", deletes=dels)
    assert incremental.has_tag(root, "day1")
    want = {(1, 10), (4, 40), (5, 50), (3, 333), (6, 60)}
    assert _view_rows(spark, root) == want

    # the base was referenced, not copied: no base bytes under the root
    assert not any(
        p.name.startswith("part-") for p in root.iterdir() if p.is_file()
    )

    gen = incremental.compact(spark, root)
    assert gen == incremental.read_manifest(root)["gen"]
    assert _view_rows(spark, root) == want
    # self-contained after compaction: no external members, old dirs gc'd
    m = incremental.read_manifest(root)
    import os

    assert all(not os.path.isabs(mm["path"]) for mm in m["members"])
    live = {mm["path"] for mm in m["members"]}
    on_disk = {
        c.name
        for c in root.iterdir()
        if c.is_dir() and c.name.startswith(("delta_", "delete_", "compact_"))
    }
    assert on_disk == live


def test_incremental_view_crash_before_publish_serves_previous_gen(
    spark, tmp_path
):
    """A crashed commit (delta directory written, manifest never
    published) is invisible: the reader serves the previous generation
    byte-for-byte, and the next successful commit supersedes the
    orphan."""
    from de_project_sprint_etl_spark.sources import incremental

    base_dir = tmp_path / "base"
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).write.parquet(str(base_dir))
    root = tmp_path / "view"
    incremental.init_view(root, [str(base_dir)])
    # simulate the crash: the delta parquet lands, no manifest publish
    spark.createDataFrame([(9, 90)], "k long, v long").write.parquet(
        str(root / "delta_00001")
    )
    assert _view_rows(spark, root) == {(1, 10), (2, 20)}
    # recovery: the real commit overwrites the orphan and publishes
    incremental.append_delta(
        spark.createDataFrame([(9, 99)], "k long, v long"), root, tag="day1"
    )
    assert _view_rows(spark, root) == {(1, 10), (2, 20), (9, 99)}


def test_incremental_view_time_travel(spark, tmp_path):
    """``as_of_gen`` must reproduce exactly what each earlier
    generation served — including the delete fold — and refuse both
    future generations and history expired by compaction."""
    import pytest as _pytest

    from de_project_sprint_etl_spark.sources import incremental

    base_dir = tmp_path / "base"
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    ).write.parquet(str(base_dir))
    root = tmp_path / "view"
    incremental.init_view(root, [str(base_dir)])
    states = {0: _view_rows(spark, root)}
    incremental.append_delta(
        spark.createDataFrame([(2, 222), (4, 40)], "k long, v long"),
        root,
        tag="day1",
        deletes=[spark.createDataFrame([(2,)], "k long")],
    )
    states[1] = _view_rows(spark, root)
    incremental.append_delta(
        spark.createDataFrame([(5, 50)], "k long, v long"), root, tag="day2"
    )
    states[2] = _view_rows(spark, root)
    assert states[0] == {(1, 10), (2, 20), (3, 30)}
    assert states[1] == {(1, 10), (3, 30), (2, 222), (4, 40)}
    assert states[2] == states[1] | {(5, 50)}
    for g, want in states.items():
        got = {
            (r["k"], r["v"])
            for r in incremental.read_view(
                spark, root, as_of_gen=g
            ).collect()
        }
        assert got == want, f"gen {g}"
    with _pytest.raises(ValueError, match="future"):
        incremental.read_view(spark, root, as_of_gen=3)
    gen = incremental.compact(spark, root)
    # history before the compact is expired; the compact gen still reads
    got = {
        (r["k"], r["v"])
        for r in incremental.read_view(
            spark, root, as_of_gen=gen
        ).collect()
    }
    assert got == states[2]
    with _pytest.raises(ValueError, match="compact"):
        incremental.read_view(spark, root, as_of_gen=1)


def test_incremental_view_base_fingerprint_guard(spark, tmp_path):
    """ADVICE r11: a base artifact rebuilt IN PLACE after init must
    fail loudly at read time instead of silently mixing generations —
    the manifest records a structural fingerprint of every external
    base."""
    import pytest as _pytest

    from de_project_sprint_etl_spark.sources import incremental

    base_dir = tmp_path / "base"
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).write.parquet(str(base_dir))
    root = tmp_path / "view"
    incremental.init_view(root, [str(base_dir)])
    incremental.append_delta(
        spark.createDataFrame([(3, 30)], "k long, v long"), root, tag="d1"
    )
    assert _view_rows(spark, root) == {(1, 10), (2, 20), (3, 30)}
    # manual in-place rebuild of the base (the desync scenario)
    spark.createDataFrame(
        [(1, 11), (2, 22), (7, 77)], "k long, v long"
    ).write.mode("overwrite").parquet(str(base_dir))
    with _pytest.raises(ValueError, match="base changed on disk"):
        incremental.read_view(spark, root)
    # compaction is impossible too (it reads the view); re-init over
    # the rebuilt base is the documented remedy
    root2 = tmp_path / "view2"
    incremental.init_view(root2, [str(base_dir)])
    assert _view_rows(spark, root2) == {(1, 11), (2, 22), (7, 77)}


def test_incremental_view_auto_compact(spark, tmp_path):
    """``auto_compact_after`` bounds the merge-on-read anti-join chain:
    once the manifest accumulates that many delete members the commit
    triggers compaction — values identical before and after, manifest
    self-contained, delete chain reset."""
    from de_project_sprint_etl_spark.sources import incremental

    base_dir = tmp_path / "base"
    spark.createDataFrame(
        [(i, i * 10) for i in range(1, 8)], "k long, v long"
    ).write.parquet(str(base_dir))
    root = tmp_path / "view"
    incremental.init_view(root, [str(base_dir)])
    want = {(i, i * 10) for i in range(1, 8)}
    for day in (1, 2, 3, 4):
        k = day  # upsert: recompute row k
        incremental.append_delta(
            spark.createDataFrame([(k, k * 1000)], "k long, v long"),
            root,
            tag=f"day{day}",
            deletes=[spark.createDataFrame([(k,)], "k long")],
            auto_compact_after=2,
        )
        want = {(a, b) for a, b in want if a != k} | {(k, k * 1000)}
        assert _view_rows(spark, root) == want, f"day {day}"
        n_del = sum(
            1
            for mm in incremental.read_manifest(root)["members"]
            if mm["kind"] == "delete"
        )
        assert n_del < 2, f"day {day}: delete chain not bounded"
    # compaction really fired: the view is self-contained
    import os

    m = incremental.read_manifest(root)
    assert all(not os.path.isabs(mm["path"]) for mm in m["members"])
    # tags survive compaction — idempotence keeps working afterwards
    assert incremental.has_tag(root, "day1")


def test_incremental_view_merge_upsert_and_delete_where(spark, tmp_path):
    """The MERGE / DELETE WHERE sugar: merge_upsert replaces touched
    keys and inserts new ones in one commit; delete_where drops the
    matched rows of the CURRENT view (post-upsert state) and leaves
    projected reads valid via its full-schema empty data member."""
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.sources import incremental

    base_dir = tmp_path / "base"
    spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 1.0) for i in range(1, 7)],
        "k long, grp string, v double",
    ).write.parquet(str(base_dir))
    root = tmp_path / "view"
    incremental.init_view(root, [str(base_dir)])

    up = spark.createDataFrame(
        [(2, "a", 200.0), (9, "c", 90.0)], "k long, grp string, v double"
    )
    incremental.merge_upsert(up, root, ["k"], tag="m1")

    def rows3():
        return {
            (r["k"], r["grp"], r["v"])
            for r in incremental.read_view(spark, root).collect()
        }

    got = rows3()
    assert (2, "a", 200.0) in got and (9, "c", 90.0) in got
    assert (2, "a", 2.0) not in got
    assert len(got) == 7

    # delete on post-upsert state: k=2 now matches v >= 90
    incremental.delete_where(
        spark, root, F.col("v") >= 90.0, ["k"], tag="d1"
    )
    got = rows3()
    assert {r[0] for r in got} == {1, 3, 4, 5, 6}
    # projected read survives the delete-only commit's empty member
    ks = {
        r["k"]
        for r in incremental.read_view(
            spark, root, columns=["k"]
        ).collect()
    }
    assert ks == {1, 3, 4, 5, 6}
    # an empty match is a valid no-op commit
    incremental.delete_where(
        spark, root, F.col("v") > 1e9, ["k"], tag="d2"
    )
    assert {r[0] for r in rows3()} == {1, 3, 4, 5, 6}


def test_incremental_view_change_feed(spark, tmp_path):
    """read_changes emits each commit's preimage deletes and postimage
    inserts in generation order; replaying the feed over the from-state
    reproduces the to-state; a range crossing a compaction raises."""
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.sources import incremental

    base_dir = tmp_path / "base"
    spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 1.0) for i in range(1, 7)],
        "k long, grp string, v double",
    ).write.parquet(str(base_dir))
    root = tmp_path / "view"
    incremental.init_view(root, [str(base_dir)])
    incremental.merge_upsert(
        spark.createDataFrame(
            [(2, "a", 200.0), (9, "c", 90.0)], "k long, grp string, v double"
        ),
        root,
        ["k"],
        tag="m1",
    )
    incremental.delete_where(
        spark, root, F.col("v") >= 90.0, ["k"], tag="d1"
    )

    def feed(frm, to=None):
        return {
            (r["change_type"], r["commit_gen"], r["k"], r["grp"], r["v"])
            for r in incremental.read_changes(
                spark, root, frm, to, columns=["k", "grp", "v"]
            ).collect()
        }

    got = feed(0)
    assert got == {
        # gen 1: upsert — preimage of the existing key only (k=9 was
        # new), postimage of both
        ("delete", 1, 2, "b", 2.0),
        ("insert", 1, 2, "a", 200.0),
        ("insert", 1, 9, "c", 90.0),
        # gen 2: purge of v >= 90 evaluated on post-upsert state
        ("delete", 2, 2, "a", 200.0),
        ("delete", 2, 9, "c", 90.0),
    }
    # narrowed range sees only gen 2
    assert feed(1) == {
        ("delete", 2, 2, "a", 200.0),
        ("delete", 2, 9, "c", 90.0),
    }
    assert feed(2, 2) == set()
    # replay property: from-state + feed == to-state
    start = {
        (r["k"], r["grp"], r["v"])
        for r in incremental.read_view(
            spark, root, as_of_gen=0
        ).collect()
    }
    state = set(start)
    for ct, g, k, grp, v in sorted(
        feed(0), key=lambda c: (c[1], c[0] != "delete")
    ):
        if ct == "delete":
            state = {row for row in state if row[0] != k}
        else:
            state.add((k, grp, v))
    end = {
        (r["k"], r["grp"], r["v"])
        for r in incremental.read_view(spark, root).collect()
    }
    assert state == end
    # compaction collapses history: a crossing range refuses
    incremental.compact(spark, root)
    with pytest.raises(ValueError, match="compaction"):
        incremental.read_changes(spark, root, 0)


def test_incremental_view_schema_evolution(spark, tmp_path):
    """Additive evolution: a later commit carries a NEW column; earlier
    members fold in with it null. Projected reads, deletes on old
    keys, compaction, and time travel to the pre-evolution generation
    all behave; a column no member carries still fails."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.sources import incremental

    base_dir = tmp_path / "base"
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    ).write.parquet(str(base_dir))
    root = tmp_path / "view"
    incremental.init_view(root, [str(base_dir)])
    # evolved commit: adds column w, replaces k=2
    incremental.merge_upsert(
        spark.createDataFrame(
            [(2, 200.0, "x"), (4, 40.0, "y")], "k long, v double, w string"
        ),
        root,
        ["k"],
        tag="evo",
    )
    rows = {
        (r["k"], r["v"], r["w"])
        for r in incremental.read_view(
            spark, root, columns=["k", "v", "w"]
        ).collect()
    }
    assert rows == {
        (1, 10.0, None), (3, 30.0, None), (2, 200.0, "x"), (4, 40.0, "y"),
    }
    # unprojected read resolves the union the same way
    assert {
        (r["k"], r["v"], r["w"])
        for r in incremental.read_view(spark, root).collect()
    } == rows
    # time travel to gen 0 predates the column — read it without w,
    # and asking for w there fails (it did not exist yet)
    old = incremental.read_view(spark, root, columns=["k", "v"], as_of_gen=0)
    assert {(r["k"], r["v"]) for r in old.collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0)
    }
    with pytest.raises(AnalysisException):
        incremental.read_view(
            spark, root, columns=["k", "w"], as_of_gen=0
        ).collect()
    # delete on an old key, then compact: evolved schema survives
    incremental.delete_where(
        spark, root, F.col("k") == 1, ["k"], tag="purge"
    )
    incremental.compact(spark, root)
    rows = {
        (r["k"], r["v"], r["w"])
        for r in incremental.read_view(
            spark, root, columns=["k", "v", "w"]
        ).collect()
    }
    assert rows == {(3, 30.0, None), (2, 200.0, "x"), (4, 40.0, "y")}
    # typo safety: a column NO member carries still fails
    with pytest.raises(AnalysisException):
        incremental.read_view(
            spark, root, columns=["k", "nope"]
        ).collect()


def test_orders_upsert_view_auto_compacts_and_is_idempotent(spark):
    """The registered upsert chain must really exercise both protocol
    halves: after the three commits the manifest holds a compacted
    member (auto-compact fired after day 2) plus day 3's live
    delta/delete, tags survive, and a re-run commits nothing new."""
    import os

    from de_project_sprint_etl_spark.plans import warehouse
    from de_project_sprint_etl_spark.sources import incremental

    root = warehouse._orders_upsert_view(spark, SF)
    m = incremental.read_manifest(root)
    kinds = sorted(
        (mm["kind"], mm["path"].split("_")[0]) for mm in m["members"]
    )
    # one compacted data member, one day-3 delta, one day-3 delete
    assert kinds == [
        ("data", "compact"), ("data", "delta"), ("delete", "delete"),
    ], m["members"]
    assert all(not os.path.isabs(mm["path"]) for mm in m["members"])
    for tag in ("day1", "day2", "day3"):
        assert incremental.has_tag(root, tag)
    gen_before = m["gen"]
    root2 = warehouse._orders_upsert_view(spark, SF)
    assert root2 == root
    assert incremental.read_manifest(root)["gen"] == gen_before
    # the fold equals the closed-form restatement of raw orders
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.plans.testdata import t

    key = F.col("o_orderkey")
    want = (
        t(spark, SF, "orders")
        .select(
            key,
            F.when(F.col("o_orderstatus") == "P", F.lit("F"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            (
                F.when(key % 10 == 0, F.col("o_totalprice") * 2).otherwise(
                    F.col("o_totalprice")
                )
                + F.when(key % 7 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
            ).alias("o_totalprice"),
        )
    )
    got = incremental.read_view(
        spark, root, columns=warehouse._UPSERT_COLS
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_refresh_views_commit_increment_sized_files(spark):
    """The measured point of the in-place shape: the refresh commit
    must NOT contain a copy of the snapshot. For the append-only views,
    the committed internal members hold EXACTLY the increment's rows
    (view rows − referenced base rows) — zero base duplication — and
    the base is referenced by absolute path from its own artifact
    dir."""
    import os

    from de_project_sprint_etl_spark.plans import artifacts, llm
    from de_project_sprint_etl_spark.sources import incremental

    view_counts = {
        "mh_pairs_16x4_j05_refreshed": llm.refresh_minhash_pairs(
            spark, SF
        ).count(),
        "mut_stats_refreshed": llm.refresh_mutant_stats(spark, SF).count(),
    }
    for name, base in (
        ("mh_pairs_16x4_j05_refreshed", "mh_pairs_snap_16x4_j05"),
        ("mut_stats_refreshed", "doc_stats"),
    ):
        root = artifacts.path(SF, name, llm.DOCS)
        m = incremental.read_manifest(root)
        assert m is not None and "inc-mutants" in m["tags"], name
        internal = [
            mm for mm in m["members"] if not os.path.isabs(mm["path"])
        ]
        external = [
            mm for mm in m["members"] if os.path.isabs(mm["path"])
        ]
        assert internal and external, name
        assert all(mm["kind"] == "data" for mm in internal), name
        base_rows = spark.read.parquet(
            str(artifacts.path(SF, base, llm.DOCS))
        ).count()
        delta_rows = sum(
            spark.read.parquet(str(root / mm["path"])).count()
            for mm in internal
        )
        assert delta_rows == view_counts[name] - base_rows, (
            name,
            delta_rows,
            base_rows,
            view_counts[name],
        )


def _plan_of(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_view_reads_prune_and_stay_shuffle_sane(spark):
    """Plan pins for the manifest views: (a) the attributes view's
    member projection reaches the base scan — doc_stats stores extra
    raw-document columns (lang, ...) the view must never read; (b) the
    exact-pair refresh view plans no cartesian product (the delete
    anti-joins are broadcast hash joins on increment-sized files)."""
    from de_project_sprint_etl_spark.plans import llm

    stats_plan = _plan_of(llm.refresh_mutant_stats(spark, SF))
    assert "lang" not in stats_plan, "base-member column pruning lost"

    pair_plan = _plan_of(RAW_QUERIES["incremental_exact_pair_refresh"](spark, SF))
    assert "CartesianProduct" not in pair_plan
    mh_plan = _plan_of(RAW_QUERIES["incremental_pair_refresh"](spark, SF))
    assert "CartesianProduct" not in mh_plan
    # round-11 newcomers: the time-travel read is the PRUNED base scan
    # alone (no later member unioned in, no join at all), and the
    # upsert aggregate folds its live delete member as a hash
    # anti-join, never a cartesian
    tt_plan = _plan_of(RAW_QUERIES["incremental_time_travel"](spark, SF))
    assert "lang" not in tt_plan, "as-of-0 read lost base column pruning"
    assert "Join" not in tt_plan, (
        "gen-0 time travel must fold zero deletes and zero deltas"
    )
    uo_plan = _plan_of(RAW_QUERIES["incremental_upsert_orders"](spark, SF))
    assert "CartesianProduct" not in uo_plan
    dw_plan = _plan_of(RAW_QUERIES["incremental_delete_where"](spark, SF))
    assert "CartesianProduct" not in dw_plan
    cf_plan = _plan_of(RAW_QUERIES["incremental_changes_feed"](spark, SF))
    assert "CartesianProduct" not in cf_plan
    svi_plan = _plan_of(RAW_QUERIES["streaming_view_ingest"](spark, SF))
    assert "CartesianProduct" not in svi_plan


def test_streaming_ingest_exactly_once_under_replay(spark, tmp_path):
    """The streaming half of the manifest protocol: a stable checkpoint
    pins batch composition; the batch tag makes replays no-ops. Drain,
    resume (no new commits), then delete the checkpoint and re-drain
    from scratch — every batch replays and every commit is skipped, so
    the view holds each event exactly once through all three runs."""
    import datetime
    import shutil

    from de_project_sprint_etl_spark.sources import incremental
    from de_project_sprint_etl_spark.streaming import jobs

    rows = [
        (
            i,
            datetime.datetime(2022, 3, 1, 0, 0, i),
            i % 7,
            "click" if i % 3 else "buy",
            float(i),
            "{}",
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, schema=jobs.EVENTS_STREAM_SCHEMA)
    src = tmp_path / "src"
    df.repartition(6).write.parquet(str(src))
    base = tmp_path / "base"
    df.limit(0).write.parquet(str(base))
    root = tmp_path / "view"
    ckpt = root / "_checkpoint"
    incremental.init_view(root, [str(base)])

    def drain():
        jobs.ingest_stream_into_view(
            jobs.read_event_stream(spark, str(src), max_files=2),
            root,
            ckpt,
        )

    drain()
    m1 = incremental.read_manifest(root)
    assert m1["gen"] == 3, "6 files at 2/batch must commit 3 batches"
    want = {r["event_id"] for r in df.collect()}

    def got_ids():
        return {
            r["event_id"]
            for r in incremental.read_view(
                spark, root, columns=["event_id"]
            ).collect()
        }

    assert got_ids() == want
    # resume: the checkpoint holds committed offsets — nothing replays
    drain()
    assert incremental.read_manifest(root)["gen"] == 3
    # full replay: fresh checkpoint re-presents every batch; tags skip
    # (and the recorded file listings match, so the provenance guard
    # stays quiet)
    shutil.rmtree(ckpt)
    drain()
    assert incremental.read_manifest(root)["gen"] == 3
    assert got_ids() == want
    # provenance guard: a tag whose recorded composition differs from
    # what the replay presents must fail loudly, not skip silently
    from pyspark.errors.exceptions.captured import StreamingQueryException

    # notes survive compaction alongside tags
    incremental.compact(spark, root)
    assert incremental.get_note(root, "batch-0") is not None
    assert incremental.has_tag(root, "batch-0")
    root2 = tmp_path / "poisoned"
    incremental.init_view(root2, [str(base)])
    incremental.append_delta(
        df.limit(0),
        root2,
        tag="batch-0",
        note={"files": ["file:///somewhere/else.parquet"]},
    )
    with pytest.raises(StreamingQueryException, match="composition"):
        jobs.ingest_stream_into_view(
            jobs.read_event_stream(spark, str(src), max_files=2),
            root2,
            root2 / "_checkpoint",
        )


def test_streaming_ingest_transform_hook(spark, tmp_path):
    """The per-batch transform runs BEFORE the commit — the batch-
    operator reuse point: ingest with a filter+projection and the view
    holds exactly the transformed rows."""
    import datetime

    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.sources import incremental
    from de_project_sprint_etl_spark.streaming import jobs

    rows = [
        (
            i,
            datetime.datetime(2022, 3, 1, 0, 0, i),
            i % 7,
            "click" if i % 3 else "buy",
            float(i),
            "{}",
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, schema=jobs.EVENTS_STREAM_SCHEMA)
    src = tmp_path / "src"
    df.repartition(4).write.parquet(str(src))
    base = tmp_path / "base"
    df.select("event_id", "value").limit(0).write.parquet(str(base))
    root = tmp_path / "view"
    incremental.init_view(root, [str(base)])
    jobs.ingest_stream_into_view(
        jobs.read_event_stream(spark, str(src), max_files=2),
        root,
        root / "_checkpoint",
        transform=lambda b: b.filter(
            F.col("event_type") == "buy"
        ).select("event_id", "value"),
    )
    got = {
        (r["event_id"], r["value"])
        for r in incremental.read_view(spark, root).collect()
    }
    assert got == {(i, float(i)) for i in range(0, 40, 3)}


# --- N-day refresh soak (VERDICT r10 #3) -----------------------------------


def test_minhash_refresh_soak_five_days(spark):
    """k=5 successive increments, each committed through the manifest
    views: after EVERY step the pair view equals the full rebuild over
    snapshot ∪ slices[0..j] (exact row set), a crashed commit injected
    mid-soak stays invisible, and compaction at the end preserves the
    final state. This is the reference's multi-day merge invariant
    (increments processed exactly once, never duplicated), proven per
    step rather than once."""
    import shutil

    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions import dedup
    from de_project_sprint_etl_spark.plans import artifacts, llm
    from de_project_sprint_etl_spark.sources import incremental

    for suffix in ("soaktest",):
        for name in (f"mh_sigs_{suffix}", f"mh_pairs_{suffix}"):
            shutil.rmtree(artifacts.path(SF, name, llm.DOCS), ignore_errors=True)
    sigs_root, pairs_root = llm.init_minhash_soak(spark, SF, "soaktest")

    def rebuilt_through(j):
        sh = llm.mutant_shingles(spark, SF, n=3).filter(
            (F.col("id") < llm.MUT_OFFSET)
            | (F.col("id") % (5 * llm.MUT_SLICES) <= 5 * j)
        )
        sigs = dedup.minhash_signatures(shingles=sh, num_hashes=16)
        return {
            (r["id_a"], r["id_b"], r["est_jaccard"])
            for r in dedup.minhash_lsh_pairs(
                sigs, num_hashes=16, bands=4, min_est_jaccard=0.5
            ).collect()
        }

    def view_pairs():
        return {
            (r["id_a"], r["id_b"], r["est_jaccard"])
            for r in incremental.read_view(spark, pairs_root).collect()
        }

    for j in range(llm.MUT_SLICES):
        if j == 2:
            # crash injected "yesterday": a delta directory landed but
            # its manifest publish never happened — must stay invisible
            spark.createDataFrame(
                [(1, 2, 0.99)], "id_a long, id_b long, est_jaccard double"
            ).write.mode("overwrite").parquet(
                str(pairs_root / "delta_09999")
            )
        llm.minhash_soak_step(spark, SF, sigs_root, pairs_root, j)
        assert view_pairs() == rebuilt_through(j), f"diverged at day {j}"
        # per-view idempotence: re-running the day is a no-op commit
        gen_before = incremental.read_manifest(pairs_root)["gen"]
        llm.minhash_soak_step(spark, SF, sigs_root, pairs_root, j)
        assert incremental.read_manifest(pairs_root)["gen"] == gen_before

    final = view_pairs()
    # the full-corpus rebuild is exactly day MUT_SLICES-1
    full = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in llm.minhash_pairs(spark, SF).collect()
    }
    assert final == full
    incremental.compact(spark, pairs_root)
    assert view_pairs() == final


def test_ngram_refresh_matches_rebuild_property(spark):
    """Property generalization of the crafted crossing fixture: random
    tiny corpora over a 6-token alphabet (dense shingle collisions ⇒
    frequent df-cut crossings), random increments, tight cuts — the
    refresh must equal the full rebuild value-for-value on EVERY
    draw."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions import dedup

    word = st.sampled_from(["a", "b", "c", "d", "e", "f"])
    doc = st.lists(word, min_size=3, max_size=7).map(" ".join)

    @settings(max_examples=6, deadline=None)
    @given(
        snap=st.lists(doc, min_size=2, max_size=6),
        inc=st.lists(doc, min_size=1, max_size=3),
        cut=st.integers(min_value=1, max_value=4),
    )
    def check(snap, inc, cut):
        j = 0.3
        snap_docs = spark.createDataFrame(
            [(i + 1, t) for i, t in enumerate(snap)],
            "doc_id long, text string",
        )
        inc_docs = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(inc)],
            "doc_id long, text string",
        )
        snap_sh = dedup._exploded_shingles(snap_docs, "text", "doc_id", 3)
        inc_sh = dedup._exploded_shingles(inc_docs, "text", "doc_id", 3)
        census = snap_sh.groupBy("shingle").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        snap_pairs = dedup.ngram_jaccard_pairs(
            shingles=snap_sh, min_jaccard=j, max_shingle_df=cut
        )
        refreshed = _pairs_set(
            dedup.ngram_refresh_pairs(
                snap_pairs, census, snap_sh, inc_sh,
                min_jaccard=j, max_shingle_df=cut,
                cache_tag="t_ngprop",
            )
        )
        rebuilt = _pairs_set(
            dedup.ngram_jaccard_pairs(
                shingles=snap_sh.unionByName(inc_sh),
                min_jaccard=j,
                max_shingle_df=cut,
            )
        )
        assert refreshed == rebuilt, (snap, inc, cut)

    check()


def test_incremental_view_model_property(spark, tmp_path):
    """Model-based check of the manifest protocol: a random sequence of
    append / append-with-delete / compact operations against a plain
    Python dict model — the view must equal the model after every
    op."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from de_project_sprint_etl_spark.sources import incremental

    op = st.one_of(
        st.tuples(
            st.just("append"),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=9),
                    st.integers(min_value=0, max_value=99),
                ),
                min_size=1,
                max_size=4,
            ),
            st.lists(st.integers(min_value=0, max_value=9), max_size=3),
        ),
        st.tuples(st.just("compact"), st.none(), st.none()),
    )

    counter = [0]

    @settings(max_examples=5, deadline=None)
    @given(ops=st.lists(op, min_size=1, max_size=5))
    def check(ops):
        counter[0] += 1
        root = tmp_path / f"view_{counter[0]}"
        base = tmp_path / f"base_{counter[0]}"
        model = {1: 10, 2: 20}
        spark.createDataFrame(
            list(model.items()), "k long, v long"
        ).write.parquet(str(base))
        incremental.init_view(root, [str(base)])
        history = {0: dict(model)}
        last_compact = 0
        for i, (kind, rows, dels) in enumerate(ops):
            if kind == "compact":
                incremental.compact(spark, root)
                last_compact = incremental.read_manifest(root)["gen"]
            else:
                # each commit is an UPSERT (the refresh shape): delete
                # the named keys AND every appended key from prior
                # generations, then add the new rows — drop-then-add
                dedup_rows = {k: v for k, v in rows}
                dels_full = sorted(set(dels) | set(dedup_rows))
                for k in dels_full:
                    model.pop(k, None)
                model.update(dedup_rows)
                incremental.append_delta(
                    spark.createDataFrame(
                        list(dedup_rows.items()), "k long, v long"
                    ),
                    root,
                    tag=f"op{i}",
                    deletes=[
                        spark.createDataFrame(
                            [(k,) for k in dels_full], "k long"
                        )
                    ],
                )
            got = {
                r["k"]: r["v"]
                for r in incremental.read_view(spark, root).collect()
            }
            assert got == model, (ops, i)
            history[incremental.read_manifest(root)["gen"]] = dict(model)
        # time travel reproduces every retained historical state
        for g, snap in history.items():
            if g < last_compact:
                continue
            got_g = {
                r["k"]: r["v"]
                for r in incremental.read_view(
                    spark, root, as_of_gen=g
                ).collect()
            }
            assert got_g == snap, (ops, "as_of", g)
        # change-feed replay over the oldest retained state reproduces
        # the final state (deletes before inserts within a generation)
        top = incremental.read_manifest(root)["gen"]
        if top > last_compact:
            ch = incremental.read_changes(
                spark, root, last_compact, columns=["k", "v"]
            ).collect()
            state = dict(history[last_compact])
            for r in sorted(
                ch,
                key=lambda r: (r["commit_gen"], r["change_type"] != "delete"),
            ):
                if r["change_type"] == "delete":
                    state.pop(r["k"], None)
                else:
                    state[r["k"]] = r["v"]
            assert state == history[top], (ops, "replay")

    check()


def test_ngram_refresh_soak_five_days_with_daily_crossings(spark):
    """The EXACT tier's k-day soak — the chained form of the census
    merge: day j's crossings are shingles whose RUNNING df steps over
    the cut on day j (at cut 3 this fixture crosses every day), so the
    census/stream/pair views must all be maintained exactly. After
    every day: pair view == full PPJoin rebuild over snapshot ∪
    days-so-far, census view == full census rebuild, a crashed commit
    stays invisible, and re-running a day is a no-op."""
    import shutil

    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions import dedup
    from de_project_sprint_etl_spark.plans import artifacts, llm
    from de_project_sprint_etl_spark.sources import incremental

    cut = 3
    for name in (
        f"ngram_pairs_exsoaktest_c{cut}",
        "ngram_stream_exsoaktest",
        "ngram_census_exsoaktest",
    ):
        shutil.rmtree(artifacts.path(SF, name, llm.DOCS), ignore_errors=True)
    pairs_root, stream_root, census_root = llm.init_ngram_soak(
        spark, SF, cut, "exsoaktest"
    )

    def stream_through(j):
        return llm.mutant_shingles(spark, SF, n=3).filter(
            (F.col("id") < llm.MUT_OFFSET)
            | (F.col("id") % (5 * llm.MUT_SLICES) <= 5 * j)
        )

    crossings_seen = 0
    prev_census_rows = {
        r["shingle"]: r["df"]
        for r in incremental.read_view(spark, census_root).collect()
    }
    for j in range(llm.MUT_SLICES):
        if j == 1:
            # crashed commit from "yesterday": delta landed, manifest
            # publish lost — must stay invisible to every later day
            spark.createDataFrame(
                [(1, 2, 1, 1, 1, 1.0)],
                "id_a long, id_b long, shared long, n_a long, n_b long,"
                " jaccard double",
            ).write.mode("overwrite").parquet(
                str(pairs_root / "delta_09999")
            )
        llm.ngram_soak_step(
            spark, SF, pairs_root, stream_root, census_root, j, cut
        )
        # census view == full rebuild
        got_census = {
            r["shingle"]: r["df"]
            for r in incremental.read_view(spark, census_root).collect()
        }
        want_census = {
            r["shingle"]: r["df"]
            for r in stream_through(j)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
            .collect()
        }
        assert got_census == want_census, f"census diverged at day {j}"
        # count this day's crossings (shingles stepping over the cut)
        crossings_seen += sum(
            1
            for s, df in got_census.items()
            if 1 <= prev_census_rows.get(s, 0) <= cut < df
        )
        prev_census_rows = got_census
        # pair view == full PPJoin rebuild at the cut
        got_pairs = _pairs_set(incremental.read_view(spark, pairs_root))
        want_pairs = _pairs_set(
            dedup.ngram_jaccard_pairs(
                shingles=stream_through(j),
                min_jaccard=0.3,
                max_shingle_df=cut,
            )
        )
        assert got_pairs == want_pairs, f"pairs diverged at day {j}"
        # idempotence: re-running the day commits nothing
        gen_before = incremental.read_manifest(pairs_root)["gen"]
        llm.ngram_soak_step(
            spark, SF, pairs_root, stream_root, census_root, j, cut
        )
        assert incremental.read_manifest(pairs_root)["gen"] == gen_before
    assert crossings_seen > 0, "fixture never crossed the cut — test is vacuous"
    # compaction preserves the final state
    final = _pairs_set(incremental.read_view(spark, pairs_root))
    incremental.compact(spark, pairs_root)
    assert _pairs_set(incremental.read_view(spark, pairs_root)) == final


def test_sharded_rank_property_with_ties_and_nulls(spark):
    """Property check: heavy ties, NULLs, and tiny sub-shard bounds —
    the sharded rank equals the sorted enumeration for every row."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from de_project_sprint_etl_spark.functions.ranking import (
        sharded_global_rank,
    )

    @settings(max_examples=8, deadline=None)
    @given(
        vals=st.lists(
            st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
            min_size=1,
            max_size=40,
        ),
        n_shards=st.integers(min_value=1, max_value=9),
        bound=st.integers(min_value=1, max_value=12),
    )
    def check(vals, n_shards, bound):
        rows = [(i + 1, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        got = {
            r["doc_id"]: r["rn"]
            for r in sharded_global_rank(
                df,
                "n_tokens",
                "doc_id",
                n_shards=n_shards,
                max_shard_rows=bound,
            ).collect()
        }
        order = sorted(
            rows,
            key=lambda r: (r[1] is None, -(r[1] or 0), r[0]),
        )
        want = {doc: i + 1 for i, (doc, _v) in enumerate(order)}
        assert got == want

    check()
