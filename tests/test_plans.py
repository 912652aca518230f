"""Physical-plan assertions: the scale claims in the docstrings and
README, checked against ``explain('formatted')`` output so a refactor
that silently degrades a plan (broadcast -> sort-merge, lost pushdown,
an extra shuffle) fails CI, not a production run.

These assert plan *shape*, not timings: shapes are stable across
machines; timings are not.
"""

from __future__ import annotations

import io
from decimal import Decimal
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from de_project_sprint_etl_spark.functions import dedup, similarity
from de_project_sprint_etl_spark.operators import retention

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    # formatted explain prints each node in the tree AND in the details
    # section; "(<id>) Exchange" appears once per physical node.
    return plan.count(") Exchange")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_week_assignment_is_broadcast_hash_join(spark):
    """The J2 range join's scale form must be a BroadcastHashJoin on the
    week truncation — not a nested-loop theta join over the fact table."""
    facts = spark.range(100).select(
        F.col("id").alias("customer_id"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int")).alias(
            "date_time"
        ),
    )
    weeks = retention.build_weeks(
        facts.select(F.col("date_time").alias("fact_date"))
    )
    plan = plan_of(retention.assign_week_period(facts, weeks, "date_time", how="equi"))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_week_assignment_range_form_is_broadcast_nested_loop(spark):
    """The parity (BETWEEN) form stays a *broadcast* nested-loop — never a
    cartesian over two shuffled sides."""
    facts = spark.range(100).select(
        F.col("id").alias("customer_id"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int")).alias(
            "date_time"
        ),
    )
    weeks = retention.build_weeks(
        facts.select(F.col("date_time").alias("fact_date"))
    )
    plan = plan_of(
        retention.assign_week_period(facts, weeks, "date_time", how="range_join")
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_exact_dedup_is_single_shuffle(spark, docs):
    """exact_dedup's contract is ONE hash-groupBy shuffle on the digest."""
    plan = plan_of(dedup.exact_dedup(docs))
    assert n_exchanges(plan) == 1, plan


def test_parquet_filter_pushdown_and_column_pruning(spark):
    """Filters and projections must reach the parquet scan: PushedFilters
    carries the predicate, ReadSchema carries only selected columns."""
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_custkey")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan
    assert "o_orderpriority" not in plan  # pruned from ReadSchema


def test_text_stats_is_pure_narrow_projection(spark, docs):
    """Quality scoring is a no-shuffle single-Project plan with no Python
    evaluation. (The stopword count uses a higher-order array filter,
    which is CodegenFallback in Spark — the projection stays JVM-side and
    interpreted-mode subexpression elimination covers the shared token
    subtrees; measured equal to a regex-only codegen formulation.)"""
    from de_project_sprint_etl_spark.functions import text

    plan = plan_of(text.with_text_stats(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_tokenize_projection_is_whole_stage_codegen(spark, docs):
    """The shared normalize/tokenize expressions compile into whole-stage
    codegen (starred Project) when no higher-order function is present."""
    from de_project_sprint_etl_spark.functions import text

    plan = plan_of(
        docs.select(F.size(text.tokens(F.col("text"))).alias("n_tokens"))
    )
    assert "* Project" in plan


def test_brute_force_ann_broadcasts_queries(spark, emb):
    """The query side must broadcast; the corpus side must not shuffle
    before the similarity projection (only the final top-k window may)."""
    q = emb.limit(3)
    plan = plan_of(similarity.brute_force_topk(emb, q, k=2))
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_lsh_ann_is_broadcast_equi_join(spark, emb):
    """Bucketed ANN turns the cross join into a bucket equi-join."""
    planes = similarity.hyperplanes(dim=16, n_planes=4)
    q = emb.limit(3)
    plan = plan_of(similarity.lsh_topk(emb, q, planes, k=2))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_ngram_jaccard_verifies_in_row_not_by_pair_agg(spark, docs):
    """The set-similarity join must verify candidates with an in-row
    array_intersect over per-doc sid arrays — never a count-per-pair
    hash aggregation (one key per CANDIDATE pair: quadratic in
    per-shingle df, measured 30 GB of spill at sf1). The df table that
    assigns dense sids must reach the posting stream as a broadcast
    join, and the posting-side windows may partition only by doc id —
    never by shingle (which would funnel the hottest posting list into
    one partition)."""
    plan = plan_of(dedup.ngram_jaccard_pairs(docs, n=3, max_shingle_df=5))
    assert "array_intersect" in plan, plan
    assert "BroadcastExchange" in plan, plan
    # no aggregate keyed by the candidate pair BEFORE the jaccard
    # filter: the only pair-keyed aggregate left is the final
    # output-sized distinct, whose grouping carries all six columns
    import re

    pair_aggs = [
        m
        for m in re.findall(r"HashAggregate\(keys=\[[^\]]*\]", plan)
        if "id_a" in m and "id_b" in m and "jaccard" not in m
    ]
    assert not pair_aggs, pair_aggs
    # posting windows: by id only, never by shingle
    assert not re.search(r"windowspecdefinition\(shingle", plan), plan
    # sid assignment is per-(df, bucket): the vocabulary window must be
    # PARTITIONED (the old unpartitioned form funneled the whole
    # vocabulary through one task; VERDICT r6 #7) — an unpartitioned
    # windowspecdefinition whose ordering starts with __df would be it
    assert not re.search(r"windowspecdefinition\(__df\S* ASC", plan) or re.search(
        r"windowspecdefinition\(__df\S*, __bkt", plan
    ), plan


def test_ngram_sid_bucketing_is_output_neutral(spark, docs):
    """Bucketed sid assignment (row_number within (df, hash-bucket) +
    exclusive offsets) must return EXACTLY the pairs of the single-
    bucket form — which reproduces the old global (df, shingle) order —
    because the prefix/positional filters are lossless under any
    consistent total order; bucketing may only change performance."""
    import de_project_sprint_etl_spark.functions.dedup as dd

    def run():
        return sorted(
            map(
                tuple,
                dd.ngram_jaccard_pairs(
                    docs, n=3, min_jaccard=0.2, max_shingle_df=50
                ).collect(),
            )
        )

    saved = dd.NGRAM_SID_BUCKETS
    try:
        dd.NGRAM_SID_BUCKETS = 1
        single = run()
        dd.NGRAM_SID_BUCKETS = 128
        bucketed = run()
    finally:
        dd.NGRAM_SID_BUCKETS = saved
    assert single == bucketed
    assert single, "expected a nonempty pair set from the docs fixture"


def test_fan_out_is_noop_for_many_split_input(spark):
    """fan_out must not inject an Exchange when the input already has
    enough splits — at 100 TB an unconditional repartition is a
    corpus-wide shuffle paid before any work."""
    from de_project_sprint_etl_spark.plans.llm import fan_out

    many = spark.range(0, 1000, 1, 32).select(
        F.col("id").alias("doc_id"), F.lit("some text").alias("text")
    )
    assert "Exchange" not in plan_of(fan_out(spark, many))
    # ...but an under-split input still fans out to full parallelism
    few = spark.range(0, 1000, 1, 1).select(
        F.col("id").alias("doc_id"), F.lit("some text").alias("text")
    )
    assert "Exchange" in plan_of(fan_out(spark, few))


def test_multi_table_lsh_is_broadcast_equi_join(spark, emb):
    """L-table LSH must stay ONE (table, bucket) equi-join with a
    broadcast query side — one explode instead of L self-joins, and the
    pair dedup shuffles only (query_id, neighbor_id, cos_sim), never the
    vectors."""
    tables = [similarity.hyperplanes(dim=16, n_planes=4, seed=s) for s in (1, 2)]
    plan = plan_of(similarity.lsh_topk_tables(emb, emb.limit(3), tables, k=2))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_ivf_index_probe_is_partition_pruned(spark, emb, tmp_path):
    """The materialized IVF index must be probed through partition
    pruning: the scan's PartitionFilters carries the probed-cell
    predicate, so unprobed cell directories are never listed — the
    sublinear serving path at corpus scale."""
    idx = str(tmp_path / "ivf_idx")
    cent = emb.filter(F.col("vec_id") % 100 == 0)
    similarity.build_ivf_index(emb, cent, idx)
    out = similarity.ivf_topk_indexed(
        spark, idx, emb.limit(3), cent, nprobe=1, k=2
    )
    plan = plan_of(out)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    # and the indexed form returns the same rows as the join form
    a = sorted(map(tuple, out.collect()))
    b = sorted(
        map(tuple, similarity.ivf_topk(emb, emb.limit(3), cent, nprobe=1, k=2).collect())
    )
    assert a == b


def test_minhash_signatures_single_aggregation(spark, docs):
    """All k min-hash components fold in ONE aggregation (one shuffle),
    not k passes: the plan has exactly one Exchange past the input."""
    # plain input (no fan-out repartition) isolates the operator's own
    # shuffle count
    plan = plan_of(dedup.minhash_signatures(docs, num_hashes=8))
    assert n_exchanges(plan) == 1, plan
    assert "BatchEvalPython" not in plan


def test_asof_join_is_one_shuffle_no_join(spark):
    """asof_join must compile to ONE key-partition exchange feeding a
    window — never a physical join node (the naive equi-join+window
    emulation explodes |probe|x|build| rows per key before cutting)."""
    from de_project_sprint_etl_spark.functions.asof import asof_join

    probe = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("pts"),
        F.col("id").alias("pid"),
    )
    build = spark.range(50).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 2).alias("bts"),
        (F.col("id") * 10.0).alias("bval"),
    )
    out = asof_join(probe, build, on=["k"], probe_ts="pts",
                    build_ts="bts", build_cols=["bval"])
    plan = plan_of(out)
    assert "Join" not in plan, plan
    assert n_exchanges(plan) == 1, plan
    assert "Window" in plan, plan


def test_partitioned_layout_prunes_at_scan(spark, tmp_path):
    """overwrite_layout + a partition predicate must show partition
    pruning in the scan (PartitionFilters), reading only the matching
    directory."""
    from de_project_sprint_etl_spark.sources import writers

    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    writers.overwrite_layout(
        orders, path, partition_by=["o_year"], sort_by=["o_orderdate"]
    )
    back = spark.read.parquet(path).filter(F.col("o_year") == 1998)
    plan = plan_of(back)
    assert "PartitionFilters: [" in plan and "o_year" in plan.split(
        "PartitionFilters"
    )[1][:200], plan
    n_total = spark.read.parquet(path).count()
    n_1998 = back.count()
    assert 0 < n_1998 < n_total


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed identically on the join key must join with
    ZERO exchanges — the write-time shuffle is amortized across reads."""
    from de_project_sprint_etl_spark.sources import writers

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        writers.save_bucketed_table(orders, "b_orders", ["o_orderkey"], 8)
        writers.save_bucketed_table(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem",
            ["o_orderkey"],
            8,
        )
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = plan_of(joined)
        assert n_exchanges(plan) == 0, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_tpch_q6_filters_reach_the_scan(spark):
    """Q6 must push its predicates into the parquet reader and contain
    no join and at most the single-row final combine exchange."""
    from de_project_sprint_etl_spark.plans import tpch

    plan = plan_of(tpch.q_tpch_q6(spark, SF))
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [")[1][:300]
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed
    assert "Join" not in plan, plan


def test_tpch_q5_broadcasts_all_dims(spark):
    """Q5's five-way star join must broadcast every dim — the fact
    table is exchanged exactly once, for the final group-by."""
    from de_project_sprint_etl_spark.plans import tpch

    plan = plan_of(tpch.q_tpch_q5(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # lineitem side: one shuffle total (the aggregation exchange);
    # broadcast exchanges don't move the fact table
    non_broadcast = [
        seg for seg in plan.splitlines()
        if ") Exchange" in seg and "broadcast" not in seg.lower()
    ]
    assert len(non_broadcast) == 1, plan


def test_unpivot_is_map_side_expand(spark):
    """unpivot must compile to a single Expand with ZERO exchanges —
    the melt is map-side row emission, not a UNION re-scan."""
    from de_project_sprint_etl_spark.plans import mlops

    plan = plan_of(mlops.q_unpivot_lineitem(spark, SF))
    assert "Expand" in plan, plan
    assert n_exchanges(plan) == 0, plan


def test_pivot_is_single_shuffle_no_discovery(spark):
    """Pinned-values pivot is ONE hash-aggregate shuffle on the group
    key (plus AQE's optional final coalesce) — pinning the value list
    must also keep plan construction job-free (no values-discovery
    collect)."""
    from de_project_sprint_etl_spark.plans import mlops
    from de_project_sprint_etl_spark.plans.testdata import t

    t(spark, SF, "orders").schema  # warm the scan's file-listing job
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    plan = plan_of(mlops.q_pivot_status_revenue(spark, SF))
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "pivot ran a values-discovery job"
    assert n_exchanges(plan) == 1, plan


def test_dataset_split_is_narrow(spark):
    """Hash-split assignment must stay a no-shuffle, no-Python narrow
    projection (one scan at 100 TB)."""
    from de_project_sprint_etl_spark.plans import mlops

    plan = plan_of(mlops.q_dataset_split(spark, SF))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_levenshtein_near_dup_is_hash_join_not_cross(spark):
    """The suffix-block candidate join must be an equi join (hash or
    sort-merge) — never a cartesian/nested-loop all-pairs pass — and
    the levenshtein verify must run post-join as a JVM filter."""
    from de_project_sprint_etl_spark.plans import mlops

    plan = plan_of(mlops.q_levenshtein_near_dup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """Scale guard #2 for skewed joins (salting is #1, test_operators):
    with AQE's skew-join on, a runtime-detected oversized partition is
    SPLIT rather than handed to one task. Thresholds are forced low so
    the synthetic hot key (one key owning ~90% of probe rows) trips
    the detector; the executed adaptive plan must carry the skew=true
    marker on the join's shuffle read."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        probe = spark.range(40_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        build = spark.range(5_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        joined = probe.join(build, "k")
        # execute the join plan ITSELF (count() builds a different tree
        # whose AQE finalization would not reflect on `joined`)
        assert len(joined.collect()) > 0
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_grouping_sets_single_expand_shuffle(spark):
    """Explicit grouping sets must lower to ONE Expand + one hash-agg
    shuffle — four separate group-bys unioned would scan 4x and
    shuffle 4x."""
    from de_project_sprint_etl_spark.plans import relational

    plan = plan_of(relational.q_grouping_sets_events(spark, SF))
    assert "Expand" in plan, plan
    assert n_exchanges(plan) == 1, plan


def test_schema_evolution_union_is_map_side(spark):
    """unionByName over drifted schemas is column alignment, not data
    movement: zero exchanges."""
    from de_project_sprint_etl_spark.plans import warehouse

    plan = plan_of(warehouse.q_schema_evolution_union(spark, SF))
    assert n_exchanges(plan) == 0, plan


def test_argmax_is_single_partial_aggregate(spark):
    """max_by must stay one partial-aggregatable agg (one exchange) —
    no window pass, no join-back to find the winning row."""
    from de_project_sprint_etl_spark.plans import warehouse

    plan = plan_of(warehouse.q_argmax_order_per_priority(spark, SF))
    assert n_exchanges(plan) == 1, plan
    assert "Window" not in plan, plan


def test_funnel_single_user_shuffle(spark):
    """The funnel's three stage-windows and the per-user collapse must
    share ONE user_id shuffle; only the final global count adds its
    single-partition exchange. No joins anywhere — the self-join funnel
    formulation explodes at scale."""
    from de_project_sprint_etl_spark.plans import warehouse

    plan = plan_of(warehouse.q_funnel(spark, SF))
    assert n_exchanges(plan) == 2, plan
    assert "Join" not in plan, plan


def test_scd2_windows_reuse_entity_shuffle(spark):
    """SCD2 build: after the (custkey, day) pre-aggregate, the run
    windows, per-run collapse, and validity lead must all reuse the
    o_custkey partitioning — exactly two exchanges end-to-end."""
    from de_project_sprint_etl_spark.plans import warehouse

    plan = plan_of(warehouse.q_scd2_customer_priority(spark, SF))
    assert n_exchanges(plan) == 2, plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level filtering: when the build side of a
    non-broadcast join carries a selective predicate, Spark injects a
    bloom filter of the build keys into the probe-side scan — at 100 TB
    this drops most probe rows BEFORE the shuffle. Thresholds are tuned
    (the local fixture is below the default 10 GB application-side
    floor); the assert pins that the rewrite fires on this engine
    version so an upgrade or conf regression is caught here."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_zorder_clusters_both_axes(spark, tmp_path):
    """Z-order write must give BOTH filter axes tight per-file bounds:
    each output file's x-range AND y-range stay well under the global
    range (a lexicographic sort on x leaves y scattered across the
    full range in every file). Verified from the written parquet
    footers — the same stats a scan's row-group skipping reads."""
    import glob

    import pyarrow.parquet as pq

    from de_project_sprint_etl_spark.functions.layout import overwrite_zorder

    n_side = 128  # x, y in [0, 128): 16384 rows on a full grid
    grid = spark.range(n_side * n_side).select(
        (F.col("id") % n_side).alias("x"),
        (F.col("id") / n_side).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    # shuffle the natural order so clustering is the writer's doing
    scrambled = grid.orderBy(F.md5(F.col("id").cast("string")))

    out = str(tmp_path / "zorder")
    overwrite_zorder(scrambled, out, zorder_by=["x", "y"], bits=7, n_files=16)

    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) >= 8, files
    spans = {"x": [], "y": []}
    for f in files:
        md = pq.read_metadata(f)
        for rg in range(md.num_row_groups):
            cols = {
                md.row_group(rg).column(i).path_in_schema: md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
            }
            for ax in spans:
                st = cols[ax].statistics
                spans[ax].append(st.max - st.min)
    for ax, sp in spans.items():
        mean_span = sum(sp) / len(sp)
        # a contiguous Morton block of 1/16th of the key space is a
        # tile with side ~ n_side/4 on each axis; allow 2x slack
        assert mean_span <= n_side / 2, (ax, mean_span, sorted(sp)[-3:])

    # round-trip integrity
    back = spark.read.parquet(out)
    assert back.count() == n_side * n_side
    assert back.agg(F.sum("payload")).collect()[0][0] == sum(
        range(n_side * n_side)
    )


def test_source_capping_gets_rank_limit_pushdown(spark):
    """The per-source row_number ≤ N cap must trigger Spark's
    WindowGroupLimit rewrite: each map task pre-filters its partition
    to the per-key top-N BEFORE the shuffle (partial) and again after
    (final), so a source with a billion rows ships ~N rows per task
    instead of all of them — the difference between a cap that works
    at 100 TB and one that shuffles the whole corpus."""
    from de_project_sprint_etl_spark.plans import mlops

    plan = plan_of(mlops.q_source_capped_sample(spark, SF))
    assert "WindowGroupLimit" in plan, plan


def test_cohort_status_filter_pushes_into_materialized_log(spark):
    """The cohort status filter must reach the materialized order-log
    parquet scan as a PushedFilter — at 100 TB the refunded cohort
    reads ~the refunded fraction of the log, not all of it. Guards the
    order_log_v2_cached indirection against swallowing pushdown."""
    from de_project_sprint_etl_spark.operators import retention
    from de_project_sprint_etl_spark.plans import testdata as td

    # other tests persist() this subtree; a CacheManager hit would swap
    # in an InMemoryRelation and hide the scan we are asserting on
    spark.catalog.clearCache()
    v2 = td.order_log_v2_decimal(spark, SF)
    weeks = td.weeks_dim_cached(spark, SF)
    plan = plan_of(retention.cohort_base(v2, weeks, ("shipped",), item=False))
    assert "EqualTo(status,shipped)" in plan, plan
    # both marts read one two-status frame: the IN list must reach the
    # same scan
    plan = plan_of(retention.cohort_base(v2, weeks, retention.STATUSES, item=True))
    scan = next(node for node in plan.split("\n\n") if "/order_log_v2]" in node)
    assert "PushedFilters: [In(status, [refunded,shipped])]" in scan, plan


def test_scan_coerces_drifted_fixture_types(spark, tmp_path):
    """The fixture generator has changed physical types between rounds
    (round 2 lost every events query to exactly this); t() must coerce
    drifted columns back to the canonical logical schema while leaving
    matching fixtures cast-free (pushdown test above pins the latter)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from de_project_sprint_etl_spark.plans.testdata import t

    drifted = pa.table(
        {
            "o_orderkey": pa.array([1, 2], pa.int32()),  # was int64
            "o_custkey": pa.array([10, 20], pa.int64()),
            "o_orderstatus": pa.array(["O", "F"]),
            "o_totalprice": pa.array(
                [Decimal("1.50"), Decimal("2.25")], pa.decimal128(14, 2)
            ),  # was double
            "o_orderdate": pa.array([None, None], pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT", "5-LOW"]),
        }
    )
    pq.write_table(drifted, tmp_path / "orders.parquet")
    df = t(spark, str(tmp_path), "orders")
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got["o_orderkey"] == "bigint"
    assert got["o_totalprice"] == "double"
    rows = {r["o_orderkey"]: r["o_totalprice"] for r in df.collect()}
    assert rows[1] == 1.5 and rows[2] == 2.25


def test_new_round3_ops_stay_jvm_side(spark):
    """bigram LM / BM25 / BPE / k-means / PageRank plans contain no
    row-at-a-time Python (pure Catalyst expressions + joins)."""
    import __spark_entry__  # noqa: F401  (populates the registry)
    from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES

    for name in (
        "bigram_lm_score",
        "bm25_topk_docs",
        "bpe_merge_candidates",
        "kmeans_embeddings",
        "pagerank_copurchase",
        "triangle_count_copurchase",
        "ivm_customer_revenue",
    ):
        plan = plan_of(RAW_QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_kmeans_assignment_broadcasts_centroids(spark):
    """The assign step must be a broadcast nested-loop against k centroid
    rows — the corpus side never shuffles for assignment."""
    from de_project_sprint_etl_spark.functions import clustering
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("ev"))
    cent = e.limit(4).select(F.lit(0).alias("cid"), F.col("ev").alias("cv"))
    plan = plan_of(clustering.kmeans_assign(e, cent))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_session2_ops_stay_jvm_side(spark):
    """SemDeDup / DSIR / linreg / PQ family / BPE encode plans contain
    no row-at-a-time Python (pure Catalyst expressions + joins)."""
    import __spark_entry__  # noqa: F401
    from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES

    for name in (
        "semdedup_embeddings",
        "dsir_importance_weights",
        "linreg_quality_train",
        "pq_encode_embeddings",
        "pq_adc_topk",
        "ivfpq_topk",
        "bpe_encode_vocab",
        "bpe_token_accounting",
    ):
        plan = plan_of(RAW_QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_dsir_ratio_table_broadcasts(spark):
    """DSIR's per-bucket log-ratio table (<=512 rows) must reach the
    per-doc feature stream as a broadcast join — the corpus never
    shuffles for the scoring join."""
    import __spark_entry__  # noqa: F401
    from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES

    plan = plan_of(RAW_QUERIES["dsir_importance_weights"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_ivfpq_distance_join_is_candidate_confined(spark):
    """IVF pruning must cut COMPUTE: the distance-table join has to
    carry the query_id key (the candidate-confined path), so ADC work
    happens only on probed (query, vector) pairs — never a full
    corpus x distance-table join followed by a post-hoc filter."""
    import re

    import __spark_entry__  # noqa: F401
    from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES

    plan = plan_of(RAW_QUERIES["ivfpq_topk"](spark, SF))
    # formatted explain lists join keys as "Left keys [n]: [...]" detail lines
    key_lines = re.findall(r"keys \[\d+\]: \[[^\]]*\]", plan)
    assert any(
        "query_id" in k and "grp" in k and "cid" in k for k in key_lines
    ), key_lines


def test_adaptive_ivf_counts_corpus_once_per_session(spark):
    """VERDICT r5 #5: the adaptive stride's corpus count is a property
    of (session, corpus), not of the invocation — building the plan a
    second time must run ZERO new Spark jobs (the count is served from
    _EMB_COUNT_CACHE; everything else in the build is lazy)."""
    from de_project_sprint_etl_spark.plans import llm
    from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES

    build = RAW_QUERIES["ann_ivf_topk_adaptive"]
    build(spark, SF)  # warm: count job + any listing work
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    build(spark, SF)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "rebuild re-ran the corpus count job"
    # and the memo is keyed to THIS session + current fixture stat
    from de_project_sprint_etl_spark.functions.caching import _SESSION_VALUES

    assert any(k[0] == id(spark) for k in _SESSION_VALUES["emb_count"]), llm


def test_pack_efficiency_curve_is_exact_ceil_accounting(spark):
    """Each curve point must equal the independent Python ceil-division
    accounting over the same token counts, and waste must be
    non-decreasing in max_len once chunks stop splitting (longer
    contexts only add padding for short docs)."""
    from de_project_sprint_etl_spark.functions.text import tokens as tok_fn
    from de_project_sprint_etl_spark.plans import mlops
    from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES
    from de_project_sprint_etl_spark.plans.testdata import t as t_

    sf = "/root/testdata/sf0.001"
    rows = {
        r.max_len: r for r in RAW_QUERIES["pack_efficiency_curve"](spark, sf).collect()
    }
    assert set(rows) == set(mlops.PACK_CURVE_LENS)
    nts = [
        r.nt
        for r in t_(spark, sf, "documents")
        .select(F.size(tok_fn(F.col("text"))).cast("long").alias("nt"))
        .collect()
    ]
    total = sum(nts)
    for L, r in rows.items():
        chunks = sum((nt + L - 1) // L for nt in nts)
        assert r.n_docs == len(nts)
        assert r.total_tokens == total
        assert r.n_chunks == chunks
        assert r.padded_tokens == chunks * L
        assert abs(r.waste_frac - round(1 - total / max(chunks * L, 1), 6)) < 2e-6


def test_round8_tuning_ops_prune_their_scans(spark):
    """The round-8 single-pass aggregates must stay single-pass at the
    scan layer: each reads ONLY the columns it needs (a 16-column
    lineitem scan under a 1-column estimator would be wrong at 100 TB)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    qs = em.queries()
    plan = plan_of(qs["join_cardinality_estimate"](spark, sf))
    assert "ReadSchema: struct<l_partkey:bigint>" in plan
    plan = plan_of(qs["pack_efficiency_curve"](spark, sf))
    assert "ReadSchema: struct<text:string>" in plan
    assert "doc_id" not in plan  # pruned


def _reference_lpa(edges, rounds):
    """Synchronous LPA in plain Python: each round a node adopts its
    neighbors' most frequent label, ties to the smaller label."""
    from collections import Counter

    adj: dict[int, list[int]] = {}
    for src, dst in edges:
        adj.setdefault(src, []).append(dst)
    lbl = {v: v for v in adj}
    for _ in range(rounds):
        lbl = {
            v: max(
                Counter(lbl[u] for u in nbrs).items(),
                key=lambda kv: (kv[1], -kv[0]),
            )[0]
            for v, nbrs in adj.items()
        }
    return lbl


def test_label_propagation_matches_reference_lpa(spark):
    """3-round synchronous LPA recomputed independently in Python
    (most-frequent neighbor label, ties to the smaller label) must equal
    the engine output node-for-node, and must find more than one
    community (frequency voting yields sub-component structure where
    min-id contraction would collapse to components)."""
    import __spark_entry__ as em
    from de_project_sprint_etl_spark.functions import graph
    from de_project_sprint_etl_spark.plans.testdata import t as t_

    sf = "/root/testdata/sf0.001"
    got = {
        r.node: r.community
        for r in em.queries()["label_propagation_communities"](spark, sf).collect()
    }
    edges = [
        (e.src, e.dst)
        for e in graph.copurchase_edges(t_(spark, sf, "lineitem")).collect()
    ]
    lbl = _reference_lpa(edges, 3)
    assert got == lbl
    # every community label is a real seed node (labels only ever copy
    # existing ids). Sub-component structure is corpus-dependent: the
    # tiny sf0.001 graph collapses to one label in 3 rounds; sf0.01
    # yields 3 communities over 2000 nodes (checked while landing).
    assert set(got.values()) <= set(lbl)
    # two disjoint cliques: every member adopts its clique's min id
    cliques = [
        (a, b)
        for g in (range(1, 6), range(10, 17))
        for a in g
        for b in g
        if a != b
    ]
    got = {
        r.node: r.community
        for r in graph.label_propagation(
            spark.createDataFrame(cliques, "src long, dst long"), rounds=6
        ).collect()
    }
    assert got == _reference_lpa(cliques, 6)
    assert set(got.values()) == {1, 10}
