"""Graph analytics over relational tables: co-occurrence graph building
and PageRank.

Reference parity: the reference (MatthewS-M/de-project-sprint-ETL) has
no graph operators — this extends the engine's iterative-algorithm tier
(next to ``functions.dedup.dup_groups``' connected components) with a
*weighted* fixed-point iteration.

Cross-engine determinism: ranks are scaled integers (``SCALE = 1e12``)
and every update uses integer division only, so Spark and the DuckDB
oracle produce bit-identical bigints — no floating-point accumulation
order to control. The price is floor-rounding mass loss per iteration
(~1 ulp per edge), irrelevant for ranking and shared by both engines.

Scale notes: each iteration is one shuffle (edges ⋈ ranks on ``src``,
then a partial-combined groupBy on ``dst``). Out-degrees are computed
once. Iterations are a fixed small count (power iteration converges
geometrically; 3–5 suffices for ranking stability). At 100 TB the
ranks/edges co-partitioning should be pinned with bucketed storage so
the per-iteration join does not re-shuffle edges; here AQE handles it.
The co-purchase builder self-joins lineitem on the order key — per-order
fan-out is bounded by items-per-order (≤7 in TPC-H-shaped data), so the
join output is linear in lineitem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000_000  # 1e12: integer rank mass, bigint-safe
PR_DAMP_NUM = 85  # damping 0.85 as a ratio of integers
PR_DAMP_DEN = 100


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Directed co-purchase graph: an edge ``src -> dst`` for every
    ordered pair of distinct parts appearing in the same order
    (symmetric by construction — both directions emitted). Distinct
    (order, part) first so multi-line parts don't multiply edges;
    distinct edges at the end so the graph is simple."""
    op = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
    ).dropDuplicates(["ok", "part"])
    other = op.select(F.col("ok"), F.col("part").alias("part2"))
    return (
        op.join(other, "ok")
        .filter(F.col("part") != F.col("part2"))
        .select(F.col("part").alias("src"), F.col("part2").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def pagerank(
    edges: DataFrame, iterations: int = 3, checkpoint_interval: int = 4
) -> DataFrame:
    """Integer-arithmetic PageRank over a simple directed graph with no
    dangling nodes (every node has out-edges — true for symmetric
    graphs like :func:`copurchase_edges`).

    ``r0 = SCALE div N``;
    ``r_{t+1}(v) = (15 * SCALE) div (100 * N)
                   + sum over in-edges (u,v) of (85 * r_t(u)) div (100 * outdeg(u))``.

    Output: ``node, rank`` (rank = scaled bigint). The edge set and the
    out-degree table are reused across iterations; persist them before
    calling when running many iterations.
    """
    # Adjacency with the out-degree folded in, hash-partitioned on src
    # and persisted ONCE: every iteration's join then exchanges only the
    # rank vector (O(nodes)) against the stationary edge partitioning —
    # re-shuffling the edge set per iteration is the classic PageRank
    # scale mistake. (At 100 TB the same idea is bucketed edge storage.)
    adj = (
        edges.join(
            edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src"
        )
        .repartition("src")
        .persist()
    )
    nodes = adj.select(F.col("src").alias("node")).distinct()
    # N is a driver-side scalar constant (same convergence-loop contract
    # as dedup.dup_groups' per-round count): inlining it as a literal
    # keeps the iteration plans free of a re-executed count subquery.
    n = nodes.count()
    # `div` (not `/` + cast): Spark's `/` on integers is DOUBLE division,
    # whose round-to-nearest can disagree with exact integer division by
    # one ulp on large operands — `div` matches DuckDB's `//` exactly.
    ranks = nodes.select(
        "node", F.lit(PR_SCALE // n).cast("long").alias("rank")
    )
    base = F.lit((15 * PR_SCALE) // (100 * n)).cast("long")
    for i in range(iterations):
        contribs = (
            adj.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"(CAST({PR_DAMP_NUM} AS BIGINT) * rank)"
                    f" div (CAST({PR_DAMP_DEN} AS BIGINT) * outdeg)"
                ).alias("contrib"),
            )
        )
        ranks = (
            contribs.groupBy("node")
            .agg(F.sum("contrib").alias("__in"))
            .select("node", (base + F.col("__in")).alias("rank"))
        )
        # The rank vector is O(nodes) — tiny next to the edge set.
        # Truncating its lineage periodically keeps a LONG loop's plan
        # (and driver re-planning) bounded — but each eager checkpoint
        # is a full extra job + materialization, and a short fixed
        # power-iteration nests fine as one lazy multi-stage job (each
        # iteration's output has exactly one consumer, so nothing
        # recomputes). Per-iteration checkpoints cost the registered
        # 3-iteration query ~1.1 s of its 3.4 s at sf0.1 (r12 A/B,
        # min-of-3, identical top-100 asserted); every
        # ``checkpoint_interval`` rounds keeps the long-loop discipline.
        if i < iterations - 1 and (i + 1) % checkpoint_interval == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def sql_copurchase_pagerank(
    lineitem_rel: str, iterations: int = 3, top_k: int | None = 100
) -> str:
    """DuckDB mirror of ``pagerank(copurchase_edges(lineitem))`` —
    iterations unrolled as CTEs, identical integer arithmetic. With
    ``top_k``, emits the k highest-ranked nodes (rank desc, node asc)
    stamped with a rank position."""
    its = []
    prev = "r0"
    for i in range(1, iterations + 1):
        its.append(
            f"""r{i} AS (
  SELECT e.dst AS node,
         -- DuckDB SUM(BIGINT) widens to HUGEINT; cast back so the
         -- result frame stays int64 like Spark's
         (15 * {PR_SCALE}) // (100 * (SELECT n FROM nn))
           + CAST(SUM(({PR_DAMP_NUM} * p.rank) // ({PR_DAMP_DEN} * d.outdeg))
                  AS BIGINT) AS rank
  FROM edges e
  JOIN {prev} p ON e.src = p.node
  JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
)"""
        )
        prev = f"r{i}"
    final = (
        f"""SELECT node, rank,
       CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS INT) AS pos
FROM {prev} ORDER BY rank DESC, node LIMIT {top_k}"""
        if top_k
        else f"SELECT node, rank FROM {prev}"
    )
    return f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM {lineitem_rel}
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.part AS src, b.part AS dst
  FROM op a JOIN op b ON a.ok = b.ok AND a.part <> b.part
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, {PR_SCALE} // (SELECT n FROM nn) AS rank FROM nodes),
{",".join(its)}
{final}
"""


def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_depth: int = 3
) -> DataFrame:
    """Multi-source breadth-first search: minimum hop distance from any
    source node, bounded at ``max_depth`` — the path primitive next to
    :func:`pagerank` (importance) and :func:`dup_groups` (components).

    Pregel shape: per level, the frontier equi-joins the stationary
    adjacency (hash-partitioned on src, persisted once — only the
    O(frontier) side moves per level), an anti-join against the settled
    set keeps first-discovery distances (= minimum, since levels are
    explored in order), and the new frontier is ``localCheckpoint``ed
    to flatten lineage like pagerank's rank vector. No driver-side
    convergence check: the depth bound is the loop bound, and an empty
    frontier just joins to empty — collect-free.

    Input: ``edges (src, dst)``, ``sources (node)``.
    Output: ``node, dist`` for every node within ``max_depth`` hops
    (sources at dist 0).
    """
    adj = edges.select("src", "dst").repartition("src").persist()
    settled = (
        sources.select("node")
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = settled
    for depth in range(1, max_depth + 1):
        reached = (
            frontier.join(adj, frontier["node"] == adj["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            reached.join(settled.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        settled = settled.unionByName(new)
        frontier = new
    # every level was materialized eagerly through its localCheckpoint,
    # so the returned union references only checkpointed RDDs — the
    # adjacency cache has served its purpose and can go now (otherwise
    # each invocation leaks a persisted edge copy for the session)
    adj.unpersist()
    return settled


def sql_copurchase_bfs(lineitem_rel: str, max_depth: int = 3) -> str:
    """DuckDB mirror of ``bfs_distances(copurchase_edges(lineitem),
    hub)`` where the source is the max-out-degree part (ties → smallest
    part id): depth-bounded recursive CTE with per-level dedup, then
    MIN(d) per node."""
    return f"""
WITH RECURSIVE op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM {lineitem_rel}
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.part AS src, b.part AS dst
  FROM op a JOIN op b ON a.ok = b.ok AND a.part <> b.part
),
hub AS (
  SELECT src AS node FROM edges
  GROUP BY src ORDER BY COUNT(*) DESC, src ASC LIMIT 1
),
reach(node, d) AS (
  SELECT node, 0 FROM hub
  UNION
  SELECT e.dst, r.d + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.d < {max_depth}
)
SELECT node, CAST(MIN(d) AS INT) AS dist FROM reach GROUP BY node
"""


# --- triangle counting ------------------------------------------------------


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), fully
    deterministic: every node starts labeled with its own id; each
    round, a node adopts its neighbors' MOST FREQUENT current label,
    ties broken toward the smaller label. ``rounds`` is a fixed bound
    (the Pregel-style supersteps), so the computation unrolls to a
    finite plan both engines can evaluate identically — no convergence
    race, no async update order.

    Per round: one edges-by-dst equi-join against the current label
    frame, then a (node, label) partial-combined count and a per-node
    HASH-AGG argmax: ``max(struct(c, -lbl))`` reproduces the
    (count DESC, label ASC) vote without a sort window, and is total
    because (node, label) rows are distinct post-count. The edge set is
    re-scanned per round (a pruned columnar read of the cached edge
    parquet — measured cheaper at bench scale than a per-invocation
    repartition+persist round-trip; at a real 100 TB run the edges
    would be bucketed on dst once, pagerank's stationary-adjacency
    discipline). Expects a symmetric edge set (every node appears as
    ``src``). Output: ``node, community``."""
    adj = edges
    labels = adj.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    # Argmax by (count DESC, label ASC) as max() of ONE bigint:
    # v = c * 2^32 + (2^32-1 - lbl). max(struct) plans as a
    # SortAggregate (struct buffers are not hash-agg mutable), which
    # cost a second full sort+exchange of the vote stream per round;
    # max(long) is a plain codegen HashAggregate. The packing is exact
    # while 0 <= lbl < 2^32 and c < 2^30 — guarded per row by
    # assert_true (one branch, codegen), so out-of-range labels fail
    # loudly instead of voting wrong. The explicit repartition by node
    # lets BOTH aggregations ride one exchange (hash(node) satisfies
    # the (node, lbl) clustering), halving the per-round shuffles; the
    # map-side combine it forgoes is a no-op on a mixing graph (one
    # vote per (node, lbl) per neighbor).
    _shift = F.lit(1 << 32).cast("long")
    _mask = F.lit((1 << 32) - 1).cast("long")
    for _ in range(rounds):
        nl = adj.join(
            labels.select(F.col("node").alias("dst"), "lbl"), "dst"
        ).select(F.col("src").alias("node"), "lbl")
        cnt = (
            nl.repartition("node")
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        packed = F.when(
            F.assert_true(
                (F.col("lbl") >= 0)
                & (F.col("lbl") <= _mask)
                & (F.col("c") < F.lit(1 << 30)),
                F.lit("label_propagation: label/count outside packed-argmax range"),
            ).isNull(),
            F.col("c") * _shift + (_mask - F.col("lbl")),
        )
        labels = (
            cnt.groupBy("node")
            .agg(F.max(packed).alias("m"))
            .select("node", (_mask - (F.col("m") % _shift)).alias("lbl"))
        )
    return labels.select("node", F.col("lbl").cast("long").alias("community"))


def sql_copurchase_label_propagation(lineitem_rel: str, rounds: int = 3) -> str:
    """DuckDB mirror of ``label_propagation(copurchase_edges(lineitem))``
    — rounds unrolled as CTEs with the identical (count DESC, label ASC)
    argmax. ``edges`` is MATERIALIZED: it is referenced once per round
    and DuckDB 1.0 inlines plain CTEs per reference (the r7 temp-disk
    lesson)."""
    its = []
    prev = "l0"
    for i in range(1, rounds + 1):
        its.append(f"""r{i} AS (
  SELECT e.src AS node, p.lbl, COUNT(*) AS c
  FROM edges e JOIN {prev} p ON p.node = e.dst
  GROUP BY e.src, p.lbl),
l{i} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rk
    FROM r{i}) t WHERE rk = 1)""")
        prev = f"l{i}"
    body = ",\n".join(its)
    return f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM {lineitem_rel}
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.part AS src, b.part AS dst
  FROM op a JOIN op b ON a.ok = b.ok AND a.part <> b.part
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
{body}
SELECT node, CAST(lbl AS BIGINT) AS community FROM {prev}
"""


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Collapse a symmetric directed edge set to one row per undirected
    edge (``a < b``)."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def triangle_count(edges: DataFrame, simple_symmetric: bool = False) -> DataFrame:
    """Global triangle count via degree orientation + edge iteration —
    each undirected edge is directed from its (degree, id)-smaller
    endpoint (bounding every out-degree by O(sqrt(m))), out-neighbor
    lists are aggregated per node, and each oriented edge ``(u, v)``
    contributes ``|N+(u) ∩ N+(v)|`` triangles via an in-row
    ``array_intersect``.

    This edge-iterator form replaces the earlier wedge-join + closure
    semi-join: materializing every wedge through a shuffle cost 3× the
    wall time of shipping each node's (orientation-bounded) neighbor
    list once — measured 16.5 s → 5.4 s cold at sf0.1 on the same
    2.4 M-edge graph, identical count. Work is O(Σ d+(u)·d+(v)) either
    way; the shuffle volume drops from |wedges| rows to |edges| + |adj|.

    Input: a symmetric directed edge set (e.g. :func:`copurchase_edges`).
    ``simple_symmetric=True`` asserts the input is additionally SIMPLE
    (each directed edge distinct, both directions present): the
    undirected collapse is then a plain ``src < dst`` filter — a narrow
    map over the scan — instead of ``undirected_edges``'s
    least/greatest + dropDuplicates, which costs a full shuffle + hash
    aggregate of the edge set (r11 optimization pass: one Exchange
    removed, reused three times downstream).
    Output: one row ``(n_nodes, n_edges, n_triangles)``.
    """
    # und feeds degrees, orientation, and the edge/node counts;
    # oriented feeds the adjacency build AND the per-edge probe —
    # persist both or the edge pipeline re-executes per consumer.
    if simple_symmetric:
        und = edges.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        ).persist()
    else:
        und = undirected_edges(edges).persist()
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: u -> v iff (deg(u), u) < (deg(v), v)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    # orient as two flat columns (no per-row struct allocation — the
    # condition is evaluated once per output column by codegen's
    # common-subexpression elimination, and flat longs stay in
    # registers where the struct form boxed an InternalRow per edge)
    fwd = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .persist()
    )
    # per-node sorted out-neighbor lists (size bounded by orientation);
    # each oriented edge (u, v) closes |N+(u) ∩ N+(v)| triangles — the
    # intersection runs in-row, no wedge materialization. v may be a
    # sink (no out-edges) → left join + empty-list default.
    adj = oriented.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
    a_u = adj.select(F.col("u").alias("__u"), F.col("nbrs").alias("na"))
    a_v = adj.select(F.col("u").alias("__v"), F.col("nbrs").alias("nb"))
    tri = (
        oriented.join(a_u, F.col("u") == F.col("__u"))
        .join(a_v, F.col("v") == F.col("__v"), "left")
        .select(
            F.size(
                F.array_intersect(
                    F.col("na"),
                    # empty-array default typed like na (slice len 0),
                    # so int and bigint node ids both work
                    F.coalesce(F.col("nb"), F.slice(F.col("na"), 1, 0)),
                )
            ).alias("__c")
        )
        .agg(
            F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_triangles")
        )
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return nn.crossJoin(ne).crossJoin(tri)


def sql_copurchase_triangles(lineitem_rel: str) -> str:
    """DuckDB mirror of ``triangle_count(copurchase_edges(lineitem))``."""
    return f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM {lineitem_rel}
),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(a.part, b.part) AS a, GREATEST(a.part, b.part) AS b
  FROM op a JOIN op b ON a.ok = b.ok AND a.part <> b.part
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) u GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.deg, und.a) < (db.deg, und.b) THEN und.a ELSE und.b END AS u,
         CASE WHEN (da.deg, und.a) < (db.deg, und.b) THEN und.b ELSE und.a END AS v
  FROM und
  JOIN deg da ON und.a = da.node
  JOIN deg db ON und.b = db.node
),
wedges AS (
  SELECT e1.v AS x, e2.v AS y
  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u AND e1.v < e2.v
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM und) AS n_edges,
       (SELECT COUNT(*) FROM wedges w
        WHERE EXISTS (SELECT 1 FROM und WHERE und.a = w.x AND und.b = w.y))
         AS n_triangles
"""
