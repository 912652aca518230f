"""Unit tests for the training-pipeline extension ops added on top of
the reference surface: near-dup group assembly (connected components)
and IVF approximate nearest-neighbor search."""

from __future__ import annotations

from pyspark.sql import functions as F

from de_project_sprint_etl_spark.functions import dedup, similarity


def test_dup_groups_connected_components(spark):
    # two components: {1,2,3,4} (a path, so >1 propagation round) and {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: (r.group_id, r.group_size) for r in dedup.dup_groups(pairs).collect()}
    assert got == {
        1: (1, 4),
        2: (1, 4),
        3: (1, 4),
        4: (1, 4),
        10: (10, 2),
        11: (10, 2),
    }


def test_dup_groups_converges_on_cycle(spark):
    pairs = spark.createDataFrame([(5, 6), (6, 7), (7, 5)], "id_a long, id_b long")
    rows = dedup.dup_groups(pairs).collect()
    assert {r.group_id for r in rows} == {5}
    assert all(r.group_size == 3 for r in rows)


def _union_find_groups(edges):
    """Expected dup groups from a plain union-find: every vertex maps to
    (min id of its component, component size)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for v in parent:
        members.setdefault(find(v), []).append(v)
    return {v: (root, len(vs)) for root, vs in members.items() for v in vs}


def test_dup_groups_matches_union_find_on_skewed_graph(spark):
    """Label propagation must return exactly the union-find partition on
    a skewed graph: a 60-node chain (its diameter needs ~60 rounds), a
    40-leaf hub, a clique, and singleton pairs."""
    edges = (
        [(i, i + 1) for i in range(100, 160)]             # chain
        + [(500, 500 + i) for i in range(1, 41)]          # hub-and-spokes
        + [(a, b) for a in range(900, 905) for b in range(a + 1, 905)]  # clique
        + [(7000, 7001), (8000, 8001)]                    # tiny pairs
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.id: (r.group_id, r.group_size)
        for r in dedup.dup_groups(pairs, max_iter=80).collect()
    }
    assert got == _union_find_groups(edges)


def test_dup_groups_raises_when_round_budget_too_small(spark):
    """Non-convergence is an error, not silently wrong labels."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup.dup_groups(chain, max_iter=3)


def test_dup_groups_round_budget_boundary(spark):
    """A path of k edges needs k rounds to carry the min label to its
    far end plus one round that changes nothing: it converges with
    ``max_iter=k+1`` and raises with ``max_iter=k``. Round 1 (the
    aggregate straight over the edges) is one of the budgeted rounds."""
    import pytest

    k = 6
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(k)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup.dup_groups(path, max_iter=k)
    got = {r.id: (r.group_id, r.group_size)
           for r in dedup.dup_groups(path, max_iter=k + 1).collect()}
    assert got == {i: (0, k + 1) for i in range(k + 1)}


def _two_components(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )


def test_dup_groups_job_count(spark):
    """Spark jobs for one ``dup_groups`` plus its ``collect`` on the
    two-component graph (4 rounds: the path {1,2,3,4} needs 3 hops and
    one round that changes nothing). A count, not a timing, so it pins
    the per-round cost without flaking."""
    sc = spark.sparkContext
    group = "test_dup_groups_job_count"
    sc.setJobGroup(group, group)
    try:
        dedup.dup_groups(_two_components(spark)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 20


def test_dup_groups_leaves_no_cached_frames(spark):
    """``dup_groups`` caches nothing, neither on return nor when it
    raises on a too-small budget; the only RDDs it leaves registered are
    its local checkpoints (one edge frame plus one per round), which the
    ``ContextCleaner`` releases."""
    import pytest

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    dedup.dup_groups(_two_components(spark)).collect()
    assert cache.isEmpty()
    with pytest.raises(RuntimeError, match="converge"):
        dedup.dup_groups(_two_components(spark), max_iter=2)
    assert cache.isEmpty()
    before = jsc.getPersistentRDDs().size()
    for _ in range(5):
        dedup.dup_groups(_two_components(spark)).collect()
    # per call: the edge frame and 4 rounds of labels
    assert jsc.getPersistentRDDs().size() - before <= 5 * 5


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_topk_finds_cluster_neighbors(spark):
    # two well-separated cells on the coordinate axes; centroids are the
    # axis vectors themselves (ids 0 and 1)
    corpus = _vec_df(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.9, 0.1]),
            (3, [0.8, 0.2]),
            (4, [0.1, 0.9]),
            (5, [0.2, 0.8]),
        ],
    )
    centroids = corpus.filter(F.col("vec_id") < 2)
    out = similarity.ivf_topk(
        corpus, corpus.filter(F.col("vec_id") == 2), centroids, nprobe=1, k=2
    ).collect()
    # query 2 lives in the x-axis cell: best neighbors are 0 and 3, never
    # the y-cluster (4, 5)
    assert [r.neighbor_id for r in out] == [0, 3] or [
        r.neighbor_id for r in out
    ] == [3, 0]
    assert all(r.neighbor_id not in (4, 5) for r in out)
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2]


def test_ivf_nprobe_widens_candidates(spark):
    corpus = _vec_df(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.7, 0.3]),
            (3, [0.6, 0.4]),
        ],
    )
    centroids = corpus.filter(F.col("vec_id") < 2)
    q = corpus.filter(F.col("vec_id") == 2)
    n1 = similarity.ivf_topk(corpus, q, centroids, nprobe=1, k=10).count()
    n2 = similarity.ivf_topk(corpus, q, centroids, nprobe=2, k=10).count()
    assert n2 >= n1  # probing more cells can only add candidates
    assert n2 == 3  # with both cells probed, every other vector is a candidate


def test_brute_force_pandas_matches_expression_form(spark):
    """The Arrow/GEMM ANN kernel returns exactly the expression form's
    (query, neighbor, sim, rank) rows — same tie-breaks, same rounding."""
    from de_project_sprint_etl_spark.functions import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(tuple(r) for r in similarity.brute_force_topk(emb, q, k=4).collect())
    b = sorted(
        tuple(r) for r in similarity.brute_force_topk_pandas(emb, q, k=4).collect()
    )
    assert a == b


def test_brute_force_pandas_rejects_oversized_query_set(spark):
    """The GEMM kernel collects the query set (it is the broadcast side);
    an oversized query set must raise instead of OOMing the driver."""
    import pytest

    corpus = _vec_df(spark, [(i, [float(i), 1.0]) for i in range(6)])
    with pytest.raises(ValueError, match="max_queries"):
        similarity.brute_force_topk_pandas(corpus, corpus, k=2, max_queries=3)


def test_token_histogram_counts_and_tiebreak(spark):
    from de_project_sprint_etl_spark.functions import text

    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "bb cc aa"), (3, "cc dd")],
        "doc_id long, text string",
    )
    rows = text.token_histogram(docs, k=3).collect()
    # aa:3, bb:2, cc:2 (bb before cc on the tie), dd cut by k
    assert [(r.tok, r.n) for r in rows] == [("aa", 3), ("bb", 2), ("cc", 2)]


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    from de_project_sprint_etl_spark.functions import text

    docs = spark.createDataFrame(
        [(i, "the a and of to in is it for on word") for i in range(400)],
        "doc_id long, text string",
    )
    lang = text.with_lang_id(docs)  # all 'en'
    kept1 = sorted(r.doc_id for r in text.stratified_sample(lang, {"en": 40}).collect())
    kept2 = sorted(r.doc_id for r in text.stratified_sample(lang, {"en": 40}).collect())
    assert kept1 == kept2  # pure function of the id — no RNG state
    assert 0.25 < len(kept1) / 400 < 0.55  # ~40% kept
    # rate 100 keeps everything; rate 0 keeps nothing
    assert text.stratified_sample(lang, {"en": 100}).count() == 400
    assert text.stratified_sample(lang, {"en": 0}).count() == 0


def test_chunk_documents_boundaries(spark):
    """One chunk for short docs; overlap honoured; final partial chunk;
    no chunk starts past the text."""
    from de_project_sprint_etl_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a" * 400), (2, "b" * 500), (3, "c" * 501), (4, "d" * 901)],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, size=500, overlap=100).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append((r.chunk_start, r.chunk_len))
    assert by_doc == {
        1: [(0, 400)],
        2: [(0, 500)],
        3: [(0, 500), (400, 101)],   # 100-char overlap with chunk 0
        4: [(0, 500), (400, 500), (800, 101)],  # 3 strides to cover 901
    }
    # chunk text is the substring it claims to be
    r3 = [r for r in rows if r.doc_id == 3 and r.chunk_id == 1][0]
    assert r3.chunk_text == "c" * 101


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from de_project_sprint_etl_spark.functions.text import chunk_documents

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_documents(docs, size=100, overlap=100)


def test_repetition_metrics(spark):
    from de_project_sprint_etl_spark.functions.text import with_repetition

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),     # 1 distinct token, 1 distinct trigram of 3
            (2, "all tokens here are unique"),   # fully distinct
            (3, "ab"),                           # < 3 tokens -> no trigrams
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.distinct_token_ratio, r.dup_trigram_frac)
        for r in with_repetition(docs).collect()
    }
    assert got[1] == (5, 0.2, round(1 - 1 / 3, 6))
    assert got[2] == (5, 1.0, 0.0)
    assert got[3] == (1, 1.0, 0.0)


def test_redact_pii_patterns(spark):
    from de_project_sprint_etl_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@sub.example.org now"),
            (2, "call +44 20 7946-0958 today"),
            (3, "host 192.168.0.1 up"),
            (4, "clean text stays clean"),
        ],
        "id long, s string",
    )
    got = {r.id: r.red for r in df.select("id", redact_pii("s").alias("red")).collect()}
    assert got == {
        1: "mail <EMAIL> now",
        2: "call <PHONE> today",
        3: "host <IP> up",
        4: "clean text stays clean",
    }


def test_l2_normalize_unit_norm_and_zero_vector(spark):
    from de_project_sprint_etl_spark.functions.embeddings import l2_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.unit_vec for r in l2_normalize(df).collect()}
    assert got[1] == [0.6, 0.8]
    assert got[2] == [0.0, 0.0]  # zero vector passes through, no NaN


def test_quantize_int8_roundtrip(spark):
    from de_project_sprint_etl_spark.functions.embeddings import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in quantize_int8(df).collect()}
    assert rows[1].q_vec == [127, -64, 32]  # max-abs maps to +/-127
    assert abs(rows[1].scale - 1.0 / 127) < 1e-12
    assert rows[2].q_vec == [0, 0, 0] and rows[2].scale == 0.0
    # dequantized error bounded by scale/2 per component
    deq = [q * rows[1].scale for q in rows[1].q_vec]
    assert all(abs(d - x) <= rows[1].scale / 2 + 1e-12
               for d, x in zip(deq, [1.0, -0.5, 0.25]))


def test_label_centroids_mean(spark):
    from de_project_sprint_etl_spark.functions.embeddings import label_centroids

    df = spark.createDataFrame(
        [(1, 0, [1.0, 2.0]), (2, 0, [3.0, 6.0]), (3, 1, [5.0, 5.0])],
        "vec_id long, label int, embedding array<double>",
    )
    got = {(r.label, r.pos): (r.centroid, r.n_vectors)
           for r in label_centroids(df).collect()}
    assert got == {
        (0, 0): (2.0, 2), (0, 1): (4.0, 2),
        (1, 0): (5.0, 1), (1, 1): (5.0, 1),
    }


def test_contamination_hits_fraction_and_broadcast(spark):
    from de_project_sprint_etl_spark.functions.dedup import contamination_hits

    train = spark.createDataFrame(
        [(1, "a b c"), (1, "b c d"), (2, "x y z"), (3, "a b c"), (3, "q r s")],
        "id long, shingle string",
    )
    bench = spark.createDataFrame(
        [(99, "a b c"), (99, "b c d"), (99, "zz zz zz")], "id long, shingle string"
    )
    got = {r.id: (r.n_sh, r.n_hits, r.overlap_frac)
           for r in contamination_hits(train, bench).collect()}
    assert got == {1: (2, 2, 1.0), 3: (2, 1, 0.5)}  # doc 2: zero hits -> dropped
    # the plan must broadcast the benchmark side, never shuffle the corpus
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        contamination_hits(train, bench).explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_token_entropy_values(spark):
    import math

    from de_project_sprint_etl_spark.functions.text import with_token_entropy

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # one token -> 0 bits
            (2, "a b a b"),          # uniform over 2 -> 1 bit
            (3, "a a a b"),          # 3/4, 1/4
            (4, ""),                 # empty -> 0
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.token_entropy for r in with_token_entropy(docs).collect()}
    assert got[1] == 0.0
    assert got[2] == 1.0
    want3 = round(-(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25)), 6)
    assert got[3] == want3
    assert got[4] == 0.0


def test_udtf_chunker_matches_native(spark):
    """The Python-UDTF chunker must be row-identical to the native
    explode form — same oracle, same answer, different execution tier."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col, lit

    from de_project_sprint_etl_spark.functions import text
    from de_project_sprint_etl_spark.functions.pyudtf import ChunkText

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    native = text.chunk_documents(docs, size=500, overlap=100)
    via_udtf = (
        docs.lateralJoin(ChunkText(col("text").outer(), lit(500), lit(100)))
        .drop("text")
        .withColumn("chunk_len", F.length("chunk_text"))
        .select(native.columns)
    )
    assert native.exceptAll(via_udtf).count() == 0
    assert via_udtf.exceptAll(native).count() == 0


def test_ann_planted_neighbor_recall(spark):
    """Index QUALITY, not just plumbing: the oracle mirrors each ANN
    algorithm, so a useless index would still hash-match. This test
    measures the property the indexes exist for — near-duplicate
    retrieval: queries are COPIES of corpus vectors (cosine 1.0 planted
    neighbour), and each index must surface the planted source in its
    top-k for ≥90% of queries. (Recall@k against brute force on the
    RANDOM fixture vectors is not meaningful — random points have no
    structure for LSH buckets / IVF cells to exploit; planted-pair
    retrieval is the contract near-dup pipelines rely on.)"""
    from pyspark.sql import functions as F

    from de_project_sprint_etl_spark.functions import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_q, k, offset = 10, 5, 10_000_000
    queries = emb.limit(n_q).select(
        (F.col("vec_id") + offset).alias("vec_id"), "embedding"
    )
    planted = {r.vec_id + offset: r.vec_id for r in emb.limit(n_q).collect()}

    def hits(df) -> int:
        found = df.groupBy("query_id").agg(
            F.collect_set("neighbor_id").alias("nbrs")
        )
        return sum(
            1 for r in found.collect() if planted.get(r.query_id) in set(r.nbrs)
        )

    dim = len(emb.first().embedding)
    tables = [similarity.hyperplanes(dim=dim, n_planes=8, seed=s) for s in (1, 2, 3)]
    lsh_hits = hits(similarity.lsh_topk_tables(emb, queries, tables, k=k))
    assert lsh_hits >= 0.9 * n_q, f"LSH planted recall {lsh_hits}/{n_q}"

    cents = emb.filter(F.col("vec_id") % 50 == 0)
    ivf_hits = hits(similarity.ivf_topk(emb, queries, cents, nprobe=2, k=k))
    assert ivf_hits >= 0.9 * n_q, f"IVF planted recall {ivf_hits}/{n_q}"

    bf_hits = hits(similarity.brute_force_topk(emb, queries, k=k))
    assert bf_hits == n_q, f"brute force must always find the copy: {bf_hits}"


# --- language-model scoring (functions/lm.py) -------------------------------


def test_bigram_lm_score_hand_computed(spark):
    """Two-doc corpus small enough to verify the add-one model by hand."""
    import math

    from de_project_sprint_etl_spark.functions import lm

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in lm.bigram_lm_score(docs).collect()}
    # unigrams: a=3 b=3 c=1, V=3
    # bigrams: (a,b)=3 (b,a)=1 (b,c)=1
    def p(c12, c1):
        return (c12 + 1) / (c1 + 3)

    d1 = -(2 * math.log2(p(3, 3)) + 1 * math.log2(p(1, 3))) / 3
    d2 = -(math.log2(p(3, 3)) + math.log2(p(1, 3))) / 2
    assert rows[1]["n_bigrams"] == 3
    assert rows[2]["n_bigrams"] == 2
    assert abs(rows[1]["bits_per_bigram"] - round(d1, 6)) < 1e-9
    assert abs(rows[2]["bits_per_bigram"] - round(d2, 6)) < 1e-9


def test_bigram_lm_repetitive_text_scores_lower(spark):
    """Self-perplexity quality signal: templated text = fewer bits."""
    from de_project_sprint_etl_spark.functions import lm

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat " * 20),
            (2, "quantum veloce marimba ostrich kelvin dirge plinth oboe"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["bits_per_bigram"] for r in lm.bigram_lm_score(docs).collect()}
    assert rows[1] < rows[2]


def test_bm25_ranks_matching_docs_first(spark):
    from de_project_sprint_etl_spark.functions import lm

    docs = spark.createDataFrame(
        [
            (1, "data model training data data"),
            (2, "data only once here with many many other words to dilute"),
            (3, "nothing relevant whatsoever in this document"),
            (4, "model data"),
        ],
        ["doc_id", "text"],
    )
    out = lm.bm25_topk(docs, ("data", "model"), k=4).collect()
    ranked = [r["doc_id"] for r in out]
    # doc 3 has no query terms -> last; multi-term docs beat single-term
    assert ranked[-1] == 3
    assert set(ranked[:2]) == {1, 4}
    assert [r["rank"] for r in out] == [1, 2, 3, 4]
    # no Python in the plan (pure Catalyst expressions)
    plan = lm.bm25_topk(docs, ("data", "model"), k=4)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_pagerank_star_graph(spark):
    """Hub of a star graph accumulates the most rank; leaves tie."""
    from de_project_sprint_etl_spark.functions import graph

    edges = spark.createDataFrame(
        [(h, l) for l in (2, 3, 4) for h in (1,)]
        + [(l, 1) for l in (2, 3, 4)],
        ["src", "dst"],
    )
    ranks = {r["node"]: r["rank"] for r in graph.pagerank(edges, 3).collect()}
    assert ranks[1] > ranks[2]
    assert ranks[2] == ranks[3] == ranks[4]
    # integer mass stays near SCALE (floor losses only)
    total = sum(ranks.values())
    assert 0.95 * graph.PR_SCALE < total <= graph.PR_SCALE


def test_copurchase_edges_symmetric_simple(spark):
    from de_project_sprint_etl_spark.functions import graph

    li = spark.createDataFrame(
        [(10, 100), (10, 200), (10, 100), (20, 300)],
        ["l_orderkey", "l_partkey"],
    )
    edges = {(r["src"], r["dst"]) for r in graph.copurchase_edges(li).collect()}
    # duplicate (10,100) line collapses; singleton order 20 yields no edges
    assert edges == {(100, 200), (200, 100)}


def test_bfs_distances_chain_and_multisource(spark):
    """BFS semantics pinned: hop distances along a chain, depth bound
    respected, unreachable nodes absent, and with TWO sources each node
    gets the MINIMUM distance over sources."""
    from de_project_sprint_etl_spark.functions import graph

    # chain 1->2->3->4->5, plus island 9->10
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (9, 10)], "src long, dst long"
    )
    one = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r.dist
        for r in graph.bfs_distances(edges, one, max_depth=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 beyond depth; island absent

    two = spark.createDataFrame([(1,), (4,)], "node long")
    got2 = {
        r.node: r.dist
        for r in graph.bfs_distances(edges, two, max_depth=3).collect()
    }
    assert got2 == {1: 0, 4: 0, 2: 1, 5: 1, 3: 2}  # 5 via source 4; min wins


def test_triangle_count_known_graphs(spark):
    from de_project_sprint_etl_spark.functions import graph

    def sym(pairs):
        return spark.createDataFrame(
            [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
            ["src", "dst"],
        )

    # K4: C(4,3) = 4 triangles, 6 edges
    k4 = sym([(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    row = graph.triangle_count(k4).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)
    # star: no triangles
    star = sym([(0, i) for i in range(1, 6)])
    row = graph.triangle_count(star).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (6, 5, 0)


def test_ivm_merge_equals_full_recompute(spark):
    """combine(agg(snapshot), agg(delta)) == agg(snapshot ∪ delta)."""
    from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES
    from de_project_sprint_etl_spark.plans.testdata import (
        order_log_v2,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    inc = RAW_QUERIES["ivm_customer_revenue"](spark, sf)
    full = (
        order_log_v2(spark, sf)
        .groupBy("customer_id")
        .agg(
            F.sum(F.col("payment_amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))


def test_kmeans_separates_two_blobs(spark):
    """Two well-separated blobs -> 2 non-empty clusters, each pure."""
    from de_project_sprint_etl_spark.functions import clustering

    rows = [(i, [10.0 + (i % 3) * 0.1, 0.0]) for i in range(10)] + [
        (100 + i, [0.0, 10.0 + (i % 3) * 0.1]) for i in range(10)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = clustering.kmeans(emb, k=2, iterations=2).collect()
    assert len(out) == 20
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"])
    assert len(by_cluster) == 2
    blobs = sorted(frozenset(v) for v in by_cluster.values())
    assert sorted(map(sorted, blobs)) == [
        sorted(range(10)),
        sorted(range(100, 110)),
    ]


def test_kmeans_assignment_is_deterministic_under_repartition(spark):
    from de_project_sprint_etl_spark.functions import clustering

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(tuple(r) for r in clustering.kmeans(emb, k=4, iterations=1).collect())
    b = sorted(
        tuple(r)
        for r in clustering.kmeans(emb.repartition(13), k=4, iterations=1).collect()
    )
    assert a == b


def test_bpe_merge_candidates_hand_computed(spark):
    from de_project_sprint_etl_spark.functions import lm

    # vocabulary: "abab" x freq computed over 3 docs -> "abab":2, "ab":1
    docs = spark.createDataFrame(
        [(1, "abab ab"), (2, "abab")], ["doc_id", "text"]
    )
    rows = {(r["left"], r["right"]): (r["cnt"], r["rank"]) for r in
            lm.bpe_merge_candidates(docs, k=10).collect()}
    # pairs in "abab" (freq 2): ab, ba, ab -> ab:4, ba:2 ; "ab" (freq 1): ab:1
    assert rows[("a", "b")] == (5, 1)
    assert rows[("b", "a")] == (2, 2)
    assert len(rows) == 2


def test_table_checksum_detects_single_value_change(spark):
    from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES
    import __spark_entry__  # noqa: F401

    base = RAW_QUERIES["orders_table_checksum"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert base["n_rows"] > 0
    # same computation over a 1-value mutation must change the checksum
    from de_project_sprint_etl_spark.functions.text import h64
    from de_project_sprint_etl_spark.plans.testdata import t as scan

    o = scan(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") == 1, F.lit("9-MUTATED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    mutated = o.agg(F.bit_xor(h64(row)).alias("checksum")).collect()[0]
    assert mutated["checksum"] != base["checksum"]


def test_event_journeys_orders_within_session(spark):
    """Journey strings follow (ts, event_id) order, capped at 3 stages."""
    import __spark_entry__  # noqa: F401
    from de_project_sprint_etl_spark.plans.registry import RAW_QUERIES

    rows = RAW_QUERIES["event_journeys"](spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(rows) <= 20
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert 1 <= len(r["journey"].split(">")) <= 3


def test_phrase_occurrences_positions_and_zero_match(spark):
    """Phrase semantics pinned: adjacency must be exact (reversed or
    gapped words don't match), overlapping occurrences each count, and
    a no-match phrase reports zeros instead of disappearing."""
    from de_project_sprint_etl_spark.functions import lm

    docs = spark.createDataFrame(
        [
            (1, "big data big data big"),   # "big data" x2 (overlap-adjacent)
            (2, "data big"),                # reversed -> no match
            (3, "big red data"),            # gapped -> no match
        ],
        "doc_id long, text string",
    )
    out = {
        r.phrase: (r.n_docs, r.n_occurrences)
        for r in lm.phrase_occurrences(
            docs, ["big data", "red data", "missing phrase"]
        ).collect()
    }
    assert out["big data"] == (1, 2)
    assert out["red data"] == (1, 1)
    assert out["missing phrase"] == (0, 0)


def test_phrase_occurrences_normalizes_and_escapes(spark, tmp_path):
    """Query phrases run through the corpus normalizer: an uppercase /
    punctuated / apostrophe'd phrase matches the normalized posting
    list, the output label keeps the caller's original string, and the
    DuckDB mirror survives embedded single quotes (escaped, and
    value-identical to the Spark side)."""
    import duckdb
    import pytest

    from de_project_sprint_etl_spark.functions import lm

    docs = spark.createDataFrame(
        [(1, "The company's data, big data!"), (2, "company s data")],
        "doc_id long, text string",
    )
    phrases = ["Company's DATA", "Big, Data?"]
    out = {
        r.phrase: (r.n_docs, r.n_occurrences)
        for r in lm.phrase_occurrences(docs, phrases).collect()
    }
    # normalizer: "Company's DATA" -> "company s data" (matches both docs)
    assert out["Company's DATA"] == (2, 2)
    assert out["Big, Data?"] == (1, 1)

    pq = str(tmp_path / "docs.parquet")
    docs.coalesce(1).write.parquet(pq)
    con = duckdb.connect()
    sql = lm.sql_phrase_occurrences(f"read_parquet('{pq}/*.parquet')", phrases)
    oracle = {
        p: (int(d), int(o)) for p, d, o in con.execute(sql).fetchall()
    }
    assert oracle == out

    # total-function contract (ADVICE r5): a punctuation-only phrase
    # normalizes to empty and gets the zero-count row on BOTH engines —
    # never an exception, never a missing label
    weird = ["?!,", "company s data"]
    zout = {
        r.phrase: (r.n_docs, r.n_occurrences)
        for r in lm.phrase_occurrences(docs, weird).collect()
    }
    assert zout["?!,"] == (0, 0)
    assert zout["company s data"] == (2, 2)
    zsql = lm.sql_phrase_occurrences(f"read_parquet('{pq}/*.parquet')", weird)
    zora = {p: (int(d), int(o)) for p, d, o in con.execute(zsql).fetchall()}
    assert zora == zout
    # and the degenerate all-empty query set still yields valid SQL
    allz = lm.sql_phrase_occurrences(f"read_parquet('{pq}/*.parquet')", ["?"])
    assert con.execute(allz).fetchall() == [("?", 0, 0)]
