"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each op):

- **exact**: one hash-groupBy on the normalized-text digest — a single
  shuffle keyed by a 32-byte string; AQE coalesces tiny partitions.
- **n-gram Jaccard (set-similarity join)**: prefix-filtered candidate
  generation (PPJoin family) — docs' shingles get dense ids in
  ascending-df order, only each doc's rare prefix joins, a positional
  filter prunes per matched row, and exact ``shared`` comes from
  ``array_intersect`` on per-doc sid arrays, so the candidate stream
  (quadratic in per-shingle df) never crosses an exchange and nothing
  pair-keyed is ever hash-aggregated. ``max_shingle_df`` drops shingles
  hotter than the cut (standard df-cut; a shingle in half the corpus
  carries no dedup signal anyway).
- **MinHash+LSH**: k independent min-hashes from the shared 60-bit
  digest family, banded; candidate pairs agree on at least one band.
  One explode + one groupBy for signatures, one self-join per band on
  the band key. Estimated Jaccard = fraction of matching components.
- **SimHash**: 32-bit weighted-majority signature; near-dup pairs share
  at least one of 4 signature bytes (pigeonhole: hamming ≤ 3 ⇒ some
  byte equal), verified by ``bit_count(xor) ≤ 3``.

Everything is built from Catalyst expressions; every op has an exact
DuckDB-SQL mirror in plans/llm.py.

**Cache contract**: the pair generators cache their expensive shared
subtrees (exploded shingles, sid arrays, signatures) because the
returned — still lazy — plan consumes them multiple times; they cannot
unpersist what the caller has not yet materialized. The ngram sites use
the generation-managed persist (``functions/caching.py``: at most one
cached generation per session tag, previous unpersisted on
re-invocation); the rest rely on ``spark.catalog.clearCache()`` between
queries (what bench.py and the driver harness do). Only ``dup_groups``
needs neither: its edge frame and labels are local checkpoints.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from de_project_sprint_etl_spark.functions import guards
from de_project_sprint_etl_spark.functions.caching import cached_generation
from de_project_sprint_etl_spark.functions.text import (
    h64,
    norm_text,
    tokens,
    with_shingles,
)

#: Hash buckets per df group for the dense-sid assignment (VERDICT r6
#: #7): the vocabulary is row_numbered WITHIN (df, bucket) partitions
#: and shifted by exclusive bucket offsets, so no vocabulary-sized
#: frame ever funnels through one window partition — the largest
#: partition is ~|df-1 vocabulary| / NGRAM_SID_BUCKETS. The offset
#: table is structurally bounded at (#distinct df <= max_shingle_df) x
#: buckets rows regardless of corpus size.
NGRAM_SID_BUCKETS = 128


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups keyed by md5(normalized text): the canonical id
    (min id), the group size, and whether the group is duplicated.

    Output: ``dup_key, canonical_id, n_docs``.
    """
    return (
        docs.select(F.md5(norm_text(F.col(text_col))).alias("dup_key"), F.col(id_col))
        .groupBy("dup_key")
        .agg(
            F.min(id_col).cast("long").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def keep_canonical(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Filter-side of exact dedup: keep one row per distinct content
    (the min-id representative). A single window over the dup key — no
    join back, one shuffle."""
    w = Window.partitionBy(F.md5(norm_text(F.col(text_col)))).orderBy(F.col(id_col))
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _exploded_shingles(
    docs: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc.

    ``explode_outer`` (not ``explode``) on purpose: for an inner explode
    Catalyst's InferFiltersFromGenerate adds ``size(shingle_arr) > 0``,
    and predicate pushdown then drags the ENTIRE shingle expression tree
    below any upstream repartition into the (few-split) scan stage —
    serializing the regex/shingle work onto one core and computing it
    twice. Outer generate blocks that inference; the ``length > 0``
    filter on the generated column drops the same rows (null included).
    """
    return (
        with_shingles(docs.select(id_col, text_col), text_col, n)
        .select(F.col(id_col).alias("id"), F.explode_outer("shingle_arr").alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def _relaxed_threshold(min_jaccard: float):
    """The candidate-side threshold as an exact ``Fraction``, relaxed
    below the ``round(j, 6)`` admission window AND quantized to
    millionths rounding down: relaxing keeps losslessness (a smaller t'
    only admits more candidates), and a denominator capped at 1e6 keeps
    ``p*n_sh`` / ``p*(n_a+n_b)`` far below int64 overflow — a threshold
    like 1/3 would otherwise carry a 1e16 denominator and wrap negative
    under non-ANSI arithmetic for docs past ~2800 shingles."""
    from fractions import Fraction

    tr = Fraction(str(min_jaccard)) - Fraction(1, 10**6)
    return Fraction(math.floor(tr * 10**6), 10**6)


def _dense_sid_vocab(counted: DataFrame) -> DataFrame:
    """Dense integer shingle ids in ascending-df order from a counted
    census (``shingle, __df, __bkt``). Sids are assigned PER-BUCKET:
    order = (df, hash-bucket, shingle) — ascending df still puts the
    rarest shingles in every prefix, and ANY consistent total order
    keeps the prefix/positional filters lossless, so bucketing the
    tie-break changes no output — row_number runs within (df, bucket)
    partitions and is shifted by exclusive offsets from a cumulative
    count over the (df, bucket) group table. That table is structurally
    bounded (<= max_shingle_df x NGRAM_SID_BUCKETS rows) no matter how
    large the vocabulary grows, so nothing vocabulary-sized crosses one
    partition."""
    off_w = (
        Window.orderBy("__df", "__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        counted.groupBy("__df", "__bkt")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "__df",
            "__bkt",
            F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__off"),
        )
    )
    sid_w = Window.partitionBy("__df", "__bkt").orderBy("shingle")
    return counted.join(F.broadcast(offsets), ["__df", "__bkt"]).select(
        "shingle",
        (F.row_number().over(sid_w) + F.col("__off")).alias("sid"),
    )


def _sid_arrays(
    sh: DataFrame, vocab: DataFrame, hint_vocab: bool = True
) -> DataFrame:
    """Per-doc sorted sid arrays (``id, arr, n_sh``) — the shared input
    of prefix-posting generation and pair verification.
    ``hint_vocab=False`` lets a caller pass a vocabulary whose broadcast
    decision was already made (guards.gated_broadcast in the refresh
    path) instead of forcing the hint here."""
    return (
        sh.join(F.broadcast(vocab) if hint_vocab else vocab, "shingle")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("sid")).alias("arr"))
        .select("id", "arr", F.size("arr").cast("long").alias("n_sh"))
    )


def _prefix_postings(arrs: DataFrame, tr) -> DataFrame:
    """Prefix postings by posexplode of the sorted sid array — position
    and doc size fall out of the array itself; no per-id window, no
    sort. A pair with J >= t must share a shingle among each doc's
    first ``n - ceil(t*n) + 1`` sids (its *prefix*); ``tr`` <= 0 keeps
    every posting."""
    pref = arrs.select(
        "id", "n_sh", F.posexplode("arr").alias("pos0", "sid")
    ).select("id", "sid", (F.col("pos0") + 1).alias("pos"), "n_sh")
    if tr > 0:
        p_, q_ = tr.numerator, tr.denominator
        pref = pref.filter(
            F.expr(f"pos <= n_sh - (({p_} * n_sh + {q_ - 1}) DIV {q_}) + 1")
        )
    return pref


def _positional_filter(cand: DataFrame, tr) -> DataFrame:
    """Per joined candidate row, drop matches that cannot reach the
    required overlap: ``min(n_a - pos_a, n_b - pos_b) + 1 >=
    ceil(t/(1+t)*(n_a+n_b))``. The first shared sid of any true pair
    always survives it (the formula is symmetric in the two sides), so
    pair GENERATION stays lossless."""
    if tr <= 0:
        return cand
    p_, q_ = tr.numerator, tr.denominator
    return cand.filter(
        F.expr(
            f"least(a.n_sh - a.pos, b.n_sh - b.pos) + 1 >= "
            f"(({p_} * (a.n_sh + b.n_sh) + {p_ + q_ - 1}) DIV {p_ + q_})"
        )
    )


def _verify_pairs(
    cand: DataFrame, arrs: DataFrame, min_jaccard: float
) -> DataFrame:
    """Exact verification: ``shared`` from ``array_intersect`` on the
    two docs' full sorted sid arrays (attached by joining the per-doc
    array table) — NOT from a count-per-pair aggregation, so the
    candidate stream never crosses an exchange: it flows join ->
    positional filter -> array verify -> jaccard filter inside one
    stage, and only survivors (output-sized) reach the final
    distinct."""
    return (
        cand.join(
            arrs.select(
                F.col("id").alias("id_a"),
                F.col("arr").alias("arr_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("id").alias("id_b"),
                F.col("arr").alias("arr_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn(
            "shared", F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.2,
    max_shingle_df: int = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Set-similarity join on word n-gram shingles.

    ``shingles`` (columns ``id, shingle``, distinct per doc) lets the
    caller supply a pre-materialized shingle stream — the 100 TB shape,
    where shingling runs once and is reused across every dedup pass —
    instead of re-deriving it from ``docs``.

    Output: ``id_a, id_b, shared, n_a, n_b, jaccard`` for pairs with
    ``jaccard >= min_jaccard`` (id_a < id_b, 6-decimal rounding).

    Physical strategy — prefix-filtered candidate generation + in-row
    array verification (the PPJoin family: Xiao et al., WWW'08;
    Vernica et al., SIGMOD'10 for the MapReduce form):

    1. Keep shingles with df <= ``max_shingle_df`` and give each a dense
       integer id (``sid``) in ASCENDING-df order — rarest first.
    2. A pair with J >= t must share a shingle among each doc's first
       ``n - ceil(t*n) + 1`` sids (its *prefix*): overlap >= t*max(n_a,
       n_b), so fewer than that many leading elements cannot all miss.
       Candidates therefore come from a self-join of PREFIX postings
       only — and rare shingles dominate prefixes, so posting lists in
       the join are the COLD ones.
    3. Per joined row, the positional filter ``min(n_a - pos_a,
       n_b - pos_b) + 1 >= ceil(t/(1+t)*(n_a+n_b))`` drops matches that
       cannot reach the required overlap; the first shared sid of any
       true pair always survives it, so pair GENERATION stays lossless.
    4. Exact ``shared`` comes from ``array_intersect`` on the two docs'
       full sorted sid arrays (attached by joining a per-doc array
       table, broadcast-sized at any sane doc count after AQE sees its
       stats) — NOT from a count-per-pair aggregation. The candidate
       stream (quadratic in per-shingle df) thus never crosses an
       exchange: it flows join -> positional filter -> array verify ->
       jaccard filter inside one stage, and only survivors (output-
       sized) reach the final distinct. The previous formulation
       hash-aggregated one (id_a, id_b) key per candidate; on a corpus
       whose vocabulary saturates (sf1 stress: 29k distinct shingles,
       df ~ corpus/300) that was ~100M distinct keys, 30 GB of spill
       and 16.8x wall at 10x data. This form shuffles only postings and
       survivors.

    All candidate-side bounds are integer-exact: t is taken as a
    ``Fraction`` relaxed by 1e-6 so every pair the final
    ``round(j, 6) >= t`` filter can admit is provably generated
    (the smallest J gap at doc sizes <= ``max_shingle_df`` is
    ~1/(2*max_shingle_df), orders above the 5e-7 rounding window).
    """
    # persist the posting stream (generation-managed: at most one
    # cached generation per session survives re-invocation — see
    # functions/caching.py): it feeds the df table and the per-doc
    # array table.
    if shingles is None:
        shingles = _exploded_shingles(docs, text_col, id_col, n)
    sh = cached_generation(shingles.sparkSession, "ngram_sh", shingles)
    # df-cut (skew + no signal: a shingle in half the corpus tells you
    # nothing) and the candidate order in ONE pass. groupBy.count
    # partial-combines map-side, so the hottest posting list never lands
    # in one partition.
    counted = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_shingle_df)
        .withColumn(
            "__bkt", F.pmod(F.xxhash64("shingle"), F.lit(NGRAM_SID_BUCKETS))
        )
    )
    vocab = _dense_sid_vocab(counted)
    # per-doc sorted sid arrays: the ONE multi-consumer node (prefix
    # explode + both verify sides). One shuffle by id; doc-count-sized.
    # Same generation-managed lifecycle as the posting stream.
    arrs = cached_generation(
        shingles.sparkSession, "ngram_arrs", _sid_arrays(sh, vocab)
    )
    tr = _relaxed_threshold(min_jaccard)
    pref = _prefix_postings(arrs, tr)
    # The candidate join's INPUT is tiny (narrow int postings) but its
    # OUTPUT is the quadratic candidate stream; AQE coalesces the join
    # by input bytes and would run the explosion on 1-2 tasks. An
    # explicit numbered repartition by the join key is exempt from AQE
    # coalescing, pinning the explosion at full cluster width.
    # (no persist here: the self-join's attribute dedup defeats exchange
    # reuse, so each side computes its own explode+filter+shuffle — but
    # the two sides run as independent parallel stages over the cached
    # arrs, and a cache barrier between repartition and join costs more
    # wall than the duplicated narrow-stream work saves.)
    pref = pref.repartition(
        shingles.sparkSession.sparkContext.defaultParallelism * 2, "sid"
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = a.join(b, (F.col("a.sid") == F.col("b.sid")) & (F.col("a.id") < F.col("b.id")))
    cand = _positional_filter(cand, tr)
    cand = cand.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    return _verify_pairs(cand, arrs, min_jaccard)


#: Mersenne prime 2^31 - 1 for the universal-hash MinHash family.
#: With a, b, x all < p, `a*x + b` peaks at ~4.6e18 < 2^63, so the
#: arithmetic is overflow-free in both Spark longs and DuckDB BIGINTs
#: (DuckDB errors on BIGINT overflow, so this bound is load-bearing).
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine hash family, from a
    fixed 64-bit LCG so the Spark impl and the generated oracle SQL share
    the exact same constants."""
    state = 1
    out: list[tuple[int, int]] = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**63
        a = state % (MINHASH_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**63
        b = state % MINHASH_P
        out.append((a, b))
    return out


def lsh_scurve_sql(j: str, bands: int, rows: int) -> str:
    """SQL for the LSH candidate probability (MMDS ch. 3 S-curve)
    ``P(candidate | jaccard=j) = 1 - (1 - j^rows)^bands`` — emitted as
    UNROLLED IEEE multiplications, never ``POWER``: libm ``pow`` is not
    guaranteed identically rounded across engines, while the identical
    multiply tree is bit-for-bit deterministic on Spark and DuckDB
    (the zorder FLOOR-boundary lesson applied to exponentiation)."""
    jr = "(" + " * ".join([f"({j})"] * rows) + ")"
    om = f"(1.0 - {jr})"
    omb = "(" + " * ".join([om] * bands) + ")"
    return f"(1.0 - {omb})"


def minhash_signatures(
    docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """k-component MinHash signature per doc via universal hashing:
    one base digest per shingle ``x = h64(shingle) mod p``, then
    ``h_i = min over shingles of (a_i*x + b_i) mod p`` (Broder minwise
    hashing with the affine family; Mining of Massive Datasets §3.3).
    One explode + ONE md5 per shingle + one groupBy computing all k mins
    in a single aggregation (map-side partial combine) — k-independent
    digest cost, unlike hashing the shingle k times. ``shingles``
    (``id, shingle``) bypasses the explode with a pre-materialized
    stream, as in :func:`ngram_jaccard_pairs`."""
    sh = (
        shingles
        if shingles is not None
        else _exploded_shingles(docs, text_col, id_col, n)
    )
    x = F.pmod(h64(F.col("shingle")), F.lit(MINHASH_P))
    base = sh.select("id", x.alias("x"))
    return base.groupBy("id").agg(*_minhash_aggs(num_hashes))


@functools.lru_cache(maxsize=None)
def _minhash_aggs(num_hashes: int):
    """The k min-expressions, built once per k (same Column-reuse
    rationale as _simhash_exprs)."""
    return tuple(
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    min_est_jaccard: float = 0.5,
    persist_input: bool = True,
) -> DataFrame:
    """LSH banding over MinHash signatures.

    Bands of ``r = num_hashes // bands`` rows; a pair is a candidate iff
    some band agrees exactly; estimated Jaccard = matching components /
    k, filtered at ``min_est_jaccard``.

    ``persist_input=False`` is for callers whose ``signatures`` is
    already a materialized table (a written artifact scan, or a frame
    the caller persists itself): re-scanning parquet twice is cheaper
    than a cache round-trip there — and a persist of the artifact scan
    would register that plan in the session CacheManager, making every
    OTHER consumer of the same artifact resolve to an InMemoryRelation
    (whose ``inputFiles()`` is empty — the round-11 in-session
    artifact-build bug).

    Output: ``id_a, id_b, est_jaccard``.
    """
    r = num_hashes // bands
    hcols = [f"h{i}" for i in range(num_hashes)]
    # persist: both sides of the bucket self-join read the signatures,
    # and the signature subtree (shingle explode + k md5s) is the
    # expensive part — without this Spark recomputes it per side.
    # (At real 100 TB scale, materialize signatures to parquet instead —
    # and then pass persist_input=False.)
    sig = signatures.persist() if persist_input else signatures
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "_", *[F.col(h).cast("string") for h in hcols[b * r : (b + 1) * r]]
                ).alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    # one explode + ONE equi-join on (band_idx, band_val) replaces
    # `bands` separate self-joins; the 16 hash components ride along so
    # no join back to sig is needed for the estimate.
    banded = sig.select("id", *hcols, F.explode(band_structs).alias("bv")).select(
        "id",
        *hcols,
        F.col("bv.band_idx").alias("band_idx"),
        F.col("bv.band_val").alias("band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{h}").alias(f"a_{h}") for h in hcols],
            *[F.col(f"b.{h}").alias(f"b_{h}") for h in hcols],
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = sum(
        F.when(F.col(f"a_{h}") == F.col(f"b_{h}"), 1).otherwise(0) for h in hcols
    )
    return (
        cand.withColumn("est_jaccard", F.round(matches / F.lit(num_hashes), 6))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


def dup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    simple_pairs: bool = False,
) -> DataFrame:
    """Assemble near-duplicate pairs into groups: connected components
    by iterative min-label propagation, i.e. what a dedup pipeline
    actually keys its "keep one per group" decision on.

    The edge list is symmetrized with self edges: every pair gives
    ``(a,b), (b,a), (a,a), (b,b)``, so each vertex is its own
    neighbour. A round is then one join of the labels to the edges and
    one aggregate per vertex: ``min(label)`` is the new label and
    ``min(label)`` over the self edge is the old one, so the count of
    changed labels needs no second join. Round 1 reads the edges alone
    (every vertex's initial label is its id). Stops when no label
    changed: O(component diameter) rounds; dedup graphs are near-cliques
    so this is a handful. Round 1 counts as one of the ``max_iter``
    rounds.

    The edge frame and each round's labels are ``localCheckpoint`` s,
    so a round's plan is a join of two ``LogicalRDD`` leaves, not a join
    stacked on the pair pipeline that Catalyst would re-analyze every
    round (at cluster scale: ``checkpoint`` to reliable storage). The
    edge checkpoint is lazy: round 1's job materializes it, so the pair
    pipeline runs once and costs no job of its own. The label
    checkpoints are eager (each round's job carries its changed-count).
    Nothing is cached: the checkpointed blocks are released by the
    ``ContextCleaner`` once the frames that hold them are garbage, on
    return and on the non-convergence error alike.

    ``simple_pairs=True`` asserts the input is already one DISTINCT row
    per unordered pair with ``id_a < id_b`` (every registered pair
    producer — the LSH banders' ``dropDuplicates`` + ``a.id < b.id``
    join, the cosine single-bucket join, PPJoin's final ``distinct`` —
    guarantees this): the symmetrized edge set is then distinct apart
    from repeated self edges, and the collapse skips a full shuffle +
    hash aggregate of the edge set (r12). Unlike
    ``graph.triangle_count``'s ``simple_symmetric``, a violated
    invariant here cannot corrupt the output — min-label propagation is
    idempotent under duplicate edges — it only wastes the work the flag
    saves.

    Output: ``id, group_id, group_size`` for every vertex in ``pairs``
    (``group_id`` = min id in the component).
    """
    if max_iter < 1:
        raise ValueError(f"dup_groups needs max_iter >= 1, got {max_iter}")
    from pyspark.sql import Observation

    # symmetrize with one explode, not union(fwd, rev): a union scans the
    # upstream pair pipeline (often an expensive similarity join) once
    # per branch, an explode scans it once.
    a, b = F.col(id_a), F.col(id_b)
    directed = [(a, b), (b, a), (a, a), (b, b)]
    edges = pairs.select(
        F.explode(
            F.array(*(F.struct(s.alias("s"), d.alias("d")) for s, d in directed))
        ).alias("e")
    ).select("e.s", "e.d")
    if not simple_pairs:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=False)
    # round 1: the source label of every edge is its source id
    src = edges.withColumn("label", F.col("s"))
    for i in range(max_iter):
        # the changed-count rides the eager checkpoint as an Observation:
        # one action per round, not checkpoint + count (measured r11: the
        # count was a full second action whose only output was one scalar)
        obs = Observation(f"dup_groups_changed_{i}")
        labels = (
            src.groupBy(F.col("d").alias("id"))
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("s") == F.col("d"), F.col("label"))).alias("old"),
            )
            .observe(
                obs,
                F.sum((F.col("label") != F.col("old")).cast("long")).alias("n"),
            )
            .localCheckpoint()
        )
        changed = int(obs.get["n"] or 0)
        if changed == 0:
            break
        src = edges.join(labels.select("id", "label"), edges["s"] == labels["id"])
    if changed != 0:
        raise RuntimeError(
            f"dup_groups did not converge within max_iter={max_iter} rounds "
            f"({changed} labels still changing): the component diameter "
            f"exceeds the round budget — raise max_iter (min-label propagation "
            f"needs one round per hop of the component diameter)"
        )
    w = Window.partitionBy("label")
    return labels.select(
        "id",
        F.col("label").alias("group_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
    )


def simhash(
    docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Weighted-majority SimHash over token hashes.

    Explode tokens and sum, per bit b, ``(bit_b(h(tok)) ? 1 : -1)`` over
    token *instances* — identical to the textbook ``tf * (±1)`` over
    distinct tokens (summation commutes), but with no intermediate
    (id, token)-tf aggregation: one explode, one groupBy, one shuffle.
    The signature sets bit b iff the sum is positive.

    ``toks`` (``id, tok``, one row per token instance) bypasses the
    tokenize+explode with a pre-materialized stream.

    Output: ``id, simhash`` (non-negative 32-bit value in a long).
    """
    if toks is None:
        toks = (
            docs.select(
                F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
            )
            # explode_outer: see _exploded_shingles — inner explode's
            # inferred size() filter gets pushed below the repartition
            # with the whole tokenize expression in tow.
            .select("id", F.explode_outer("toks").alias("tok"))
            .filter(F.length("tok") > 0)
        )
    toks = toks.withColumn("th", h64(F.col("tok")))
    bit_sums, sig = _simhash_exprs(bits)
    sums = toks.groupBy("id").agg(*bit_sums)
    return sums.select("id", sig.cast("long").alias("simhash"))


@functools.lru_cache(maxsize=None)
def _simhash_exprs(bits: int):
    """Per-bit sum + signature-reassembly Columns, built once per bit
    width: constructing ``bits`` x several py4j expression calls cost
    ~0.5 s of driver time per QUERY build before caching (Columns are
    immutable unresolved expressions keyed only on input column names,
    so reuse across queries/sessions is safe)."""
    bit_sums = tuple(
        F.sum(
            F.when(
                F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(bits)
    )
    sig = sum(
        F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0)) for b in range(bits)
    )
    return bit_sums, sig


@functools.lru_cache(maxsize=None)
def _simhash_blocks(nblocks: int, width: int):
    return F.array(
        *[
            F.struct(
                F.lit(k).alias("blk_idx"),
                F.shiftright(F.col("simhash"), k * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("blk_val"),
            )
            for k in range(nblocks)
        ]
    )


def simhash_pairs(
    sig: DataFrame, bits: int = 32, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: block on the 4 signature bytes
    (pigeonhole guarantees recall for hamming ≤ 3), verify with
    ``bit_count(a XOR b) <= max_hamming``.

    Output: ``id_a, id_b, hamming``.
    """
    nblocks = 4
    width = bits // nblocks
    sig = sig.persist()  # both join sides; signature agg is the cost
    block_structs = _simhash_blocks(nblocks, width)
    blocked = sig.select("id", "simhash", F.explode(block_structs).alias("bv")).select(
        "id",
        "simhash",
        F.col("bv.blk_idx").alias("blk_idx"),
        F.col("bv.blk_val").alias("blk_val"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def contamination_hits(train_sh: DataFrame, bench_sh: DataFrame) -> DataFrame:
    """Train/eval contamination check: per training doc, how many of its
    shingles also appear in the benchmark shingle set, and what fraction
    of the doc that covers.

    Inputs are ``(id, shingle)`` streams distinct per doc (see
    :func:`_exploded_shingles`); output is ``(id, n_sh, n_hits,
    overlap_frac)`` for docs with at least one hit. ``overlap_frac``
    near 1 is a leaked eval document; a few stray hits on a small
    vocabulary is chance — threshold on the fraction, not the count.

    Scale shape: the benchmark set is distinct-reduced and explicitly
    ``broadcast`` — eval suites are tiny next to a training corpus, so
    the corpus-side shingle stream is NEVER shuffled: one broadcast
    LEFT hash join marks hits in place, and a single partial-aggregated
    groupBy on doc id produces size, hit count, and fraction together.
    """
    bench = bench_sh.select("shingle").distinct().withColumn("__hit", F.lit(1))
    return (
        train_sh.join(F.broadcast(bench), "shingle", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("__hit").alias("n_hits"),
            F.round(F.count("__hit") / F.count(F.lit(1)), 6).alias("overlap_frac"),
        )
        .filter(F.col("n_hits") > 0)
    )


def positional_shingle_profile(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """Exact-substring duplication profile: for every document, how many
    of its ``n``-token windows also occur (verbatim) anywhere else in
    the corpus.

    This is the detection primitive of exact-substring deduplication
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): a window that appears in 2+ places marks a duplicated
    span. The suffix-array construction of the paper is replaced by the
    Spark-native shape — hash every fixed-width token window, count
    occurrences per hash (partial map-side combine), and join the
    (small) duplicated-hash set back onto the window stream.

    Scale shape: the window stream is a map-only explode of the corpus
    scan; the occurrence count is ONE hash shuffle on a 60-bit key; the
    join back carries only hashes whose count > 1 (at web scale the
    overwhelming majority of windows are unique and never re-shuffle).
    Docs shorter than ``n`` tokens have no window and are excluded on
    both engines.

    Output: ``doc_id, n_shingles, dup_shingles, dup_frac``.
    """
    win = positional_windows(docs, text_col, id_col, n).persist()
    totals = win.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    dup_keys = (
        win.groupBy("h").agg(F.count(F.lit(1)).alias("__c")).filter(F.col("__c") > 1)
    )
    dups = (
        win.join(dup_keys.select("h"), "h")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("dup_shingles"))
    )
    return (
        totals.join(dups, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            F.coalesce(F.col("dup_shingles"), F.lit(0)).cast("bigint").alias(
                "dup_shingles"
            ),
            F.round(
                F.coalesce(F.col("dup_shingles"), F.lit(0)).cast("double")
                / F.col("n_shingles"),
                6,
            ).alias("dup_frac"),
        )
    )


def positional_windows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """``(id, pos, h)`` stream of hashed ``n``-token windows with their
    1-based start positions — shared input of the duplication profile
    and the span-removal transform. Map-only (explode over a per-row
    sequence); docs shorter than ``n`` tokens emit nothing."""
    return (
        docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__t"))
        .select(
            "id",
            F.posexplode_outer(
                F.when(
                    F.size("__t") >= n,
                    F.expr(
                        f"transform(sequence(1, size(__t) - {n - 1}),"
                        f" i -> concat_ws(' ', slice(__t, i, {n})))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pos0", "shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .select("id", (F.col("pos0") + 1).alias("pos"), h64("shingle").alias("h"))
    )


def strip_duplicated_spans(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """Exact-substring span REMOVAL (the transform half of Lee et al.
    2021, next to :func:`positional_shingle_profile`'s detection half):
    every token covered by an ``n``-token window that occurs 2+ times
    anywhere in the corpus is dropped, and the document text is rebuilt
    from the surviving tokens.

    This removes EVERY occurrence of a duplicated span (a deterministic
    strengthening of the paper's keep-one-occurrence rule, which needs
    a global tie-break; the kept-canonical variant is the same plan
    with one extra min-(id,pos) window over the duplicated keys).

    Scale shape: the window stream is map-only; the occurrence count is
    ONE partial-combined hash shuffle; the per-doc duplicated-start
    lists ride back on an ``id`` equi-join (tiny — only docs that
    actually contain duplicated spans); the rebuild is an in-row
    index-aware ``filter`` + ``concat_ws``, no Python anywhere.

    Output: ``doc_id, n_tokens, n_kept, text_clean``.
    """
    win = positional_windows(docs, text_col, id_col, n).persist()
    dup_keys = (
        win.groupBy("h").agg(F.count(F.lit(1)).alias("__c")).filter(F.col("__c") > 1)
    )
    starts = (
        win.join(dup_keys.select("h"), "h")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__starts"))
    )
    toked = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__t")
    )
    span_end = n - 1
    kept = F.filter(
        F.col("__t"),
        lambda x, i: F.size(
            F.filter(
                F.col("__s"),
                lambda s: (s <= i + 1) & (i + 1 <= s + span_end),
            )
        )
        == 0,
    )
    return (
        toked.join(starts, "id", "left")
        .withColumn("__s", F.coalesce(F.col("__starts"), F.array().cast("array<int>")))
        .select(
            F.col("id").alias(id_col),
            F.size("__t").cast("bigint").alias("n_tokens"),
            F.size(kept).cast("bigint").alias("n_kept"),
            F.concat_ws(" ", kept).alias("text_clean"),
        )
    )


def minhash_lsh_pairs_against(
    inc_sigs: DataFrame,
    snap_sigs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Incremental LSH: band-join the INCREMENT's MinHash signatures
    against the SNAPSHOT's — the snapshot side is never self-joined, so
    a daily increment pays O(|increment| + matched band posting lists)
    instead of a full-corpus re-dedup (the near-dup analog of
    mlops.q_incremental_exact_dedup's digest anti-join).

    Output: ``id_inc, id_snap, est_jaccard`` (≥ ``min_est_jaccard``).
    """
    r = num_hashes // bands
    hcols = [f"h{i}" for i in range(num_hashes)]

    def banded(sig: DataFrame) -> DataFrame:
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.concat_ws(
                        "_",
                        *[F.col(h).cast("string") for h in hcols[b * r : (b + 1) * r]],
                    ).alias("band_val"),
                )
                for b in range(bands)
            ]
        )
        return sig.select("id", *hcols, F.explode(band_structs).alias("bv")).select(
            "id",
            *hcols,
            F.col("bv.band_idx").alias("band_idx"),
            F.col("bv.band_val").alias("band_val"),
        )

    a = banded(inc_sigs).alias("a")
    b = banded(snap_sigs).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .select(
            F.col("a.id").alias("id_inc"),
            F.col("b.id").alias("id_snap"),
            *[F.col(f"a.{h}").alias(f"a_{h}") for h in hcols],
            *[F.col(f"b.{h}").alias(f"b_{h}") for h in hcols],
        )
        .dropDuplicates(["id_inc", "id_snap"])
    )
    matches = sum(
        F.when(F.col(f"a_{h}") == F.col(f"b_{h}"), 1).otherwise(0) for h in hcols
    )
    return (
        cand.withColumn("est_jaccard", F.round(matches / F.lit(num_hashes), 6))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_inc", "id_snap", "est_jaccard")
    )


def ngram_refresh_pairs(
    snap_pairs: DataFrame,
    snap_census: DataFrame,
    snap_shingles: DataFrame,
    inc_shingles: DataFrame,
    min_jaccard: float = 0.2,
    max_shingle_df: int = 1000,
    cache_tag: str = "ngram_refresh",
) -> DataFrame:
    """Incrementally REFRESH an exact n-gram-Jaccard (PPJoin) pair
    table after an increment lands (VERDICT r10 #1 — the one hole the
    MinHash chain's refreshers left open).

    Why this is harder than the MinHash refresh: the ``max_shingle_df``
    posting cut is a CORPUS-GLOBAL statistic. An increment only ever
    RAISES a shingle's df (appends never remove documents), so a
    shingle can cross the cut — and every snapshot doc containing a
    crossing shingle silently loses it from its sub-cut shingle set,
    changing ``shared``/``n``/``jaccard`` of that doc's OLD pairs (and
    possibly ADMITTING previously-sub-threshold pairs, since removing a
    non-shared shingle raises J). Appending increment pairs alone is
    therefore wrong; a df-census merge must find the affected docs
    first.

    Inputs — all four are STORED snapshot/increment artifacts, read not
    recomputed:

    - ``snap_pairs``: the snapshot's pair table (built at the same
      ``min_jaccard``/``max_shingle_df`` against the snapshot census).
    - ``snap_census``: the snapshot's FULL df census ``(shingle, df)``
      — every shingle, not just sub-cut ones: a truncated census cannot
      distinguish a brand-new shingle (df 0) from a hot one (df > cut),
      and the merged vocabulary needs that distinction.
    - ``snap_shingles`` / ``inc_shingles``: the ``(id, shingle)``
      streams (distinct per doc) of snapshot and increment.

    The refresh:

    1. Merge the increment's df into the census (full outer join —
       vocabulary-shaped, one partial-combined shuffle).
    2. ``crossed`` = shingles with ``1 <= df_snap <= cut < df_full``
       (df is monotone under appends, so crossing is one-directional).
    3. ``affected`` = snapshot docs containing a crossed shingle —
       their sub-cut sets changed; every other snapshot doc's set is
       untouched, so its old pairs carry over VERBATIM. At 100 TB this
       posting lookup is an inverted-index probe on the (few) crossing
       shingles; here it is a broadcast semi-join over the stored
       shingle stream.
    4. Recompute pairs touching ``recompute = affected ∪ increment``
       docs with the standard PPJoin machinery under the MERGED census:
       one prefix-posting side is restricted to recompute docs, the
       other covers their candidate partners (docs sharing a sub-cut
       shingle with a recompute doc — the only docs a qualifying pair
       can involve, by the prefix-filter theorem: a J >= t pair shares
       a prefix sid, and a prefix sid is one of the doc's shingles).
    5. Output = (old pairs with BOTH endpoints unaffected) ∪ recomputed
       pairs. Disjoint by construction: recomputed pairs all touch a
       recompute doc, kept pairs touch none.

    Equality with the full rebuild is exact, value-for-value: unaffected
    docs' ``shared/n_a/n_b`` are set statistics independent of the sid
    assignment, and affected/increment pairs run the same arithmetic
    the rebuild runs. Cost is O(increment + crossed-shingle postings +
    partner postings) — never a full-corpus re-dedup.

    This composed form materializes kept ∪ recomputed;
    :func:`ngram_refresh_delta` returns the raw (affected docs,
    recomputed pairs) delta for callers committing to a manifest-gated
    in-place view (sources/incremental.py) instead of rewriting.
    """
    affected, new_pairs = ngram_refresh_delta(
        snap_census,
        snap_shingles,
        inc_shingles,
        min_jaccard=min_jaccard,
        max_shingle_df=max_shingle_df,
        cache_tag=cache_tag,
    )
    kept_cols = ["id_a", "id_b", "shared", "n_a", "n_b", "jaccard"]
    kept = (
        snap_pairs.join(
            affected.withColumnRenamed("id", "id_a"), "id_a", "left_anti"
        )
        .join(affected.withColumnRenamed("id", "id_b"), "id_b", "left_anti")
        .select(*kept_cols)
    )
    return kept.unionByName(new_pairs.select(*kept_cols))


def ngram_refresh_delta(
    snap_census: DataFrame,
    snap_shingles: DataFrame,
    inc_shingles: DataFrame,
    min_jaccard: float = 0.2,
    max_shingle_df: int = 1000,
    cache_tag: str = "ngram_refresh",
    check_disjoint: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The increment-sized delta of :func:`ngram_refresh_pairs`:
    ``(affected, new_pairs)`` where ``affected`` (column ``id``) lists
    every snapshot doc whose sub-cut shingle set changed (old pairs
    touching them must be DROPPED) and ``new_pairs`` holds the
    recomputed pairs for affected ∪ increment docs (to be ADDED). The
    snapshot pair table itself is never read — this is what an in-place
    refresh commits as (equality-deletes, data delta).

    CONTRACT: increment doc ids must be disjoint from snapshot ids —
    a re-delivered id would double its (id, shingle) rows in the union
    and silently corrupt sid arrays (n doubled, intersections
    inflated). ``check_disjoint`` enforces it loudly with one
    broadcast-probed pass over the stored snapshot stream (the
    ADVICE-r7 fail-loudly discipline: the differential shares the
    id-allocation constant, so it could never see this); disable only
    when the id allocator guarantees disjointness by construction."""
    spark = snap_census.sparkSession
    if check_disjoint:
        inc_ids = inc_shingles.select("id").distinct()
        clash = (
            snap_shingles.join(F.broadcast(inc_ids), "id").limit(1).count()
        )
        if clash:
            raise ValueError(
                "ngram_refresh_delta: increment re-delivers snapshot doc "
                "ids — refreshed pair values would silently diverge from "
                "the rebuild; dedup or re-key the increment"
            )
    tr = _relaxed_threshold(min_jaccard)
    inc_census = inc_shingles.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df_inc")
    )
    merged = (
        snap_census.select("shingle", F.col("df").alias("__df_snap"))
        .join(inc_census, "shingle", "full_outer")
        .select(
            "shingle",
            F.coalesce("__df_snap", F.lit(0)).alias("__df_snap"),
            (
                F.coalesce("__df_snap", F.lit(0))
                + F.coalesce("__df_inc", F.lit(0))
            ).cast("long").alias("__df"),
        )
    )
    merged = cached_generation(spark, f"{cache_tag}_census", merged)
    crossed = merged.filter(
        (F.col("__df_snap") >= 1)
        & (F.col("__df_snap") <= max_shingle_df)
        & (F.col("__df") > max_shingle_df)
    ).select("shingle")
    # crossing shingles sit in the df band just under the cut — a
    # vocabulary-tail-sized set for any sane increment, so the probe
    # broadcasts; an adversarial increment that marches a huge slice of
    # the vocabulary across the cut is routed to a shuffle join instead
    # of failing at broadcast build (ADVICE r11 — in that regime the
    # refresh approaches rebuild cost and stays merely slow, not dead)
    crossed = guards.gated_broadcast(
        crossed, f"{cache_tag} crossed shingles", bytes_per_row=48
    )
    affected = cached_generation(
        spark,
        f"{cache_tag}_affected",
        snap_shingles.join(crossed, "shingle").select("id").distinct(),
    )
    recompute_ids = cached_generation(
        spark,
        f"{cache_tag}_ids",
        affected.unionByName(inc_shingles.select("id").distinct()).distinct(),
    )
    counted = merged.filter(F.col("__df") <= max_shingle_df).select(
        "shingle",
        F.col("__df"),
        F.pmod(F.xxhash64("shingle"), F.lit(NGRAM_SID_BUCKETS)).alias("__bkt"),
    )
    # the merged sub-cut vocabulary normally broadcasts (it is the same
    # assumption the live rebuild makes); near the driver limit the
    # gate falls back to shuffle joins for BOTH probe sites below
    vocab = guards.gated_broadcast(
        _dense_sid_vocab(counted), f"{cache_tag} vocab", bytes_per_row=56
    )
    all_sh = cached_generation(
        spark,
        f"{cache_tag}_sh",
        snap_shingles.unionByName(inc_shingles),
    )
    # candidate partners: docs sharing a sub-cut shingle with a
    # recompute doc — the only possible second endpoints (see step 4)
    rec_shingles = (
        all_sh.join(recompute_ids, "id")
        .join(vocab.select("shingle"), "shingle")
        .select("shingle")
        .distinct()
    )
    partner_ids = all_sh.join(rec_shingles, "shingle").select("id").distinct()
    arrs = cached_generation(
        spark,
        f"{cache_tag}_arrs",
        _sid_arrays(all_sh.join(partner_ids, "id"), vocab, hint_vocab=False),
    )
    pref = _prefix_postings(arrs, tr)
    pref = pref.repartition(
        spark.sparkContext.defaultParallelism * 2, "sid"
    )
    a = pref.join(recompute_ids, "id").alias("a")
    b = pref.alias("b")
    cand = a.join(
        b,
        (F.col("a.sid") == F.col("b.sid")) & (F.col("a.id") != F.col("b.id")),
    )
    cand = _positional_filter(cand, tr)
    # canonicalize (both-recompute pairs arrive in both orientations;
    # the verify-side distinct collapses them)
    cand = cand.select(
        F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
        F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
    )
    new_pairs = _verify_pairs(cand, arrs, min_jaccard)
    return affected, new_pairs
