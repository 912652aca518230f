"""Round-3 governance / sketch / analytics extension ops.

Five op families, each Spark-first with an exact DuckDB oracle:

- **Gopher quality filtering** (Rae et al. 2021 §A1.1): per-document
  rule statistics + composite keep flag. Map-only Catalyst expressions.
- **Count-min-sketch heavy hitters** (Cormode & Muthukrishnan 2005):
  the d×w sketch as a groupBy whose map-side combine bounds the shuffle
  at O(partitions · d · w) rows regardless of stream length; estimates
  are min-over-rows probes against the broadcast sketch.
- **k-anonymity audit**: quasi-identifier group sizes with a
  release/suppress decision — the privacy gate a dataset publisher runs
  before export. One partial-aggregatable shuffle.
- **time-weighted average**: per-user piecewise-constant integral of
  the event value over microsecond-exact durations, numerator summed in
  DECIMAL so the result is addition-order-free (the same
  exact-moments discipline as warehouse.stats_moments).
- **co-occurrence lift**: token-pair association over the document
  corpus, df-capped to the top tokens so the pair join is bounded;
  lift = P(a,b)/(P(a)P(b)) as one exact integer division (PMI without
  the log, so no cross-engine transcendental risk).

Reference parity note: none of these exist in the reference (SURVEY.md
§2.12) — extension tier, same as plans/llm.py / plans/curation.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_project_sprint_etl_spark.functions import sketch, text
from de_project_sprint_etl_spark.plans.llm import docs_fanned
from de_project_sprint_etl_spark.plans.registry import register
from de_project_sprint_etl_spark.plans.testdata import events_df, t

# --- Gopher quality filter ---------------------------------------------------


@register("gopher_quality_filter", text.sql_gopher_stats("documents"))
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rules over the corpus (word-count bounds, mean-word-length
    bounds, stopword evidence, vocabulary-diversity cut). Map-only —
    no shuffle at any corpus size."""
    return text.with_gopher_stats(docs_fanned(spark, sf_dir)).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "stop_hits",
        "distinct_ratio",
        "gopher_keep",
    )


# --- count-min sketch heavy hitters ------------------------------------------

CMS_TOPK = 20

_CMS_ROWS = ", ".join(f"({i})" for i in range(sketch.CMS_DEPTH))


def _sql_cms_heavy_hitters() -> str:
    # sql_cms_bucket inlines the row seed as a literal; this is the same
    # expression with the seed taken from the `rows` relation variable
    # `i` instead, so one string serves all d hash rows (keep in
    # lockstep with functions/sketch.cms_bucket).
    bucket = (
        f"CAST(CAST(CONCAT('0x', SUBSTR(md5(CONCAT(i, '|', "
        f"CAST(key AS VARCHAR))), 1, 15)) AS BIGINT) "
        f"% {sketch.CMS_WIDTH} AS INT)"
    )
    stream = (
        f"SELECT UNNEST({text.SQL_TOKENS.format(c='text')}) AS key FROM documents"
    )
    return f"""
WITH stream AS ({stream}),
rows(i) AS (VALUES {_CMS_ROWS}),
buck AS (SELECT key, i, {bucket} AS bucket FROM stream CROSS JOIN rows),
sk AS (SELECT i, bucket, COUNT(*) AS cnt FROM buck GROUP BY i, bucket),
keys AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM stream GROUP BY key),
probes AS (SELECT key, true_cnt, i, {bucket} AS bucket
           FROM keys CROSS JOIN rows),
est AS (SELECT p.key, MIN(p.true_cnt) AS true_cnt, CAST(MIN(sk.cnt) AS BIGINT) AS cms_est
        FROM probes p JOIN sk ON sk.i = p.i AND sk.bucket = p.bucket
        GROUP BY p.key)
SELECT key, cms_est, true_cnt
FROM est
ORDER BY cms_est DESC, key
LIMIT {CMS_TOPK}
"""


@register("heavy_hitters_cms", _sql_cms_heavy_hitters())
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k heavy hitters of the corpus token stream by count-min
    estimate, with the true count alongside. The token distribution is
    Zipf-shaped, so the heavy hitters sit far above the sketch's
    collision noise (~stream_len/width per bucket) and the estimate is
    a tight upper bound for them. Sketch build shuffles
    O(partitions · d · w) rows; the probe join broadcasts the d×w-row
    sketch. Ordering (cms_est DESC, key) makes top-k deterministic."""
    stream = docs_fanned(spark, sf_dir).select(
        F.explode(text.tokens("text")).alias("key")
    )
    sk = sketch.cms_build(stream, "key")
    keys = stream.groupBy("key").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = sketch.cms_estimate(keys, sk, "key")
    return (
        est.select("key", "cms_est", "true_cnt")
        .orderBy(F.desc("cms_est"), "key")
        .limit(CMS_TOPK)
    )


# --- k-anonymity audit -------------------------------------------------------

K_ANON = 120  # release threshold on the quasi-identifier group size

_SQL_K_ANON = f"""
SELECT o_orderpriority,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS k,
       CASE WHEN COUNT(*) >= {K_ANON} THEN 'release' ELSE 'suppress' END
         AS decision
FROM orders
GROUP BY o_orderpriority, order_year, o_orderstatus
"""


@register("k_anonymity_orders", _SQL_K_ANON)
def q_k_anonymity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (priority, year, status)
    quasi-identifier: group sizes plus the release/suppress decision at
    k >= {K}. One hash aggregation, partial map-side — group count is
    bounded by the QI domain product, not the table size."""
    orders = t(spark, sf_dir, "orders")
    g = orders.groupBy(
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderstatus",
    ).agg(F.count(F.lit(1)).alias("k"))
    return g.select(
        "o_orderpriority",
        "order_year",
        "o_orderstatus",
        "k",
        F.when(F.col("k") >= K_ANON, F.lit("release"))
        .otherwise(F.lit("suppress"))
        .alias("decision"),
    )


# --- l-diversity audit (round 8) -----------------------------------------------

L_DIV = 2  # minimum distinct sensitive values per released QI group

_SQL_L_DIV = f"""
SELECT o_orderpriority,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS l_distinct,
       CASE WHEN COUNT(*) >= {K_ANON}
             AND COUNT(DISTINCT o_orderstatus) >= {L_DIV}
            THEN 'release' ELSE 'suppress' END AS decision
FROM orders
GROUP BY o_orderpriority, order_year
"""


@register("l_diversity_orders", _SQL_L_DIV)
def q_l_diversity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion k_anonymity_orders cannot
    express: a QI group can be large (k-anonymous) yet leak the
    sensitive attribute outright when every member shares one value.
    Here QI = (priority, year), sensitive = order status; release
    requires BOTH k >= {K} and >= {L} distinct sensitive values. One
    hash aggregation with an exact distinct count whose cardinality is
    bounded by the tiny status domain — at 100 TB this is the same
    partial-aggregated group-by as the k-anonymity audit."""
    orders = t(spark, sf_dir, "orders")
    g = orders.groupBy(
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("order_year"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.countDistinct("o_orderstatus").cast("long").alias("l_distinct"),
    )
    return g.select(
        "o_orderpriority",
        "order_year",
        "k",
        "l_distinct",
        F.when(
            (F.col("k") >= K_ANON) & (F.col("l_distinct") >= L_DIV),
            F.lit("release"),
        )
        .otherwise(F.lit("suppress"))
        .alias("decision"),
    )


# --- time-weighted average ---------------------------------------------------

_SQL_TWA = """
WITH e AS (
  SELECT user_id, ts, value,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
           - epoch_us(ts) AS dur_us
  FROM events),
held AS (SELECT user_id,
                CAST(value AS DECIMAL(18,6)) * dur_us AS num,
                dur_us
         FROM e WHERE dur_us IS NOT NULL)
SELECT user_id,
       ROUND(CAST(SUM(num) AS DOUBLE) / CAST(SUM(dur_us) AS DOUBLE), 6)
         AS time_weighted_value,
       CAST(SUM(dur_us) AS BIGINT) AS observed_us
FROM held
GROUP BY user_id
HAVING SUM(dur_us) > 0
"""


@register("events_time_weighted_avg", _SQL_TWA)
def q_events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted mean of the event value: each value is
    held until the user's next event (piecewise-constant integral over
    microsecond-exact durations). The numerator sums DECIMAL(18,6) ×
    BIGINT products — addition-order-free, so partition order can't
    move the result — and the double math happens once, post-agg
    (same discipline as stats_moments). Window shuffles once on
    user_id; the groupBy reuses that partitioning."""
    ev = events_df(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    held = (
        ev.withColumn("dur_us", F.lead(us).over(w) - us)
        .filter(F.col("dur_us").isNotNull())
        .select(
            "user_id",
            (F.col("value").cast("decimal(18,6)") * F.col("dur_us")).alias("num"),
            "dur_us",
        )
    )
    g = held.groupBy("user_id").agg(
        F.sum("num").alias("num"), F.sum("dur_us").alias("dur")
    )
    return g.filter(F.col("dur") > 0).select(
        "user_id",
        F.round(F.col("num").cast("double") / F.col("dur").cast("double"), 6).alias(
            "time_weighted_value"
        ),
        F.col("dur").cast("bigint").alias("observed_us"),
    )


# --- co-occurrence lift --------------------------------------------------------

COOC_TOP_TOKENS = 40
COOC_TOPK_PAIRS = 30

_SQL_COOC = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_distinct({text.SQL_TOKENS.format(c='text')})) AS tk
  FROM documents),
total AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
df AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY tk),
top AS (SELECT tk, df FROM df ORDER BY df DESC, tk LIMIT {COOC_TOP_TOKENS}),
ft AS (SELECT t.doc_id, t.tk, p.df FROM toks t JOIN top p USING (tk)),
pairs AS (
  SELECT a.tk AS token_a, b.tk AS token_b,
         CAST(COUNT(*) AS BIGINT) AS co_docs,
         MIN(a.df) AS df_a, MIN(b.df) AS df_b
  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tk < b.tk
  GROUP BY a.tk, b.tk)
SELECT token_a, token_b, co_docs,
       ROUND(CAST(co_docs * n_docs AS DOUBLE) / CAST(df_a * df_b AS DOUBLE), 6)
         AS lift
FROM pairs CROSS JOIN total
ORDER BY lift DESC, token_a, token_b
LIMIT {COOC_TOPK_PAIRS}
"""


@register("cooccurrence_lift", _SQL_COOC)
def q_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-pair association (lift = P(a,b) / (P(a)·P(b))) over the
    corpus, restricted to the top-{N} tokens by document frequency so
    the pair self-join is df-bounded (the standard frequent-pair cut —
    an unrestricted token self-join is quadratic in the hottest
    posting list). The df table is tiny and broadcast; counts stay
    integers until one final exact division."""
    toks = (
        docs_fanned(spark, sf_dir)
        .select("doc_id", F.explode(F.array_distinct(text.tokens("text"))).alias("tk"))
    )
    n_docs = docs_fanned(spark, sf_dir).select(
        F.countDistinct("doc_id").alias("n_docs")
    )
    df_tbl = toks.groupBy("tk").agg(F.count(F.lit(1)).alias("df"))
    top = df_tbl.orderBy(F.desc("df"), "tk").limit(COOC_TOP_TOKENS)
    ft = toks.join(F.broadcast(top), "tk")
    a = ft.select(
        F.col("doc_id"), F.col("tk").alias("token_a"), F.col("df").alias("df_a")
    )
    b = ft.select(
        F.col("doc_id"), F.col("tk").alias("token_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, ["doc_id"])
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(
            F.count(F.lit(1)).alias("co_docs"),
            F.min("df_a").alias("df_a"),
            F.min("df_b").alias("df_b"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .select(
            "token_a",
            "token_b",
            "co_docs",
            F.round(
                (F.col("co_docs") * F.col("n_docs")).cast("double")
                / (F.col("df_a") * F.col("df_b")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "token_a", "token_b")
        .limit(COOC_TOPK_PAIRS)
    )


# --- hybrid retrieval: BM25 + hashed-feature cosine, RRF fusion --------------
#
# The standard two-tower retrieval stack run entirely in-engine: a
# lexical ranking (Okapi BM25, reusing functions/lm.bm25_topk) and a
# dense ranking (cosine over the 64-bucket hashing-trick doc vectors —
# the same featurization as feature_hash_docs, so no vocabulary build)
# fused with reciprocal-rank fusion (Cormack et al. 2009):
# rrf(d) = Σ_method 1/(K + rank_method(d)). Ranks are integers, each
# reciprocal is one exact-rounded division, and the fusion sum has two
# fixed-order terms — no cross-engine float risk anywhere.

from de_project_sprint_etl_spark.functions import lm  # noqa: E402
from de_project_sprint_etl_spark.functions.caching import cached_generation  # noqa: E402
from de_project_sprint_etl_spark.plans.llm import BM25_QUERY_TERMS  # noqa: E402

RRF_K = 60
HYBRID_CAND = 50  # per-method candidate depth
HYBRID_TOPK = 20
_FH_DIM = 64  # hashing-trick width (lockstep with feature_hash_docs)


def _sql_hybrid_rrf() -> str:
    toks = text.SQL_TOKENS.format(c="text")
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    bucket = f"CAST({text.sql_h64('tok')} % {_FH_DIM} AS INT)"
    lex = lm.sql_bm25_topk("documents", BM25_QUERY_TERMS, k=HYBRID_CAND)
    return f"""
WITH lex AS (SELECT doc_id, rank AS lex_rank FROM ({lex})),
toks AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
feats AS (SELECT doc_id, {bucket} AS b, CAST(COUNT(*) AS BIGINT) AS n
          FROM toks WHERE tok <> '' GROUP BY doc_id, {bucket}),
qtoks AS (SELECT unnest([{terms}]) AS tok),
qb AS (SELECT {bucket} AS b, CAST(COUNT(*) AS BIGINT) AS qn
       FROM qtoks GROUP BY {bucket}),
q2 AS (SELECT CAST(SUM(qn * qn) AS BIGINT) AS qq FROM qb),
nd AS (SELECT doc_id, CAST(SUM(n * n) AS BIGINT) AS nn FROM feats GROUP BY doc_id),
dots AS (SELECT f.doc_id, CAST(SUM(f.n * qb.qn) AS BIGINT) AS d
         FROM feats f JOIN qb USING (b) GROUP BY f.doc_id),
cos AS (SELECT nd.doc_id,
               ROUND(CAST(d AS DOUBLE)
                     / (sqrt(CAST(nn AS DOUBLE)) * sqrt(CAST(qq AS DOUBLE))), 6)
                 AS cscore
        FROM dots JOIN nd USING (doc_id) CROSS JOIN q2),
dense AS (SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY cscore DESC, doc_id) AS INT)
                   AS dense_rank
          FROM cos
          ORDER BY cscore DESC, doc_id
          LIMIT {HYBRID_CAND}),
fused AS (
  SELECT doc_id, lex_rank, dense_rank,
         COALESCE(1.0 / ({RRF_K} + lex_rank), 0.0)
           + COALESCE(1.0 / ({RRF_K} + dense_rank), 0.0) AS rrf_score
  FROM lex FULL JOIN dense USING (doc_id))
SELECT doc_id, lex_rank, dense_rank, ROUND(rrf_score, 6) AS rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {HYBRID_TOPK}
"""


@register("hybrid_rrf_retrieval", _sql_hybrid_rrf())
def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (lexical) + hashed-feature cosine (dense) top-{HYBRID_CAND}
    rankings fused by reciprocal-rank fusion; top-{HYBRID_TOPK} by
    fused score. Ranks come from deterministic (score DESC, doc_id)
    orderings, so fusion is reproducible across engines and
    partitionings.

    ONE corpus pass (r12 optimization, guide §5): the round-11 form
    tokenized the corpus FOUR times — the BM25 branch scanned its
    tf/dl projection twice (global stats agg + score join) and the
    dense branch recomputed the exploded (doc, bucket) aggregation for
    each of its two consumers (norms + dots). Both branches need only
    per-(doc, bucket) counts and per-doc term frequencies, so a single
    explode+aggregate now produces a persisted frame of
    O(docs × {_FH_DIM}) narrow rows carrying the feature count AND the
    per-term tf partials; everything downstream (BM25 tf/dl/df/avgdl,
    feature norms, query dots) derives from it. Zero-token documents
    (present in the old BM25 base with dl=0, absent from the exploded
    stream) are restored by a doc_id-only left join so the BM25
    N/df/avgdl statistics and candidate set stay IDENTICAL; the score
    expression is reused verbatim via functions/lm.bm25_rank_from_tf,
    so the float arithmetic is bit-identical."""
    docs = docs_fanned(spark, sf_dir)

    bucket = (text.h64(F.col("tok")) % _FH_DIM).cast("int")
    ex = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    feats_tf = cached_generation(
        spark,
        "hybrid_feats",
        ex.select("doc_id", bucket.alias("b"), "tok")
        .groupBy("doc_id", "b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.when(F.col("tok") == F.lit(term), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ).alias(f"__tfp{i}")
                for i, term in enumerate(BM25_QUERY_TERMS)
            ],
        ),
    )
    feats = feats_tf.select("doc_id", "b", "n")

    # BM25 branch: per-doc dl/tf from the shared frame; zero-token docs
    # restored with dl=0/tf=0 exactly as the array-filter form emitted
    # them (they score 0.0 and participate in N).
    per_doc0 = feats_tf.groupBy("doc_id").agg(
        F.sum("n").alias("__dl"),
        *[
            F.sum(f"__tfp{i}").alias(f"__tf{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    per_doc = (
        docs.select("doc_id")
        .join(per_doc0, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__dl", F.lit(0)).cast("int").alias("dl"),
            *[
                F.coalesce(f"__tf{i}", F.lit(0)).cast("int").alias(f"tf{i}")
                for i in range(len(BM25_QUERY_TERMS))
            ],
        )
    )
    lex = lm.bm25_rank_from_tf(per_doc, len(BM25_QUERY_TERMS), k=HYBRID_CAND).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    qtoks = spark.createDataFrame(
        [(tm,) for tm in BM25_QUERY_TERMS], ["tok"]
    )
    qb = (
        qtoks.select((text.h64(F.col("tok")) % _FH_DIM).cast("int").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("qn"))
    )
    q2 = qb.agg(F.sum(F.col("qn") * F.col("qn")).alias("qq"))
    nd = feats.groupBy("doc_id").agg(F.sum(F.col("n") * F.col("n")).alias("nn"))
    dots = (
        feats.join(F.broadcast(qb), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("qn")).alias("d"))
    )
    cos = (
        dots.join(nd, "doc_id")
        .crossJoin(F.broadcast(q2))
        .select(
            "doc_id",
            F.round(
                F.col("d").cast("double")
                / (
                    F.sqrt(F.col("nn").cast("double"))
                    * F.sqrt(F.col("qq").cast("double"))
                ),
                6,
            ).alias("cscore"),
        )
    )
    dense = (
        cos.orderBy(F.desc("cscore"), "doc_id")
        .limit(HYBRID_CAND)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cscore"), "doc_id"))
            .cast("int")
            .alias("dense_rank"),
        )
    )
    fused = lex.join(dense, "doc_id", "full").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        (
            F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("dense_rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round("rrf_score", 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(HYBRID_TOPK)
    )


# --- leave-one-out target encoding -------------------------------------------

_SQL_TARGET_ENCODE = """
WITH w AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           OVER (PARTITION BY o_orderpriority) AS cat_sum,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cat_n
  FROM orders)
SELECT o_orderkey, o_orderpriority,
       -- floor(x*1e6 + 0.5)/1e6, not ROUND(x, 6): engines disagree on
       -- double rounding at the 6th-decimal boundary (one row at sf1);
       -- this exact IEEE expression is identical on both
       CASE WHEN cat_n > 1
            THEN FLOOR(CAST(cat_sum - price AS DOUBLE) / (cat_n - 1)
                       * 1000000 + 0.5) / 1000000.0
            ELSE NULL END AS loo_target_mean
FROM w
"""


@register("target_encode_priority", _SQL_TARGET_ENCODE)
def q_target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the order priority against
    o_totalprice — the supervised categorical encoder that avoids
    self-leakage by excluding each row's own target from its category
    mean. Category sums are EXACT decimals accumulated by an
    unbounded-frame window (addition-order-free), the double division
    happens once per row; one shuffle on the category key."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    d = orders.select(
        "o_orderkey",
        "o_orderpriority",
        price.alias("price"),
        F.sum(price).over(w).alias("cat_sum"),
        F.count(F.lit(1)).over(w).alias("cat_n"),
    )
    return d.select(
        "o_orderkey",
        "o_orderpriority",
        F.when(
            F.col("cat_n") > 1,
            # same IEEE expression as the oracle (see SQL comment)
            F.floor(
                (F.col("cat_sum") - F.col("price")).cast("double")
                / (F.col("cat_n") - 1)
                * 1000000
                + 0.5
            )
            / 1000000.0,
        ).alias("loo_target_mean"),
    )


# --- chi-squared feature selection -------------------------------------------

CHI2_VOCAB = 50
CHI2_TOPK = 30


def _sql_chi2() -> str:
    toks = text.SQL_TOKENS.format(c="text")
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({toks})) AS tk FROM documents),
vocab AS (
  SELECT tk, CAST(COUNT(*) AS BIGINT) AS n_t FROM dt GROUP BY tk
  ORDER BY n_t DESC, tk LIMIT {CHI2_VOCAB}),
langs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM documents GROUP BY lang),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
a AS (
  SELECT dt.tk, d.lang, CAST(COUNT(*) AS BIGINT) AS a
  FROM dt JOIN vocab USING (tk) JOIN documents d USING (doc_id)
  GROUP BY dt.tk, d.lang),
grid AS (
  SELECT v.tk, l.lang, v.n_t, l.n_l, COALESCE(a.a, 0) AS a
  FROM vocab v CROSS JOIN langs l
  LEFT JOIN a ON a.tk = v.tk AND a.lang = l.lang),
cells AS (
  SELECT tk, lang, a,
         n_t - a AS b, n_l - a AS c, n - n_t - n_l + a AS d, n
  FROM grid CROSS JOIN total)
SELECT tk AS token, lang,
       a AS in_class_docs,
       ROUND(CASE WHEN (a+b) = 0 OR (c+d) = 0 OR (a+c) = 0 OR (b+d) = 0
                  THEN 0.0
                  ELSE CAST(n * (a*d - b*c) * (a*d - b*c) AS DOUBLE)
                       / CAST((a+b) * (c+d) * (a+c) * (b+d) AS DOUBLE)
             END, 6) AS chi2
FROM cells
ORDER BY chi2 DESC, token, lang
LIMIT {CHI2_TOPK}
"""


@register("chi2_token_lang", _sql_chi2())
def q_chi2_token_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection: which tokens are most associated
    with which language label (the supervised vocabulary-pruning stage
    before training a classifier). Contingency cells are exact BIGINT
    counts derived from ONE (token,lang) aggregate plus broadcast
    marginals (vocab x langs grid is tiny); chi2 is one integer-exact
    expression with a single double division. Vocab capped at the
    top-{V} document frequencies so the stats join is bounded."""
    docs = docs_fanned(spark, sf_dir)
    labeled = t(spark, sf_dir, "documents").select("doc_id", "lang")
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(text.tokens("text"))).alias("tk")
    ).dropDuplicates(["doc_id", "tk"])
    vocab = (
        dt.groupBy("tk")
        .agg(F.count(F.lit(1)).alias("n_t"))
        .orderBy(F.desc("n_t"), "tk")
        .limit(CHI2_VOCAB)
    )
    langs = labeled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    total = labeled.agg(F.count(F.lit(1)).alias("n"))
    a_tbl = (
        dt.join(F.broadcast(vocab.select("tk")), "tk")
        .join(labeled, "doc_id")
        .groupBy("tk", "lang")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    grid = (
        vocab.crossJoin(F.broadcast(langs))
        .join(a_tbl, ["tk", "lang"], "left")
        .withColumn("a", F.coalesce(F.col("a"), F.lit(0)))
        .crossJoin(F.broadcast(total))
    )
    a, n_t, n_l, n = (F.col(x) for x in ("a", "n_t", "n_l", "n"))
    b, c = n_t - a, n_l - a
    d = n - n_t - n_l + a
    num = (n * (a * d - b * c) * (a * d - b * c)).cast("double")
    den = ((a + b) * (c + d) * (a + c) * (b + d)).cast("double")
    chi2 = F.when(
        ((a + b) == 0) | ((c + d) == 0) | ((a + c) == 0) | ((b + d) == 0),
        F.lit(0.0),
    ).otherwise(F.round(num / den, 6))
    return (
        grid.select(
            F.col("tk").alias("token"),
            "lang",
            a.alias("in_class_docs"),
            chi2.alias("chi2"),
        )
        .orderBy(F.desc("chi2"), "token", "lang")
        .limit(CHI2_TOPK)
    )


# --- integer-exact EWMA (halving decay over the trailing frame) ---------------

EWMA_SPAN = 8  # trailing events; weight of lag k is 2^(span-1-k)

_EWMA_LAGS = ",\n         ".join(
    f"LAG(cents, {k}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l{k}"
    for k in range(EWMA_SPAN)
)
_EWMA_NUM = " + ".join(
    f"COALESCE(l{k}, 0) * {1 << (EWMA_SPAN - 1 - k)}" for k in range(EWMA_SPAN)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN l{k} IS NULL THEN 0 ELSE {1 << (EWMA_SPAN - 1 - k)} END)"
    for k in range(EWMA_SPAN)
)

_SQL_EWMA = f"""
WITH c AS (
  SELECT event_id, user_id, ts,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
l AS (
  SELECT event_id, user_id,
         {_EWMA_LAGS}
  FROM c)
SELECT event_id, user_id,
       ROUND(CAST({_EWMA_NUM} AS DOUBLE)
             / (CAST({_EWMA_DEN} AS DOUBLE) * 100.0), 6) AS ewma_value
FROM l
"""


@register("events_ewma_value", _SQL_EWMA)
def q_events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (halving decay) of each
    user's event value over the trailing {span} events. Values become
    integer cents, each lag's weight is a power of two, and numerator /
    denominator are INTEGER sums — associativity-free, so the result is
    bit-identical across engines and partition orders (the float EWMA
    recursion is not). One user_id window shuffle; all lags share the
    frame sort."""
    ev = events_df(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    d = ev.select("event_id", "user_id", cents.alias("cents"), "ts")
    for k in range(EWMA_SPAN):
        d = d.withColumn(f"l{k}", F.lag("cents", k).over(w))
    num = sum(
        (F.coalesce(F.col(f"l{k}"), F.lit(0)) * (1 << (EWMA_SPAN - 1 - k)))
        for k in range(EWMA_SPAN)
    )
    den = sum(
        F.when(F.col(f"l{k}").isNull(), 0).otherwise(1 << (EWMA_SPAN - 1 - k))
        for k in range(EWMA_SPAN)
    )
    return d.select(
        "event_id",
        "user_id",
        F.round(num.cast("double") / (den.cast("double") * 100.0), 6).alias(
            "ewma_value"
        ),
    )


# --- SCD2 point-in-time join --------------------------------------------------

from de_project_sprint_etl_spark.plans.registry import ORACLES  # noqa: E402
from de_project_sprint_etl_spark.plans.warehouse import (  # noqa: E402
    q_scd2_customer_priority,
)


def _sql_pit_join() -> str:
    scd2 = ORACLES["scd2_customer_priority"]
    # equi key + range filter, never a bare range join (DuckDB IEJoin
    # livelock — see the verify skill's gotchas); ISO date strings
    # compare correctly as text
    return f"""
WITH dim AS ({scd2})
SELECT o.o_orderkey, o.o_custkey,
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS order_date,
       dim.priority AS priority_at_date
FROM orders o
JOIN dim ON dim.o_custkey = o.o_custkey
WHERE dim.valid_from <= CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR)
  AND (dim.valid_to IS NULL
       OR CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) <= dim.valid_to)
"""


@register("scd2_point_in_time_join", _sql_pit_join())
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (effective-dated) join: each fact row picks the
    dimension version valid AT its date — the lookup every
    training-data join against a versioned dimension needs (no leakage
    from future attribute values).

    Scale shape: instead of a range join, dimension change-points and
    facts are unioned and forward-filled per entity with ONE window
    over ONE o_custkey shuffle — the sort-merge as-of form that scales
    with |facts| + |versions| instead of |facts| x |versions|. The
    oracle states the same semantics as an equi+range-filtered join
    against the registered SCD2 output, so the two formulations
    cross-check each other."""
    dim = q_scd2_customer_priority(spark, sf_dir).select(
        "o_custkey",
        F.col("valid_from").cast("date").alias("d"),
        F.col("priority").alias("__prio"),
    )
    facts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
    )
    tagged = dim.select(
        "o_custkey",
        "d",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        "__prio",
        F.lit(1).alias("__is_dim"),
    ).unionByName(
        facts.select(
            "o_custkey",
            "d",
            "o_orderkey",
            F.lit(None).cast("string").alias("__prio"),
            F.lit(0).alias("__is_dim"),
        )
    )
    # dim change sorts before same-day facts (valid_from is inclusive)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d", F.desc("__is_dim"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn(
        "priority_at_date", F.last("__prio", ignorenulls=True).over(w)
    )
    return filled.filter(F.col("__is_dim") == 0).select(
        "o_orderkey",
        "o_custkey",
        F.col("d").cast("string").alias("order_date"),
        "priority_at_date",
    )


# --- partition-skew profile ---------------------------------------------------

SKEW_TOPK = 20

_SQL_SKEW = f"""
WITH counts AS (
  SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_partkey),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
head AS (SELECT key, cnt FROM counts ORDER BY cnt DESC, key LIMIT {SKEW_TOPK}),
ranked AS (
  SELECT key, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS INT) AS rank,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, key
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
  FROM head)
SELECT key, cnt, rank,
       ROUND(CAST(cnt AS DOUBLE) / n, 6) AS share,
       ROUND(CAST(cum_cnt AS DOUBLE) / n, 6) AS cum_share
FROM ranked CROSS JOIN total
ORDER BY rank
"""


@register("partition_skew_profile", _SQL_SKEW)
def q_partition_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew report a pipeline runs on a join key before choosing a
    strategy (broadcast / salt / AQE skew-join): top-{K} heaviest keys
    with each key's share and the cumulative head share. The head is
    cut FIRST with orderBy().limit() — a distributed TakeOrdered over
    the per-key counts — and only the {K}-row head enters the ranking
    window, so no single partition ever sees the full distinct-key
    table (a global window over per-key counts is itself a skew hazard
    at 100 TB). The running total is an INTEGER window sum
    (associativity-free); shares are one division each. Companion of
    the salted-join op (functions/skew), which consumes exactly this
    head-of-distribution information."""
    li = t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("key"))
    counts = li.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
    total = li.agg(F.count(F.lit(1)).alias("n"))
    head = counts.orderBy(F.desc("cnt"), "key").limit(SKEW_TOPK)
    w_rank = Window.orderBy(F.desc("cnt"), "key")
    ranked = head.select(
        "key",
        "cnt",
        F.row_number().over(w_rank).cast("int").alias("rank"),
        F.sum("cnt")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_cnt"),
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "key",
            "cnt",
            "rank",
            F.round(F.col("cnt").cast("double") / F.col("n"), 6).alias("share"),
            F.round(F.col("cum_cnt").cast("double") / F.col("n"), 6).alias(
                "cum_share"
            ),
        )
        .orderBy("rank")
    )


# --- join-cardinality estimation from a deterministic key sample --------------

#: 1-in-N key-sample rate for the join-size estimator
JCE_MOD = 16

_JCE_GATE = text.sql_h64("CAST(l_partkey AS VARCHAR)") + f" % {JCE_MOD} = 0"

_SQL_JCE = f"""
WITH counts AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt,
         CASE WHEN {_JCE_GATE} THEN 1 ELSE 0 END AS sampled
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(COALESCE(SUM(sampled), 0) AS BIGINT) AS n_sampled_keys,
       CAST({JCE_MOD} * COALESCE(SUM(CASE WHEN sampled = 1
                                          THEN cnt * cnt ELSE 0 END), 0)
            AS BIGINT) AS est_rows,
       CAST(COALESCE(SUM(cnt * cnt), 0) AS BIGINT) AS actual_rows,
       ROUND(ABS({JCE_MOD}.0 * COALESCE(SUM(CASE WHEN sampled = 1
                                              THEN cnt * cnt ELSE 0 END), 0)
                 - COALESCE(SUM(cnt * cnt), 0))
             / GREATEST(COALESCE(SUM(cnt * cnt), 0), 1), 6) AS rel_err
FROM counts
"""


@register("join_cardinality_estimate", _SQL_JCE)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from a 1/16 DETERMINISTIC key sample — the
    pre-flight a 100-TB pipeline runs before committing a shuffle join
    whose output may explode (extension op; companions:
    partition_skew_profile reports the head keys, salted_join handles
    them). Target: the M:N lineitem self-join on l_partkey, whose true
    output is SUM over keys of cnt^2 — computed here from the per-key
    count table, never by materializing the join. The estimator is the
    classic correlated (key-hash) sample: keep keys with h64(key) %
    16 = 0, scale the sampled sum of squares by 16. Sampling BY KEY
    (not by row) keeps each sampled key's contribution exact, which is
    what makes the estimator unbiased for join sizes; the hash gate
    makes it reproducible across runs, partitionings, and engines. One
    groupBy over the fact table; everything downstream is a
    single-row conditional aggregate of exact integers."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    counts = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max(
            (
                text.h64(F.col("l_partkey").cast("string")) % JCE_MOD == 0
            ).cast("int")
        ).alias("sampled"),
    )
    sq = F.col("cnt") * F.col("cnt")
    samp_sq = F.sum(F.when(F.col("sampled") == 1, sq).otherwise(F.lit(0)))
    all_sq = F.sum(sq)
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.coalesce(F.sum("sampled"), F.lit(0)).cast("long").alias("n_sampled_keys"),
        (F.lit(JCE_MOD) * F.coalesce(samp_sq, F.lit(0)))
        .cast("long")
        .alias("est_rows"),
        F.coalesce(all_sq, F.lit(0)).cast("long").alias("actual_rows"),
        F.round(
            F.abs(
                F.lit(float(JCE_MOD)) * F.coalesce(samp_sq, F.lit(0))
                - F.coalesce(all_sq, F.lit(0))
            )
            / F.greatest(F.coalesce(all_sq, F.lit(0)), F.lit(1)),
            6,
        ).alias("rel_err"),
    )


# --- Markov transition matrix over event types --------------------------------

_SQL_TRANSITION = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type),
tot AS (
  SELECT from_type, to_type, n,
         CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_total
  FROM pairs)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE) / row_total, 6) AS p
FROM tot
"""


@register("event_transition_matrix", _SQL_TRANSITION)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event-type
    sequences: P(next = b | current = a) from exact bigram counts (one
    user_id window shuffle, then a #types²-sized aggregate). Row
    normalization is an integer window sum + one division — no float
    accumulation anywhere."""
    ev = events_df(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    w_row = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_row).cast("double"), 6
        ).alias("p"),
    )


# --- hourly OHLC bars ---------------------------------------------------------

_SQL_OHLC = """
SELECT event_type,
       CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS bar_hour,
       (MIN(struct_pack(ts := ts, event_id := event_id, value := value))).value
         AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       (MAX(struct_pack(ts := ts, event_id := event_id, value := value))).value
         AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type, bar_hour
"""


@register("events_hourly_ohlc", _SQL_OHLC)
def q_events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the time-series rollup a
    metrics store serves. Open/close are min/max over (ts, event_id,
    value) STRUCTS: lexicographic struct comparison gives the
    first/last VALUE of the bar in one partial-combinable aggregate
    (no sort, no window, no self-join), with event_id breaking ts ties
    identically in both engines."""
    ev = events_df(spark, sf_dir)
    s = F.struct("ts", "event_id", "value")
    return (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).cast("string").alias("bar_hour"),
        )
        .agg(
            F.min(s).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(s).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- A/B experiment analysis --------------------------------------------------
#
# Deterministic hash-bucket assignment (the same gate every feature-flag
# system uses) + Welch's t statistic from EXACT decimal moments, so the
# whole experiment readout is reproducible across runs, engines, and
# partitionings — the property an experimentation platform needs before
# anyone trusts a p-value at 100 TB of event logs.

_SQL_AB = f"""
WITH assigned AS (
  SELECT CASE WHEN {text.sql_h64("CAST(user_id AS VARCHAR)", seed=7)} % 2 = 0
              THEN 'control' ELSE 'treatment' END AS variant,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
  WHERE event_type = 'purchase'),
m AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS DOUBLE) AS s,
         CAST(SUM(v * v) AS DOUBLE) AS ss
  FROM assigned GROUP BY variant),
stats AS (
  SELECT variant, n, ROUND(s / n, 6) AS mean_value,
         (ss - s * s / n) / (n - 1) AS var_value
  FROM m),
wide AS (
  SELECT
    MIN(CASE WHEN variant = 'control' THEN n END) AS n_c,
    MIN(CASE WHEN variant = 'control' THEN mean_value END) AS mean_c,
    MIN(CASE WHEN variant = 'control' THEN var_value END) AS var_c,
    MIN(CASE WHEN variant = 'treatment' THEN n END) AS n_t,
    MIN(CASE WHEN variant = 'treatment' THEN mean_value END) AS mean_t,
    MIN(CASE WHEN variant = 'treatment' THEN var_value END) AS var_t
  FROM stats)
SELECT n_c, n_t, mean_c, mean_t,
       ROUND(mean_t - mean_c, 6) AS lift,
       ROUND((mean_t - mean_c)
             / sqrt(var_t / n_t + var_c / n_c), 6) AS welch_t
FROM wide
"""


@register("ab_test_analysis", _SQL_AB)
def q_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout over purchase events: users split 50/50 by the
    shared deterministic hash (no RNG — assignment is reproducible and
    consistent for a user across runs), per-variant mean from exact
    decimal sums, Welch's t from exact (Σv, Σv²) moments with the
    double math applied once post-aggregation. One tiny 2-group
    aggregate after a map-only filter+assign."""
    ev = events_df(spark, sf_dir).filter(F.col("event_type") == "purchase")
    assigned = ev.select(
        F.when(
            text.h64(F.col("user_id").cast("string"), seed=7) % 2 == 0,
            F.lit("control"),
        )
        .otherwise(F.lit("treatment"))
        .alias("variant"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    m = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    stats = m.select(
        "variant",
        "n",
        F.round(s / n, 6).alias("mean_value"),
        ((ss - s * s / n) / (n - 1)).alias("var_value"),
    )
    c = F.col
    wide = stats.agg(
        F.min(F.when(c("variant") == "control", c("n"))).alias("n_c"),
        F.min(F.when(c("variant") == "control", c("mean_value"))).alias("mean_c"),
        F.min(F.when(c("variant") == "control", c("var_value"))).alias("var_c"),
        F.min(F.when(c("variant") == "treatment", c("n"))).alias("n_t"),
        F.min(F.when(c("variant") == "treatment", c("mean_value"))).alias("mean_t"),
        F.min(F.when(c("variant") == "treatment", c("var_value"))).alias("var_t"),
    )
    return wide.select(
        "n_c",
        "n_t",
        "mean_c",
        "mean_t",
        F.round(c("mean_t") - c("mean_c"), 6).alias("lift"),
        F.round(
            (c("mean_t") - c("mean_c"))
            / F.sqrt(c("var_t") / c("n_t") + c("var_c") / c("n_c")),
            6,
        ).alias("welch_t"),
    )


# --- user-cohort retention triangle -------------------------------------------

_SQL_COHORT_TRIANGLE = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS wk
  FROM events),
firsts AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY user_id),
joined AS (
  SELECT f.cohort_wk,
         CAST(round((uw.wk - f.cohort_wk) / 7.0) AS INT) AS week_offset,
         uw.user_id
  FROM uw JOIN firsts f USING (user_id)),
cohort_sizes AS (
  SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM firsts
  GROUP BY cohort_wk)
SELECT CAST(j.cohort_wk AS VARCHAR) AS cohort_week, j.week_offset,
       CAST(COUNT(DISTINCT j.user_id) AS BIGINT) AS active_users,
       c.cohort_users,
       ROUND(CAST(COUNT(DISTINCT j.user_id) AS DOUBLE) / c.cohort_users, 6)
         AS retention
FROM joined j JOIN cohort_sizes c USING (cohort_wk)
GROUP BY j.cohort_wk, j.week_offset, c.cohort_users
"""


@register("user_cohort_retention_triangle", _SQL_COHORT_TRIANGLE)
def q_user_cohort_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics retention triangle: users grouped by
    first-active week, re-activity counted per week offset, retention =
    active/cohort-size (one exact division). Distinct (user, week)
    pre-aggregation bounds everything downstream at |users|·|weeks|;
    the first-week table joins back broadcast-sized. Complements the
    reference's order-status retention mart with the user-activity
    formulation."""
    ev = events_df(spark, sf_dir)
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    firsts = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = uw.join(firsts, "user_id").select(
        "cohort_wk",
        F.round(F.datediff(F.col("wk"), F.col("cohort_wk")) / 7.0)
        .cast("int")
        .alias("week_offset"),
        "user_id",
    )
    sizes = firsts.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    return (
        joined.join(F.broadcast(sizes), "cohort_wk")
        .groupBy("cohort_wk", "week_offset", "cohort_users")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            F.col("cohort_wk").cast("string").alias("cohort_week"),
            "week_offset",
            "active_users",
            "cohort_users",
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_users"), 6
            ).alias("retention"),
        )
    )


# --- train/test split leakage check -------------------------------------------
#
# The gate a training-data pipeline runs after splitting: near-duplicate
# PAIRS that straddle split boundaries leak evaluation data into
# training. Composes two REGISTERED pipelines — the MinHash-LSH
# near-dup pairs and the deterministic hash-bucket split rule — so the
# leakage report is itself inside the correctness gate.

from de_project_sprint_etl_spark.plans.llm import _sql_minhash_lsh  # noqa: E402
from de_project_sprint_etl_spark.plans.mlops import (  # noqa: E402
    TRAIN_PCT,
    VAL_PCT,
    split_bucket,
)


def _sql_split_leakage() -> str:
    split = (
        f"CASE WHEN CAST(('0x' || substr(md5(CAST({{id}} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" % 100 < {TRAIN_PCT} THEN 'train'"
        f" WHEN CAST(('0x' || substr(md5(CAST({{id}} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val' ELSE 'test' END"
    )
    return f"""
WITH mh AS ({_sql_minhash_lsh()}),
tagged AS (
  SELECT {split.format(id='id_a')} AS s_a,
         {split.format(id='id_b')} AS s_b
  FROM mh)
SELECT LEAST(s_a, s_b) AS split_a,
       GREATEST(s_a, s_b) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       LEAST(s_a, s_b) <> GREATEST(s_a, s_b) AS leaked
FROM tagged
GROUP BY split_a, split_b, leaked
"""


@register("split_leakage_check", _sql_split_leakage())
def q_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs per (split, split) cell with the leakage flag —
    cross-split cells are eval contamination. Pair-level (no component
    assembly needed): the report costs one projection over the already-
    bounded candidate pair set — read from the once-per-corpus
    materialized pair artifact (VERDICT r8 #2)."""
    from de_project_sprint_etl_spark.plans.llm import minhash_pairs

    pairs = minhash_pairs(spark, sf_dir)
    s_a = (
        F.when(split_bucket(F.col("id_a")) < TRAIN_PCT, F.lit("train"))
        .when(split_bucket(F.col("id_a")) < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    s_b = (
        F.when(split_bucket(F.col("id_b")) < TRAIN_PCT, F.lit("train"))
        .when(split_bucket(F.col("id_b")) < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tagged = pairs.select(s_a.alias("s_a"), s_b.alias("s_b"))
    return (
        tagged.select(
            F.least("s_a", "s_b").alias("split_a"),
            F.greatest("s_a", "s_b").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("leaked"),
        )
    )


# --- Bloom-filter semi-join prune ---------------------------------------------
#
# The explicit form of the runtime bloom pruning Spark injects for
# shuffle joins (test_plans pins that injection): the build side's key
# set is compressed into k hashed bit positions, the distinct-position
# set (<= m rows, here m=4096) is broadcast, and a probe row survives
# only if ALL k of its positions are present. No false negatives by
# construction; false positives are the price of the compression — this
# op MEASURES them against the exact semi-join, which is the audit a
# pipeline does before trusting a bloom prune at 100 TB.

BLOOM_M = 4096  # bit positions
BLOOM_K = 3  # hashes per key


def _sql_bloom() -> str:
    def pos(expr: str, i: int) -> str:
        return f"{text.sql_h64(f'CAST({expr} AS VARCHAR)', seed=i)} % {BLOOM_M}"

    probes = ", ".join(pos("o.o_custkey", i) for i in range(BLOOM_K))
    builds = " UNION ".join(
        f"SELECT DISTINCT {pos('o_custkey', i)} AS p FROM urgent"
        for i in range(BLOOM_K)
    )
    return f"""
WITH urgent AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
bloom AS ({builds}),
probe AS (
  SELECT o.o_orderkey, o.o_custkey, unnest([{probes}]) AS p
  FROM orders o),
hits AS (
  SELECT o_orderkey, o_custkey
  FROM probe JOIN bloom USING (p)
  GROUP BY o_orderkey, o_custkey
  HAVING COUNT(*) = {BLOOM_K}),
truth AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT o_custkey FROM urgent)),
m AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_probe,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_pass,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true)
SELECT n_probe, n_pass, n_true,
       n_pass - n_true AS n_false_pos,
       ROUND(CAST(n_pass - n_true AS DOUBLE)
             / GREATEST(n_probe - n_true, 1), 6) AS fp_rate
FROM m
"""


@register("bloom_semijoin_filter", _sql_bloom())
def q_bloom_semijoin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prune audit: orders probed against a {m}-position /
    {k}-hash bloom of the urgent-customer key set, compared with the
    exact semi-join. The bloom is a <= m-row broadcast (the probe side
    never shuffles to be pruned); pass ⊇ truth always (no false
    negatives), and fp_rate quantifies the wasted post-prune work."""
    orders = t(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )

    def pos(col, i):
        return (text.h64(col.cast("string"), seed=i) % BLOOM_M).alias("p")

    bloom = None
    for i in range(BLOOM_K):
        part = urgent.select(pos(F.col("o_custkey"), i)).distinct()
        bloom = part if bloom is None else bloom.union(part).distinct()
    probe = orders.select(
        "o_orderkey",
        "o_custkey",
        F.explode(
            F.array(*[pos(F.col("o_custkey"), i) for i in range(BLOOM_K)])
        ).alias("p"),
    )
    hits = (
        probe.join(F.broadcast(bloom), "p")
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("k_hits"))
        .filter(F.col("k_hits") == BLOOM_K)
    )
    truth = orders.join(F.broadcast(urgent), "o_custkey", "left_semi")
    m = (
        orders.agg(F.count(F.lit(1)).alias("n_probe"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_pass")))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true")))
    )
    return m.select(
        "n_probe",
        "n_pass",
        "n_true",
        (F.col("n_pass") - F.col("n_true")).alias("n_false_pos"),
        F.round(
            (F.col("n_pass") - F.col("n_true")).cast("double")
            / F.greatest(F.col("n_probe") - F.col("n_true"), F.lit(1)),
            6,
        ).alias("fp_rate"),
    )


# --- kNN label-coherence evaluation -------------------------------------------

from de_project_sprint_etl_spark.functions import similarity  # noqa: E402
from de_project_sprint_etl_spark.plans.llm import SQL_ANN_BRUTE  # noqa: E402
from de_project_sprint_etl_spark.plans.llm import fan_out as _fan_out  # noqa: E402

KNN_K = 5


def _sql_knn_coherence() -> str:
    return f"""
WITH nn AS ({SQL_ANN_BRUTE}),
votes AS (
  SELECT nn.query_id, e.label AS neighbor_label, COUNT(*) AS n_votes,
         MIN(nn.rank) AS best_rank
  FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
  GROUP BY nn.query_id, e.label),
pred AS (
  SELECT query_id, neighbor_label AS predicted_label
  FROM (SELECT query_id, neighbor_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, best_rank,
                                           neighbor_label) AS rk
        FROM votes) v
  WHERE rk = 1)
SELECT p.query_id, q.label AS true_label, p.predicted_label,
       p.predicted_label = q.label AS correct
FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
"""


@register("knn_label_coherence", _sql_knn_coherence())
def q_knn_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-coherence evaluation: each query vector's label is
    predicted by majority vote of its {k} exact nearest neighbours
    (ties → better best-rank, then lower label — fully deterministic),
    compared against its own label. The embedding-quality gate a
    retrieval/classification pipeline runs on candidate embeddings;
    composes the registered exact top-k ranking, so neighbour lists are
    shared semantics. Query set broadcast, vote table is k·Q rows."""
    emb = _fan_out(spark, t(spark, sf_dir, "embeddings"))
    from de_project_sprint_etl_spark.plans.llm import N_QUERIES

    nn = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=KNN_K
    )
    labels = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        nn.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("neighbor_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "neighbor_label")
        .agg(
            F.count(F.lit(1)).alias("n_votes"), F.min("rank").alias("best_rank")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), "best_rank", "neighbor_label"
    )
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("neighbor_label").alias("predicted_label"))
    )
    return (
        pred.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
            ),
            "query_id",
        )
        .select(
            "query_id",
            "true_label",
            "predicted_label",
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
    )


# --- interval sweep-line: active dimension versions over time -----------------


def _sql_active_versions() -> str:
    scd2 = ORACLES["scd2_customer_priority"]
    return f"""
WITH dim AS ({scd2}),
deltas AS (
  SELECT valid_from AS d, 1 AS delta FROM dim
  UNION ALL
  SELECT CAST(CAST(CAST(valid_to AS DATE) + 1 AS DATE) AS VARCHAR), -1
  FROM dim WHERE valid_to IS NOT NULL),
net AS (
  SELECT d, CAST(SUM(delta) AS BIGINT) AS net_change
  FROM deltas GROUP BY d)
SELECT d AS boundary_date, net_change,
       CAST(SUM(net_change) OVER (ORDER BY d
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS active_versions
FROM net
"""


@register("active_versions_per_day", _sql_active_versions())
def q_active_versions_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval counting: how many SCD2 validity intervals
    are active at each boundary date. Each interval contributes a +1
    at its start and a -1 the day after its end; a running INTEGER sum
    over the (tiny, boundary-dates-sized) net-change table gives the
    active count — the O(|boundaries|) answer to an interval-overlap
    question that a naive day-explode would answer in O(|intervals| x
    |days|). Integer deltas make the running sum associativity-free."""
    dim = q_scd2_customer_priority(spark, sf_dir)
    starts = dim.select(F.col("valid_from").alias("d"), F.lit(1).alias("delta"))
    ends = dim.filter(F.col("valid_to").isNotNull()).select(
        F.date_add(F.col("valid_to").cast("date"), 1).cast("string").alias("d"),
        F.lit(-1).alias("delta"),
    )
    net = (
        starts.unionByName(ends)
        .groupBy("d")
        .agg(F.sum("delta").cast("bigint").alias("net_change"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return net.select(
        F.col("d").alias("boundary_date"),
        "net_change",
        F.sum("net_change").over(w).cast("bigint").alias("active_versions"),
    )


# --- item-item collaborative-filtering similarity -----------------------------

CF_TOPK = 15

_SQL_ITEM_CF = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem),
deg AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_orders FROM op GROUP BY part),
pairs AS (
  SELECT a.part AS item_a, b.part AS item_b, CAST(COUNT(*) AS BIGINT) AS cooc
  FROM op a JOIN op b ON a.ok = b.ok AND a.part < b.part
  GROUP BY a.part, b.part)
SELECT p.item_a, p.item_b, p.cooc,
       ROUND(CAST(p.cooc AS DOUBLE)
             / sqrt(CAST(da.n_orders * db.n_orders AS DOUBLE)), 6) AS cosine_sim
FROM pairs p
JOIN deg da ON da.part = p.item_a
JOIN deg db ON db.part = p.item_b
ORDER BY cosine_sim DESC, item_a, item_b
LIMIT {CF_TOPK}
"""


@register("item_cf_similarity", _SQL_ITEM_CF)
def q_item_cf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine over binary
    order-membership vectors (cooc / sqrt(deg_a*deg_b)) — the
    "customers also bought" scorer. The pair join is keyed on the
    order, whose basket size is bounded (<= 7 lineitems), so the
    explode is O(|orders| * basket²), never |items|²; degree tables are
    item-sized and joined after pair aggregation."""
    op = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part"))
        .dropDuplicates(["ok", "part"])
    )
    deg = op.groupBy("part").agg(F.count(F.lit(1)).alias("n_orders"))
    other = op.select("ok", F.col("part").alias("part2"))
    pairs = (
        op.join(other, "ok")
        .filter(F.col("part") < F.col("part2"))
        .groupBy(F.col("part").alias("item_a"), F.col("part2").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("cooc"))
    )
    da = deg.select(F.col("part").alias("item_a"), F.col("n_orders").alias("na"))
    db = deg.select(F.col("part").alias("item_b"), F.col("n_orders").alias("nb"))
    return (
        pairs.join(da, "item_a")
        .join(db, "item_b")
        .select(
            "item_a",
            "item_b",
            "cooc",
            F.round(
                F.col("cooc").cast("double")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
                6,
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "item_a", "item_b")
        .limit(CF_TOPK)
    )


# --- MAD robust outlier detection ---------------------------------------------

MAD_K = 3

_SQL_MAD = f"""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, MIN(med) AS med, median(dev) AS mad
  FROM dev GROUP BY event_type)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(MIN(m.med), 6) AS median_value,
       ROUND(MIN(m.mad), 6) AS mad,
       CAST(SUM(CASE WHEN d.dev > {MAD_K} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


@register("mad_outliers_event_values", _SQL_MAD)
def q_mad_outliers_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: |v - median| > {k} * MAD per event
    type — immune to the outliers polluting a mean/std rule (the
    rolling z-score op's robust twin). Exact interpolated medians
    (identical rule in both engines), per-type medians broadcast back,
    outlier test is a pure expression; two aggregate passes, each
    partial-combined."""
    ev = events_df(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("dev"), "med"
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"), F.median("dev").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad.select("event_type", "mad")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("med"), 6).alias("median_value"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                (F.col("dev") > MAD_K * F.col("mad")).cast("bigint")
            ).alias("n_outliers"),
        )
    )


# --- GDPR forget-user impact report -------------------------------------------

_SQL_FORGET = f"""
WITH req AS (
  SELECT DISTINCT o_custkey AS ck FROM orders
  WHERE {text.sql_h64("CAST(o_custkey AS VARCHAR)", seed=11)} % 100 = 0),
ord AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT ck FROM req)),
m AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM req) AS n_customers,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ord) AS n_orders,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM ord)) AS n_lineitems,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM events
          WHERE user_id IN (SELECT ck FROM req)) AS n_events)
SELECT n_customers, n_orders, n_lineitems, n_events,
       n_orders + n_lineitems + n_events AS n_rows_total
FROM m
"""


@register("forget_user_impact", _SQL_FORGET)
def q_forget_user_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact report: for a deterministic ~1%
    hash-gated set of deletion-request customers, the row counts each
    table would lose (orders, their lineitems via the order-key
    cascade, events by user id). Requests and cascade keys broadcast
    into LEFT SEMI joins — the fact tables are scanned once each and
    never shuffled; the report a deletion job runs BEFORE mutating
    anything at 100 TB."""
    orders = t(spark, sf_dir, "orders")
    req = (
        orders.filter(
            text.h64(F.col("o_custkey").cast("string"), seed=11) % 100 == 0
        )
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    ord_keys = orders.join(
        F.broadcast(req), orders["o_custkey"] == req["ck"], "left_semi"
    ).select("o_orderkey")
    li = t(spark, sf_dir, "lineitem")
    ev = events_df(spark, sf_dir)
    n_cust = req.agg(F.count(F.lit(1)).alias("n_customers"))
    n_ord = ord_keys.agg(F.count(F.lit(1)).alias("n_orders"))
    n_li = li.join(
        F.broadcast(ord_keys), li["l_orderkey"] == ord_keys["o_orderkey"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_lineitems"))
    n_ev = ev.join(
        F.broadcast(req), ev["user_id"] == req["ck"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        n_cust.crossJoin(n_ord)
        .crossJoin(n_li)
        .crossJoin(n_ev)
        .select(
            "n_customers",
            "n_orders",
            "n_lineitems",
            "n_events",
            (F.col("n_orders") + F.col("n_lineitems") + F.col("n_events")).alias(
                "n_rows_total"
            ),
        )
    )


# --- model calibration curve ---------------------------------------------------

from de_project_sprint_etl_spark.plans.mlops import (  # noqa: E402
    q_linreg_quality_train,
)


def _sql_calibration() -> str:
    train = ORACLES["linreg_quality_train"]
    return f"""
WITH scored AS ({train}),
binned AS (
  SELECT CAST(FLOOR(LEAST(GREATEST(pred, 0.0), 0.999999) * 10) AS INT) AS bin,
         CAST(pred AS DECIMAL(18,6)) AS p, CAST(y AS DECIMAL(18,6)) AS yy
  FROM scored)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*), 6) AS mean_pred,
       ROUND(CAST(SUM(yy) AS DOUBLE) / COUNT(*), 6) AS mean_label
FROM binned
GROUP BY bin
"""


@register("quality_model_calibration", _sql_calibration())
def q_quality_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the in-engine-trained quality model:
    predictions bucketed into 10 clamped equi-width bins, per-bin mean
    prediction vs mean label — the calibration gate before using model
    scores as filter thresholds. Means come from exact DECIMAL sums of
    the already-6-decimal predictions (addition-order-free), one double
    division each; the oracle replays the full GD training then the
    same binning."""
    scored = q_linreg_quality_train(spark, sf_dir)
    binned = scored.select(
        F.floor(
            F.least(F.greatest(F.col("pred"), F.lit(0.0)), F.lit(0.999999)) * 10
        )
        .cast("int")
        .alias("bin"),
        F.col("pred").cast("decimal(18,6)").alias("p"),
        F.col("y").cast("decimal(18,6)").alias("yy"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("p").cast("double") / F.count(F.lit(1)), 6).alias("mean_pred"),
        F.round(F.sum("yy").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_label"
        ),
    )


# --- population-stability-index drift monitor ----------------------------------

PSI_BINS = 10
PSI_SPLIT = "2024-01-15"  # events before/after = baseline vs current


def _sql_psi() -> str:
    return f"""
WITH tagged AS (
  SELECT value,
         CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 'a' ELSE 'b' END AS side
  FROM events),
rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM tagged),
binned AS (
  SELECT side,
         LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / {PSI_BINS})) AS INT),
               {PSI_BINS - 1}) AS bin
  FROM tagged CROSS JOIN rng),
counts AS (
  SELECT bin,
         CAST(1 + SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(1 + SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM binned GROUP BY bin),
tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb
        FROM counts)
SELECT bin, n_a, n_b,
       ROUND((CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
             * LN((CAST(n_a AS DOUBLE) / ta) / (CAST(n_b AS DOUBLE) / tb)), 6)
         AS psi_term
FROM counts CROSS JOIN tot
"""


@register("psi_value_drift", _sql_psi())
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: the event-value
    distribution before vs after a split date, 10 equal-width bins over
    the global range, add-one-smoothed counts (integer smoothing — no
    epsilon float), per-bin PSI terms (each one a pure expression over
    exact counts; psi_term >= 0 iff the proportions moved). Per-bin
    rows keep every term addition-order-free; the caller sums 10
    numbers for the headline PSI. Two aggregate passes, both
    partial-combined; the 1-row range broadcasts."""
    ev = events_df(spark, sf_dir).select(
        "value",
        F.when(F.col("ts") < F.lit(PSI_SPLIT).cast("timestamp"), "a")
        .otherwise("b")
        .alias("side"),
    )
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(F.broadcast(rng)).select(
        "side",
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / PSI_BINS)
            ).cast("int"),
            F.lit(PSI_BINS - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        (1 + F.sum((F.col("side") == "a").cast("long"))).alias("n_a"),
        (1 + F.sum((F.col("side") == "b").cast("long"))).alias("n_b"),
    )
    tot = counts.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    pa = F.col("n_a").cast("double") / F.col("ta")
    pb = F.col("n_b").cast("double") / F.col("tb")
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
    )


# --- delivery-latency percentiles ----------------------------------------------

_SQL_LATENCY = """
WITH lat AS (
  SELECT o.o_orderpriority,
         CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS BIGINT)
           AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(quantile_cont(days, 0.5), 6) AS p50_days,
       ROUND(quantile_cont(days, 0.9), 6) AS p90_days,
       ROUND(quantile_cont(days, 0.99), 6) AS p99_days,
       CAST(MAX(days) AS BIGINT) AS max_days
FROM lat
GROUP BY o_orderpriority
"""


@register("delivery_latency_percentiles", _SQL_LATENCY)
def q_delivery_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLO report: exact interpolated p50/p90/p99
    of the ship-minus-order day gap per priority class. Latencies are
    exact INTEGER day differences (date arithmetic, no float until the
    percentile interpolation both engines share); one join shuffle +
    one 5-group aggregate."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.expr("percentile(days, 0.5)"), 6).alias("p50_days"),
        F.round(F.expr("percentile(days, 0.9)"), 6).alias("p90_days"),
        F.round(F.expr("percentile(days, 0.99)"), 6).alias("p99_days"),
        F.max("days").alias("max_days"),
    )


# --- inter-event gap histogram ---------------------------------------------------

GAP_EDGES_US = (1_000_000, 10_000_000, 60_000_000, 600_000_000, 3_600_000_000)
GAP_LABELS = ("<1s", "1-10s", "10-60s", "1-10m", "10-60m", ">=1h")


def _gap_bucket_sql(col: str) -> str:
    cases = [
        f"WHEN {col} < {edge} THEN '{label}'"
        for edge, label in zip(GAP_EDGES_US, GAP_LABELS)
    ]
    return "CASE " + " ".join(cases) + f" ELSE '{GAP_LABELS[-1]}' END"


_SQL_GAP_HIST = f"""
WITH gaps AS (
  SELECT user_id, event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS gap_us
  FROM events)
SELECT event_type,
       {_gap_bucket_sql('gap_us')} AS gap_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_gaps
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type, gap_bucket
"""


@register("inter_event_gap_histogram", _SQL_GAP_HIST)
def q_inter_event_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per event type over fixed integer
    microsecond thresholds (1s / 10s / 1m / 10m / 1h) — the cadence
    profile that calibrates sessionization gaps and debounce windows.
    Bucketing compares exact integer gaps against integer edges (no
    log-scale float boundary to flip on a ulp); one user window shuffle
    + a #types x #buckets aggregate."""
    ev = events_df(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    bucket = F.when(F.col("gap_us") < GAP_EDGES_US[0], GAP_LABELS[0])
    for edge, label in zip(GAP_EDGES_US[1:], GAP_LABELS[1:-1]):
        bucket = bucket.when(F.col("gap_us") < edge, label)
    bucket = bucket.otherwise(GAP_LABELS[-1])
    return gaps.groupBy("event_type", bucket.alias("gap_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps")
    )


# --- stratified k-fold assignment summary --------------------------------------

KFOLDS = 5

_SQL_KFOLD = f"""
WITH assigned AS (
  SELECT lang,
         CAST({text.sql_h64("CAST(doc_id AS VARCHAR)", seed=21)} % {KFOLDS} AS INT)
           AS fold
  FROM documents)
SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM assigned
GROUP BY lang, fold
"""


@register("kfold_assign_summary", _SQL_KFOLD)
def q_kfold_assign_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {k}-fold cross-validation assignment audited per
    language stratum: fold = shared-hash(doc_id) % k, so membership is
    stable across runs/partitionings/engines (randomSplit is not), and
    the (lang, fold) counts expose any imbalance before training. One
    map-only assign + one tiny aggregate."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        docs.select(
            "lang",
            (text.h64(F.col("doc_id").cast("string"), seed=21) % KFOLDS)
            .cast("int")
            .alias("fold"),
        )
        .groupBy("lang", "fold")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- equi-depth price deciles ---------------------------------------------------

_SQL_EQUIDEPTH = """
WITH ranked AS (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders)
SELECT CAST(decile AS INT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM ranked
GROUP BY decile
"""


@register("orders_price_equidepth", _SQL_EQUIDEPTH)
def q_orders_price_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (the twin of the equi-width
    orders_price_histogram): NTILE(10) over a totally-ordered key
    (price, orderkey — the tiebreak is what makes bucket membership
    deterministic), per-decile bounds and counts. The global sort is
    the documented cost of exact equi-depth; the sketch path at scale
    is quality_percentiles_approx — and the guard enforces the
    boundary: past guards.EQUIDEPTH_BOUND rows the window raises and
    names that alternative instead of silently single-partition-sorting
    the corpus."""
    from de_project_sprint_etl_spark.functions import guards

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    decile = guards.bounded_global_window(
        F.ntile(10).over(w).cast("int"),
        w,
        guards.EQUIDEPTH_BOUND,
        "orders_price_equidepth exact NTILE",
        "quality_percentiles_approx (sketch-based equi-depth)",
    )
    return (
        orders.select("o_totalprice", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# --- Markov next-event prediction accuracy --------------------------------------

_SQL_MARKOV_ACC = """
WITH seq AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS actual
  FROM events),
obs AS (SELECT from_type, actual FROM seq WHERE actual IS NOT NULL),
counts AS (
  SELECT from_type, actual AS to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM obs GROUP BY from_type, to_type),
pred AS (
  SELECT from_type, to_type AS predicted
  FROM (SELECT from_type, to_type,
               ROW_NUMBER() OVER (PARTITION BY from_type
                                  ORDER BY n DESC, to_type) AS rk
        FROM counts) r
  WHERE rk = 1)
SELECT o.from_type, p.predicted,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN o.actual = p.predicted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(CAST(SUM(CASE WHEN o.actual = p.predicted THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS accuracy
FROM obs o JOIN pred p USING (from_type)
GROUP BY o.from_type, p.predicted
"""


@register("markov_prediction_accuracy", _SQL_MARKOV_ACC)
def q_markov_prediction_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the first-order Markov model as a next-event
    predictor: per source state, predict the argmax next type
    (ties → lowest label) and measure accuracy against the observed
    transitions — in-sample top-1 accuracy, the baseline every
    sequence model must beat. Prediction table is #types rows
    (broadcast); counts are exact integers with one division."""
    ev = events_df(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    obs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("actual"),
    ).filter(F.col("actual").isNotNull())
    counts = obs.groupBy("from_type", F.col("actual").alias("to_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w_rk = Window.partitionBy("from_type").orderBy(F.desc("n"), "to_type")
    pred = (
        counts.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") == 1)
        .select("from_type", F.col("to_type").alias("predicted"))
    )
    return (
        obs.join(F.broadcast(pred), "from_type")
        .groupBy("from_type", "predicted")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum((F.col("actual") == F.col("predicted")).cast("bigint")).alias(
                "n_correct"
            ),
        )
        .select(
            "from_type",
            "predicted",
            "n_transitions",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_transitions"), 6
            ).alias("accuracy"),
        )
    )


# --- attribution-model comparison (first-touch vs last-touch) -------------------

ATTR_WINDOW_US = 3_600_000_000  # 1 hour lookback


def _sql_attribution_models() -> str:
    return f"""
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'),
purch AS (
  SELECT event_id, user_id, epoch_us(ts) AS p_us,
         CAST(value AS DECIMAL(18,2)) AS rev
  FROM events WHERE event_type = 'purchase'),
cand AS (
  SELECT p.event_id, p.rev, c.c_us
  FROM purch p JOIN clicks c ON c.user_id = p.user_id
  WHERE c.c_us <= p.p_us AND p.p_us - c.c_us <= {ATTR_WINDOW_US}),
attributed AS (
  SELECT event_id, MIN(rev) AS rev,
         MIN(c_us) AS first_us, MAX(c_us) AS last_us
  FROM cand GROUP BY event_id)
SELECT model, click_hour, n_purchases, attributed_revenue FROM (
  SELECT 'first_touch' AS model,
         CAST(EXTRACT(hour FROM make_timestamp(first_us)) AS INT) AS click_hour,
         CAST(COUNT(*) AS BIGINT) AS n_purchases,
         CAST(SUM(rev) AS DOUBLE) AS attributed_revenue
  FROM attributed GROUP BY click_hour
  UNION ALL
  SELECT 'last_touch',
         CAST(EXTRACT(hour FROM make_timestamp(last_us)) AS INT),
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(rev) AS DOUBLE)
  FROM attributed GROUP BY CAST(EXTRACT(hour FROM make_timestamp(last_us)) AS INT)) m
"""


@register("attribution_model_compare", _sql_attribution_models())
def q_attribution_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch click attribution over a 1-hour
    lookback: the same candidate click set (equi-join on user + time
    guard — never a bare range join) collapsed once per purchase with
    MIN/MAX, then both models CREDIT a different click — revenue is
    attributed to the credited click's hour-of-day, so the two models
    produce genuinely different distributions over the same purchase
    set (their totals must agree — the sanity invariant the test
    pins). Revenue sums in exact decimal."""
    ev = events_df(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("c_us")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("p_us"),
        F.col("value").cast("decimal(18,2)").alias("rev"),
    )
    cand = purch.join(clicks, "user_id").filter(
        (F.col("c_us") <= F.col("p_us"))
        & (F.col("p_us") - F.col("c_us") <= ATTR_WINDOW_US)
    )
    attributed = cand.groupBy("event_id").agg(
        F.min("rev").alias("rev"),
        F.min("c_us").alias("first_us"),
        F.max("c_us").alias("last_us"),
    )
    def summary(model, credited_us):
        return (
            attributed.groupBy(
                F.hour(F.timestamp_micros(F.col(credited_us)))
                .cast("int")
                .alias("click_hour")
            )
            .agg(
                F.count(F.lit(1)).alias("n_purchases"),
                F.sum("rev").cast("double").alias("attributed_revenue"),
            )
            .select(
                F.lit(model).alias("model"),
                "click_hour",
                "n_purchases",
                "attributed_revenue",
            )
        )

    return summary("first_touch", "first_us").unionByName(
        summary("last_touch", "last_us")
    )


# --- funnel time-to-convert percentiles -----------------------------------------

_SQL_FUNNEL_TIME = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
  FROM events GROUP BY user_id),
conv AS (
  SELECT CAST(p_us - s_us AS BIGINT) AS lat_us
  FROM per_user WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(quantile_cont(lat_us, 0.5) / 1000000.0, 6) AS p50_sec,
       ROUND(quantile_cont(lat_us, 0.9) / 1000000.0, 6) AS p90_sec,
       CAST(MAX(lat_us) AS BIGINT) AS max_us
FROM conv
"""


@register("funnel_time_to_convert", _SQL_FUNNEL_TIME)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion-latency percentiles: per-user first
    signup and first purchase-at-or-after it via conditional MIN over
    one user aggregate (no self-join), exact integer microsecond
    latencies into the shared interpolated percentile."""
    ev = events_df(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("s_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
    )
    conv = per_user.filter(
        F.col("s_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") >= F.col("s_us"))
    ).select((F.col("p_us") - F.col("s_us")).cast("bigint").alias("lat_us"))
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(lat_us, 0.5)") / 1000000.0, 6).alias("p50_sec"),
        F.round(F.expr("percentile(lat_us, 0.9)") / 1000000.0, 6).alias("p90_sec"),
        F.max("lat_us").alias("max_us"),
    )


# --- session bounce rate ----------------------------------------------------------

from de_project_sprint_etl_spark.plans.llm import SESSION_GAP_US  # noqa: E402

_SQL_BOUNCE = f"""
WITH lagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_us
  FROM events),
marked AS (
  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > {SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS new_sess
  FROM lagged),
sessions AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked),
sized AS (
  SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sessions GROUP BY user_id, session_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS bounce_rate
FROM sized
"""


@register("session_bounce_rate", _SQL_BOUNCE)
def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate over 30-minute-gap sessions: single-event sessions /
    all sessions — one user shuffle shared by the lag and running-sum
    windows (the registered sessionization machinery), one session-
    grain aggregate, one division."""
    ev = events_df(spark, sf_dir).select("user_id", "ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sessions = marked.select(
        "user_id",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    sized = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return sized.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("bigint")).alias("n_bounces"),
        F.round(
            F.sum((F.col("n_events") == 1).cast("bigint")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


# --- cohort LTV curve -------------------------------------------------------------

_SQL_LTV = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS wk
  FROM events),
firsts AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY user_id),
rev AS (
  SELECT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS wk,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type = 'purchase'),
weekly AS (
  SELECT f.cohort_wk,
         CAST(round((r.wk - f.cohort_wk) / 7.0) AS INT) AS week_offset,
         SUM(r.v) AS wk_rev
  FROM rev r JOIN firsts f USING (user_id)
  GROUP BY f.cohort_wk, week_offset),
sizes AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_users
          FROM firsts GROUP BY cohort_wk)
SELECT CAST(w.cohort_wk AS VARCHAR) AS cohort_week, w.week_offset,
       CAST(SUM(w2.wk_rev) AS DOUBLE) AS cum_revenue,
       ROUND(CAST(SUM(w2.wk_rev) AS DOUBLE) / s.cohort_users, 6)
         AS ltv_per_user
FROM weekly w
JOIN weekly w2 ON w2.cohort_wk = w.cohort_wk AND w2.week_offset <= w.week_offset
JOIN sizes s ON s.cohort_wk = w.cohort_wk
GROUP BY w.cohort_wk, w.week_offset, s.cohort_users
"""


@register("cohort_ltv_curve", _SQL_LTV)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime-value curve per first-active-week cohort:
    weekly purchase revenue (exact decimal) accumulated over week
    offsets, normalized by cohort size. The Spark side accumulates
    with a cohort-partitioned running-sum WINDOW over the tiny
    (cohort x offset) weekly table — the oracle states the same
    cumulative with a self-join, cross-checking the two formulations.
    Decimal sums keep accumulation order-free; one division per cell."""
    ev = events_df(spark, sf_dir)
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    firsts = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    rev = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    weekly = (
        rev.join(firsts, "user_id")
        .groupBy(
            "cohort_wk",
            F.round(F.datediff(F.col("wk"), F.col("cohort_wk")) / 7.0)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.sum("v").alias("wk_rev"))
    )
    sizes = firsts.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        weekly.withColumn("cum", F.sum("wk_rev").over(w))
        .join(F.broadcast(sizes), "cohort_wk")
        .select(
            F.col("cohort_wk").cast("string").alias("cohort_week"),
            "week_offset",
            F.col("cum").cast("double").alias("cum_revenue"),
            F.round(
                F.col("cum").cast("double") / F.col("cohort_users"), 6
            ).alias("ltv_per_user"),
        )
    )


# --- curation / reporting compositions --------------------------------------------

from de_project_sprint_etl_spark.functions import dedup as _dedup2  # noqa: E402
from de_project_sprint_etl_spark.plans.llm import (  # noqa: E402
    PLANES,
    _SQL_COS_PAIRS,
    emb_with_copies,
)
from de_project_sprint_etl_spark.functions import similarity as _sim  # noqa: E402


def _sql_dup_size_hist() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_SQL_COS_PAIRS}),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.id
),
lab AS (SELECT id, MIN(label) AS group_id FROM reach GROUP BY id),
sized AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS group_size
          FROM lab GROUP BY group_id)
SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(group_size * COUNT(*) AS BIGINT) AS n_docs
FROM sized
GROUP BY group_size
"""


@register("dup_group_size_histogram", _sql_dup_size_hist())
def q_dup_group_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the shape report that
    decides dedup policy (a fat tail of mega-clusters means boilerplate
    to strip, not true duplicates). Composes the registered
    connected-components pipeline; the histogram itself is two tiny
    aggregates past the group table."""
    pairs = _sim.cosine_near_dup_pairs(
        emb_with_copies(spark, sf_dir), PLANES, min_cos=0.95
    )
    # inline cosine pairs are already distinct (see q_dedup_groups note)
    groups = _dedup2.dup_groups(pairs, simple_pairs=True)
    sized = groups.select("group_id", "group_size").dropDuplicates(["group_id"])
    return sized.groupBy("group_size").agg(
        F.count(F.lit(1)).alias("n_groups"),
        (F.col("group_size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    )


def _sql_source_quality() -> str:
    gopher = text.sql_gopher_stats("documents")
    return f"""
WITH g AS ({gopher}),
d AS (SELECT doc_id, source FROM documents)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN g.gopher_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CASE WHEN g.gopher_keep THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS keep_rate,
       CAST(SUM(CAST(g.n_words AS BIGINT)) AS BIGINT) AS total_words
FROM g JOIN d USING (doc_id)
GROUP BY d.source
"""


@register("source_quality_report", _sql_source_quality())
def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation scorecard: Gopher keep-rate and word volume
    by source — what decides which feeds to renegotiate or drop.
    Composes the registered Gopher stats; integer counts + one division
    per source."""
    g = text.with_gopher_stats(docs_fanned(spark, sf_dir)).select(
        "doc_id", "n_words", "gopher_keep"
    )
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    kept = F.sum(F.col("gopher_keep").cast("bigint"))
    return (
        g.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.alias("n_kept"),
            F.round(kept.cast("double") / F.count(F.lit(1)), 6).alias("keep_rate"),
            F.sum(F.col("n_words").cast("bigint")).alias("total_words"),
        )
    )


_SQL_DOW_HOUR = """
SELECT CAST(EXTRACT(isodow FROM ts) AS INT) AS dow,
       CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY dow, hour
"""


@register("events_dow_hour_heatmap", _SQL_DOW_HOUR)
def q_events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour activity heatmap (ISO weekday numbering both
    engines share) with distinct-user depth — the load-shape profile
    capacity planning reads; one partial-combined aggregate over a
    <= 168-cell grid."""
    ev = events_df(spark, sf_dir)
    return (
        ev.groupBy(
            F.dayofweek(F.col("ts")).alias("__dow_sun1"),
            F.hour(F.col("ts")).cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            # Spark dayofweek is 1=Sunday; ISO is 1=Monday..7=Sunday
            F.when(F.col("__dow_sun1") == 1, 7)
            .otherwise(F.col("__dow_sun1") - 1)
            .cast("int")
            .alias("dow"),
            "hour",
            "n_events",
            "n_users",
        )
    )


# --- week-over-week revenue growth ----------------------------------------------

_SQL_WOW = """
WITH weekly AS (
  SELECT o_orderstatus,
         CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS wk,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY o_orderstatus, wk),
lagged AS (
  SELECT o_orderstatus, wk, rev,
         LAG(rev) OVER (PARTITION BY o_orderstatus ORDER BY wk) AS prev
  FROM weekly)
SELECT o_orderstatus, CAST(wk AS VARCHAR) AS week,
       CAST(rev AS DOUBLE) AS revenue,
       CASE WHEN prev IS NULL OR prev = 0 THEN NULL
            ELSE ROUND(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE), 6)
       END AS wow_growth
FROM lagged
"""


@register("revenue_wow_growth", _SQL_WOW)
def q_revenue_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth per order status: exact decimal
    weekly sums, LAG over the (status)-partitioned week series, one
    double division per row (NULL for the first week). The growth
    series every BI dashboard renders — weekly grain keeps the window
    input at |statuses| x |weeks| rows."""
    orders = t(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        "o_orderstatus",
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("wk"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.partitionBy("o_orderstatus").orderBy("wk")
    lagged = weekly.withColumn("prev", F.lag("rev").over(w))
    return lagged.select(
        "o_orderstatus",
        F.col("wk").cast("string").alias("week"),
        F.col("rev").cast("double").alias("revenue"),
        F.when(
            F.col("prev").isNull() | (F.col("prev") == 0), F.lit(None)
        )
        .otherwise(
            F.round(
                (F.col("rev") - F.col("prev")).cast("double")
                / F.col("prev").cast("double"),
                6,
            )
        )
        .alias("wow_growth"),
    )


# --- rolling 7-day active users ---------------------------------------------------

_SQL_WAU = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS d
  FROM events),
contrib AS (
  SELECT user_id, CAST(d + CAST(g.i AS INTEGER) AS DATE) AS target_d
  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i) g),
days AS (SELECT DISTINCT d FROM ud)
SELECT CAST(c.target_d AS VARCHAR) AS day,
       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
FROM contrib c JOIN days dy ON dy.d = c.target_d
GROUP BY c.target_d
"""


@register("wau_rolling_7d", _SQL_WAU)
def q_wau_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU), restricted to days
    that actually have activity. Shape: each DISTINCT (user, day)
    contributes to the 7 target days it covers — a BOUNDED x7 explode
    on the |users|·|days| pre-aggregate, then one distinct-count per
    target day; never a sliding self-join of raw events and no
    per-day rescans. The classic exact-DAU/WAU scale pattern."""
    ev = events_df(spark, sf_dir)
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("i")).alias("target_d"))
    days = ud.select("d").distinct()
    return (
        contrib.join(
            F.broadcast(days), contrib["target_d"] == days["d"], "inner"
        )
        .groupBy("target_d")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.col("target_d").cast("string").alias("day"), "wau")
    )


# --- Kolmogorov-Smirnov drift test ----------------------------------------------

KS_BINS = 1000

_SQL_KS = f"""
WITH tagged AS (
  SELECT value,
         CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 'a' ELSE 'b' END AS side
  FROM events WHERE value IS NOT NULL),
rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM tagged),
binned AS (
  SELECT side,
         LEAST(CAST(FLOOR((value - lo)
                          / GREATEST((hi - lo) / {KS_BINS}, 1e-12)) AS INT),
               {KS_BINS - 1}) AS bin
  FROM tagged CROSS JOIN rng),
counts AS (
  SELECT bin,
         CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM binned GROUP BY bin),
cum AS (
  SELECT bin,
         CAST(SUM(n_a) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         CAST(SUM(n_b) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
  FROM counts),
tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb
        FROM counts),
diffs AS (
  SELECT bin,
         ABS(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb) AS d
  FROM cum CROSS JOIN tot),
mx AS (SELECT MAX(d) AS mxd FROM diffs)
SELECT (SELECT ta FROM tot) AS n_a,
       (SELECT tb FROM tot) AS n_b,
       ROUND(mxd, 6) AS ks_stat,
       (SELECT MIN(bin) FROM diffs WHERE d = mxd) AS ks_bin
FROM mx
"""


@register("ks_value_drift", _SQL_KS)
def q_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the event
    values before vs after the PSI split date, on a fixed 1000-bin
    equal-width grid over the global range: D = max |ecdf_a - ecdf_b|
    evaluated at bin right edges, plus the bin where the gap peaks —
    the nonparametric complement to the PSI monitor (PSI sees density
    re-allocation, KS sees the worst single distributional gap).

    The grid is what makes the statistic 100-TB-shaped: exact KS needs
    a total order over distinct values (corpus-scale sort), while the
    binned ecdf needs one groupBy to <= 1000 rows and a structurally
    bounded cumulative window. Ties in the argmax resolve to the
    lowest bin; both engines compute the identical IEEE division chain
    from exact integer counts, so the float equality in the argmax is
    engine-stable."""
    # NULL values are excluded before binning (ADVICE r8: a NULL would
    # land in a NULL bin whose ORDER BY position differs cross-engine),
    # and the bin width is floored at 1e-12 so a degenerate hi == lo
    # corpus yields the constant-D=0 single-bin result instead of NaN
    # bins — both guards mirrored in the oracle, value-neutral when the
    # range is real.
    ev = (
        events_df(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "value",
            F.when(F.col("ts") < F.lit(PSI_SPLIT).cast("timestamp"), "a")
            .otherwise("b")
            .alias("side"),
        )
    )
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(F.broadcast(rng)).select(
        "side",
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / F.greatest(
                    (F.col("hi") - F.col("lo")) / KS_BINS, F.lit(1e-12)
                )
            ).cast("int"),
            F.lit(KS_BINS - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum((F.col("side") == "a").cast("long")).alias("n_a"),
        F.sum((F.col("side") == "b").cast("long")).alias("n_b"),
    )
    # four downstream subtrees (cum, tot, diffs-for-max, diffs-for-
    # argmax) hang off this frame — Catalyst's ReuseExchange dedups the
    # identical scan+bin-agg exchanges (6 ReusedExchange nodes in the
    # executed plan), so the corpus is scanned once without a persist
    # (a persist here measured SLOWER: materialization barrier on a
    # <=1000-row frame the reuse rule already shares)
    # cumulative window over <= KS_BINS rows — structurally bounded by
    # the constant grid, never by data volume
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "bin",
        F.sum("n_a").over(w).cast("bigint").alias("ca"),
        F.sum("n_b").over(w).cast("bigint").alias("cb"),
    )
    tot = counts.agg(
        F.sum("n_a").cast("bigint").alias("ta"),
        F.sum("n_b").cast("bigint").alias("tb"),
    )
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ta",
        "tb",
        F.abs(
            F.col("ca").cast("double") / F.col("ta")
            - F.col("cb").cast("double") / F.col("tb")
        ).alias("d"),
    )
    mx = diffs.agg(F.max("d").alias("mxd"))
    return (
        diffs.crossJoin(F.broadcast(mx))
        .filter(F.col("d") == F.col("mxd"))
        .agg(
            F.min("ta").alias("n_a"),
            F.min("tb").alias("n_b"),
            F.round(F.min("mxd"), 6).alias("ks_stat"),
            F.min("bin").alias("ks_bin"),
        )
    )


# --- Benford first-digit audit ----------------------------------------------------

# log10(1 + 1/d), embedded as identical full-precision literals in both
# engines so the expected counts and chi-square terms are bit-identical
BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def _sql_benford() -> str:
    p_case = " ".join(
        f"WHEN digit = {d} THEN {p!r}" for d, p in BENFORD_P.items()
    )
    return f"""
WITH cents AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders),
digits AS (
  SELECT CAST(SUBSTR(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit FROM cents),
obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM digits GROUP BY digit),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
ex AS (SELECT digit, n_obs, n,
              CASE {p_case} END AS benford_p,
              CAST(n AS DOUBLE) * (CASE {p_case} END) AS expected
       FROM obs CROSS JOIN tot)
SELECT digit, n_obs,
       ROUND(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_share,
       benford_p,
       ROUND((CAST(n_obs AS DOUBLE) - expected)
             * (CAST(n_obs AS DOUBLE) - expected) / expected, 6) AS chi2_term
FROM ex
"""


@register("benford_price_audit", _sql_benford())
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order prices — the classic
    fabricated-numbers screen in a data-quality suite: observed
    first-significant-digit shares vs the Benford expectation
    log10(1 + 1/d), with per-digit chi-square terms (the caller sums 9
    numbers and compares to the chi2(8) critical value; a synthetic
    uniform-price corpus SHOULD fail it loudly, which is the point of
    publishing the terms rather than a verdict).

    Determinism: the first digit comes from the exact integer-cents
    string, never from log10 of a double (engine ulp at decade
    boundaries would misclassify); Benford probabilities are shared
    full-precision literals. Scale shape: one map-side projection and
    one 9-row aggregate; the 1-row total broadcasts."""
    cents = t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    )
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    bp = None
    for d, p in BENFORD_P.items():
        bp = (
            F.when(F.col("digit") == d, F.lit(p))
            if bp is None
            else bp.when(F.col("digit") == d, F.lit(p))
        )
    expected = F.col("n").cast("double") * bp
    d_obs = F.col("n_obs").cast("double")
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(d_obs / F.col("n").cast("double"), 6).alias("obs_share"),
        bp.alias("benford_p"),
        F.round((d_obs - expected) * (d_obs - expected) / expected, 6).alias(
            "chi2_term"
        ),
    )
