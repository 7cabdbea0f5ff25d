"""Analytics queries outside KG construction, registered into the same
``QUERIES``/``ORACLES`` registry as kgforge/queries.py (which imports this
module at its end).

Relational (TPC-H Q1, per-group top-k, sessionization, KMV distincts,
length curriculum), embedding search (cosine top-k, IVF) and KG
consumption (two-hop, PageRank).  Each keeps its DuckDB oracle and the
tests that pin it; the KG-construction layers never call into this
module.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.hashing import MOD, charfold, sql_charfold
from .queries import SQL_TRIPLES, _docs, _t, kg_edges, register


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS sum_disc_price_c,
           CAST(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_bp,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-filter-agg with map-side partial aggregation
    (A1 analog).  Predicate pushes to the parquet scan.  Money sums in
    integer cents: per-row ROUND is bitwise-identical across engines,
    integer sums are exact — no cross-engine float-accumulation drift."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp")
    )
    cents = lambda c, m=100: F.round(c * m).cast("bigint")  # noqa: E731
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(cents(F.col("l_quantity"))).cast("bigint").alias("sum_qty_c"),
        F.sum(cents(F.col("l_extendedprice"))).cast("bigint").alias("sum_base_price_c"),
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("bigint")
        .alias("sum_disc_price_c"),
        F.sum(cents(F.col("l_discount"), 10000)).cast("bigint").alias("sum_disc_bp"),
        F.count("*").alias("count_order"),
    )


@register(
    "q_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) WHERE rnk <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    """Per-group top-k via row_number (W1 ranking + W2 truncation) with a
    total-order tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@register(
    "q_sessionize",
    """
    WITH x AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM x)
    SELECT user_id, CAST(sid AS BIGINT) AS session_ix,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT)
             AS duration_s
    FROM s GROUP BY 1, 2
    """,
)
def q_sessionize(spark, sf_dir):
    """Event SESSIONIZATION (gaps-and-islands): per user, a new session
    starts after a >30-min silence; outputs per-session event count and
    whole-second duration.  The batch ground truth for the streaming
    session_window twin (kgforge.streaming.streaming_sessionize —
    equivalence pinned by tests/test_streaming.py).  Scale shape: both
    windows partition by user_id — parallel across users, ordered only
    within one user's events; duration in integer microsecond
    arithmetic so both engines agree exactly."""
    gap_us = 1800 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = _t(spark, sf_dir, "events")
    # parquet stores TIMESTAMP_NTZ; session tz is pinned UTC, so the cast
    # to TIMESTAMP is the identity epoch mapping both engines use
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    prev = F.lag("ts").over(w)
    new_s = (
        prev.isNull() | (us(F.col("ts")) - us(prev) > gap_us)
    ).cast("bigint")
    s = e.withColumn("new_s", new_s).withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return s.groupBy(
        "user_id", F.col("sid").cast("bigint").alias("session_ix")
    ).agg(
        F.count("*").alias("n_events"),
        (
            (us(F.max("ts")) - us(F.min("ts"))) / F.lit(1_000_000)
        ).cast("bigint").alias("duration_s"),
    )


@register(
    "q_distinct_kmv",
    f"""
    WITH h AS (SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                      {sql_charfold("md5(CAST(user_id AS VARCHAR))")} AS hv
               FROM events),
    r AS (SELECT day, hv,
                 ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv) AS rn,
                 COUNT(*) OVER (PARTITION BY day) AS nd
          FROM h),
    kth AS (SELECT day, MAX(CASE WHEN rn = LEAST(64, nd) THEN hv END) AS kv,
                   MAX(nd) AS nd
            FROM r GROUP BY day)
    SELECT day, CAST(nd AS BIGINT) AS n_exact,
           CAST(CASE WHEN nd <= 64 THEN nd
                     ELSE CAST(ROUND(63.0 * {MOD} / kv) AS BIGINT)
                END AS BIGINT) AS n_kmv
    FROM kth
    """,
)
def q_distinct_kmv(spark, sf_dir):
    """DETERMINISTIC approximate distinct count — the k-minimum-values
    (KMV / theta) sketch: per day, hash each user into [0, MOD), keep
    the k=64 smallest distinct hashes, estimate distincts as
    (k-1) * MOD / kth_smallest (exact when fewer than k).  Chosen over
    approx_count_distinct because HLL registers differ across engines —
    KMV over a shared deterministic hash is bit-identical in Spark and
    DuckDB, so the sketch itself is oracle-checkable, alongside the
    exact count for the error story.  Scale shape: KMV is the
    classic mergeable sketch — per-partition k-smallest sets merge by
    sorted-slice exactly like build_edges' min-k provenance; here the
    per-day rank formulation keeps the query one shuffle."""
    k = 64
    e = _t(spark, sf_dir, "events")
    # charfold of the raw id is NOT uniform (short digit strings hash
    # low, wrecking the estimator); md5 first, then fold the 32-hex-char
    # digest — well-mixed in [0, MOD) and engine-identical
    h = e.select(
        F.to_date("ts").cast("string").alias("day"),
        charfold(F.md5(F.col("user_id").cast("string"))).alias("hv"),
    ).distinct()
    w = Window.partitionBy("day").orderBy("hv")
    r = h.withColumn("rn", F.row_number().over(w)).withColumn(
        "nd", F.count("*").over(Window.partitionBy("day"))
    )
    kth = r.groupBy("day").agg(
        F.max(
            F.when(F.col("rn") == F.least(F.lit(k), F.col("nd")), F.col("hv"))
        ).alias("kv"),
        F.max("nd").alias("nd"),
    )
    est = F.when(
        F.col("nd") <= k, F.col("nd")
    ).otherwise(F.round(F.lit(float(k - 1)) * MOD / F.col("kv")))
    return kth.select(
        "day",
        F.col("nd").cast("bigint").alias("n_exact"),
        est.cast("bigint").alias("n_kmv"),
    )


# Production cosine paths live in functions/similarity.py (zip_with fold —
# no per-dimension explode); the SQL oracles keep the per-dimension form
# because DuckDB has no array fold.
_SQL_COS = """
flat AS (
  SELECT e.vec_id, CAST(generate_subscripts(e.embedding, 1) AS BIGINT) AS i,
         unnest(e.embedding) AS x
  FROM embeddings e
),
qflat AS (SELECT i, x AS qx FROM flat WHERE vec_id = 0),
dots AS (
  SELECT f.vec_id,
         SUM(CAST(f.x AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS dot,
         SUM(CAST(f.x AS DOUBLE) * CAST(f.x AS DOUBLE)) AS nv
  FROM flat f JOIN qflat q ON f.i = q.i
  WHERE f.vec_id <> 0
  GROUP BY f.vec_id
),
nq AS (SELECT SUM(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE)) AS nq FROM qflat),
cos AS (
  SELECT d.vec_id, d.dot / (sqrt(d.nv) * sqrt(nq.nq)) AS c FROM dots d, nq
)
"""


@register(
    "ann_cosine_topk",
    f"""
    WITH {_SQL_COS}
    SELECT vec_id, ROUND(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT vec_id, c,
             ROW_NUMBER() OVER (ORDER BY ROUND(c, 6) DESC, vec_id) AS rnk
      FROM cos) WHERE rnk <= 10
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs query vector (vec_id=0) — PRODUCTION
    path: one scan, per-row zip_with/aggregate fold against the broadcast
    query vector (no per-dimension explode; the explode-join form
    inflated every shuffle by x dim and is kept only as the oracle twin).
    Rank on round(cos, 6) with vec_id tie-break for determinism."""
    from .functions.similarity import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


@register(
    "ann_ivf_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8),
    scored AS (
      SELECT e.vec_id, e.v, c.cid,
             ROUND(list_cosine_similarity(e.v, c.cv), 6) AS cc
      FROM e, cents c),
    assigned AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    probe AS (SELECT cid FROM scored WHERE vec_id = 0 ORDER BY cc DESC, cid LIMIT 2),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cand AS (
      SELECT a.vec_id, a.cid, list_cosine_similarity(a.v, q.qv) AS c
      FROM assigned a JOIN probe p ON a.cid = p.cid, q
      WHERE a.vec_id <> 0)
    SELECT vec_id, CAST(cid AS BIGINT) AS cid, ROUND(c, 4) AS cos_sim,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY ROUND(c, 6) DESC, vec_id) AS rnk
          FROM cand)
    WHERE rnk <= 10
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN (functions/similarity.ivf_topk): coarse-quantize to
    the nearest of 8 deterministic centroids, probe the query's 2 nearest
    inverted lists, exact-rank within them.  The scale path between
    brute-force (ann_cosine_topk) and pure LSH bucketing:
    assignment is a broadcast crossJoin + max_by, probing scans
    ~n_probe/n_centroids of the vectors."""
    from .functions.similarity import ivf_topk

    return ivf_topk(
        _t(spark, sf_dir, "embeddings"),
        query_vec_id=0, k=10, n_centroids=8, n_probe=2,
    )


def _sql_kmeans_round(src_assign: str, src_cents: str, out_assign: str, out_cents: str) -> str:
    """One unrolled Lloyd round: assign (nearest centroid by round(cos,6),
    tie lowest cid) + per-dimension mean recompute."""
    return f"""
    {out_assign} AS (SELECT vec_id, v, cid FROM (
      SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
      FROM {src_assign} e, {src_cents} c) WHERE rn = 1),
    {out_cents} AS (SELECT cid, list(m ORDER BY i) AS cv FROM (
      SELECT cid, i, AVG(x) AS m FROM (
        SELECT cid, UNNEST(v) AS x, generate_subscripts(v, 1) AS i
        FROM {out_assign})
      GROUP BY cid, i) GROUP BY cid)"""


# Planted-cluster IVF recall: the fixture is DERIVED deterministically from
# vec_id with engine-identical integer arithmetic: vector i-th coordinate =
# one-hot(cluster) + noise, cluster = vec_id % 10, noise = ((vec_id*131 +
# i*89) % 21 - 10) / 50 (in [-0.2, 0.2]).  Ten near-orthogonal tight
# clusters — the structure real embedding corpora have and the uniform
# testdata lacks.
PLANTED_DIM = 32


PLANTED_CLUSTERS = 10


def planted_embedding_col(dim: int = PLANTED_DIM,
                          n_clusters: int = PLANTED_CLUSTERS) -> F.Column:
    """array<double> planted-cluster vector as a pure expression over
    ``vec_id`` (exactly mirrors the _SQL_PLANTED_E CTE)."""
    vid = F.col("vec_id")
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.when(i == vid % n_clusters, F.lit(1.0)).otherwise(F.lit(0.0))
            + ((vid * 131 + i * 89) % 21 - 10) / F.lit(50.0)
        ),
    )


_SQL_PLANTED_E = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(generate_series(0, {PLANTED_DIM - 1}),
               i -> (CASE WHEN i = vec_id % {PLANTED_CLUSTERS} THEN 1.0
                          ELSE 0.0 END)
                    + ((vec_id * 131 + i * 89) % 21 - 10) / 50.0) AS v
      FROM embeddings)"""


_SQL_IVF_RECALL_PLANTED = f"""
    {_SQL_PLANTED_E},
    init AS (SELECT cid, cv FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
             v AS cv
      FROM e) WHERE cid < {PLANTED_CLUSTERS}),
    {_sql_kmeans_round('e', 'init', 'a1', 'c1')},
    {_sql_kmeans_round('e', 'c1', 'a2', 'c2')},
    assigned AS (SELECT vec_id, v, cid FROM (
      SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
      FROM e, c2 c) WHERE rn = 1),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (SELECT c.cid FROM c2 c, q
              ORDER BY ROUND(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cid LIMIT 2),
    ivf AS (SELECT vec_id FROM (
      SELECT a.vec_id,
             ROW_NUMBER() OVER (ORDER BY ROUND(list_cosine_similarity(a.v, q.qv), 6) DESC,
                                a.vec_id) AS rnk
      FROM assigned a JOIN probe p ON a.cid = p.cid, q WHERE a.vec_id <> 0)
      WHERE rnk <= 10),
    exact AS (SELECT vec_id FROM (
      SELECT e.vec_id,
             ROW_NUMBER() OVER (ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6) DESC,
                                e.vec_id) AS rnk
      FROM e, q WHERE e.vec_id <> 0) WHERE rnk <= 10)
    SELECT CAST(10 AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM exact JOIN ivf USING (vec_id)) AS BIGINT) AS n_hits,
           ROUND((SELECT COUNT(*) FROM exact JOIN ivf USING (vec_id)) / 10.0, 4)
             AS recall_at_10
"""


@register("ann_ivf_recall", _SQL_IVF_RECALL_PLANTED)
def ann_ivf_recall(spark, sf_dir):
    """Recall@10 of IVF ANN vs the exact cosine scan on a PLANTED-cluster
    fixture (10 tight near-orthogonal clusters derived deterministically
    from vec_id — see planted_embedding_col).  Proves the operator: with
    cluster structure present, seeded k-means (10 centroids, 2 Lloyd
    rounds) + 2-probe IVF recovers the exact top-10 (recall pinned >= 0.8
    by tests/test_similarity.py; the full n_centroids x n_probe sweep on
    both planted and uniform data is docs/IVF_SWEEP.md)."""
    from .functions.similarity import cosine_topk, ivf_topk, kmeans_centroids

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", planted_embedding_col().alias("embedding")
    )
    cents = kmeans_centroids(
        e, n_centroids=PLANTED_CLUSTERS, rounds=2, dim=PLANTED_DIM
    ).localCheckpoint(eager=True)
    ivf = ivf_topk(e, query_vec_id=0, k=10, n_probe=2, centroids=cents).select(
        "vec_id"
    )
    exact = cosine_topk(e, query_vec_id=0, k=10).select("vec_id")
    hits = exact.join(ivf, on="vec_id", how="left_semi")
    return hits.agg(F.count("*").alias("n")).select(
        F.lit(10).cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n_hits"),
        F.round(F.col("n") / 10.0, 4).alias("recall_at_10"),
    )


_SQL_EDGES = SQL_TRIPLES + """
    , edges AS (
      SELECT md5(subj || ':' || subj_type) AS src,
             md5(obj || ':' || obj_type) AS dst,
             pred, COUNT(*) AS weight
      FROM triples GROUP BY 1, 2, 3
    )
"""


@register(
    "kg_two_hop",
    _SQL_EDGES
    + """
    SELECT a.pred AS pred_ab, b.pred AS pred_bc,
           CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(COUNT(DISTINCT a.src) AS BIGINT) AS n_src
    FROM edges a JOIN edges b ON a.dst = b.src AND a.src <> b.dst
    GROUP BY 1, 2
    """,
)
def kg_two_hop(spark, sf_dir):
    """Two-hop traversal (A -[p1]-> B -[p2]-> C, no immediate backtrack):
    per relation-pair path counts — the motif-count primitive.  Scale
    note: the hop join shuffles on the shared vertex; hub vertices are
    exactly the skew the AQE skew-join test + salting pattern cover."""
    e = kg_edges(spark, sf_dir).localCheckpoint(eager=True)
    a = e.select(F.col("src").alias("a_src"), F.col("dst").alias("mid"),
                 F.col("pred").alias("pred_ab"))
    b = e.select(F.col("src").alias("mid"), F.col("dst").alias("b_dst"),
                 F.col("pred").alias("pred_bc"))
    paths = a.join(b, on="mid").filter(F.col("a_src") != F.col("b_dst"))
    return paths.groupBy("pred_ab", "pred_bc").agg(
        F.count("*").alias("n_paths"),
        F.countDistinct("a_src").alias("n_src"),
    )


_SQL_PAGERANK = _SQL_EDGES + """
    , de AS (SELECT DISTINCT src, dst FROM edges),
    verts AS (SELECT src AS v FROM de UNION SELECT dst FROM de),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
    od AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM de GROUP BY src),
    pr0 AS (SELECT v, 1.0 / n AS pr FROM verts, nn),
    dang1 AS (SELECT COALESCE(SUM(p.pr), 0) AS dang FROM pr0 p
      LEFT JOIN od ON p.v = od.src WHERE od.src IS NULL),
    c1 AS (SELECT de.dst AS v, SUM(p.pr / od.deg) AS s
      FROM de JOIN pr0 p ON de.src = p.v JOIN od ON de.src = od.src
      GROUP BY de.dst),
    pr1 AS (
      SELECT verts.v,
             0.15 / nn.n + 0.85 * (COALESCE(c1.s, 0) + dang1.dang / nn.n) AS pr
      FROM verts CROSS JOIN nn CROSS JOIN dang1
      LEFT JOIN c1 ON verts.v = c1.v),
    dang2 AS (SELECT COALESCE(SUM(p.pr), 0) AS dang FROM pr1 p
      LEFT JOIN od ON p.v = od.src WHERE od.src IS NULL),
    c2 AS (SELECT de.dst AS v, SUM(p.pr / od.deg) AS s
      FROM de JOIN pr1 p ON de.src = p.v JOIN od ON de.src = od.src
      GROUP BY de.dst),
    pr2 AS (
      SELECT verts.v,
             0.15 / nn.n + 0.85 * (COALESCE(c2.s, 0) + dang2.dang / nn.n) AS pr
      FROM verts CROSS JOIN nn CROSS JOIN dang2
      LEFT JOIN c2 ON verts.v = c2.v),
    dang3 AS (SELECT COALESCE(SUM(p.pr), 0) AS dang FROM pr2 p
      LEFT JOIN od ON p.v = od.src WHERE od.src IS NULL),
    c3 AS (SELECT de.dst AS v, SUM(p.pr / od.deg) AS s
      FROM de JOIN pr2 p ON de.src = p.v JOIN od ON de.src = od.src
      GROUP BY de.dst),
    pr3 AS (
      SELECT verts.v,
             0.15 / nn.n + 0.85 * (COALESCE(c3.s, 0) + dang3.dang / nn.n) AS pr
      FROM verts CROSS JOIN nn CROSS JOIN dang3
      LEFT JOIN c3 ON verts.v = c3.v),
    final AS (SELECT v, pr FROM pr3)
    SELECT v, ROUND(pr, 8) AS pr FROM final
"""


@register("kg_pagerank", _SQL_PAGERANK)
def kg_pagerank(spark, sf_dir):
    """PageRank over the materialized KG (3 power iterations, d=0.85,
    dangling mass redistributed uniformly) — the entity-importance
    primitive a KG consumer ranks hubs with.  Same iterative-join shape
    as the CC loop: per round one contribution shuffle on the edge key +
    one tiny dangling aggregate; the oracle unrolls the identical three
    rounds.  Plain joins, no UDF; round(…, 8) absorbs cross-engine float
    summation order.  Shared loop: graph/algo.pagerank — the production
    twin (rounds=None) power-iterates the SAME code to tolerance under
    the CC guard (pinned by tests/test_graph_algo.py)."""
    from .graph.algo import pagerank

    e = kg_edges(spark, sf_dir).localCheckpoint(eager=True)
    de = e.select("src", "dst").distinct()
    return pagerank(de, rounds=3).select("v", F.round("pr", 8).alias("pr"))


@register(
    "ann_multi_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
    c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
    cos AS (
      SELECT q.qid, c.vec_id,
             list_cosine_similarity(c.v, q.qv) AS cs
      FROM c, q)
    SELECT qid, vec_id, ROUND(cs, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY ROUND(cs, 6) DESC, vec_id) AS rnk
          FROM cos)
    WHERE rnk <= 5
    """,
)
def ann_multi_topk(spark, sf_dir):
    """BATCHED retrieval — the realistic serving shape: a query SET
    (vec_id < 5, broadcast) against the corpus (vec_id >= 5), exact
    top-5 per query.  One scan of the corpus computes all Q cosines per
    row (broadcast crossJoin + fold — vectors travel whole); the
    per-query rank filter compiles to WindowGroupLimit (Spark 3.5+),
    so each input partition pre-truncates to its local top-k before the
    single shuffle on qid — no partition ever sorts the full corpus per
    query."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    from .functions.similarity import cosine_fold

    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    c = e.filter(F.col("vec_id") >= 5)
    cos = c.crossJoin(F.broadcast(q)).select(
        "qid", "vec_id", cosine_fold(F.col("qv"), F.col("v")).alias("cs")
    )
    w = Window.partitionBy("qid").orderBy(F.desc(F.round("cs", 6)), "vec_id")
    return (
        cos.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("qid", "vec_id", F.round("cs", 4).alias("cos_sim"), "rnk")
    )


@register(
    "curate_length_curriculum",
    """
    WITH d AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n
               FROM documents),
    p AS (SELECT doc_id, n,
                 NTILE(4) OVER (ORDER BY n, doc_id) AS phase
          FROM d)
    SELECT CAST(phase AS BIGINT) AS phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(n) AS min_tokens, MAX(n) AS max_tokens,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS member_checksum
    FROM p GROUP BY phase
    """,
)
def curate_length_curriculum(spark, sf_dir):
    """LENGTH-CURRICULUM phase assignment — order training data
    shortest-first in four equal phases (curriculum learning, Bengio et
    al. 2009; sequence-length warmup as used in efficient-pretraining
    recipes): the NTILE(4) assignment over (token count, doc_id) gives
    every document a deterministic phase, and the per-phase report
    carries a member checksum (exact doc_id sum) so the ASSIGNMENT
    itself is oracle-pinned, not just the counts.

    Scale shape: the Spark side does NOT run a global-window NTILE —
    `Window.orderBy` with no partitionBy compiles to an Exchange
    SinglePartition (the whole corpus sorted by ONE task).  Instead the
    global rank comes from the repo's two-pass rank (functions/ranks.py
    global_row_number: range-repartition → per-partition counts → offset
    + local row_number), and the phase is
    derived ARITHMETICALLY from (rank, n_total) by the exact NTILE
    rule: with q = n DIV 4, r = n % 4, the first r buckets hold q+1
    rows and the rest hold q, so
      phase = (rank-1) DIV (q+1) + 1            if rank <= r*(q+1)
            = r + (rank - r*(q+1) - 1) DIV q + 1  otherwise.
    This reproduces NTILE(4) bit-for-bit for ANY n (including n < 4,
    where the else branch is unreachable — q is still guarded with
    GREATEST for safety), so the DuckDB oracle keeps its literal
    NTILE(4) window and the oracle hash-compare proves the
    equivalence.  The per-phase aggregate is map-side combined."""
    from .functions.ranks import global_row_number

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n")
    )
    ranked = global_row_number(d, ["n", "doc_id"], "rn")
    nt = d.agg(F.count("*").cast("bigint").alias("nt"))
    p = ranked.crossJoin(F.broadcast(nt)).withColumn(
        "phase",
        F.expr(
            "CASE WHEN rn <= (nt % 4) * ((nt DIV 4) + 1) "
            "THEN ((rn - 1) DIV ((nt DIV 4) + 1)) + 1 "
            "ELSE (nt % 4) + ((rn - (nt % 4) * ((nt DIV 4) + 1) - 1) "
            "DIV GREATEST(nt DIV 4, 1)) + 1 END"
        ),
    )
    return p.groupBy(F.col("phase").cast("bigint").alias("phase")).agg(
        F.count("*").alias("n_docs"),
        F.min("n").alias("min_tokens"),
        F.max("n").alias("max_tokens"),
        F.sum("n").alias("total_tokens"),
        F.sum("doc_id").cast("bigint").alias("member_checksum"),
    )
