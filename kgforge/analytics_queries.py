"""Analytics queries outside KG construction, registered into the same
``QUERIES``/``ORACLES`` registry as kgforge/queries.py (which imports this
module at its end).

Relational (KMV distincts, length curriculum) and embedding search
(cosine top-k, IVF).  Each keeps its DuckDB oracle and the tests that
pin it; the KG-construction layers never call into this module.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.hashing import MOD, charfold, sql_charfold
from .queries import _docs, _t, register


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
