"""Embedding similarity — production cosine paths (JVM-side folds).

Two physical strategies for the same math:

* ``cosine_fold`` — ``zip_with`` + ``aggregate`` over the array columns:
  each row carries its whole vector, the dot product folds inside
  whole-stage codegen.  Rows shuffled = rows of vectors.  This is the
  production path.
* the per-dimension explode + equi-join form (kept only inside the oracle
  queries for DuckDB parity) inflates every shuffle by x dim — at 768-dim
  real embeddings a 768x row blowup, flagged `weak` in round-1 VERDICT.md.

Both produce identical doubles on the same input ordering up to float
associativity (~1e-15 rel at dim<=4096); all query surfaces round to 4-6
decimals, far above that noise floor (equivalence covered by
tests/test_similarity.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Hyperplane-sign LSH bits for the bucketed near-dup candidate path.
# Expected bucket population is n / 2^N_PLANES, and candidate work is sum
# over buckets of |bucket|^2 — the plane count IS the scale knob
# (docs/SCALE.md: 4 planes at a 200k-vector fixture is a measured
# DNF cliff; 12 planes runs in seconds).  Env-tunable and read at import,
# so the small and the scale runs are the same code with only the
# constant moved.  Default 4 keeps tiny-SF fixtures populated (buckets of
# ~n/16 still produce pairs at sf0.001).
N_PLANES = int(os.environ.get("SPARK_GRAFT_EMB_PLANES", "4"))


def cosine_fold(a_col, b_col) -> F.Column:
    """Exact cosine of two array<double> columns, fully JVM-side."""
    dot = F.aggregate(
        F.zip_with(a_col, b_col, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
    )
    na = F.sqrt(
        F.aggregate(F.transform(a_col, lambda x: x * x), F.lit(0.0), lambda a, v: a + v)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(b_col, lambda x: x * x), F.lit(0.0), lambda a, v: a + v)
    )
    return dot / (na * nb)


def _as_double(col):
    return col.cast("array<double>")


def sign_bucket(emb_col, n_planes: int = N_PLANES) -> F.Column:
    """Hyperplane-sign LSH bucket id from the first ``n_planes`` coordinate
    signs (the surrogate for random-projection signs — deterministic and
    SQL-mirrorable)."""
    b = None
    for k in range(n_planes):
        term = F.when(F.element_at(emb_col, k + 1) > 0, F.lit(1 << k)).otherwise(0)
        b = term if b is None else b + term
    return b.cast("bigint")


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k by cosine vs one query vector.

    The query vector is a 1-row broadcast crossJoin — the candidate table
    is scanned ONCE, each row folding its own dot product (no explode, no
    per-dimension shuffle).  Rank on round(cos, 6) with vec_id tie-break
    for cross-engine determinism."""
    e = embeddings.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    q = e.filter(F.col("vec_id") == query_vec_id).select(F.col("v").alias("qv"))
    cos = (
        e.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine_fold(F.col("qv"), F.col("v")).alias("c"))
    )
    w = Window.orderBy(F.desc(F.round("c", 6)), "vec_id")
    return (
        cos.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("vec_id", F.round("c", 4).alias("cos_sim"), "rnk")
    )


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_planes: int = N_PLANES,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucket candidate generation +
    exact fold verification.

    The self-join key is the bucket only; each side carries its whole
    vector, so the shuffle moves n rows of vectors (vs n x dim exploded
    rows).  Within-bucket pairing is O(bucket^2) — bounded by the bucket
    granularity (add planes to shrink buckets at scale)."""
    e = embeddings.select(
        "vec_id",
        sign_bucket(F.col(vec_col), n_planes).alias("bucket"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    a = e.select(F.col("vec_id").alias("vec_a"), "bucket", F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), "bucket", F.col("v").alias("vb"))
    pairs = a.join(b, on="bucket").filter(F.col("vec_a") < F.col("vec_b"))
    c = pairs.withColumn("c", cosine_fold(F.col("va"), F.col("vb")))
    return c.filter(F.round("c", 6) >= threshold).select(
        "vec_a", "vec_b", F.round("c", 4).alias("cos_sim")
    )


# --- oracle-parity variants (per-dimension explode + join) -----------------
# Kept ONLY as the cross-check twin of the fold path (and for the
# fold-vs-explode benchmark); never use these in production pipelines.

def cosine_topk_explode(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    flat = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select("vec_id", "i", F.col("x").cast("double").alias("x"))
    q = flat.filter(F.col("vec_id") == query_vec_id).select("i", F.col("x").alias("qx"))
    dots = (
        flat.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q), on="i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("x") * F.col("qx")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("nv"),
        )
    )
    nq = q.agg(F.sum(F.col("qx") * F.col("qx")).alias("nq"))
    cos = dots.crossJoin(F.broadcast(nq)).select(
        "vec_id", (F.col("dot") / (F.sqrt("nv") * F.sqrt("nq"))).alias("c")
    )
    w = Window.orderBy(F.desc(F.round("c", 6)), "vec_id")
    return (
        cos.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("vec_id", F.round("c", 4).alias("cos_sim"), "rnk")
    )


def near_dup_pairs_explode(
    embeddings: DataFrame, threshold: float = 0.45, n_planes: int = N_PLANES
) -> DataFrame:
    e = embeddings.withColumn("bucket", sign_bucket(F.col("embedding"), n_planes))
    flat = e.select(
        "vec_id", "bucket", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "vec_id", "bucket", (F.col("i0") + 1).alias("i"),
        F.col("x").cast("double").alias("x"),
    )
    norms = flat.groupBy("vec_id").agg(F.sum(F.col("x") * F.col("x")).alias("n2"))
    a = flat.select(F.col("vec_id").alias("vec_a"), "bucket", "i", F.col("x").alias("xa"))
    b = flat.select(F.col("vec_id").alias("vec_b"), "bucket", "i", F.col("x").alias("xb"))
    dots = (
        a.join(b, on=["bucket", "i"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot"))
    )
    j = (
        dots.join(norms.withColumnRenamed("vec_id", "vec_a").withColumnRenamed("n2", "na"), on="vec_a")
        .join(norms.withColumnRenamed("vec_id", "vec_b").withColumnRenamed("n2", "nb"), on="vec_b")
        .withColumn("c", F.col("dot") / (F.sqrt("na") * F.sqrt("nb")))
    )
    return j.filter(F.round("c", 6) >= threshold).select(
        "vec_a", "vec_b", F.round("c", 4).alias("cos_sim")
    )


def assign_nearest(e: DataFrame, cents: DataFrame, keep: str = "v") -> DataFrame:
    """Nearest-centroid assignment — the ONE home of the quantization
    tie rule (highest round(cos, 6), then LOWEST cid) shared by the
    Lloyd loop and IVF (its SQL twin is _sql_kmeans_round's rn = 1 pick).
    ``e`` is (vec_id, v double[]); ``cents`` is (cid, cv).  Returns
    (vec_id, cid, v) with ``keep='v'``, (vec_id, cid, cc) with
    ``keep='cc'``, or just (vec_id, cid) with ``keep='cid'`` — the
    d-dim vector is hauled through the assignment groupBy ONLY when
    the caller needs it back.  One broadcast crossJoin + a max_by per
    vector — the vector table is never shuffled."""
    carry_v = keep == "v"
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        *(["v"] if carry_v else []),
        "cid",
        F.round(cosine_fold(F.col("v"), F.col("cv")), 6).alias("cc"),
    )
    aggs = [
        F.max_by(
            F.struct("cid", "cc"), F.struct(F.col("cc"), -F.col("cid"))
        ).alias("s")
    ]
    if carry_v:
        # only haul the d-dim vector through the assignment groupBy when
        # the caller actually needs it back
        aggs.append(F.first("v").alias("v"))
    out = scored.groupBy("vec_id").agg(*aggs)
    if keep == "cc":
        return out.select(
            "vec_id", F.col("s.cid").alias("cid"), F.col("s.cc").alias("cc")
        )
    if keep == "cid":
        return out.select("vec_id", F.col("s.cid").alias("cid"))
    return out.select("vec_id", F.col("s.cid").alias("cid"), "v")


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 8,
    rounds: int = 2,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Seeded deterministic k-means centroids (cid, cv): hash-init +
    ``rounds`` Lloyd iterations, all SQL-mirrorable.

    Init: the ``n_centroids`` vectors with the smallest
    ``md5(cast(vec_id as string))`` — a deterministic pseudo-random seed
    identical in Spark and DuckDB.  Each Lloyd round assigns every vector
    to its nearest centroid by round(cos, 6) (tie: lowest cid) and
    recomputes centroids as the per-dimension mean.  Empty clusters
    simply drop out (deterministic on both engines).

    Scale shape: per round, ONE broadcast crossJoin (centroids are tiny)
    + a max_by per vector + a per-dimension avg aggregation over
    n_centroids groups — the vector table is never shuffled.  The init
    global sort is over (md5, vec_id) and Catalyst executes the limit as
    TakeOrdered (no single-task full sort); at extreme scale you would
    seed from a sample, which changes nothing downstream."""
    e = embeddings.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    if dim is None:
        dim = len(e.select("v").first()[0])
    seeds = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_centroids)
        .collect()
    )
    spark = embeddings.sparkSession
    cents = spark.createDataFrame(
        [(i, list(r.v)) for i, r in enumerate(seeds)], "cid int, cv array<double>"
    )
    mean_vec = F.array(
        *[F.avg(F.element_at("v", i + 1)) for i in range(dim)]
    ).alias("cv")
    for _ in range(rounds):
        cents = assign_nearest(e, cents).groupBy("cid").agg(mean_vec)
    return cents


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize vectors to their nearest centroid,
    probe the query's ``n_probe`` nearest inverted lists, and exact-rank
    only within the probed lists.

    ``centroids`` (cid, cv) injects a learned set (see kmeans_centroids);
    the default is the deterministic surrogate (the first ``n_centroids``
    vec_ids after the query).  Recall@k of either choice vs the exact
    scan is measured by the ann_ivf_recall query.

    At scale the assignment is one broadcast crossJoin (centroids are tiny
    by definition) + a max_by per vector — no shuffle of the vector table;
    the probe step scans ~n_probe/n_centroids of the data.  Ties broken on
    centroid id; ranks on round(cos, 6) + vec_id, as everywhere."""
    e = embeddings.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    if centroids is not None:
        cents = F.broadcast(centroids.select("cid", "cv"))
    else:
        cents = F.broadcast(
            e.filter(
                (F.col("vec_id") > query_vec_id)
                & (F.col("vec_id") <= query_vec_id + n_centroids)
            ).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        )
    # argmax centroid per vector: highest cos, then LOWEST cid
    assigned = assign_nearest(e, cents)
    probe = (
        assigned.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("v").alias("qv"))
        .crossJoin(cents)
        .select("cid", "qv", F.round(cosine_fold(F.col("qv"), F.col("cv")), 6).alias("cc"))
        .orderBy(F.desc("cc"), "cid")
        .limit(n_probe)
    )
    cand = assigned.filter(F.col("vec_id") != query_vec_id).join(
        F.broadcast(probe.select("cid", "qv")), on="cid"
    )
    cos = cand.select(
        "vec_id", "cid", cosine_fold(F.col("qv"), F.col("v")).alias("c")
    )
    w = Window.orderBy(F.desc(F.round("c", 6)), "vec_id")
    return (
        cos.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(
            "vec_id", F.col("cid").cast("bigint").alias("cid"),
            F.round("c", 4).alias("cos_sim"), "rnk",
        )
    )
