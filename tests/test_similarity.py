"""Production fold cosine vs oracle-parity explode-join: identical output
(two physical plans, one math)."""

import pytest
from pyspark.sql import functions as F

from kgforge.functions.similarity import (
    cosine_topk,
    cosine_topk_explode,
    near_dup_pairs,
    near_dup_pairs_explode,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint(eager=True)


def test_fold_matches_explode_topk(spark, emb):
    a = {(r.vec_id, r.cos_sim, r.rnk) for r in cosine_topk(emb, k=10).collect()}
    b = {(r.vec_id, r.cos_sim, r.rnk) for r in cosine_topk_explode(emb, k=10).collect()}
    assert a == b and len(a) == 10


def test_fold_matches_explode_pairs(spark, emb):
    a = {(r.vec_a, r.vec_b, r.cos_sim) for r in near_dup_pairs(emb, 0.45).collect()}
    b = {(r.vec_a, r.vec_b, r.cos_sim) for r in near_dup_pairs_explode(emb, 0.45).collect()}
    assert a == b


def test_fold_plan_has_no_explode(spark, emb):
    """The production path must not inflate rows x dim: no Generate
    (posexplode) node in its optimized plan."""
    plan = cosine_topk(emb, k=5)._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" not in plan


def test_ivf_topk_recall_vs_bruteforce(spark, emb):
    """IVF probes 2/8 lists: its hits must be a subset of candidates whose
    exact cosine the brute-force path also computed, with identical cosine
    values where they overlap, and ranks contiguous from 1."""
    from kgforge.functions.similarity import ivf_topk

    brute = {r.vec_id: r.cos_sim for r in cosine_topk(emb, k=50).collect()}
    ivf = ivf_topk(emb, k=10).collect()
    assert [r.rnk for r in ivf] == list(range(1, len(ivf) + 1))
    overlap = [r for r in ivf if r.vec_id in brute]
    assert len(overlap) >= 5  # 2/8 probe still recalls most near neighbors
    for r in overlap:
        assert r.cos_sim == brute[r.vec_id]


def test_ivf_recall_planted_clusters(spark, emb):
    """r3 VERDICT #1: on data WITH cluster structure (10 planted tight
    near-orthogonal clusters derived from vec_id), seeded k-means IVF with
    2 probes must reach recall@10 >= 0.8 vs the exact scan — proving the
    operator rather than excusing the near-uniform testdata."""
    from kgforge.analytics_queries import ann_ivf_recall

    r = ann_ivf_recall(spark, SF).first()
    assert r.k == 10
    assert r.recall_at_10 >= 0.8, f"planted-cluster recall {r.recall_at_10}"


def test_kmeans_centroids_deterministic(spark):
    """Hash-seeded Lloyd rounds are fully deterministic: same centroids on
    repeated calls, dim preserved, at most n_centroids clusters."""
    import random

    from kgforge.functions.similarity import ivf_topk, kmeans_centroids

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    c1 = sorted((r.cid, tuple(r.cv)) for r in kmeans_centroids(e, 4, rounds=2, dim=8).collect())
    c2 = sorted((r.cid, tuple(r.cv)) for r in kmeans_centroids(e, 4, rounds=2, dim=8).collect())
    assert c1 == c2
    assert 0 < len(c1) <= 4
    assert all(len(cv) == 8 for _, cv in c1)

    cents = kmeans_centroids(e, 4, rounds=2, dim=8).localCheckpoint(eager=True)
    got = ivf_topk(e, query_vec_id=0, k=5, n_probe=2, centroids=cents).collect()
    assert len(got) == 5
    assert [r.rnk for r in got] == [1, 2, 3, 4, 5]


def test_ivf_full_probe_equals_exact(spark):
    """Probing ALL inverted lists must reproduce the exact brute-force
    top-k (IVF's correctness envelope: recall -> 1 as n_probe ->
    n_centroids), with either centroid choice."""
    import random

    from kgforge.functions.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact = [r.vec_id for r in cosine_topk(e, query_vec_id=0, k=10).collect()]

    full_default = ivf_topk(e, query_vec_id=0, k=10, n_centroids=4, n_probe=4)
    assert [r.vec_id for r in full_default.collect()] == exact

    cents = kmeans_centroids(e, 4, rounds=2, dim=8).localCheckpoint(eager=True)
    n_lists = cents.count()
    full_kmeans = ivf_topk(
        e, query_vec_id=0, k=10, n_probe=n_lists, centroids=cents
    )
    assert [r.vec_id for r in full_kmeans.collect()] == exact


def test_multi_topk_plan_window_group_limit(spark):
    """Pin the batched-retrieval physical shape: the per-query rank
    filter compiles to Partial+Final WindowGroupLimit, so every input
    partition pre-truncates to its local top-k before the qid shuffle —
    no partition sorts the full corpus per query."""
    from kgforge.queries import QUERIES

    df = QUERIES["ann_multi_topk"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan
