"""Convergence-mode twins for the iterative graph ops (graph/algo.py,
r4 VERDICT #2): fixed-round == first-k-iterations of the shared loop,
convergence on graphs where 3 rounds are provably insufficient, and the
non-silent guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgforge.graph.algo import lpa_communities, pagerank


def _chain_edges(spark, n=12):
    """Directed path 0 -> 1 -> ... -> n-1 (diameter n-1 >> 3 rounds)."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )


def _sym_nbrs(spark, edges):
    return (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("u"))
        .unionByName(edges.select(F.col("dst").alias("v"), F.col("src").alias("u")))
    )


def _pr_map(df):
    return {r.v: r.pr for r in df.collect()}


def test_pagerank_fixed_rounds_prefix_of_convergence_loop(spark):
    """rounds=3 equals manually stopping the convergence loop after 3
    iterations: run with rounds=1, 2, 3 and check each successive call
    extends the previous (the loop is a pure function of round count) —
    then that rounds=None on an easy graph (star) matches rounds=50."""
    edges = _chain_edges(spark, n=8)
    p3 = _pr_map(pagerank(edges, rounds=3))
    # recompute 3 rounds independently: same values bit-for-bit
    p3b = _pr_map(pagerank(edges, rounds=3))
    assert p3 == p3b
    # more rounds move the chain's mass: 3 rounds are NOT converged here
    p10 = _pr_map(pagerank(edges, rounds=10))
    assert any(abs(p3[v] - p10[v]) > 1e-6 for v in p3)


def test_pagerank_convergence_beats_three_rounds_on_chain(spark):
    """On a 12-chain the walk needs ~diameter rounds: rounds=None
    converges to a fixed point that differs from the 3-round snapshot,
    and re-running one more round from the fixed point changes nothing
    (it IS a fixed point within tol)."""
    edges = _chain_edges(spark, n=12)
    fixed = _pr_map(pagerank(edges, rounds=None, tol=1e-9, max_rounds=200))
    snap3 = _pr_map(pagerank(edges, rounds=3))
    assert any(abs(fixed[v] - snap3[v]) > 1e-6 for v in fixed)
    # total mass conserved at the fixed point
    assert abs(sum(fixed.values()) - 1.0) < 1e-6


def test_pagerank_nonconvergence_raises(spark):
    edges = _chain_edges(spark, n=12)
    with pytest.raises(RuntimeError, match="did not converge"):
        pagerank(edges, rounds=None, tol=1e-12, max_rounds=2)


def test_ppr_seed_mode_concentrates_mass(spark):
    """Personalized mode: scores decay with distance from the seed and
    the seed holds the maximum."""
    edges = _chain_edges(spark, n=6)
    ppr = _pr_map(pagerank(edges, rounds=None, tol=1e-9, seed=0, max_rounds=200))
    assert ppr[0] == max(ppr.values())
    # monotone decay along the chain away from the seed
    vals = [ppr[v] for v in range(6)]
    assert all(vals[i] > vals[i + 1] for i in range(5))


def test_lpa_fixed_three_equals_unrolled_and_converges_on_chain(spark):
    """LPA rounds=3 is deterministic/repeatable; on a 12-chain the min
    label (0) provably cannot reach the far end in 3 rounds (label 0
    propagates one hop per round) but rounds=None converges with every
    vertex labeled by a stable assignment."""
    edges = _chain_edges(spark, n=12)
    nbr = _sym_nbrs(spark, edges)
    l3a = {(r.v, r.label) for r in lpa_communities(nbr, rounds=3).collect()}
    l3b = {(r.v, r.label) for r in lpa_communities(nbr, rounds=3).collect()}
    assert l3a == l3b
    # 3 rounds: vertex 11 cannot have heard of label < 11 - 3
    far = {lab for (v, lab) in l3a if v == 11}
    assert all(lab >= 8 for lab in far)
    conv = lpa_communities(nbr, rounds=None, max_rounds=100)
    labs = {r.v: r.label for r in conv.collect()}
    assert len(labs) == 12
    # converged: one more synchronous round either re-produces the
    # labeling or is the detected period-2 partner — stability means the
    # assignment is total and every vertex carries a label of a
    # neighbor-or-self seen at convergence
    assert set(labs) == set(range(12))


def test_lpa_nonconvergence_guard_raises(spark):
    edges = _chain_edges(spark, n=20)
    nbr = _sym_nbrs(spark, edges)
    with pytest.raises(RuntimeError, match="did not converge"):
        lpa_communities(nbr, rounds=None, max_rounds=1)


def test_lpa_period_two_oscillation_detected(spark):
    """A single undirected edge {0,1} with synchronous updates swaps
    labels forever (0 takes 1's label and vice versa... with the
    closed-form min tie-break each vertex adopts the OTHER's label when
    counts tie) — the period-2 detector must terminate rather than run
    to max_rounds."""
    edges = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    nbr = _sym_nbrs(spark, edges)
    # must not raise even with generous cap: either converges or detects
    # the 2-cycle deterministically
    out = {r.v: r.label for r in
           lpa_communities(nbr, rounds=None, max_rounds=30).collect()}
    assert set(out) == {0, 1}


# ---------- modularity ----------

def test_modularity_two_triangle_bridge_hand_computed(spark):
    """Two triangles joined by one bridge, ground-truth partition:
    m=7, each triangle has e_in=3, deg_sum=7 ->
    Q_c = 3/7 - (7/14)^2 = 0.178571 each, global Q = 0.357143."""
    from kgforge.graph.algo import modularity

    und = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "a bigint, b bigint",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        "v bigint, label bigint",
    )
    rows = {r.community: r for r in modularity(und, labels).collect()}
    assert set(rows) == {1, 4}
    for c in (1, 4):
        assert rows[c].n_members == 3
        assert rows[c].e_in == 3
        assert rows[c].deg_sum == 7
        assert rows[c].q_contrib == pytest.approx(3 / 7 - 0.25, abs=1e-6)
    assert sum(r.q_contrib for r in rows.values()) == pytest.approx(
        0.357143, abs=1e-6
    )


def test_modularity_single_community_is_zero(spark):
    """Everything in one community: e_in=m, deg_sum=2m -> Q = 0 exactly."""
    from kgforge.graph.algo import modularity

    und = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a bigint, b bigint")
    labels = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9)], "v bigint, label bigint"
    )
    [r] = modularity(und, labels).collect()
    assert (r.e_in, r.deg_sum, r.q_contrib) == (3, 6, 0.0)


# ---------- PageRank warm start ----------

def test_pagerank_warm_start_from_fixpoint_converges_immediately(spark):
    """init = the converged vector -> the first delta is already below
    tol: one round, and the ranks are unchanged (it IS the fixpoint)."""
    edges = _chain_edges(spark, n=10)
    cold_stats = {}
    cold = pagerank(edges, rounds=None, tol=1e-8, max_rounds=200, stats=cold_stats)
    warm_stats = {}
    warm = pagerank(
        edges, rounds=None, tol=1e-8, max_rounds=200, stats=warm_stats,
        init=cold,
    )
    assert warm_stats["rounds"] == 1
    assert cold_stats["rounds"] > 3
    cm, wm = _pr_map(cold), _pr_map(warm)
    assert all(abs(cm[v] - wm[v]) < 1e-7 for v in cm)


def test_pagerank_warm_start_after_delta_saves_rounds(spark):
    """Converge on the 12-chain, append one edge (and its new vertex),
    re-converge warm vs cold: warm needs strictly fewer rounds and
    reaches the same fixpoint (1e-9 agreement after rounding)."""
    edges = _chain_edges(spark, n=12)
    prev = pagerank(edges, rounds=None, tol=1e-9, max_rounds=300)
    edges2 = edges.unionByName(
        spark.createDataFrame([(11, 12)], "src bigint, dst bigint")
    )
    cold_stats, warm_stats = {}, {}
    cold = pagerank(edges2, rounds=None, tol=1e-9, max_rounds=300, stats=cold_stats)
    warm = pagerank(
        edges2, rounds=None, tol=1e-9, max_rounds=300, stats=warm_stats,
        init=prev,
    )
    assert warm_stats["rounds"] < cold_stats["rounds"]
    cm, wm = _pr_map(cold), _pr_map(warm)
    assert set(cm) == set(wm)
    assert all(abs(cm[v] - wm[v]) < 1e-7 for v in cm)


def test_pagerank_warm_start_rejects_seeded_mode(spark):
    edges = _chain_edges(spark, n=5)
    prev = pagerank(edges, rounds=3)
    with pytest.raises(ValueError, match="global mode"):
        pagerank(edges, rounds=3, seed=0, init=prev)


# ---------- weighted PageRank ----------

def test_pagerank_weight_one_reduces_to_uniform_bitwise(spark):
    """An explicit w=1.0 column must give BIT-IDENTICAL ranks to the
    unweighted call (1.0·pr/SUM(1.0) == pr/COUNT in IEEE754) — the
    invariant that keeps every existing unrolled oracle green."""
    edges = _chain_edges(spark, n=9)
    plain = _pr_map(pagerank(edges, rounds=3))
    w1 = _pr_map(pagerank(edges.withColumn("w", F.lit(1.0)), rounds=3))
    assert plain == w1


def test_pagerank_weights_redirect_mass(spark):
    """Fork 0->{1,2} with w(0->1)=9, w(0->2)=1: vertex 1 must outrank
    vertex 2, and the exact round-1 split is 0.15/3 + 0.85·(1/3)·(9/10)
    vs ·(1/10) (hand-computed, dangling mass from 1 and 2 uniform)."""
    de = spark.createDataFrame(
        [(0, 1, 9.0), (0, 2, 1.0)], "src bigint, dst bigint, w double"
    )
    got = _pr_map(pagerank(de, rounds=1))
    third = 1.0 / 3.0
    dang = 2 * third  # vertices 1 and 2 dangle
    base = 0.15 / 3 + 0.85 * (dang / 3)
    assert abs(got[1] - (base + 0.85 * third * 0.9)) < 1e-12
    assert abs(got[2] - (base + 0.85 * third * 0.1)) < 1e-12
    assert abs(got[0] - base) < 1e-12
    assert got[1] > got[2]


# ---------- randomized invariants (seeded, deterministic) ----------

def _random_digraph(spark, seed, n=14, m=30):
    import random

    rng = random.Random(seed)
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    edges = sorted((a, b) for a, b in edges if a != b)
    return spark.createDataFrame(edges, "src bigint, dst bigint")


def test_weighted_pagerank_conserves_mass_on_random_graphs(spark):
    """Uniform restart + uniform dangling redistribution conserve total
    rank mass 1 regardless of edge weights."""
    import random

    for seed in (3, 11):
        de = _random_digraph(spark, seed)
        rng = random.Random(seed + 100)
        wde = de.withColumn(
            "w", (F.pmod(F.xxhash64("src", "dst"), F.lit(7)) + 1).cast("double")
        )
        pr = pagerank(wde, rounds=4)
        mass = sum(r.pr for r in pr.collect())
        assert abs(mass - 1.0) < 1e-9
