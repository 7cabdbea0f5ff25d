"""Incremental merge == full recompute (the associativity contract)."""

import pytest
from pyspark.sql import functions as F

from kgforge.extract.pipeline import extract_pipeline
from kgforge.fixtures import gen_repo_rows
from kgforge.graph.materialize import (
    attach_canonical_ids,
    build_edges,
    build_nodes,
    canonical_entities,
    mention_counts,
)
from kgforge.graph.merge import merge_edges, merge_nodes


@pytest.fixture(scope="module")
def split_corpus(spark):
    rows = gen_repo_rows(100)
    full = extract_pipeline(spark.createDataFrame(rows), "fused")
    a = extract_pipeline(spark.createDataFrame(rows[:60]), "fused")
    b = extract_pipeline(spark.createDataFrame(rows[60:]), "fused")
    # shared canonicalization dim so ids agree across batches (incremental
    # runs resolve against the accumulated entity dim)
    can = canonical_entities(full).localCheckpoint(eager=True)
    return can, full, a, b


def _edges(can, triples):
    return build_edges(attach_canonical_ids(triples, can))


def _nodes(can, triples):
    linked = attach_canonical_ids(triples, can)
    return build_nodes(can).join(
        mention_counts(linked), on="canonical_id", how="inner"
    )


def test_merge_edges_equals_full(spark, split_corpus):
    can, full, a, b = split_corpus
    merged = merge_edges(_edges(can, a), _edges(can, b))
    want = {
        (r.src, r.dst, r.pred, r.weight)
        for r in _edges(can, full).collect()
    }
    got = {(r.src, r.dst, r.pred, r.weight) for r in merged.collect()}
    assert got == want


def test_merge_nodes_counts_add(spark, split_corpus):
    can, full, a, b = split_corpus
    merged = merge_nodes(_nodes(can, a), _nodes(can, b))
    want = {
        (r.canonical_id, r.mention_count) for r in _nodes(can, full).collect()
    }
    got = {(r.canonical_id, r.mention_count) for r in merged.collect()}
    assert got == want


def test_merge_idempotent_on_empty_delta(spark, split_corpus):
    can, full, _a, _b = split_corpus
    e = _edges(can, full)
    empty = e.limit(0)
    again = merge_edges(e, empty)
    assert sorted(map(lambda r: (r.src, r.dst, r.pred, r.weight), again.collect())) == sorted(
        map(lambda r: (r.src, r.dst, r.pred, r.weight), e.collect())
    )

def test_incremental_with_dim_evolution_equals_full(spark):
    """merge_graph (entity-dim evolution, ADVICE r1): materialize batch A
    standalone, fold batch B in — nodes/edges must equal the one-shot
    materialization of A ∪ B, including surfaces only seen in B (the old
    inner-join path silently dropped them) and clusters whose canonical id
    moves when A- and B-entities merge."""
    from kgforge.graph.materialize import materialize_graph
    from kgforge.graph.merge import merge_graph, update_canonical

    rows = gen_repo_rows(100)
    full = extract_pipeline(spark.createDataFrame(rows), "fused").localCheckpoint(eager=True)
    a = extract_pipeline(spark.createDataFrame(rows[:60]), "fused").localCheckpoint(eager=True)
    b = extract_pipeline(spark.createDataFrame(rows[60:]), "fused").localCheckpoint(eager=True)

    # batch A standalone (its own canonical dim, NOT the full corpus's)
    nodes_a, edges_a, can_a = merge_graph(None, None, None, a)
    nodes_a, edges_a, can_a = (
        nodes_a.localCheckpoint(eager=True),
        edges_a.localCheckpoint(eager=True),
        can_a.localCheckpoint(eager=True),
    )
    # sanity: B contains surfaces unknown to A's dim
    new_surf = update_canonical(can_a, b)[0].join(
        can_a.select("surface", "ent_type"), on=["surface", "ent_type"], how="left_anti"
    )
    assert new_surf.count() > 0

    nodes_i, edges_i, _ = merge_graph(nodes_a, edges_a, can_a, b)

    nodes_f, edges_f = materialize_graph(full)
    key_n = lambda r: (r.canonical_id, r.ent_type, tuple(r.surface_forms), r.mention_count)
    assert sorted(map(key_n, nodes_i.collect())) == sorted(map(key_n, nodes_f.collect()))
    key_e = lambda r: (r.src, r.dst, r.pred, r.weight)
    assert sorted(map(key_e, edges_i.collect())) == sorted(map(key_e, edges_f.collect()))


def test_merge_graph_empty_delta_is_identity(spark):
    """An empty micro-batch (e.g. a trigger with no new files) must leave
    nodes/edges/canonical exactly unchanged."""
    from kgforge.graph.merge import merge_graph

    rows = gen_repo_rows(40)
    t = extract_pipeline(spark.createDataFrame(rows), "fused").localCheckpoint(eager=True)
    nodes, edges, can = merge_graph(None, None, None, t)
    nodes, edges, can = (
        nodes.localCheckpoint(eager=True),
        edges.localCheckpoint(eager=True),
        can.localCheckpoint(eager=True),
    )
    n2, e2, c2 = merge_graph(nodes, edges, can, t.limit(0))
    key_n = lambda r: (r.canonical_id, r.ent_type, tuple(r.surface_forms), r.mention_count)  # noqa: E731
    assert sorted(map(key_n, n2.collect())) == sorted(map(key_n, nodes.collect()))
    key_e = lambda r: (r.src, r.dst, r.pred, r.weight)  # noqa: E731
    assert sorted(map(key_e, e2.collect())) == sorted(map(key_e, edges.collect()))
    key_c = lambda r: (r.entity_id, r.surface, r.ent_type, r.canonical_id)  # noqa: E731
    assert sorted(map(key_c, c2.collect())) == sorted(map(key_c, can.collect()))


def test_update_canonical_never_splits_clusters(spark):
    """An existing cluster whose members would NOT be re-linked by LSH on
    the accumulated dim (e.g. its band bucket later overflows MAX_BUCKET)
    must stay one cluster: update_canonical contracts every existing
    cluster to its root before CC, so each member's new id is its root's
    label and the relabel map stays functional on old_canonical_id."""
    from pyspark.sql import functions as F

    from kgforge.graph.merge import update_canonical
    from kgforge.link.canonical import entity_vertices

    schema = (
        "subj string, subj_type string, pred string, obj string, obj_type string"
    )
    # the two surfaces share no token shingles -> LSH alone never links them
    t0 = spark.createDataFrame(
        [("alpha net", "Method", "USED-FOR", "zq system", "Task")], schema
    )
    verts = entity_vertices(t0)
    root = verts.agg(F.min("entity_id")).collect()[0][0]
    existing = verts.withColumn("canonical_id", F.lit(root))

    delta = spark.createDataFrame(
        [("alpha net", "Method", "COMPARE", "beta curve", "Method")], schema
    )
    canonical, relabel = update_canonical(existing, delta)
    # relabel is functional: no old id maps to two new ids
    assert (
        relabel.groupBy("old_canonical_id")
        .agg(F.countDistinct("new_canonical_id").alias("n"))
        .filter(F.col("n") > 1)
        .count()
        == 0
    )
    # the prior cluster is still ONE cluster in the evolved dim
    n_ids = (
        canonical.filter(F.col("surface").isin("alpha net", "zq system"))
        .select("canonical_id")
        .distinct()
        .count()
    )
    assert n_ids == 1


def test_update_canonical_incremental_equals_full(spark):
    """Incremental re-linking (delta-neighborhood LSH + sub-CC) is EXACT:
    chained over random batches it produces the same canonical dim as the
    one-shot link over the union."""
    from kgforge.extract.pipeline import extract_pipeline
    from kgforge.fixtures import gen_repo_rows
    from kgforge.graph.merge import update_canonical

    rows = gen_repo_rows(90)
    batches = [rows[:30], rows[30:60], rows[60:]]

    def triples(rs):
        return extract_pipeline(
            spark.createDataFrame(rs), "fused"
        ).localCheckpoint(eager=True)

    can_inc = None
    for rs in batches:
        can_inc, _ = update_canonical(can_inc, triples(rs))
        can_inc = can_inc.localCheckpoint(eager=True)

    one_shot, _ = update_canonical(None, triples(rows))
    key = lambda r: (r.surface, r.ent_type, r.canonical_id)  # noqa: E731
    inc = sorted(map(key, can_inc.collect()))
    assert inc == sorted(map(key, one_shot.collect()))


def _triples(spark, rows, first=0):
    from kgforge.extract.rel import TRIPLES_SCHEMA

    return spark.createDataFrame(
        [("r", f"p{i}", "c", i, s, "USED-FOR", o, "Method", "Task", 1.0, "h")
         for i, (s, o) in enumerate(rows, start=first)],
        TRIPLES_SCHEMA,
    )



def test_merge_graph_single_hub_surface_equals_one_shot(spark):
    """A delta whose every triple has the same subject surface, folded
    into a dim with multi-member clusters, equals the one-shot build over
    the union.  The delta also bridges two existing Task clusters, so an
    old id moves and the relabel map is non-empty and functional."""
    from kgforge.graph.merge import merge_graph, update_canonical

    base = _triples(spark, [
        ("anchor model", "quartz sampler"),
        ("anchor model system", "quartz sampler task"),
        ("prism index", "dense net"),
        ("prism index", "graph net"),
    ]).localCheckpoint(eager=True)
    hub = "anchor model"
    objects = ["dense graph net", "quartz sampler", "graph net", "zeta map",
               "zeta map atlas", "quartz sampler task", "dense net"]
    delta = _triples(
        spark, [(hub, o) for o in objects * 3], first=100
    ).localCheckpoint(eager=True)

    nodes, edges, can = (
        df.localCheckpoint(eager=True) for df in merge_graph(None, None, None, base)
    )
    sizes = [r["count"] for r in can.groupBy("canonical_id").count().collect()]
    assert sum(1 for n in sizes if n > 1) == 2  # the anchor and quartz clusters

    _, relabel = update_canonical(can, delta)
    assert relabel.count() >= 1
    assert relabel.groupBy("old_canonical_id").agg(
        F.countDistinct("new_canonical_id").alias("n")
    ).filter(F.col("n") > 1).count() == 0

    inc = merge_graph(nodes, edges, can, delta)
    full = merge_graph(None, None, None, base.unionByName(delta))
    key_n = lambda r: (r.canonical_id, r.ent_type, tuple(r.surface_forms), r.mention_count)  # noqa: E731
    key_e = lambda r: (r.src, r.dst, r.pred, r.weight)  # noqa: E731
    key_c = lambda r: (r.surface, r.ent_type, r.canonical_id)  # noqa: E731
    for key, got, want in zip((key_n, key_e, key_c), inc, full):
        assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_update_canonical_fails_loudly_on_one_to_many_relabel(spark, monkeypatch):
    """If CC ever returned two labels for one old root, migrating history
    through the relabel map would fan rows out: update_canonical raises
    instead."""
    import kgforge.link.cc as cc
    from kgforge.graph.merge import merge_graph, update_canonical

    _, _, can = merge_graph(None, None, None, _triples(spark, [
        ("anchor model", "prism index"), ("quartz sampler", "prism index"),
    ]))
    can = can.localCheckpoint(eager=True)

    def two_labels(vertices, edges, vertex_col="entity_id"):
        return vertices.select(vertex_col).distinct().crossJoin(
            spark.range(-2, 0).select(F.col("id").alias("canonical_id"))
        )

    monkeypatch.setattr(cc, "connected_components", two_labels)
    with pytest.raises(RuntimeError, match="one-to-many"):
        update_canonical(can, _triples(spark, [("anchor model system", "prism index")]))


@pytest.fixture(scope="module")
def two_triple_graph(spark):
    from kgforge.graph.merge import merge_graph

    out = merge_graph(None, None, None, _triples(spark, [
        ("anchor model", "prism index"), ("quartz sampler", "prism index"),
    ]))
    return tuple(df.localCheckpoint(eager=True) for df in out)


@pytest.mark.parametrize("bad", [None, "", "!!!"])
def test_merge_graph_rejects_null_or_empty_surface(spark, two_triple_graph, bad):
    """A delta surface that is null or normalizes to "" fails the epoch
    instead of vanishing from the attach join (null) or merging with
    every other punctuation-only surface into one "" node."""
    from kgforge.graph.merge import merge_graph

    nodes, edges, can = two_triple_graph
    with pytest.raises(Exception, match="null or empty surface"):
        merge_graph(nodes, edges, can, _triples(spark, [(bad, "prism index")]))
