"""Incremental merge == full recompute (the associativity contract)."""

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from kgforge.extract.pipeline import extract_pipeline
from kgforge.fixtures import gen_repo_rows
from kgforge.graph.materialize import (
    attach_canonical_ids,
    build_edges,
    canonical_entities,
)
from kgforge.graph.merge import merge_edges, merge_nodes


def _both_link_paths(monkeypatch):
    """Yield once per link path: the default gate (one ``mapInPandas``
    task), then the gate at 0 (LSH as Spark joins, then link/cc)."""
    import kgforge.link.canonical as canonical

    for gate in (canonical.LINK_TASK_MAX_ROWS, 0):
        monkeypatch.setattr(canonical, "LINK_TASK_MAX_ROWS", gate)
        yield gate


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
    """Nodes counted in plain Python over the collected linked triples, so
    the reference is not graph/materialize.build_nodes."""
    surfaces, counts = defaultdict(set), Counter()
    for r in attach_canonical_ids(triples, can).collect():
        for key, surface in (((r.src, r.subj_type), r.subj), ((r.dst, r.obj_type), r.obj)):
            surfaces[key].add(surface)
            counts[key] += 1
    return can.sparkSession.createDataFrame(
        [(cid, t, sorted(surfaces[(cid, t)]), n) for (cid, t), n in counts.items()],
        "canonical_id bigint, ent_type string, surface_forms array<string>,"
        " mention_count bigint",
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

def test_incremental_with_dim_evolution_equals_full(spark, monkeypatch):
    """merge_graph (entity-dim evolution, ADVICE r1): materialize batch A
    standalone, fold batch B in — nodes/edges must equal the one-shot
    materialization of A ∪ B, including surfaces only seen in B (the old
    inner-join path silently dropped them) and clusters whose canonical id
    moves when A- and B-entities merge.  Both link paths run the
    incremental side against one one-shot reference."""
    from kgforge.graph.materialize import materialize_graph
    from kgforge.graph.merge import merge_graph, update_canonical

    rows = gen_repo_rows(100)
    full = extract_pipeline(spark.createDataFrame(rows), "fused").localCheckpoint(eager=True)
    a = extract_pipeline(spark.createDataFrame(rows[:60]), "fused").localCheckpoint(eager=True)
    b = extract_pipeline(spark.createDataFrame(rows[60:]), "fused").localCheckpoint(eager=True)

    nodes_f, edges_f = materialize_graph(full)
    key_n = lambda r: (r.canonical_id, r.ent_type, tuple(r.surface_forms), r.mention_count)
    key_e = lambda r: (r.src, r.dst, r.pred, r.weight)
    want_n = sorted(map(key_n, nodes_f.collect()))
    want_e = sorted(map(key_e, edges_f.collect()))

    for _ in _both_link_paths(monkeypatch):
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

        assert sorted(map(key_n, nodes_i.collect())) == want_n
        assert sorted(map(key_e, edges_i.collect())) == want_e


def test_merge_graph_empty_delta_is_identity(spark, monkeypatch):
    """An empty micro-batch (e.g. a trigger with no new files) must leave
    nodes/edges/canonical exactly unchanged, on both link paths."""
    from kgforge.graph.merge import merge_graph

    rows = gen_repo_rows(40)
    t = extract_pipeline(spark.createDataFrame(rows), "fused").localCheckpoint(eager=True)
    for _ in _both_link_paths(monkeypatch):
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


def test_update_canonical_incremental_equals_full(spark, monkeypatch):
    """Incremental re-linking (delta-neighborhood LSH + sub-CC) is EXACT:
    chained over random batches it produces the same canonical dim as the
    one-shot link over the union, on both link paths."""
    from kgforge.extract.pipeline import extract_pipeline
    from kgforge.fixtures import gen_repo_rows
    from kgforge.graph.merge import update_canonical

    rows = gen_repo_rows(90)
    batches = [rows[:30], rows[30:60], rows[60:]]

    def triples(rs):
        return extract_pipeline(
            spark.createDataFrame(rs), "fused"
        ).localCheckpoint(eager=True)

    one_shot, _ = update_canonical(None, triples(rows))
    key = lambda r: (r.surface, r.ent_type, r.canonical_id)  # noqa: E731
    want = sorted(map(key, one_shot.collect()))
    deltas = [triples(rs) for rs in batches]

    for _ in _both_link_paths(monkeypatch):
        can_inc = None
        for delta in deltas:
            can_inc, _ = update_canonical(can_inc, delta)
            can_inc = can_inc.localCheckpoint(eager=True)
        inc = sorted(map(key, can_inc.collect()))
        assert inc == want


def _triples(spark, rows, first=0):
    from kgforge.extract.rel import TRIPLES_SCHEMA

    return spark.createDataFrame(
        [("r", f"p{i}", "c", i, s, "USED-FOR", o, "Method", "Task", 1.0, "h")
         for i, (s, o) in enumerate(rows, start=first)],
        TRIPLES_SCHEMA,
    )



def test_merge_graph_single_hub_surface_equals_one_shot(spark, monkeypatch):
    """A delta whose every triple has the same subject surface, folded
    into a dim with multi-member clusters, equals the one-shot build over
    the union, on both link paths.  The delta also bridges two existing
    Task clusters, so an old id moves and the relabel map is non-empty and
    functional."""
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

    key_n = lambda r: (r.canonical_id, r.ent_type, tuple(r.surface_forms), r.mention_count)  # noqa: E731
    key_e = lambda r: (r.src, r.dst, r.pred, r.weight)  # noqa: E731
    key_c = lambda r: (r.surface, r.ent_type, r.canonical_id)  # noqa: E731
    keys = (key_n, key_e, key_c)
    full = merge_graph(None, None, None, base.unionByName(delta))
    wants = [sorted(map(key, want.collect())) for key, want in zip(keys, full)]

    for _ in _both_link_paths(monkeypatch):
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
        for key, got, want in zip(keys, inc, wants):
            assert sorted(map(key, got.collect())) == want


def test_update_canonical_fails_loudly_on_one_to_many_relabel(spark, monkeypatch):
    """If CC ever returned two labels for one old root, migrating history
    through the relabel map would fan rows out: update_canonical raises
    instead.  The patched CC is the distributed path's, so the gate is 0
    (the one-task path's guard: test_link_task_fails_loudly_on_one_to_many_relabel)."""
    import kgforge.link.canonical as canonical
    import kgforge.link.cc as cc
    from kgforge.graph.merge import merge_graph, update_canonical

    monkeypatch.setattr(canonical, "LINK_TASK_MAX_ROWS", 0)

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


def test_link_task_fails_loudly_on_one_to_many_relabel(monkeypatch):
    """The one-task link, without Spark: a labels function that leaves an
    existing cluster's two members apart gives its root two new ids, and
    link_task raises instead of returning a one-to-many relabel map.  The
    real union-find keeps the cluster whole."""
    import numpy as np
    import pandas as pd

    import kgforge.link.canonical as canonical
    from kgforge.link.canonical import N_HASHES, link_task

    frame = pd.DataFrame({
        "surface": ["alpha net", "zq system", "beta curve"],
        "ent_type": ["Method", "Method", "Method"],
        "norm": ["alpha net", "zq system", "beta curve"],
        "entity_id": [5, 9, 7],
        "shingles": [np.array(s.split()) for s in ("alpha net", "zq system", "beta curve")],
        "sig": [np.arange(N_HASHES) + 100 * i for i in range(3)],
        "root": [5, 5, 7],
        "is_new": [False, False, True],
    })
    with monkeypatch.context() as m:
        m.setattr(canonical, "_min_labels", lambda src, dst, n: np.arange(n))
        with pytest.raises(RuntimeError, match="one-to-many"):
            link_task(frame)

    out = link_task(frame)
    got = dict(zip(out.loc[out.is_vertex, "entity_id"], out.loc[out.is_vertex, "canonical_id"]))
    assert got == {5: 5, 9: 5, 7: 7}
    assert not (~out.is_vertex).any()  # no old root moved


def _update_canonical_jobs(spark, can, delta):
    """Spark jobs one update_canonical call runs."""
    from kgforge.graph.merge import update_canonical

    sc = spark.sparkContext
    group = f"update-canonical-jobs-{delta.count()}"
    sc.setJobGroup(group, group)
    try:
        update_canonical(can, delta)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_update_canonical_one_task_job_count_independent_of_delta_size(spark):
    """Below the gate update_canonical runs a fixed number of Spark jobs:
    a 300-triple delta with near-duplicates of the dim's clusters runs as
    many as a 1-triple delta."""
    from kgforge.graph.merge import merge_graph

    _, _, can = merge_graph(None, None, None, _triples(spark, [
        ("anchor model", "prism index"), ("quartz sampler", "prism index"),
    ]))
    can = can.localCheckpoint(eager=True)
    one = _triples(spark, [("anchor model system", "prism index")], first=10)
    many = _triples(spark, [
        (f"anchor model v{i % 40}", f"prism index {i % 70}") for i in range(300)
    ], first=10).localCheckpoint(eager=True)
    assert _update_canonical_jobs(spark, can, one) == _update_canonical_jobs(spark, can, many)


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
