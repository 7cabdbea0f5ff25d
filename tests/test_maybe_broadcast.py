"""Size-gated broadcast (kgforge/functions/joins.maybe_broadcast).

The gate must (a) hint under the threshold, (b) emit NO hint above it
so the planner falls back to a shuffle join, and (c) leave results
identical either way.  The hint is asserted on the
OPTIMIZED LOGICAL plan (where a broadcast hint survives as
``strategy=broadcast`` on the join) — independent of runtime
autoBroadcastJoinThreshold / AQE decisions.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _joined(spark, dim_wrapper):
    big = spark.range(1000).withColumnRenamed("id", "k")
    dim = spark.range(10).withColumnRenamed("id", "k")
    return big.join(dim_wrapper(dim), on="k")


def test_hint_present_under_gate(spark, monkeypatch):
    import kgforge.functions.joins as joins

    monkeypatch.setattr(joins, "BROADCAST_DIM_MAX_ROWS", 100)
    plan = _optimized(_joined(spark, joins.maybe_broadcast))
    assert "broadcast" in plan.lower()


def test_hint_absent_over_gate(spark, monkeypatch):
    import kgforge.functions.joins as joins

    monkeypatch.setattr(joins, "BROADCAST_DIM_MAX_ROWS", 5)
    plan = _optimized(_joined(spark, joins.maybe_broadcast))
    assert "broadcast" not in plan.lower()


def test_precounted_rows_skip_the_count(spark):
    """n_rows is trusted verbatim — callers pass a count already taken
    off a checkpointed 1:1 precursor (e.g. the degree table under a
    rank dim)."""
    from kgforge.functions.joins import maybe_broadcast

    over = _optimized(
        _joined(spark, lambda d: maybe_broadcast(d, n_rows=10**9))
    )
    under = _optimized(_joined(spark, lambda d: maybe_broadcast(d, n_rows=1)))
    assert "broadcast" not in over.lower()
    assert "broadcast" in under.lower()


def test_module_gate_is_monkeypatchable(spark, monkeypatch):
    """maybe_broadcast reads the module constant at CALL time, so a
    deployment (or this test) can turn the gate without touching call
    sites."""
    import kgforge.functions.joins as joins

    monkeypatch.setattr(joins, "BROADCAST_DIM_MAX_ROWS", 0)
    plan = _optimized(_joined(spark, joins.maybe_broadcast))
    assert "broadcast" not in plan.lower()


def test_link_against_graph_gate_and_dedupe(spark, monkeypatch):
    """predict_job.link_against_graph: (a) the surface dim drops its
    broadcast hint when it exceeds the gate; (b) a surface appearing
    under two canonical ids of the same type (cross-epoch merge
    leftovers) links each triple exactly ONCE, to the dominant
    (highest mention_count) id — no left-join fan-out (r5 ADVICE)."""
    import kgforge.functions.joins as joins
    from jobs.predict_job import link_against_graph

    nodes = spark.createDataFrame(
        [
            (10, "Tool", ["spark", "apache spark"], 7),
            (11, "Tool", ["spark"], 2),  # stale duplicate assignment
            (20, "Lang", ["python"], 5),
        ],
        "canonical_id bigint, ent_type string, "
        "surface_forms array<string>, mention_count bigint",
    )
    triples = spark.createDataFrame(
        [
            ("r", "p", 1, "spark", "Tool", "uses", "python", "Lang"),
            ("r", "p", 2, "flink", "Tool", "uses", "python", "Lang"),
        ],
        "repo string, path string, unit_id bigint, subj string, "
        "subj_type string, pred string, obj string, obj_type string",
    )

    linked = link_against_graph(triples, nodes)
    rows = {r.subj: r for r in linked.collect()}
    assert linked.count() == 2  # no fan-out despite the duplicate dim row
    assert rows["spark"].src == 10  # dominant assignment wins
    assert rows["spark"].dst == 20
    assert rows["flink"].src is None  # novel entity survives, unlinked
    assert "broadcast" in _optimized(linked).lower()

    monkeypatch.setattr(joins, "BROADCAST_DIM_MAX_ROWS", 0)
    ungated = link_against_graph(triples, nodes)
    assert "broadcast" not in _optimized(ungated).lower()
    assert ungated.count() == 2


def test_graph_query_results_identical_above_gate(spark, monkeypatch):
    """kg_cc_components returns the same components whether the CC
    loop's dims broadcast or shuffle (gate forced to 0)."""
    import kgforge.functions.joins as joins
    from kgforge.queries import QUERIES

    q = QUERIES["kg_cc_components"]
    hinted = sorted(map(tuple, q(spark, SF).collect()))
    monkeypatch.setattr(joins, "BROADCAST_DIM_MAX_ROWS", 0)
    shuffled = sorted(map(tuple, q(spark, SF).collect()))
    assert hinted == shuffled
    assert hinted


def test_broadcast_size_gate(spark, monkeypatch):
    """attach_canonical_ids: forced-shuffle path (module gate patched to 0,
    read at call time) must produce exactly the broadcast path's rows."""
    from kgforge.functions import joins
    from kgforge.graph.materialize import attach_canonical_ids, canonical_entities

    rows = [
        ("r", "p", i, s, "Method", "USED-FOR", o, "Task")
        for i, (s, o) in enumerate(
            [("anchor model", "prism index"), ("anchor model", "quartz sampler"),
             ("prism index", "quartz sampler")]
        )
    ]
    t = spark.createDataFrame(
        rows,
        "repo string, path string, unit_id long, subj string, subj_type string,"
        " pred string, obj string, obj_type string",
    )
    can = canonical_entities(t).localCheckpoint(eager=True)
    via_bcast = attach_canonical_ids(t, can)  # dim far below default gate
    monkeypatch.setattr(joins, "BROADCAST_DIM_MAX_ROWS", 0)
    via_shuffle = attach_canonical_ids(t, can)
    key = lambda r: (r.repo, r.path, r.unit_id, r.subj, r.obj, r.src, r.dst)
    assert sorted(map(key, via_bcast.collect())) == sorted(
        map(key, via_shuffle.collect())
    )
    # the gate changes the PLANNED join strategy (pre-AQE sparkPlan): with
    # the hint -> broadcast; without -> shuffle join, and only runtime AQE
    # stats may re-promote it (which is exactly the at-scale contract)
    bp = via_bcast._jdf.queryExecution().sparkPlan().toString()
    sp = via_shuffle._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in bp
    assert "BroadcastHashJoin" not in sp


def test_lsh_delta_broadcasts_are_size_gated(spark, monkeypatch):
    """link/canonical.lsh_candidate_pairs_delta: the hot bucket keys are
    a data-dependent dim (N_BANDS rows per new vertex), so they broadcast
    only through maybe_broadcast, sized by the caller's row count.  With
    the module gate at 0 the pre-AQE sparkPlan has no BroadcastHashJoin
    (the planner's own size-based broadcast is off here, so only a hint
    could add one); under the gate the hot-key join broadcasts."""
    from pyspark.sql import functions as F

    from kgforge.functions import joins
    from kgforge.link.canonical import (
        entity_vertices,
        lsh_candidate_pairs_delta,
        minhash_signature,
    )

    t = spark.createDataFrame(
        [("anchor model", "Method", "prism index", "Task"),
         ("anchor model system", "Method", "quartz sampler", "Task")],
        "subj string, subj_type string, obj string, obj_type string",
    )
    verts = minhash_signature(entity_vertices(t)).withColumn(
        "is_new", F.col("surface").startswith("anchor")
    ).localCheckpoint(eager=True)

    def plan():
        pairs = lsh_candidate_pairs_delta(verts, 2)
        return pairs._jdf.queryExecution().sparkPlan().toString()

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        monkeypatch.setattr(joins, "BROADCAST_DIM_MAX_ROWS", 0)
        assert "BroadcastHashJoin" not in plan()
        monkeypatch.setattr(joins, "BROADCAST_DIM_MAX_ROWS", 100)
        assert "BroadcastHashJoin" in plan()
    finally:
        spark.conf.set(key, saved)
