"""Skew-salting correctness: the two-phase salted aggregation must be
exactly equivalent to the unsalted aggregate, for any salt width."""

import pytest
from pyspark.sql import functions as F

from kgforge.extract.pipeline import extract_pipeline
from kgforge.fixtures import gen_repo_rows
from kgforge.graph.materialize import attach_canonical_ids, build_edges, canonical_entities
from kgforge.link.canonical import lsh_bucket_stats, entity_vertices


@pytest.fixture(scope="module")
def linked(spark):
    rows = gen_repo_rows(100)
    t = extract_pipeline(spark.createDataFrame(rows), "fused")
    can = canonical_entities(t)
    return attach_canonical_ids(t, can).localCheckpoint(eager=True)


def test_salted_edges_invariant_to_salt_width(spark, linked):
    key = lambda r: (r.src, r.dst, r.pred, r.weight)  # noqa: E731
    base = {key(r) for r in build_edges(linked, salt=1).collect()}
    for s in (4, 16, 64):
        got = {key(r) for r in build_edges(linked, salt=s).collect()}
        assert got == base, f"salt={s} changed edge weights"


def test_salted_provenance_deterministic(spark, linked):
    a = {
        (r.src, r.dst, r.pred, tuple(map(tuple, r.provenance)))
        for r in build_edges(linked, salt=16).collect()
    }
    b = {
        (r.src, r.dst, r.pred, tuple(map(tuple, r.provenance)))
        for r in build_edges(linked, salt=16).collect()
    }
    assert a == b


@pytest.fixture(scope="module")
def hub(spark):
    """One hub (src, dst, pred) key in 2,000 rows, plus 400 cold rows."""
    rows = [
        (1, 2, "USED-FOR", "mega-repo", f"src/f{i % 50}.py", i)
        for i in range(2000)
    ] + [
        (10 + i % 40, 100 + i % 40, "PART-OF", f"repo_{i % 7}", "src/x.py", 10_000 + i)
        for i in range(400)
    ]
    return spark.createDataFrame(
        rows, "src long, dst long, pred string, repo string, path string, unit_id long"
    ).localCheckpoint(eager=True)


def _edge_keys(df):
    return {(r.src, r.dst, r.pred, r.weight, tuple(map(tuple, r.provenance)))
            for r in df.collect()}


def _salted_legs(df):
    return [
        build_edges(df, salt=16),                          # selective (default)
        build_edges(df, salt=16, hot_threshold_rows=0),    # salt everything
        build_edges(df, salt=1),                           # unsalted
    ]


def test_hot_key_detection_finds_the_hub(spark, hub):
    """detect_hot_edge_keys: a hub key above the threshold is found, cold
    keys are not; and build_edges output is identical whether detection
    runs, is disabled, or the whole agg is unsalted."""
    from kgforge.graph.materialize import detect_hot_edge_keys

    hot = detect_hot_edge_keys(hub, hot_threshold_rows=1000, hot_sample=1.0).collect()
    assert {(r.src, r.dst, r.pred) for r in hot} == {(1, 2, "USED-FOR")}

    outs = [_edge_keys(leg) for leg in _salted_legs(hub)]
    assert outs[0] == outs[1] == outs[2]


def test_small_input_skips_detection(spark, hub):
    """An input known to hold fewer rows than the hot threshold cannot
    hold a hot key: build_edges(n_rows=) aggregates once, with no sample
    for detection in its plan, and its output equals every salted leg's."""
    n_rows = hub.count()
    assert n_rows < 10_000  # build_edges' default hot_threshold_rows
    once = build_edges(hub, n_rows=n_rows)
    assert "Sample" not in once._jdf.queryExecution().optimizedPlan().toString()
    assert "Sample" in build_edges(hub)._jdf.queryExecution().optimizedPlan().toString()
    want = _edge_keys(once)
    assert all(_edge_keys(leg) == want for leg in _salted_legs(hub))


def test_lsh_bucket_stats_accounts_everything(spark, linked):
    """Every (vertex, band) row lands in exactly one counted bucket —
    dropped mega-buckets are visible, never silent."""
    from kgforge.link.canonical import N_BANDS

    verts = entity_vertices(linked.select("subj", "subj_type", "obj", "obj_type"))
    stats = lsh_bucket_stats(verts).collect()
    n_vertices = verts.count()
    total_band_rows = sum(r.bucket_size * r.n_buckets for r in stats)
    assert total_band_rows == n_vertices * N_BANDS
