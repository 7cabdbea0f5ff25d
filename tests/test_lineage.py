"""Checkpoint/lineage contract: per-partition metrics, resume-from-failure
(SURVEY.md §7.6; north rule)."""

import pathlib

import pytest

from kgforge.fixtures import gen_repo_rows
from kgforge.lineage import run_kg_pipeline


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kgwork"))


@pytest.fixture(scope="module")
def first_run(spark, workdir):
    rows = gen_repo_rows(80)
    repos = spark.createDataFrame(rows)
    out = run_kg_pipeline(spark, repos, workdir)
    return rows, repos, out


def test_all_stages_complete(first_run, workdir):
    for stage in ("triples", "canonical", "linked", "nodes", "edges"):
        assert (pathlib.Path(workdir) / stage / "_COMPLETE").exists()


def test_lineage_rows_recorded(first_run):
    _, _, out = first_run
    lin = out["runner"].lineage()
    stages = {r.stage for r in lin.collect()}
    assert stages == {"triples", "canonical", "linked", "nodes", "edges"}
    by_stage = {
        r.stage: r.total
        for r in lin.groupBy("stage").agg({"rows_out": "sum"})
        .withColumnRenamed("sum(rows_out)", "total").collect()
    }
    assert by_stage["triples"] == out["triples"].count()
    assert by_stage["nodes"] == out["nodes"].count()


def test_build_equals_epoch0_merge(first_run):
    """One graph build: the stages make the epoch-0 merge's calls, so
    their nodes and edges equal merge_graph(None, None, None, triples) on
    every column, provenance included."""
    from kgforge.graph.merge import merge_graph

    _, _, out = first_run
    nodes, edges, _ = merge_graph(None, None, None, out["triples"])
    for got, want in ((out["nodes"], nodes), (out["edges"], edges)):
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        assert want.count() > 0


def test_resume_skips_completed_stages(spark, first_run, workdir, monkeypatch):
    rows, repos, out = first_run
    import kgforge.lineage as L

    def boom(*a, **k):
        raise AssertionError("extract recomputed despite checkpoint")

    monkeypatch.setattr("kgforge.extract.pipeline.extract_pipeline", boom)
    out2 = run_kg_pipeline(spark, repos, workdir)
    assert out2["triples"].count() == out["triples"].count()


def test_crash_mid_stage_recomputes_only_that_stage(spark, first_run, workdir):
    rows, repos, out = first_run
    before = sorted(
        tuple(r) for r in out["edges"].select("src", "dst", "pred", "weight").collect()
    )
    (pathlib.Path(workdir) / "edges" / "_COMPLETE").unlink()
    out2 = run_kg_pipeline(spark, repos, workdir)
    after = sorted(
        tuple(r) for r in out2["edges"].select("src", "dst", "pred", "weight").collect()
    )
    assert before == after


def test_resume_rejects_config_change(spark, tmp_path):
    """Same workdir + different parameters must RERUN, not return the old
    run's checkpoint relabeled (ADVICE r1: config hash in _COMPLETE)."""
    from kgforge.lineage import StageRunner

    wd = str(tmp_path / "wd")
    calls = []

    def build(tag):
        def f():
            calls.append(tag)
            return spark.createDataFrame([(tag,)], "tag string")
        return f

    r1 = StageRunner(spark, wd, run_id="r1", config={"model": "a"})
    out1 = r1.run("s", build("a"))
    assert [r.tag for r in out1.collect()] == ["a"] and calls == ["a"]

    # same config, new run_id: resumes (no rebuild)
    r2 = StageRunner(spark, wd, run_id="r2", config={"model": "a"})
    assert [r.tag for r in r2.run("s", build("a2")).collect()] == ["a"]
    assert calls == ["a"]

    # different config: reruns
    r3 = StageRunner(spark, wd, run_id="r3", config={"model": "b"})
    assert [r.tag for r in r3.run("s", build("b")).collect()] == ["b"]
    assert calls == ["a", "b"]


def test_crash_mid_write_reruns_stage(spark, tmp_path):
    """The _COMPLETE marker is written AFTER the data: a simulated crash
    (data present, marker absent) must rebuild, not resume the torn
    stage."""
    from kgforge.lineage import StageRunner

    wd = str(tmp_path / "wd")
    r = StageRunner(spark, wd, config={"m": 1})
    calls = []

    def build(tag):
        def f():
            calls.append(tag)
            return spark.createDataFrame([(tag,)], "tag string")
        return f

    r.run("s", build("v1"))
    # simulate a crash that left data but no marker
    import os

    os.remove(os.path.join(wd, "s", "_COMPLETE"))
    out = r.run("s", build("v2"))
    assert calls == ["v1", "v2"]
    assert [x.tag for x in out.collect()] == ["v2"]


def test_marker_rows_equal_manifest(spark, first_run, workdir):
    """Each stage's _COMPLETE marker records the rows its write observed:
    it equals the manifest's sum(rows_out) for every stage, on the fresh
    run and on a resumed run that reruns one stage and reads the others'
    counts back from their markers."""
    from pyspark.sql import functions as F

    stages = ("triples", "canonical", "linked", "nodes", "edges")
    _, repos, out = first_run

    def check(runner):
        manifest = {
            r.stage: r.n
            for r in runner.lineage().groupBy("stage").agg(F.sum("rows_out").alias("n")).collect()
        }
        assert {s: runner.rows(s) for s in stages} == manifest
        assert all(n > 0 for n in manifest.values())

    check(out["runner"])
    (pathlib.Path(workdir) / "linked" / "_COMPLETE").unlink()
    check(run_kg_pipeline(spark, repos, workdir)["runner"])
