"""Checkpoint/lineage contract: per-partition metrics, resume-from-failure
(SURVEY.md §7.6; north rule)."""

import json
import pathlib

import pytest

from kgforge.fixtures import gen_repo_rows
from kgforge.lineage import run_kg_pipeline


STAGES = ("triples", "canonical", "linked", "nodes", "edges")


def _jobs(spark, group, fn):
    """Spark jobs ``fn()`` runs, counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _marker(workdir, stage):
    return json.loads((pathlib.Path(workdir) / stage / "_COMPLETE").read_text())


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


def test_build_stage_job_budget(spark, tmp_path):
    """The five stages of a build on gen_repo_rows(1000) run 11 Spark
    jobs: each stage is its build's jobs plus one write (triples 1,
    canonical 3 + 1, linked, nodes and edges 2 each with their
    shuffle), and the manifest adds none: no re-read, no lineage table,
    no schema inference.  The parent's bookkeeping made it 31."""
    repos = spark.createDataFrame(gen_repo_rows(1000))
    wd = tmp_path / "wd"
    assert _jobs(spark, "kg-build-jobs", lambda: run_kg_pipeline(spark, repos, str(wd))) == 11
    assert not list(wd.glob("*/lineage"))


def test_resume_runs_no_job(spark, first_run, workdir):
    """A resumed build reads every stage back with its marker's schema:
    no schema-inference job, no job at all."""
    _, repos, _ = first_run
    assert _jobs(spark, "kg-resume-jobs", lambda: run_kg_pipeline(spark, repos, workdir)) == 0


def test_stage_schema_equals_inferred(spark, first_run, workdir):
    """Each stage frame, fresh and resumed, has exactly the schema that
    inference over its data gives, nested nullability included."""
    _, repos, out = first_run
    resumed = run_kg_pipeline(spark, repos, workdir)
    for stage in STAGES:
        inferred = spark.read.parquet(str(pathlib.Path(workdir) / stage / "data")).schema
        assert out[stage].schema == inferred == resumed[stage].schema, stage


def test_marker_partitions_sum_to_rows(spark, first_run, workdir):
    """Per stage, the marker's per-file rows add up to its observed rows
    and to a count of the data; partition ids are the write tasks'."""
    for stage in STAGES:
        meta = _marker(workdir, stage)
        parts = meta["partitions"]
        n = spark.read.parquet(str(pathlib.Path(workdir) / stage / "data")).count()
        assert sum(p["rows_out"] for p in parts) == meta["rows"] == n > 0, stage
        assert all(p["partition_id"] >= 0 for p in parts), stage


def test_marker_content_sha_agg(spark, first_run, workdir):
    """The marker of each stage with a content_sha column holds
    sum(crc32(content_sha)) over its rows, observed in the write."""
    from pyspark.sql import functions as F

    with_sha = [s for s in STAGES if "content_sha" in first_run[2][s].columns]
    assert "triples" in with_sha
    for stage in STAGES:
        data = spark.read.parquet(str(pathlib.Path(workdir) / stage / "data"))
        if stage in with_sha:
            want = data.agg(F.sum(F.crc32("content_sha"))).first()[0]
            assert _marker(workdir, stage)["content_sha_agg"] == want > 0, stage
        else:
            assert "content_sha_agg" not in _marker(workdir, stage), stage


def test_marker_without_manifest_reruns_once(spark, tmp_path):
    """A marker written before the manifest fields (no ``schema``, no
    ``partitions``) reruns its stage once; the rewritten marker then
    resumes."""
    from kgforge.lineage import StageRunner

    wd = tmp_path / "wd"
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(len(calls),)], "n int")

    r = StageRunner(spark, str(wd), config={"m": 1})
    r.run("s", build)
    marker = wd / "s" / "_COMPLETE"
    old = {k: v for k, v in json.loads(marker.read_text()).items()
           if k not in ("schema", "partitions")}
    marker.write_text(json.dumps(old))
    assert [x.n for x in r.run("s", build).collect()] == [2]
    assert [x.n for x in r.run("s", build).collect()] == [2]
    assert len(calls) == 2
