"""jobs/kg_job.py end-to-end in-process (the spark-submit deliverable):
full checkpointed pipeline, repaired-partition outputs, JSON summary."""

import json
import sys


def test_kg_job_main(spark, tmp_path, capsys, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.kg_job import main
    from kgforge.fixtures import gen_repo_rows

    inp = tmp_path / "in"
    inp.mkdir()
    pq.write_table(
        pa.Table.from_pylist(gen_repo_rows(40)), str(inp / "part-0.parquet")
    )
    args = [
        "kg_job.py",
        "--input", str(inp),
        "--workdir", str(tmp_path / "wd"),
        "--output", str(tmp_path / "out"),
        "--strategy", "relational",
        "--cross-ner",
        "--run-id", "t1",
    ]
    monkeypatch.setattr(sys, "argv", args)
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.stop", lambda self: None
    )  # keep the shared test session alive
    main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["run_id"] == "t1"
    assert summary["triples"] > 0 and summary["nodes"] > 0 and summary["edges"] > 0
    # outputs exist and are readable
    for name in ("triples", "nodes", "edges"):
        assert spark.read.parquet(str(tmp_path / "out" / name)).count() > 0
    _assert_summary_counts(spark, summary, tmp_path / "out")
    # resume: second invocation reuses every stage (config hash matches)
    monkeypatch.setattr(sys, "argv", [a if a != "t1" else "t2" for a in args])
    main()
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["triples"] == summary["triples"]
    _assert_summary_counts(spark, summary2, tmp_path / "out")


def _assert_summary_counts(spark, summary, out):
    """The summary's counts, observed by the writes, equal the written
    tables' row counts."""
    for name in ("triples", "nodes", "edges"):
        assert summary[name] == spark.read.parquet(str(out / name)).count(), name


def test_kg_job_combined_ctx_cross(spark, tmp_path, capsys, monkeypatch):
    """The spark-submit job accepts --context-window and --cross-ner
    TOGETHER (the reference's default-ish config; round 2 hard-errored
    on the combination) and produces a full graph."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.kg_job import main
    from kgforge.fixtures import gen_repo_rows

    inp = tmp_path / "in"
    inp.mkdir()
    pq.write_table(
        pa.Table.from_pylist(gen_repo_rows(40)), str(inp / "part-0.parquet")
    )
    monkeypatch.setattr(sys, "argv", [
        "kg_job.py",
        "--input", str(inp),
        "--workdir", str(tmp_path / "wd"),
        "--output", str(tmp_path / "out"),
        "--strategy", "relational",
        "--cross-ner",
        "--context-window", "1",
        "--run-id", "cx1",
    ])
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["triples"] > 0 and summary["nodes"] > 0 and summary["edges"] > 0
