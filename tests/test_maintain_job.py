"""jobs/maintain_job.py end-to-end in-process: graph-snapshot retention
behind one cron-able CLI, with the JSON summary a fleet scheduler would
alert on."""

import json
import os
import sys


def _graph_state(tmp_path, epochs):
    state = tmp_path / "gstate"
    for n in epochs:
        d = state / f"epoch={n}"
        os.makedirs(d)
        open(d / "_COMPLETE", "w").close()
    return state


def test_maintain_job_compacts_and_prunes(tmp_path, capsys, monkeypatch):
    from jobs.maintain_job import main

    gstate = _graph_state(tmp_path, (0, 1, 2, 9, 10, 11))

    monkeypatch.setattr(sys, "argv", [
        "maintain_job.py",
        "--graph-state", str(gstate),
        "--keep-last", "2",
    ])

    def no_spark(self):
        raise AssertionError("maintain_job must not start a SparkSession")

    monkeypatch.setattr("pyspark.sql.SparkSession.Builder.getOrCreate", no_spark)
    main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert summary["graph"]["pruned_epochs"] == [0, 1, 2, 9]
    assert sorted(os.listdir(gstate)) == ["epoch=10", "epoch=11"]


def test_maintain_job_idempotent_noop(tmp_path, capsys, monkeypatch):
    """Second run over already-pruned state: success (exit 0 path) with
    nothing pruned — 'already compact' must not fail a cron job."""
    from jobs.maintain_job import main

    gstate = _graph_state(tmp_path, (0, 1, 2))

    monkeypatch.setattr(
        sys, "argv", ["maintain_job.py", "--graph-state", str(gstate)]
    )
    for want_pruned in ([0], []):
        main()
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["graph"]["pruned_epochs"] == want_pruned
    assert sorted(os.listdir(gstate)) == ["epoch=1", "epoch=2"]
