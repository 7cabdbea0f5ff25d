"""Streaming == batch for incremental graph maintenance; epoch markers
make replays and stale _LATEST files safe."""

import json
import pathlib

from kgforge.extract.pipeline import extract_pipeline
from kgforge.fixtures import gen_repo_rows


def _write_json_files(rows, d: pathlib.Path, per_file: int = 20, prefix: str = "batch"):
    d.mkdir(parents=True, exist_ok=True)
    for i in range(0, len(rows), per_file):
        with open(d / f"{prefix}-{i:05d}.json", "w") as f:
            for r in rows[i : i + per_file]:
                f.write(json.dumps(r) + "\n")


def test_incremental_graph_stream_equals_batch(spark, tmp_path):
    """Streamed per-micro-batch graph maintenance (dim evolution + merge)
    converges to the one-shot materialization of the full corpus, and a
    second drain with no new input changes nothing (replay-safe)."""
    from kgforge.graph.materialize import materialize_graph
    from kgforge.streaming import read_graph_state, run_incremental_graph

    rows = gen_repo_rows(50)
    inp = tmp_path / "in"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _write_json_files(rows, inp, per_file=25)  # 2 files -> 2 micro-batches

    run_incremental_graph(spark, str(inp), state, ckpt)
    nodes_s, edges_s, _ = read_graph_state(spark, state)

    full = extract_pipeline(spark.createDataFrame(rows), "fused")
    nodes_f, edges_f = materialize_graph(full)

    key_e = lambda r: (r.src, r.dst, r.pred, r.weight)  # noqa: E731
    assert sorted(map(key_e, edges_s.collect())) == sorted(
        map(key_e, edges_f.collect())
    )
    key_n = lambda r: (  # noqa: E731
        r.canonical_id, r.ent_type, tuple(r.surface_forms), r.mention_count
    )
    assert sorted(map(key_n, nodes_s.collect())) == sorted(
        map(key_n, nodes_f.collect())
    )

    # drain again with no new files: state unchanged
    import os

    latest_before = open(os.path.join(state, "_LATEST")).read()
    run_incremental_graph(spark, str(inp), state, ckpt)
    assert open(os.path.join(state, "_LATEST")).read() == latest_before


def test_incremental_graph_survives_stale_latest(spark, tmp_path):
    """A crash between writing an epoch's _COMPLETE marker and updating the
    _LATEST file must not drop that epoch's triples: the authoritative
    latest epoch comes from scanning _COMPLETE markers, so later epochs
    merge from the right state even when _LATEST is missing or stale."""
    import os

    from kgforge.graph.materialize import materialize_graph
    from kgforge.streaming import (
        latest_complete_epoch,
        read_graph_state,
        run_incremental_graph,
    )

    rows = gen_repo_rows(40)
    inp = tmp_path / "in"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _write_json_files(rows[:20], inp, per_file=20)
    run_incremental_graph(spark, str(inp), state, ckpt)
    e0 = latest_complete_epoch(state)
    assert e0 is not None
    # simulate the crash window: epoch data + _COMPLETE exist, _LATEST gone
    os.remove(os.path.join(state, "_LATEST"))

    _write_json_files(rows[20:], inp, per_file=20, prefix="late")
    run_incremental_graph(spark, str(inp), state, ckpt)
    assert latest_complete_epoch(state) > e0

    nodes_s, edges_s, _ = read_graph_state(spark, state)
    full = extract_pipeline(spark.createDataFrame(rows), "fused")
    nodes_f, edges_f = materialize_graph(full)
    key_e = lambda r: (r.src, r.dst, r.pred, r.weight)  # noqa: E731
    assert sorted(map(key_e, edges_s.collect())) == sorted(
        map(key_e, edges_f.collect())
    )
    key_n = lambda r: (r.canonical_id, r.mention_count)  # noqa: E731
    assert sorted(map(key_n, nodes_s.collect())) == sorted(
        map(key_n, nodes_f.collect())
    )


def test_incremental_graph_replays_epoch_without_complete(spark, tmp_path):
    """A crash between an epoch's data and its _COMPLETE marker (so also
    before the stream committed that batch): the partial epoch is never
    read as state, and the restarted stream replays the same batch,
    which rebuilds the epoch from the last complete one — the final
    graph still equals the one-shot materialization."""
    import os

    from kgforge.graph.materialize import materialize_graph
    from kgforge.streaming import (
        latest_complete_epoch,
        read_graph_state,
        run_incremental_graph,
    )

    rows = gen_repo_rows(50)
    inp = tmp_path / "in"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _write_json_files(rows, inp, per_file=25)  # 2 files -> 2 micro-batches
    run_incremental_graph(spark, str(inp), state, ckpt)
    last = latest_complete_epoch(state)
    assert last == 1

    # simulate the crash window: epoch=1's data is on disk, but neither
    # its _COMPLETE marker nor the stream's commit for batch 1 is
    os.remove(os.path.join(state, f"epoch={last}", "_COMPLETE"))
    os.remove(os.path.join(ckpt, "commits", str(last)))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert latest_complete_epoch(state) == last - 1
    assert os.path.isdir(os.path.join(state, f"epoch={last}", "nodes"))

    run_incremental_graph(spark, str(inp), state, ckpt)
    assert latest_complete_epoch(state) == last  # replayed, not a new epoch
    assert not os.path.exists(os.path.join(state, f"epoch={last + 1}"))

    nodes_s, edges_s, _ = read_graph_state(spark, state)
    full = extract_pipeline(spark.createDataFrame(rows), "fused")
    nodes_f, edges_f = materialize_graph(full)
    key_e = lambda r: (r.src, r.dst, r.pred, r.weight)  # noqa: E731
    assert sorted(map(key_e, edges_s.collect())) == sorted(
        map(key_e, edges_f.collect())
    )
    key_n = lambda r: (  # noqa: E731
        r.canonical_id, r.ent_type, tuple(r.surface_forms), r.mention_count
    )
    assert sorted(map(key_n, nodes_s.collect())) == sorted(
        map(key_n, nodes_f.collect())
    )


def test_incremental_graph_metrics_equal_table_counts(spark, tmp_path):
    """Each epoch's metrics.json holds the row counts its writes observed:
    they equal the counts of the tables read back."""
    import os

    from kgforge.streaming import run_incremental_graph

    state = tmp_path / "state"
    _write_json_files(gen_repo_rows(40), tmp_path / "in", per_file=20)  # 2 micro-batches
    run_incremental_graph(spark, str(tmp_path / "in"), str(state), str(tmp_path / "ckpt"))

    epochs = sorted(p for p in os.listdir(state) if p.startswith("epoch="))
    assert epochs == ["epoch=0", "epoch=1"]
    for e in epochs:
        metrics = json.loads((state / e / "metrics.json").read_text())
        assert metrics == {
            "epoch": int(e.split("=")[1]),
            **{
                f"n_{t}": spark.read.parquet(str(state / e / t)).count()
                for t in ("nodes", "edges", "canonical")
            },
        }


def test_incremental_graph_new_checkpoint_extends_state(spark, tmp_path):
    """A second stream with a new checkpoint over existing state keeps
    every triple: its micro-batch ids restart at 0, but epochs are
    numbered by the state, so its batches become epochs 2 and 3 instead
    of being skipped as replays of epochs 0 and 1.  The final graph
    equals the one-shot materialization of both inputs."""
    import os

    from pyspark.sql import functions as F

    from kgforge.graph.materialize import materialize_graph
    from kgforge.streaming import read_graph_state, run_incremental_graph

    rows = gen_repo_rows(60)
    state = str(tmp_path / "state")
    _write_json_files(rows[:30], tmp_path / "in_a", per_file=15)  # 2 micro-batches
    run_incremental_graph(spark, str(tmp_path / "in_a"), state, str(tmp_path / "ckpt_a"))
    _write_json_files(rows[30:], tmp_path / "in_b", per_file=15)  # 2 more, ids 0 and 1
    run_incremental_graph(spark, str(tmp_path / "in_b"), state, str(tmp_path / "ckpt_b"))

    epochs = sorted(p for p in os.listdir(state) if p.startswith("epoch="))
    assert epochs == ["epoch=0", "epoch=1", "epoch=2", "epoch=3"]
    keys = [json.loads(open(os.path.join(state, e, "_COMPLETE")).read())["batch_key"]
            for e in epochs]
    assert keys == [[str(tmp_path / c), b] for c in ("ckpt_a", "ckpt_b") for b in (0, 1)]

    nodes_s, edges_s, _ = read_graph_state(spark, state)
    full = extract_pipeline(spark.createDataFrame(rows), "fused")
    nodes_f, edges_f = materialize_graph(full)
    key_e = lambda r: (r.src, r.dst, r.pred, r.weight)  # noqa: E731
    assert sorted(map(key_e, edges_s.collect())) == sorted(
        map(key_e, edges_f.collect())
    )
    key_n = lambda r: (  # noqa: E731
        r.canonical_id, r.ent_type, tuple(r.surface_forms), r.mention_count
    )
    assert sorted(map(key_n, nodes_s.collect())) == sorted(
        map(key_n, nodes_f.collect())
    )
    assert edges_s.agg(F.sum("weight")).first()[0] == full.count()
