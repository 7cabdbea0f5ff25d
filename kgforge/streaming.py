"""Structured Streaming surface for incremental KG construction: new
repo files arrive continuously and the graph follows them.

- ``run_incremental_graph`` maintains the graph itself: per micro-batch
  it extracts the delta triples with the fused cascade
  (extract_triples_onepass), folds them into the persisted
  nodes/edges/canonical dim with graph/merge.merge_graph and publishes
  a full snapshot ``state_dir/epoch=N`` under a ``_COMPLETE`` marker.
  ``latest_complete_epoch`` and ``read_graph_state`` read that state;
  ``prune_graph_epochs`` is its retention (jobs/maintain_job.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

REPOS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def _complete_epochs(state_dir: str) -> list[int]:
    """Sorted N over ``state_dir/epoch=N/_COMPLETE`` markers: the one scan
    behind ``latest_complete_epoch`` and ``prune_graph_epochs``."""
    import os

    if not os.path.isdir(state_dir):
        return []
    return sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(state_dir)
        if name.startswith("epoch=")
        and os.path.exists(os.path.join(state_dir, name, "_COMPLETE"))
    )


def latest_complete_epoch(state_dir: str) -> int | None:
    """Max N over ``state_dir/epoch=N/_COMPLETE`` markers (None if none).

    This scan — not the _LATEST convenience file — is the authoritative
    read: _COMPLETE is written atomically after an epoch's data, so the
    scan can never name an epoch whose data is missing, and it cannot go
    stale if a crash lands between _COMPLETE and the _LATEST update."""
    done = _complete_epochs(state_dir)
    return done[-1] if done else None


def prune_graph_epochs(state_dir: str, keep_last: int = 2) -> list[int]:
    """Retention for run_incremental_graph state.  Graph epochs are FULL
    snapshots (merge_graph and read_graph_state consume only the newest
    completed epoch — older dirs are history, not state), so compaction
    here is deletion: drop all but the newest ``keep_last`` completed
    epochs.  Returns the pruned epoch numbers.  Run between triggers,
    never concurrently with an in-flight upsert."""
    import os
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    pruned = _complete_epochs(state_dir)[:-keep_last]
    for n in pruned:
        shutil.rmtree(os.path.join(state_dir, f"epoch={n}"))
    return pruned


def _read_epoch(spark: SparkSession, state_dir: str, epoch: int):
    """(nodes, edges, canonical) of ``state_dir/epoch=N``."""
    import os

    edir = os.path.join(state_dir, f"epoch={epoch}")
    return tuple(
        spark.read.parquet(os.path.join(edir, t)) for t in ("nodes", "edges", "canonical")
    )


def run_incremental_graph(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    model_name: str = "repos",
) -> None:
    """Continuous KG maintenance: stream repo files -> triples; per
    micro-batch, EVOLVE the canonical entity dim and fold delta
    nodes/edges into the persisted graph (graph/merge.merge_graph — novel
    surfaces extend the dim, history migrates through the relabel map).

    State layout (resume- and replay-safe):
      state_dir/epoch=N/{nodes,edges,canonical}/  + _COMPLETE marker
      state_dir/_LATEST  -> N   (informational only — see below)

    A micro-batch becomes the latest complete epoch + 1 (a new checkpoint
    over existing state extends it), whose _COMPLETE marker holds the
    batch key (absolute checkpoint location, batch id).  The stream
    checkpoint gives at-least-once per micro-batch on restart; a batch
    whose key the latest complete epoch holds is a replay, skipped, not
    merged twice.  The AUTHORITATIVE latest epoch is derived by scanning
    epoch=N dirs for _COMPLETE markers, never read from _LATEST: a crash
    between writing _COMPLETE and updating _LATEST would otherwise leave
    every later epoch merging from stale state — that epoch's triples
    silently and permanently dropped.  Reading the previous epoch and
    writing the next one never overwrites what is being read."""
    import json
    import os
    from pathlib import Path

    from .extract.rel import extract_triples_onepass
    from .graph.materialize import write_counted
    from .graph.merge import merge_graph

    def _replace(path: str, text: str) -> None:
        with open(path + ".tmp", "w") as f:
            f.write(text)
        os.replace(path + ".tmp", path)  # atomic: never a torn marker

    def upsert(batch_df, batch_id: int) -> None:
        os.makedirs(state_dir, exist_ok=True)
        key = [os.path.abspath(checkpoint_dir), batch_id]
        prev = latest_complete_epoch(state_dir)
        # an empty marker (state written before batch keys) holds none
        done = prev is not None and Path(state_dir, f"epoch={prev}", "_COMPLETE").read_text()
        if done and json.loads(done).get("batch_key") == key:
            return  # replayed batch after restart: already merged
        epoch = 0 if prev is None else prev + 1
        edir = os.path.join(state_dir, f"epoch={epoch}")
        delta = extract_triples_onepass(batch_df, model_name)
        state = (None,) * 3 if prev is None else _read_epoch(spark, state_dir, prev)
        # per-epoch lineage metrics: row counts observed by the writes
        metrics = {"epoch": epoch}
        for name, df in zip(("nodes", "edges", "canonical"), merge_graph(*state, delta)):
            metrics[f"n_{name}"] = write_counted(df, os.path.join(edir, name))
        with open(os.path.join(edir, "metrics.json"), "w") as f:
            json.dump(metrics, f)
        _replace(os.path.join(edir, "_COMPLETE"), json.dumps({"batch_key": key}))
        _replace(os.path.join(state_dir, "_LATEST"), str(epoch))

    q = (
        spark.readStream.schema(REPOS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(input_dir)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_graph_state(spark: SparkSession, state_dir: str):
    """(nodes, edges, canonical) of the latest completed epoch (derived
    from the _COMPLETE markers; the _LATEST file is informational)."""
    latest = latest_complete_epoch(state_dir)
    if latest is None:
        raise FileNotFoundError(f"no completed epoch under {state_dir}")
    return _read_epoch(spark, state_dir, latest)
