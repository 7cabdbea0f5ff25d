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


def latest_complete_epoch(state_dir: str) -> int | None:
    """Max N over ``state_dir/epoch=N/_COMPLETE`` markers (None if none).

    This scan — not the _LATEST convenience file — is the authoritative
    read: _COMPLETE is written atomically after an epoch's data, so the
    scan can never name an epoch whose data is missing, and it cannot go
    stale if a crash lands between _COMPLETE and the _LATEST update."""
    import os

    latest = None
    if os.path.isdir(state_dir):
        for name in os.listdir(state_dir):
            marker = os.path.join(state_dir, name, "_COMPLETE")
            if name.startswith("epoch=") and os.path.exists(marker):
                n = int(name.split("=", 1)[1])
                if latest is None or n > latest:
                    latest = n
    return latest


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
    if not os.path.isdir(state_dir):
        return []
    done = sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(state_dir)
        if name.startswith("epoch=")
        and os.path.exists(os.path.join(state_dir, name, "_COMPLETE"))
    )
    pruned = done[:-keep_last]
    for n in pruned:
        shutil.rmtree(os.path.join(state_dir, f"epoch={n}"))
    return pruned


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

    The stream checkpoint gives at-least-once per micro-batch on restart;
    replays are absorbed by the epoch _COMPLETE marker (an already-merged
    epoch is skipped, not merged twice).  The AUTHORITATIVE latest epoch
    is derived by scanning epoch=N dirs for _COMPLETE markers, never read
    from _LATEST: a crash between writing _COMPLETE and updating _LATEST
    would otherwise leave every later epoch merging from stale state —
    that epoch's triples silently and permanently dropped.  Reading the
    previous epoch and writing the next one never overwrites what is
    being read."""
    import json
    import os

    from .extract.rel import extract_triples_onepass
    from .graph.materialize import write_counted
    from .graph.merge import merge_graph

    def _set_latest(epoch: int) -> None:
        tmp = os.path.join(state_dir, "_LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(str(epoch))
        os.replace(tmp, os.path.join(state_dir, "_LATEST"))

    def upsert(batch_df, epoch_id: int) -> None:
        os.makedirs(state_dir, exist_ok=True)
        edir = os.path.join(state_dir, f"epoch={epoch_id}")
        if os.path.exists(os.path.join(edir, "_COMPLETE")):
            return  # replayed batch after restart: already merged
        delta = extract_triples_onepass(batch_df, model_name)
        prev = latest_complete_epoch(state_dir)
        if prev is None:
            nodes = edges = canonical = None
        else:
            pdir = os.path.join(state_dir, f"epoch={prev}")
            nodes = spark.read.parquet(os.path.join(pdir, "nodes"))
            edges = spark.read.parquet(os.path.join(pdir, "edges"))
            canonical = spark.read.parquet(os.path.join(pdir, "canonical"))
        # per-epoch lineage metrics: row counts observed by the writes
        metrics = {"epoch": epoch_id}
        for name, df in zip(
            ("nodes", "edges", "canonical"), merge_graph(nodes, edges, canonical, delta)
        ):
            metrics[f"n_{name}"] = write_counted(df, os.path.join(edir, name))
        with open(os.path.join(edir, "metrics.json"), "w") as f:
            json.dump(metrics, f)
        open(os.path.join(edir, "_COMPLETE"), "w").close()
        _set_latest(epoch_id)

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
    import os

    latest = latest_complete_epoch(state_dir)
    if latest is None:
        raise FileNotFoundError(f"no completed epoch under {state_dir}")
    edir = os.path.join(state_dir, f"epoch={latest}")
    return (
        spark.read.parquet(os.path.join(edir, "nodes")),
        spark.read.parquet(os.path.join(edir, "edges")),
        spark.read.parquet(os.path.join(edir, "canonical")),
    )
