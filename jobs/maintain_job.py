"""Graph-snapshot retention job — the spark-submit deliverable that keeps
run_incremental_graph's state bounded:

    ./scripts/make_pyfiles.sh
    spark-submit --py-files dist/kgforge.zip jobs/maintain_job.py \\
        --graph-state /path/to/graph_state [--keep-last 2] [--run-id m1]

Graph epochs are FULL snapshots, not deltas, so retention is deletion:
streaming.prune_graph_epochs drops all but the newest ``--keep-last``
completed epochs.  Safe to run from cron between streaming triggers —
never concurrently with an in-flight upsert.  The job touches only the
file system and starts no SparkSession.

Prints a one-line JSON summary (the pruned epochs), so fleet schedulers
can alert on it.  Exit code 0 even when there was nothing to prune.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--graph-state", required=True)
    ap.add_argument("--keep-last", type=int, default=2)
    ap.add_argument("--run-id", default="maintain0")
    args = ap.parse_args()

    from kgforge.streaming import prune_graph_epochs

    t0 = time.monotonic()
    pruned = prune_graph_epochs(args.graph_state, keep_last=args.keep_last)
    summary = {
        "run_id": args.run_id,
        "graph": {"pruned_epochs": pruned, "keep_last": args.keep_last},
        "wall_sec": round(time.monotonic() - t0, 1),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
