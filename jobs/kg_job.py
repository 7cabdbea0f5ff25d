"""Cluster job entry point — the spark-submit deliverable (north rule).

    ./scripts/make_pyfiles.sh
    spark-submit --py-files dist/kgforge.zip jobs/kg_job.py \
        --input  /path/to/repos_table \
        --workdir /path/to/checkpoints \
        --output /path/to/kg_out \
        [--strategy fused|relational] [--model repos] [--run-id r1]
        [--context-window K] [--cross-ner] [--format parquet|json|csv|orc]

Reads the repos table (parquet; Iceberg catalogs plug in via
``--input table:<name>`` when the runtime ships the Iceberg jar), runs
the full checkpointed pipeline, writes triples/nodes/edges with repaired
partitioning, and prints a one-line JSON job summary.

On a real cluster nothing changes except ``--master``/executor conf —
the plan is identical to local mode (kgforge/session.py).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--strategy", default="fused")
    ap.add_argument("--model", default="repos")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--context-window", type=int, default=0,
                    help="tag each unit with ±K neighbor sentences "
                         "(reference config.yaml context_window)")
    ap.add_argument("--cross-ner", action="store_true",
                    help="propagate mention surfaces to neighbor units "
                         "(requires --strategy relational)")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "json", "csv", "orc"],
                    help="input file format when --input is a path")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from kgforge.graph.materialize import write_repaired
    from kgforge.lineage import run_kg_pipeline

    # spark-submit owns master/conf; just get-or-create
    spark = SparkSession.builder.appName("kgforge-kg-job").getOrCreate()

    from kgforge.io.sources import read_repos

    repos = read_repos(spark, args.input, fmt=args.format)

    t0 = time.monotonic()
    out = run_kg_pipeline(
        spark, repos, args.workdir, run_id=args.run_id,
        strategy=args.strategy, model_name=args.model,
        context_window=args.context_window, cross_ner=args.cross_ner,
    )
    summary = {"run_id": args.run_id}
    for name, keys in (
        ("triples", ["repo", "path"]), ("nodes", ["canonical_id"]), ("edges", ["src", "pred"])
    ):
        # the row count each write observed (no re-read)
        summary[name] = write_repaired(out[name], f"{args.output}/{name}", keys)
    summary["wall_sec"] = round(time.monotonic() - t0, 1)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
