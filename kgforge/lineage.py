"""Per-stage checkpoint + lineage manifest (north rule: every stage
checkpoints per-partition lineage + triple-count metrics to support
resume-from-failure).

Reference analog: the tensor-cache sink/source keyed by config tag
(S6, data/data_module.py:55-67) — generalized to a manifest-gated
per-stage parquet checkpoint.

Contract (SURVEY.md §7.6): a stage writes its data partition, then appends
``(run_id, stage, partition_id, rows_out, triple_count, content_sha_agg,
wall_ms)`` rows plus a ``_COMPLETE`` marker, which records the row count
the data write observed (``rows``).  On restart, a stage whose marker
exists is read back, not recomputed, and its ``rows`` is still known.
The marker is written AFTER the data — a crash mid-write leaves no
marker, so the stage reruns (idempotent overwrite).
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graph.materialize import write_counted

LINEAGE_COLS = [
    "run_id",
    "stage",
    "partition_id",
    "rows_out",
    "triple_count",
    "content_sha_agg",
    "wall_ms",
]


class StageRunner:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        run_id: str = "run0",
        config: dict | None = None,
    ):
        """``config`` is the stage-relevant parameter set (strategy, model
        name, ...).  Its hash is stored in each ``_COMPLETE`` marker and
        VALIDATED on resume: re-running in the same workdir with different
        parameters reruns the stage instead of silently returning the
        previous configuration's data (ADVICE r1).  run_id is lineage
        metadata only — the same config may resume across run ids."""
        self.spark = spark
        self.workdir = Path(workdir)
        self.run_id = run_id
        self.config = dict(config) if config else {}
        self.config_hash = hashlib.sha256(
            json.dumps(self.config, sort_keys=True).encode()
        ).hexdigest()
        self.workdir.mkdir(parents=True, exist_ok=True)

    def _stage_dir(self, stage: str) -> Path:
        return self.workdir / stage

    def is_complete(self, stage: str) -> bool:
        marker = self._stage_dir(stage) / "_COMPLETE"
        if not marker.exists():
            return False
        try:
            meta = json.loads(marker.read_text())
        except (ValueError, OSError):
            return False  # unreadable marker: treat as incomplete, rerun
        # a marker without a row count predates it: rerun to record one
        return meta.get("config_hash") == self.config_hash and "rows" in meta

    def rows(self, stage: str) -> int:
        """The rows a complete stage wrote, from its marker."""
        return json.loads((self._stage_dir(stage) / "_COMPLETE").read_text())["rows"]

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(str(self._stage_dir(stage) / "data"))

    def run(self, stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Build-or-resume: skip ``build`` entirely when the stage is
        already complete for this workdir.  The write's row count is
        observed in the writing job (no count job) and kept in the
        marker (``rows``)."""
        d = self._stage_dir(stage)
        if self.is_complete(stage):
            return self.read(stage)
        t0 = time.monotonic()
        df = build()
        data_path = str(d / "data")
        rows = write_counted(df, data_path)
        wall_ms = int((time.monotonic() - t0) * 1000)

        written = self.spark.read.parquet(data_path)
        has_sha = "content_sha" in written.columns
        per_part = (
            written.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(
                F.count("*").cast("bigint").alias("rows_out"),
                F.count("*").cast("bigint").alias("triple_count"),
                (
                    F.sum(F.crc32(F.col("content_sha"))) if has_sha else F.lit(0)
                )
                .cast("bigint")
                .alias("content_sha_agg"),
            )
            .withColumn("run_id", F.lit(self.run_id))
            .withColumn("stage", F.lit(stage))
            .withColumn("wall_ms", F.lit(wall_ms).cast("bigint"))
            .withColumn("partition_id", F.col("partition_id").cast("int"))
            .select(*LINEAGE_COLS)
        )
        per_part.write.mode("overwrite").parquet(str(d / "lineage"))
        (d / "_COMPLETE").write_text(
            json.dumps(
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "wall_ms": wall_ms,
                    "rows": rows,
                    "config_hash": self.config_hash,
                    "config": self.config,
                }
            )
        )
        return self.read(stage)

    def lineage(self) -> DataFrame:
        """All recorded lineage rows across stages."""
        parts = sorted(str(p) for p in self.workdir.glob("*/lineage"))
        if not parts:
            raise FileNotFoundError(f"no lineage under {self.workdir}")
        return self.spark.read.parquet(*parts)


def run_kg_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    workdir: str,
    run_id: str = "run0",
    strategy: str = "fused",
    model_name: str = "repos",
    context_window: int = 0,
    cross_ner: bool = False,
) -> dict[str, DataFrame]:
    """The full checkpointed pipeline: repos -> triples -> canonical ->
    linked -> nodes/edges, each stage resumable.

    After extraction the stages make the epoch-0 merge's calls
    (graph/merge.merge_graph(None, None, None, triples)): canonical is
    update_canonical's dim (via canonical_entities), then
    attach_canonical_ids, build_nodes and build_edges, given the sizes
    the stage writes observed (the canonical rows for the attach's
    broadcast gate, the linked rows for build_edges' hot-key gate) as
    merge_graph gives them its checkpoints' counts.  So the build's nodes
    and edges equal that merge's on every column (tests/test_lineage.py);
    the stages only add the per-stage checkpoints and manifests."""
    from .extract.pipeline import extract_pipeline
    from .graph.materialize import (
        attach_canonical_ids,
        build_edges,
        build_nodes,
        canonical_entities,
    )

    runner = StageRunner(
        spark, workdir, run_id,
        config={
            "strategy": strategy,
            "model_name": model_name,
            "context_window": context_window,
            "cross_ner": cross_ner,
        },
    )
    triples = runner.run(
        "triples",
        lambda: extract_pipeline(
            repos, strategy, model_name,
            context_window=context_window, cross_ner=cross_ner,
        ),
    )
    canonical = runner.run("canonical", lambda: canonical_entities(triples))
    linked = runner.run(
        "linked",
        lambda: attach_canonical_ids(triples, canonical, n_dim=runner.rows("canonical")),
    )
    nodes = runner.run("nodes", lambda: build_nodes(linked))
    edges = runner.run("edges", lambda: build_edges(linked, n_rows=runner.rows("linked")))
    return {
        "triples": triples,
        "canonical": canonical,
        "linked": linked,
        "nodes": nodes,
        "edges": edges,
        "runner": runner,
    }
