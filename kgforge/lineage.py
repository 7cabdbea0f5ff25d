"""Per-stage checkpoint + lineage manifest (north rule: every stage
checkpoints per-partition lineage + triple-count metrics to support
resume-from-failure).

Reference analog: the tensor-cache sink/source keyed by config tag
(S6, data/data_module.py:55-67) — generalized to a manifest-gated
per-stage parquet checkpoint.

Contract (SURVEY.md §7.6): a stage is one Spark write of its data, then
a ``_COMPLETE`` marker that is its whole manifest: ``run_id``, ``stage``,
``wall_ms``, the config hash; the ``rows`` the write observed (an
``Observation``, no extra job) and, for a stage with a ``content_sha``
column, ``content_sha_agg`` = Σ crc32(content_sha) from the same job;
``partitions``, one ``{partition_id, rows_out}`` per written ``part-*``
file (the write task's index from the file name, the rows from the
file's parquet footer, read on the driver); and the written ``schema``
(Spark's own, from a footer), so the stage reads back with no inference
job.  ``lineage()`` is these markers as one frame.  On restart, a stage
whose marker exists for the same config is read back, not recomputed.
The marker is written AFTER the data — a crash mid-write leaves no
marker, so the stage reruns (idempotent overwrite); so does a marker
without a field above, which predates it.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Callable
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# the Catalyst schema Spark keeps in every parquet footer it writes
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


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

    def _marker(self, stage: str) -> dict:
        return json.loads((self.workdir / stage / "_COMPLETE").read_text())

    def is_complete(self, stage: str) -> bool:
        try:
            meta = self._marker(stage)
        except (ValueError, OSError):
            return False  # no or unreadable marker: rerun
        # a marker without a manifest field predates it: rerun to record it
        return meta.get("config_hash") == self.config_hash and all(
            k in meta for k in ("rows", "partitions", "schema")
        )

    def rows(self, stage: str) -> int:
        """The rows a complete stage wrote, from its marker."""
        return self._marker(stage)["rows"]

    def read(self, stage: str) -> DataFrame:
        """A complete stage's data, read with its marker's schema (no job)."""
        schema = StructType.fromJson(json.loads(self._marker(stage)["schema"]))
        return self.spark.read.schema(schema).parquet(str(self.workdir / stage / "data"))

    def run(self, stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Build-or-resume: skip ``build`` entirely when the stage is
        already complete for this workdir.  Otherwise the built frame is
        written once; everything the marker records comes from that
        write's ``Observation`` and the written files' footers."""
        d = self.workdir / stage
        if self.is_complete(stage):
            return self.read(stage)
        t0 = time.monotonic()
        df = build()
        observed = Observation()
        metrics = [F.count(F.lit(1)).alias("rows")]
        if "content_sha" in df.columns:
            metrics.append(F.sum(F.crc32("content_sha")).alias("content_sha_agg"))
        df.observe(observed, *metrics).write.mode("overwrite").parquet(str(d / "data"))
        files = sorted((d / "data").glob("part-*"))
        footers = [pq.read_metadata(f) for f in files]
        meta = {
            "run_id": self.run_id, "stage": stage,
            "wall_ms": int((time.monotonic() - t0) * 1000),
            **observed.get,
            # part-<write task index>-<uuid>-c<file>.<codec>.parquet
            "partitions": [
                {"partition_id": int(f.name.split("-")[1]), "rows_out": m.num_rows}
                for f, m in zip(files, footers)
            ],
            "schema": footers[0].metadata[_SPARK_SCHEMA_KEY].decode(),
            "config_hash": self.config_hash, "config": self.config,
        }
        (d / "_COMPLETE").write_text(json.dumps(meta))
        return self.read(stage)

    def lineage(self) -> DataFrame:
        """One row per written file of every complete stage, from the
        markers (no job until used)."""
        markers = [json.loads(p.read_text()) for p in sorted(self.workdir.glob("*/_COMPLETE"))]
        rows = [
            (m["run_id"], m["stage"], p["partition_id"], p["rows_out"], p["rows_out"], m["wall_ms"])
            for m in markers
            for p in m.get("partitions", ())
        ]
        if not rows:
            raise FileNotFoundError(f"no lineage under {self.workdir}")
        return self.spark.createDataFrame(rows, "run_id string, stage string, partition_id int, "
                                          "rows_out bigint, triple_count bigint, wall_ms bigint")


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
