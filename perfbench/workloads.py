"""The workloads: serving and incremental maintenance.

Each workload stages its inputs (``stage``, outside set-up time), builds
the graph it works on from scratch in a cold JVM (``build``, timed once as
``build_s``), warms up (``warmup``), loads its inputs (``load``), and then
runs closed-loop operations (``op``); ``reset`` makes the next op repeat
the first one.  ``build`` and every op return an ``OpResult``: wall time,
triples handled and a ``check`` that verifies the outputs outside the
clock and returns failure messages.

Timed code calls only the public kgforge functions of the corresponding
job: ``jobs/kg_job.main`` for builds, ``jobs/predict_job`` for serving and
the upsert of ``kgforge.streaming.run_incremental_graph`` for maintenance.
"""

from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from spans import Tracer

from kgforge.core.vocab import build_lexicon
from kgforge.eval import predict_text
from kgforge.extract.pipeline import extract_pipeline
from kgforge.extract.rel import TRIPLES_SCHEMA
from kgforge.graph.materialize import write_repaired
from kgforge.graph.merge import merge_graph
from kgforge.io.sinks import assemble_predict_json
from kgforge.io.sources import read_repos
from kgforge.lineage import run_kg_pipeline
from kgforge.link.canonical import MAX_BUCKET, lsh_bucket_stats
from jobs.predict_job import link_against_graph

STAGES = ["triples", "canonical", "linked", "nodes", "edges"]
REQUEST_SCHEMA = "repo string, path string, commit string, lang string, content string"
MB = 1024 * 1024


@dataclass
class Context:
    spark: object
    work: Path      # per-run scratch, removed at exit
    cache: Path     # staged inputs, kept across runs
    seed: int
    cores: int
    tracer: Tracer


@dataclass
class OpResult:
    seconds: float
    triples: int
    check: Callable[[], list[str]]


def du_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / MB


def build_graph(spark, repos_dir: Path, out: Path, run_id: str):
    """The steps of jobs/kg_job.main: repos table -> checkpointed
    pipeline -> triples/nodes/edges written with repaired partitioning."""
    repos = read_repos(spark, str(repos_dir))
    return run_kg_pipeline(spark, repos, str(out / "stages"), run_id=run_id)


def write_outputs(res, out: Path):
    write_repaired(res["triples"], str(out / "triples"), ["repo", "path"])
    write_repaired(res["nodes"], str(out / "nodes"), ["canonical_id"])
    write_repaired(res["edges"], str(out / "edges"), ["src", "pred"])


def check_build(spark, out: Path, res, run_id: str, wall0: float,
                golden: set[tuple]) -> list[str]:
    """No stage resumed, triples == golden (P = R = 1, content_sha =
    sha256(content) is part of each golden row), sum(weight) == linked."""
    errs = []
    for stage in STAGES:
        marker = out / "stages" / stage / "_COMPLETE"
        if not marker.exists():
            errs.append(f"stage {stage}: no _COMPLETE marker")
            continue
        meta = json.loads(marker.read_text())
        if meta.get("run_id") != run_id or marker.stat().st_mtime < wall0:
            errs.append(f"stage {stage}: resumed, not written by this build")
    got = [tuple(r) for r in spark.read.parquet(str(out / "triples"))
           .select(*gen.GOLDEN_COLUMNS).collect()]
    if len(got) != len(golden) or set(got) != golden:
        errs.append(f"triples differ from golden: {len(got)} rows, "
                    f"{len(set(got) & golden)} of {len(golden)} matched")
    weight = spark.read.parquet(str(out / "edges")).agg(F.sum("weight")).first()[0]
    linked = res["linked"].count()
    if weight != linked or linked != len(golden):
        errs.append(f"sum(weight)={weight}, linked={linked}, golden={len(golden)}")
    return errs


def timed_build(ctx: Context, corpus: Path, out: Path, golden: set[tuple]) -> OpResult:
    """One kg_job build into a fresh ``out``."""
    shutil.rmtree(out, ignore_errors=True)
    run_id = f"{out.name}-{time.time_ns()}"
    wall0 = time.time()
    t0 = time.monotonic()
    res = build_graph(ctx.spark, corpus / "repos", out, run_id)
    with ctx.tracer.span("io.write"):
        write_outputs(res, out)
    dt = time.monotonic() - t0
    return OpResult(dt, len(golden),
                    lambda: check_build(ctx.spark, out, res, run_id, wall0, golden))


def build_targets(tracer: Tracer) -> dict:
    return {
        ("kgforge.extract.pipeline", "extract_pipeline"): ("extract", None),
        # the stage's build() is forced by its own spans; what is left
        # is the stage write, its lineage manifest and the marker
        ("kgforge.lineage.StageRunner", "run"): ("lineage.stage", None, False),
        ("kgforge.graph.materialize", "canonical_entities"): ("link.canonical", None),
        **link_targets(tracer),
    }


def pair_counts(spark, corpus: Path, golden: set[tuple]) -> dict:
    """Candidate entity pairs of the corpus, counted by the staged
    relational operators (tag_mentions -> pair_relational)."""
    from kgforge.extract.ner import explode_mentions, tag_mentions
    from kgforge.extract.pairs import pair_relational
    from kgforge.extract.units import extract_units

    repos = read_repos(spark, str(corpus / "repos"))
    pairs = pair_relational(explode_mentions(tag_mentions(extract_units(repos))))
    return {"extract.pairs": pairs.count(), "extract.triples": len(golden)}


def _lsh_counts(tracer: Tracer, pairs_fn):
    """after-callback for an LSH call: verified pairs over candidate
    pairs (the same call with no Jaccard cut) and over-cap buckets."""

    def after(span, args, out):
        with tracer.span("trace.count"):
            span.counts["verified"] += out.count()
            span.counts["candidates"] += pairs_fn(*args, jaccard_threshold=0.0).count()
            stats = lsh_bucket_stats(args[0]).collect()
            span.counts["dropped_buckets"] += sum(
                r.n_buckets for r in stats if r.bucket_size > MAX_BUCKET
            )

    return after


def link_targets(tracer: Tracer) -> dict:
    """LSH and CC as resolved by canonical_entities (build) and
    update_canonical (maintain)."""
    import kgforge.link.canonical as canonical

    return {
        ("kgforge.graph.materialize", "lsh_candidate_pairs"):
            ("link.lsh", _lsh_counts(tracer, canonical.lsh_candidate_pairs)),
        ("kgforge.link.canonical", "lsh_candidate_pairs"):
            ("link.lsh", _lsh_counts(tracer, canonical.lsh_candidate_pairs)),
        ("kgforge.link.canonical", "lsh_candidate_pairs_delta"):
            ("link.lsh", _lsh_counts(tracer, canonical.lsh_candidate_pairs_delta)),
        ("kgforge.graph.materialize", "connected_components"): ("link.cc", None),
        ("kgforge.link.cc", "connected_components"): ("link.cc", None),
        ("kgforge.graph.materialize", "attach_canonical_ids"): ("graph.attach", None),
        ("kgforge.graph.materialize", "build_nodes"): ("graph.nodes", None),
        ("kgforge.graph.materialize", "mention_counts"): ("graph.nodes", None),
        ("kgforge.graph.materialize", "build_edges"): ("graph.edges", None),
    }


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class Serve:
    """predict_job-style requests against a graph that build persisted."""

    name = "serve"
    trace_build = True  # requests never reach the build layers
    N_FILES = 1000
    SENTS = (4, 30)
    SENTENCES = 64
    WARM_REQUESTS = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.lexicon = build_lexicon()

    def stage(self):
        c = self.ctx
        self.corpus = gen.stage_corpus(c.cache, "corpus", self.N_FILES, c.seed,
                                       *self.SENTS, shards=c.cores)
        self.golden = gen.load_golden(self.corpus)

    def build(self) -> OpResult:
        """The persisted graph requests link against, built by kg_job."""
        self.graph = self.ctx.work / "graph"
        res = timed_build(self.ctx, self.corpus, self.graph, self.golden)
        # the dim the payload ids must come from: per (surface, ent_type)
        # the node with the highest mention_count, ties to the smallest id
        best: dict[tuple[str, str], tuple[int, int]] = {}
        for r in pq.read_table(self.graph / "nodes").to_pylist():
            for s in r["surface_forms"]:
                key = (s, r["ent_type"])
                cand = (-r["mention_count"], r["canonical_id"])
                if key not in best or cand < best[key]:
                    best[key] = cand
        self.dim = {k: v[1] for k, v in best.items()}
        return res

    def warmup(self):
        self.load()
        for k in range(self.WARM_REQUESTS):
            self._request(gen.serve_request(self.ctx.seed, -1 - k, self.SENTENCES,
                                            self.lexicon))

    def load(self):
        self.nodes = self.ctx.spark.read.parquet(str(self.graph / "nodes"))
        self.nodes.count()

    def reset(self):
        pass  # requests are seeded by the op index alone

    def _request(self, rows: list[dict]):
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("serve.extract"):
            triples = tr.force(
                extract_pipeline(spark.createDataFrame(rows, REQUEST_SCHEMA), "fused"))
        with tr.span("serve.link"):
            linked = tr.force(link_against_graph(triples, self.nodes))
        with tr.span("serve.assemble"):
            return assemble_predict_json(linked).collect()

    def op(self, i: int) -> OpResult:
        rows = gen.serve_request(self.ctx.seed, i, self.SENTENCES, self.lexicon)
        t0 = time.monotonic()
        with self.ctx.tracer.span("op"):
            got = self._request(rows)
        dt = time.monotonic() - t0
        n = sum(len(json.loads(r.payload)["relations"]) for r in got)
        return OpResult(dt, n, lambda: self.check(rows, got))

    def check(self, rows: list[dict], got) -> list[str]:
        """Each payload equals eval.predict_text on its sentence, with
        both endpoints linked to the persisted graph."""
        errs = []
        want = {}
        for row in rows:
            seen, rels = set(), []
            for t in predict_text(row["content"]):
                key = (t["subj"], t["pred"], t["obj"], t["subj_type"], t["obj_type"])
                if key in seen:
                    continue
                seen.add(key)
                sid = self.dim.get((t["subj"], t["subj_type"]))
                oid = self.dim.get((t["obj"], t["obj_type"]))
                if sid is None or oid is None:
                    errs.append(f"{row['path']}: endpoint not in the graph: {key}")
                rels.append({"subject": t["subj"], "relation": t["pred"],
                             "object": t["obj"], "subject_id": sid, "object_id": oid})
            if rels:
                rels.sort(key=lambda d: tuple(d.values()))
                want[(row["path"], 0)] = rels
        have = {(r.path, r.unit_id): json.loads(r.payload)["relations"] for r in got}
        bad = sorted(k for k in have.keys() | want.keys() if have.get(k) != want.get(k))
        if bad:
            errs.append(f"{len(bad)} payloads differ from predict_text, e.g. {bad[:3]}")
        return errs

    def trace_targets(self) -> dict:
        return build_targets(self.ctx.tracer)

    def untimed_counts(self) -> dict:
        return pair_counts(self.ctx.spark, self.corpus, self.golden)


# ---------------------------------------------------------------------------
# maintain
# ---------------------------------------------------------------------------


class Maintain:
    """Epoch upserts of streaming.run_incremental_graph: previous epoch's
    state from parquet -> merge_graph(delta) -> new epoch written."""

    name = "maintain"
    trace_build = False  # epochs call the same link and graph layers
    TRIPLES = 5_000
    VOCAB = 10_000
    INITIAL_VOCAB = 4_000
    EPOCHS = 8  # epoch 0 seeds the base state; ops chain epochs 1..7

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.prev: Path | None = None
        self.epoch = 0

    def stage(self):
        c = self.ctx
        self.deltas = gen.stage_deltas(
            c.cache, self.EPOCHS, self.TRIPLES, self.VOCAB, self.INITIAL_VOCAB,
            c.seed, shards=c.cores)

    def build(self) -> OpResult:
        """Epoch 0: the cold, full-LSH path from an empty state."""
        self.base = self.ctx.work / "epoch-0"
        t0 = time.monotonic()
        self._epoch(None, 0, self.base)
        dt = time.monotonic() - t0
        return OpResult(dt, self.TRIPLES,
                        lambda: self.check(None, self.base, self.TRIPLES, None))

    def warmup(self):
        pass

    def load(self):
        for t in ("nodes", "edges", "canonical"):
            self.ctx.spark.read.parquet(str(self.base / t)).count()

    def reset(self):
        """The next op folds epoch 1 into the base state again."""
        self.prev, self.epoch = None, 0

    def _epoch(self, prev: Path | None, epoch: int, out: Path):
        spark, tr = self.ctx.spark, self.ctx.tracer
        delta = spark.read.schema(TRIPLES_SCHEMA).parquet(
            str(self.deltas / f"epoch={epoch}"))
        state = [None, None, None]
        if prev is not None:
            state = [spark.read.parquet(str(prev / t))
                     for t in ("nodes", "edges", "canonical")]
        with tr.span("maintain.merge"):
            result = tr.force(merge_graph(*state, delta))
        with tr.span("maintain.write") as span:
            for t, df in zip(("nodes", "edges", "canonical"), result):
                df.write.mode("overwrite").parquet(str(out / t))
        if span is not None:
            span.counts["state_mb"] = du_mb(out)

    def op(self, i: int) -> OpResult:
        c = self.ctx
        if self.epoch == self.EPOCHS - 1:  # staged deltas used up: restart
            self.reset()
        prev = self.prev or self.base
        self.epoch += 1
        out = c.work / f"maintain-{i}"
        t0 = time.monotonic()
        with c.tracer.span("op"):
            self._epoch(prev, self.epoch, out)
        dt = time.monotonic() - t0
        expect = self.TRIPLES * (self.epoch + 1)
        old = self.prev
        self.prev = out
        return OpResult(dt, self.TRIPLES,
                        lambda: self.check(prev, out, expect, old))

    def check(self, prev: Path | None, out: Path, expect: int,
              old: Path | None) -> list[str]:
        spark = self.ctx.spark
        errs = []
        weight = spark.read.parquet(str(out / "edges")).agg(F.sum("weight")).first()[0]
        if weight != expect:
            errs.append(f"sum(weight)={weight}, cumulative delta triples={expect}")
        mentions = spark.read.parquet(str(out / "nodes")).agg(
            F.sum("mention_count")).first()[0]
        if mentions != 2 * expect:
            errs.append(f"sum(mention_count)={mentions}, want {2 * expect}")
        if prev is not None:
            before = spark.read.parquet(str(prev / "canonical")).select(
                "entity_id", F.col("canonical_id").alias("old"))
            after = spark.read.parquet(str(out / "canonical")).select(
                "entity_id", F.col("canonical_id").alias("new"))
            split = (before.join(after, "entity_id").groupBy("old")
                     .agg(F.countDistinct("new").alias("n")).filter("n > 1").count())
            if split:
                errs.append(f"relabel map not functional: {split} clusters split")
        if old is not None:
            shutil.rmtree(old)
        return errs

    def trace_targets(self) -> dict:
        def relabel(span, args, out):
            with self.ctx.tracer.span("trace.count"):
                span.counts["relabel_rows"] += out[1].count()

        return {
            ("kgforge.graph.merge", "update_canonical"):
                ("maintain.update_canonical", relabel),
            **link_targets(self.ctx.tracer),
        }

    def untimed_counts(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Serve, Maintain)}
