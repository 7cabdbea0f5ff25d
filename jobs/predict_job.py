"""Batch-serving entry point — ``predict(sentences) -> triples`` as a
spark-submit job (r4 VERDICT #6).

Mirrors the reference's serving path (predict.py:24-67: load checkpoint
model + data module once, then ``predict(sent)`` per input; output
assembled as {doc, entities, relations} dicts, data/data_module.py:
94-130) — re-expressed as one batched DataFrame job: the model ships as
``--py-files dist/kgforge.zip`` (S8), sentences arrive as a table/file,
the fused Arrow UDF cascade answers every sentence in one pass, and the
predictions are written as JSONL through io/sinks.assemble_predict_json.

    ./scripts/make_pyfiles.sh
    spark-submit --py-files dist/kgforge.zip jobs/predict_job.py \
        --sentences /path/to/sentences.txt \
        --output    /path/to/predictions \
        [--format text|json|parquet] [--model repos] [--strategy fused|relational]
        [--graph /path/to/kg_out]    # kg_job output: serving-time linking

With ``--graph``, the persisted nodes table (kg_job output) is loaded
and each triple endpoint is LEFT-joined against the known surface→
canonical_id dimension: recognized entities carry their graph ids into
the serving payload, novel surfaces keep null ids (serving must never
drop a prediction because the entity is new — unlike the pipeline's
inner-join attach, graph/materialize.attach_canonical_ids).

The dim is built once per loaded graph (``serving_dim``): the first
request after a ``spark.read`` of the nodes table pays its build, later
requests against that handle only the joins.  It is a snapshot — files
rewritten under the same handle are not seen, and since it lives in a
``localCheckpoint`` a lost executor is not recovered either; both need
a new ``spark.read``.
"""

from __future__ import annotations

import argparse
import json
import time
import weakref

# nodes DataFrame -> (dim, n_rows); weak keys, so a dim is released
# together with the handle it was built from
_DIMS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_sentences(spark, source: str, fmt: str):
    """Sentences -> the repos schema the extraction cascade consumes.

    text: one sentence per line (the reference's interactive predict
    input); json/parquet: rows with a ``content`` column (repo/commit/
    lang filled with serving defaults when absent; a missing path
    becomes ``line-<id>``, unique per row)."""
    from pyspark.sql import functions as F

    if fmt == "text":
        df = spark.read.text(source).withColumnRenamed("value", "content")
    elif fmt == "json":
        df = spark.read.json(source)
    else:
        df = spark.read.parquet(source)
    if "path" not in df.columns:
        # each row must stay its OWN payload group downstream: without a
        # distinct path, assemble_predict_json's (repo, path, unit_id)
        # key collapses every input row into one relations array.
        # monotonically_increasing_id is partition-unique and stable for
        # a static input file.
        df = df.withColumn(
            "path", F.concat(F.lit("line-"), F.monotonically_increasing_id())
        )
    for col, default in (("repo", "predict"), ("commit", "-"), ("lang", "txt")):
        if col not in df.columns:
            df = df.withColumn(col, F.lit(default))
    return df.select("repo", "path", "commit", "lang", "content").filter(
        F.length(F.trim("content")) > 0
    )


def serving_dim(nodes):
    """The persisted graph's (surface, ent_type) -> canonical_id dim and
    its row count, built once per ``nodes`` DataFrame object and memoized
    on it (weakly: the dim is released together with the handle).
    surface_forms explode to one dim row per known surface.

    The dim is DEDUPED to exactly one canonical_id per (surface,
    ent_type): after the epochs' nodes aggregations
    (graph/materialize.build_nodes with history) union surface forms, a
    surface reassigned between canonical ids can legitimately appear
    under two nodes of the same type, and a LEFT join against the raw
    explode would fan each triple out into duplicate prediction rows.
    Winner = highest mention_count, ties to the smallest canonical_id —
    the dominant assignment, deterministically.

    Snapshot semantics: the first call on a handle pays the explode,
    the row_number window, a ``localCheckpoint`` and a count; later
    calls return the same dim even if the files under the handle were
    rewritten meanwhile — a new ``spark.read`` builds a new dim.  The
    checkpoint's blocks are executor-local, so on a cluster a lost
    executor needs a reload too."""
    hit = _DIMS.get(nodes)
    if hit is not None:
        return hit

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("surface", "ent_type").orderBy(
        F.desc("mention_count"), F.asc("canonical_id")
    )
    dim = (
        nodes.select(
            "canonical_id",
            "ent_type",
            "mention_count",
            F.explode("surface_forms").alias("surface"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("canonical_id", "ent_type", "surface")
        .localCheckpoint(eager=True)
    )
    _DIMS[nodes] = hit = (dim, dim.count())
    return hit


def link_against_graph(triples, nodes):
    """LEFT-join triple endpoints to the persisted graph's
    (surface, ent_type) -> canonical_id dimension (``serving_dim``).
    Known entities get their graph ids (columns src/dst), novel ones
    null — the serving contract.  The first call for a ``nodes`` handle
    pays the dim build; later calls reuse that snapshot (see
    ``serving_dim``) and pay only the joins.

    SIZE-GATED broadcast (kgforge/functions/joins.maybe_broadcast, same
    rule and threshold as graph/materialize.attach_canonical_ids),
    decided on every call: a persisted graph with hundreds of millions
    of distinct surfaces unconditionally broadcast — twice, sub and obj
    side — OOMs executors; above the gate the join falls back to a
    shuffle and AQE handles skewed hub surfaces.  (Not a call into
    attach_canonical_ids itself only because serving must LEFT-join:
    the pipeline's inner join would silently drop every novel-entity
    prediction.)"""
    from pyspark.sql import functions as F

    from kgforge.functions.joins import maybe_broadcast

    dim, n_dim = serving_dim(nodes)
    sub = maybe_broadcast(
        dim.select(
            F.col("surface").alias("subj"),
            F.col("ent_type").alias("subj_type"),
            F.col("canonical_id").alias("src"),
        ),
        n_rows=n_dim,
    )
    obj = maybe_broadcast(
        dim.select(
            F.col("surface").alias("obj"),
            F.col("ent_type").alias("obj_type"),
            F.col("canonical_id").alias("dst"),
        ),
        n_rows=n_dim,
    )
    return triples.join(sub, on=["subj", "subj_type"], how="left").join(
        obj, on=["obj", "obj_type"], how="left"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sentences", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="text",
                    choices=["text", "json", "parquet"])
    ap.add_argument("--model", default="repos")
    ap.add_argument("--strategy", default="fused")
    ap.add_argument("--graph", default=None,
                    help="kg_job output dir; links predictions against "
                         "the persisted nodes table")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kgforge.extract.pipeline import extract_pipeline
    from kgforge.io.sinks import assemble_predict_json, write_jsonl

    spark = SparkSession.builder.appName("kgforge-predict-job").getOrCreate()

    t0 = time.monotonic()
    sentences = read_sentences(spark, args.sentences, args.format)
    triples = extract_pipeline(
        sentences, strategy=args.strategy, model_name=args.model
    ).localCheckpoint(eager=True)

    n_linked = None
    if args.graph:
        nodes = spark.read.parquet(f"{args.graph}/nodes")
        triples = link_against_graph(triples, nodes).localCheckpoint(eager=True)
        n_linked = triples.filter(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
        ).count()

    payload = assemble_predict_json(triples)
    write_jsonl(payload, args.output)

    summary = {
        "sentences": sentences.count(),
        "triples": triples.count(),
        "units_with_relations": payload.count(),
        "wall_sec": round(time.monotonic() - t0, 1),
    }
    if n_linked is not None:
        summary["triples_fully_linked"] = n_linked
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
