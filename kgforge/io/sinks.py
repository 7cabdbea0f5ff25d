"""Output assembly — predict-mode JSON (S9) and its JSONL writer.

Reference analog: ``get_dataset_ace_for_predict``
(data/data_module.py:94-130) assembles per-sentence dicts
``{doc, sent, entities: [...], relations: [...]}`` and keeps only items
with >= 1 relation.  Here the same assembly is a pure projection —
``to_json(struct(...))`` over the aggregated triples — so the serving
output is produced JVM-side with zero Python in the loop and can be
written straight to a JSONL sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def assemble_predict_json(
    triples: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """triples(key..., subj, pred, obj) -> one JSON line per key group:
    ``{"relations": [{"subject": ..., "relation": ..., "object": ...}]}``.

    When the triples carry graph-link columns ``src``/``dst`` (serving
    with --graph, jobs/predict_job.link_against_graph), each relation
    additionally carries ``subject_id``/``object_id`` — recognized
    entities ship their canonical graph ids in the payload; novel
    entities have null ids, which to_json omits (field absent = novel).

    The relations array is sort_array'd (struct field order: subject,
    relation, object lead, so the id columns never change the ordering)
    — output is parallelism-invariant; groups exist only for keys with
    >= 1 triple — the reference's ``len(relations) > 0`` filter falls
    out of the groupBy."""
    keys = key_cols or ["repo", "path", "unit_id"]
    fields = [
        F.col("subj").alias("subject"),
        F.col("pred").alias("relation"),
        F.col("obj").alias("object"),
    ]
    if "src" in triples.columns and "dst" in triples.columns:
        fields += [
            F.col("src").alias("subject_id"),
            F.col("dst").alias("object_id"),
        ]
    rel = F.struct(*fields)
    agg = triples.groupBy(*keys).agg(
        F.sort_array(F.collect_list(rel)).alias("relations")
    )
    return agg.select(
        *keys,
        F.to_json(F.struct(F.col("relations"))).alias("payload"),
    )


def write_jsonl(df: DataFrame, path: str) -> int:
    """One JSON object per line (the reference's predict output file).
    Returns the lines written, observed in the writing job."""
    written = Observation()
    df.select("payload").observe(written, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).text(path)
    return written.get["n"]
