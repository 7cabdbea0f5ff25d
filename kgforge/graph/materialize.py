"""Graph materialization — nodes/edges tables from triples + canonical ids.

Output schemas (FIXTURES.md §6):
  nodes(canonical_id, ent_type, surface_forms, mention_count, n_surfaces)
  edges(src, dst, pred, weight, provenance)

Scale notes (north rule: explicit salting for skewed mega-repos, repaired
partitioning at 10^12-file scale):

* The canonical-id join of triples to entities is a potential skew point —
  a hub entity ("spark") may appear in a large fraction of triples.  The
  entity side is small (distinct surfaces), so BOTH joins are broadcast:
  no shuffle of the big triples table at all, skew moot.
* The edges aggregation groups by (src, dst, pred) — hub-hub edges create
  hot keys.  ``salted_edge_counts`` demonstrates the two-phase pattern:
  partial agg on (key, salt) then final agg on key, bounding any single
  reducer to 1/S of a hot key (with map-side combine this is usually free;
  the explicit salt is the contract the north rule asks for).
* Writers repartition on the output key before write ("repaired
  partitioning"): files land clustered by canonical_id / (src, pred),
  giving downstream scans pruning + avoiding the many-small-files failure
  mode at 10^12 inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.joins import maybe_broadcast
# not called here: perfbench/workloads.link_targets patches these names
from ..link.canonical import lsh_candidate_pairs  # noqa: F401
from ..link.cc import connected_components  # noqa: F401

DEFAULT_SALT = 16
# provenance kept per edge: a deterministic min-k sample of (repo, path,
# unit_id); build_edges and merge.merge_edges share it so a one-shot build
# equals an incremental merge
N_PROVENANCE = 3


def canonical_entities(triples: DataFrame) -> DataFrame:
    """triples -> (entity_id, surface, ent_type, norm, canonical_id).

    entity_id is derived from the NORMALIZED surface, so case/punctuation
    variants ("Spark model" vs "spark model") share one entity_id across
    several vertex rows.  Both link paths label each DISTINCT id once, so
    the labels cannot fan out (which would inflate edge weights and
    mention_count).  The surface variants keep their own rows: one
    canonical row per (surface, ent_type), many per entity_id — intended.

    The link is graph/merge.update_canonical's without a dim: every
    vertex is new, and its one gate picks the path."""
    from .merge import update_canonical

    canonical = update_canonical(None, triples)[0]
    return canonical.select("entity_id", "surface", "ent_type", "norm", "canonical_id")


def build_nodes(linked_triples: DataFrame) -> DataFrame:
    """One row per canonical entity, aggregated over the linked triples'
    two endpoints: (canonical_id, ent_type, surface_forms, mention_count,
    n_surfaces), the column order of merge.merge_nodes, so the build and
    every epoch write one nodes schema.

    The canonical dim is extended before the attach, so every canonical
    row a triple names is an endpoint here; a row no triple names is not
    a node.  Canonical is unique on (surface, ent_type), so n_surfaces is
    the size of surface_forms."""
    ends = linked_triples.select(
        F.col("src").alias("canonical_id"),
        F.col("subj_type").alias("ent_type"),
        F.col("subj").alias("surface"),
    ).unionByName(
        linked_triples.select(
            F.col("dst").alias("canonical_id"),
            F.col("obj_type").alias("ent_type"),
            F.col("obj").alias("surface"),
        )
    )
    return ends.groupBy("canonical_id", "ent_type").agg(
        F.sort_array(F.collect_set("surface")).alias("surface_forms"),
        F.count("*").alias("mention_count"),
    ).withColumn("n_surfaces", F.size("surface_forms").cast("bigint"))


def attach_canonical_ids(triples: DataFrame, canonical: DataFrame) -> DataFrame:
    """Join triples to canonical ids on both endpoints.

    SIZE-GATED broadcast (functions/joins.maybe_broadcast): the entity
    dimension is usually small relative to triples, but at 100 TB the
    distinct-surface dim can reach hundreds of millions of rows —
    unconditionally broadcasting it OOMs executors (r1 VERDICT 'What's
    wrong' #3).  The dim is counted once (update_canonical returns it
    materialized, so the count is a cheap scan); above the
    threshold (``functions/joins.BROADCAST_DIM_MAX_ROWS``, read at call
    time) we fall back to a plain shuffle join on (surface,
    ent_type) and let AQE handle skewed hub surfaces."""
    n_dim = canonical.count()
    for surface, ent_type, cid in (
        ("subj", "subj_type", "src"), ("obj", "obj_type", "dst")
    ):
        side = canonical.select(
            F.col("surface").alias(surface),
            F.col("ent_type").alias(ent_type),
            F.col("canonical_id").alias(cid),
        )
        triples = triples.join(
            maybe_broadcast(side, n_rows=n_dim), on=[surface, ent_type]
        )
    return triples


def detect_hot_edge_keys(
    linked_triples: DataFrame,
    hot_threshold_rows: int = 10_000,
    hot_sample: float = 0.01,
) -> DataFrame:
    """Estimate which (src, dst, pred) keys exceed ``hot_threshold_rows``
    from a seeded ``hot_sample`` fraction — the skew detector feeding
    build_edges' selective salting.  Returns (src, dst, pred, _hot=true);
    tiny by construction (few mega-repo hubs), so callers broadcast it.
    Detection is an OPTIMIZATION only: a missed hot key degrades to the
    unsalted plan for that key, a false positive costs one extra
    per-salt group — the output is identical either way."""
    return (
        linked_triples.sample(fraction=hot_sample, seed=7)
        .groupBy("src", "dst", "pred")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= max(1, int(hot_threshold_rows * hot_sample)))
        .select("src", "dst", "pred", F.lit(True).alias("_hot"))
    )


def build_edges(
    linked_triples: DataFrame,
    salt: int = DEFAULT_SALT,
    hot_threshold_rows: int = 10_000,
) -> DataFrame:
    """(src, dst, pred) edges with weight + bounded provenance sample.

    Two-phase salted aggregation: partial agg keyed (key, salt) bounds hot
    (hub, hub, pred) keys; provenance kept as a deterministic min-k sample
    (sort_array + slice) so output is parallelism-invariant.

    SELECTIVE salting (measured, BENCH/SKEW.md): salting every key
    multiplies the partial stage's group count by ``salt``, which slows
    the balanced part of the corpus more than the straggler it removes —
    so a seeded sample (detect_hot_edge_keys) is counted per key first
    and only keys whose estimated full count exceeds ``hot_threshold_rows``
    get salted; cold keys keep ``_salt = 0`` (single group, map-side combine
    as before).  The hot-key set is tiny by construction (few mega-repo
    hubs), so it broadcasts.  Which keys get salted affects only the
    PLAN; the output is salt-invariant (tests/test_salting.py).
    ``hot_threshold_rows=0`` disables detection and salts everything
    (the bench's salted-all leg).

    The min-k slice is applied ALREADY AT THE PARTIAL STAGE: global min-k
    equals min-k over per-salt min-ks, so the final agg per hot key merges
    ``salt`` arrays of k structs instead of the key's full provenance set
    — without this the final sort_array over a hub key's entire
    provenance re-concentrates the skew the salt just split.
    """
    row_salt = F.pmod(F.xxhash64("repo", "path", "unit_id"), F.lit(salt))
    if salt > 1 and hot_threshold_rows > 0:
        hot = detect_hot_edge_keys(linked_triples, hot_threshold_rows)
        with_salt = (
            linked_triples.join(F.broadcast(hot), on=["src", "dst", "pred"], how="left")
            .withColumn(
                "_salt",
                F.when(F.col("_hot"), row_salt).otherwise(F.lit(0).cast("bigint")),
            )
            .drop("_hot")
        )
    else:
        with_salt = linked_triples.withColumn("_salt", row_salt)
    partial = with_salt.groupBy("src", "dst", "pred", "_salt").agg(
        F.count("*").alias("w"),
        F.slice(
            F.sort_array(F.collect_set(F.struct("repo", "path", "unit_id"))),
            1, N_PROVENANCE,
        ).alias("prov"),
    )
    final = partial.groupBy("src", "dst", "pred").agg(
        F.sum("w").alias("weight"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("prov"))), 1, N_PROVENANCE
        ).alias("provenance"),
    )
    return final


# no caller: kept only for perfbench/workloads.link_targets' lookup (ROADMAP item 5)
def mention_counts(linked_triples: DataFrame) -> DataFrame:
    """Per-canonical-entity mention count (subject or object occurrences)."""
    m = linked_triples.select(F.col("src").alias("canonical_id")).unionByName(
        linked_triples.select(F.col("dst").alias("canonical_id"))
    )
    return m.groupBy("canonical_id").agg(F.count("*").alias("mention_count"))


def materialize_graph(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """triples -> (nodes, edges): the epoch-0 merge, merge_graph without
    history."""
    from .merge import merge_graph

    return merge_graph(None, None, None, triples)[:2]


def write_repaired(df: DataFrame, path: str, keys: list[str]):
    """Repartition on the output key before write — clustered files, no
    small-file explosion; idempotent overwrite."""
    df.repartition(*keys).write.mode("overwrite").parquet(path)
