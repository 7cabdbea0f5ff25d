"""Incremental graph maintenance: merge a delta batch into existing
nodes/edges tables.

Pairs with kgforge/streaming.py: streamed triples accumulate append-only;
per maintenance epoch the delta is folded into the materialized graph
without recomputing history.  All merges are pure aggregations keyed on
the graph keys — idempotent given exactly-once deltas (which the stream
checkpoint provides), associative (merge(merge(a,b),c) == merge(a, b∪c)),
and shuffle only on the small aggregated key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .materialize import N_PROVENANCE


def merge_edges(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold delta edges (src, dst, pred, weight, provenance) into existing:
    weights add, provenance stays a deterministic min-k sample."""
    unioned = existing.select("src", "dst", "pred", "weight", "provenance").unionByName(
        delta.select("src", "dst", "pred", "weight", "provenance")
    )
    return unioned.groupBy("src", "dst", "pred").agg(
        F.sum("weight").alias("weight"),
        F.slice(
            F.sort_array(F.array_distinct(F.flatten(F.collect_list("provenance")))),
            1,
            N_PROVENANCE,
        ).alias("provenance"),
    )


def merge_nodes(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold delta nodes (canonical_id, ent_type, surface_forms,
    mention_count): counts add, surface-form sets union."""
    unioned = existing.select(
        "canonical_id", "ent_type", "surface_forms", "mention_count"
    ).unionByName(
        delta.select("canonical_id", "ent_type", "surface_forms", "mention_count")
    )
    return unioned.groupBy("canonical_id", "ent_type").agg(
        F.sort_array(
            F.array_distinct(F.flatten(F.collect_list("surface_forms")))
        ).alias("surface_forms"),
        F.sum("mention_count").alias("mention_count"),
    ).withColumn("n_surfaces", F.size("surface_forms").cast("bigint"))


def _relabel(df: DataFrame, mapping: DataFrame, cols: list[str]) -> DataFrame:
    """Rewrite canonical-id columns through (old_canonical_id ->
    new_canonical_id); ids absent from the mapping are unchanged."""
    for c in cols:
        m = mapping.select(
            F.col("old_canonical_id").alias(c),
            F.col("new_canonical_id").alias(f"__new_{c}"),
        )
        df = (
            df.join(m, on=c, how="left")
            .withColumn(c, F.coalesce(f"__new_{c}", c))
            .drop(f"__new_{c}")
        )
    return df


def update_canonical(
    existing_canonical: DataFrame | None,
    delta_triples: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Evolve the canonical entity dimension with a delta batch (ADVICE r1:
    per-batch canonicalization is unstable and inner-join attach silently
    drops novel surfaces).

    The ACCUMULATED vertex set (existing dim surfaces ∪ delta surfaces)
    is linked.  Labels are min-entity-id over the merged clusters —
    deterministic under any batch split, and an existing cluster's id only
    changes when the delta merges it with a smaller-id cluster; those
    moves are returned as a relabel map (old_canonical_id ->
    new_canonical_id) so accumulated nodes/edges can be migrated (see
    merge_graph).

    With an existing dim only the DELTA'S NEIGHBORHOOD is re-linked, over
    the dim CONTRACTED to its clusters.  LSH pairing is restricted to
    buckets containing a new surface.  Every existing cluster is
    contracted onto its root — its canonical_id, already the minimum
    member entity_id — and CC runs over the verified pairs between those
    roots and the new ids.  A surface's new id is its root's CC label, and
    the relabel map is the old roots whose label changed.  So a cluster
    can never split, even when a candidate edge that once linked two
    members is no longer paired (its band bucket grew past MAX_BUCKET).
    This is EXACT, not approximate (tested equal to the one-shot link over
    the union on random splits): the minimum of a merged component is the
    minimum of its roots and new ids, and an old–old pair in an under-cap
    bucket was already a candidate in the epoch its younger member
    arrived — buckets only grow — so its verdict is already in the prior
    clusters.

    Two paths, one gate (link/canonical.py): the old dim's rows and the
    delta's vertices are materialized once (``link_input``), and their
    row count is observed in that job.  At or below
    ``link/canonical.LINK_TASK_MAX_ROWS`` the whole link is one
    ``mapInPandas`` task (``link_one_task``): the dim fits one task, and
    job count, not rows, sets the cost.  Above it the delta LSH
    (``lsh_candidate_pairs_delta``) and link/cc run as Spark joins whose
    cost scales with the delta's bucket neighborhood, not the accumulated
    dim — the property that keeps continuous maintenance viable as the dim
    grows without bound.  Without a dim every vertex is new and the full
    LSH links them all.

    Returns (canonical, relabel_map): canonical materialized, the relabel
    map checkpointed and size-gated (``maybe_broadcast``) for
    merge_graph's history joins."""
    from ..functions import joins
    from ..link.canonical import (
        LINK_TASK_MAX_ROWS,
        VERTEX_COLS,
        link_input,
        link_one_task,
        lsh_candidate_pairs,
        lsh_candidate_pairs_delta,
    )
    from ..link.cc import connected_components

    rows, n_rows = link_input(delta_triples, existing_canonical)
    if n_rows <= LINK_TASK_MAX_ROWS:
        canonical, relabel = link_one_task(rows)
        # the relabel map has at most one row per input row
        return canonical, joins.maybe_broadcast(relabel, n_rows=n_rows)

    new_verts = rows.filter("is_new").select(*VERTEX_COLS)
    if existing_canonical is None:
        labels = connected_components(
            new_verts.select("entity_id"), lsh_candidate_pairs(new_verts)
        )
        canonical = new_verts.join(labels, on="entity_id").localCheckpoint(eager=True)
        relabel = canonical.sparkSession.createDataFrame(
            [], "old_canonical_id bigint, new_canonical_id bigint"
        )
        return canonical, relabel

    old = rows.filter(~F.col("is_new")).drop("is_new")
    root = old.select("entity_id", "root")
    # dim extension WITHOUT a full-dim shuffle: the old dim is already
    # unique on (surface, ent_type) — anti-join the (tiny) delta against
    # the dim's keys and append.  A dropDuplicates over the union would
    # shuffle every wide row (shingles + sig arrays) of the accumulated
    # dim once per epoch.  A new surface can share its normalized
    # entity_id with an old one (a case variant): it takes that entity's
    # root, and a null root marks an id new to the link graph.
    new_only = (
        new_verts
        .join(old.select("surface", "ent_type"), on=["surface", "ent_type"], how="left_anti")
        .join(root, on="entity_id", how="left")
        .dropDuplicates(["surface", "ent_type"])
        .localCheckpoint(eager=True)
    )
    verts = old.unionByName(new_only)

    # candidate pairs contracted to root edges, checkpointed once: CC reads
    # them twice (vertices and edges), and the LSH must not run twice.
    # Root lookups may repeat a pair (surface variants share an
    # entity_id); duplicate edges do not change components.
    cand = lsh_candidate_pairs_delta(verts, new_only)
    for end in ("src", "dst"):
        cand = cand.join(
            root.withColumnRenamed("entity_id", end)
            .withColumnRenamed("root", f"{end}_root"),
            on=end, how="left",
        )
    edges = (
        cand.select(
            F.coalesce("src_root", "src").alias("src"),
            F.coalesce("dst_root", "dst").alias("dst"),
            F.col("src_root").isNotNull().alias("src_old"),
            F.col("dst_root").isNotNull().alias("dst_old"),
        )
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    ends = edges.select(
        F.col("src").alias("root"), F.col("src_old").alias("old")
    ).unionByName(
        edges.select(F.col("dst").alias("root"), F.col("dst_old").alias("old"))
    )
    labels = connected_components(ends, edges, vertex_col="root").withColumnRenamed(
        "canonical_id", "label"
    )
    canonical = (
        verts.withColumn("root", F.coalesce("root", "entity_id"))
        .join(labels, on="root", how="left")
        .select(
            "entity_id", "surface", "ent_type", "norm", "shingles", "sig",
            F.coalesce("label", "root").alias("canonical_id"),
        )
        .localCheckpoint(eager=True)
    )

    # old roots whose label changed, one row each.  The CC labels are
    # functional by construction, so more than one new id per old root is
    # a bug: fail loudly rather than fan out history in _relabel.
    seen = Observation("relabel")
    relabel = (
        labels.join(ends.filter("old"), on="root", how="left_semi")
        .filter(F.col("root") != F.col("label"))
        .groupBy(F.col("root").alias("old_canonical_id"))
        .agg(
            F.min("label").alias("new_canonical_id"),
            F.count_distinct("label").alias("n_new"),
        )
        .observe(seen, F.count(F.lit(1)).alias("rows"), F.max("n_new").alias("fanout"))
        .localCheckpoint(eager=True)
        .drop("n_new")
    )
    if (seen.get["fanout"] or 0) > 1:
        raise RuntimeError(
            "update_canonical: relabel map is one-to-many (an existing "
            "cluster split) — refusing to migrate history"
        )
    return canonical, joins.maybe_broadcast(relabel, n_rows=seen.get["rows"])


def merge_graph(
    existing_nodes: DataFrame | None,
    existing_edges: DataFrame | None,
    existing_canonical: DataFrame | None,
    delta_triples: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fold a delta triple batch into the materialized graph WITH entity-dim
    evolution: returns (nodes, edges, canonical).

    One graph assembly for the build and every epoch: update_canonical ->
    attach_canonical_ids -> build_nodes -> build_edges, then the history
    merge.  Without history (``existing_nodes is None``) this is the
    epoch-0 merge: graph/materialize.materialize_graph calls it, and
    lineage.run_kg_pipeline's stages make the same calls.

    Contract (tested): one-shot materialization over A ∪ B equals
    merge_graph(materialize(A), triples_B) — the incremental path never
    drops novel surfaces (the dim is extended before attach, so every
    surface of the delta is an endpoint of a linked triple and build_nodes
    sees it) and never splits clusters (update_canonical links the delta
    against the dim contracted to its cluster roots).  Below
    ``link/canonical.LINK_TASK_MAX_ROWS`` linked rows that link is one
    ``mapInPandas`` task, above it Spark joins (update_canonical); both
    return canonical materialized, so it is not checkpointed again here.
    History is migrated through the relabel map: one row per moved old
    root, checkpointed and size-gated by update_canonical, so below
    ``functions/joins.BROADCAST_DIM_MAX_ROWS`` each of _relabel's three
    joins broadcasts the map instead of shuffling the accumulated
    nodes/edges."""
    from .materialize import attach_canonical_ids, build_edges, build_nodes

    canonical, relabel = update_canonical(existing_canonical, delta_triples)
    linked = attach_canonical_ids(delta_triples, canonical).localCheckpoint(eager=True)
    delta_nodes = build_nodes(linked)
    delta_edges = build_edges(linked)

    if existing_nodes is None:
        return delta_nodes, delta_edges, canonical

    nodes_h = _relabel(existing_nodes, relabel, ["canonical_id"])
    edges_h = _relabel(existing_edges, relabel, ["src", "dst"])
    nodes = merge_nodes(nodes_h, delta_nodes)
    edges = merge_edges(edges_h, delta_edges)
    return nodes, edges, canonical
