"""Incremental graph maintenance: fold a delta batch into the
materialized nodes/edges tables and the canonical entity dim.

Pairs with kgforge/streaming.py: per maintenance epoch the delta is
folded in without recomputing history.  ``update_canonical`` evolves the
dim and returns a relabel map for the history's moved ids;
``merge_graph`` hands the relabelled history to graph/materialize's
``build_nodes``/``build_edges``, which aggregate it together with the
delta's linked triples — one aggregation per table, the functions a
build calls without history.  Keyed on the graph keys, those
aggregations are idempotent given exactly-once deltas (the stream
checkpoint provides them) and associative (merge(merge(a,b),c) ==
merge(a, b∪c)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions import joins


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
) -> tuple[DataFrame, DataFrame, int]:
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

    Returns (canonical, relabel_map, n_canonical): canonical
    materialized, with its row count observed in the materializing job
    (attach_canonical_ids' broadcast gate, no count job), and the relabel
    map checkpointed and size-gated (``maybe_broadcast``) for
    merge_graph's history joins."""
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
        canonical, relabel, n_canonical = link_one_task(rows)
        # the relabel map has at most one row per input row
        return canonical, joins.maybe_broadcast(relabel, n_rows=n_rows), n_canonical

    new_verts = rows.filter("is_new").select(*VERTEX_COLS)
    if existing_canonical is None:
        labels = connected_components(
            new_verts.select("entity_id"), lsh_candidate_pairs(new_verts)
        )
        canonical, n_canonical = joins.counted_checkpoint(
            new_verts.join(labels, on="entity_id")
        )
        relabel = canonical.sparkSession.createDataFrame(
            [], "old_canonical_id bigint, new_canonical_id bigint"
        )
        return canonical, relabel, n_canonical

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
    canonical, n_canonical = joins.counted_checkpoint(
        verts.withColumn("root", F.coalesce("root", "entity_id"))
        .join(labels, on="root", how="left")
        .select(
            "entity_id", "surface", "ent_type", "norm", "shingles", "sig",
            F.coalesce("label", "root").alias("canonical_id"),
        )
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
    return canonical, joins.maybe_broadcast(relabel, n_rows=seen.get["rows"]), n_canonical


def merge_graph(
    existing_nodes: DataFrame | None,
    existing_edges: DataFrame | None,
    existing_canonical: DataFrame | None,
    delta_triples: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fold a delta triple batch into the materialized graph WITH entity-dim
    evolution: returns (nodes, edges, canonical).

    One graph assembly for the build and every epoch: update_canonical ->
    attach_canonical_ids -> build_nodes / build_edges, whose aggregations
    fold in the relabelled history.  Without history (``existing_nodes is
    None``) this is the epoch-0 merge that lineage.run_kg_pipeline's
    stages and materialize_graph run.

    Contract (tested): one-shot materialization over A ∪ B equals
    merge_graph(materialize(A), triples_B) — the incremental path never
    drops novel surfaces (the dim is extended before attach, so every
    surface of the delta is an endpoint of a linked triple) and never
    splits clusters (update_canonical links the delta against the dim
    contracted to its cluster roots).  No count job: update_canonical
    observes canonical's size (the attach's broadcast gate) and the
    linked checkpoint its own (build_edges' hot-key gate).  History
    migrates through the relabel map, one row per moved old root,
    size-gated by update_canonical, so below
    ``functions/joins.BROADCAST_DIM_MAX_ROWS`` each of _relabel's three
    joins broadcasts the map instead of shuffling the accumulated
    nodes/edges."""
    from .materialize import attach_canonical_ids, build_edges, build_nodes

    canonical, relabel, n_canonical = update_canonical(existing_canonical, delta_triples)
    linked, n_linked = joins.counted_checkpoint(
        attach_canonical_ids(delta_triples, canonical, n_dim=n_canonical)
    )
    nodes_h = edges_h = None
    if existing_nodes is not None:
        nodes_h = _relabel(existing_nodes, relabel, ["canonical_id"])
        edges_h = _relabel(existing_edges, relabel, ["src", "dst"])
    nodes = build_nodes(linked, history=nodes_h)
    edges = build_edges(linked, history=edges_h, n_rows=n_linked)
    return nodes, edges, canonical
