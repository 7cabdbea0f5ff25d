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

from pyspark.sql import DataFrame
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
    is re-linked.  Labels are min-entity-id over the merged clusters —
    deterministic under any batch split, and an existing cluster's id only
    changes when the delta merges it with a smaller-id cluster; those
    moves are returned as a relabel map (old_canonical_id ->
    new_canonical_id) so accumulated nodes/edges can be migrated (see
    merge_graph).

    With an existing dim only the DELTA'S NEIGHBORHOOD is re-linked: LSH
    pairing is restricted to buckets containing a new surface
    (link/canonical.py ``lsh_candidate_pairs_delta``), CC runs over only
    the components those pairs touch (new ids + every member of an
    existing cluster hit by a new edge), and untouched clusters keep
    their labels verbatim.  This is EXACT, not approximate (tested equal
    to the one-shot link over the union on random splits): an old–old
    pair in an under-cap bucket was already a candidate in the epoch its
    younger member arrived — buckets only grow — so its verdict is
    already reflected in the prior clusters, which are re-asserted as
    explicit edges below.  Per-epoch cost therefore scales with the
    delta's bucket neighborhood, not the accumulated dim — the property
    that keeps continuous maintenance viable as the dim grows without
    bound.

    Returns (canonical, relabel_map)."""
    from ..link.canonical import (
        entity_vertices,
        lsh_candidate_pairs,
        lsh_candidate_pairs_delta,
        minhash_signature,
    )
    from ..link.cc import connected_components

    cols = ["surface", "ent_type", "norm", "entity_id"]
    sig_cols = cols + ["shingles", "sig"]
    # signatures/shingles are deterministic in the surface — compute them
    # for the DELTA only and carry the dim's persisted ones forward
    # (minhash_signature is idempotent); the canonical frame returned
    # below keeps both columns, so state round-trips cache them
    new_verts = minhash_signature(entity_vertices(delta_triples).select(*cols))
    if existing_canonical is None:
        verts = new_verts.select(*sig_cols).dropDuplicates(
            ["surface", "ent_type"]
        ).localCheckpoint(eager=True)
        cand = lsh_candidate_pairs(verts)
        labels = connected_components(verts.select("entity_id").distinct(), cand)
    else:
        old = minhash_signature(existing_canonical.select(
            *(sig_cols if "sig" in existing_canonical.columns
              and "shingles" in existing_canonical.columns else cols)
        )).select(*sig_cols)
        # dim extension WITHOUT a full-dim shuffle: the old dim is already
        # unique on (surface, ent_type) — anti-join the (tiny) delta
        # against the dim's keys and append.  A dropDuplicates over the
        # union would shuffle every wide row (shingles + sig arrays) of
        # the accumulated dim once per epoch.
        new_only = (
            new_verts.select(*sig_cols)
            .join(
                existing_canonical.select("surface", "ent_type"),
                on=["surface", "ent_type"], how="left_anti",
            )
            .dropDuplicates(["surface", "ent_type"])
            .localCheckpoint(eager=True)
        )
        verts = old.unionByName(new_only)
        # Clusters must never split across epochs (documented contract,
        # and what keeps the relabel map FUNCTIONAL on old_canonical_id):
        # a band bucket that grows past MAX_BUCKET between epochs is
        # excluded from pairing, which can drop a candidate edge that
        # previously linked two members — CC would then split the old
        # cluster, old->new would go one-to-many, and _relabel's left
        # join would fan out history (silent count inflation).  Re-assert
        # every existing cluster as explicit edges: canonical_id is the
        # min member entity_id, i.e. itself a cluster vertex, so
        # (canonical_id, member) edges keep the old cluster connected.
        prior_edges = (
            existing_canonical.select(
                F.col("canonical_id").alias("src"),
                F.col("entity_id").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # new ENTITY ids (a new surface can share its normalized entity_id
        # with an old surface — that id is not new to the link graph)
        new_ids = (
            new_only.select("entity_id").distinct()
            .join(
                existing_canonical.select("entity_id").distinct(),
                on="entity_id", how="left_anti",
            )
            .localCheckpoint(eager=True)
        )
        cand = lsh_candidate_pairs_delta(verts, new_only).localCheckpoint(
            eager=True
        )
        # components the delta touches: new ids + old endpoints of new
        # edges, closed over their existing clusters
        endpoints = (
            cand.select(F.col("src").alias("entity_id"))
            .unionByName(cand.select(F.col("dst").alias("entity_id")))
            .distinct()
        )
        seeds = new_ids.unionByName(endpoints).distinct()
        ex = existing_canonical.select("entity_id", "canonical_id").distinct()
        affected_clusters = (
            ex.join(seeds, on="entity_id", how="left_semi")
            .select("canonical_id")
            .distinct()
        )
        affected_old = (
            ex.join(affected_clusters, on="canonical_id", how="left_semi")
            .select("entity_id")
            .distinct()
        )
        sub_ids = new_ids.unionByName(affected_old).distinct().localCheckpoint(
            eager=True
        )
        prior_aff = prior_edges.join(
            affected_clusters.withColumnRenamed("canonical_id", "src"),
            on="src", how="left_semi",
        )
        sub_edges = cand.select("src", "dst").unionByName(prior_aff)
        sub_labels = connected_components(sub_ids, sub_edges)
        unaffected = ex.join(sub_ids, on="entity_id", how="left_anti")
        labels = sub_labels.unionByName(unaffected)
    labels = labels.dropDuplicates(["entity_id"]).localCheckpoint(eager=True)
    canonical = verts.join(labels, on="entity_id")
    if existing_canonical is None:
        relabel = canonical.sparkSession.createDataFrame(
            [], "old_canonical_id bigint, new_canonical_id bigint"
        )
    else:
        relabel = (
            existing_canonical.select(
                "entity_id", F.col("canonical_id").alias("old_canonical_id")
            )
            .distinct()
            .join(labels, on="entity_id")
            .select(
                "old_canonical_id",
                F.col("canonical_id").alias("new_canonical_id"),
            )
            .filter(F.col("old_canonical_id") != F.col("new_canonical_id"))
            .distinct()
        )
        # Fail loudly rather than fan out history: prior_edges above makes
        # a split impossible, so a non-functional map here means a bug.
        dup = (
            relabel.groupBy("old_canonical_id")
            .agg(F.countDistinct("new_canonical_id").alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise RuntimeError(
                "update_canonical: relabel map is one-to-many (an existing "
                "cluster split) — refusing to migrate history"
            )
    return canonical, relabel


def merge_graph(
    existing_nodes: DataFrame | None,
    existing_edges: DataFrame | None,
    existing_canonical: DataFrame | None,
    delta_triples: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fold a delta triple batch into the materialized graph WITH entity-dim
    evolution: returns (nodes, edges, canonical).

    Contract (tested): one-shot materialization over A ∪ B equals
    merge_graph(materialize(A), triples_B) — the incremental path never
    drops novel surfaces (the dim is extended before attach) and never
    splits clusters (labels are recomputed over the accumulated dim, and
    history is migrated through the relabel map)."""
    from .materialize import (
        attach_canonical_ids,
        build_nodes,
        build_edges,
        mention_counts,
    )

    canonical, relabel = update_canonical(existing_canonical, delta_triples)
    canonical = canonical.localCheckpoint(eager=True)

    linked = attach_canonical_ids(delta_triples, canonical)
    linked = linked.localCheckpoint(eager=True)

    # delta nodes: canonical rows restricted to the delta's vertices
    from ..link.canonical import entity_vertices

    delta_surf = entity_vertices(delta_triples).select("surface", "ent_type").distinct()
    delta_can = canonical.join(delta_surf, on=["surface", "ent_type"])
    delta_nodes = build_nodes(delta_can).join(
        mention_counts(linked), on="canonical_id", how="left"
    ).fillna(0, subset=["mention_count"])
    delta_edges = build_edges(linked)

    if existing_nodes is None:
        return delta_nodes, delta_edges, canonical

    nodes_h = _relabel(existing_nodes, relabel, ["canonical_id"])
    edges_h = _relabel(existing_edges, relabel, ["src", "dst"])
    nodes = merge_nodes(nodes_h, delta_nodes)
    edges = merge_edges(edges_h, delta_edges)
    return nodes, edges, canonical
