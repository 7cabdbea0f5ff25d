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

from pyspark.sql import DataFrame
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
    drops novel surfaces): link_input, then the executor its row count
    picks (``link/canonical.LINK_TASK_MAX_ROWS``, read at call time).
    Without a dim the link is a build, an epoch whose dim has no rows.

    Returns (canonical, relabel_map, n_canonical) as the link/canonical
    module docstring describes: canonical materialized with its row count
    (attach_canonical_ids' broadcast gate, no count job), and the relabel
    map (old_canonical_id -> new_canonical_id) size-gated for merge_graph's
    history joins."""
    from ..link import canonical as link

    rows, n_rows = link.link_input(delta_triples, existing_canonical)
    if n_rows <= link.LINK_TASK_MAX_ROWS:
        return link.link_one_task(rows, n_rows)
    return link.link_distributed(rows, n_rows)


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
