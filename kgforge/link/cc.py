"""Connected components for entity linking: two paths behind one gate.

Both paths return one ``(vertex_col, canonical_id)`` row per distinct
vertex, canonical_id the minimum vertex id reachable over ``edges(src,
dst)`` inside the vertex set.  An edge with an endpoint outside the vertex
set is ignored; isolated vertices map to themselves.

The input (vertices as flagged self-loops plus the edges) is materialized
once, and its row count is observed in that same job.  The gate is
``functions/joins.BROADCAST_DIM_MAX_ROWS`` on that count, read at call
time:

* At or below it a numpy union-find (``_min_labels``) runs in ONE
  ``mapInPandas`` task over the materialized input (``coalesce(1)``: no
  shuffle), and its output is checkpointed once.  The whole call is two
  Spark jobs.  At these sizes job count, not rows, sets the cost: the
  iterative path below spends about seven jobs per round at 6-11 % core
  utilisation.
* Above it: min-label propagation with pointer jumping by DataFrame joins.
  Every vertex adopts the minimum label in its closed neighborhood, then
  compresses paths via ``l(v) <- l(l(v))`` (the doubling step of classic
  PRAM CC; same asymptotics as GraphFrames' large-star/small-star).
  Converges in O(log n) rounds; each round is two shuffles (neighbor agg +
  label self-join).  ``localCheckpoint`` per iteration truncates lineage so
  the plan doesn't grow exponentially (SURVEY.md §4.3); an iteration cap
  (``MAX_ITERATIONS``, read at call time) + convergence metric guard
  runaway inputs (never silent).

The link's two executors (link/canonical) reach this module differently:
``link_distributed`` calls ``connected_components``, resolved on this
module at call time; ``link_task`` runs ``_min_labels`` inside its own
one task, so a link below link/canonical.LINK_TASK_MAX_ROWS runs none of
the Spark paths here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

MAX_ITERATIONS = 25


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_col: str = "entity_id",
) -> DataFrame:
    """Return ``(vertex_col, canonical_id)`` — canonical_id = min vertex id
    reachable in the undirected graph ``edges(src, dst)``.

    Vertex ids may be any orderable type (bigint entity ids, md5 strings);
    duplicate vertex rows are allowed."""
    from ..functions import joins

    rows, n_rows = joins.counted_checkpoint(
        vertices.select(
            F.col(vertex_col).alias("src"),
            F.col(vertex_col).alias("dst"),
            F.lit(True).alias("is_vertex"),
        ).unionByName(edges.select("src", "dst", F.lit(False).alias("is_vertex")))
    )
    if n_rows <= joins.BROADCAST_DIM_MAX_ROWS:
        labels = _union_find(rows)
    else:
        labels = _label_propagation(rows)
    return labels.withColumnRenamed("a", vertex_col)


def _min_labels(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Per vertex 0..n-1, the smallest vertex of its component over the
    edges ``(src[i], dst[i])``: hook the larger root of every edge under
    the smaller one, compress every path to its root, repeat until each
    edge's two ends share a root.  A root is never hooked above itself,
    so the component's minimum stays its own root, and every round that
    does not finish hooks at least one root, so the loop ends."""
    label = np.arange(n)
    while True:
        ls, ld = label[src], label[dst]
        if np.array_equal(ls, ld):
            return label
        np.minimum.at(label, np.maximum(ls, ld), np.minimum(ls, ld))
        while True:
            up = label[label]
            if np.array_equal(up, label):
                break
            label = up


def _union_find(rows: DataFrame) -> DataFrame:
    """The one-task path: materialized (src, dst, is_vertex) rows ->
    (a, canonical_id)."""
    id_type = rows.schema["src"].dataType
    schema = StructType([
        StructField("a", id_type, False),
        StructField("canonical_id", id_type, False),
    ])

    def components(batches):
        frames = list(batches)
        if not frames:
            return
        frame = pd.concat(frames, ignore_index=True)
        # dense ids in sorted order, so the min index is the min id
        ids, idx = np.unique(
            np.concatenate([frame["src"].to_numpy(), frame["dst"].to_numpy()]),
            return_inverse=True,
        )
        src, dst = np.split(idx, 2)
        is_vertex = frame["is_vertex"].to_numpy(dtype=bool)
        in_set = np.zeros(len(ids), dtype=bool)
        in_set[src[is_vertex]] = True
        keep = ~is_vertex & in_set[src] & in_set[dst]
        label = _min_labels(src[keep], dst[keep], len(ids))
        vs = np.flatnonzero(in_set)
        yield pd.DataFrame({"a": ids[vs], "canonical_id": ids[label[vs]]})

    return rows.coalesce(1).mapInPandas(components, schema).localCheckpoint(
        eager=True
    )


def _label_propagation(rows: DataFrame) -> DataFrame:
    """The distributed path: materialized (src, dst, is_vertex) rows ->
    (a, canonical_id)."""
    from ..functions.joins import maybe_broadcast

    edges = rows.filter(~F.col("is_vertex"))

    # Undirected closure: both directions + self loop.
    # Materialized once: every round's convergence count is a separate
    # action, and without this the union+distinct (a full edge shuffle)
    # re-executes per round — at 100x that recompute, not the label
    # joins, is the growing term.
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        rows.filter("is_vertex")
        .select(F.col("src").alias("a"), F.col("src").alias("canonical_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r8: the label table and its per-round derivatives are vertex-scale
    # dims — SIZE-GATED broadcasts (one count here gates every round;
    # labels stays 1:1 with the vertex set).  Under the gate a round is
    # one exchange (the neighbor-min groupBy) instead of four; above it
    # every join falls back to the keyed shuffle.  All label math is
    # integer min — broadcast-join row-order changes cannot perturb it.
    n_v = labels.count()

    for _ in range(MAX_ITERATIONS):
        # min over closed neighborhood: own label ∧ min(neighbor labels)
        nbr_min = (
            sym.join(
                maybe_broadcast(labels.withColumnRenamed("a", "b"), n_rows=n_v),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("canonical_id").alias("nbr_min"))
        )
        new_labels = labels.join(
            maybe_broadcast(nbr_min, n_rows=n_v), on="a", how="left"
        ).select(
            "a",
            F.least(
                F.col("canonical_id"), F.coalesce("nbr_min", "canonical_id")
            ).alias("canonical_id"),
            F.col("canonical_id").alias("_prev"),
        )
        # pointer jumping (path compression): l(v) <- l(l(v)).  Labels are
        # vertex ids, so the self-join resolves; this is what turns 1-hop
        # propagation into O(log n) convergence on long chains.  The
        # PRE-round label rides along as _prev so the convergence check
        # below is a scan of the frame this round materializes anyway —
        # not an extra labels-vs-labels shuffle join per round.  Paired
        # 100x study (BENCH/single_kg_cc_components_100x.json): best
        # flat, median 0.95x — this corpus converges in ~2 rounds, so
        # the saving is one shuffle per round; the structural case is
        # long-chain graphs where rounds (and the per-round join's
        # label-table shuffle) multiply.
        parent = new_labels.select(
            F.col("a").alias("p"), F.col("canonical_id").alias("p_label")
        )
        parent = maybe_broadcast(parent, n_rows=n_v)
        new_labels = (
            new_labels.join(parent, new_labels.canonical_id == parent.p, "left")
            .select(
                "a",
                F.least(
                    F.coalesce("p_label", "canonical_id"), F.col("canonical_id")
                ).alias("canonical_id"),
                F.col("_prev"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(F.col("canonical_id") != F.col("_prev"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("a", "canonical_id")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITERATIONS} iterations"
        )
    return labels
