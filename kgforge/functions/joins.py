"""Size-gated broadcast hints for joins against data-dependent dims.

An unconditional ``F.broadcast(dim)`` hint bypasses Spark's own size
checks (``spark.sql.autoBroadcastJoinThreshold``): the planner trusts
the hint and builds the hash relation no matter how large the dim turns
out to be.  For a FIXED dim (the 7x7 entity-type filter the reference
hard-codes, entity_pair_filter.py:376-379) that is safe because the
size is a schema constant.  For a DATA-DEPENDENT dim — per-vertex
degrees or ranks (O(|V|), billions of canonical entities at 100 TB),
distinct surface forms, per-document statistics — the same hint is an
executor OOM waiting for the first big input (r5 VERDICT finding #1).

``maybe_broadcast`` encodes the precondition instead of assuming it:
count the dim once (callers pass dims that sit on a localCheckpoint, so
the count is a cheap cached scan — or pass ``n_rows`` from a count of a
1:1 precursor already taken), hint only under the threshold, and above
it return the frame unhinted so the planner falls back to a shuffle
join and AQE handles size/skew at runtime.

Shared by graph/materialize.attach_canonical_ids,
jobs/predict_job.link_against_graph, both link executors of
link/canonical (the relabel map for merge_graph's history joins; the
distributed one also the dim's keys and roots), its delta pairing
``lsh_candidate_pairs_delta`` (the hot bucket keys) and link/cc's
distributed path.  ``BROADCAST_DIM_MAX_ROWS``
also gates link/cc.connected_components between its one-task union-find
and its distributed path.  The gate between the link's executors
(graph/merge.update_canonical) is the far smaller
link/canonical.LINK_TASK_MAX_ROWS: the one-task link holds whole vertex
rows and their candidate pairs, not narrow (key, id) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

# ~a few hundred MB of (key, id) rows — comfortably under executor
# memory with room for the join's probe side.  Module-level (not a
# default-arg binding) so tests can monkeypatch the gate.
BROADCAST_DIM_MAX_ROWS = 5_000_000


def maybe_broadcast(
    df: DataFrame,
    *,
    n_rows: int | None = None,
) -> DataFrame:
    """Broadcast-hint ``df`` only if its row count is under the gate
    ``BROADCAST_DIM_MAX_ROWS``, read at call time (monkeypatchable).

    ``n_rows``: pre-counted size, for callers that already counted the
    dim (or a 1:1 precursor — e.g. a row_number rank table has exactly
    its input's count, so counting the checkpointed input covers both).
    When omitted the dim is counted here."""
    if n_rows is None:
        n_rows = df.count()
    return F.broadcast(df) if n_rows <= BROADCAST_DIM_MAX_ROWS else df


def counted_checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` materialized (``localCheckpoint(eager=True)``) and its row
    count, observed in that same job: an ``n_rows`` for a size gate at no
    extra job (a ``count()`` on the checkpoint is two more under AQE)."""
    n = Observation()
    df = df.observe(n, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return df, n.get["n"]
