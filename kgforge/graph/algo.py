"""Iterative graph algorithms over the materialized KG — PageRank and
synchronous label propagation (scored by ``modularity``) — with BOTH
execution modes a production deployment needs (r4 VERDICT #2):

- ``rounds=k`` runs exactly k synchronous rounds.  Deterministic and
  engine-portable — this is what the driver-facing queries pin against
  their unrolled DuckDB oracles.
- ``rounds=None`` iterates to convergence under the CC loop's guard
  pattern (link/cc.py:46): a hard ``max_rounds`` cap with a NON-SILENT
  RuntimeError on non-convergence — an unconverged ranking silently
  shipped is the failure mode the guard exists for.

Per-round cost shape (both algorithms): one shuffle on the edge key +
one per-vertex aggregate; state is localCheckpointed per round so the
lineage/plan stays linear in rounds instead of exponential.  The
convergence check is one extra tiny aggregate per round (max |delta| /
changed-count), the standard driver-side sync every iterative Spark
algorithm pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pr_setup(de: DataFrame):
    """(de, verts, n, od, dang_v) shared by the iteration loop and the
    external fixpoint-residual check.  If ``de`` carries a ``w`` column
    the walk is WEIGHTED: out-"degree" is the out-weight sum and each
    edge forwards pr·w/Σw — with w ≡ 1.0 this reduces bit-identically to
    the uniform split (1.0·pr/COUNT == pr/SUM(1.0) in IEEE754).
    Edges with NULL or non-positive weight are DROPPED before the
    degree sum: they carry no walk mass, and keeping them would let a
    src whose weights sum to 0 produce NULL/inf contributions that
    F.sum silently discards — leaking total rank mass without an
    error (the vertex is not caught by the dangling left_anti because
    it still has od rows).  After the filter every od degree is > 0,
    and a vertex with ONLY non-positive out-edges becomes properly
    dangling.

    r8: everything static is folded out of the round plan ONCE — the
    out-degree rides ON the edge row (``dew``: src, dst, w, deg), and
    the dangling indicator rides ON the vertex row (``verts``: v,
    _is_dang), so a round needs neither the od join nor the dangling
    anti-join."""
    from ..functions.joins import maybe_broadcast

    if "w" not in de.columns:
        de = de.withColumn("w", F.lit(1.0))
    else:
        de = de.filter(F.col("w") > 0)
    de = de.localCheckpoint(eager=True)
    verts = (
        de.select(F.col("src").alias("v"))
        .unionByName(de.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    od = de.groupBy("src").agg(F.sum("w").alias("deg"))
    dew = de.join(maybe_broadcast(od, n_rows=n), on="src").localCheckpoint(
        eager=False
    )
    verts = verts.join(
        maybe_broadcast(
            od.select(F.col("src").alias("v"), F.lit(True).alias("_has_out")),
            n_rows=n,
        ),
        on="v",
        how="left",
    ).select(
        "v", F.coalesce("_has_out", F.lit(False)).alias("_has_out")
    ).withColumn("_is_dang", ~F.col("_has_out")).drop("_has_out").localCheckpoint(
        eager=False
    )
    return dew, verts, n


def _pr_step(
    dew, n, pr, damping, seed, restart, keep_prev=False
) -> DataFrame:
    """ONE synchronous power-iteration step — the only place the update
    rule lives, shared by pagerank()'s loop and pagerank_residual().

    r8 job shape: ``pr`` IS the vertex frame (one row per vertex, the
    dangling indicator riding along), so the step needs no verts join
    and no dangling anti-join — the dangling mass is a 1-row aggregate
    over pr's own flag, cross-joined into the update plan instead of a
    per-round driver collect, and with ``keep_prev`` the pre-round rank
    rides the round's own materialized frame so the caller's
    convergence delta is a cheap scan, not a join job.  The rank vector
    and the contribution aggregate are SIZE-GATED broadcasts
    (functions/joins.maybe_broadcast, n = the vertex count): under the
    gate a round is one exchange (the contribution groupBy); above it
    both joins fall back to keyed shuffles exactly as before.  The
    update arithmetic is unchanged (same IEEE754 ops on the same
    scalar)."""
    from ..functions.joins import maybe_broadcast

    dang = pr.agg(
        F.coalesce(
            F.sum(F.when(F.col("_is_dang"), F.col("pr"))), F.lit(0.0)
        ).alias("_dang")
    )
    contrib = (
        dew.join(
            maybe_broadcast(
                pr.select(F.col("v").alias("src"), "pr"), n_rows=n
            ),
            on="src",
        )
        .groupBy(F.col("dst").alias("v"))
        .agg(F.sum(F.col("pr") * F.col("w") / F.col("deg")).alias("s"))
    )
    if seed is None:
        new_col = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping)
            * (F.coalesce("s", F.lit(0.0)) + F.col("_dang") / n)
        )
    else:
        new_col = (
            F.lit(1.0 - damping) * restart
            + F.lit(damping)
            * (F.coalesce("s", F.lit(0.0)) + F.col("_dang") * restart)
        )
    cols = ["v", new_col.alias("pr"), "_is_dang"] + (
        [F.col("pr").alias("_prev")] if keep_prev else []
    )
    base = pr.select("v", "_is_dang", "pr") if keep_prev else pr.select(
        "v", "_is_dang"
    )
    return (
        base.join(maybe_broadcast(contrib, n_rows=n), on="v", how="left")
        .crossJoin(dang)
        .select(*cols)
        .localCheckpoint(eager=True)
    )


def pagerank_residual(
    de: DataFrame, pr: DataFrame, *, damping: float = 0.85, seed=None,
    _setup=None,
) -> float:
    """Fixpoint residual ``max |step(pr) - pr|`` of a rank vector under
    one more synchronous step.  A vector pagerank(rounds=None, tol=t)
    returned satisfies residual < t (power iteration contracts, so the
    step AFTER the converged one is no larger than the converged delta)
    — the assertable invariant kg_pagerank_converged ships.  ``_setup``
    lets a caller that already ran ``_pr_setup`` on the same edge list
    (kg_pagerank_converged runs the loop first) skip re-materializing
    the static frames."""
    from ..functions.joins import maybe_broadcast

    dew, verts, n = _setup if _setup is not None else _pr_setup(de)
    if n == 0:
        return 0.0  # empty graph: the empty vector is trivially a fixpoint
    restart = F.lit(1.0 / n) if seed is None else (
        F.col("v") == seed
    ).cast("double")
    # attach the static dangling flag to the caller's rank vector (pr
    # frames inside the loop already carry it)
    prf = verts.join(
        maybe_broadcast(pr.select("v", "pr"), n_rows=n), on="v"
    ).select("v", "pr", "_is_dang")
    nxt = _pr_step(dew, n, prf, damping, seed, restart, keep_prev=True)
    return (
        nxt.agg(F.max(F.abs(F.col("pr") - F.col("_prev")))).collect()[0][0]
    )


def pagerank(
    de: DataFrame,
    *,
    rounds: int | None = 3,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_rounds: int = 50,
    seed=None,
    stats: dict | None = None,
    init: DataFrame | None = None,
    _setup=None,
) -> DataFrame:
    """PageRank over distinct directed edges ``de(src, dst)``.  Returns
    (v, pr) unrounded.  ``stats`` (optional dict) receives
    {'rounds': executed, 'last_delta': max |pr_t - pr_{t-1}|} — the
    convergence record benches report.

    ``seed=None`` (global): uniform restart vector, dangling mass
    redistributed uniformly.  ``seed=<vertex id>`` (personalized): the
    restart vector is concentrated at the seed and dangling mass
    returns to it — PPR, scores measure proximity to the seed.

    ``rounds=None``: power-iterate until ``max |pr_t - pr_{t-1}| < tol``,
    raising after ``max_rounds`` — the guard, not a silent cap.

    ``init`` (global mode only): WARM-START rank vector (v, pr) — e.g.
    the previous epoch's converged ranks after a graph delta.  Vertices
    missing from ``init`` (new this epoch) start at 1/n; the vector is
    renormalized to unit mass so the uniform-restart invariant (total
    rank = 1) holds from round one.  Power iteration converges from any
    positive vector, and a near-fixpoint start cuts rounds-to-converge
    — the incremental-graph path (measured in BENCH/CONVERGENCE.md).
    """
    if init is not None and seed is not None:
        raise ValueError("warm-start init is defined for global mode only")
    dew, verts, n = _setup if _setup is not None else _pr_setup(de)
    if n == 0:
        # Legitimately empty graph (no edges, or every edge filtered by
        # the w <= 0 rule): the rank vector over the empty vertex set is
        # the empty frame, not a ZeroDivisionError at 1.0/n — a cron
        # maintenance job hitting an empty epoch must treat it as a
        # no-op (r6 ADVICE, medium).
        if stats is not None:
            stats["rounds"], stats["last_delta"] = 0, 0.0
        return verts.withColumn("pr", F.lit(1.0)).select("v", "pr")
    if seed is None:
        restart = F.lit(1.0 / n)
    else:
        restart = (F.col("v") == seed).cast("double")
    if init is None:
        pr = verts.withColumn("pr", restart).select("v", "pr", "_is_dang")
    else:
        warm = verts.join(
            init.select("v", F.col("pr").alias("pr0")), on="v", how="left"
        ).select("v", F.coalesce("pr0", F.lit(1.0 / n)).alias("pr"), "_is_dang")
        warm = warm.localCheckpoint(eager=True)
        mass = warm.agg(F.sum("pr")).collect()[0][0]
        pr = warm.select(
            "v", (F.col("pr") / F.lit(mass)).alias("pr"), "_is_dang"
        )

    n_rounds = rounds if rounds is not None else max_rounds
    for i in range(n_rounds):
        if rounds is None:
            # _prev rides the round's materialized frame, so the delta is
            # one cheap aggregate over already-checkpointed rows — no
            # extra join job per round
            new_pr = _pr_step(
                dew, n, pr, damping, seed, restart, keep_prev=True
            )
            delta = (
                new_pr.agg(F.max(F.abs(F.col("pr") - F.col("_prev"))))
                .collect()[0][0]
            )
            pr = new_pr.select("v", "pr", "_is_dang")
            if stats is not None:
                stats["rounds"], stats["last_delta"] = i + 1, delta
            if delta < tol:
                break
        else:
            pr = _pr_step(dew, n, pr, damping, seed, restart)
            if stats is not None:
                stats["rounds"] = i + 1
    else:
        if rounds is None:
            raise RuntimeError(
                f"pagerank did not converge to tol={tol} in {max_rounds} rounds"
            )
    return pr.select("v", "pr")


def lpa_communities(
    nbr: DataFrame,
    *,
    rounds: int | None = 3,
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Synchronous label propagation over a symmetric neighbor list
    ``nbr(v, u)`` (both directions present).  Deterministic update:
    most-frequent neighbor label, ties to the smallest label.  Returns
    (v, label).

    ``rounds=None``: iterate until no label changes.  Synchronous LPA
    can enter a period-2 oscillation (two labelings alternating — the
    classic bipartite flip); that is detected by also comparing against
    the labeling from two rounds back and stopping there, which is
    deterministic.  ``max_rounds`` exhaustion without either condition
    raises — never a silently-unconverged community map.
    """
    from ..functions.joins import maybe_broadcast

    nbr = nbr.localCheckpoint(eager=True)
    labels = nbr.select("v").distinct().select("v", F.col("v").alias("label"))
    labels = labels.localCheckpoint(eager=True)
    n_v = labels.count()
    prev_prev: DataFrame | None = None

    def _changed(a: DataFrame, b: DataFrame) -> int:
        return (
            a.alias("n")
            .join(b.alias("o"), on="v")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )

    n_rounds = rounds if rounds is not None else max_rounds
    for i in range(n_rounds):
        cnt = (
            nbr.join(
                maybe_broadcast(
                    labels.withColumnRenamed("v", "u"), n_rows=n_v
                ),
                on="u",
            )
            .groupBy("v", "label")
            .agg(F.count("*").alias("c"))
        )
        new_labels = (
            cnt.groupBy("v")
            .agg(
                F.min_by(
                    "label", F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("label")
            )
            .localCheckpoint(eager=True)
        )
        if stats is not None:
            stats["rounds"] = i + 1
        if rounds is None:
            if _changed(new_labels, labels) == 0:
                labels = new_labels
                break
            if prev_prev is not None and _changed(new_labels, prev_prev) == 0:
                # period-2 oscillation: new == two rounds back; stopping
                # here is deterministic (first detection point)
                labels = new_labels
                break
            prev_prev = labels
            labels = new_labels
        else:
            labels = new_labels
    else:
        if rounds is None:
            raise RuntimeError(
                f"lpa_communities did not converge in {max_rounds} rounds"
            )
    return labels


def modularity(und: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community Newman modularity contributions for a given
    partition: Q_c = e_in(c)/m - (deg_sum(c)/2m)^2; global Q = sum of
    the ``q_contrib`` column.

    ``und``: undirected distinct edges (a, b); ``labels``: (v, label).
    The label dim is O(|V|) so both attachment joins are keyed shuffle
    joins (never force-broadcast — the r5 gate rule); 2m rides in as a
    1-row crossJoin, not a driver collect."""
    nbr = und.select(F.col("a").alias("v")).unionByName(
        und.select(F.col("b").alias("v"))
    )
    deg = nbr.groupBy("v").agg(F.count("*").alias("deg"))
    m = und.agg(F.count("*").cast("double").alias("m"))
    ein = (
        und.join(labels.select(F.col("v").alias("a"), F.col("label").alias("la")), "a")
        .join(labels.select(F.col("v").alias("b"), F.col("label").alias("lb")), "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count("*").alias("e_in"))
    )
    dsum = (
        labels.join(deg, "v")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum("deg").cast("bigint").alias("deg_sum"),
        )
    )
    return (
        dsum.join(ein, "community", "left")
        .crossJoin(m)
        .select(
            "community",
            "n_members",
            F.coalesce("e_in", F.lit(0)).cast("bigint").alias("e_in"),
            "deg_sum",
            F.round(
                F.coalesce("e_in", F.lit(0)).cast("double") / F.col("m")
                - F.pow(F.col("deg_sum").cast("double") / (2.0 * F.col("m")), 2),
                6,
            ).alias("q_contrib"),
        )
    )
