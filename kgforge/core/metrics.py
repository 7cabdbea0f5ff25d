"""Micro-P/R/F1 with the reference's exact set semantics.

Port of ``f1_score`` at /root/reference/utils/metrics.py:1-52: per-output
SET dedup of pred and gold tuples (the reference's own caveat at
metrics.py:11 — gold may contain duplicates and set() lowers scores — is
reproduced on purpose for parity), optional tuple ``slice``, global sums,
eps-guarded division.
"""

from __future__ import annotations

from collections.abc import Iterable


def f1_score(
    outputs: Iterable[dict],
    pred_name: str,
    gold_name: str,
    slice: int | None = None,  # noqa: A002 — reference arg name
) -> tuple[float, float, float]:
    pred = gold = correct = 0
    for val_out in outputs:
        if slice is not None:
            pred_triples = {tuple(t[:slice]) for t in val_out[pred_name]}
            gold_triples = {tuple(t[:slice]) for t in val_out[gold_name]}
        else:
            pred_triples = {tuple(t) for t in val_out[pred_name]}
            gold_triples = {tuple(t) for t in val_out[gold_name]}
        pred += len(pred_triples)
        gold += len(gold_triples)
        correct += len(pred_triples & gold_triples)
    precision = correct / (pred + 1e-8)
    recall = correct / (gold + 1e-8)
    f1 = 2 * precision * recall / (precision + recall + 1e-8)
    return f1, precision, recall


def bcubed(labeled, pred_col: str = "c", gold_col: str = "g"):
    """B-CUBED clustering P/R/F1 (Bagga & Baldwin 1998; Amigó et al.
    2009) over a (item → predicted cluster, gold cluster) DataFrame —
    one row per item.  Returns a single-row DataFrame: n_docs,
    n_pred_clusters, n_gold_clusters, bcubed_precision/recall/f1
    (rounded 4).

    Per-item B³ precision |C(i)∩G(i)|/|C(i)| decomposes over
    (pred, gold) pair counts: Σ_(c,g) n_cg²/n_c — so the computation
    is three map-side-combined groupBys + two keyed joins of count
    dims; no pairwise item join ever materializes.  Pinned on a
    hand-computed partition in tests."""
    from pyspark.sql import functions as F

    plab = labeled.select(
        F.col(pred_col).alias("c"), F.col(gold_col).alias("g")
    )
    cg = plab.groupBy("c", "g").agg(F.count("*").cast("double").alias("ncg"))
    cs = plab.groupBy("c").agg(F.count("*").cast("double").alias("nc"))
    gs = plab.groupBy("g").agg(F.count("*").cast("double").alias("ng"))
    nt = plab.agg(F.count("*").cast("double").alias("nt"))
    npc = cs.agg(F.count("*").cast("bigint").alias("n_pred_clusters"))
    ngc = gs.agg(F.count("*").cast("bigint").alias("n_gold_clusters"))
    ps = cg.join(cs, "c").agg(
        F.sum(F.col("ncg") * F.col("ncg") / F.col("nc")).alias("ps")
    )
    rs = cg.join(gs, "g").agg(
        F.sum(F.col("ncg") * F.col("ncg") / F.col("ng")).alias("rs")
    )
    p = F.col("ps") / F.col("nt")
    r = F.col("rs") / F.col("nt")
    return (
        nt.crossJoin(npc).crossJoin(ngc).crossJoin(ps).crossJoin(rs).select(
            F.col("nt").cast("bigint").alias("n_docs"),
            "n_pred_clusters",
            "n_gold_clusters",
            F.round(p, 4).alias("bcubed_precision"),
            F.round(r, 4).alias("bcubed_recall"),
            F.round(2 * p * r / (p + r), 4).alias("bcubed_f1"),
        )
    )
