"""kgforge — a brand-new PySpark-native knowledge-graph construction engine.

Pipeline: triple extraction (mention tagging -> pair scoring -> relation
classification) -> entity canonicalization (MinHash-LSH) -> entity linking
(connected components: one-task union-find below a size gate, iterative
joins above it) -> graph materialization
(nodes/edges tables), with per-stage lineage checkpoints.

Semantics re-expressed from the reference system xerrors/theta
(/root/reference) — studied for WHAT it computes, re-built Spark-first.
"""

__version__ = "0.1.0"
