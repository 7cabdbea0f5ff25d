"""Scale-safe global ranking — the two-pass rank that replaces
``Window.orderBy`` with no partitionBy (which Spark compiles to an
Exchange SinglePartition: the WHOLE dataset sorted by one task — a
one-core sort of the corpus at 100x scale, r1 VERDICT perf audit).

Two passes:
  1. range-repartition on the order key (sampled range boundaries keep
     partitions balanced), count rows per partition — a tiny driver-side
     list (one int per partition);
  2. row_number within each partition + the partition's cumulative offset.

Identical ranks to the global window for any TOTAL order key (ties must
be broken in the key itself, as everywhere in this repo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a 1-based global rank over a total order WITHOUT a
    single-partition sort.

    The range partitioner samples, so the frame is localCheckpointed after
    repartitioning — the counts job and the rank job must see the SAME
    partition assignment."""
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r._pid: r.n
        for r in part.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(
        part.sparkSession.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
        )
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        part.join(off_df, on="_pid")
        .withColumn(rank_col, (F.row_number().over(w) + F.col("_off")).cast("int"))
        .drop("_pid", "_off")
    )
