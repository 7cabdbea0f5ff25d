"""AQE skew-join handling: a hot key in a sort-merge join is split at
runtime (skew=true in the final adaptive plan) — the runtime complement
to the explicit salting in graph/materialize.salted edge counts."""

from pyspark.sql import functions as F

SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # aggressive thresholds so the tiny test partition counts as skewed
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def test_aqe_splits_skewed_join(spark):
    prev = {k: spark.conf.get(k, None) for k in SKEW_CONFS}
    try:
        for k, v in SKEW_CONFS.items():
            spark.conf.set(k, v)
        # 90% of the left side lands on key 0 — one hot shuffle partition
        a = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        b = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit("x").alias("v"))
        j = a.join(b, on="k").groupBy().count()
        assert j.collect()[0]["count"] == 180100  # 180k hot + 100 tail hits
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
