"""curate_length_curriculum's arithmetic phase rule == literal NTILE(4)
for every n mod 4 residue, and its plan has no non-terminal
SinglePartition exchange.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


@pytest.mark.parametrize("n", [3, 4, 7, 10, 12, 13])
def test_length_curriculum_arithmetic_matches_ntile(spark, tmp_path, n):
    from kgforge.queries import QUERIES

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (1 + (i * 7) % 5))) for i in range(n)],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en"))
    d = tmp_path / f"n{n}"
    d.mkdir()
    docs.write.parquet(str(d / "documents.parquet"))
    got = {
        r.phase: (r.n_docs, r.member_checksum)
        for r in QUERIES["curate_length_curriculum"](spark, str(d)).collect()
    }
    ref = (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("nn"))
        .withColumn("phase", F.ntile(4).over(Window.orderBy("nn", "doc_id")))
        .groupBy("phase")
        .agg(F.count("*").alias("c"), F.sum("doc_id").alias("ck"))
    )
    want = {r.phase: (r.c, r.ck) for r in ref.collect()}
    assert got == want


def test_length_curriculum_no_single_partition_exchange(spark):
    """The r6 perf-weak finding: phase assignment must not compile to an
    Exchange SinglePartition (whole corpus sorted by one task).  A
    single-partition exchange from the tiny final aggregate is fine —
    assert none feeds a Window/Sort over the document grain by checking
    the window stage itself is hash-partitioned."""
    from kgforge.queries import QUERIES

    df = QUERIES["curate_length_curriculum"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only acceptable SinglePartition is the terminal scalar/agg
    # exchange; the rank path (global_row_number) must not produce a
    # global Sort under SinglePartition feeding a Window
    import re

    for m in re.finditer(r"Exchange SinglePartition[^\n]*", plan):
        ctx = plan[m.start() - 400 : m.start()]
        assert "Window" not in ctx, f"window fed by SinglePartition:\n{ctx}"
