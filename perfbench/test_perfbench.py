"""Small-size checks of the benchmark's own workloads.

    python3 -m pytest perfbench/test_perfbench.py -q

The maintain workload folds epoch deltas one at a time; at small size its
final epoch must equal one-shot ``materialize_graph`` over the union of
the same deltas.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import gen  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from kgforge.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_inputs_are_seeded(tmp_path):
    a = gen.delta_rows(1, 50, gen.vocabulary(80, 3), 60, 20, seed=3)
    b = gen.delta_rows(1, 50, gen.vocabulary(80, 3), 60, 20, seed=3)
    c = gen.delta_rows(1, 50, gen.vocabulary(80, 4), 60, 20, seed=4)
    assert a == b and a != c
    d1 = gen.stage_corpus(tmp_path, "t", 5, 1, 1, 3, shards=1)
    d2 = gen.stage_corpus(tmp_path, "t", 5, 1, 1, 3, shards=1)
    d3 = gen.stage_corpus(tmp_path, "t", 5, 2, 1, 3, shards=1)
    assert d1 == d2 != d3
    assert gen.load_golden(d1)


def test_maintain_epochs_equal_one_shot(spark, tmp_path):
    from pyspark.sql import functions as F

    from kgforge.extract.rel import TRIPLES_SCHEMA
    from kgforge.graph.materialize import materialize_graph
    from spans import Tracer
    from workloads import Context, Maintain

    class Small(Maintain):
        TRIPLES = 300
        VOCAB = 400
        INITIAL_VOCAB = 200
        EPOCHS = 3

    ctx = Context(spark, tmp_path / "run", tmp_path / "cache", 5, 2,
                  Tracer(spark, enabled=False))
    wl = Small(ctx)
    wl.stage()
    assert not wl.build().check()
    for i in range(Small.EPOCHS - 1):
        assert not wl.op(i).check()
    final = wl.prev

    union = spark.read.schema(TRIPLES_SCHEMA).parquet(
        *[str(wl.deltas / f"epoch={e}") for e in range(Small.EPOCHS)])
    nodes, edges = materialize_graph(union)

    def node_rows(df):
        return sorted(
            (r.canonical_id, r.ent_type, tuple(r.surface_forms), r.mention_count)
            for r in df.select("canonical_id", "ent_type", "surface_forms",
                               "mention_count").collect())

    def edge_rows(df):
        return sorted(
            (r.src, r.dst, r.pred, r.weight, tuple(map(tuple, r.provenance)))
            for r in df.select("src", "dst", "pred", "weight", "provenance").collect())

    got_nodes = spark.read.parquet(str(final / "nodes"))
    got_edges = spark.read.parquet(str(final / "edges"))
    assert node_rows(got_nodes) == node_rows(nodes)
    assert edge_rows(got_edges) == edge_rows(edges)
    assert got_edges.agg(F.sum("weight")).first()[0] == Small.TRIPLES * Small.EPOCHS
