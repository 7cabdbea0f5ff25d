"""Semantic invariant of the B-cubed clustering metric — a property the
DuckDB equality oracle cannot express."""

import pytest


# ------------------------------------------------------------ b-cubed ----

def test_bcubed_hand_computed_partition(spark):
    from kgforge.core.metrics import bcubed

    # pred {1,2,3}{4,5} vs gold {1,2}{3,4,5}:
    # P = (4/3 + 1/3 + 2)/5 = 11/15; R = (2 + 1/3 + 4/3)/5 = 11/15
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "a", "y"), (4, "b", "y"),
         (5, "b", "y")],
        "item int, c string, g string",
    )
    r = bcubed(df, "c", "g").collect()[0]
    assert r.n_docs == 5
    assert (r.n_pred_clusters, r.n_gold_clusters) == (2, 2)
    assert r.bcubed_precision == pytest.approx(round(11 / 15, 4))
    assert r.bcubed_recall == pytest.approx(round(11 / 15, 4))
    assert r.bcubed_f1 == pytest.approx(round(11 / 15, 4))
