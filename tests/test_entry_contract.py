"""Driver-contract smoke + oracle parity on a fast subset at sf0.001.

The full sweep lives in scripts/check_oracles.py; here we pin the
contract shape and a representative slice so `pytest -x -q` catches
regressions early.
"""

import duckdb
import pytest

import __spark_entry__ as entrymod
from scripts.check_oracles import TABLES, normalize

SF_DIR = "/root/testdata/sf0.001"

# the KG-construction queries of kgforge/queries.py
KEEP = {
    "kg_mentions",
    "kg_mentions_bpe",
    "bpe_merges",
    "kg_mention_pairs",
    "kg_topk_strategies",
    "kg_triples",
    "kg_triples_topk",
    "kg_nodes",
    "kg_edges",
    "kg_f1_baseline",
    "kg_label_prf",
    "kg_pred_histogram",
    "kg_lineage_counts",
    "kg_content_sha",
    "kg_cc_components",
    "kg_context_units",
    "kg_context_triples",
    "kg_cross_mentions",
    "kg_ctx_cross",
    "kg_pred_overlay",
    "kg_predict_json",
}

FAST_SUBSET = [
    "kg_mentions",
    "kg_triples",
    "kg_content_sha",
    "kg_context_units",
    "kg_cross_mentions",
    "kg_predict_json",
    "kg_ctx_cross",
    "bpe_merges",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"doc_id", "subj", "pred", "obj", "src", "dst"} <= cols


def test_every_query_has_callable_and_most_have_oracles():
    qs = entrymod.queries()
    assert set(qs) == set(entrymod.oracle_sql()) == KEEP
    # a correctness snapshot of the registry records at most 50 rows
    assert len(qs) <= 50


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_oracle_parity_subset(spark, duck, name):
    from kgforge.queries import ORACLES, QUERIES

    df = QUERIES[name](spark, SF_DIR)
    spark_cols = [c.lower() for c in df.columns]
    spark_rows = [tuple(r) for r in df.collect()]
    res = duck.sql(ORACLES[name])
    duck_cols = [c.lower() for c in res.columns]
    duck_rows = res.fetchall()
    assert len(spark_rows) == len(duck_rows)
    assert sorted(spark_cols) == sorted(duck_cols)
    assert normalize(spark_rows, spark_cols) == normalize(duck_rows, duck_cols)
