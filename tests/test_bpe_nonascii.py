"""Regression for the r3 ADVICE byte/char finding: the BPE oracle used
DuckDB strlen() (BYTES) to explode pre-tokens into symbols while the
Spark side uses character semantics — parity silently held only because
the fixture corpus was ASCII.  With length() (chars) the engines must
agree on any corpus; this pins it on a genuinely non-ASCII one."""

import pyarrow as pa
import pyarrow.parquet as pq


def test_bpe_merges_parity_on_non_ascii_corpus(spark, tmp_path):
    import duckdb

    from kgforge.queries import ORACLES, QUERIES
    from scripts.check_oracles import normalize

    docs = [
        {"doc_id": 1, "text": "café déjà vu café naïve café déjà"},
        {"doc_id": 2, "text": "naïve café über straße déjà über über"},
        {"doc_id": 3, "text": "plain ascii words keep the merge table honest"},
        {"doc_id": 4, "text": "café straße über déjà naïve café words words"},
    ]
    pq.write_table(pa.Table.from_pylist(docs), str(tmp_path / "documents.parquet"))

    df = QUERIES["bpe_merges"](spark, str(tmp_path))
    spark_cols = [c.lower() for c in df.columns]
    spark_rows = [tuple(r) for r in df.collect()]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    res = con.sql(ORACLES["bpe_merges"])
    oracle_cols = [c.lower() for c in res.columns]
    oracle_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(oracle_cols)
    assert normalize(spark_rows, spark_cols) == normalize(oracle_rows, oracle_cols)
    assert len(spark_rows) == 5  # the 5 trained merge rounds all produced
