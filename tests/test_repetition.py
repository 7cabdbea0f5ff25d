"""Repetition-signal quality gate + benchmark decontamination (r6).

Hand-computed expectations for functions/quality.repetition_signals on
constructed docs (the driver fixtures exercise engine parity; these pin
the SEMANTICS — run lengths, gram fractions, reason ordering), and a
planted-contamination fixture for text_decontaminate where the expected
flags are knowable by construction.
"""

from __future__ import annotations

import pytest

from kgforge.functions.quality import repetition_signals


def _signals(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return {
        r["doc_id"]: r.asDict() for r in repetition_signals(df).collect()
    }


def test_repetition_signal_values(spark):
    rows = _signals(
        spark,
        [
            # doc 0: "a b" x3 + "b a" x2 + "b c" -> top_bg=3, frac 6/7;
            # trigrams aba x2, bab x2, abc -> dup 4/5; max_run 1
            "a b a b a b c",
            # doc 1: 26 distinct + zz x4 -> bigram frac 6/30 = 0.2 (NOT
            # > 0.2), dup_trigram 2/28, max_run 4 -> 'token_run' (pins
            # the reason ORDER: earlier gates pass, run gate fires)
            " ".join(list("abcdefghijklmnopqrstuvwxyz") + ["zz"] * 4),
            # doc 2: clean short doc
            "p q r s t",
            # doc 3: single token — no grams, run 1
            "solo",
            # doc 4: null text folds to one empty token, must still row
            None,
        ],
    )
    d0 = rows[0]
    assert d0["n_tokens"] == 7
    assert d0["top_bigram_frac"] == round(6 / 7, 4)
    assert d0["dup_trigram_frac"] == round(4 / 5, 4)
    assert d0["max_run"] == 1
    assert d0["reason"] == "bigram_heavy" and not d0["keep"]

    d1 = rows[1]
    assert d1["n_tokens"] == 30
    assert d1["top_bigram_frac"] == 0.2  # exactly at, not over
    assert d1["dup_trigram_frac"] == round(2 / 28, 4)
    assert d1["max_run"] == 4
    assert d1["reason"] == "token_run" and not d1["keep"]

    assert rows[2]["reason"] == "ok" and rows[2]["keep"]
    d3 = rows[3]
    assert (d3["n_tokens"], d3["max_run"]) == (1, 1)
    assert d3["top_bigram_frac"] == 0.0 and d3["dup_trigram_frac"] == 0.0
    assert d3["reason"] == "ok"
    d4 = rows[4]
    assert d4["n_tokens"] == 1 and d4["reason"] == "ok"


def test_repetition_matches_oracle_on_edge_docs(spark, tmp_path):
    """Spark vs DuckDB parity on the edge shapes the driver fixture
    doesn't carry (null text, single token, exact-threshold doc)."""
    import duckdb

    from kgforge.queries import ORACLES, QUERIES

    texts = [
        "a b a b a b c",
        " ".join(list("abcdefghijklmnopqrstuvwxyz") + ["zz"] * 4),
        "p q r s t",
        "solo",
        None,
        "x x x x x",
    ]
    d = tmp_path / "sf"
    d.mkdir()
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).write.parquet(str(d / "documents.parquet"))
    got = {
        tuple(r)
        for r in QUERIES["text_repetition_signals"](spark, str(d))
        .toPandas()
        .itertuples(index=False)
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{d}/documents.parquet/*.parquet')"
    )
    want = {
        tuple(r)
        for r in con.execute(ORACLES["text_repetition_signals"]).fetchall()
    }
    assert got == want
    assert len(want) == len(texts)


@pytest.fixture()
def contam_dir(spark, tmp_path):
    """documents.parquet with planted contamination vs the doc_id%20==0
    benchmark split: doc 0 (bench) cloned by doc 1, one-shingle-shared
    by doc 2, disjoint from doc 3; doc 20 is a second bench doc cloned
    by doc 21."""
    bench0 = "alpha beta gamma delta epsilon zeta"
    bench20 = "one two three four five six seven"
    rows = [
        (0, bench0),
        (20, bench20),
        (1, bench0),  # full clone -> many shared shingles
        (2, "noise alpha beta gamma other words here"),  # exactly 1 shared
        (3, "completely disjoint token stream goes here"),
        (21, bench20 + " eight"),  # clone + suffix of the OTHER bench doc
    ]
    d = tmp_path / "sf"
    d.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def test_decontaminate_flags_planted_overlaps(spark, contam_dir):
    from kgforge.queries import QUERIES

    out = {
        r["doc_id"]: r.asDict()
        for r in QUERIES["text_decontaminate"](spark, contam_dir).collect()
    }
    # doc 1 clones bench doc 0: 4 shingles shared, 1 bench doc
    assert out[1]["n_overlap_shingles"] == 4
    assert out[1]["n_bench_docs"] == 1
    assert out[1]["contaminated"]
    # doc 2 shares exactly the 'alpha beta gamma' shingle -> under the
    # >= 2 threshold: reported (attributable) but NOT condemned
    assert out[2]["n_overlap_shingles"] == 1
    assert not out[2]["contaminated"]
    # doc 3 never appears (no overlap at all)
    assert 3 not in out
    # doc 21 overlaps bench doc 20 only (5 shingles of the 6-token clone)
    assert out[21]["n_overlap_shingles"] == 5
    assert out[21]["n_bench_docs"] == 1
    assert out[21]["contaminated"]
    # benchmark docs themselves are never scored
    assert 0 not in out and 20 not in out


def test_decontaminate_matches_oracle_on_planted_fixture(spark, contam_dir):
    import duckdb

    from kgforge.queries import ORACLES, QUERIES

    got = {
        tuple(r)
        for r in QUERIES["text_decontaminate"](spark, contam_dir)
        .toPandas()
        .itertuples(index=False)
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{contam_dir}/documents.parquet/*.parquet')"
    )
    want = {
        tuple(r)
        for r in con.execute(ORACLES["text_decontaminate"]).fetchall()
    }
    assert got == want and want
