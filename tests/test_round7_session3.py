"""Semantic invariants of the r7 session-3 operators (PII redaction,
the per-group rank, B-cubed) — properties the DuckDB equality oracle
cannot express."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------- PII ----

def test_pii_redact_exact_semantics(spark):
    from kgforge.functions.pii import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@sub.ex.org now"),
            (2, "ssn 123-45-6789 ip 192.168.0.1 call 555-0199"),
            (3, "clean text with no pii at all"),
            (4, "digits 1234-56-789 are not an ssn 12.34 not an ip"),
        ],
        "doc_id int, t string",
    )
    rows = {r.doc_id: r for r in redact_pii(df, "t").collect()}
    assert rows[1].redacted == "mail [EMAIL] now"
    assert rows[2].redacted == "ssn [ID] ip [IP] call [PHONE]"
    assert rows[3].redacted == "clean text with no pii at all"
    assert rows[4].redacted == "digits 1234-56-789 are not an ssn 12.34 not an ip"
    assert (rows[2].n_ssn, rows[2].n_ip, rows[2].n_phone) == (1, 1, 1)
    assert all(r.n_residual == 0 for r in rows.values())


def test_pii_overlapping_matches_count_once(spark):
    """Sequential counting: an IP-shaped domain inside an email is ONE
    replacement (the email), not two — Σ n_<type> equals the true
    replacement total (code-review finding, r7 s3)."""
    from kgforge.functions.pii import redact_pii

    df = spark.createDataFrame(
        [(1, "mail john@1.2.3.4.net now")], "doc_id int, t string"
    )
    r = redact_pii(df, "t").collect()[0]
    assert r.redacted == "mail [EMAIL] now"
    assert (r.n_email, r.n_ip) == (1, 0)  # the quad was already eaten
    assert r.n_residual == 0


def test_curate_redact_preserves_passthrough_n_columns(spark):
    """The PII stage drops exactly its own count columns — a caller's
    n_* passthrough column (e.g. n_chars) must survive."""
    from kgforge.functions.curation import curate

    base = "plain document body with enough useful tokens to pass gates"
    docs = spark.createDataFrame(
        [(0, "en", base + " mail a@ex.org", 61)],
        "doc_id long, lang string, text string, n_chars long",
    )
    curated, _p, _s = curate(docs, redact_pii=True)
    assert "n_chars" in curated.columns
    assert curated.collect()[0].n_chars == 61


# --------------------------------------------------------------- ranks ----

def test_grouped_row_number_matches_partitioned_window(spark):
    from kgforge.functions.ranks import grouped_row_number

    # skewed groups: 1000/200/3 rows
    rows = [(g, i * 7 % 1009, i) for g, n in [(0, 1000), (1, 200), (2, 3)]
            for i in range(n)]
    df = spark.createDataFrame(rows, "g int, k int, i int")
    got = {
        (r.g, r.k, r.i): r.rn
        for r in grouped_row_number(df, ["g"], ["k", "i"], "rn").collect()
    }
    w = Window.partitionBy("g").orderBy("k", "i")
    want = {
        (r.g, r.k, r.i): r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


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
