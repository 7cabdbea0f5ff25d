"""io.sources readers."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kgforge.fixtures import gen_repo_rows
from kgforge.io.sources import read_repos


def test_read_repos_parquet_with_sha(spark, tmp_path):
    rows = gen_repo_rows(30)
    pq.write_table(pa.Table.from_pylist(rows), tmp_path / "repos.parquet")
    df = read_repos(spark, str(tmp_path / "repos.parquet"))
    got = df.limit(5).collect()
    import hashlib

    for r in got:
        assert r.content_sha == hashlib.sha256(r.content.encode()).hexdigest()


def test_read_repos_validates_schema(spark, tmp_path):
    pq.write_table(pa.Table.from_pylist([{"a": 1}]), tmp_path / "bad.parquet")
    with pytest.raises(ValueError, match="missing columns"):
        read_repos(spark, str(tmp_path / "bad.parquet"))


def test_overlay_predictions(spark):
    """S2 merge scan (reference data_structures.py:51-62): predicted_*
    columns overlay gold; docs missing from the pred file keep their own;
    non-predicted pred columns are ignored."""
    from kgforge.io.sources import overlay_predictions

    gold = spark.createDataFrame(
        [("d1", [1], None), ("d2", [2], ["x"])],
        "doc_key string, sentences array<int>, predicted_ner array<string>",
    )
    pred = spark.createDataFrame(
        [("d1", ["a"], "ignored")],
        "doc_key string, predicted_ner array<string>, other string",
    )
    out = {r.doc_key: r for r in overlay_predictions(gold, pred).collect()}
    assert out["d1"].predicted_ner == ["a"]   # overlaid
    assert out["d2"].predicted_ner == ["x"]   # kept (absent from pred)
    assert "other" not in out["d1"].asDict()  # non-predicted col dropped
    assert out["d1"].sentences == [1]         # gold columns untouched


def test_assemble_predict_json(spark):
    """S9 predict assembly: sorted relations array, only keys with >= 1
    relation, valid JSON payload."""
    import json

    from kgforge.io.sinks import assemble_predict_json

    t = spark.createDataFrame(
        [(1, "b", "USED-FOR", "c"), (1, "a", "USED-FOR", "c")],
        "doc_id long, subj string, pred string, obj string",
    )
    rows = assemble_predict_json(t, key_cols=["doc_id"]).collect()
    assert len(rows) == 1
    payload = json.loads(rows[0].payload)
    assert [r["subject"] for r in payload["relations"]] == ["a", "b"]  # sorted


def test_read_repos_formats(spark, tmp_path):
    """read_repos: same rows back from parquet, json, and csv inputs; sha
    provenance attached; unknown format fails loudly."""
    import pytest as _pytest

    from kgforge.fixtures import gen_repo_rows
    from kgforge.io.sources import read_repos

    rows = gen_repo_rows(10)
    df = spark.createDataFrame(rows).select("repo", "path", "commit", "lang", "content")
    for fmt in ("parquet", "json", "csv"):
        p = str(tmp_path / fmt)
        w = df.write.mode("overwrite")
        (w.option("header", True).option("escape", '"')
         .option("ignoreLeadingWhiteSpace", False)
         .option("ignoreTrailingWhiteSpace", False).csv(p)
         if fmt == "csv" else getattr(w, fmt)(p))
        back = read_repos(spark, p, fmt=fmt)
        assert "content_sha" in back.columns
        got = sorted((r.repo, r.path, r.content) for r in back.collect())
        want = sorted((r["repo"], r["path"], r["content"]) for r in rows)
        assert got == want, fmt
    with _pytest.raises(ValueError):
        read_repos(spark, str(tmp_path / "x"), fmt="avro")
