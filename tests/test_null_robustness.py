"""Dirty-input robustness: null/empty content, null lang — real corpora
at 10^12-file scale always contain these; no UDF may crash."""

from kgforge.extract.pipeline import extract_pipeline
from kgforge.extract.rel import extract_triples_fused
from kgforge.extract.units import extract_units


def _dirty_df(spark):
    rows = [
        ("r", "a.py", "c1", "python", '"""key fast value."""'),
        ("r", "b.py", "c2", "python", None),
        ("r", "c.py", "c3", None, "x = 1"),
        ("r", "d.py", None, "python", ""),
        ("r", "e.md", "c5", "markdown", "\n\n\n"),
        ("r", "f.py", "c6", "python", '"""' + "x " * 5000 + '"""'),
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def test_pipeline_survives_dirty_rows_all_strategies(spark):
    df = _dirty_df(spark)
    results = {}
    plans = {
        "fused": extract_pipeline(df, "fused"),
        "staged": extract_triples_fused(extract_units(df)),
        "relational": extract_pipeline(df, "relational"),
    }
    for strategy, plan in plans.items():
        out = plan.collect()
        results[strategy] = {
            (r.repo, r.path, r.unit_id, r.subj, r.pred, r.obj) for r in out
        }
        # only a.py carries a planted relation
        assert all(r.path == "a.py" for r in out)
    assert results["fused"] == results["staged"] == results["relational"]


def test_mentions_udf_survives_null_text(spark):
    from pyspark.sql import functions as F

    from kgforge.extract.ner import make_detect_mentions_udf

    df = spark.createDataFrame([(None,), ("key fast value",)], "text string")
    out = df.select(make_detect_mentions_udf("docs")(F.col("text")).alias("m")).collect()
    assert out[0].m == []
    assert len(out[1].m) == 2
