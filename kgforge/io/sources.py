"""Input-table readers: Iceberg when a catalog is configured, parquet
otherwise (SURVEY.md §7.1 io/sources).

The north rule names an Iceberg table of source-code repositories
(repo, path, commit, lang, content).  The Iceberg runtime jar is not in
this sandbox, so the Iceberg branch is gated on the catalog actually
resolving; the parquet branch carries identical semantics.  Both attach
the sha256 provenance column (F14) and validate the expected schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPOS_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def _validate(df: DataFrame) -> DataFrame:
    missing = [c for c in REPOS_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"repos table missing columns: {missing}")
    return df.select(*REPOS_COLUMNS)


REPOS_DDL = ", ".join(f"{c} string" for c in REPOS_COLUMNS)


def read_repos(
    spark: SparkSession,
    source: str,
    fmt: str = "parquet",
) -> DataFrame:
    """Read the repos input table.

    source = ``table:<catalog.db.name>`` for an Iceberg/catalog table,
    anything else is a file path read as ``fmt`` (parquet/json/csv/orc —
    self-describing formats keep their schema; json/csv get the explicit
    repos DDL so a typo'd column fails loudly instead of inferring).
    The ``content_sha`` provenance column is always attached.
    """
    if source.startswith("table:"):
        df = spark.read.table(source.split(":", 1)[1])
    elif fmt in ("parquet", "orc"):
        df = spark.read.format(fmt).load(source)
    elif fmt == "json":
        df = spark.read.schema(REPOS_DDL).json(source)
    elif fmt == "csv":
        # RFC-4180 quoting: content carries newlines and quotes
        df = (
            spark.read.schema(REPOS_DDL)
            .option("header", True)
            .option("multiLine", True)
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(source)
        )
    else:
        raise ValueError(f"unsupported repos format: {fmt}")
    return _validate(df).withColumn("content_sha", F.sha2(F.col("content"), 256))


def overlay_predictions(
    gold: DataFrame, pred: DataFrame, key: str | list[str] = "doc_key"
) -> DataFrame:
    """Gold + prediction-file merge scan (S2; reference
    data/data_structures.py:51-62 ``Dataset._read(json_file, pred_file)``).

    Every ``predicted*`` column from ``pred`` overlays the gold table via
    left join + coalesce: docs present in the prediction file take its
    predicted_* values; docs absent keep their own (the reference zips
    1:1 and asserts doc_key equality — the join generalizes that to
    partial prediction files).  Non-predicted pred columns are ignored,
    exactly as the reference copies only ``"predicted" in k`` keys.

    Scale: equi-join on the doc key; the prediction side is usually the
    small output of one eval run — Catalyst/AQE picks broadcast when its
    stats allow, no hint needed for correctness.
    """
    keys = [key] if isinstance(key, str) else list(key)
    pred_cols = [c for c in pred.columns if "predicted" in c and c not in keys]
    p = pred.select(*keys, *[F.col(c).alias(f"__p_{c}") for c in pred_cols])
    out = gold.join(p, on=keys, how="left")
    for c in pred_cols:
        base = F.col(c) if c in gold.columns else F.lit(None)
        out = out.withColumn(c, F.coalesce(F.col(f"__p_{c}"), base))
    return out.drop(*[f"__p_{c}" for c in pred_cols])
