"""Driver contract (PySpark target).

``entry(spark)`` — flagship KG-construction query at sf0.001.
``queries()``   — every registered query (the KG-construction queries of
                  kgforge/queries.py), one callable each.
``oracle_sql()``— the DuckDB SQL oracle of every query in ``queries()``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the kgforge package lives next to this file; make imports robust to the
# driver invoking us from any cwd
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7.5): full KG extraction cascade over the
    sf0.001 documents corpus — scan -> unit -> tag (M1/M2) -> pair (M3) ->
    classify (M4) -> dedup -> canonical node ids — returns the triples
    DataFrame with canonical src/dst ids attached."""
    from pyspark.sql import functions as F

    from kgforge.queries import _kg_triples_df

    sf_dir = "/root/testdata/sf0.001"
    t = _kg_triples_df(spark, sf_dir)
    return t.withColumn(
        "src", F.md5(F.concat_ws(":", "subj", "subj_type"))
    ).withColumn("dst", F.md5(F.concat_ws(":", "obj", "obj_type")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from kgforge.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from kgforge.queries import ORACLES

    return dict(ORACLES)
