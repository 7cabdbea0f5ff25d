"""Engine-portable deterministic string hash.

``charfold`` is the repo's polynomial char hash (F13 analog — reference
utils/funcs.py uses content hashing for cache keys).  It is expressed
twice, once as a Spark higher-order-function column and once as the
equivalent DuckDB SQL (``sql_charfold``), so every oracle comparison is
bit-identical across engines.  Values stay in [0, MOD) with MOD = 2^31-1:
kgforge/queries.py reduces them to surrogate scores and labels.
"""

from __future__ import annotations

from pyspark.sql import functions as F

MOD = 2147483647  # 2^31 - 1


def charfold(col) -> F.Column:
    """Polynomial char hash, JVM-side (F13 analog; deterministic across
    engines — see sql_charfold)."""
    chars = F.split(col, "")
    return F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("bigint")),
        F.lit(7).cast("bigint"),
        lambda a, c: (a * 31 + c) % MOD,
    )


def sql_charfold(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(7 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {MOD})"
    )
