"""Engine-portable hashing primitives shared by the dedup family.

``charfold`` is the repo's deterministic polynomial char hash (F13
analog — reference utils/funcs.py uses content hashing for cache keys;
here the hash also drives MinHash).  It is expressed twice, once as a
Spark higher-order-function column and once as the equivalent DuckDB SQL,
so every oracle comparison is bit-identical across engines.  The MinHash
parameters keep all products under 2^62 (a < 2^31, h < 2^31-1) so the
arithmetic never overflows int64 on either engine.

Document-level shingling/minhashing operates on plain DataFrames
(``doc_id``, ``text``), so a signature is a pure function of its
document's text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MOD = 2147483647  # 2^31 - 1

# minhash params (a, b): fixed literals; a*h < 2^62 with h < 2^31-1
MINHASH_AB = [(1103515245, 12345), (1140671485, 12820163), (214013, 2531011), (16807, 0)]


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


def _shingle_array_col(text_col: str = "text") -> F.Column:
    """Per-document distinct 3-token shingle ARRAY (the un-exploded form
    shared by shingles_of and shingle_arrays).

    Documents with fewer than 3 tokens produce ZERO shingles, not an
    error: F.sequence(1, size-2) is DESCENDING ([1, 0]) when size <= 2
    and element_at then throws under ANSI mode — guarded with an
    explicit when().  The DuckDB twin (SQL_SHINGLES positional
    self-join) naturally yields no rows for short docs, so both engines
    agree on empty."""
    toks = F.split(text_col, " ")
    return F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_of(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sh) — distinct 3-token shingles per document; the unit
    under every near-dup operator.  Pure JVM higher-order functions, no
    Python in the loop."""
    return docs.select("doc_id", F.explode(_shingle_array_col(text_col)).alias("sh"))


def shingle_arrays(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sh_arr) — the SAME distinct shingles as shingles_of, kept
    as one array row per document instead of exploded.  The r8 scale
    observation: most consumers (signatures, per-doc counts,
    exact-Jaccard verify of candidate pairs) are PER-DOCUMENT folds, so
    keeping the shingles row-local removes the explode + groupBy shuffle
    entirely (guide §2.4) — only the inverted-index consumers still
    explode."""
    return docs.select("doc_id", _shingle_array_col(text_col).alias("sh_arr"))


def hashed_arrays(sharr: DataFrame, arr_col: str = "sh_arr") -> DataFrame:
    """(doc_id, n_sh, h_arr) — charfold hash per shingle, kept row-local.
    The charfold transform lives in its OWN projection and the hash array
    is referenced (not recomputed) by every downstream expression:
    CollapseProject keeps a non-cheap alias with multiple references in a
    separate Project, so the per-shingle hash is evaluated exactly once
    per row.  Docs with zero shingles are dropped, exactly as
    explode+groupBy drops them."""
    return sharr.filter(F.size(arr_col) > 0).select(
        "doc_id",
        F.size(arr_col).cast("bigint").alias("n_sh"),
        F.transform(F.col(arr_col), lambda s: charfold(s)).alias("h_arr"),
    )


def minhash_from_arrays(sharr: DataFrame, arr_col: str = "sh_arr") -> DataFrame:
    """(doc_id, s0..s3, n_sh) — per-document MinHash over the charfold'd
    shingles of ``shingle_arrays`` plus the doc's distinct-shingle count,
    computed WITHOUT any shuffle: each signature is a row-local fold over
    the doc's shingle array (min is order-independent, so it equals the
    explode + groupBy-min form over ``shingles_of``)."""
    hashed = hashed_arrays(sharr, arr_col)
    aggs = [
        F.array_min(
            F.transform(F.col("h_arr"), lambda h: (F.lit(a) * h + F.lit(b)) % MOD)
        ).alias(f"s{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return hashed.select("doc_id", *aggs, "n_sh")
