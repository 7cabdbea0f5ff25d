"""Engine-portable hashing primitives shared by the dedup family.

``charfold`` is the repo's deterministic polynomial char hash (F13
analog — reference utils/funcs.py uses content hashing for cache keys;
here the hash also drives MinHash).  It is expressed twice, once as a
Spark higher-order-function column and once as the equivalent DuckDB SQL,
so every oracle comparison is bit-identical across engines.  The MinHash
parameters keep all products under 2^62 (a < 2^31, h < 2^31-1) so the
arithmetic never overflows int64 on either engine.

Document-level shingling/minhashing operates on plain DataFrames
(``doc_id``, ``text``) — the incremental dedup state machinery
(kgforge/dedup.py) builds on these so a signature computed in one epoch
is bit-identical to one computed in any other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MOD = 2147483647  # 2^31 - 1

# minhash params (a, b): fixed literals; a*h < 2^62 with h < 2^31-1
MINHASH_AB = [(1103515245, 12345), (1140671485, 12820163), (214013, 2531011), (16807, 0)]

# band layout over the 4-hash signature: band 1 = (s0, s1), band 2 = (s2, s3)
MINHASH_BANDS = [(1, "s0", "s1"), (2, "s2", "s3")]


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
    observation: most consumers (signatures, per-doc counts, simhash
    balances, exact-Jaccard verify of candidate pairs) are PER-DOCUMENT
    folds, so keeping the shingles row-local removes the explode +
    groupBy shuffle entirely (guide §2.4) — only the inverted-index
    consumers still explode."""
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
    """(doc_id, s0..s3, n_sh) — bit-identical to
    ``minhash_of(shingles_of(docs))`` (min is order-independent; charfold
    is applied to the same strings), computed WITHOUT any shuffle: each
    signature is a row-local fold over the doc's shingle array."""
    hashed = hashed_arrays(sharr, arr_col)
    aggs = [
        F.array_min(
            F.transform(F.col("h_arr"), lambda h: (F.lit(a) * h + F.lit(b)) % MOD)
        ).alias(f"s{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return hashed.select("doc_id", *aggs, "n_sh")


def simhash_from_hashed(
    hashed: DataFrame, n_bits: int, out_col: str = "s"
) -> DataFrame:
    """(doc_id, <out_col>) — bitwise-majority SimHash over a
    ``hashed_arrays`` frame, bit-identical to the exploded groupBy form
    (integer balance per bit: bal = 2·|set| − n, sign compared exactly)
    but entirely row-local — no shuffle (guide §2.4).  ONE fold carries
    all n_bits running counts as an array accumulator (2× faster than
    n_bits separate filter/fold expressions, and one compact expression
    to compile instead of n_bits)."""
    bits = F.array(*[F.lit(1 << k).cast("bigint") for k in range(n_bits)])
    counts = F.aggregate(
        F.col("h_arr"),
        F.array_repeat(F.lit(0).cast("bigint"), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            bits,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, 1).otherwise(0).cast("bigint"),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            counts,
            bits,
            lambda c, m: F.when(c * 2 > F.col("n_sh"), m).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return hashed.select("doc_id", sim.alias(out_col))


def minhash_of(shingles: DataFrame) -> DataFrame:
    """(doc_id, s0..s3, n_sh) MinHash signatures over charfold'd
    shingles, plus the doc's distinct-shingle count — carried in the
    signature so exact-Jaccard verification against a persisted corpus
    never re-counts old documents."""
    sh = shingles.withColumn("h", charfold(F.col("sh")))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MOD).alias(f"s{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return sh.groupBy("doc_id").agg(*aggs, F.count("*").alias("n_sh"))


def signature_bands(sig: DataFrame) -> DataFrame:
    """Explode signatures to LSH band rows (doc_id, band, k0, k1) — the
    banded-join key space.  A cheap projection of the signature table:
    re-deriving bands never recomputes hashes."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.col(c0).alias("k0"),
                        F.col(c1).alias("k1"),
                    )
                    for band, c0, c1 in MINHASH_BANDS
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.k0", "bk.k1")
