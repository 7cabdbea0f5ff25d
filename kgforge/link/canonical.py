"""Entity canonicalization — MinHash-LSH over entity surface forms.

The reference's data model has coreference ``Cluster`` structures
(data/data_structures.py:349-383) that its model never consumes; the north
rule makes canonicalization a first-class stage.  Design: token shingles
of the normalized surface (``shingles``) -> k MinHash signatures -> banded
LSH bucketing -> candidate pairs -> Jaccard verification.  Everything is
built-in expressions (JVM-side, whole-stage codegen); no Python touches
rows here.

The minhash uses explicit universal-hash arithmetic
``(a_j * h + b_j) mod P`` over ``xxhash64`` shingle hashes rather than
``pyspark.ml.feature.MinHashLSH`` — same algorithm, but pure DataFrame
(no Vector assembly), deterministic, and cheaply re-expressible in SQL for
oracle checks.

Scale notes: the LSH band join shuffles on (ent_type, band_id, band_key) —
keys are near-uniform hash values, so no inherent skew; mega-bucket blowup
(a degenerate signature shared by huge numbers of entities) is guarded by
``MAX_BUCKET``: oversized buckets are excluded from pairing and surfaced
via ``lsh_bucket_stats`` — never silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Universal-hash parameters (deterministic; Mersenne prime 2^31-1 so that
# a*h stays within int64 — no silent bigint overflow, and the same
# arithmetic is exactly reproducible in DuckDB SQL oracles).
MINHASH_P = (1 << 31) - 1
N_HASHES = 12
# 1-row bands: candidate recall at jaccard j is 1-(1-j)^12 (≈0.9998 at
# j=0.5) — near-exhaustive recall; precision comes from the exact-Jaccard
# verification step, and MAX_BUCKET bounds bucket blowup.
N_BANDS = 12
BAND_ROWS = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.5
MAX_BUCKET = 64


def _hash_params(n: int = N_HASHES) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs from a seeded LCG — identical across sessions,
    executors, and SQL oracles (no plan-time randomness)."""
    params = []
    x = 88172645463325252
    for _ in range(n):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = (x % (MINHASH_P - 1)) + 1
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = x % MINHASH_P
        params.append((a, b))
    return params


HASH_PARAMS = _hash_params()


def normalize_surface(col):
    """lower + strip non-alnum + collapse whitespace."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), " +", " ")
    )


def shingles(col):
    """Distinct TOKEN shingles of a normalized surface form.

    Token granularity is the right unit for entity-surface variants: a
    near-dup variant appends/drops a token ("anchor model" vs "anchor
    model system" -> Jaccard 2/3), while unrelated terms sharing one token
    stay at <= 1/2 ("dense network" vs "dense model" -> 1/3).  Char-3-gram
    Jaccard inverts this for short surfaces ("graph" vs "graph system"
    ~0.38 < unrelated-pair noise), measured on the fixture lexicon.
    """
    return F.array_distinct(F.split(col, " "))


def entity_vertices(triples: DataFrame) -> DataFrame:
    """Distinct (surface, ent_type) vertices from both triple endpoints,
    with a stable 63-bit entity_id derived from the normalized form.

    A surface that is null or normalizes to "" fails the job: the null
    one would drop out of the inner-join attach without a trace, and all
    punctuation-only ones would merge into one "" entity."""
    subs = triples.select(
        F.col("subj").alias("surface"), F.col("subj_type").alias("ent_type")
    )
    objs = triples.select(
        F.col("obj").alias("surface"), F.col("obj_type").alias("ent_type")
    )
    ents = subs.unionByName(objs).distinct()
    norm = normalize_surface(F.col("surface"))
    checked = F.when(
        F.coalesce(norm, F.lit("")) == "",
        F.raise_error(F.format_string(
            "entity_vertices: null or empty surface '%s' (%s)", "surface", "ent_type"
        )),
    ).otherwise(norm)
    return ents.withColumn("norm", checked).withColumn(
        "entity_id", F.abs(F.xxhash64(F.col("norm"), F.col("ent_type")))
    )


def minhash_signature(df: DataFrame, text_col: str = "norm") -> DataFrame:
    """Add ``shingles: array<string>`` and ``sig: array<bigint>``.

    Idempotent: rows that already carry both columns are returned as-is —
    signatures are deterministic in (norm), so a dim that PERSISTS them
    (graph/merge.update_canonical does) never recomputes them for old
    surfaces; per-epoch signature cost is the delta's, not the dim's."""
    if "sig" in df.columns and "shingles" in df.columns:
        return df
    sh = shingles(F.col(text_col))
    hashed = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P)))

    def _universal(a: int, b: int):
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_P))

    sig = F.array(
        *[
            F.array_min(F.transform(hashed, _universal(a, b)))
            for a, b in HASH_PARAMS
        ]
    )
    return df.withColumn("shingles", sh).withColumn("sig", sig)


def _bands(vertices: DataFrame) -> DataFrame:
    sigged = minhash_signature(vertices)
    return sigged.select(
        "entity_id",
        "ent_type",
        "shingles",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("sig"), i * BAND_ROWS + 1, BAND_ROWS)
                    for i in range(N_BANDS)
                ]
            )
        ).alias("band_id", "band_sig"),
    ).withColumn("band_key", F.concat_ws(":", F.col("band_sig").cast("array<string>")))


def lsh_bucket_stats(vertices: DataFrame) -> DataFrame:
    """Bucket-size histogram (monitoring; 'no silent caps')."""
    return (
        _bands(vertices)
        .groupBy("ent_type", "band_id", "band_key")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
    )


def lsh_candidate_pairs_delta(
    all_verts: DataFrame,
    new_verts: DataFrame,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs with at least one endpoint from ``new_verts``,
    touching only the DELTA'S buckets — the per-epoch shape of
    incremental re-linking (graph/merge.update_canonical).

    The new vertices' bands pick the hot bucket keys (tiny, broadcast);
    ONE map-side filter pass over the dim's bands keeps hot-bucket
    members (no full-dim shuffle — with persisted signatures banding is
    pure slicing); bucket-cap counting and quadratic pairing then run on
    that small member set only.  Bucket sizes are exact: every member of
    a hot bucket survives the key filter, so the within-filter count
    equals the global count the full path caps on.  Output semantics
    equal the pairs of lsh_candidate_pairs(all) with a new endpoint, up
    to extra pairs between old vertices that share a hot bucket — which
    the incremental caller tolerates by construction (old–old verdicts
    are already reflected in the prior clusters)."""
    keycols = ["ent_type", "band_id", "band_key"]
    hot = _bands(new_verts).select(*keycols).distinct()
    members = _bands(all_verts).join(F.broadcast(hot), on=keycols)
    sizes = members.groupBy(*keycols).agg(F.count("*").alias("bucket_size"))
    members = members.join(
        sizes.filter(F.col("bucket_size") <= max_bucket).drop("bucket_size"),
        on=keycols,
    )
    new_ids = new_verts.select("entity_id").distinct()
    b = members.join(F.broadcast(new_ids), on="entity_id").select(
        *keycols, F.col("entity_id").alias("bid"), F.col("shingles").alias("sh_b")
    )
    a = members.select(
        *keycols, F.col("entity_id").alias("aid"), F.col("shingles").alias("sh_a")
    )
    cand = (
        a.join(b, on=keycols)
        .filter(F.col("aid") != F.col("bid"))
        .select(
            F.least("aid", "bid").alias("src"),
            F.greatest("aid", "bid").alias("dst"),
            "sh_a", "sh_b",
        )
        .dropDuplicates(["src", "dst"])
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= F.lit(jaccard_threshold))
        .select("src", "dst", "jaccard")
    )


def lsh_candidate_pairs(
    vertices: DataFrame,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Banded LSH: same (ent_type, band_id, band_key) bucket -> candidate
    pair -> verify token-shingle Jaccard.  Returns (src, dst, jaccard) with
    src < dst.  Buckets larger than ``max_bucket`` are excluded (guard
    against O(bucket^2) blowup); their count is visible via
    ``lsh_bucket_stats``."""
    bands = _bands(vertices)
    keycols = ["ent_type", "band_id", "band_key"]
    sizes = bands.groupBy(*keycols).agg(F.count("*").alias("bucket_size"))
    bands = bands.join(
        sizes.filter(F.col("bucket_size") <= max_bucket).drop("bucket_size"),
        on=keycols,
    )
    a = bands.select(
        *keycols, F.col("entity_id").alias("src"), F.col("shingles").alias("sh_a")
    )
    b = bands.select(
        *keycols, F.col("entity_id").alias("dst"), F.col("shingles").alias("sh_b")
    )
    cand = (
        a.join(b, on=keycols)
        .filter(F.col("src") < F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= F.lit(jaccard_threshold))
        .select("src", "dst", "jaccard")
    )
