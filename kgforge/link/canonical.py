"""Entity canonicalization — MinHash-LSH over entity surface forms, then
connected components: two paths behind one gate.

The reference's data model has coreference ``Cluster`` structures
(data/data_structures.py:349-383) that its model never consumes; the north
rule makes canonicalization a first-class stage.  Design: token shingles
of the normalized surface (``shingles``) -> k MinHash signatures -> banded
LSH bucketing -> candidate pairs -> Jaccard verification -> connected
components over the verified pairs.

A link reads one frame, built by ``link_input`` and materialized once:
the existing dim's rows (if any) and the new vertices, with signatures.
Its row count is observed in that same job.  The gate is
``LINK_TASK_MAX_ROWS`` on that count, read at call time by
graph/merge.update_canonical (graph/materialize.canonical_entities links
through it too):

* At or below it — every build and epoch perfbench runs — the
  whole link (dim extension, delta LSH, root contraction, CC, relabel
  map) is ``link_task``: numpy in ONE ``mapInPandas`` task over
  ``coalesce(1)`` of that frame, checkpointed once (``link_one_task``).
  At these sizes job count, not rows, sets the cost.
* Above it: the distributed path, built-in expressions only (JVM-side,
  whole-stage codegen), then link/cc.connected_components.  Its pieces
  are ``lsh_candidate_pairs`` and ``lsh_candidate_pairs_delta`` below.

The minhash uses explicit universal-hash arithmetic
``(a_j * h + b_j) mod P`` over ``xxhash64`` shingle hashes rather than
``pyspark.ml.feature.MinHashLSH`` — same algorithm, but pure DataFrame
(no Vector assembly), deterministic, and cheaply re-expressible in SQL for
oracle checks.  Signatures are always computed in Spark; both paths read
the same ``sig`` column.

Scale notes: the LSH band join shuffles on (ent_type, band_id, band_key) —
keys are near-uniform hash values, so no inherent skew; mega-bucket blowup
(a degenerate signature shared by huge numbers of entities) is guarded by
``MAX_BUCKET`` on both paths: oversized buckets are excluded from pairing
and surfaced via ``lsh_bucket_stats`` — never silently.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from .cc import _min_labels

# Universal-hash parameters (deterministic; Mersenne prime 2^31-1 so that
# a*h stays within int64 — no silent bigint overflow, and the same
# arithmetic is exactly reproducible in DuckDB SQL oracles).
MINHASH_P = (1 << 31) - 1
N_HASHES = 12
# 1-row bands: candidate recall at jaccard j is 1-(1-j)^12 (≈0.9998 at
# j=0.5) — near-exhaustive recall; precision comes from the exact-Jaccard
# verification step, and MAX_BUCKET bounds bucket blowup.  link_task
# relies on 1-row bands: it packs a bucket key (ent_type, band, one
# signature value < 2^31) into one int64.
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


# The one-task link's gate on link_input's row count.  link_task holds
# every row in one Python worker, and its pair arrays grow with each
# hot-bucket member times its bucket's new members: up to N_BANDS *
# MAX_BUCKET entries per row when every row is new and every bucket sits
# at the cap.  Measured on 4 cores (local[4]), one update_canonical call:
# such a build peaks at 0.44 GB of worker memory at 10,000 rows, 1.06 GB
# at 30,000 and 1.69 GB at 50,000 (the distributed path: 11.7 / 27.6 s
# against 3.5 / 7.4 s one-task at 10,000 / 30,000).  An epoch adding 100
# rows to a 100,000-row dim takes 4.3-4.9 s one-task and 7.8-10.2 s
# distributed; at 1,000,000 rows 23-26 s and 1.8-2.0 GB one-task against
# 17-22 s distributed.  The gate keeps the worst case near 1 GB.
LINK_TASK_MAX_ROWS = 30_000

# the columns of a linked vertex, in the order link_input carries them
VERTEX_COLS = ["surface", "ent_type", "norm", "entity_id", "shingles", "sig"]


def link_input(
    triples: DataFrame, existing: DataFrame | None = None
) -> tuple[DataFrame, int]:
    """The one frame a link reads, materialized once, and its row count.

    Rows are ``VERTEX_COLS + (root, is_new)``: the existing dim's rows
    with ``root = canonical_id`` and ``is_new`` false, then the triples'
    vertices with ``root = entity_id`` (never null: a nullable 63-bit id
    reaches pandas as float64) and ``is_new`` true.  Signatures are
    deterministic in the surface: the dim's persisted ones are carried
    forward (minhash_signature is idempotent), only the delta's are
    computed.  The count is observed in the materializing job, which also
    runs entity_vertices' null-surface check."""
    rows = minhash_signature(entity_vertices(triples)).select(
        *VERTEX_COLS, F.col("entity_id").alias("root"), F.lit(True).alias("is_new")
    )
    if existing is not None:
        rows = minhash_signature(existing).select(
            *VERTEX_COLS,
            F.col("canonical_id").alias("root"),
            F.lit(False).alias("is_new"),
        ).unionByName(rows)
    n = Observation("link_input")
    rows = rows.observe(n, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return rows, n.get["n"]


def link_one_task(rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The one-task path: ``link_task`` over ``link_input``'s rows in one
    ``mapInPandas`` task, checkpointed once.  Returns ``(canonical,
    relabel)`` split from that checkpoint: canonical is ``(entity_id,
    surface, ent_type, norm, shingles, sig, canonical_id)``, relabel is
    ``(old_canonical_id, new_canonical_id)``."""
    fields = {f.name: f for f in rows.schema.fields}
    schema = StructType(
        [fields["entity_id"]]
        # relabel rows leave the vertex columns null
        + [StructField(c, fields[c].dataType, True)
           for c in ("surface", "ent_type", "norm", "shingles", "sig")]
        + [StructField("canonical_id", LongType(), False),
           StructField("is_vertex", BooleanType(), False)]
    )

    def task(batches):
        frames = list(batches)
        if frames:
            yield link_task(pd.concat(frames, ignore_index=True))

    out = rows.coalesce(1).mapInPandas(task, schema).localCheckpoint(eager=True)
    canonical = out.filter("is_vertex").drop("is_vertex")
    relabel = out.filter(~F.col("is_vertex")).select(
        F.col("entity_id").alias("old_canonical_id"),
        F.col("canonical_id").alias("new_canonical_id"),
    )
    return canonical, relabel


def _ragged(counts: np.ndarray) -> np.ndarray:
    """``concat(arange(c) for c in counts)``."""
    return np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)


def link_task(frame: pd.DataFrame) -> pd.DataFrame:
    """The whole link of ``link_input``'s rows, in pandas/numpy.

    1. The dim extension: new rows whose (surface, ent_type) the dim
       lacks.  One whose entity_id the dim has (a case variant) shares
       that entity's dense id below, so it joins the entity's cluster.
    2. The delta LSH: hot buckets are the new rows'; buckets with more
       than ``MAX_BUCKET`` members drop; every member pairs with every
       member whose id is a new id.  Without a dim every bucket is hot and
       every id new: that is ``lsh_candidate_pairs``.
    3. Pairs with token Jaccard below the threshold drop.
    4. CC (link/cc's union-find ``_min_labels``) over the verified pairs plus
       one edge from each old row to its root: an existing cluster is
       contracted onto its root, whose id is the cluster's minimum, so the
       label of a merged component is the minimum of its roots and new
       ids — the same as linking the union in one shot.
    5. Every vertex takes its label.  The relabel map is built from the old
       rows' (old root, new id) pairs: an old root with two new ids means
       a cluster split, and the task raises rather than let merge_graph
       fan history out.

    Returns the canonical rows (``is_vertex``) followed by one relabel row
    per moved old root: ``entity_id`` = old root, ``canonical_id`` = its
    new id, the vertex columns absent."""
    is_new = frame["is_new"].to_numpy(bool)
    old, new = frame[~is_new], frame[is_new]
    key = ["surface", "ent_type"]
    if len(old):
        known = pd.MultiIndex.from_frame(old[key])
        new = new[~pd.MultiIndex.from_frame(new[key]).isin(known)]
    verts = pd.concat([old, new], ignore_index=True)
    n_old = len(old)

    # dense ids in sorted order, so the min index is the min id
    root = old["root"].to_numpy(np.int64)
    ids, inv = np.unique(
        np.concatenate([verts["entity_id"].to_numpy(np.int64), root]),
        return_inverse=True,
    )
    v, r = inv[: len(verts)], inv[len(verts):]
    lo, hi = _verified_pairs(verts, v, n_old, len(ids))
    label = _min_labels(
        np.concatenate([lo, v[:n_old]]), np.concatenate([hi, r]), len(ids)
    )

    moves = np.unique(r * len(ids) + label[v[:n_old]])
    old_root, new_id = np.divmod(moves, len(ids))
    if (np.diff(old_root) == 0).any():
        raise RuntimeError(
            "link_task: relabel map is one-to-many (an existing cluster "
            "split) — refusing to migrate history"
        )
    moved = old_root != new_id
    vertex_cols = ["surface", "ent_type", "norm", "shingles", "sig"]
    canonical = verts[["entity_id", *vertex_cols]].assign(
        canonical_id=ids[label[v]], is_vertex=True
    )
    relabel = pd.DataFrame({
        "entity_id": ids[old_root[moved]],
        **dict.fromkeys(vertex_cols),  # None, not NaN: Arrow nulls
        "canonical_id": ids[new_id[moved]],
        "is_vertex": False,
    })
    return pd.concat([canonical, relabel], ignore_index=True)


def _verified_pairs(
    verts: pd.DataFrame, v: np.ndarray, n_old: int, n_ids: int
) -> tuple[np.ndarray, np.ndarray]:
    """Steps 2-3 of ``link_task``: verified pairs ``(lo, hi)`` of dense ids
    ``v`` with at least one new id; rows from ``n_old`` on are new."""
    none = np.empty(0, np.int64)
    if n_old == len(verts):
        return none, none
    sig = np.stack(verts["sig"].to_numpy()).astype(np.int64)
    ent = pd.factorize(verts["ent_type"])[0].astype(np.int64)
    keys = ((ent[:, None] * N_BANDS + np.arange(N_BANDS)) << 31) | sig

    # hot-bucket members, grouped by bucket; over-cap buckets drop
    member = np.isin(keys, keys[n_old:]).ravel()
    mkey = keys.ravel()[member]
    order = np.argsort(mkey, kind="stable")
    mrow = (np.flatnonzero(member) // N_BANDS)[order]
    _, start, size = np.unique(mkey[order], return_index=True, return_counts=True)
    kept = size <= MAX_BUCKET
    start, size = start[kept], size[kept]
    mrow = mrow[np.repeat(start, size) + _ragged(size)]
    group = np.repeat(np.arange(len(size)), size)
    first = np.cumsum(size) - size

    # every member pairs with every member of its bucket whose id is new
    new_id = np.zeros(n_ids, bool)
    new_id[v[n_old:]] = True
    b = np.flatnonzero(new_id[v[mrow]])
    count = size[group[b]]
    va = v[mrow[np.repeat(first[group[b]], count) + _ragged(count)]]
    vb = np.repeat(v[mrow[b]], count)
    distinct = va != vb
    pairs = np.unique(
        np.minimum(va, vb)[distinct] * n_ids + np.maximum(va, vb)[distinct]
    )
    lo, hi = np.divmod(pairs, n_ids)
    if not len(pairs):
        return lo, hi

    # token Jaccard: look each token of lo up among hi's (row, token) keys
    rep = np.empty(n_ids, np.int64)
    rep[v] = np.arange(len(v))  # a row of each id: its shingles are the id's
    shingles = verts["shingles"].to_numpy()
    lens = np.fromiter(map(len, shingles), np.int64, len(shingles))
    tok = pd.factorize(np.concatenate(shingles))[0]
    n_tok = tok.max() + 1
    row_tok = np.sort(np.repeat(np.arange(len(lens)), lens) * n_tok + tok)
    ra, rb = rep[lo], rep[hi]
    count = lens[ra]
    probe = np.repeat(rb, count) * n_tok + tok[
        np.repeat(np.cumsum(lens)[ra] - count, count) + _ragged(count)
    ]
    at = np.minimum(np.searchsorted(row_tok, probe), len(row_tok) - 1)
    inter = np.bincount(
        np.repeat(np.arange(len(ra)), count),
        weights=row_tok[at] == probe,
        minlength=len(ra),
    )
    ok = inter / (lens[ra] + lens[rb] - inter) >= JACCARD_THRESHOLD
    return lo[ok], hi[ok]
