"""Entity canonicalization — the link: MinHash-LSH over entity surface
forms, then connected components, with one contract and two executors.

The reference's data model has coreference ``Cluster`` structures
(data/data_structures.py:349-383) that its model never consumes; the north
rule makes canonicalization a first-class stage.  The algorithm: token
shingles of the normalized surface (``shingles``) -> k MinHash signatures
-> 1-row bands -> buckets of at most ``MAX_BUCKET`` members -> candidate
pairs -> token-Jaccard verification -> connected components over the
verified pairs.

Every link is an epoch: the existing dim's rows (none for a build) and
the new vertices, read from one frame that ``link_input`` builds and
materializes once, observing its row count in that job.  A link

1. extends the dim with the new rows whose (surface, ent_type) it lacks
   (a case variant shares its entity's id, so it joins that cluster);
2. pairs within the buckets that hold a new row (every bucket, for a
   build), dropping buckets over ``MAX_BUCKET``: every member pairs with
   every new member, and pairs below ``JACCARD_THRESHOLD`` drop;
3. runs CC over the verified pairs with every existing cluster
   contracted onto its root (its canonical_id, the cluster's minimum
   id), so a merged component's label is the minimum of its roots and
   new ids, and a cluster can never split.  This equals linking the
   union in one shot (tested on random splits): an old–old pair in an
   under-cap bucket was a candidate in the epoch its younger member
   arrived — buckets only grow — so its verdict is in the prior clusters;
4. returns ``(canonical, relabel, n_canonical)``: the extended dim with
   every vertex's label as canonical_id; one ``(old_canonical_id,
   new_canonical_id)`` row per old root whose label moved, size-gated
   (functions/joins.maybe_broadcast) for merge_graph's history joins —
   an old root with two labels raises rather than fan history out; and
   canonical's row count, observed in the job that materializes it.

graph/merge.update_canonical picks the executor by ``LINK_TASK_MAX_ROWS``
on link_input's count, read at call time:

* At or below it — every build and epoch perfbench runs —
  ``link_one_task``: ``link_task``, numpy in ONE ``mapInPandas`` task
  over ``coalesce(1)`` of that frame, checkpointed once.  At these sizes
  job count, not rows, sets the cost.
* Above it, ``link_distributed``: built-in expressions only (JVM-side,
  whole-stage codegen) — ``lsh_candidate_pairs_delta``, then
  link/cc.connected_components.  Its cost scales with the delta's bucket
  neighborhood, not the accumulated dim.

So the pairing rule lives in two places: ``_verified_pairs`` (numpy) and
``_pair_buckets`` (Spark; ``lsh_candidate_pairs`` is its every-vertex-new
case).

The minhash uses explicit universal-hash arithmetic
``(a_j * h + b_j) mod P`` over ``xxhash64`` shingle hashes rather than
``pyspark.ml.feature.MinHashLSH`` — same algorithm, but pure DataFrame
(no Vector assembly), deterministic, and cheaply re-expressible in SQL for
oracle checks.  Signatures are always computed in Spark; both executors
read the same ``sig`` column.

Scale notes: the band join shuffles on (ent_type, band_id, band_key) —
keys are near-uniform hash values, so no inherent skew; mega-bucket blowup
(a degenerate signature shared by huge numbers of entities) is guarded by
``MAX_BUCKET``: oversized buckets are excluded from pairing and surfaced
via ``lsh_bucket_stats`` — never silently.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from ..functions.joins import counted_checkpoint, maybe_broadcast
from . import cc
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


def _hash_params() -> list[tuple[int, int]]:
    """Fixed (a, b) pairs from a seeded LCG — identical across sessions,
    executors, and SQL oracles (no plan-time randomness)."""
    params = []
    x = 88172645463325252
    for _ in range(N_HASHES):
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


def minhash_signature(df: DataFrame) -> DataFrame:
    """Add ``shingles: array<string>`` and ``sig: array<bigint>`` of the
    ``norm`` column.

    Idempotent: rows that already carry both columns are returned as-is —
    signatures are deterministic in (norm), so a dim that PERSISTS them
    (graph/merge.update_canonical does) never recomputes them for old
    surfaces; per-epoch signature cost is the delta's, not the dim's."""
    if "sig" in df.columns and "shingles" in df.columns:
        return df
    sh = shingles(F.col("norm"))
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


# a band bucket: one signature value of one band within one entity type
_BUCKET = ["ent_type", "band_id", "band_key"]


def _bands(vertices: DataFrame, *cols: str) -> DataFrame:
    sigged = minhash_signature(vertices)
    return sigged.select(
        "entity_id",
        "ent_type",
        "shingles",
        *cols,
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
        .groupBy(*_BUCKET)
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
    )


def _pair_buckets(members: DataFrame, jaccard_threshold: float) -> DataFrame:
    """The Spark pairing: band rows ``(_BUCKET, entity_id, shingles,
    is_new)`` -> verified ``(src, dst, jaccard)`` with src < dst.  Buckets
    with more than ``MAX_BUCKET`` members (read at call time) drop; every
    member pairs with every new member of its bucket — two new members
    once, smaller id first, so an all-new input joins each pair once — and
    pairs below ``jaccard_threshold`` drop."""
    members = members.withColumn(
        "bucket_size", F.count(F.lit(1)).over(Window.partitionBy(*_BUCKET))
    ).filter(F.col("bucket_size") <= MAX_BUCKET)
    a = members.select(
        *_BUCKET, F.col("entity_id").alias("aid"), F.col("is_new").alias("a_new"),
        F.col("shingles").alias("sh_a"),
    )
    b = members.filter("is_new").select(
        *_BUCKET, F.col("entity_id").alias("bid"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # verified before deduplication: a pair meets once per shared bucket,
    # and only the verified (src, dst, jaccard) rows, no shingle arrays,
    # reach the dedup's shuffle
    return (
        a.join(b, on=_BUCKET)
        .filter(
            (F.col("aid") < F.col("bid"))
            | (~F.col("a_new") & (F.col("aid") != F.col("bid")))
        )
        .select(
            F.least("aid", "bid").alias("src"),
            F.greatest("aid", "bid").alias("dst"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(jaccard_threshold))
        .dropDuplicates(["src", "dst"])
    )


def lsh_candidate_pairs(
    vertices: DataFrame, jaccard_threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Verified pairs among ``vertices``: ``lsh_candidate_pairs_delta``
    with every vertex new, so every bucket is hot and the hot-key filter
    folds away at plan time.  Returns ``(src, dst, jaccard)`` with
    src < dst; over-cap buckets are visible via ``lsh_bucket_stats``."""
    return lsh_candidate_pairs_delta(
        vertices.withColumn("is_new", F.lit(True)), 0, jaccard_threshold
    )


def lsh_candidate_pairs_delta(
    verts: DataFrame, n_rows: int, jaccard_threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Verified pairs of ``verts`` with at least one new endpoint
    (``is_new``), touching only the buckets that hold a new vertex — the
    per-epoch shape of incremental re-linking (``link_distributed``).

    The new vertices' bands pick the hot bucket keys; ONE map-side
    filter pass over the old vertices' bands keeps hot-bucket members (no
    full-dim shuffle — with persisted signatures banding is pure
    slicing).  Bucket sizes are exact: every member of a hot bucket
    survives the key filter, so the cap drops the buckets the full
    pairing drops, and the output is its pairs with a new endpoint.
    ``n_rows`` bounds the new vertices' row count (link_input's observed
    count), so the hot keys (``N_BANDS`` per new vertex) are a size-gated
    broadcast (functions/joins.maybe_broadcast) at no count job."""
    new = _bands(verts.filter("is_new"), "is_new")
    hot = new.select(*_BUCKET).distinct()
    old = _bands(verts.filter(~F.col("is_new")), "is_new").join(
        maybe_broadcast(hot, n_rows=N_BANDS * n_rows), on=_BUCKET
    )
    return _pair_buckets(old.unionByName(new), jaccard_threshold)


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
    return counted_checkpoint(rows)


def link_one_task(rows: DataFrame, n_rows: int) -> tuple[DataFrame, DataFrame, int]:
    """The one-task executor: ``link_task`` over ``link_input``'s
    ``n_rows`` rows in one ``mapInPandas`` task, checkpointed once.
    Canonical ``(entity_id, surface, ent_type, norm, shingles, sig,
    canonical_id)`` and the relabel map are split from that checkpoint,
    and canonical's row count is observed in its job."""
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

    n = Observation()
    out = (
        rows.coalesce(1).mapInPandas(task, schema)
        .observe(n, F.count_if("is_vertex").alias("n"))
        .localCheckpoint(eager=True)
    )
    canonical = out.filter("is_vertex").drop("is_vertex")
    relabel = out.filter(~F.col("is_vertex")).select(
        F.col("entity_id").alias("old_canonical_id"),
        F.col("canonical_id").alias("new_canonical_id"),
    )
    # the relabel map has at most one row per input row
    return canonical, maybe_broadcast(relabel, n_rows=n_rows), n.get["n"]


def link_distributed(rows: DataFrame, n_rows: int) -> tuple[DataFrame, DataFrame, int]:
    """The distributed executor: steps 1-4 of the module docstring as
    Spark joins over ``link_input``'s ``n_rows`` rows, then
    link/cc.connected_components (resolved at call time)."""
    old = rows.filter(~F.col("is_new")).drop("is_new")
    # one root per old id (surface variants share an entity_id and its
    # root); like the dim's keys, at most one row per input row
    root = maybe_broadcast(
        old.select("entity_id", "root").dropDuplicates(["entity_id"]), n_rows=n_rows
    )
    # dim extension WITHOUT a full-dim shuffle: the old dim is already
    # unique on (surface, ent_type), and so are the new rows
    # (entity_vertices) — anti-join them against the dim's keys and
    # append.  A dropDuplicates over the union would shuffle every wide
    # row (shingles + sig arrays) of the accumulated dim once per epoch.
    # A new surface can share its normalized entity_id with an old one (a
    # case variant): it takes that entity's root, and a null root marks an
    # id new to the link graph.
    keys = maybe_broadcast(old.select("surface", "ent_type"), n_rows=n_rows)
    new_only = (
        rows.filter("is_new").select(*VERTEX_COLS)
        .join(keys, on=["surface", "ent_type"], how="left_anti")
        .join(root, on="entity_id", how="left")
        .localCheckpoint(eager=True)
    )
    verts = old.withColumn("is_new", F.lit(False)).unionByName(
        new_only.withColumn("is_new", F.lit(True))
    )

    # candidate pairs contracted to root edges, checkpointed once: CC reads
    # them twice (vertices and edges), and the LSH must not run twice.
    # Two pairs may contract to one edge; duplicate edges do not change
    # components.
    cand = lsh_candidate_pairs_delta(verts, n_rows)
    for end in ("src", "dst"):
        cand = cand.join(
            root.withColumnRenamed("entity_id", end)
            .withColumnRenamed("root", f"{end}_root"),
            on=end, how="left",
        )
    edges = (
        cand.select(
            F.coalesce("src_root", "src").alias("src"),
            F.coalesce("dst_root", "dst").alias("dst"),
            F.col("src_root").isNotNull().alias("src_old"),
            F.col("dst_root").isNotNull().alias("dst_old"),
        )
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    ends = edges.select(
        F.col("src").alias("root"), F.col("src_old").alias("old")
    ).unionByName(
        edges.select(F.col("dst").alias("root"), F.col("dst_old").alias("old"))
    )
    labels = cc.connected_components(ends, edges, vertex_col="root").withColumnRenamed(
        "canonical_id", "label"
    )
    canonical, n_canonical = counted_checkpoint(
        verts.withColumn("root", F.coalesce("root", "entity_id"))
        .join(labels, on="root", how="left")
        .select(
            "entity_id", "surface", "ent_type", "norm", "shingles", "sig",
            F.coalesce("label", "root").alias("canonical_id"),
        )
    )

    # old roots whose label changed, one row each.  The CC labels are
    # functional by construction, so more than one new id per old root is
    # a bug: fail loudly rather than fan out history in _relabel.
    seen = Observation("relabel")
    relabel = (
        labels.join(ends.filter("old"), on="root", how="left_semi")
        .filter(F.col("root") != F.col("label"))
        .groupBy(F.col("root").alias("old_canonical_id"))
        .agg(
            F.min("label").alias("new_canonical_id"),
            F.count_distinct("label").alias("n_new"),
        )
        .observe(seen, F.count(F.lit(1)).alias("rows"), F.max("n_new").alias("fanout"))
        .localCheckpoint(eager=True)
        .drop("n_new")
    )
    if (seen.get["fanout"] or 0) > 1:
        raise RuntimeError(
            "link_distributed: relabel map is one-to-many (an existing "
            "cluster split) — refusing to migrate history"
        )
    return canonical, maybe_broadcast(relabel, n_rows=seen.get["rows"]), n_canonical


def _ragged(counts: np.ndarray) -> np.ndarray:
    """``concat(arange(c) for c in counts)``."""
    return np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)


def link_task(frame: pd.DataFrame) -> pd.DataFrame:
    """Steps 1-4 of the module docstring over ``link_input``'s rows, in
    pandas/numpy.  A case variant shares its entity's dense id, and CC is
    link/cc's union-find ``_min_labels`` over the verified pairs plus one
    edge from each old row to its root.  The relabel map comes from the
    old rows' (old root, new id) pairs.

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
    """Step 2 of ``link_task``: verified pairs ``(lo, hi)`` of dense ids
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
