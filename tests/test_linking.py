"""Canonicalization (MinHash-LSH) + connected components + graph
materialization."""

import pytest
from pyspark.sql import functions as F

from kgforge.extract.pipeline import extract_pipeline
from kgforge.fixtures import gen_repo_rows
from kgforge.graph.materialize import (
    attach_canonical_ids,
    build_edges,
    build_nodes,
    canonical_entities,
)
from kgforge.link.canonical import lsh_candidate_pairs, minhash_signature
from kgforge.link.cc import connected_components


@pytest.fixture(scope="module")
def triples(spark):
    rows = gen_repo_rows(120)
    t = extract_pipeline(spark.createDataFrame(rows), "fused")
    return t.localCheckpoint(eager=True)


def test_minhash_identical_strings_identical_sigs(spark):
    df = spark.createDataFrame(
        [("anchor model",), ("anchor model",), ("prism index",)], "norm string"
    )
    sigs = minhash_signature(df).select("norm", "sig").collect()
    by_norm = {}
    for r in sigs:
        by_norm.setdefault(r.norm, []).append(tuple(r.sig))
    assert len(set(by_norm["anchor model"])) == 1


def test_lsh_links_near_duplicates(spark):
    df = spark.createDataFrame(
        [
            ("anchor model", 1), ("anchor model system", 1),
            ("prism index", 2), ("quartz sampler", 0),
        ],
        "surface string, ent_type int",
    ).withColumn("norm", F.col("surface")).withColumn(
        "entity_id", F.abs(F.xxhash64("norm", "ent_type"))
    )
    pairs = lsh_candidate_pairs(df).collect()
    assert len(pairs) == 1  # only the anchor-model variant pair
    assert all(p.jaccard >= 0.5 for p in pairs)


def test_cc_hand_built_graph(spark):
    verts = spark.createDataFrame([(i,) for i in range(1, 8)], "entity_id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src bigint, dst bigint"
    )
    labels = {r.entity_id: r.canonical_id for r in connected_components(verts, edges).collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[5] == labels[6] == 5
    assert labels[4] == 4 and labels[7] == 7  # isolated


def test_cc_long_chain_converges(spark):
    n = 40
    verts = spark.createDataFrame([(i,) for i in range(n)], "entity_id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    labels = connected_components(verts, edges).collect()
    assert {r.canonical_id for r in labels} == {0}


def _union_find_min_labels(vertices, edges):
    """Plain-Python oracle: each vertex -> min vertex id of its component.
    An edge with an endpoint outside the vertex set is ignored."""
    parent = {v: v for v in vertices}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        if a not in parent or b not in parent:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


def test_cc_matches_union_find_on_random_graphs(spark, monkeypatch):
    """connected_components == union-find on seeded random graphs with
    duplicate and reversed edges, self-loops and isolated vertices, plus
    one long chain listed in reverse order, string ids (md5 hex, as
    kg_cc_components links), no edges, no vertices, and edges with an
    endpoint outside the vertex set.  Every graph runs on both paths: the
    one-task union-find below the gate and the iterative joins above it
    (gate forced to 0)."""
    import hashlib
    import random

    import kgforge.functions.joins as joins

    graphs = []
    for seed in range(5):
        rng = random.Random(seed)
        n = rng.randint(1, 60)
        verts = rng.sample(range(1000), n)
        edges = [
            (rng.choice(verts), rng.choice(verts))
            for _ in range(rng.randint(0, n))
        ]
        edges += [(b, a) for a, b in rng.sample(edges, len(edges) // 3)]
        edges += rng.sample(edges, len(edges) // 4)
        edges += [(v, v) for v in rng.sample(verts, min(3, n))]
        graphs.append((verts, edges, "bigint"))
    chain = list(range(60))
    graphs.append((chain, [(i + 1, i) for i in reversed(range(59))], "bigint"))
    md5 = {v: hashlib.md5(str(v).encode()).hexdigest() for v in range(1000)}
    verts, edges, _ = graphs[4]
    graphs.append((
        [md5[v] for v in verts], [(md5[a], md5[b]) for a, b in edges], "string",
    ))
    graphs.append(([3, 1, 2], [], "bigint"))
    graphs.append(([], [(1, 2), (2, 3)], "bigint"))
    # 7 and 8 are outside the set: 1-7-2 must not join 1 and 2, and the
    # self-loop 8-8 must not add a vertex
    graphs.append(([1, 2, 3, 4], [(1, 7), (7, 2), (3, 4), (8, 8), (9, 3)], "bigint"))

    for gate in (joins.BROADCAST_DIM_MAX_ROWS, 0):
        monkeypatch.setattr(joins, "BROADCAST_DIM_MAX_ROWS", gate)
        for verts, edges, id_type in graphs:
            vdf = spark.createDataFrame([(v,) for v in verts], f"entity_id {id_type}")
            edf = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
            got = {
                r.entity_id: r.canonical_id
                for r in connected_components(vdf, edf).collect()
            }
            assert got == _union_find_min_labels(verts, edges), (gate, verts)


def _cc_jobs(spark, n):
    """Spark jobs one connected_components call runs on the chain
    n-1 -> n-2 -> ... -> 0, edges listed in reverse order."""
    sc = spark.sparkContext
    group = f"cc-jobs-{n}"
    verts = spark.createDataFrame([(i,) for i in range(n)], "entity_id bigint")
    edges = spark.createDataFrame(
        [(i + 1, i) for i in reversed(range(n - 1))], "src bigint, dst bigint"
    )
    sc.setJobGroup(group, group)
    try:
        labels = connected_components(verts, edges).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r.canonical_id for r in labels} == {0}
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_one_task_job_count_independent_of_rounds(spark):
    """Below the gate CC runs a fixed number of Spark jobs: a 60-vertex
    chain, which needs several label-propagation rounds, runs no more
    than a 2-vertex graph."""
    assert _cc_jobs(spark, 60) <= _cc_jobs(spark, 2)


def test_canonicalization_idempotent(spark, triples):
    c1 = canonical_entities(triples)
    m1 = {(r.entity_id, r.canonical_id) for r in c1.collect()}
    c2 = canonical_entities(triples)
    m2 = {(r.entity_id, r.canonical_id) for r in c2.collect()}
    assert m1 == m2


def test_variants_share_canonical_id(spark, triples):
    """Lexicon near-dup variants ('X' vs 'X system') must land in one
    canonical group when both surface in the corpus."""
    can = canonical_entities(triples)
    rows = can.select("surface", "ent_type", "canonical_id").collect()
    by_surface = {(r.surface.lower(), r.ent_type): r.canonical_id for r in rows}
    merged = 0
    for (surf, t), cid in by_surface.items():
        for suffix in (" system", " variant", " v2"):
            v = by_surface.get((surf + suffix, t))
            if v is not None:
                assert v == cid, f"variant {surf!r}+{suffix!r} not linked"
                merged += 1
    assert merged > 0, "corpus contained no variant pairs — weak test"


def test_nodes_edges_consistency(spark, triples):
    can = canonical_entities(triples)
    linked = attach_canonical_ids(triples, can)
    nodes = build_nodes(linked)
    edges = build_edges(linked)
    node_ids = {r.canonical_id for r in nodes.select("canonical_id").collect()}
    for r in edges.select("src", "dst").collect():
        assert r.src in node_ids and r.dst in node_ids
    # weights sum to linked triple count
    total_w = edges.agg(F.sum("weight")).collect()[0][0]
    assert total_w == linked.count()
    # provenance bounded and deterministic
    for r in edges.select("provenance").collect():
        assert 1 <= len(r.provenance) <= 3

def test_case_variant_surfaces_no_duplicate_fanout(spark):
    """Case/punct variants share entity_id (derived from the normalized
    form); CC must not receive duplicate vertex rows (ADVICE r1: the
    pointer-jump self-join multiplies dupes and fans out linked triples)."""
    rows = [
        ("r", "p", 0, "Anchor Model", "Method", "USED-FOR", "prism index", "Task"),
        ("r", "p", 1, "anchor model", "Method", "USED-FOR", "prism index", "Task"),
        ("r", "p", 2, "anchor model", "Method", "USED-FOR", "quartz sampler", "Task"),
    ]
    t = spark.createDataFrame(
        rows,
        "repo string, path string, unit_id long, subj string, subj_type string,"
        " pred string, obj string, obj_type string",
    )
    can = canonical_entities(t)
    # exactly one canonical row per (surface, ent_type) — no label dupes
    assert can.count() == can.dropDuplicates(["surface", "ent_type"]).count()
    # both case variants resolve to one entity_id and one canonical_id
    variants = can.filter(F.lower("surface") == "anchor model").collect()
    assert len(variants) == 2
    assert len({r.entity_id for r in variants}) == 1
    assert len({r.canonical_id for r in variants}) == 1
    # the canonical join must not fan out triples
    linked = attach_canonical_ids(t, can)
    assert linked.count() == t.count()


def test_lsh_delta_pairs_match_involving(spark):
    """The delta-bucket pairing (one map-side pass over the dim) produces
    exactly the full pairing's pairs that involve a new endpoint (bucket
    sizes are capped before the hot-bucket filter, so both paths drop the
    same buckets); any extra old-old rows it emits share a hot bucket
    (tolerated by the incremental caller: old-old verdicts already live
    in prior clusters)."""
    from kgforge.extract.pipeline import extract_pipeline
    from kgforge.fixtures import gen_repo_rows
    from kgforge.link.canonical import (
        entity_vertices,
        lsh_candidate_pairs,
        lsh_candidate_pairs_delta,
        minhash_signature,
    )

    rows = gen_repo_rows(80)
    ta = extract_pipeline(spark.createDataFrame(rows[:50]), "fused")
    tb = extract_pipeline(spark.createDataFrame(rows[50:]), "fused")
    old = minhash_signature(entity_vertices(ta)).localCheckpoint(eager=True)
    new = (
        minhash_signature(entity_vertices(tb))
        .join(
            old.select("surface", "ent_type"),
            on=["surface", "ent_type"], how="left_anti",
        )
        .localCheckpoint(eager=True)
    )
    allv = old.unionByName(new.select(*old.columns))
    new_ids = {r.entity_id for r in new.select("entity_id").distinct().collect()} - {
        r.entity_id for r in old.select("entity_id").distinct().collect()
    }

    key = lambda r: (r.src, r.dst, round(r.jaccard, 6))  # noqa: E731
    inv_set = {
        key(r) for r in lsh_candidate_pairs(allv).collect()
        if r.src in new_ids or r.dst in new_ids
    }
    flagged = old.withColumn("is_new", F.lit(False)).unionByName(
        new.select(*old.columns).withColumn("is_new", F.lit(True))
    )
    delta = lsh_candidate_pairs_delta(flagged, new.count())
    delta_new = {
        key(r) for r in delta.collect()
        if r.src in new_ids or r.dst in new_ids
    }
    assert inv_set == delta_new and len(inv_set) > 0


def _link_task_oracle(frame, max_bucket):
    """Plain-Python link_task: dim extension, hot-bucket pairing with the
    cap, Jaccard >= 0.5, union-find over the pairs plus one edge from each
    old row to its root.  Returns ({(surface, ent_type): canonical_id},
    {old root: new id} for moved roots)."""
    from kgforge.link.canonical import N_BANDS

    rows = frame.to_dict("records")
    old = [r for r in rows if not r["is_new"]]
    known = {(r["surface"], r["ent_type"]) for r in old}
    verts = old + [r for r in rows if r["is_new"] and (r["surface"], r["ent_type"]) not in known]
    new_ids = {r["entity_id"] for r in verts[len(old):]}
    buckets = {}
    for i, r in enumerate(verts):
        for b in range(N_BANDS):
            buckets.setdefault((r["ent_type"], b, int(r["sig"][b])), []).append(i)
    hot = {(r["ent_type"], b, int(r["sig"][b])) for r in verts[len(old):] for b in range(N_BANDS)}
    edges = [(r["entity_id"], r["root"]) for r in old]
    for k in hot:
        members = buckets[k]
        if len(members) > max_bucket:
            continue
        for i in members:
            for j in members:
                a, b = verts[i], verts[j]
                if b["entity_id"] in new_ids and a["entity_id"] != b["entity_id"]:
                    sa, sb = set(a["shingles"]), set(b["shingles"])
                    if len(sa & sb) / len(sa | sb) >= 0.5:
                        edges.append((a["entity_id"], b["entity_id"]))
    ids = {r["entity_id"] for r in verts} | {r["root"] for r in old}
    label = _union_find_min_labels(ids, edges)
    canonical = {(r["surface"], r["ent_type"]): label[r["entity_id"]] for r in verts}
    moved = {r["root"]: label[r["root"]] for r in old if label[r["root"]] != r["root"]}
    return canonical, moved


def _random_link_frames():
    """(seed, frame) of seeded random ``link_input`` rows: shared signature
    values make multi-member and over-cap buckets, old clusters have
    several members, some new rows repeat an old surface and some are case
    variants of an old entity (same id and tokens).  Seed 5 has no dim."""
    import random

    import numpy as np
    import pandas as pd

    from kgforge.link.canonical import N_HASHES

    for seed in range(6):
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(rng.randint(4, 12))]

        def vertex(eid):
            toks = rng.sample(vocab, rng.randint(1, 3))
            return {
                "surface": " ".join(toks) + f" #{eid}", "ent_type": rng.choice("MT"),
                "norm": " ".join(toks), "entity_id": eid,
                "shingles": np.array(toks),
                "sig": np.array([rng.randint(0, 5) for _ in range(N_HASHES)], np.int64),
            }

        ids = rng.sample(range(1, 10_000), 60)
        old = [vertex(e) for e in ids[:30]]
        for cluster in range(8):  # roots are each cluster's minimum id
            members = [r for i, r in enumerate(old) if i % 8 == cluster]
            for r in members:
                r["root"] = min(m["entity_id"] for m in members)
        new = [vertex(e) for e in ids[30:]]
        new += [dict(r) for r in rng.sample(old, 4)]  # surfaces the dim has
        new += [dict(r, surface=r["surface"].upper()) for r in rng.sample(old, 3)]
        for r in new:
            r["root"] = r["entity_id"]
        frame = pd.DataFrame(
            [dict(r, is_new=False) for r in old] + [dict(r, is_new=True) for r in new]
        )
        if seed == 5:
            frame = frame[frame.is_new]  # no dim: every vertex new
        yield seed, frame


def test_link_task_matches_python_oracle_on_random_frames(monkeypatch):
    """The one-task link body (numpy, no Spark) equals a plain-Python
    reading of the same steps on seeded random dims and deltas
    (``_random_link_frames``)."""
    import kgforge.link.canonical as canonical
    from kgforge.link.canonical import link_task

    for seed, frame in _random_link_frames():
        for cap in (3, 64):
            monkeypatch.setattr(canonical, "MAX_BUCKET", cap)
            out = link_task(frame)
            vertex_rows = out[out.is_vertex]
            got = dict(zip(zip(vertex_rows.surface, vertex_rows.ent_type), vertex_rows.canonical_id))
            moved = out[~out.is_vertex]
            want_can, want_moved = _link_task_oracle(frame, cap)
            assert got == want_can, (seed, cap)
            assert dict(zip(moved.entity_id, moved.canonical_id)) == want_moved, (seed, cap)
            assert list(out.columns[:7]) == [
                "entity_id", "surface", "ent_type", "norm", "shingles", "sig", "canonical_id"
            ]


def test_link_distributed_matches_python_oracle_on_random_frames(spark, monkeypatch):
    """The distributed executor on link_input-shaped Spark frames of the
    same seeded random dims and deltas equals the plain-Python oracle,
    with and without a dim and at two bucket caps: its canonical ids, its
    relabel map and its observed canonical count."""
    import kgforge.link.canonical as canonical
    from kgforge.link.canonical import link_distributed

    schema = (
        "surface string, ent_type string, norm string, entity_id bigint, "
        "shingles array<string>, sig array<bigint>, root bigint, is_new boolean"
    )
    for seed, frame in _random_link_frames():
        rows = spark.createDataFrame([
            (r.surface, r.ent_type, r.norm, int(r.entity_id), [str(t) for t in r.shingles],
             [int(x) for x in r.sig], int(r.root), bool(r.is_new))
            for r in frame.itertuples()
        ], schema).localCheckpoint(eager=True)
        for cap in (3, 64):
            monkeypatch.setattr(canonical, "MAX_BUCKET", cap)
            can, relabel, n_canonical = link_distributed(rows, len(frame))
            got = {(r.surface, r.ent_type): r.canonical_id for r in can.collect()}
            moved = {r.old_canonical_id: r.new_canonical_id for r in relabel.collect()}
            want_can, want_moved = _link_task_oracle(frame, cap)
            assert got == want_can, (seed, cap)
            assert n_canonical == len(want_can), (seed, cap)
            assert moved == want_moved, (seed, cap)


def _jaccard_components(vertices):
    """Brute-force linking oracle over ``(surface, ent_type)`` vertices:
    every pair of one type that shares a token (a token index, no
    signatures, no bucket cap), kept at token Jaccard >= 0.5, then
    union-find.  Returns each vertex's component label, by position."""
    import itertools
    import re

    tokens = [
        frozenset(re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", s.lower())).strip().split(" "))
        for s, _ in vertices
    ]
    index = {}
    for i, ((_, ent_type), toks) in enumerate(zip(vertices, tokens)):
        for tok in toks:
            index.setdefault((ent_type, tok), []).append(i)
    pairs = {p for members in index.values() for p in itertools.combinations(members, 2)}
    edges = [(i, j) for i, j in pairs
             if 2 * len(tokens[i] & tokens[j]) >= len(tokens[i] | tokens[j])]
    return _union_find_min_labels(range(len(vertices)), edges)


def test_canonical_clusters_inside_jaccard_components(spark, monkeypatch):
    """Linking never merges what exact token Jaccard keeps apart: on
    perfbench's 10,000-surface vocabulary every canonical cluster of a
    build (``update_canonical(None, ...)``) lies inside one component of
    the brute-force oracle."""
    from pathlib import Path

    from kgforge.graph.merge import update_canonical

    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "perfbench"))
    from gen import vocabulary

    vocab = vocabulary(10_000, 7)
    triples = spark.createDataFrame(
        [(s, t, s, t) for s, t in vocab],
        "subj string, subj_type string, obj string, obj_type string",
    )
    can, _, n_canonical = update_canonical(None, triples)
    rows = can.select("surface", "ent_type", "canonical_id").collect()
    assert n_canonical == len(rows) == len(vocab)
    label = _jaccard_components([(r.surface, r.ent_type) for r in rows])
    components = {}
    for i, r in enumerate(rows):
        components.setdefault(r.canonical_id, set()).add(label[i])
    assert all(len(c) == 1 for c in components.values())
    assert len(components) < len(vocab)  # the planted variants do link
