"""Context-window expansion + cross-sentence NER (extract/context.py)."""

import pytest
from pyspark.sql import functions as F

from kgforge.extract.context import (
    cross_ner_mentions,
    extract_triples_fused_ctx,
    propagate_mentions,
    with_context,
)
from kgforge.extract.rel import TRIPLE_KEY, extract_triples_fused
from kgforge.extract.units import extract_units
from kgforge.fixtures import gen_repo_rows


@pytest.fixture(scope="module")
def units(spark):
    repos = spark.createDataFrame(gen_repo_rows(60))
    return extract_units(repos).localCheckpoint(eager=True)


def _key(r):
    return tuple(getattr(r, c) for c in TRIPLE_KEY)


def test_k0_equals_plain_pipeline(spark, units):
    """context_window=0 must be bit-identical to the plain fused cascade."""
    plain = sorted(map(_key, extract_triples_fused(units).collect()))
    ctx0 = sorted(map(_key, extract_triples_fused_ctx(units, k=0).collect()))
    assert plain == ctx0 and len(plain) > 0


def test_with_context_offsets(spark):
    """n_left = token count of the left neighbors actually in the window;
    ctx_text concatenates the frame in unit order."""
    rows = [
        ("r", "p", "c", "s", 0, "k", "a b"),
        ("r", "p", "c", "s", 1, "k", "c"),
        ("r", "p", "c", "s", 2, "k", "d e f"),
    ]
    u = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, content_sha string,"
        " unit_id long, kind string, text string",
    )
    got = {r.unit_id: (r.ctx_text, r.n_left) for r in with_context(u, 1).collect()}
    assert got[0] == ("a b c", 0)
    assert got[1] == ("a b c d e f", 2)
    assert got[2] == ("c d e f", 1)


def test_ctx_triples_only_in_unit_spans(spark, units):
    """With k=1 every emitted triple must also be derivable from its own
    unit's mention set on the single-token-free repos lexicon boundary:
    subject/object surfaces must occur inside the unit's own text."""
    t = extract_triples_fused_ctx(units, k=1).collect()
    unit_text = {
        (r.repo, r.path, r.unit_id): r.text for r in units.collect()
    }
    assert len(t) > 0
    for r in t:
        text = f" {unit_text[(r.repo, r.path, r.unit_id)]} "
        assert f" {r.subj} " in text or text.startswith(f"{r.subj} ")
        assert f" {r.obj} " in text or text.endswith(f" {r.obj}")


def test_propagate_mentions_subarray(spark):
    """Multi-token surfaces propagate to neighbors at every occurrence;
    same-unit and out-of-window units are excluded."""
    u = spark.createDataFrame(
        [
            ("r", "p", 0, "anchor model is here"),
            ("r", "p", 1, "x anchor model y anchor model"),
            ("r", "p", 3, "anchor model far away"),  # outside ±1 of unit 0
        ],
        "repo string, path string, unit_id long, text string",
    )
    m = spark.createDataFrame(
        [("r", "p", 0, "anchor model", "Method")],
        "repo string, path string, unit_id long, surface string, ent_type string",
    )
    got = sorted(
        (r.unit_id, r.start, r.end) for r in propagate_mentions(u, m, k=1).collect()
    )
    assert got == [(1, 1, 3), (1, 4, 6)]


def test_propagate_case_folded_and_merge_dedup(spark):
    """Occurrence match is case-folded (gazetteer semantics); the
    cross_ner_mentions merge dedups on the exact span key, keeps the
    locally-detected rows and re-keys ``m_id`` uniquely per unit."""
    u = spark.createDataFrame(
        [
            ("r", "p", "c", 0, "sha", "Anchor Model z"),
            ("r", "p", "c", 1, "sha", "anchor model z"),
        ],
        "repo string, path string, commit string, unit_id long,"
        " content_sha string, text string",
    )
    surf = spark.createDataFrame(
        [("r", "p", 0, "Anchor Model", 1), ("r", "p", 1, "anchor model", 1)],
        "repo string, path string, unit_id long, surface string, ent_type int",
    )
    prop = propagate_mentions(u, surf, k=1)
    # each unit's surface found in the OTHER unit despite case difference
    assert prop.count() == 2
    # the same spans as local mentions, in the explode_mentions schema
    local = u.select(
        "repo", "path", "commit", "unit_id", "content_sha", "text",
        F.lit(0).alias("m_id"), F.lit(0).alias("start"), F.lit(2).alias("end"),
        F.lit(1).alias("ent_type"),
    )
    merged = cross_ner_mentions(u, local, k=1).collect()
    # propagated spans coincide with local ones -> dedup keeps 2 rows
    assert len(merged) == 2
    assert sorted((r.unit_id, r.m_id, r.start, r.end) for r in merged) == [
        (0, 0, 0, 2),
        (1, 0, 0, 2),
    ]


def test_propagated_spans_valid(spark, units):
    """Property: every propagated span is in-bounds and non-empty, and the
    surface case-insensitively equals the token slice."""
    from kgforge.extract.ner import explode_mentions, tag_mentions

    mentions = explode_mentions(tag_mentions(units)).withColumn(
        "surface",
        F.array_join(
            F.slice(F.split("text", " "), F.col("start") + 1, F.col("end") - F.col("start")),
            " ",
        ),
    )
    prop = propagate_mentions(units, mentions, k=1)
    toks = units.select("repo", "path", "unit_id", F.split("text", " ").alias("toks"))
    joined = prop.join(toks, on=["repo", "path", "unit_id"]).collect()
    assert len(joined) > 0
    for r in joined:
        assert 0 <= r.start < r.end <= len(r.toks)
        assert " ".join(r.toks[r.start : r.end]).lower() == r.surface.lower()


def test_cross_ner_pipeline_superset(spark):
    """cross_ner=True merges propagated neighbor-surface mentions before
    pairing: the triple set is a superset of the plain relational path,
    and on the fixture corpus (which plants nested lexicon variants like
    'X' / 'X system') it strictly grows the mention set."""
    import pytest as _pytest

    from kgforge.extract.ner import explode_mentions, tag_mentions
    from kgforge.extract.pipeline import extract_pipeline

    repos = spark.createDataFrame(gen_repo_rows(120)).localCheckpoint(eager=True)
    plain = {
        _key(r) for r in extract_pipeline(repos, "relational").collect()
    }
    crossed = {
        _key(r)
        for r in extract_pipeline(repos, "relational", cross_ner=True).collect()
    }
    assert crossed >= plain

    u = extract_units(repos).localCheckpoint(eager=True)
    local = explode_mentions(tag_mentions(u))
    merged = cross_ner_mentions(u, local, k=1)
    n_local, n_merged = local.count(), merged.count()
    assert n_merged > n_local  # propagation found occurrences

    # m_id stays unique per unit after the merge (pair enumeration relies
    # on it for self-pair exclusion)
    dup = (
        merged.groupBy("repo", "path", "unit_id", "m_id")
        .count().filter(F.col("count") > 1).count()
    )
    assert dup == 0

    with _pytest.raises(ValueError):
        extract_pipeline(repos, "fused", cross_ner=True)


def test_with_context_empty_and_null_neighbors(spark):
    """Empty/null neighbor texts contribute ZERO tokens to n_left —
    split('') yields [''] (size 1) and would shift every span by one."""
    rows = [
        ("r", "p", "c", "s", 0, "k", "a b"),
        ("r", "p", "c", "s", 1, "k", ""),        # empty
        ("r", "p", "c", "s", 2, "k", None),      # null
        ("r", "p", "c", "s", 3, "k", "d e"),
    ]
    u = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, content_sha string,"
        " unit_id long, kind string, text string",
    )
    got = {r.unit_id: r.n_left for r in with_context(u, 1).collect()}
    assert got[0] == 0
    assert got[1] == 2   # left neighbor 'a b'
    assert got[2] == 0   # left neighbor is empty -> zero tokens
    assert got[3] == 0   # left neighbor is null  -> zero tokens


def test_propagate_equals_band_filter_formulation(spark, units):
    """The δ-explode equi-join must produce exactly what the naive
    (repo, path) join + |unit_id − src_unit| ≤ k band filter produces —
    the fan-out fix changes the physical shape, never the rows."""
    from pyspark.sql import functions as F

    from kgforge.extract.context import _subarray_positions
    from kgforge.extract.ner import explode_mentions, tag_mentions

    toks_col = F.split(F.trim("text"), "\\s+")
    mentions = explode_mentions(tag_mentions(units, "repos")).withColumn(
        "surface",
        F.array_join(
            F.slice(toks_col, F.col("start") + 1, F.col("end") - F.col("start")),
            " ",
        ),
    ).select("repo", "path", "unit_id", "surface", "ent_type")

    for k in (1, 2):
        got = propagate_mentions(units, mentions, k=k)

        surf = mentions.select(
            "repo", "path", F.col("unit_id").alias("src_unit"),
            "surface", "ent_type",
        ).distinct()
        u = units.select(
            "repo", "path", "unit_id", F.split(F.trim("text"), "\\s+").alias("toks")
        )
        nb = (
            u.join(surf, on=["repo", "path"])
            .filter(
                (F.abs(F.col("unit_id") - F.col("src_unit")) <= k)
                & (F.col("unit_id") != F.col("src_unit"))
            )
            .withColumn("pat", F.split(F.trim("surface"), "\\s+"))
        )
        want = (
            nb.withColumn("positions", _subarray_positions(F.col("toks"), F.col("pat")))
            .withColumn("start", F.explode("positions"))
            .select(
                "repo", "path", "unit_id",
                F.col("start").cast("int").alias("start"),
                (F.col("start") + F.size("pat")).cast("int").alias("end"),
                "surface", "ent_type", "src_unit",
            )
        )
        key = lambda r: (  # noqa: E731
            r.repo, r.path, r.unit_id, r.start, r.end,
            r.surface, r.ent_type, r.src_unit,
        )
        assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_propagate_plan_has_no_band_filter(spark, units):
    """Pin the physical shape: the neighbor join is a 3-key equi-join with
    no post-join abs() band predicate (the fan-out is bounded by the join
    itself, not trimmed after the fact)."""
    from pyspark.sql import functions as F

    m = spark.createDataFrame(
        [("r", "p", 1, "alpha", "Method")],
        "repo string, path string, unit_id int, surface string, ent_type string",
    )
    plan = propagate_mentions(units, m, k=2)._jdf.queryExecution().sparkPlan().toString()
    assert "abs(" not in plan
    assert "unit_id" in plan  # the id is a JOIN key, not a filter input


def test_mentions_ctx_k0_equals_plain_tagging(spark, units):
    """mentions_ctx at k=0 must reproduce explode_mentions(tag_mentions)
    exactly — same rows, same m_id assignment."""
    from kgforge.extract.context import mentions_ctx
    from kgforge.extract.ner import explode_mentions, tag_mentions

    key = lambda r: (  # noqa: E731
        r.repo, r.path, r.unit_id, r.m_id, r.start, r.end, r.ent_type,
    )
    plain = sorted(map(key, explode_mentions(tag_mentions(units)).collect()))
    ctx0 = sorted(map(key, mentions_ctx(units, k=0).collect()))
    assert plain == ctx0 and len(plain) > 0


def test_ctx_cross_composition(spark):
    """context_window and cross_ner COMPOSE on the relational path
    (reference default-ish config: both flags in one pass).  k=0 with
    cross_ner reproduces today's cross-NER output exactly; k=1 runs the
    widened tagging + propagation + re-based classification end-to-end."""
    from kgforge.extract.pipeline import extract_pipeline

    repos = spark.createDataFrame(gen_repo_rows(80)).localCheckpoint(eager=True)
    crossed = sorted(
        map(_key, extract_pipeline(repos, "relational", cross_ner=True).collect())
    )
    combined_k0 = sorted(
        map(
            _key,
            extract_pipeline(
                repos, "relational", cross_ner=True, context_window=0
            ).collect(),
        )
    )
    assert combined_k0 == crossed and len(crossed) > 0

    combined = extract_pipeline(
        repos, "relational", cross_ner=True, context_window=1
    )
    rows = combined.collect()
    assert len(rows) > 0
    # spans/surfaces re-based correctly: every subj/obj surface occurs in
    # its own unit's text (propagation adds occurrences, never imports
    # out-of-unit surfaces)
    u = extract_units(repos)
    unit_text = {(r.repo, r.path, r.unit_id): f" {r.text} " for r in u.collect()}
    for r in rows:
        txt = unit_text[(r.repo, r.path, r.unit_id)]
        assert f" {r.subj} " in txt and f" {r.obj} " in txt


def test_classify_mentions_fused_equals_relational(spark, units):
    """The fused rank+classify over a supplied mention set must equal the
    oracle-checked pair_relational + classify_pairs program on the same
    mentions — two physical strategies, one semantics."""
    from kgforge.extract.context import classify_mentions_fused
    from kgforge.extract.ner import explode_mentions, tag_mentions
    from kgforge.extract.pairs import pair_relational
    from kgforge.extract.rel import classify_pairs

    mentions = explode_mentions(tag_mentions(units)).localCheckpoint(eager=True)
    relational = sorted(
        map(_key, classify_pairs(pair_relational(mentions)).collect())
    )
    fused = sorted(map(_key, classify_mentions_fused(mentions).collect()))
    assert relational == fused and len(fused) > 0
