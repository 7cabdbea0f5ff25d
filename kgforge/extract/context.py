"""Context-window expansion (W3/J9) + cross-sentence NER (J10) for the
extraction pipeline.

Reference behavior this realizes:

* ``context_window`` (reference data/utils.py:84-116, config.yaml:34):
  every sentence is encoded together with neighbor-sentence tokens; the
  model sees the widened sequence, but emitted spans stay sentence-local
  (``sent_start`` offset bookkeeping).  Here: ``with_context(units, k)``
  builds the widened text with a ±k neighbor-sentence window
  (``collect_list(text) over rowsBetween(-k, k)``) plus the token offset
  of the unit's own text, and ``extract_triples_fused_ctx`` runs the
  cascade over the widened tokens, keeping only triples whose mention
  spans fall inside the unit, re-based to sentence-local positions.

* ``use_cross_ner`` (reference data/utils.py:165-191 +
  find_subarray_position:395-407): mention SURFACES found in one sentence
  are searched for in neighbor sentences and added as mentions there.
  Here: ``propagate_mentions`` joins detected surfaces to ±k neighbor
  units and finds token-subarray occurrences with pure higher-order
  expressions (no UDF); ``cross_ner_mentions`` unions them into the local
  mention set before pairing.

Scale notes: the context window shuffles once on (repo, path) — the
natural document key; skew is bounded by units-per-file, not corpus size.
``propagate_mentions``'s neighbor join is equi on (repo, path) with a
range predicate on unit_id — same partitioning, and the per-document
surface set is small (max_mentions-capped), so the join fan-out is
bounded by 2k x mentions-per-unit.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.vocab import ENT_TYPES, REL_TYPES
from .rel import TRIPLES_SCHEMA


def with_context(units: DataFrame, k: int) -> DataFrame:
    """Add ``ctx_text`` (±k neighbor sentences joined) and ``n_left`` (token
    offset of the unit's own text inside ctx_text).  k=0 is the identity
    window (ctx_text = text, n_left = 0)."""
    if k == 0:
        return units.withColumn("ctx_text", F.col("text")).withColumn(
            "n_left", F.lit(0)
        )
    w = (
        Window.partitionBy("repo", "path")
        .orderBy("unit_id")
        .rowsBetween(-k, k)
    )
    wl = (
        Window.partitionBy("repo", "path")
        .orderBy("unit_id")
        .rowsBetween(-k, -1)
    )
    # same token rule as tokenize() == str.split(): trim + collapse runs;
    # null/empty text is ZERO tokens (split('') yields [''] -> size 1,
    # which would shift every downstream span by one per empty neighbor)
    n_toks = F.when(
        F.length(F.trim(F.coalesce("text", F.lit("")))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim("text"), "\\s+")))
    return units.withColumn(
        "ctx_text", F.concat_ws(" ", F.collect_list("text").over(w))
    ).withColumn(
        "n_left", F.coalesce(F.sum(n_toks).over(wl), F.lit(0)).cast("int")
    )


def extract_triples_fused_ctx(
    units: DataFrame, model_name: str = "repos", k: int = 1
) -> DataFrame:
    """Scale path with context: ONE Arrow pass over context-widened units.

    Tagging (M1/M2) runs over the WIDENED token sequence — the model 'sees'
    neighbor context, and a lexicon term straddling a sentence boundary
    changes greedy matching exactly as the reference's widened encoding
    does (data/utils.py:84-116).  Candidate pairs, however, come only from
    mentions inside the unit's own token range [n_left, n_left + n_own) —
    the reference enumerates relation candidates within sent_start/sent_end
    only.  Emitted spans are unit-local."""
    ctx = with_context(units, k)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.model import get_model
        from ..core.surrogate import (
            classify_relation,
            detect_mentions,
            rank_pairs,
            tokenize,
        )

        model = get_model(model_name)
        cols = [f.name for f in TRIPLES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                toks = tokenize(r.ctx_text or "")
                off = int(r.n_left)
                hi = off + len(tokenize(r.text or ""))
                in_unit = [
                    m for m in detect_mentions(toks, model)
                    if off <= m[0] and m[1] <= hi
                ]
                seen = set()
                for sub, obj, _s in rank_pairs(toks, in_unit, model):
                    rel_plus1, score = classify_relation(toks, sub, obj, model)
                    if rel_plus1 == 0:
                        continue
                    key = (
                        " ".join(toks[sub[0] : sub[1]]),
                        " ".join(toks[obj[0] : obj[1]]),
                        rel_plus1 - 1, sub[2], obj[2],
                    )
                    if key in seen:
                        continue
                    seen.add(key)
                    rows.append(
                        (
                            r.repo, r.path, r.commit, r.unit_id,
                            key[0], REL_TYPES[key[2]], key[1],
                            ENT_TYPES[key[3]], ENT_TYPES[key[4]],
                            score, r.content_sha,
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return ctx.mapInPandas(gen, TRIPLES_SCHEMA)


def mentions_ctx(
    units: DataFrame, model_name: str = "repos", k: int = 1,
    ctx: DataFrame | None = None,
) -> DataFrame:
    """Context-widened TAGGING for the RELATIONAL path: detect mentions
    over the ±k-widened token sequence (the model 'sees' neighbor context,
    exactly as in extract_triples_fused_ctx), keep only mentions inside
    the unit's own token range, re-based to unit-local positions.

    Output schema == explode_mentions (repo, path, commit, unit_id,
    content_sha, text, m_id, start, end, ent_type) so it composes with
    cross_ner_mentions / pair_relational.  k=0 reproduces
    explode_mentions(tag_mentions(units)) exactly (tested).

    ``ctx`` injects a pre-computed (ideally checkpointed) with_context
    frame so the window shuffle is paid once when rebase_to_ctx also
    needs it (the combined pipeline mode)."""
    if ctx is None:
        ctx = with_context(units, k)
    schema = (
        "repo string, path string, commit string, unit_id long,"
        " content_sha string, text string, m_id int, start int, end int,"
        " ent_type int"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.model import get_model
        from ..core.surrogate import detect_mentions, tokenize

        model = get_model(model_name)
        cols = [
            "repo", "path", "commit", "unit_id", "content_sha", "text",
            "m_id", "start", "end", "ent_type",
        ]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ctoks = tokenize(r.ctx_text or "")
                off = int(r.n_left)
                hi = off + len(tokenize(r.text or ""))
                m_id = 0
                for s, e, t in detect_mentions(ctoks, model):
                    if off <= s and e <= hi:
                        rows.append(
                            (
                                r.repo, r.path, r.commit, r.unit_id,
                                r.content_sha, r.text,
                                m_id, s - off, e - off, t,
                            )
                        )
                        m_id += 1
            yield pd.DataFrame(rows, columns=cols)

    return ctx.mapInPandas(gen, schema)


def classify_mentions_fused(
    mentions: DataFrame, model_name: str = "repos"
) -> DataFrame:
    """Merged mention rows (explode_mentions schema; ``text`` may be
    context-widened with spans in the same space) -> triples in ONE Arrow
    pass: mentions re-assemble per unit (one shuffle of small mention
    structs on the unit key), then rank + classify in-process — the same
    sentence-local math as pair_relational + classify_pairs (equivalence
    tested) without shuffling n² scored pair rows or re-tokenizing the
    widened text once per pair.  The scale path for the combined
    context-window × cross-NER mode."""
    key = ["repo", "path", "unit_id"]
    per_unit = mentions.groupBy(*key).agg(
        F.first("commit").alias("commit"),
        F.first("content_sha").alias("content_sha"),
        F.first("text").alias("text"),
        F.collect_list(F.struct("start", "end", "ent_type")).alias("ments"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.model import get_model
        from ..core.surrogate import classify_relation, rank_pairs, tokenize

        model = get_model(model_name)
        cols = [f.name for f in TRIPLES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                toks = tokenize(r.text or "")
                ments = sorted(
                    (int(m["start"]), int(m["end"]), int(m["ent_type"]))
                    for m in r.ments
                )
                seen = set()
                for sub, obj, _s in rank_pairs(toks, ments, model):
                    rel_plus1, score = classify_relation(toks, sub, obj, model)
                    if rel_plus1 == 0:
                        continue
                    kt = (
                        " ".join(toks[sub[0] : sub[1]]),
                        " ".join(toks[obj[0] : obj[1]]),
                        rel_plus1 - 1, sub[2], obj[2],
                    )
                    if kt in seen:
                        continue
                    seen.add(kt)
                    rows.append(
                        (
                            r.repo, r.path, r.commit, int(r.unit_id),
                            kt[0], REL_TYPES[kt[2]], kt[1],
                            ENT_TYPES[kt[3]], ENT_TYPES[kt[4]],
                            score, r.content_sha,
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    from .rel import TRIPLE_KEY

    return per_unit.mapInPandas(gen, TRIPLES_SCHEMA).dropDuplicates(TRIPLE_KEY)


def rebase_to_ctx(
    units: DataFrame, mentions: DataFrame, k: int,
    ctx: DataFrame | None = None,
) -> DataFrame:
    """Shift unit-local mention spans into the ±k context-widened token
    space and swap ``text`` for ``ctx_text``, so downstream pair scoring
    and relation classification see the same widened window the tagger
    saw — the reference builds ONE widened sample per sentence that all
    heads consume (data/utils.py:84-191).  Surfaces are unchanged: the
    shifted span slices the same tokens out of ctx_text.  ``ctx`` as in
    mentions_ctx."""
    if ctx is None:
        ctx = with_context(units, k)
    ctx = ctx.select("repo", "path", "unit_id", "ctx_text", "n_left")
    return mentions.join(ctx, on=["repo", "path", "unit_id"]).select(
        "repo", "path", "commit", "unit_id", "content_sha",
        F.col("ctx_text").alias("text"),
        "m_id",
        (F.col("start") + F.col("n_left")).cast("int").alias("start"),
        (F.col("end") + F.col("n_left")).cast("int").alias("end"),
        "ent_type",
    )


def _subarray_positions(toks_col, pat_col) -> F.Column:
    """All 0-based start positions where ``pat_col`` occurs as a contiguous
    subarray of ``toks_col`` (F13 / reference find_subarray_position:
    data/utils.py:395-407).  Pure higher-order expressions, case-folded."""
    n = F.size(toks_col)
    m = F.size(pat_col)
    idx = F.sequence(F.lit(0), F.greatest(n - m, F.lit(0)))
    return F.when(
        (m > 0) & (n >= m),
        F.filter(
            idx,
            lambda i: (i <= n - m)
            & F.forall(
                F.sequence(F.lit(0), m - 1),
                lambda j: F.lower(F.element_at(toks_col, i + j + 1))
                == F.lower(F.element_at(pat_col, j + 1)),
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))


def propagate_mentions(
    units: DataFrame, mentions: DataFrame, k: int = 1
) -> DataFrame:
    """Cross-sentence NER: surfaces detected in a unit are searched in its
    ±k neighbor units (same repo/path).  Returns the PROPAGATED mention
    rows: (repo, path, unit_id, start, end, surface, ent_type, src_unit).

    mentions needs (repo, path, unit_id, surface, ent_type).

    The neighbor join is a pure EQUI-join (SURVEY §2.3 J9: self-join on
    (doc_key, ix±δ)): each surface row explodes δ ∈ {−k..k}\\{0} into its
    2k candidate neighbor unit_ids, then hash-joins on
    (repo, path, unit_id).  The join OUTPUT is therefore bounded by
    2k × distinct-surfaces — there is no band predicate left for the
    planner to evaluate post-join, so a pathological mega-file (10k units
    in one path) costs 2k × surfaces rows, not units × surfaces."""
    surf = mentions.select(
        "repo", "path",
        F.col("unit_id").alias("src_unit"),
        "surface", "ent_type",
    ).distinct()
    u = units.select(
        "repo", "path", "unit_id",
        F.split(F.trim("text"), "\\s+").alias("toks"),
    )
    surf_nb = surf.withColumn(
        "unit_id",
        F.explode(
            F.array(
                *[F.col("src_unit") + F.lit(d) for d in range(-k, k + 1) if d != 0]
            )
        ),
    )
    nb = u.join(surf_nb, on=["repo", "path", "unit_id"]).withColumn(
        "pat", F.split(F.trim("surface"), "\\s+")
    )
    hits = nb.withColumn(
        "positions", _subarray_positions(F.col("toks"), F.col("pat"))
    ).withColumn("start", F.explode("positions"))
    return hits.select(
        "repo", "path", "unit_id",
        F.col("start").cast("int").alias("start"),
        (F.col("start") + F.size("pat")).cast("int").alias("end"),
        "surface", "ent_type", "src_unit",
    )


def cross_ner_mentions(
    units: DataFrame, mentions: DataFrame, k: int = 1
) -> DataFrame:
    """Full cross-sentence mention set for the RELATIONAL pipeline
    (reference use_cross_ner, data/utils.py:165-191): locally-detected
    mentions plus propagated neighbor-surface occurrences, re-keyed with a
    fresh per-unit ``m_id`` (pair enumeration excludes self-pairs by m_id,
    so ids must stay unique after the merge).

    ``mentions`` is the explode_mentions schema (repo, path, commit,
    unit_id, content_sha, text, m_id, start, end, ent_type:int)."""
    toks = F.split(F.trim("text"), "\\s+")
    with_surface = mentions.withColumn(
        "surface",
        F.array_join(
            F.slice(toks, F.col("start") + 1, F.col("end") - F.col("start")), " "
        ),
    )
    prop = propagate_mentions(
        units.select("repo", "path", "unit_id", "text"),
        with_surface.select("repo", "path", "unit_id", "surface", "ent_type"),
        k=k,
    )
    unit_meta = units.select(
        "repo", "path", "unit_id", "commit", "content_sha", "text"
    )
    cols = ["repo", "path", "commit", "unit_id", "content_sha", "text",
            "start", "end", "ent_type"]
    prop_full = prop.join(unit_meta, on=["repo", "path", "unit_id"]).select(*cols)
    key = ["repo", "path", "unit_id", "start", "end", "ent_type"]
    merged = (
        mentions.select(*cols)
        .unionByName(prop_full)
        .dropDuplicates(key)
    )
    w = Window.partitionBy("repo", "path", "unit_id").orderBy(
        "start", "end", "ent_type"
    )
    return merged.withColumn(
        "m_id", (F.row_number().over(w) - 1).cast("int")
    )
