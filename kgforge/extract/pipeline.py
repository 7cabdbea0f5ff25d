"""End-to-end extraction: repos table -> triples DataFrame.

Flagship dataflow (SURVEY.md §7.5): scan -> extract_units -> tag ->
pairs -> classify -> dedup, with provenance (content_sha) on every row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .ner import explode_mentions, tag_mentions
from .pairs import pair_relational
from .rel import classify_pairs, extract_triples_onepass
from .units import extract_units


def extract_pipeline(
    repos: DataFrame,
    strategy: str = "fused",
    model_name: str = "repos",
    context_window: int = 0,
    cross_ner: bool = False,
) -> DataFrame:
    """repos(repo, path, commit, lang, content) -> triples.

    strategy='fused'      — maximal fusion: one Arrow pass from content to
                            triples, zero intermediate shuffle or Python
                            round-trip (the 100 TB plan).
    strategy='relational' — mentions self-join + broadcast type filter +
                            window top-k + classify UDF (the plan whose
                            stages are individually oracle-checkable).
    Both strategies produce identical triples (tested).

    context_window=k > 0 tags each unit together with its ±k neighbor
    sentences (reference config.yaml:34 context_window, data/utils.py:
    84-116); without cross_ner it implies the fused-ctx path over the
    unit table (the window needs it).  k=0 is bit-identical to the plain
    pipeline (tested).

    context_window + cross_ner COMPOSE (reference applies both flags in
    the same sample-construction pass, data/utils.py:84-116 window +
    165-191 cross-NER): the relational path tags over the context-widened
    tokens (mentions_ctx), propagates detected surfaces to ±1 neighbor
    units, then re-bases the merged mention set back into context space
    so pair scoring and relation classification see the same widened
    window the tagger saw.  cross_ner with k=0 reproduces the plain
    cross-NER relational output exactly (tested).
    """
    if strategy not in ("fused", "relational"):
        raise ValueError(f"unknown strategy: {strategy}")
    if cross_ner and strategy != "relational":
        raise ValueError("cross_ner requires strategy='relational' "
                         "(mentions must be materialized to propagate)")
    if cross_ner:
        from .context import cross_ner_mentions, mentions_ctx, rebase_to_ctx

        units = extract_units(repos)
        if context_window > 0:
            # combined mode: widened tagging, unit-local propagation, then
            # classification over the SAME widened window — fused (one
            # Arrow pass per unit) because the per-pair relational UDF
            # would re-tokenize the 2k+1-wide text once per candidate pair.
            # The context window is computed ONCE and checkpointed: both
            # the tagging stage and the re-basing join consume it.
            from .context import classify_mentions_fused, with_context

            ctx = with_context(units, context_window).localCheckpoint(
                eager=True
            )
            mentions = mentions_ctx(units, model_name, k=context_window, ctx=ctx)
            mentions = cross_ner_mentions(units, mentions, k=1)
            mentions = rebase_to_ctx(units, mentions, k=context_window, ctx=ctx)
            return classify_mentions_fused(mentions, model_name)
        mentions = explode_mentions(tag_mentions(units, model_name))
        mentions = cross_ner_mentions(units, mentions, k=1)
        pairs = pair_relational(mentions, model_name)
        return classify_pairs(pairs, model_name)
    if context_window > 0:
        from .context import extract_triples_fused_ctx

        units = extract_units(repos)
        return extract_triples_fused_ctx(units, model_name, k=context_window)
    if strategy == "fused":
        return extract_triples_onepass(repos, model_name)
    mentions = explode_mentions(tag_mentions(extract_units(repos), model_name))
    pairs = pair_relational(mentions, model_name)
    return classify_pairs(pairs, model_name)
