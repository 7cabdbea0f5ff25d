"""Training-data curation building blocks shared by the oracle-checked
curation_funnel query (kgforge/analytics_queries.py) and the
spark-submit deliverable (jobs/curate_job.py): quality gate → exact
dedup → sequence packing, every drop attributable.

All pieces are strata-parallel: the quality gate and fingerprint are
row-local expressions; dedup shuffles once on the fingerprint; packing
is sequential only WITHIN a stratum (one applyInPandas group per
stratum — shards at scale), parallel across them.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PACK_CAP = 128  # default token budget per packed sequence


def fingerprint_col(text_col: str = "text") -> F.Column:
    """Order-sensitive positional rolling hash of the whitespace tokens —
    the exact-dedup key (same arithmetic as the doc_fingerprint oracle
    query; charfold is deterministic across engines)."""
    from .hashing import MOD, charfold

    toks = F.split(F.col(text_col), " ")
    terms = F.transform(
        toks,
        lambda t, i: (i + 1) * (charfold(t) % F.lit(1000003)),
    )
    return (
        F.aggregate(terms, F.lit(0).cast("bigint"), lambda a, v: a + v)
        % F.lit(MOD)
    ).cast("bigint")


def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the smallest-doc_id representative per fingerprint (adds the
    ``fingerprint`` column; survivors only)."""
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        df.withColumn("fingerprint", fingerprint_col(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def pack_bins(
    df: DataFrame,
    cap: int = PACK_CAP,
    strata_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Greedy first-fit-in-order packing into token-budget bins, parallel
    across strata, sequential within (deterministic by doc_id order).
    Over-budget documents get their own overflowing bin — never silent
    truncation.  Returns (doc_id, <strata>, bin_id, n_tokens)."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        bin_id, fill, out_bin, out_n = 0, None, [], []
        for t in pdf[text_col]:
            # single-space split, NOT .split(): must agree with
            # quality_flags / fingerprint_col and the recursive-CTE
            # oracle (empty text -> 1 token, runs keep empty tokens)
            n = len((t or "").split(" "))
            if fill is None:  # first doc opens bin 0
                fill = n
            elif fill + n <= cap:
                fill += n
            else:
                bin_id += 1
                fill = n
            out_bin.append(bin_id)
            out_n.append(n)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                strata_col: pdf[strata_col].values,
                "bin_id": out_bin,
                "n_tokens": out_n,
            }
        )

    return df.groupBy(strata_col).applyInPandas(
        pack, f"doc_id bigint, {strata_col} string, bin_id bigint, n_tokens bigint"
    )


def curate(
    docs: DataFrame,
    pack_cap: int = PACK_CAP,
    strata_col: str = "lang",
    *,
    lm_ppl_max: float | None = None,
    lm_target: str = "en",
    bench_docs: DataFrame | None = None,
    contam_min_shingles: int = 3,
    redact_pii: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full funnel: docs(doc_id, <strata>, text) ->
    (curated, packed, stats).

    curated — quality-passing, fingerprint-deduped rows (+ n_tokens,
    fingerprint); packed — bin assignment over the curated set; stats —
    per-stratum (n_raw, n_kept, n_lm_dropped, n_contaminated, n_unique,
    n_tokens_final), the attributable-drop report.

    Optional advanced gates (r6c), each a composable stage with its own
    drop counter — off by default so the base funnel is unchanged:

    * ``lm_ppl_max``: the CCNet LM gate — drop heuristic-passing docs
      whose bigram-LM perplexity (quality.bigram_perplexity, trained on
      the corpus's ``strata_col == lm_target`` slice — the strata
      column doubles as the LM-domain column, so non-default strata
      work) exceeds the threshold.  Only the KEPT docs are scored —
      the expensive scoring joins never run for heuristic-dropped
      rows; the LM trains on the raw target slice (CCNet trains on
      the reference corpus as-is).
    * ``bench_docs``: benchmark decontamination — drop docs sharing
      >= ``contam_min_shingles`` distinct 3-token shingles with this
      eval-set frame (docs-shaped).  The eval-gram dim is eval-sized
      (MBs at 100 TB); the scale prefilter twin is the Bloom bits table
      (text_decontaminate_bloom) in front of this exact join.
    * ``redact_pii``: scrub emails/ids/IPs/phones from the SURVIVING
      text (functions/pii.py — row-local regex, no drop: redaction
      replaces) BEFORE exact-dedup fingerprinting, so the shipped text
      and its dedup keys are both post-scrub — the order a release
      pipeline runs (a doc differing only in its PII folds to one
      fingerprint).  Per-stratum ``n_pii_redactions`` counts the
      replaced matches."""
    from .quality import bigram_perplexity, quality_flags

    q = quality_flags(docs).localCheckpoint(eager=True)
    kept = q.filter("keep")

    lm_dropped = None
    if lm_ppl_max is not None:
        ppl = bigram_perplexity(
            docs,
            target_lang=lm_target,
            lang_col=strata_col,
            score_docs=kept.select("doc_id", "text"),
        )
        kept = kept.join(ppl.select("doc_id", "ppl"), "doc_id", "left")
        lm_dropped = (
            kept.filter(F.col("ppl") > lm_ppl_max)
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        kept = kept.filter(
            F.col("ppl").isNull() | (F.col("ppl") <= lm_ppl_max)
        ).drop("ppl")

    contaminated = None
    if bench_docs is not None:
        from .hashing import shingles_of

        bsh = (
            shingles_of(bench_docs).select("sh").distinct()
            .localCheckpoint(eager=True)
        )
        contaminated = (
            shingles_of(kept)
            .join(bsh, "sh")
            .groupBy("doc_id")
            .agg(F.countDistinct("sh").alias("k"))
            .filter(F.col("k") >= contam_min_shingles)
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        kept = kept.join(contaminated, "doc_id", "left_anti")

    pii_counts = None
    if redact_pii:
        from .pii import PII_PATTERNS
        from .pii import redact_pii as _redact_pii

        r = _redact_pii(kept, "text")
        total = sum(
            (F.col(f"n_{n}") for n, _, _ in PII_PATTERNS), F.lit(0)
        )
        pii_counts = (
            r.select("doc_id", total.cast("bigint").alias("__pii"))
            .filter(F.col("__pii") > 0)
            .localCheckpoint(eager=True)
        )
        # drop exactly the columns redact_pii added — a prefix match
        # would eat caller-supplied passthrough columns (n_chars, ...)
        drop_cols = [f"n_{n}" for n, _, _ in PII_PATTERNS] + ["n_residual"]
        kept = (
            r.withColumn("text", F.col("redacted"))
            .drop("redacted", *drop_cols)
        )

    curated = dedup_exact(kept).localCheckpoint(eager=True)
    packed = pack_bins(curated, cap=pack_cap, strata_col=strata_col)
    uniq_ids = curated.select("doc_id", F.lit(1).alias("__u"))
    flagged = q.join(uniq_ids, on="doc_id", how="left")
    for name, ids in (("__lm", lm_dropped), ("__ct", contaminated)):
        marker = (
            ids.select("doc_id", F.lit(1).alias(name))
            if ids is not None
            else q.select("doc_id", F.lit(None).cast("int").alias(name))
        )
        flagged = flagged.join(marker, on="doc_id", how="left")
    pii_marker = (
        pii_counts
        if pii_counts is not None
        else q.select("doc_id", F.lit(None).cast("bigint").alias("__pii"))
    )
    flagged = flagged.join(pii_marker, on="doc_id", how="left")
    stats = flagged.groupBy(strata_col).agg(
        F.count("*").alias("n_raw"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.sum(F.coalesce("__lm", F.lit(0)).cast("bigint")).alias(
            "n_lm_dropped"
        ),
        F.sum(F.coalesce("__ct", F.lit(0)).cast("bigint")).alias(
            "n_contaminated"
        ),
        F.sum(F.coalesce("__u", F.lit(0)).cast("bigint")).alias("n_unique"),
        F.sum(F.coalesce("__pii", F.lit(0)).cast("bigint")).alias(
            "n_pii_redactions"
        ),
        F.coalesce(
            F.sum(F.when(F.col("__u").isNotNull(), F.col("n_tokens"))),
            F.lit(0),
        ).cast("bigint").alias("n_tokens_final"),
    )
    return curated, packed, stats
