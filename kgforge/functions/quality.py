"""Text-quality scoring / filtering for training-data curation.

The keep/drop decision every LLM-data pipeline runs in front of training:
cheap, fully JVM-side heuristics (length, stopword density, token-shape
sanity), with the decision AND the first-failing reason materialized per
row — drops are attributable and countable, never silent (repo rule).

All thresholds are deliberately simple constants: the operator shape
(vectorized flags + reason attribution + drop accounting) is the product;
swap the rule set per corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_TOKENS = 5
MAX_STOP_RATIO = 0.6
MIN_MEAN_TOK_LEN = 2.0
MAX_MEAN_TOK_LEN = 12.0
STOPWORDS = ("a", "the")


def quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add n_tokens, stop_ratio, mean_tok_len, keep, reason columns.

    reason = first failing rule in a fixed order ('too_short',
    'stopword_heavy', 'weird_tokens'), else 'ok' — deterministic and
    SQL-mirrorable.  Null text folds to '' (one empty token -> too_short):
    a null document must NEVER pass the gate — with raw null every rule
    predicate evaluates null and the CASE falls through to 'ok'."""
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n = F.size(toks)
    stops = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = stops / n
    mean_len = (
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        / n
    )
    reason = (
        F.when(n < MIN_TOKENS, "too_short")
        .when(stop_ratio > MAX_STOP_RATIO, "stopword_heavy")
        .when(
            (mean_len < MIN_MEAN_TOK_LEN) | (mean_len > MAX_MEAN_TOK_LEN),
            "weird_tokens",
        )
        .otherwise("ok")
    )
    return (
        df.withColumn("n_tokens", n.cast("bigint"))
        .withColumn("stop_ratio", F.round(stop_ratio, 4))
        .withColumn("mean_tok_len", F.round(mean_len, 4))
        .withColumn("reason", reason)
        .withColumn("keep", F.col("reason") == "ok")
    )


def drop_stats(flagged: DataFrame) -> DataFrame:
    """Per-reason drop accounting for the filter above."""
    return flagged.groupBy("reason").agg(F.count("*").alias("n_docs"))


# Gopher-style repetition gates (Rae et al. 2021, appendix A1.1),
# re-expressed over single-line token streams: the reference corpora
# here carry no newlines, so the line-level rules collapse and the
# token-level trio below is the operative subset.  Thresholds are
# deliberate constants (same contract as the quality gate above).
TOP_BIGRAM_MAX = 0.2  # fraction of tokens covered by the top bigram
DUP_TRIGRAM_MAX = 0.3  # fraction of trigram slots holding a repeat
MAX_RUN_MAX = 3  # longest same-token run


def _grams(arr, k: int):
    """Row-local k-gram array (space-joined).  F.sequence is DESCENDING
    when stop < start (same hazard as hashing.shingles_of) — short docs
    must fold to an empty array, not throw under ANSI mode."""
    return F.when(
        F.size(arr) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(arr, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc repetition signals + keep/first-failing-reason.

    Output: doc_id, n_tokens, top_bigram_frac (tokens covered by the
    single most frequent bigram), dup_trigram_frac (trigram occurrences
    belonging to a trigram seen >= 2x in the doc), max_run (longest
    consecutive same-token run), reason in ('bigram_heavy',
    'trigram_dupes', 'token_run', 'ok'), keep.

    Shape: max_run folds row-locally over the token array (no window,
    no per-doc shuffle); both gram families ride ONE explode into ONE
    map-side-combining (doc_id, k, gram) count, then one per-doc
    reduce — the corpus is scanned once.  Null text folds to '' (one
    empty token), so every doc yields a row and the gates never pass a
    null by three-valued-logic fallthrough (same rule as
    quality_flags)."""
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")

    def _run_step(acc, x):
        run = (
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .cast("bigint")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    max_run = F.aggregate(
        arr,
        F.struct(
            # '\\x00' sentinel: cannot equal a split() token, so the
            # first element always starts run 1
            F.lit("\x00").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        _run_step,
        lambda acc: acc["best"],
    )
    base = df.select(
        "doc_id",
        arr.alias("arr"),
        F.size(arr).cast("bigint").alias("n_tokens"),
        max_run.alias("max_run"),
    )
    tagged = lambda k: F.transform(  # noqa: E731
        _grams(F.col("arr"), k),
        lambda g: F.struct(F.lit(k).alias("k"), g.alias("g")),
    )
    # explode_OUTER + the per-doc stats riding as grouping keys (they
    # are doc_id-functional constants): gram-less docs keep their row
    # (null kg) and no join back to a second corpus scan is needed —
    # ONE scan, gram count then per-doc reduce, both partial-agg
    counts = (
        base.select(
            "doc_id",
            "n_tokens",
            "max_run",
            F.explode_outer(F.concat(tagged(2), tagged(3))).alias("kg"),
        )
        .groupBy(
            "doc_id",
            "n_tokens",
            "max_run",
            F.col("kg.k").alias("k"),
            F.col("kg.g").alias("g"),
        )
        .agg(F.count("*").alias("c"))
    )
    j = counts.groupBy("doc_id", "n_tokens", "max_run").agg(
        F.coalesce(
            F.max(F.when(F.col("k") == 2, F.col("c"))), F.lit(0)
        ).alias("top_bg"),
        F.sum(
            F.when((F.col("k") == 3) & (F.col("c") >= 2), F.col("c"))
            .otherwise(F.lit(0))
        ).alias("dup_tg"),
        F.sum(F.when(F.col("k") == 3, F.col("c")).otherwise(F.lit(0))).alias(
            "tot_tg"
        ),
    )
    # single-division doubles from integer counts: bitwise-identical in
    # any IEEE engine, so the DuckDB oracle mirrors exactly
    top_frac = (F.col("top_bg") * 2).cast("double") / F.col("n_tokens")
    dup_frac = F.when(
        F.col("tot_tg") > 0,
        F.col("dup_tg").cast("double") / F.col("tot_tg"),
    ).otherwise(F.lit(0.0))
    # the bigram gate needs an actually-REPEATED top bigram: with all
    # bigrams distinct, top_frac is 2/n and would condemn every short
    # doc (Gopher pairs these rules with a min-length precondition; the
    # count >= 2 guard is the length-free equivalent)
    reason = (
        F.when(
            (F.col("top_bg") >= 2) & (top_frac > TOP_BIGRAM_MAX),
            "bigram_heavy",
        )
        .when(dup_frac > DUP_TRIGRAM_MAX, "trigram_dupes")
        .when(F.col("max_run") > MAX_RUN_MAX, "token_run")
        .otherwise("ok")
    )
    return j.select(
        "doc_id",
        "n_tokens",
        F.round(top_frac, 4).alias("top_bigram_frac"),
        F.round(dup_frac, 4).alias("dup_trigram_frac"),
        "max_run",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


LM_BACKOFF = 0.4  # stupid-backoff discount (Brants et al. 2007)


def bigram_perplexity(
    docs: DataFrame,
    target_lang: str = "en",
    text_col: str = "text",
    lang_col: str = "lang",
    score_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document bigram-LM perplexity vs a target-domain LM trained
    IN the same pass (the CCNet gate, Wenzek et al. 2020): train stupid-
    backoff bigram counts on ``lang_col == target_lang`` documents from
    ``docs``, score ``score_docs`` (default: all of ``docs``) by
    exp(-mean ln S).  Returns (doc_id, n_scored, ppl).  Passing only
    the kept docs as ``score_docs`` keeps the scoring joins off rows an
    earlier gate already dropped.

    Scale shape: ONE token scan per side feeds the count tables
    (map-side combined); count dims attach by KEYED joins; the scalar
    (N, V) frame rides a crossJoin."""
    from pyspark.sql import Window

    def _tl(frame):
        t = frame.select(
            "doc_id",
            F.posexplode(F.split(text_col, " ")).alias("pos", "tok"),
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        return t.withColumn("prev", F.lag("tok").over(w))

    trn = (
        _tl(docs.filter(F.col(lang_col) == target_lang))
        .localCheckpoint(eager=True)
    )
    # Non-silent guard (repo rule): an empty training slice (no rows
    # with lang_col == target_lang) would make N+V = 0, the backoff leg
    # log(x/0) = +Infinity under IEEE double division, and every doc
    # score ppl 0.0 — turning any perplexity gate into a silent no-op
    # instead of surfacing the misconfiguration.
    # trn is already eagerly checkpointed, so this probe is O(1).
    if trn.limit(1).count() == 0:
        raise ValueError(
            f"bigram_perplexity: empty LM training slice — no rows with "
            f"{lang_col} == {target_lang!r}; check the strata/target "
            f"configuration"
        )
    tl = _tl(score_docs if score_docs is not None else docs)
    bg = trn.filter(F.col("prev").isNotNull())
    c2 = bg.groupBy("prev", "tok").agg(F.count("*").cast("double").alias("cb"))
    c1 = bg.groupBy("prev").agg(F.count("*").cast("double").alias("cx"))
    cu = trn.groupBy("tok").agg(F.count("*").cast("double").alias("cui"))
    nv = trn.agg(
        F.count("*").cast("double").alias("n"),
        F.countDistinct("tok").cast("double").alias("v"),
    )
    sc = (
        tl.filter(F.col("prev").isNotNull())
        .crossJoin(nv)
        .join(c2, ["prev", "tok"], "left")
        .join(c1, ["prev"], "left")
        .join(cu, ["tok"], "left")
        .select(
            "doc_id",
            F.when(F.col("cb").isNotNull(), F.log(F.col("cb") / F.col("cx")))
            .otherwise(
                F.log(
                    F.lit(LM_BACKOFF)
                    * (F.coalesce("cui", F.lit(0.0)) + 1.0)
                    / (F.col("n") + F.col("v"))
                )
            )
            .alias("lp"),
        )
    )
    return sc.groupBy("doc_id").agg(
        F.count("*").alias("n_scored"), F.exp(-F.avg("lp")).alias("ppl")
    )
