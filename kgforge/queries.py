"""KG-construction query registry: one PySpark implementation and one
DuckDB oracle SQL per query, served by ``__spark_entry__.py``.

Each query runs a layer of the KG pipeline (mention tagging, pairing,
triple extraction, canonical ids, nodes/edges, connected components,
context windows, predict JSON) over the ``documents`` table, and its
oracle recomputes the same rows relationally.  Both engines return
columns with identical names and compatible types; floats are rounded and
integer outputs are BIGINT, so results compare by row count, schema and an
order-insensitive value hash (``scripts/check_oracles.py``).

Cross-engine determinism toolkit:
  * ``charfold`` — polynomial char hash ``fold(a*31 + ascii(c)) mod 2^31-1``,
    expressible as Spark higher-order functions AND DuckDB list_reduce;
  * md5/sha256 hex — identical builtins in both engines;
  * rounding on every float aggregate (cross-engine summation order);
  * total-order tie-breaks on every top-k.

The queries use the ``docs`` surrogate model (kgforge/core/model.py) —
single-token lexicon + gap patterns chosen so the full UDF cascade has an
exact relational mirror.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core.model import DOC_ENT_LEX, DOC_GAP_PATTERNS
from .core.vocab import ENT_TYPES, REL_TYPES
from .functions.hashing import charfold, sql_charfold


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, re-split to cluster parallelism.

    The local table is one tiny parquet file = one scan split; anything
    expression- or UDF-heavy downstream would run on a single core.  At
    real scale the scan has thousands of splits and this repartition is
    simply not written.
    """
    return _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


SQL_TOK = """
tokarr AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
tok AS (SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS pos,
               unnest(arr) AS tok FROM tokarr)
"""

_LEX_VALUES = ", ".join(
    f"('{tok}', '{ENT_TYPES[t]}')" for tok, t in sorted(DOC_ENT_LEX.items())
)
SQL_LEX = f"lex(tok, ent_type) AS (SELECT * FROM (VALUES {_LEX_VALUES}))"

_GAP_VALUES = ", ".join(
    f"('{pat[0]}', '{REL_TYPES[r]}')" for pat, r in sorted(DOC_GAP_PATTERNS.items())
)
SQL_GAP = f"gap(tok, pred) AS (SELECT * FROM (VALUES {_GAP_VALUES}))"

# triple pattern: entity, gap-word, entity at consecutive positions,
# Generic->Generic excluded (the J4 hard type filter)
SQL_TRIPLES = f"""
WITH {SQL_TOK}, {SQL_LEX}, {SQL_GAP},
triples AS (
  SELECT DISTINCT t1.doc_id, t1.tok AS subj, g.pred AS pred, t3.tok AS obj,
         l1.ent_type AS subj_type, l3.ent_type AS obj_type
  FROM tok t1
  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
  JOIN lex l1 ON t1.tok = l1.tok
  JOIN lex l3 ON t3.tok = l3.tok
  JOIN gap g ON t2.tok = g.tok
  WHERE NOT (l1.ent_type = 'Generic' AND l3.ent_type = 'Generic')
)
"""


def _docs_as_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> the extraction pipeline's unit schema (one unit per doc).

    The local test table is a single tiny parquet file = ONE scan split, so
    the expensive UDF cascade downstream would run on one core.  Repartition
    to cluster parallelism first (a 65 KB shuffle buys 32x UDF parallelism;
    at real scale the scan has thousands of splits and this is a no-op
    choice the planner makes for us).
    """
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return d.select(
        F.lit("docs").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.col("lang"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
        F.lit(0).alias("unit_id"),
        F.lit("prose").alias("kind"),
        F.col("text"),
    )


def _kg_triples_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL fused UDF cascade (M1-M4) over documents, mapped to
    (doc_id, subj, pred, obj, subj_type, obj_type)."""
    from .extract.rel import extract_triples_fused

    units = _docs_as_units(spark, sf_dir)
    t = extract_triples_fused(units, model_name="docs")
    return t.select(
        F.col("path").cast("bigint").alias("doc_id"),
        "subj", "pred", "obj", "subj_type", "obj_type",
    ).distinct()


def _doc_mentions_df(
    spark: SparkSession, sf_dir: str, model_name: str = "docs"
) -> DataFrame:
    """The REAL tagging path (M1+M2: tag_tokens + BIO decode) over
    documents -> one row per mention.

    Shaped as a single mapInPandas emitting exploded rows: the scalar-UDF +
    explode formulation compiled to TWO ArrowEvalPython nodes (the UDF
    re-evaluated on both sides of the repartition Exchange — see
    docs/PLANS.md), i.e. the whole tagging pass ran twice, once of them on
    the single input split."""
    import pandas as pd

    d = _docs(spark, sf_dir).select("doc_id", "text")

    def gen(batches):
        from .core.model import get_model
        from .core.surrogate import detect_mentions, tokenize

        model = get_model(model_name)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                toks = tokenize(r.text or "")
                for s, e, t in detect_mentions(toks, model):
                    rows.append((r.doc_id, s, " ".join(toks[s:e]), ENT_TYPES[t]))
            yield pd.DataFrame(
                rows, columns=["doc_id", "pos", "surface", "ent_type"]
            )

    return d.mapInPandas(
        gen, "doc_id bigint, pos bigint, surface string, ent_type string"
    )


# ---------------------------------------------------------------------------
# the registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# ---------- KG pipeline over documents (M1-M4, J1, J4, W1/W2, A1) ----------

@register(
    "kg_mentions",
    f"""
    WITH {SQL_TOK}, {SQL_LEX}
    SELECT t.doc_id, t.pos, t.tok AS surface, l.ent_type
    FROM tok t JOIN lex l ON t.tok = l.tok
    """,
)
def kg_mentions(spark, sf_dir):
    """Mention detection through the REAL pandas-UDF tagger (M1+M2 +
    BIO decode), relationally mirrored by a gazetteer join."""
    return _doc_mentions_df(spark, sf_dir)


@register(
    "kg_mentions_bpe",
    f"""
    WITH {SQL_TOK}, {SQL_LEX}
    SELECT t.doc_id, t.pos, t.tok AS surface, l.ent_type
    FROM tok t JOIN lex l ON t.tok = l.tok
    """,
)
def kg_mentions_bpe(spark, sf_dir):
    """kg_mentions through the TRAINED SUBWORD tokenizer (F1 fidelity,
    r6 VERDICT #4; reference: learned subword vocab at
    data/utils.py:74-79 with BIO tags on subword tokens,
    ner_model.py:269-323): BPE merges are trained on the corpus
    (functions/bpe.train_bpe_merges — the oracle-checked bpe_merges
    query's exact trainer), shipped to executors inside the model name
    (core/model.bpe_model_name), and mention detection runs at the
    SUBWORD grain — per-word merge replay, subword-encoded gazetteer
    longest-match anchored at word boundaries, BIO round-trip over
    subword ids — with spans mapped back to word space through the
    alignment (core/surrogate.detect_mentions_bpe).

    The ORACLE is kg_mentions' word-level SQL unchanged: BPE encoding
    is lossless per word, so the subword pass must reproduce the
    word-level mentions EXACTLY for any trained merge list — the
    offset-mapping roundtrip invariant this row pins (the analog of the
    reference's wordpiece→char-offset alignment being exact).

    Scale shape: identical to kg_mentions (one mapInPandas over
    documents) plus the merge TRAINING pass — n_merges vocab-table
    aggregations with map-side combine (functions/bpe.py) — and a
    vocab-sized driver collect of the merge table (BPE's merge list is
    inherently a small sequential artifact)."""
    from .core.model import bpe_model_name
    from .functions.bpe import pretoken_counts, train_bpe_merges

    md = train_bpe_merges(pretoken_counts(_docs(spark, sf_dir)), n_merges=5)
    merges = [
        (r.left_sym, r.right_sym) for r in md.orderBy("merge_rank").collect()
    ]
    return _doc_mentions_df(
        spark, sf_dir, model_name=bpe_model_name("docs", merges)
    )


@register(
    "kg_mention_pairs",
    f"""
    WITH {SQL_TOK}, {SQL_LEX},
    m AS (SELECT t.doc_id, t.pos, l.ent_type FROM tok t JOIN lex l ON t.tok = l.tok)
    SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.pos <> b.pos
    WHERE NOT (a.ent_type = 'Generic' AND b.ent_type = 'Generic')
    GROUP BY a.doc_id
    """,
)
def kg_mention_pairs(spark, sf_dir):
    """Ordered-pair enumeration (J1 self-join, i != j) + broadcast hard
    type filter (J4) — per-document pair cardinality."""
    m = _doc_mentions_df(spark, sf_dir)
    a = m.select("doc_id", F.col("pos").alias("pos_a"), F.col("ent_type").alias("type_a"))
    b = m.select("doc_id", F.col("pos").alias("pos_b"), F.col("ent_type").alias("type_b"))
    pairs = a.join(b, on="doc_id").filter(F.col("pos_a") != F.col("pos_b"))
    allow = spark.createDataFrame(
        [
            (s, o)
            for s in ENT_TYPES
            for o in ENT_TYPES
            if not (s == "Generic" and o == "Generic")
        ],
        "type_a string, type_b string",
    )
    pairs = pairs.join(F.broadcast(allow), on=["type_a", "type_b"])
    return pairs.groupBy("doc_id").agg(F.count("*").alias("n_pairs"))


def _topk_strategy_oracle() -> str:
    from .extract.topk import (
        GAMMA,
        STRATEGY_SQL,
        VAL_THRESHOLD,
        kept_sql,
        strategy_count_sql,
    )

    union = "\n    UNION ALL\n    ".join(
        f"SELECT '{name}' AS strategy, "
        f"CAST(SUM({strategy_count_sql(name)}) AS BIGINT) AS sum_count, "
        f"CAST(SUM({kept_sql(strategy_count_sql(name))}) AS BIGINT) AS sum_kept "
        f"FROM st"
        for name in sorted(STRATEGY_SQL)
    )
    return f"""
    WITH {SQL_TOK}, {SQL_LEX},
    m AS (SELECT t.doc_id, t.pos, t.tok, l.ent_type
          FROM tok t JOIN lex l ON t.tok = l.tok),
    p AS (SELECT a.doc_id,
                 ({sql_charfold("a.tok || '>' || b.tok")} % 1000) / 1000.0 AS score,
                 {sql_charfold("a.tok || '|' || b.tok")} % 8 AS lab
          FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.pos <> b.pos
          WHERE NOT (a.ent_type = 'Generic' AND b.ent_type = 'Generic')),
    ps AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g,
                  CAST(SUM(CASE WHEN score > {GAMMA} THEN 1 ELSE 0 END) AS BIGINT) AS pc,
                  CAST(SUM(CASE WHEN score > {VAL_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS vp,
                  CAST(SUM(CASE WHEN lab <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS lg
           FROM p GROUP BY doc_id),
    ecs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ec FROM m GROUP BY doc_id),
    st AS (SELECT e.doc_id, e.ec,
                  COALESCE(ps.g, CAST(0 AS BIGINT)) AS g,
                  COALESCE(ps.pc, CAST(0 AS BIGINT)) AS pc,
                  COALESCE(ps.vp, CAST(0 AS BIGINT)) AS vp,
                  COALESCE(ps.lg, CAST(0 AS BIGINT)) AS lg
           FROM ecs e LEFT JOIN ps ON e.doc_id = ps.doc_id)
    {union}
    """


@register("kg_topk_strategies", _topk_strategy_oracle())
def kg_topk_strategies(spark, sf_dir):
    """TRAIN-CURRICULUM REPLAY (reference re_model.py:282-342, closing
    the r5 'what's missing' #3 gap Spark-natively): all 18 named
    per-sentence candidate-budget strategies plus the default, evaluated
    over the scored draft-pair table at a recorded recall checkpoint
    (extract/topk.REPLAY_RECALL).  Per document the five reference
    statistics (ec, g, pc, vp, lg — see extract/topk.py) reduce in one
    map-side-combining pass; each strategy's budget is ONE shared SQL
    template evaluated by Spark (F.expr) and DuckDB verbatim, so parity
    is structural.  Output: per strategy, the corpus-total raw budget
    and the effective kept pairs (the reference's list slice =
    LEAST(GREATEST(count, 0), g)).  Scores/labels are the deterministic
    charfold surrogate (same device as kg_triples_topk) — the formulas
    are the unit under test, not the scorer.  19 sub-second aggregates
    off one checkpointed per-doc stats table; at 100 TB the stats pass
    is the only corpus-sized job."""
    from .extract.topk import (
        GAMMA,
        REPLAY_RECALL,
        STRATEGY_SQL,
        VAL_THRESHOLD,
        kept_sql,
        strategy_count_sql,
    )

    m = _doc_mentions_df(spark, sf_dir)
    a = m.select(
        "doc_id", F.col("pos").alias("pos_a"),
        F.col("surface").alias("surf_a"), F.col("ent_type").alias("type_a"),
    )
    b = m.select(
        "doc_id", F.col("pos").alias("pos_b"),
        F.col("surface").alias("surf_b"), F.col("ent_type").alias("type_b"),
    )
    pairs = (
        a.join(b, on="doc_id")
        .filter(F.col("pos_a") != F.col("pos_b"))
        .filter(
            ~((F.col("type_a") == "Generic") & (F.col("type_b") == "Generic"))
        )
    )
    scored = pairs.select(
        "doc_id",
        (
            F.pmod(charfold(F.concat_ws(">", "surf_a", "surf_b")), F.lit(1000))
            / F.lit(1000.0)
        ).alias("score"),
        F.pmod(charfold(F.concat_ws("|", "surf_a", "surf_b")), F.lit(8)).alias(
            "lab"
        ),
    )
    ps = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("g"),
        F.sum((F.col("score") > GAMMA).cast("bigint")).alias("pc"),
        F.sum((F.col("score") > VAL_THRESHOLD).cast("bigint")).alias("vp"),
        F.sum((F.col("lab") != 0).cast("bigint")).alias("lg"),
    )
    ecs = m.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("ec"))
    st = (
        ecs.join(ps, on="doc_id", how="left")
        .fillna(0, subset=["g", "pc", "vp", "lg"])
        .localCheckpoint(eager=True)
    )
    out = None
    for name in sorted(STRATEGY_SQL):
        cnt = strategy_count_sql(name, REPLAY_RECALL)
        leg = st.select(
            F.expr(cnt).alias("cnt"), F.expr(kept_sql(cnt)).alias("kept")
        ).agg(
            F.sum("cnt").cast("bigint").alias("sum_count"),
            F.sum("kept").cast("bigint").alias("sum_kept"),
        ).select(F.lit(name).alias("strategy"), "sum_count", "sum_kept")
        out = leg if out is None else out.unionByName(leg)
    return out


@register("kg_triples", SQL_TRIPLES + "SELECT * FROM triples")
def kg_triples(spark, sf_dir):
    """The flagship cascade — fused M1->M2->M3->M4 pandas UDF (tag, pair,
    score, threshold, top-k, classify, NA-drop, set-dedup) — against a pure
    relational oracle."""
    return _kg_triples_df(spark, sf_dir)


@register(
    "kg_triples_topk",
    SQL_TRIPLES
    + f"""
    , scored AS (
      SELECT *, {sql_charfold("subj || '>' || pred || '>' || obj")} % 97 AS score
      FROM triples)
    SELECT doc_id, subj, pred, obj, CAST(score AS BIGINT) AS score,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score DESC, subj, pred, obj) AS rnk FROM scored)
    WHERE rnk <= 3
    """,
)
def kg_triples_topk(spark, sf_dir):
    """Score-ranked top-k truncation per document (W1 ordering + W2
    dynamic top-k, total-order tie-break)."""
    t = _kg_triples_df(spark, sf_dir).withColumn(
        "score", F.pmod(charfold(F.concat_ws(">", "subj", "pred", "obj")), F.lit(97))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "subj", "pred", "obj")
    return (
        t.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "subj", "pred", "obj", F.col("score").cast("bigint"), "rnk")
    )


@register(
    "kg_nodes",
    f"""
    WITH {SQL_TOK}, {SQL_LEX}
    SELECT md5(t.tok || ':' || l.ent_type) AS canonical_id,
           t.tok AS surface, l.ent_type,
           CAST(COUNT(*) AS BIGINT) AS mention_count
    FROM tok t JOIN lex l ON t.tok = l.tok
    GROUP BY 1, 2, 3
    """,
)
def kg_nodes(spark, sf_dir):
    """Node materialization: canonical id (md5 of normalized surface+type)
    + mention counts (graph/materialize.build_nodes semantics)."""
    m = _doc_mentions_df(spark, sf_dir)
    return (
        m.withColumn(
            "canonical_id", F.md5(F.concat_ws(":", "surface", "ent_type"))
        )
        .groupBy("canonical_id", "surface", "ent_type")
        .agg(F.count("*").alias("mention_count"))
    )


@register(
    "kg_edges",
    SQL_TRIPLES
    + """
    SELECT md5(subj || ':' || subj_type) AS src,
           md5(obj || ':' || obj_type) AS dst,
           pred, CAST(COUNT(*) AS BIGINT) AS weight
    FROM triples GROUP BY 1, 2, 3
    """,
)
def kg_edges(spark, sf_dir):
    """Edge materialization: weighted (src, dst, pred) aggregation over
    per-document-deduped triples (graph/materialize.build_edges)."""
    t = _kg_triples_df(spark, sf_dir)
    return (
        t.withColumn("src", F.md5(F.concat_ws(":", "subj", "subj_type")))
        .withColumn("dst", F.md5(F.concat_ws(":", "obj", "obj_type")))
        .groupBy("src", "dst", "pred")
        .agg(F.count("*").alias("weight"))
    )


@register(
    "kg_f1_baseline",
    SQL_TRIPLES
    + f"""
    , naive AS (
      SELECT DISTINCT t1.doc_id, t1.tok AS subj, 'CONJUNCTION' AS pred, t3.tok AS obj
      FROM tok t1
      JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
      JOIN lex l1 ON t1.tok = l1.tok
      JOIN lex l3 ON t3.tok = l3.tok
      WHERE NOT (l1.ent_type = 'Generic' AND l3.ent_type = 'Generic')
    ),
    gold AS (SELECT DISTINCT doc_id, subj, pred, obj FROM triples),
    hits AS (SELECT n.* FROM naive n JOIN gold g
             ON n.doc_id = g.doc_id AND n.subj = g.subj
             AND n.pred = g.pred AND n.obj = g.obj)
    SELECT CAST((SELECT COUNT(*) FROM naive) AS BIGINT) AS n_pred,
           CAST((SELECT COUNT(*) FROM gold) AS BIGINT) AS n_gold,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_correct,
           ROUND((SELECT COUNT(*) FROM hits) / ((SELECT COUNT(*) FROM naive) + 1e-8), 4) AS precision_,
           ROUND((SELECT COUNT(*) FROM hits) / ((SELECT COUNT(*) FROM gold) + 1e-8), 4) AS recall_
    """,
)
def kg_f1_baseline(spark, sf_dir):
    """Micro-P/R of a majority-class baseline (predict CONJUNCTION for
    every entity pair at distance 2) vs the model's triples — the
    reference's set-based eval (A1, utils/metrics.py:1-52).

    SINGLE JOB: union-with-tag + one aggregation — no driver-side counts
    (the r1 version ran 3 actions, re-running the UDF cascade ~5x).  The
    semi-join semantics fall out of the per-key max(tag) agg:
    n_correct = keys present on both sides.

    _doc_mentions_df is checkpointed: it feeds BOTH sides of the naive
    self-join, and uncheckpointed the tagging pass runs once per side
    (PLAN_AUDIT r2: py-passes=3 where 2 — one triples + one mentions
    pass — suffice)."""
    gold = _kg_triples_df(spark, sf_dir).select("doc_id", "subj", "pred", "obj")
    m = _doc_mentions_df(spark, sf_dir).localCheckpoint(eager=True)
    a = m.select("doc_id", "pos", F.col("surface").alias("subj"), F.col("ent_type").alias("ta"))
    b = m.select(
        "doc_id", F.col("pos").alias("pos_b"), F.col("surface").alias("obj"),
        F.col("ent_type").alias("tb"),
    )
    naive = (
        a.join(b, on="doc_id")
        .filter(F.col("pos_b") == F.col("pos") + 2)
        .filter(~((F.col("ta") == "Generic") & (F.col("tb") == "Generic")))
        .select("doc_id", "subj", F.lit("CONJUNCTION").alias("pred"), "obj")
    )
    key = ["doc_id", "subj", "pred", "obj"]
    tagged = naive.select(
        *key, F.lit(1).alias("is_pred"), F.lit(0).alias("is_gold")
    ).unionByName(
        gold.select(*key, F.lit(0).alias("is_pred"), F.lit(1).alias("is_gold"))
    )
    per_key = tagged.groupBy(*key).agg(
        F.max("is_pred").alias("is_pred"), F.max("is_gold").alias("is_gold")
    )
    counts = per_key.agg(
        F.sum("is_pred").cast("bigint").alias("n_pred"),
        F.sum("is_gold").cast("bigint").alias("n_gold"),
        F.sum(F.col("is_pred") * F.col("is_gold")).cast("bigint").alias("n_correct"),
    )
    return counts.select(
        "n_pred",
        "n_gold",
        "n_correct",
        F.round(F.col("n_correct") / (F.col("n_pred") + F.lit(1e-8)), 4).alias("precision_"),
        F.round(F.col("n_correct") / (F.col("n_gold") + F.lit(1e-8)), 4).alias("recall_"),
    )


@register(
    "kg_lineage_counts",
    """
    SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS rows_out,
           CAST(SUM(n_chars) AS BIGINT) AS chars_out,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_sha
    FROM documents GROUP BY 1
    """,
)
def kg_lineage_counts(spark, sf_dir):
    """Deterministic per-bucket lineage metrics (the SQL-checkable analog
    of the per-partition manifest, kgforge/lineage.py)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.pmod("doc_id", F.lit(8)).cast("bigint").alias("bucket")).agg(
        F.count("*").alias("rows_out"),
        F.sum("n_chars").cast("bigint").alias("chars_out"),
        F.countDistinct(F.sha2("text", 256)).alias("n_distinct_sha"),
    )


@register(
    "kg_content_sha",
    "SELECT doc_id, sha256(text) AS content_sha FROM documents",
)
def kg_content_sha(spark, sf_dir):
    """Per-row provenance invariant: sha256(content) (F14; BASELINE.json
    input_hint)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2("text", 256).alias("content_sha")
    )


@register(
    "kg_pred_histogram",
    SQL_TRIPLES
    + """
    SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_triples,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM triples GROUP BY pred
    """,
)
def kg_pred_histogram(spark, sf_dir):
    """Per-relation-type eval counters (A3/A5: the reference's statistic
    Counter tables, re_model.py:853-919) over extracted triples."""
    t = _kg_triples_df(spark, sf_dir)
    return t.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register(
    "kg_cc_components",
    SQL_TRIPLES.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
    , e AS (SELECT DISTINCT md5(subj || ':' || subj_type) AS src,
                            md5(obj || ':' || obj_type) AS dst FROM triples),
    verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
    sym AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
    reach(a, b) AS (
      SELECT v, v FROM verts
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    labels AS (SELECT a AS v, MIN(b) AS canonical_id FROM reach GROUP BY a)
    SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS component_size
    FROM labels GROUP BY canonical_id
    """,
)
def kg_cc_components(spark, sf_dir):
    """Connected components over the doc entity graph — the REAL linker CC
    (link/cc.py: one-task union-find below the broadcast gate, iterative
    min-label + pointer-jumping joins above it) vs a DuckDB recursive-CTE
    transitive-closure oracle."""
    from .link.cc import connected_components

    edges = kg_edges(spark, sf_dir).select("src", "dst").distinct()
    verts = (
        edges.select(F.col("src").alias("entity_id"))
        .unionByName(edges.select(F.col("dst").alias("entity_id")))
        .distinct()
    )
    labels = connected_components(verts, edges, vertex_col="entity_id")
    return labels.groupBy("canonical_id").agg(
        F.count("*").alias("component_size")
    )


# ---------- context window + cross-sentence NER (W3/J9/J10 in the REAL
# pipeline; reference data/utils.py:84-116,165-191) ----------

def _docs_as_ctx_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pseudo-document units: 10 consecutive doc_ids form one
    'document' (path = doc_id // 10, unit_id = doc_id) so the ±k
    neighbor-sentence window has real neighbors to pull context from."""
    d = _docs(spark, sf_dir)
    return d.select(
        F.lit("corpus").alias("repo"),
        F.floor(F.col("doc_id") / 10).cast("bigint").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("text").alias("lang"),
        F.lit("").alias("content_sha"),
        F.col("doc_id").alias("unit_id"),
        F.lit("sent").alias("kind"),
        "text",
    )


@register(
    "kg_context_units",
    f"""
    WITH w AS (
      SELECT doc_id,
        COALESCE(SUM(len(string_split(text, ' '))) OVER (
          PARTITION BY doc_id // 10 ORDER BY doc_id
          ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING), 0) AS n_left,
        string_agg(text, ' ') OVER (
          PARTITION BY doc_id // 10 ORDER BY doc_id
          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS ctx
      FROM documents)
    SELECT doc_id, CAST(n_left AS BIGINT) AS n_left,
           CAST(len(string_split(ctx, ' ')) AS BIGINT) AS n_ctx_tokens,
           {sql_charfold('ctx')} AS ctx_hash
    FROM w
    """,
)
def kg_context_units(spark, sf_dir):
    """Context-window expansion (with_context, extract/context.py): ±1
    neighbor-sentence text + the token offset of the unit's own text —
    the widened input the tagger sees (reference context_window,
    config.yaml:34)."""
    from .extract.context import with_context

    ctx = with_context(_docs_as_ctx_units(spark, sf_dir), k=1)
    return ctx.select(
        F.col("unit_id").alias("doc_id"),
        F.col("n_left").cast("bigint").alias("n_left"),
        F.size(F.split("ctx_text", " ")).cast("bigint").alias("n_ctx_tokens"),
        charfold(F.col("ctx_text")).alias("ctx_hash"),
    )


@register(
    "kg_context_triples",
    SQL_TRIPLES
    + "SELECT doc_id, subj, pred, obj, subj_type, obj_type FROM triples",
)
def kg_context_triples(spark, sf_dir):
    """The REAL context-window cascade (extract_triples_fused_ctx, k=1):
    tagging runs over the widened token sequence, candidate pairs come
    from in-unit mentions only, spans re-based to unit-local.  On the
    single-token docs lexicon the widened encoding cannot change in-unit
    tagging, so the output must EXACTLY equal the plain kg_triples oracle
    — which is precisely what pins the sent_start/sent_end offset
    bookkeeping (any off-by-one shifts every span and changes triples)."""
    from .extract.context import extract_triples_fused_ctx

    t = extract_triples_fused_ctx(_docs_as_ctx_units(spark, sf_dir), "docs", k=1)
    return t.select(
        F.col("unit_id").cast("bigint").alias("doc_id"),
        "subj", "pred", "obj", "subj_type", "obj_type",
    ).distinct()


@register(
    "kg_cross_mentions",
    f"""
    WITH {SQL_TOK}, {SQL_LEX},
    m AS (SELECT DISTINCT t.doc_id, t.tok AS surface, l.ent_type
          FROM tok t JOIN lex l ON t.tok = l.tok),
    prop AS (
      SELECT DISTINCT m.doc_id AS src_doc, t.doc_id, t.pos, m.surface, m.ent_type
      FROM m JOIN tok t
        ON t.doc_id <> m.doc_id
       AND t.doc_id // 10 = m.doc_id // 10
       AND abs(t.doc_id - m.doc_id) <= 1
       AND t.tok = m.surface
    )
    SELECT doc_id, pos, surface, ent_type,
           CAST(COUNT(DISTINCT src_doc) AS BIGINT) AS n_sources
    FROM prop GROUP BY 1, 2, 3, 4
    """,
)
def kg_cross_mentions(spark, sf_dir):
    """Cross-sentence NER propagation (propagate_mentions,
    extract/context.py): surfaces detected in a unit are searched in ±1
    neighbor units via the pure-expression subarray match (J10/F13,
    reference find_subarray_position data/utils.py:395-407)."""
    from .extract.context import propagate_mentions

    units = _docs_as_ctx_units(spark, sf_dir)
    m = _doc_mentions_df(spark, sf_dir).select(
        F.lit("corpus").alias("repo"),
        F.floor(F.col("doc_id") / 10).cast("bigint").cast("string").alias("path"),
        F.col("doc_id").alias("unit_id"),
        "surface",
        "ent_type",
    )
    prop = propagate_mentions(units, m, k=1)
    return prop.groupBy(
        F.col("unit_id").alias("doc_id"),
        F.col("start").cast("bigint").alias("pos"),
        "surface",
        "ent_type",
    ).agg(F.countDistinct("src_unit").alias("n_sources"))


@register(
    "kg_ctx_cross",
    SQL_TRIPLES
    + "SELECT doc_id, subj, pred, obj, subj_type, obj_type FROM triples",
)
def kg_ctx_cross(spark, sf_dir):
    """The COMBINED context_window=1 + cross_ner relational cascade
    (reference applies both flags in one sample-construction pass,
    data/utils.py:84-116 + 165-191): tag over ±1-widened tokens
    (mentions_ctx), propagate surfaces to neighbor units, re-base the
    merged mention set into context space, pair + classify over the
    widened text.  On the single-token docs lexicon widened tagging
    cannot change in-unit mentions and every propagated surface
    occurrence is already a local mention, so the output must EXACTLY
    equal the plain kg_triples oracle — which is precisely what pins the
    merge + n_left re-basing bookkeeping (any off-by-one shifts spans
    and changes triples)."""
    from .extract.context import (
        classify_mentions_fused,
        cross_ner_mentions,
        mentions_ctx,
        rebase_to_ctx,
        with_context,
    )

    units = _docs_as_ctx_units(spark, sf_dir)
    # window computed once, checkpointed: tagging + re-basing both use it
    ctx = with_context(units, 1).localCheckpoint(eager=True)
    m = mentions_ctx(units, "docs", k=1, ctx=ctx)
    m = cross_ner_mentions(units, m, k=1)
    m = rebase_to_ctx(units, m, k=1, ctx=ctx)
    t = classify_mentions_fused(m, "docs")
    return t.select(
        F.col("unit_id").cast("bigint").alias("doc_id"),
        "subj", "pred", "obj", "subj_type", "obj_type",
    ).distinct()


# ---------- pred-overlay loader (S2), predict JSON sink (S9), per-label
# F1 (A2/A4) ----------

@register(
    "kg_pred_overlay",
    """
    WITH gold AS (SELECT doc_id, -5 AS predicted_len FROM documents),
    pred AS (SELECT doc_id, strlen(text) AS predicted_len
             FROM documents WHERE doc_id % 3 = 0)
    SELECT g.doc_id,
           CAST(COALESCE(p.predicted_len, g.predicted_len) AS BIGINT) AS predicted_len
    FROM gold g LEFT JOIN pred p ON g.doc_id = p.doc_id
    """,
)
def kg_pred_overlay(spark, sf_dir):
    """Gold + prediction-file merge scan (S2) through the REAL
    overlay_predictions loader (io/sources.py; reference
    data/data_structures.py:51-62): predicted_* columns from the pred file
    overlay the gold table, docs absent from the pred file keep their own
    (stale) values."""
    from .io.sources import overlay_predictions

    d = _t(spark, sf_dir, "documents")
    gold = d.select("doc_id", F.lit(-5).alias("predicted_len"))
    pred = d.filter(F.pmod("doc_id", F.lit(3)) == 0).select(
        "doc_id", F.octet_length(F.encode("text", "UTF-8")).alias("predicted_len")
    )
    out = overlay_predictions(gold, pred, key="doc_id")
    return out.select("doc_id", F.col("predicted_len").cast("bigint").alias("predicted_len"))


@register(
    "kg_predict_json",
    SQL_TRIPLES
    + """
    , rels AS (SELECT doc_id, subj, pred, obj FROM triples)
    SELECT doc_id,
           '{"relations":[' || string_agg(
             '{"subject":"' || subj || '","relation":"' || pred
             || '","object":"' || obj || '"}', ','
             ORDER BY subj, pred, obj) || ']}' AS payload
    FROM rels GROUP BY doc_id
    """,
)
def kg_predict_json(spark, sf_dir):
    """Predict-mode JSON assembly (S9) through the REAL
    assemble_predict_json projection (io/sinks.py; reference
    data/data_module.py:94-130): to_json(struct(sorted relations array)),
    one line per doc with >= 1 relation, byte-compared against a DuckDB
    string-assembled mirror."""
    from .io.sinks import assemble_predict_json

    t = _kg_triples_df(spark, sf_dir).select("doc_id", "subj", "pred", "obj")
    return assemble_predict_json(t, key_cols=["doc_id"])


@register(
    "kg_label_prf",
    SQL_TRIPLES
    + f"""
    , naive AS (
      SELECT DISTINCT t1.doc_id, t1.tok AS subj, 'CONJUNCTION' AS pred, t3.tok AS obj
      FROM tok t1
      JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
      JOIN lex l1 ON t1.tok = l1.tok
      JOIN lex l3 ON t3.tok = l3.tok
      WHERE NOT (l1.ent_type = 'Generic' AND l3.ent_type = 'Generic')
    ),
    gold AS (SELECT DISTINCT doc_id, subj, pred, obj FROM triples),
    tagged AS (
      SELECT doc_id, subj, pred, obj, MAX(is_p) AS is_p, MAX(is_g) AS is_g FROM (
        SELECT *, 1 AS is_p, 0 AS is_g FROM naive
        UNION ALL
        SELECT *, 0 AS is_p, 1 AS is_g FROM gold
      ) GROUP BY 1, 2, 3, 4
    )
    SELECT pred AS label,
           CAST(SUM(is_p) AS BIGINT) AS n_pred,
           CAST(SUM(is_g) AS BIGINT) AS n_gold,
           CAST(SUM(is_p * is_g) AS BIGINT) AS n_correct,
           ROUND(SUM(is_p * is_g) / (SUM(is_p) + 1e-8), 4) AS precision_,
           ROUND(SUM(is_p * is_g) / (SUM(is_g) + 1e-8), 4) AS recall_
    FROM tagged GROUP BY pred
    """,
)
def kg_label_prf(spark, sf_dir):
    """Per-label P/R counters (A2/A4; reference utils/metrics.py simple
    label F1): the same single-job union-with-tag aggregation as
    kg_f1_baseline, grouped by relation label.  _doc_mentions_df is
    checkpointed for the same both-sides-of-the-self-join reason as
    kg_f1_baseline."""
    gold = _kg_triples_df(spark, sf_dir).select("doc_id", "subj", "pred", "obj")
    m = _doc_mentions_df(spark, sf_dir).localCheckpoint(eager=True)
    a = m.select("doc_id", "pos", F.col("surface").alias("subj"), F.col("ent_type").alias("ta"))
    b = m.select(
        "doc_id", F.col("pos").alias("pos_b"), F.col("surface").alias("obj"),
        F.col("ent_type").alias("tb"),
    )
    naive = (
        a.join(b, on="doc_id")
        .filter(F.col("pos_b") == F.col("pos") + 2)
        .filter(~((F.col("ta") == "Generic") & (F.col("tb") == "Generic")))
        .select("doc_id", "subj", F.lit("CONJUNCTION").alias("pred"), "obj")
    )
    key = ["doc_id", "subj", "pred", "obj"]
    tagged = naive.select(
        *key, F.lit(1).alias("is_p"), F.lit(0).alias("is_g")
    ).unionByName(
        gold.select(*key, F.lit(0).alias("is_p"), F.lit(1).alias("is_g"))
    )
    per_key = tagged.groupBy(*key).agg(
        F.max("is_p").alias("is_p"), F.max("is_g").alias("is_g")
    )
    return per_key.groupBy(F.col("pred").alias("label")).agg(
        F.sum("is_p").cast("bigint").alias("n_pred"),
        F.sum("is_g").cast("bigint").alias("n_gold"),
        F.sum(F.col("is_p") * F.col("is_g")).cast("bigint").alias("n_correct"),
        F.round(
            F.sum(F.col("is_p") * F.col("is_g")) / (F.sum("is_p") + F.lit(1e-8)), 4
        ).alias("precision_"),
        F.round(
            F.sum(F.col("is_p") * F.col("is_g")) / (F.sum("is_g") + F.lit(1e-8)), 4
        ).alias("recall_"),
    )


def _sql_bpe_round(prev_w: str, p: str, t: str, w: str) -> str:
    """One unrolled BPE training round: weighted adjacent-pair counts ->
    top pair (cnt desc, lexicographic tie) -> greedy left-to-right fold
    rewrite (lambda references the round's top pair correlated)."""
    struct_expr = "{'a': syms[i], 'b': syms[i+1]}"
    return f"""
    {p} AS (
      SELECT (u).a AS a, (u).b AS b, SUM(cnt) AS pair_count FROM (
        SELECT cnt, unnest(list_transform(generate_series(1, len(syms) - 1),
                           i -> {struct_expr})) AS u
        FROM {prev_w} WHERE len(syms) >= 2)
      GROUP BY 1, 2),
    {t} AS (SELECT a, b, pair_count FROM {p}
            ORDER BY pair_count DESC, a, b LIMIT 1),
    {w} AS (
      SELECT w.cnt, list_reduce(
        list_transform(w.syms, s -> [s]),
        (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.a AND x[1] = t.b
                    THEN list_concat(list_slice(acc, 1, len(acc) - 1), [t.a || t.b])
                    ELSE list_concat(acc, x) END) AS syms
      FROM {prev_w} w, {t} t)"""


_SQL_BPE_MERGES = (
    r"""
    WITH words AS (
      SELECT tok, COUNT(*) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tok
        FROM documents) GROUP BY tok),
    w0 AS (SELECT cnt, list_transform(generate_series(1, length(tok)),
                                      i -> tok[i]) AS syms
           FROM words),"""
    + ",".join(
        _sql_bpe_round(f"w{r}", f"p{r + 1}", f"t{r + 1}", f"w{r + 1}")
        for r in range(5)
    )
    + """
    SELECT * FROM ("""
    + " UNION ALL ".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS merge_rank, a AS left_sym,"
        f" b AS right_sym, CAST(pair_count AS BIGINT) AS pair_count FROM t{r + 1}"
        for r in range(5)
    )
    + ")"
)


@register("bpe_merges", _SQL_BPE_MERGES)
def bpe_merges(spark, sf_dir):
    """REAL BPE merge training (functions/bpe.train_bpe_merges) over the
    GPT-2-style pre-tokens of the documents corpus: 5 rounds of
    count-top-pair-and-fuse, each round one vocab-table aggregation + one
    fold rewrite (the DuckDB oracle unrolls the identical 5 rounds).
    kg_mentions_bpe tags mentions with the merges this trainer produces."""
    from .functions.bpe import pretoken_counts, train_bpe_merges

    return train_bpe_merges(pretoken_counts(_docs(spark, sf_dir)), n_merges=5)
