"""End-to-end extraction pipeline on Spark: golden parity, strategy
equivalence, partition invariance, sha provenance, eval-set P/R gate
(SURVEY.md §5.2 items 2-3; BASELINE.md quality target)."""

import pytest

from kgforge.core.metrics import f1_score
from kgforge.core.model import get_model
from kgforge.core.surrogate import extract_triples
from kgforge.extract.pipeline import extract_pipeline
from kgforge.extract.rel import extract_triples_fused
from kgforge.extract.units import extract_units
from kgforge.fixtures import (
    gen_eval_docs,
    gen_repo_rows,
    golden_triples_for_rows,
    load_eval_docs_sentences,
)

KEY = lambda r: (  # noqa: E731
    r.repo, r.path, r.unit_id, r.subj, r.pred, r.obj, r.subj_type, r.obj_type,
    r.content_sha,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = gen_repo_rows(120)
    return rows, spark.createDataFrame(rows)


def test_fused_matches_golden(spark, corpus):
    rows, repos = corpus
    got = {KEY(r) for r in extract_pipeline(repos, "fused").collect()}
    want = {
        (g["repo"], g["path"], g["unit_id"], g["subj"], g["pred"], g["obj"],
         g["subj_type"], g["obj_type"], g["content_sha"])
        for g in golden_triples_for_rows(rows)
    }
    assert got == want


def test_all_strategies_match(spark, corpus):
    _, repos = corpus
    fused = {KEY(r) for r in extract_pipeline(repos, "fused").collect()}
    staged = {KEY(r) for r in extract_triples_fused(extract_units(repos)).collect()}
    rel = {KEY(r) for r in extract_pipeline(repos, "relational").collect()}
    assert fused == staged == rel
    for context_window in (0, 1):
        with pytest.raises(ValueError, match="unknown strategy"):
            extract_pipeline(repos, "staged", context_window=context_window)


def test_partition_invariance(spark, corpus):
    """Triple set invariant under repartition(n) for n in {1, 3, 16}."""
    _, repos = corpus
    base = {KEY(r) for r in extract_pipeline(repos, "fused").collect()}
    for n in (1, 3, 16):
        got = {KEY(r) for r in extract_pipeline(repos.repartition(n), "fused").collect()}
        assert got == base, f"triples changed under repartition({n})"


def test_sha_provenance_carried(spark, corpus):
    import hashlib

    rows, repos = corpus
    shas = {r["path"]: hashlib.sha256(r["content"].encode()).hexdigest() for r in rows}
    for r in extract_pipeline(repos, "fused").collect():
        assert r.content_sha == shas[r.path]


def test_eval_docs_pr_gate(spark):
    """P/R >= 0.95 vs reference-semantics predictions AND planted gold on
    the SciERC-style eval set (BASELINE.json metric)."""
    from pyspark.sql import functions as F

    from kgforge.core.vocab import ENT_TYPES, REL_TYPES
    from kgforge.extract.rel import extract_triples_fused

    docs = gen_eval_docs(60)
    sents = load_eval_docs_sentences(docs)
    model = get_model("repos")

    # oracle (reference-semantics predictions), plain python
    oracle_pred = {}
    for s in sents:
        oracle_pred[(s["doc_key"], s["sent_ix"])] = [
            (t[0], t[1], REL_TYPES[t[2]], ENT_TYPES[t[3]], ENT_TYPES[t[4]])
            for t in extract_triples(s["tokens"], model)
        ]

    # pipeline: sentences as units through the REAL fused UDF path
    units = spark.createDataFrame(
        [
            {
                "repo": "eval", "path": s["doc_key"], "commit": "c",
                "lang": "eval", "content_sha": "x",
                "unit_id": s["sent_ix"], "kind": "sent",
                "text": " ".join(s["tokens"]),
            }
            for s in sents
        ]
    )
    got = extract_triples_fused(units, "repos").collect()
    spark_pred = {}
    for r in got:
        spark_pred.setdefault((r.path, r.unit_id), []).append(
            (r.subj, r.obj, r.pred, r.subj_type, r.obj_type)
        )

    # gold from the planted grammar
    gold = {}
    for s in sents:
        g = []
        for ss, se, os_, oe, rel in s["relations"]:
            sub_t = next(t for st, en, t in s["ner"] if (st, en) == (ss, se))
            obj_t = next(t for st, en, t in s["ner"] if (st, en) == (os_, oe))
            g.append(
                (
                    " ".join(s["tokens"][ss:se]), " ".join(s["tokens"][os_:oe]),
                    REL_TYPES[rel], ENT_TYPES[sub_t], ENT_TYPES[obj_t],
                )
            )
        gold[(s["doc_key"], s["sent_ix"])] = g

    outputs = [
        {
            "spark": spark_pred.get(k, []),
            "oracle": oracle_pred.get(k, []),
            "gold": gold.get(k, []),
        }
        for k in gold
    ]
    f1_vs_oracle, p1, r1 = f1_score(outputs, "spark", "oracle")
    f1_vs_gold, p2, r2 = f1_score(outputs, "spark", "gold")
    assert p1 >= 0.95 and r1 >= 0.95, f"vs oracle: P={p1} R={r1}"
    assert p2 >= 0.95 and r2 >= 0.95, f"vs gold: P={p2} R={r2}"
