"""Winnowing fingerprints (doc_winnowing / dedup_winnow_pairs): the
MOSS guarantee and determinism, on crafted corpora."""

import pyarrow as pa
import pyarrow.parquet as pq


def _write_docs(tmp_path, docs):
    pq.write_table(pa.Table.from_pylist(docs), str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_winnowing_guarantee_shared_run(spark, tmp_path):
    """Schleimer et al. guarantee: two documents sharing a token run of
    length >= k + w - 1 (= 6 here) select AT LEAST one common
    fingerprint, whatever surrounds the run — because some window of w
    k-grams lies entirely inside the shared run and its minimum is
    selected identically in both documents."""
    from kgforge.analytics_queries import doc_winnowing

    shared = "alpha beta gamma delta epsilon zeta"  # exactly k+w-1 = 6 tokens
    sf = _write_docs(tmp_path, [
        {"doc_id": 1, "text": f"one two three {shared} four five"},
        {"doc_id": 2, "text": f"six {shared} seven eight nine ten"},
        {"doc_id": 3, "text": "totally unrelated words without overlap here now"},
    ])
    rows = doc_winnowing(spark, sf).collect()
    fps = {d: set() for d in (1, 2, 3)}
    for r in rows:
        fps[r.doc_id].add(r.fp)
    assert fps[1] & fps[2], "shared >=6-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnowing_deterministic_and_short_doc_excluded(spark, tmp_path):
    """Identical text -> identical fingerprint set; a doc shorter than
    k + w - 1 tokens has no full window and emits nothing."""
    from kgforge.analytics_queries import doc_winnowing

    text = "the quick brown fox jumps over the lazy dog tonight"
    sf = _write_docs(tmp_path, [
        {"doc_id": 1, "text": text},
        {"doc_id": 2, "text": text},
        {"doc_id": 3, "text": "too short here"},  # 3 tokens < 6
    ])
    rows = doc_winnowing(spark, sf).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] == fps[2] and fps[1]
    assert 3 not in fps


def test_winnow_pairs_find_heavy_overlap(spark, tmp_path):
    """dedup_winnow_pairs: exact duplicates reach jaccard 1.0; documents
    sharing only a short run stay below the 0.5 gate."""
    from kgforge.analytics_queries import dedup_winnow_pairs

    body = "import os import sys from collections import defaultdict main"
    sf = _write_docs(tmp_path, [
        {"doc_id": 1, "text": body},
        {"doc_id": 2, "text": body},                       # exact dup
        {"doc_id": 3, "text": f"unrelated prefix {body}"},  # near dup
        {"doc_id": 4, "text": "completely different tokens in this other document kind"},
    ])
    got = {(r.doc_a, r.doc_b): r.jaccard for r in dedup_winnow_pairs(spark, sf).collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 4) not in got and (2, 4) not in got and (3, 4) not in got
    # the near-dup 1-3 / 2-3 pairs share most fingerprints
    assert got.get((1, 3), 0) >= 0.5 and got.get((2, 3), 0) >= 0.5
