"""Subword (BPE) tokenize mode of the extraction cascade (r6 VERDICT #4).

Pins three things:
- bpe_encode_word (pure python) == functions/bpe.apply_bpe (Spark fold)
  on the same merge list — one tokenizer, two physical homes;
- detect_mentions in bpe mode == whitespace mode in WORD space for any
  merge list, including merges that split planted gazetteer entities at
  subword boundaries (the offset-mapping roundtrip invariant);
- the full pipeline with a tok=bpe model name emits the identical
  triple set (mode is opt-in and lossless end-to-end).
"""

from __future__ import annotations

import pytest


MERGE_SETS = [
    (),  # degenerate: every word is raw chars
    (("j", "o"), ("jo", "i"), ("joi", "n")),  # fuses 'join' fully
    (("s", "o"), ("r", "t"), ("so", "rt")),  # 'sort' -> one symbol
    (("a", "b"), ("b", "a")),  # merges that never fire
]


@pytest.mark.parametrize("merges", MERGE_SETS)
def test_bpe_encode_word_matches_apply_bpe(spark, merges):
    from kgforge.core.surrogate import bpe_encode_word
    from kgforge.functions.bpe import apply_bpe

    words = ["join", "sort", "batch", "a", "spark", "filter", "abba"]
    w = spark.createDataFrame([(x,) for x in words], "tok string")
    got = {r.tok: list(r.syms) for r in apply_bpe(w, list(merges)).collect()}
    for x in words:
        assert got[x] == bpe_encode_word(x, merges), (x, merges)
        assert "".join(got[x]) == x  # lossless


@pytest.mark.parametrize("merges", MERGE_SETS)
def test_detect_mentions_bpe_word_space_parity(merges):
    """Planted subword-boundary entities survive: multi-symbol gazetteer
    words ('join' split as jo|in, 'sort' as so|rt under the parametrized
    merges) yield the same word-space mentions as whitespace mode."""
    from kgforge.core.model import SurrogateModel, bpe_model_name, get_model
    from kgforge.core.surrogate import detect_mentions, tokenize

    base = get_model("docs")
    bpe = get_model(bpe_model_name("docs", merges))
    assert isinstance(bpe, SurrogateModel) and bpe.tokenizer == "bpe"
    texts = [
        "the join is fast and the sort is slow",
        "spark query big table small row",
        "join join join",
        "filter a dup the merge",
        "",
        "unknownword join",
    ]
    for text in texts:
        toks = tokenize(text)
        assert detect_mentions(toks, bpe) == detect_mentions(toks, base), (
            text,
            merges,
        )


def test_bpe_model_name_roundtrip_special_chars():
    from kgforge.core.model import _parse_bpe_spec, bpe_model_name

    merges = (("a|b", "c~d"), ("x=y", "p,q@r"))
    name = bpe_model_name("docs", merges)
    spec = name.split("tok=bpe:", 1)[1]
    assert _parse_bpe_spec(spec) == merges


def test_pipeline_bpe_mode_identical_triples(spark, tmp_path):
    from kgforge import fixtures, lineage
    from kgforge.core.model import bpe_model_name
    from kgforge.functions.bpe import pretoken_counts, train_bpe_merges

    rows = fixtures.gen_repo_rows(40)
    repos = spark.createDataFrame(rows)
    # train merges on the corpus contents (the real trained-tokenizer flow)
    words = pretoken_counts(repos, text_col="content")
    merges = [
        (r.left_sym, r.right_sym)
        for r in train_bpe_merges(words, n_merges=4)
        .orderBy("merge_rank")
        .collect()
    ]
    assert merges, "trainer produced no merges on the repos corpus"
    base = lineage.run_kg_pipeline(
        spark, repos, str(tmp_path / "ws"), model_name="repos"
    )["triples"]
    bpe = lineage.run_kg_pipeline(
        spark,
        repos,
        str(tmp_path / "bpe"),
        model_name=bpe_model_name("repos", merges),
    )["triples"]
    cols = ["subj", "pred", "obj"]
    assert sorted(map(tuple, base.select(cols).collect())) == sorted(
        map(tuple, bpe.select(cols).collect())
    )


def test_kg_mentions_bpe_query_matches_kg_mentions(spark):
    from kgforge.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    a = QUERIES["kg_mentions"](spark, sf)
    b = QUERIES["kg_mentions_bpe"](spark, sf)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
