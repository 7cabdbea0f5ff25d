"""Property-based tests (hypothesis) — SURVEY.md §5.2 item 3."""

from hypothesis import given, settings
from hypothesis import strategies as st

from kgforge.core.bio import decode_bio, encode_bio
from kgforge.core.model import get_model
from kgforge.core.surrogate import extract_triples, rank_pairs
from kgforge.core.vocab import NUM_ENT_TYPES

T = NUM_ENT_TYPES


@st.composite
def disjoint_mentions(draw):
    n = draw(st.integers(4, 40))
    k = draw(st.integers(0, 6))
    starts = sorted(draw(st.sets(st.integers(0, n - 1), min_size=0, max_size=k)))
    ments = []
    prev_end = 0
    for s in starts:
        if s < prev_end:
            continue
        e = draw(st.integers(s + 1, min(n, s + 4)))
        t = draw(st.integers(0, T - 1))
        ments.append((s, e, t))
        prev_end = e
    return n, ments


@given(disjoint_mentions())
@settings(max_examples=200, deadline=None)
def test_encode_decode_roundtrip(case):
    """Disjoint mentions survive encode->decode exactly."""
    n, ments = case
    assert decode_bio(encode_bio(n, ments, T), T) == ments


@given(st.lists(st.integers(0, 2 * T), min_size=0, max_size=60))
@settings(max_examples=200, deadline=None)
def test_decode_never_crashes_and_spans_valid(tags):
    """Any tag sequence decodes to valid, ordered, in-bounds half-open
    spans (the reference decoder is total over argmax outputs)."""
    out = decode_bio(tags, T)
    prev_start = -1
    for s, e, t in out:
        assert 0 <= s < e <= len(tags)
        assert 0 <= t < T
        assert s > prev_start
        prev_start = s


_WORDS = st.sampled_from(
    ["key", "value", "table", "fast", "slow", "the", "a", "x", "dup", "scan"]
)


@given(st.lists(_WORDS, min_size=0, max_size=25))
@settings(max_examples=100, deadline=None)
def test_extract_triples_deterministic_and_deduped(tokens):
    model = get_model("docs")
    a = extract_triples(tokens, model)
    b = extract_triples(list(tokens), model)
    assert a == b
    assert len(a) == len(set(a))
    for sub, obj, rel, st_, ot, score in a:
        assert 0 <= rel < 7 and 0 <= st_ < T and 0 <= ot < T


@given(st.lists(_WORDS, min_size=2, max_size=20), st.integers(1, 5))
@settings(max_examples=100, deadline=None)
def test_rank_pairs_bounded_and_ordered(tokens, k):
    model = get_model("docs")
    from kgforge.core.surrogate import detect_mentions

    ments = detect_mentions(tokens, model)
    pairs = rank_pairs(tokens, ments, model)
    n = len(ments)
    assert len(pairs) <= max(0, n * n - n)
    scores = [p[2] for p in pairs]
    assert scores == sorted(scores, reverse=True)


# --- round 2: subarray-position expression vs python reference ----------

def _py_subarray_positions(toks, pat):
    if not pat or len(pat) > len(toks):
        return []
    tl = [t.lower() for t in toks]
    pl = [p.lower() for p in pat]
    m = len(pl)
    return [i for i in range(len(tl) - m + 1) if tl[i : i + m] == pl]


@settings(max_examples=25, deadline=None)
@given(
    toks=st.lists(st.sampled_from(["a", "b", "ab", "B", "x"]), min_size=0, max_size=12),
    pat=st.lists(st.sampled_from(["a", "b", "ab", "B"]), min_size=1, max_size=4),
)
def test_subarray_positions_matches_reference(spark, toks, pat):
    """_subarray_positions (pure Spark expressions) == the reference python
    scan (find_subarray_position analog) for arbitrary token/pattern
    combos including overlaps, case variants, and pattern > input."""
    from pyspark.sql import functions as F

    from kgforge.extract.context import _subarray_positions

    df = spark.createDataFrame([(toks, pat)], "toks array<string>, pat array<string>")
    got = df.select(
        _subarray_positions(F.col("toks"), F.col("pat")).alias("p")
    ).collect()[0].p
    assert list(got or []) == _py_subarray_positions(toks, pat)
