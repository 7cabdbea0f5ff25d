"""Set-based micro-F1 parity with /root/reference/utils/metrics.py:1-52."""

import pytest

from kgforge.core.metrics import f1_score


def test_perfect_match():
    outs = [{"p": [("a", "b", "R")], "g": [("a", "b", "R")]}]
    f1, p, r = f1_score(outs, "p", "g")
    assert p == pytest.approx(1.0, abs=1e-6)
    assert r == pytest.approx(1.0, abs=1e-6)


def test_set_semantics_dedups_gold():
    # the reference's own caveat (metrics.py:11): duplicate gold collapses
    outs = [{"p": [("a", "b", "R")], "g": [("a", "b", "R"), ("a", "b", "R")]}]
    _, p, r = f1_score(outs, "p", "g")
    assert r == pytest.approx(1.0, abs=1e-6)


def test_slice_prefix_comparison():
    # slice=2 compares only the first 2 tuple fields (theta.py:454 slice=3)
    outs = [{"p": [("a", "b", "WRONG")], "g": [("a", "b", "R")]}]
    f1_full, _, _ = f1_score(outs, "p", "g")
    f1_sliced, _, _ = f1_score(outs, "p", "g", slice=2)
    assert f1_full < 0.01 and f1_sliced > 0.99


def test_empty_inputs_zero():
    f1, p, r = f1_score([{"p": [], "g": []}], "p", "g")
    assert f1 == 0.0 and p == 0.0 and r == 0.0
