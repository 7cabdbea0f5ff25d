"""Retention for the incremental graph state
(kgforge/streaming.prune_graph_epochs): graph epochs are full
snapshots, so all but the newest completed epochs are dropped and an
incomplete epoch is never touched.
"""

from __future__ import annotations

import os

from kgforge.streaming import prune_graph_epochs


def test_prune_graph_epochs(tmp_path):
    state = tmp_path / "gstate"
    for n in (0, 1, 2, 9, 10, 11):
        d = state / f"epoch={n}"
        d.mkdir(parents=True)
        (d / "_COMPLETE").touch()
    (state / "epoch=12").mkdir()  # incomplete: never touched
    assert prune_graph_epochs(str(state), keep_last=2) == [0, 1, 2, 9]
    left = sorted(os.listdir(state))
    assert left == ["epoch=10", "epoch=11", "epoch=12"]
