"""The kgforge names perfbench's traced run (``--trace 1``) patches
still resolve.

perfbench/spans.Tracer.patched replaces module attributes that kgforge
functions look up at call time.  Entering it with a disabled tracer
resolves every target, so deleting or renaming one fails here instead
of only in a traced benchmark run."""

from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def test_trace_targets_resolve(spark, tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(str(PERFBENCH))
    import kgforge.graph.materialize as materialize
    from spans import Tracer
    from workloads import Context, Maintain, build_targets

    tracer = Tracer(spark, enabled=False)
    ctx = Context(spark, tmp_path / "run", tmp_path / "cache", 7, 1, tracer)
    build_nodes = materialize.build_nodes
    for targets in (build_targets(tracer), Maintain(ctx).trace_targets()):
        assert ("kgforge.graph.materialize", "build_nodes") in targets
        with tracer.patched(targets):
            assert materialize.build_nodes is not build_nodes
        assert materialize.build_nodes is build_nodes
