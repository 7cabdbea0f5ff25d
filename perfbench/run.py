"""kgforge benchmark: serving and incremental maintenance.

    python3 perfbench/run.py --workload serve|maintain \
        --seed N --seconds S --trace 0|1

Runs one workload on ``local[<cores>]`` with shuffle partitions equal to
the core count, closed loop with one client, for ``--seconds`` of op time
(at least one op).  Every op's outputs are checked outside the clock.
Human-readable lines start with ``#``; the last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones of a traced run (see perfbench/README.md).  Exits 1 if any
check failed, 2 if kgforge is not importable.

All files go under ``.perfbench_work/`` next to this directory: staged
inputs in ``cache/`` (kept, keyed by parameters and generator source),
everything else in a per-run directory removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
MB = 1024 * 1024
SETUP_LOADS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_session(run_dir: Path, cores: int, trace: bool):
    """local[cores] session whose scratch files all stay under run_dir."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    tempfile.tempdir = str(tmp)
    # Python workers import kgforge
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    from kgforge.session import get_spark

    spark = get_spark("kgforge-perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


class Loop:
    """Closed loop: ops back to back until their summed time reaches
    ``seconds`` (and at least ``min_ops`` ran); each op is checked
    outside the clock.  An untraced op runs in its own Spark job group,
    and its job count is kept in ``jobs``."""

    def __init__(self, workload, tracer):
        self.workload = workload
        self.tracer = tracer
        self.sc = tracer.sc
        self.next_op = 0
        self.attempted = 0
        self.failed = 0
        self.jobs: list[int] = []

    def reset(self):
        """The next ``run`` repeats the ops of the first one and keeps
        its own job counts."""
        self.next_op = 0
        self.jobs = []
        self.workload.reset()

    def check_build(self, build) -> None:
        self.attempted += 1
        errs = build.check()
        if errs:
            self.failed += 1
            for e in errs:
                print(f"# CHECK FAILED build: {e}", file=sys.stderr)

    def run(self, seconds: float, min_ops: int) -> tuple[list[float], int]:
        times, triples = [], 0
        while len(times) < min_ops or sum(times) < seconds:
            i = self.next_op
            self.next_op += 1
            self.tracer.op = i
            self.attempted += 1
            group = f"perfbench-op-{self.attempted}"  # unique across resets
            if not self.tracer.enabled:
                self.sc.setJobGroup(group, "op")
            try:
                try:
                    res = self.workload.op(i)
                finally:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                errs = res.check()
            except Exception:  # an op that raises is a failed op
                traceback.print_exc()
                self.failed += 1
                times.append(float("nan"))  # NaN time: the loop ends
                continue
            if not self.tracer.enabled:
                # read after the check, so the status store has caught up
                self.jobs.append(len(self.sc.statusTracker().getJobIdsForGroup(group)))
            times.append(res.seconds)
            triples += res.triples
            if errs:
                self.failed += 1
                for e in errs:
                    print(f"# CHECK FAILED op {i}: {e}", file=sys.stderr)
        return times, triples


def per_layer(workload: str, spans, stats, cores: int, extra: dict) -> dict:
    """The traced run's per-layer metrics.  A layer the timed ops call is
    reported per op; a layer only the set-up build calls, per build; a
    layer the workload never calls reads 0.  Job counts per op come from
    the untraced ops, which run no forcing jobs."""
    from spans import SpanTotals, totals_by_name

    op_tot = totals_by_name([s for s in spans if s.op >= 0], stats)
    setup_tot = totals_by_name([s for s in spans if s.op < 0], stats)
    n_ops = max(1, sum(1 for s in spans if s.name == "op" and s.op >= 0))

    def t(name) -> SpanTotals:
        if name in op_tot:
            return op_tot[name]
        return setup_tot.get(name) or SpanTotals()

    def per(name):
        return n_ops if name in op_tot else 1

    def busy(name):
        return t(name).self_s / per(name)

    def util(name):
        s = t(name)
        return s.task_s / (s.self_s * cores) if s.self_s > 0 else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    lsh = t("link.lsh").counts
    jobs = statistics.median(extra["untraced_op_jobs"] or [0])
    base = extra["untraced_op_s"]
    m = {
        "extract.busy_s": (busy("extract"), "s"),
        "extract.core_util": (util("extract"), "ratio"),
        "extract.triples_per_pair": (
            ratio(extra.get("extract.triples", 0), extra.get("extract.pairs", 0)), "ratio"),
        "link.lsh.busy_s": (busy("link.lsh"), "s"),
        "link.lsh.verified_per_candidate": (
            ratio(lsh.get("verified", 0), lsh.get("candidates", 0)), "ratio"),
        "link.lsh.dropped_buckets": (
            lsh.get("dropped_buckets", 0) / per("link.lsh"), "count"),
        "link.cc.busy_s": (busy("link.cc"), "s"),
        "link.cc.spark_jobs": (t("link.cc").jobs / per("link.cc"), "count"),
        "link.cc.core_util": (util("link.cc"), "ratio"),
        "graph.attach.busy_s": (busy("graph.attach"), "s"),
        "graph.nodes.busy_s": (busy("graph.nodes"), "s"),
        "graph.edges.busy_s": (busy("graph.edges"), "s"),
        "graph.edges.shuffle_write_mb": (
            t("graph.edges").shuffle_write_bytes / MB / per("graph.edges"), "MB"),
        "maintain.update_canonical.busy_s": (busy("maintain.update_canonical"), "s"),
        "maintain.merge.busy_s": (busy("maintain.merge"), "s"),
        "maintain.relabel_rows": (
            t("maintain.update_canonical").counts.get("relabel_rows", 0)
            / per("maintain.update_canonical"), "count"),
        "maintain.epoch_write_mb": (
            t("maintain.write").output_bytes / MB / per("maintain.write"), "MB"),
        "maintain.state_mb": (
            t("maintain.write").counts.get("state_mb", 0) / per("maintain.write"), "MB"),
        "lineage.stage_write.busy_s": (busy("lineage.stage"), "s"),
        "lineage.stage_write_mb": (
            t("lineage.stage").output_bytes / MB / per("lineage.stage"), "MB"),
        "io.write.busy_s": (busy("io.write"), "s"),
        "serve.extract_ms": (busy("serve.extract") * 1000, "ms"),
        "serve.link_ms": (busy("serve.link") * 1000, "ms"),
        "serve.assemble_ms": (busy("serve.assemble") * 1000, "ms"),
        "serve.spark_jobs_per_request": (
            jobs if workload == "serve" else 0.0, "count"),
        "op.spark_jobs": (jobs, "count"),
        "trace.overhead_s": (
            statistics.median(extra["traced_op_s"]) - statistics.median(base), "s"),
        "jvm.peak_rss_mb": (extra["jvm_peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kgforge" / "__init__.py").exists():
        print("perfbench: kgforge sources not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    from spans import Tracer, parse_event_log
    from workloads import WORKLOADS, Context

    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    spark = None
    try:
        t0 = time.monotonic()
        spark = start_session(run_dir, cores, bool(args.trace))
        session_s = time.monotonic() - t0
        tracer = Tracer(spark, enabled=False)
        ctx = Context(spark, run_dir, WORK / "cache", args.seed, cores, tracer)
        wl = WORKLOADS[args.workload](ctx)

        t0 = time.monotonic()
        wl.stage()
        stage_s = time.monotonic() - t0

        # the cold build; traced runs of a workload whose ops skip the
        # build layers trace it as the set-up spans
        loop = Loop(wl, tracer)
        tracer.enabled = bool(args.trace) and wl.trace_build
        with tracer.patched(wl.trace_targets() if tracer.enabled else {}):
            build = wl.build()
        tracer.enabled = False
        build_s = build.seconds
        loop.check_build(build)

        t0 = time.monotonic()
        wl.warmup()
        warmup_s = time.monotonic() - t0
        loads = []
        for _ in range(SETUP_LOADS):
            t0 = time.monotonic()
            wl.load()
            loads.append(time.monotonic() - t0)
        setup_s = session_s + build_s + warmup_s + statistics.median(loads)

        if args.trace:
            # the untraced and the traced ops below repeat this one, so
            # that neither pays the first run's compilation and the
            # difference of their times is the cost of tracing
            loop.run(0, 1)
            loop.reset()
        times, triples = loop.run(args.seconds, 1)
        extra = {"untraced_op_s": times, "untraced_op_jobs": loop.jobs}
        if args.trace:
            loop.reset()
            tracer.enabled = True
            with tracer.patched(wl.trace_targets()):
                extra["traced_op_s"], _ = loop.run(args.seconds, 1)
            tracer.enabled = False
            extra.update(wl.untimed_counts())
            extra["jvm_peak_rss_mb"] = jvm_peak_rss_mb()
    finally:
        if spark is not None:
            stop_session(spark)

    ok = [x for x in times if x == x]
    p50 = statistics.median(ok) if ok else float("nan")
    print(f"# workload={args.workload} seed={args.seed} cores={cores} "
          f"ops={len(times)} attempted={loop.attempted} failed={loop.failed} "
          f"failed_frac={loop.failed / loop.attempted:.4f}")
    print(f"# session_s={session_s:.3f} build_s={build_s:.3f} warmup_s={warmup_s:.3f} "
          f"load_s={statistics.median(loads):.3f} stage_s={stage_s:.3f} (stage: "
          f"input generation, not in setup_s)")
    if args.trace:
        stats = parse_event_log(run_dir / "eventlog")
        metrics = per_layer(args.workload, tracer.spans, stats, cores, extra)
        print(f"# untraced op_s={[round(x, 3) for x in times]} "
              f"traced op_s={[round(x, 3) for x in extra['traced_op_s']]}")
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_ms": {"value": p50 * 1000, "unit": "ms"},
        }
        print(f"# op_s={[round(x, 3) for x in times]} triples={triples} "
              f"triples_per_s={triples / sum(ok) if ok else 0.0:.3f}")
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    correct = loop.failed == 0
    print(json.dumps({"correct": correct, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
