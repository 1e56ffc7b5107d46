#!/usr/bin/env python3
"""wtq benchmark: one workload per process, from the root of a checkout.

    python3 perfbench/run.py --workload {filter,build} \\
        --seed N --seconds S --trace {0,1}

The workload runs in this fresh process at ``local[nproc]`` with
``nproc`` shuffle partitions and pipeline partitions.  Inputs are made
from ``--seed`` (``perfbench/inputs.py``) and expected outputs are
computed before Spark starts; neither counts in any metric.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (session start
plus one untimed cold run), then, after the workload's untimed warm-up
runs, the median ``run_s`` and ``docs_per_s`` of the timed runs and the
peak RSS of the process tree during them.  The number of timed runs is
``--seconds`` over the workload's nominal run time, rounded up, so it
does not depend on how fast the host happens to be: a count that varied
with host speed would mix differently warm runs into the median.

``--trace 1`` prints the per-layer metrics instead (``perfbench/layers.py``)
with Spark's event log on.  Every layer is measured in every traced run,
including the registry-query sweep (``workloads.OPERATOR_QUERIES``); the
``spark.*`` and ``trace.*`` metrics describe the named workload.

Every run's output is checked (``perfbench/checks.py``).  The last line
of stdout is one JSON object; the exit code is 0 only if every check
passed.  Scratch files live under ``.perfbench/`` in the checkout; each
process removes its own on exit and keeps only the per-seed input cache.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# The JVM's heap, committed and touched at start-up: the inputs need far
# less, and a fully touched heap keeps peak RSS from depending on when the
# garbage collector happened to grow the heap.
JVM_HEAP = "2g"

END_TO_END = {"setup_s": "s", "run_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    from perfbench.layers import BUILD_SECTIONS, PIPELINE_STEPS, RULE_PARTS
    from perfbench.workloads import OPERATOR_QUERIES

    u = {"session.start_s": "s", "session.cold_run_s": "s"}
    u.update({f"pipeline.{s}_s": "s" for s in PIPELINE_STEPS})
    u.update(dict.fromkeys(["pipeline.arrow_eval_nodes", "pipeline.exchanges", "pipeline.pages_scans"], "count"))
    u.update({f"rules.{p}_s": "s" for p in RULE_PARTS + ["udf_body", "row_assembly"]})
    u.update({"curation.strip_boilerplate_s": "s", "curation.host_gate_s": "s"})
    u.update({f"build.{s}_s": "s" for s in BUILD_SECTIONS})
    u.update({"build.checkpoints": "count", "build.checkpoint_bytes": "B", "build.pages_scans": "count"})
    u.update({f"op.{q}_s": "s" for q in OPERATOR_QUERIES})
    u.update(
        {
            "spark.jobs": "count", "spark.tasks": "count",
            "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
            "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
            "spark.spill_bytes": "B", "spark.peak_exec_mem_mb": "MB",
            "spark.task_skew": "ratio",
            "trace.overhead_frac": "ratio", "trace.coverage": "ratio",
        }
    )
    return u


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class Runner:
    """Owns the session, the scratch directories and the run counters."""

    def __init__(self, run_dir: str, nproc: int, trace: bool) -> None:
        self.run_dir, self.nproc, self.trace = run_dir, nproc, trace
        self.attempted = self.failed = 0
        self.spark = None
        self.tracer = None

    def start(self) -> float:
        """Start the session; returns the seconds ``get_spark`` took."""
        from wtq.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
            ),
            "spark.driver.memory": JVM_HEAP,
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.event_dir = os.path.join(self.run_dir, "events")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.logBlockUpdates.enabled": "true",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.nproc}]", shuffle_partitions=self.nproc, extra_conf=conf
        )
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and its JVM, and wait until every process the
        run started (the JVM, its Python daemon and workers) has ended.
        PySpark leaves the JVM up after ``spark.stop()`` and ends it only
        when this process exits, so it is ended here, by closing the
        stdin it watches."""
        from pyspark import SparkContext

        from perfbench.probes import end_descendants

        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                spark, self.spark = self.spark, None
                spark.stop()
            if gateway is not None:
                gateway.shutdown()
        finally:
            SparkContext._gateway = SparkContext._jvm = None
            if gateway is not None and gateway.proc is not None and gateway.proc.stdin is not None:
                gateway.proc.stdin.close()
            end_descendants()

    def run(self, wl, rss=None, span: str | None = None) -> float | None:
        """One run of ``wl``: the wall time of its execution, or None if it
        raised or its output failed the check."""
        out = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=self.run_dir)
        self.attempted += 1
        try:
            with rss or nullcontext(), self.tracer.span(span) if span else nullcontext():
                t0 = time.perf_counter()
                wl.execute(self.spark, out, self.nproc)
                dt = time.perf_counter() - t0
            problems = wl.check(out)
        except Exception:  # a failed run is counted, not fatal
            log(traceback.format_exc())
            problems, dt = ["raised"], None
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if problems:
            self.failed += 1
            log(f"{wl.name}: check failed: {problems}")
            return None
        return dt


def untraced(runner: Runner, wl, seconds: float) -> dict[str, float]:
    from perfbench.probes import RssSampler

    start_s = runner.start()
    cold_s = runner.run(wl)
    for _ in range(wl.warmup_runs):
        runner.run(wl)
    times: list[float] = []
    rss = RssSampler()
    for _ in range(max(1, math.ceil(seconds / wl.nominal_s))):
        dt = runner.run(wl, rss=rss)
        if dt is not None:
            times.append(dt)
    runner.stop()
    log(f"perfbench: start {start_s:.2f} s, cold run {cold_s} s, timed runs {[round(t, 3) for t in times]}")
    if cold_s is None or not times:
        return {}
    return {
        "setup_s": start_s + cold_s,
        "run_s": statistics.median(times),
        "docs_per_s": statistics.median(wl.n_input / t for t in times),
        "peak_rss_mb": rss.peak_mb,
    }


def traced(runner: Runner, own, others: list, cache: str, seed: int) -> dict[str, float]:
    from perfbench import layers, probes

    tracer = runner.tracer = layers.Tracer()
    wls = {w.name: w for w in [own, *others]}
    flt, bld, ops = wls["filter"], wls["build"], wls["operators"]
    m: dict[str, float] = {"session.start_s": runner.start()}
    spark, nproc = runner.spark, runner.nproc
    cold_s = runner.run(own, span="session.cold_run")
    if cold_s is None:
        raise RuntimeError(f"{own.name} failed its cold run")
    m["session.cold_run_s"] = cold_s
    for wl in others:  # warm the other workloads' code paths, untimed
        if runner.run(wl) is None:
            raise RuntimeError(f"{wl.name} failed its warm-up run")
    base: list[float] = []

    def probe(wl) -> float:
        """A traced run of ``wl``; the named workload's is preceded by an
        untraced one, its base for the overhead and coverage ratios."""
        if wl is own:
            base.append(runner.run(wl))
        dt = runner.run(wl, span=f"{wl.name}.run")
        if dt is None or None in base:
            raise RuntimeError(f"traced {wl.name} run failed")
        return dt

    with tracer.span("pipeline"):
        m.update(layers.measure_pipeline(spark, tracer, flt.pages, nproc, lambda: probe(flt)))
    with layers.build_probe(spark) as marks:
        probe(bld)
    m.update(layers.build_sections(tracer, marks, *(t / 1e3 for t in tracer.window_ms("build.run"))))
    probe(ops)
    m.update({f"op.{q}_s": s for q, s in ops.query_s.items()})
    with tracer.span("curation"):
        m.update(layers.measure_curation(spark, tracer, bld.pages, nproc))
    with tracer.span("rules"):
        m.update(layers.measure_rules(tracer, flt.pages))
    runner.stop()  # also flushes the event log

    events = probes.read_event_log(runner.event_dir)
    own_events = probes.window(events, *tracer.window_ms(f"{own.name}.run"))
    m.update({f"spark.{k}": v for k, v in probes.engine_metrics(own_events).items()})
    build_events = probes.window(events, *tracer.window_ms("build.run"))
    m["build.checkpoint_bytes"] = probes.rdd_block_bytes(build_events)
    m["build.pages_scans"] = sum(p.count(bld.pages) for p in probes.sql_plans(build_events))

    own_layers = {
        "filter": [f"pipeline.{s}_s" for s in layers.PIPELINE_STEPS],
        "build": [f"build.{s}_s" for s in layers.BUILD_SECTIONS],
    }[own.name]
    base_s = base[0]
    m["trace.overhead_frac"] = tracer.dur(f"{own.name}.run") / base_s - 1
    m["trace.coverage"] = sum(m[k] for k in own_layers) / base_s
    # the OPTIMIZATION_r06 stage table, against the untraced run when the
    # filter is the named workload
    log(layers.stage_table(m, base_s if own is flt else tracer.dur("filter.run")))
    tracer.dump(os.path.join(cache, f"spans-{own.name}-seed{seed}.json"))
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["filter", "build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test only (perfbench/selftest.py): sf0.001-sized inputs, and
    # checks that compare a deliberately corrupted copy of each output
    ap.add_argument("--small", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not all(
        os.path.isfile(os.path.join(ROOT, *p)) for p in [("wtq", "__init__.py"), ("oracle", "oracle.py")]
    ):
        log(f"perfbench: no wtq sources under {ROOT}; run it from the root of a full checkout")
        return 2

    # every way out runs the clean-up in main's finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    from perfbench.probes import become_subreaper

    become_subreaper()
    nproc = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    # set before the JVM and its Python workers start: they inherit it
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    from perfbench.workloads import SIZES, WORKLOADS, Operators

    cache = os.path.join(WORK, "cache")
    runner = Runner(run_dir, nproc, bool(args.trace))
    try:
        size = SIZES["small" if args.small else "full"]
        own = WORKLOADS[args.workload](size, corrupt=args.corrupt)
        own.prepare(cache, args.seed)
        if args.trace:
            others = [W(size) for n, W in WORKLOADS.items() if n != args.workload]
            others.append(Operators(size))
            for w in others:
                w.prepare(cache, args.seed)
            metrics = traced(runner, own, others, cache, args.seed)
            units = per_layer_units()
        else:
            metrics = untraced(runner, own, args.seconds)
            units = END_TO_END
    finally:
        try:
            runner.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    missing = sorted(set(units) - set(metrics))
    if missing:
        log(f"perfbench: metrics not measured: {missing}")
    ok = runner.failed == 0 and not missing
    result = {
        "correct": ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
