#!/usr/bin/env python3
"""Benchmark of the review pipeline, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload e2e_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One process runs one workload on ``local[<cores>]``: it generates the
seed's inputs, sets up (start a session and make the workload's set-up
call into the package, several times, reporting the median), runs the
workload's untimed warm-up operations, then runs operations for
``--seconds`` (and at least the workload's minimum, in whole passes) and
checks every output.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones.  With ``--trace 1``
the workload first runs untraced in a child process, then traced here
(event log on, spans recorded), and the metrics are the per-layer ones,
the untraced run's peak RSS and the tracing overhead.
``--workload all`` runs every workload in its own process.

The package must sit next to this directory; without it the run exits
with an error before measuring anything.  Generated inputs, Spark's
local dirs, checkpoints and the event log live in ``.perfbench_work/``
under the repository root and are deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "az_datapipeline_sentiment_analysis_spark"
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
# Measured by every untraced run and printed for people, but not
# end-to-end metrics: their run-to-run spread on a shared host is too
# wide for a bound (README.md).  Traced runs report them per layer.
UNBOUNDED = {"pass_s": "s", "peak_rss_mb": "MB"}
# Per-workload names of these metrics, printed for people.
HEADLINE = {
    "e2e_pipeline": {"pass_s": "cycle_s", "pass_cpu_s": "cycle_cpu_s"},
    "analytics_core25": {"pass_s": "core25_s", "pass_cpu_s": "core25_cpu_s"},
}
# Layers whose calls the harness spans (functions.text runs lazily inside
# other layers' jobs; its numbers come from the SQL metrics instead).
SPANNED_LAYERS = (
    "sources.json_ingest", "streaming.incremental", "sinks",
    "streaming.stream", "plans",
)


def _per_layer_units() -> dict[str, str]:
    from tracing import SPARK_COUNTERS

    units = {
        "session.start_s": "s",
        "sources.json_ingest.s": "s",
        "sources.json_ingest.files": "count",
        "sources.json_ingest.reviews_out": "count",
        "sources.json_ingest.corrupt_rows": "count",
        "functions.text.score_s": "s",
        "functions.text.worker_start_ms": "ms",
        "functions.text.docs_scored": "count",
        "streaming.incremental.merge_s": "s",
        "streaming.incremental.merge_inserted_ratio": "ratio",
        "streaming.incremental.mark_s": "s",
        "streaming.incremental.bytes_rewritten_per_new_row": "B",
        "streaming.incremental.noop_rerun_s": "s",
        "streaming.incremental.source_files": "count",
        "streaming.incremental.results_files": "count",
        "sinks.append_s": "s",
        "streaming.stream.batches": "count",
        "streaming.stream.batch_p50_ms": "ms",
        "streaming.stream.batch_fn_s": "s",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "plans.collect_s": "s",
    }
    for layer in SPANNED_LAYERS:
        units[f"{layer}.self_s"] = "s"
    for layer in SPANNED_LAYERS:
        for c in SPARK_COUNTERS:
            units[f"spark.{layer}.{c}"] = "B" if c.endswith("_bytes") else (
                "ms" if c.endswith("_ms") else "count")
    units.update({
        "process.peak_rss_mb": "MB",
        "trace.pass_untraced_s": "s",
        "trace.pass_traced_s": "s",
        "trace.overhead_ratio": "ratio",
    })
    return units


def _configure_env(work: str) -> None:
    """Process-wide settings every Spark and Python worker inherits."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["TZ"] = "UTC"
    time.tzset()


def _start_session(extra: dict[str, str] | None = None):
    from az_datapipeline_sentiment_analysis_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
        # keep the JVM's temp files inside the run's work dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        **(extra or {}),
    }
    return get_spark("perfbench", extra_conf=conf)


def _stop_session(spark) -> None:
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.stop()


def _stop_jvm() -> None:
    """End the JVM the sessions ran in, and its Python workers, and wait
    for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Op(NamedTuple):
    seconds: float
    cpu_s: float  # CPU time of the process tree during the operation
    rss_mb: float  # peak RSS of the process tree during the operation
    steal_s: float  # CPU time taken by the hypervisor during the operation


class Run:
    """One workload's run: set-up, operations, checks, metrics."""

    def __init__(self, name: str, seed: int, seconds: float, work: str):
        from bench import SF_DIR  # the test data the headline suite reads
        from tracing import Tracer
        from workloads import WORKLOADS, Context

        self.wl = WORKLOADS[name]()
        self.ctx = Context(ROOT, work, seed, SF_DIR)
        self.ctx.tracer = Tracer()
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_log: list[str] = []  # every measured op's time and peak RSS
        self.rss: dict[str, float] = {}  # the last op's peak RSS per process

    def setup(self) -> tuple[float, float]:
        """Median (set-up, session start) seconds over SETUP_REPS.  Set-up
        is the session's start plus the workload's own set-up calls into
        the package; generating the inputs comes before and is not timed."""
        total, start = [], []
        # the background set-up overlaps only the first repetition (the
        # JVM's launch), which the median leaves out
        with ThreadPoolExecutor(1) as background:
            pending = background.submit(self.wl.background_setup, self.ctx)
            for rep in range(SETUP_REPS):
                if rep == 1:
                    pending.result()
                if self.ctx.spark is not None:
                    _stop_session(self.ctx.spark)
                    self.ctx.spark = None
                t0 = time.perf_counter()
                self.ctx.spark = _start_session()
                t1 = time.perf_counter()
                self.wl.setup(self.ctx, rep)
                t2 = time.perf_counter()
                total.append(t2 - t0)
                start.append(t1 - t0)
            pending.result()
        return statistics.median(total), statistics.median(start)

    def one_op(self, i: int) -> Op | None:
        """Run, time and check operation ``i``; None if it failed."""
        from tracing import cpu_seconds, peak_rss_mb_by_process, reset_peak_rss, steal_seconds

        self.attempted += 1
        reset_peak_rss()
        try:
            self.wl.stage(self.ctx, i)
            steal0, cpu0, t0 = steal_seconds(), cpu_seconds(), time.perf_counter()
            check = self.wl.op(self.ctx, i)
            elapsed = time.perf_counter() - t0
            cpu, steal = cpu_seconds() - cpu0, steal_seconds() - steal0
            self.rss = peak_rss_mb_by_process()
            check()
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"op {i}: {type(e).__name__}: {e}"[:500])
            print(f"# {self.wl.name} op {i} FAILED: {self.errors[-1]}", flush=True)
            traceback.print_exc()
            return None
        return Op(elapsed, cpu, sum(self.rss.values()), steal)

    def measure(self, first_op: int) -> list[Op]:
        """Operations until ``seconds`` have passed, at least the
        workload's ``min_ops`` have succeeded and the last pass is whole."""
        done, i = [], first_op
        t_end = time.perf_counter() + self.seconds
        while (len(done) < self.wl.min_ops or time.perf_counter() < t_end
               or (i - first_op) % self.wl.pass_ops):
            r = self.one_op(i)
            i += 1
            if r is not None:
                done.append(r)
                self.op_log.append(
                    f"{r.seconds:.2f}s/{r.cpu_s:.2f}cpu/{r.steal_s:.2f}st/{r.rss_mb:.0f}MB")
            elif self.failed >= 3:  # a broken run stops early
                break
        return done

    def final_check(self) -> None:
        try:
            self.wl.final_check(self.ctx)
        except Exception as e:
            self.errors.append(f"final check: {type(e).__name__}: {e}"[:500])
            print(f"# {self.wl.name} final check FAILED: {self.errors[-1]}", flush=True)
            traceback.print_exc()


def _passes(ops: list[Op], pass_ops: int) -> list[Op]:
    """Whole passes of ``pass_ops`` consecutive operations, each summed
    (peak RSS: the pass's median operation)."""
    out = []
    for k in range(0, len(ops) - pass_ops + 1, pass_ops):
        part = ops[k:k + pass_ops]
        out.append(Op(sum(o.seconds for o in part), sum(o.cpu_s for o in part),
                      statistics.median(o.rss_mb for o in part), sum(o.steal_s for o in part)))
    return out


def _best(ops: list[Op]) -> float:
    return min((op.seconds for op in ops), default=0.0)


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """One workload in this process.  Traced, the session restarts with
    the event log on after set-up and spans start after the warm-up."""
    from tracing import Tracer, event_log_conf, find_event_log, parse_event_log

    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    os.makedirs(work)
    _configure_env(work)
    run = Run(name, seed, seconds, work)
    ctx = run.ctx
    phases = [("start", time.perf_counter())]
    try:
        run.wl.prepare(ctx)
        phases.append(("prepare", time.perf_counter()))
        setup_s, start_s = run.setup()
        if trace:
            log_dir = ctx.path("eventlog")
            os.makedirs(log_dir)
            _stop_session(ctx.spark)
            ctx.spark = _start_session(event_log_conf(log_dir))
        phases.append(("setup", time.perf_counter()))
        for i in range(run.wl.warmup_ops):  # checked, not timed
            run.one_op(i)
        phases.append(("warm-up", time.perf_counter()))
        if trace:
            ctx.tracer = Tracer(ctx.spark.sparkContext)
            run.wl.instrument(ctx)
        ops = run.measure(run.wl.warmup_ops)
        passes = _passes(ops, run.wl.pass_ops)
        ctx.tracer.close()
        phases.append(("measure", time.perf_counter()))
        run.final_check()
        if trace:
            ctx.n_passes = max(1, len(passes))
            _stop_session(ctx.spark)
            ctx.spark = None
            parsed = parse_event_log(find_event_log(log_dir), ctx.tracer.spans)
            metrics = _layer_metrics(run, parsed, start_s)
            metrics["trace.pass_traced_s"] = _best(passes)
        else:
            print("# last op's peak RSS MB: "
                  + " ".join(f"{k}={v:.0f}" for k, v in run.rss.items()), flush=True)
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": statistics.median(p.rss_mb for p in passes) if passes else 0.0,
                "pass_s": _best(passes),
                "pass_cpu_s": statistics.median(p.cpu_s for p in passes) if passes else 0.0,
            }
        phases.append(("check", time.perf_counter()))
    finally:
        if ctx.spark is not None:
            _stop_session(ctx.spark)
        _stop_jvm()
        phases.append(("stop", time.perf_counter()))
        print("# phases: " + " ".join(
            f"{n}={t - p:.1f}s" for (_, p), (n, t) in zip(phases, phases[1:])
        ) + " ops=" + ",".join(run.op_log), flush=True)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return {
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def _with_units(result: dict, units: dict[str, str]) -> dict:
    m = result["metrics"]
    result["metrics"] = {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in units.items()}
    return result


def run_traced(name: str, seed: int, seconds: float) -> dict:
    """An untraced run in a child process, then a traced one here; the
    ratio of their fastest passes' wall times is the tracing overhead."""
    untraced = run_child(name, seed, seconds, trace=False, unbounded=True)
    result = run_workload(name, seed, seconds, trace=True)
    m = result["metrics"]
    m["trace.pass_untraced_s"] = untraced["metrics"]["pass_s"]["value"]
    m["process.peak_rss_mb"] = untraced["metrics"]["peak_rss_mb"]["value"]
    m["trace.overhead_ratio"] = m["trace.pass_traced_s"] / max(m["trace.pass_untraced_s"], 1e-9)
    result["correct"] = result["correct"] and untraced["correct"]
    result["attempted"] += untraced["attempted"]
    result["failed"] += untraced["failed"]
    return result


def _layer_metrics(run: Run, parsed: dict, start_s: float) -> dict[str, float]:
    """Per-layer metrics, per traced pass."""
    from tracing import by_layer
    from workloads import python_metrics

    ctx, n = run.ctx, run.ctx.n_passes
    out = {"session.start_s": start_s}
    layers = by_layer(parsed["spans"])
    for layer in SPANNED_LAYERS:
        for c, v in layers.get(layer, {}).items():
            out[f"spark.{layer}.{c}"] = v / n
    for layer, s in ctx.tracer.self_seconds().items():
        out[f"{layer}.self_s"] = s / n
    out["sources.json_ingest.s"] = ctx.tracer.seconds("ingest") / n
    out.update(python_metrics(parsed, n))
    out.update(run.wl.layer_metrics(ctx, parsed))
    return out


def _print_human(name: str, result: dict) -> None:
    m = result["metrics"]
    for k, v in m.items():
        print(f"# {name} {k} = {v['value']:.6g} {v['unit']}")
    for key, label in HEADLINE[name].items():
        if key in m:
            print(f"# {name} {label} = {m[key]['value']:.6g} {m[key]['unit']}")
    print(f"# {name} correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']}", flush=True)


def run_child(name: str, seed: int, seconds: float, trace: bool, unbounded: bool = False) -> dict:
    """Run one workload in a child process; echo its log, return its result."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", name,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
         *(["--unbounded"] if unbounded else [])],
        capture_output=True, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"workload {name} exited with {proc.returncode}")
    print("\n".join(lines[:-1]), flush=True)
    return json.loads(lines[-1])


def run_all(args) -> dict:
    """Every workload in its own process; metrics keyed ``workload.metric``."""
    from workloads import WORKLOADS

    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        res = run_child(name, args.seed, args.seconds, bool(args.trace))
        out["correct"] = out["correct"] and res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            out["metrics"][f"{name}.{k}"] = v
    return out


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--unbounded", action="store_true",
                    help="untraced: also put pass_s and peak_rss_mb in the JSON line")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    if args.workload == "all":
        result = run_all(args)
    elif args.trace:
        result = _with_units(run_traced(args.workload, args.seed, args.seconds),
                             _per_layer_units())
        _print_human(args.workload, result)
    else:
        result = run_workload(args.workload, args.seed, args.seconds, False)
        _print_human(args.workload, _with_units(dict(result), {**END_TO_END, **UNBOUNDED}))
        result = _with_units(result, {**END_TO_END, **UNBOUNDED} if args.unbounded else END_TO_END)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
