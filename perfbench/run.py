"""Seeded webtext benchmark for the inverted-index + BM25 engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the seed's corpus and query stream
(cached under .perfbench/cache), starts a Spark session through
`engine.session.get_spark`, runs the workload, checks every result, and
prints one line per named metric followed, as the last line, by one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics; `--trace 1` records spans around every engine call,
reports the per-layer metrics and writes the spans to
.perfbench/traces/<workload>-seed<seed>.jsonl.

Exit status: 0 when every check passed, 1 when a result was wrong, 2 when
the benchmark could not run (for instance without the `engine` package
beside this directory).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("query_mix", "reindex_serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Process hygiene, before pyspark is imported: Spark's Python workers
    must import `engine`; every scratch byte (Spark local dirs, JVM and
    Python temp files) goes under this run's directory; the driver heap fits
    a small shared host; parallelism is this process's CPU allowance."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # the traced run attributes every job after the run ends
        "--conf spark.ui.retainedJobs=10000",
        "--conf spark.ui.retainedStages=10000",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def remove_stale_runs(runs_dir: str) -> None:
    """Delete run directories left by a run that was killed (its pid, the
    second-to-last field of the name, is gone)."""
    if not os.path.isdir(runs_dir):
        return
    for d in os.listdir(runs_dir):
        try:
            os.kill(int(d.split("-")[-2]), 0)
        except (ValueError, IndexError, ProcessLookupError):
            shutil.rmtree(os.path.join(runs_dir, d), ignore_errors=True)
        except PermissionError:
            pass


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it. A py4j
    call cut short by SIGTERM can leave the gateway unusable; the JVM still
    exits when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:
        traceback.print_exc()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stop_children() -> None:
    """Terminate and reap any child process still running, such as a gateway
    JVM whose launch a SIGTERM interrupted before the session existed."""
    me = str(os.getpid())
    kids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue
        if ppid == me:
            kids.append(int(pid))
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def format_value(v) -> str:
    if v is None:
        return "n/a"
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS, Ctx, finish_layers

    remove_stale_runs(os.path.join(STATE, "runs"))
    run_dir = os.path.join(
        STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    )
    cache_dir = os.path.join(STATE, "cache")
    trace_dir = os.path.join(STATE, "traces")
    os.makedirs(cache_dir, exist_ok=True)
    configure_env(run_dir)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Ctx(args.seed, args.seconds, run_dir, cache_dir,
              Tracer(enabled=bool(args.trace)))
    try:
        WORKLOADS[args.workload](ctx)
        layer = finish_layers(ctx) if args.trace else None
    finally:
        try:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
        finally:
            stop_children()
            shutil.rmtree(run_dir, ignore_errors=True)

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    for name, (value, unit, note) in ctx.report.items():
        print(f"  {name:<28} {format_value(value):>12} {unit:<6} {note}")
    print(f"  {'op_fail_ratio':<28} {ctx.failed}/{ctx.attempted}")
    summary = os.path.join(cache_dir, f"e2e-{args.workload}-{args.seed}.json")
    if args.trace:
        os.makedirs(trace_dir, exist_ok=True)
        spans = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
        ctx.tracer.write(spans)
        print(f"  spans: {spans} ({len(ctx.tracer.spans)} spans)")
        for name in PER_LAYER:
            print(f"  {name:<36} {format_value(layer[name]):>12} {PER_LAYER[name]}")
        if os.path.exists(summary):
            with open(summary) as f:
                base = json.load(f)
            for name in ("term_auto_p50_ms", "term_wand_p50_ms"):
                if base.get(name) and ctx.report.get(name, (None,))[0]:
                    print(f"  tracing overhead on {name}: "
                          f"{ctx.report[name][0] / base[name] - 1:+.1%} "
                          "vs the untraced run of this seed")
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": ctx.report[n][0], "unit": u}
                   for n, u in END_TO_END.items()}
        with open(summary, "w") as f:  # for the traced run's overhead line
            json.dump({n: v for n, (v, _, _) in ctx.report.items()}, f)
    for p in ctx.problems:
        print(f"  WRONG: {p}")
    correct = not ctx.problems
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
