"""Run one workload of the repo's benchmark and print its metrics.

    python3 perfbench/run.py --workload fs_meta --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It sets up a Spark session on
local[N] (N = min(4, usable cores)) over the sf0.1 tables (read only;
$SPARK_GRAFT_SF_DIR, else the package's tables.DEFAULT_SF_DIR), runs the
workload's seeded passes for --seconds (and at least the workload's
minimum passes), checks every result, and prints:

  - a line `perfbench {...}` with the run's environment (master, sf dir,
    seed, git rev, Spark version) and workload figures;
  - as the last line, {"correct", "attempted", "failed", "metrics"}:
    the end-to-end metrics with --trace 0, the per-layer ones with
    --trace 1 (spans are then written to .perfbench/traces/).

Everything the run writes (Spark warehouse, ingest cache, local dirs,
stores, temp files) lives in .perfbench/run-* under the checkout and is
removed at the end; .perfbench/oracle-cache keeps DuckDB oracle answers
for the pipeline checks. Exit code: 0 when every check passed, 1 when a
result was wrong, 2 when the checkout or the data is missing or the
program no longer has the shape the benchmark relies on.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CPUS = 4


def _usable_cpus() -> int:
    return min(MAX_CPUS, len(os.sched_getaffinity(0)))


def _git_rev() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _stop_spark() -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    from perfbench.procs import descendants

    pids = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _prepare_env(run_dir: str) -> None:
    """Confine every file Spark, the JVMs, Python workers and DuckDB write
    to the run's private dir, and let workers import the package."""
    for sub in ("tmp", "local", "var"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
        ),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    for p in (os.path.join(ROOT, "tests"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("fs_meta", "store_rw", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "snackfs_spark")):
        print(f"perfbench: no snackfs_spark package under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its private dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(run_dir)
    from snackfs_spark.sources.tables import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR
    if not os.path.isfile(os.path.join(sf_dir, "documents.parquet")):
        print(f"perfbench: no sf tables in {sf_dir}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    from perfbench import stats, workloads
    from perfbench.procs import status_mb
    from perfbench.spans import NULL_TRACER, Tracer

    run = workloads.Run(
        sf_dir=sf_dir, seed=args.seed, seconds=args.seconds, cpus=_usable_cpus(),
        run_dir=run_dir, cache_dir=os.path.join(state, "oracle-cache"),
        tracer=Tracer() if args.trace else NULL_TRACER,
    )
    t0 = time.perf_counter()
    try:
        try:
            workloads.WORKLOADS[args.workload](run)
        except workloads.Unsupported as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 2
        t_workload = time.perf_counter()
        spark = run.spark
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = status_mb(jvm_pid, "VmHWM") + status_mb(os.getpid(), "VmHWM")
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": spark.sparkContext.master, "sf_dir": sf_dir,
            "spark_version": spark.version, "git_rev": _git_rev(),
            "passes": len(run.pass_s),
            "pass_s": run.pass_s, "pass_cpu_s": run.pass_cpu_s,
            "pass_steal_s": run.pass_steal_s, "ops": run.ops,
            "problems": run.tally.problems, "peak_rss_mb": peak_rss_mb,
            "wall_s": {"setup": run.setup_s, "run": t_workload - t0},
        }
        if args.trace:
            metrics = {
                k: (v, workloads.PER_LAYER[k])
                for k, v in workloads.layer_metrics(run).items()
            }
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            run.tracer.dump(
                os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"env": env, "self_s": run.tracer.self_times()},
            )
        else:
            t = run.tally
            metrics = {
                "setup_s": (run.setup_s, "s"),
                "live_mb": (run.live_mb, "MB"),
                "ok_ratio": (1 - t.failed / t.attempted, "ratio"),
                "pass_s": (stats.median(run.pass_s), "s"),
            }
    finally:
        t_stop = time.perf_counter()
        _stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    env["wall_s"]["stop"] = time.perf_counter() - t_stop

    print("perfbench " + json.dumps({**env, "detail": run.detail}, default=str))
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if run.tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
