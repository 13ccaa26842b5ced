"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload for one seed and prints, as the last line of standard
output, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A line
of diagnostics (host steal, process CPU, half-window medians) precedes it.

Everything the run writes (corpus files, index directories, Spark local
dirs, the event log, JVM temp files) lives in one temporary directory under
``.perfbench_tmp/`` in the checkout and is removed at exit. A traced run
also writes its spans and per-layer metrics to ``.perfbench_out/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _env(tmp: str) -> None:
    """Settings the engine and its Spark/Python workers must see before the
    JVM starts. PYTHONPATH is set here so the workers can import the engine
    wherever the command is started from."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py-tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}/jvm-tmp -XX:-UsePerfData"
    # the indexes here are a few MB; keep the driver heap modest on a shared host
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    for d in ("spark-local", "py-tmp", "jvm-tmp"):
        os.makedirs(os.path.join(tmp, d))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds through the cleanup below (Spark stop, temp dir)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [HERE, ROOT]
    try:
        import bge_m3_onnx_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import oracle
    import workloads
    from spans import job_metrics

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base_tmp = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base_tmp, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base_tmp)
    run = None
    try:
        _env(tmp)
        run = workloads.Run(tmp, args.seed, args.seconds, bool(args.trace))
        oracle_ok = oracle.self_check(args.seed, ROOT)
        metrics = workloads.WORKLOADS[args.workload](run)
        _stop_spark(run)
        if args.trace:
            layer = run.finish_trace(job_metrics(run.event_dir))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "spans": run.tracer.spans, "metrics": layer}, f, indent=1)
            metrics = {k: (v, _unit(k)) for k, v in layer.items()}
    finally:
        if run is not None and getattr(run, "spark", None) is not None:
            _stop_spark(run)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base_tmp)
        except OSError:
            pass  # another run's directory is still there

    run.diag["oracle_self_check"] = oracle_ok
    print(json.dumps({"diagnostics": run.diag}))
    print(json.dumps({
        "correct": bool(run.correct and oracle_ok),
        "attempted": run.attempted,
        "failed": run.failed,
        # NaN (no operation of a kind succeeded) is not JSON; such a run has
        # failed operations, which the counts above already show
        "metrics": {k: {"value": float(v) if v == v else 0.0, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def _stop_spark(run) -> None:
    """Stop Spark, end the JVM it runs in, and wait until the JVM and every
    process it started (the Python worker daemon and its workers) are gone."""
    from pyspark import SparkContext

    from spans import descendants, wait_gone

    pids = descendants()
    run.spark.stop()
    run.spark = None
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = gateway.proc
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = wait_gone(pids, timeout=30)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(left, timeout=10)


def _unit(name: str) -> str:
    if name.endswith("bytes_per_posting"):
        return "B"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), (".s", "s"), ("_mb", "MB"), ("_kb", "kB")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_ratio", ".survival")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
