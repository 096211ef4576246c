"""Vector-serving benchmark: one workload, one seed, one result line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload serve-point --seed 1 --seconds 24 --trace 0

Workloads: ``serve-point`` and ``ingest-mixed`` (see
``perfbench/README.md``). With ``--trace 0`` the last stdout line holds
the end-to-end metrics; with ``--trace 1`` it holds the per-layer
metrics of a separate traced run, whose spans are written to
``.perfbench_out/``. Every metric is also printed on its own line above
the result, with its unit and sample count. The exit code is 0 only
when every op succeeded and every answer matched the oracle.

All state lives in a per-run directory under ``.perfbench_tmp/`` in the
checkout (data, index, Spark local and warehouse dirs, JVM and Python
temp files) and is removed at exit. The Spark JVM and its Python
workers are stopped and waited for before the process exits.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# A run must end within 180 s; loops stop early past this point.
DEADLINE_S = 130.0
DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_cpus(n_cpus: int) -> int:
    """Task slots for ``local[N]``: half the CPUs. The other half runs
    the driver, the JVM's own threads and the OS, so a run measures the
    engine rather than the scheduler, and a CPU the host takes away
    stalls fewer tasks (README.md, "Steadiness")."""
    return max(1, n_cpus // 2)


def isolate(run_dir: str, n_cpus: int) -> dict[str, str]:
    """Point every writer at the run dir and make the engine importable
    by the Spark Python workers from any working directory. Returns the
    session conf the benchmark passes to ``session.get_spark``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus(n_cpus))
    # one BLAS thread per Python worker: the workers are the parallelism
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and every process
    it started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    from perfbench import probes

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = probes.descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        end = time.monotonic() + 15
        while any(_alive(p) for p in kids) and time.monotonic() < end:
            time.sleep(0.05)
        for p in kids:
            if _alive(p):
                os.kill(p, signal.SIGKILL)
        SparkContext._gateway = None
        SparkContext._jvm = None


def print_metrics(kind: str, metrics: dict) -> None:
    for name, (value, unit, n) in metrics.items():
        print(f"{kind} {name} = {value:.6g} {unit} (n={n})")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "inside_vectordb_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.RUNNERS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(TMP_ROOT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=TMP_ROOT)
    start = time.perf_counter()
    b = None
    try:
        n_cpus = len(os.sched_getaffinity(0))
        conf = isolate(run_dir, n_cpus)
        b = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                            run_dir, n_cpus, start + DEADLINE_S)
        workloads.RUNNERS[args.workload](b, conf)
        e2e = workloads.end_to_end(b)
        layer = workloads.per_layer(b) if args.trace else None
    finally:
        if b is not None and b.spark is not None:
            stop_spark(b.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(TMP_ROOT)
        except OSError:
            pass  # another run still uses it

    print_metrics("metric", e2e)
    print_metrics("report", workloads.report_only(b))
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}")
    if args.trace:
        print_metrics("layer", layer)
        overhead = trace_overhead(e2e, stem + "-trace0.json")
        b.tr.write(stem + "-spans.json", {"trace_overhead": overhead})
        shown = layer
    else:
        with open(stem + "-trace0.json", "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
        shown = e2e
    for v in b.violations[:20]:
        print(f"violation {v}")
    ok = b.failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in shown.items()},
    }), flush=True)
    return 0 if ok else 1


def trace_overhead(traced: dict, untraced_path: str) -> dict[str, float] | None:
    """Relative difference of each end-to-end metric of the traced run
    from the untraced run of the same workload and seed, when one has
    been made in this checkout."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)
    except (OSError, ValueError):
        print("trace_overhead unavailable: no untraced run of this workload and seed")
        return None
    out = {}
    for k, (v, _unit, _n) in traced.items():
        if base.get(k):
            out[k] = v / base[k] - 1.0
            print(f"trace_overhead {k} = {out[k]:+.2%}")
    return out


if __name__ == "__main__":
    sys.exit(main())
