"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload copy_bulk --seed 1 --seconds 5 --trace 0

Run it from the repository root. Every file it makes lives under
``.perfbench_work/`` there; the run's own directory is removed on exit,
and a traced run leaves its spans as ``.perfbench_work/spans-*.json``.

A run has three phases (see README.md in this directory):

1. set-up: launch the JVM and start the Spark session, generate the
   inputs from the seed, make fresh output and state dirs, then run one
   fixed warm-up. ``setup_s`` is the time from process start to the
   first timed op.
2. the timed phase: whole passes of the workload's op cycle, in a closed
   loop with one client, until ``--seconds`` of op wall have passed.
3. output checks, untimed. A mismatch counts as a failed op.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
phases with every call into a layer traced and prints per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

_PROC_T0 = time.perf_counter()
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORK_ROOT = os.path.join(_ROOT, ".perfbench_work")

DRIVER_MEMORY = "2g"
#: the tail percentile. A run is one pass, 4 latency samples, so no
#: percentile above the median has ten samples beyond it; the upper quartile sits
#: inside the op latency mode and moves less than the slowest op does.
TAIL_Q = 0.75


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["copy_bulk", "stream_lifecycle"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _isolate_temp_dirs(work: str) -> str:
    """Point every temp-file user (Python, the JVM, Spark) into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    return tmp


def _start_session(work: str, tmp: str):
    from cqlcopy_spark.session import session_builder

    cores = len(os.sched_getaffinity(0))  # what nproc reports
    spark = (
        session_builder("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed heap: its size no longer moves with GC decisions
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _quantile(values: list[float], q: float) -> float:
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _run(args: argparse.Namespace, work: str, tmp: str) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload](args.seed, work)
    spark = _start_session(work, tmp)
    t_session = time.perf_counter()
    workload.set_up(spark)
    t_inputs = time.perf_counter()
    workload.warm_up(spark)
    t_ready = time.perf_counter()
    setup_s = t_ready - _PROC_T0
    print(
        f"set-up {setup_s:.3f} s: JVM and session {t_session - _PROC_T0:.3f} s, "
        f"inputs {t_inputs - t_session:.3f} s, warm-up {t_ready - t_inputs:.3f} s",
        file=sys.stderr,
    )

    tracer = Tracer(spark, enabled=bool(args.trace))
    ops = []
    timed_s = 0.0
    while timed_s < args.seconds:
        done = workload.run_pass(spark, tracer)
        ops += done
        timed_s += sum(op.wall_s for op in done)
        if not done:
            break  # every op of the pass failed
    rss_mb = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + _vm_hwm_mb("self")
    lat = [op.latency_s for op in ops if op.latency_s is not None]
    units = sum(op.units for op in ops)
    if not lat:
        raise RuntimeError("no op of the timed phase completed")

    t0 = time.perf_counter()
    problems = workload.check(spark)
    print(f"checks {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    attempted = workload.attempted
    failed = workload.errors + len(problems)
    print(
        f"{attempted} ops, {len(lat)} latency samples "
        f"(tail: p{100 * TAIL_Q:.0f}, {len(lat) - 1 - int(TAIL_Q * (len(lat) - 1))} samples beyond), "
        f"{units} {workload.unit_name} in {timed_s:.2f} s, failed {failed}; "
        f"latencies {[round(x, 3) for x in lat]}",
        file=sys.stderr,
    )
    if args.trace:
        print(f"jobs per call: {tracer.job_counts()}", file=sys.stderr)
        metrics = workload.layer_metrics(tracer)
        metrics["tracing_overhead"] = tracer.overhead_s / timed_s
        tracer.dump(os.path.join(_WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.json"))
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in metrics.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": units / timed_s, "unit": "rows/s"},
            "op_latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_latency_tail_s": {"value": _quantile(lat, TAIL_Q), "unit": "s"},
            "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def _layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    return {
        "jobs": "count",
        "shuffle_mb": "MB",
        "output_mb": "MB",
        "state_mb": "MB",
        "bytes_per_row": "B/row",
        "state_bytes_per_doc": "B/doc",
        "tracing_overhead": "ratio",
    }.get(suffix, "s")


def main(argv: list[str]) -> int:
    args = _parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, _ROOT)
    try:
        import cqlcopy_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    # on SIGTERM, still stop the JVM and remove the run's files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(_WORK_ROOT, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tmp = _isolate_temp_dirs(work)
        result = _run(args, work, tmp)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop_jvm() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
