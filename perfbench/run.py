"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload induce_local --seed 1 --seconds 20 --trace 0

Run from the repository root. Starts a SparkSession on local[nproc],
sets up the workload's inputs several times (``setup_s`` takes the
median), warms up (see the workload's ``warm``), then runs operations for
``--seconds`` and checks every output. The last line of standard output
is one JSON object: the end-to-end metrics with ``--trace 0``, the
per-layer metrics (from spans, see tracing.py) with ``--trace 1``.
Everything the run writes lives under ``.bench_work/`` (deleted at the
end) and, for traced runs, ``.bench_out/`` (span files).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

SETUP_REPS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, root: str, work: str) -> dict:
    from tracing import Tracer, layer_metrics, per_layer_metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    tracer = Tracer()
    if args.trace:
        tracer.install()
        tracer.enabled = True

    from motive_rdf_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer.attach(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, args.size, tracer, work)
        attempted = failed = 0

        def attempt(op):
            nonlocal attempted, failed
            try:
                samples, bad = op()
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
                return []
            attempted += len(samples)
            failed += bad
            return samples

        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        attempt(wl.warm)
        warm_s = time.perf_counter() - t0

        tracer.run = "op"
        traced, untraced, samples = [], [], []
        deadline = time.perf_counter() + args.seconds
        i = 0
        while time.perf_counter() < deadline or (args.trace and i < 2):
            tracer.enabled = bool(args.trace) and i % 2 == 0
            got = attempt(wl.op)
            tracer.enabled = False
            (traced if args.trace and i % 2 == 0 else untraced).append(sum(s for s, _ in got))
            samples += got
            i += 1
        peak_mb = _hwm_mb("self") + _hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        wl.close()
    finally:
        _stop(spark)

    if not samples:
        raise RuntimeError("no operation completed")
    if args.trace:
        out = os.path.join(root, ".bench_out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"trace-{args.workload}-seed{args.seed}.jsonl"),
                     run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        values = layer_metrics(
            tracer.spans, {"session": 1, "data.generators": SETUP_REPS}, len(traced)
        )
        values["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        units = {name: unit for name, unit, _ in per_layer_metrics()}
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    else:
        secs = [s for s, _ in samples]
        metrics = {
            "setup_s": {"value": session_s + statistics.median(setup_times) + warm_s, "unit": "s"},
            "work_per_s": {"value": statistics.median(w / s for s, w in samples), "unit": "1/s"},
            "op_p50_s": {"value": statistics.median(secs), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    print(
        f"perfbench {args.workload} seed={args.seed}: samples {[round(s, 2) for s, _ in samples]}, "
        f"session {session_s:.2f}s, setup reps {[round(t, 2) for t in setup_times]}, "
        f"warm-up {warm_s:.2f}s, failed {failed}/{attempted}",
        file=sys.stderr,
    )
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = _parse(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    if not os.path.isfile(os.path.join(root, "motive_rdf_spark", "__init__.py")):
        print(f"perfbench: no motive_rdf_spark package under {root}", file=sys.stderr)
        return 2
    sys.path[:0] = [root, here]
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark scratch space, temp files and worker imports stay in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
