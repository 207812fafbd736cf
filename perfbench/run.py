"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload fs_lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run

1. isolates itself under ``.perfbench/<pid>/`` in the checkout: warehouse,
   Spark local dirs, engine staging dirs, temp files, model registry,
   online KV and event log all live there, and the directory is deleted
   at exit;
2. sets up once: it launches the JVM and starts the session, generates
   the seeded inputs, runs one small first action and then one warm-up
   iteration on the cold JIT. ``setup_s`` is the wall time of all of it;
3. runs the workload in a closed loop for ``--seconds``, and for at
   least the workload's ``min_iters`` iterations; ``iter_s`` is their
   median;
4. checks every output outside the timed region;
5. prints one JSON object as the last line of stdout.

``--trace 1`` instead reports the per-layer metrics: after the same
set-up it interleaves untraced and traced iterations (spans, Spark job
tags, py4j counts, event log) and attributes the traced ones to layers.
The tracing overhead is the traced median iteration minus the untraced
one.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "databricks_feature_store_poc_spark")
HARNESS = os.path.join(ROOT, "tests", "harness.py")
MIN_TRACED = 2  # traced iterations, and as many untraced ones between them


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(work: str, cpus: int) -> dict[str, str]:
    """Point every place the engine writes at ``work``; return Spark confs."""
    dirs = {k: os.path.join(work, k) for k in
            ("tmp", "local", "staging", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_STAGING_DIR"] = dirs["staging"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # Python workers are forked from the JVM's environment: give them the
    # engine package and the benchmark's own modules.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.dir": dirs["eventlog"],
    }


def _peak_rss_mb(spark) -> float:
    """JVM high-water RSS (``VmHWM``) plus this process's ``ru_maxrss``."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _loop(wl, ctx, seconds: float, first_it: int) -> list:
    """Closed loop: start another iteration while time remains, and until
    the workload's ``min_iters`` are done."""
    results = []
    t_end = time.perf_counter() + seconds
    while len(results) < wl.min_iters or time.perf_counter() < t_end:
        results.append(wl.iterate(ctx, first_it + len(results)))
    return results


def _traced_loop(wl, ctx, seconds: float, first_it: int, tracer) -> tuple[list, list]:
    """Untraced and traced iterations in the order untraced, traced,
    traced, untraced, repeated: iterations still speed up as the JIT warms,
    and this order gives both sides the same mean position, so the
    difference of their medians is the overhead."""
    plain, traced, untraced = [], [], ctx.tracer
    t_end = time.perf_counter() + seconds
    while (len(traced) < MIN_TRACED or len(plain) < len(traced)
           or time.perf_counter() < t_end):
        i = len(plain) + len(traced)
        it = first_it + i
        if i % 4 in (0, 3):
            plain.append(wl.iterate(ctx, it))
            continue
        tracer.iteration = it
        ctx.tracer = tracer
        with tracer.active(), tracer.span("iteration"):
            traced.append(wl.iterate(ctx, it))
        ctx.tracer = untraced
    return plain, traced


def main() -> int:
    args = _parse()
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    # A terminated run still runs the cleanup in ``finally`` below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isdir(PKG_DIR) and os.path.isfile(HARNESS)):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE, os.path.dirname(HARNESS)]
    import spans
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # Keep stdout for the result line; everything else goes to stderr.
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    work = os.path.join(ROOT, ".perfbench", str(os.getpid()))
    _remove_stale(os.path.dirname(work))
    confs = _isolate(work, cpus)
    if args.trace:
        confs.update(spans.EVENT_LOG_CONFS)
    spark = None
    try:
        from databricks_feature_store_poc_spark.session import get_spark

        wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]",
                          extra_confs=confs)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, spans.NULL_TRACER, args.seed, work)
        wl.prepare(ctx, os.path.join(work, "data"))
        warm = [wl.warm_up(ctx)]
        setup_s = time.perf_counter() - t0

        tracer = spans.Tracer(spark) if args.trace else None
        if tracer is None:
            plain, traced = _loop(wl, ctx, args.seconds, 1), []
        else:
            plain, traced = _traced_loop(wl, ctx, args.seconds, 1, tracer)
        rss = _peak_rss_mb(spark)

        runs = warm + plain + traced
        t_check = time.perf_counter()
        failed = sum(r.failed for r in runs) + wl.check(ctx)
        print(f"# checks took {time.perf_counter() - t_check:.2f} s", file=sys.stderr)
        attempted = sum(r.attempted for r in runs)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        spark = None

        _log_summary(args.workload, warm, plain, traced, session_s, setup_s, attempted,
                     failed)
        if args.trace:
            from report import per_layer

            metrics = per_layer(
                tracer, spans.find_event_log(confs["spark.eventLog.dir"], app_id),
                traced, plain, session_s=session_s, peak_rss_mb=rss,
                failed_ratio=failed / attempted,
            )
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "iter_s": (statistics.median(r.wall_s for r in plain), "s"),
            }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        real_stdout.write(json.dumps(result) + "\n")
        real_stdout.flush()
        return 0
    finally:
        _shutdown(spark, work)


def _remove_stale(parent: str) -> None:
    """Delete the directories of earlier runs that were killed outright."""
    if not os.path.isdir(parent):
        return
    for name in os.listdir(parent):
        if not name.isdigit():
            continue
        pid = int(name)
        if pid != os.getpid():
            try:
                os.kill(pid, 0)
                continue  # that run is still alive
            except ProcessLookupError:
                pass
        shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def _shutdown(spark, work: str) -> None:
    """Stop Spark and the JVM, then delete the run's directory; a failing
    step is reported and does not skip the later ones."""
    for step in (spark.stop if spark is not None else None, _stop_jvm):
        if step is None:
            continue
        try:
            step()
        except Exception:
            traceback.print_exc()
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _log_summary(name, warm, plain, traced, session_s, setup_s, attempted, failed) -> None:
    def walls(rs):
        return "[" + ", ".join(f"{r.wall_s:.2f}" for r in rs) + "]"

    print(
        f"# {name}: set-up {setup_s:.2f} s (session {session_s:.2f} s, warm-up "
        f"iteration {walls(warm)} s); untraced iterations {walls(plain)} s; "
        f"traced {walls(traced)} s; failed_ops_ratio {failed}/{attempted} = "
        f"{failed / attempted:.6f}",
        file=sys.stderr, flush=True,
    )


if __name__ == "__main__":
    sys.exit(main())
