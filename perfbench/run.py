#!/usr/bin/env python3
"""Benchmark entry point for the recommender engine.

    python3 perfbench/run.py --workload train|analytics \\
        --seed N --seconds S --trace 0|1 [--tiny]

Run from the repository root. One process starts a SparkSession on
``local[<cores>]``, sets up the workload from ``--seed``, runs its
operations in a closed loop for ``--seconds`` (always at least one full
pass), checks the outputs, and prints a detail line and then, as the
last line of stdout, the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (engine functions wrapped in spans, Spark event log
on). Everything else the run prints goes to stderr. Generated inputs,
Spark scratch space and event logs live under ``.perfbench/`` in the
repository root, which git ignores; a run deletes its own files there. ``--tiny`` shrinks every input for a
smoke run. The exit code is 0 only when every check passed.
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
import traceback

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus the JVM, from /proc."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return hwm("self") + hwm(jvm_pid)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _start_time(pid: int) -> str | None:
    """Start time of a live process (None once it has ended or is a
    zombie), so a reused pid is not mistaken for the original."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def descendants() -> dict[int, str]:
    """Every live process below this one, pid -> start time."""
    found: dict[int, str] = {}
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        start = _start_time(pid)
        if pid not in found and start is not None:
            found[pid] = start
            todo += _children(pid)
    return found


def stop_spark() -> None:
    """Stop the SparkContext, end its JVM and wait until every process
    started under this one (the JVM, its Python daemon and workers) has
    ended. The JVM only notices that its stdin closed after this process
    exits, so without this it outlives the run for a few seconds."""
    from pyspark import SparkContext

    procs = descendants()
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            traceback.print_exc()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits on EOF from its stdin
        try:
            jvm.wait(timeout=60)
        except Exception:
            jvm.kill()
            jvm.wait()
    procs.update(descendants())
    for sig, grace in ((None, 30.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid, start in procs.items():
                if _start_time(pid) == start:
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if all(_start_time(pid) != start for pid, start in procs.items()):
                return
            time.sleep(0.05)


def start_session(trace: bool, log_dir: str):
    from recommender_systems_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # Keep the JVM's temp files (and its perf-data file) out of /tmp;
        # SPARK_LOCAL_DIRS (set in main) places Spark's scratch space.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    cores = len(os.sched_getaffinity(0))
    return session.get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def run(args, run_dir: str) -> tuple[dict, dict]:
    import workloads
    from workloads import log
    from recommender_systems_spark import registry  # noqa: F401  (imports every query module)
    from recommender_systems_spark import deploy, io

    tracer = stream = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        spans.install(tracer)
        stream = spans.StreamingStats()
    log_dir = os.path.join(run_dir, "eventlog")
    io.gc_data_cache()
    spark = start_session(args.trace, log_dir)
    try:
        if stream is not None:
            spark.streams.addListener(stream.listener())
        deploy.ensure_shipped(spark)
        session_s = time.perf_counter() - T_PROCESS
        log("session ready")
        kwargs = {}
        if args.workload == "analytics":
            # The analytics tables are the engine's test data at the oracle
            # (DuckDB-checked) scale; the test suite's constants locate them.
            from tests.conftest import SF_MED, SF_SMALL

            kwargs["sf_dir"] = os.environ.get("PERFBENCH_SF_DIR") or (
                SF_SMALL if args.tiny else SF_MED
            )
        workload = workloads.WORKLOADS[args.workload]
        res = workload(spark, args.seed, args.seconds, run_dir, args.tiny,
                       tracer=tracer, **kwargs)
        log("workload done")
        rss = peak_rss_mb(spark)
    finally:
        stop_spark()
    log("session stopped")

    times = [s for _, s, _ in res.ops]
    floor = [s for n, s, _ in res.ops if n in res.floor_ops]
    e2e = {
        "setup_s": (session_s + res.setup_s, "s"),
        "pass_s": (statistics.median(res.passes), "s"),
        # The mean, not the median: with 5-8 short operations per pass the
        # median swung about twice as much between runs as the mean.
        "floor_ms": (1e3 * statistics.mean(floor), "ms"),
    }
    by_op: dict[str, list[float]] = {}
    for name, s, _ in res.ops:
        by_op.setdefault(name, []).append(s)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "operations": len(times),
        "passes": len(res.passes),
        "session_s": session_s,
        "op_median_s": {k: statistics.median(v) for k, v in sorted(by_op.items())},
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in res.checks],
    }
    if args.workload == "train":
        tail_v, tail_p = tail(floor)
        figures = {
            "serve_p50_ms": (1e3 * statistics.median(floor), "ms"),
            "serve_tail_ms": (1e3 * tail_v, "ms"),
        }
        detail["serve_tail_percentile"] = tail_p
        detail["serve_tail_samples"] = len(floor)
    else:
        figures = {
            "analytics_wall_s": e2e["pass_s"],
            "analytics_query_p50_ms": (1e3 * statistics.median(times), "ms"),
        }
    figures.update(res.extra)
    figures.update({"setup_s": e2e["setup_s"], "peak_rss_mb": (rss, "MB")})
    detail["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in figures.items()}

    if args.trace:
        import layers

        metrics = layers.per_layer(tracer, stream, res, log_dir)
        metrics.update({k: v for k, v in figures.items() if k in layers.WORKLOAD_KEYS})
        metrics = layers.complete(metrics)
        detail["end_to_end_traced"] = {k: v[0] for k, v in e2e.items()}
    else:
        metrics = e2e
    result = {
        "correct": all(ok for _, ok, _ in res.checks),
        "attempted": len(times),
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["analytics", "train"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args()

    # Keep stdout for the result: the JVM, Python workers and engine
    # prints all inherit fd 1, so point it at stderr for the run.
    out_fd = os.dup(1)
    os.dup2(2, 1)
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    # spark-submit's launcher JVM: no perf-data file under /tmp either.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    # A SIGTERM unwinds through the finally below, so Spark still stops.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        detail, result = run(args, run_dir)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        stop_spark()  # also when the session failed to come up
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.flush()
    with os.fdopen(out_fd, "w") as out:
        out.write(json.dumps(detail) + "\n")
        out.write(json.dumps(result) + "\n")
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
