"""The one measurement harness of bench.py and the tools/ scripts.

``run_query`` is the timed query: a registry query written through the
``noop`` sink (every partition evaluated, nothing collected), with its
session residue released outside the timed window. ``warm`` is the
session warm-up, ``head_sha`` the git stamp of a measurement and
``sf_of`` the scale factor a data directory names.

The layer record: a session started with ``event_log``'s conf writes a
Spark event log; ``layer_records`` reads it through perfbench's parser
(``perfbench/eventlog.py``, imported as is) and gives each query, run
in its own job group, its jobs, stages, tasks, driver-only time and
executor metrics (``SPARK_GRAFT_LAYERS=1 python bench.py``).
"""

from __future__ import annotations

import gc
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Layer-record field -> perfbench/eventlog.py metric.
RECORD_KEYS = {
    "driver_only_s": "spark.driver_only_s",
    "n_jobs": "spark.jobs",
    "n_stages": "spark.stages",
    "n_tasks": "spark.tasks",
    "task_cpu_s": "spark.task_cpu_s",
    "gc_s": "spark.gc_s",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "shuffle_read_bytes": "spark.shuffle_read_bytes",
    "spill_bytes": "spark.spill_bytes",
    "broadcast_s": "spark.broadcast_s",
    "scan_s": "spark.scan_s",
}


def sf_of(sf_dir: str) -> float:
    """The scale factor a data directory names (``.../sf0.1`` → 0.1),
    or -1.0 if it names none."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else -1.0


def head_sha() -> str | None:
    """Short git SHA of this checkout, or None outside a git tree."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=ROOT,
        ).stdout.strip() or None
    except Exception:
        return None


def warm(spark, sf_dir: str) -> None:
    """Warm the JVM and codegen paths once, so per-query numbers measure
    the plan, not classloading; then touch every base table, so footer
    reads, schema resolution and the ns→µs cache fallback land here and
    not inside the first query that reads the table."""
    from recommender_systems_spark import registry
    from recommender_systems_spark.io import load_table

    registry.QUERIES["flagship_top_customers"](spark, sf_dir).collect()
    for tbl in ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"):
        try:
            load_table(spark, sf_dir, tbl).limit(1).collect()
        except Exception:
            pass


def run_query(spark, name: str, sf_dir: str, group: str | None = None) -> float:
    """Seconds to run registry query ``name`` through the noop sink,
    inside job group ``group`` when one is given. A failing query
    raises; its cleanup runs either way."""
    from recommender_systems_spark import registry

    sc = spark.sparkContext
    if group is not None:
        sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        registry.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)
    finally:
        if group is not None:
            sc._jsc.clearJobGroup()
        # Release the query's session residue OUTSIDE its timing window:
        # localCheckpoint blocks are only unpersisted when their Python
        # DataFrame is garbage-collected, so without this the block
        # manager accumulates every training query's checkpoints and
        # later queries pay the GC pressure (measured: per-query times
        # swing 5-10× run-to-run at sf0.1 without the cleanup).
        gc.collect()
        spark.catalog.clearCache()
        # Python gc only drops the py4j refs; the JVM frees the
        # checkpoint/broadcast blocks (via ContextCleaner) on ITS next
        # collection, which may land mid-way through a later query's
        # timing window. Forcing it here keeps each query's number free
        # of its predecessors' cleanup (measured: the post-training tail
        # ran 2-4x slower without this at sf0.1).
        sc._jvm.System.gc()


def event_log() -> tuple[str, dict[str, str]]:
    """A fresh event-log directory, under the first of
    ``SPARK_LOCAL_DIRS`` (Spark's scratch space) when it is set, and the
    session conf that writes an uncompressed log there (the three
    settings perfbench's traced run uses)."""
    local = (os.environ.get("SPARK_LOCAL_DIRS") or "").split(",")[0] or None
    if local:
        os.makedirs(local, exist_ok=True)
    log_dir = tempfile.mkdtemp(prefix="bench-eventlog-", dir=local)
    return log_dir, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + log_dir,
    }


def layer_records(
    log_dir: str, windows: dict[str, tuple[float, float]]
) -> dict[str, dict]:
    """Per-query layer records from the event log of a stopped session.

    ``windows`` maps each query, run in job group ``name``, to its
    (start, end) epoch seconds; jobs of engine background threads carry
    no group and go to the query whose window holds their submission.
    The log directory is deleted once parsed."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        from eventlog import Op, attribute

        ops = [Op(name, s, e) for name, (s, e) in windows.items()]
        attribute(log_dir, ops)
    finally:
        sys.path.remove(os.path.join(ROOT, "perfbench"))
        shutil.rmtree(log_dir, ignore_errors=True)
    out = {}
    for op in ops:
        rec = {"wall": round(op.end - op.start, 3)}
        for key, metric in RECORD_KEYS.items():
            v = op.metrics[metric]
            rec[key] = round(v, 3) if key.endswith("_s") else int(v)
        rec["job_s"] = [round(e - s, 3) for s, e in sorted(op.job_spans)]
        out[op.group] = rec
    return out
