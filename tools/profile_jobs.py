#!/usr/bin/env python
"""Per-query Spark JOB census (round-14 instrument, VERDICT r13 #6).

For each registry query: run once to warm, then run again inside a job
group and report, from the Spark UI REST API, every job the query
submitted — count, per-job wall ms, task counts. The driver barriers
this round hunts (eager checkpoints whose consumers are sequential,
range-sampling passes, offsets collects) each show up as an extra job,
so jobs-per-query is the census metric, ranked by jobs × per-job cost.

Usage:
    python tools/profile_jobs.py [query ...]        # default: all
    SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=...     # as bench.py

Writes /tmp/job_census.json (or $SPARK_GRAFT_CENSUS_OUT).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
import urllib.request
from datetime import datetime

# Resolve the package from cwd first (pinned-worktree runs), falling
# back to this file's own repo.
sys.path.insert(0, os.getcwd())
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recommender_systems_spark import registry  # noqa: E402
from recommender_systems_spark.session import get_spark  # noqa: E402


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _rest_time(stamp: str) -> datetime:
    """Parse a REST timestamp such as ``2026-10-17T08:36:02.123GMT``:
    the zone suffix is always GMT, so strip it."""
    return datetime.fromisoformat(stamp.rstrip("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or sorted(registry.QUERIES)
    spark = get_spark("job_census", extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    sc = spark.sparkContext
    base = sc.uiWebUrl  # e.g. http://host:4040
    app_id = sc.applicationId
    # Warm-ups and every other job outside a measured run go here.
    idle = ("census-idle", "between queries")
    sc.setJobGroup(*idle)
    # Warm the session like bench.py does.
    registry.QUERIES["flagship_top_customers"](spark, sf_dir).collect()

    census: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            print(f"unknown query: {name}", file=sys.stderr)
            continue
        # Warm run (artifact builds, JIT) outside the measured group.
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            census[name] = {"error": str(exc).split("\n")[0][:200]}
            continue
        gc.collect()
        spark.catalog.clearCache()
        sc._jvm.System.gc()
        group = f"census_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobGroup(*idle)
        jobs = _rest(f"{base}/api/v1/applications/{app_id}/jobs?status=succeeded")
        mine = [j for j in jobs if j.get("jobGroup") == group]
        per_job = []
        for j in sorted(mine, key=lambda j: j["jobId"]):
            dur = (
                _rest_time(j["completionTime"]) - _rest_time(j["submissionTime"])
            ).total_seconds()
            per_job.append({
                "id": j["jobId"],
                "sec": round(dur, 3),
                "tasks": j.get("numTasks"),
                "stages": len(j.get("stageIds", [])),
                "desc": (j.get("description") or j.get("name") or "")[:120],
            })
        census[name] = {
            "wall_sec": round(wall, 3),
            "n_jobs": len(mine),
            "n_tasks": sum(j.get("numTasks", 0) for j in mine),
            "jobs": per_job,
        }
        print(
            f"{name}: wall={wall:.2f}s jobs={len(mine)} "
            f"tasks={sum(j.get('numTasks', 0) for j in mine)}",
            file=sys.stderr,
        )
        gc.collect()
        spark.catalog.clearCache()
        sc._jvm.System.gc()

    out = os.environ.get("SPARK_GRAFT_CENSUS_OUT", "/tmp/job_census.json")
    with open(out, "w") as fh:
        json.dump(census, fh, indent=1, sort_keys=True)
    ranked = sorted(
        ((v.get("n_jobs", 0), v.get("wall_sec", 0), k) for k, v in census.items()),
        reverse=True,
    )
    print(json.dumps({
        "top_by_jobs": [
            {"q": k, "jobs": nj, "wall": w} for nj, w, k in ranked[:25]
        ],
        "out": out,
    }))


if __name__ == "__main__":
    main()
