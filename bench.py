#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line with per-query
wall-clock seconds.

Each query is fully executed through the `noop` sink (forces complete
evaluation of every partition without driver collection), matching how
a production job would consume the result (`tools/harness.run_query`).

SPARK_GRAFT_LAYERS=1 also writes a Spark event log, runs each query in
its own job group and, once the session stops, reports one layer record
per query (`tools/harness.layer_records`): wall, driver-only time,
jobs, stages, tasks, task CPU, GC, shuffle and spill bytes, broadcast
and scan time, and each job's seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

from recommender_systems_spark import registry
from recommender_systems_spark.session import get_spark
from tools import harness


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = harness.sf_of(sf_dir)
    # SPARK_GRAFT_COLD=1: wipe every persisted derived artifact
    # (ab_catalog, LSH gram/signature tables, co-occurrence edges, CC
    # near-pair table, fingerprint store, IVF index) so this run pays
    # the one-time builds the default warm-serving numbers amortise.
    # tools/bench_cold.py records per-artifact build-vs-serve.
    if os.environ.get("SPARK_GRAFT_COLD") == "1":
        from recommender_systems_spark.io import wipe_derived_cache

        wiped = wipe_derived_cache()
        print(f"cold mode: wiped {len(wiped)} cached artifacts", file=sys.stderr)
    # Sweep session residue (dead-PID package zips, orphaned streaming
    # state) out of .data_cache — driver-local file ops, no Spark jobs.
    from recommender_systems_spark.io import gc_data_cache

    gc_data_cache()
    layers = os.environ.get("SPARK_GRAFT_LAYERS") == "1"
    log_dir, log_conf = harness.event_log() if layers else (None, None)
    spark = get_spark("bench", extra_conf=log_conf)
    harness.warm(spark, sf_dir)

    # SPARK_GRAFT_REPEAT>1: run the whole fixed-order loop N times and
    # report per-query MEDIANS — the run-to-run noise floor at sf0.1 is
    # large enough (JIT, GC, OS cache) that single-run deltas under ~2×
    # are not evidence of a plan change.  The driver's per-round run
    # stays 1× (default).
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_REPEAT", "1")))
    # SPARK_GRAFT_ONLY=name1,name2 restricts the loop for local
    # iteration on specific queries (never set by the driver; the
    # regression gate below only compares queries that actually ran).
    only = os.environ.get("SPARK_GRAFT_ONLY")
    bench_names = sorted(
        n for n in registry.QUERIES
        if not only or n in {s.strip() for s in only.split(",")}
    )
    runs: list[dict[str, float]] = []
    errors: dict[str, str] = {}
    # Layer records cover the first rep: each query runs in job group
    # <name> and its (start, end) window goes to the event-log parser.
    windows: dict[str, tuple[float, float]] = {}
    for rep in range(repeat):
        timings: dict[str, float] = {}
        for name in bench_names:
            group = name if layers and rep == 0 else None
            start = time.time()
            try:
                timings[name] = harness.run_query(spark, name, sf_dir, group)
            except Exception as exc:  # one bad query must not zero the bench
                errors[name] = str(exc).split("\n")[0][:200]
                continue
            if group is not None:
                windows[name] = (start, start + timings[name])
        runs.append(timings)

    if repeat > 1:
        import statistics

        names = set().union(*(r.keys() for r in runs))
        timings = {
            n: round(statistics.median(r[n] for r in runs if n in r), 3)
            for n in names
            if any(n in r for r in runs)
        }

    total = round(sum(timings.values()), 3)

    # A full cold-mode run records its total as the standing
    # COLD_BENCH.json artifact (picked up by the next warm run's
    # printed line — see below).
    if os.environ.get("SPARK_GRAFT_COLD") == "1" and not only and not errors:
        with open(os.path.join(harness.ROOT, "COLD_BENCH.json"), "w") as fh:
            json.dump(
                {"cold_total": total, "nq": len(timings), "sf": sf,
                 "head_sha": harness.head_sha()},
                fh, indent=1,
            )

    # Regression gate: compare this run's per-query numbers against the
    # PRIOR BENCH_DETAIL.json (read before it is overwritten below) and
    # flag every above-factor slowdown, so each round's bench output carries
    # its own regression list instead of leaving readers to diff files.
    # Same-sf comparisons only (totals across sf are meaningless), an
    # absolute 0.2 s floor keeps sub-noise timings from flagging.
    # Flag factors: 1.3× for multi-rep medians, 1.6× for single-run
    # numbers (their noise envelope is wider). The old 2.0× single-run
    # gate let a warm-reproducing 1.2–1.4× family regression through
    # unflagged in round 10; the warm re-adjudication pass below is
    # what demotes noise now, so the entry gate can afford to be
    # tight — a flag only survives if it REPRODUCES warm.
    detail_path = os.path.join(harness.ROOT, "BENCH_DETAIL.json")
    regressions: dict[str, list[float]] = {}
    factor = 1.3 if repeat > 1 else 1.6
    # Self-adjudicating noise floor: the ratio of this run's total to
    # the prior total over the COMMON query set measures global heat
    # (GC pressure, OS cache, co-tenant load). A 1.2×-hot run inflates
    # every query ~1.2×, so per-query flags are split into
    # flags_above_noise (cur > factor × prev × heat — evidence of a
    # plan change) and within_noise (explained by the global ratio) —
    # rounds 5-7 each burned manual adjudication on globally-hot
    # snapshots whose every flag was noise.
    noise_floor = None
    flags_above_noise: dict[str, list[float]] = {}
    within_noise: dict[str, list[float]] = {}
    try:
        with open(detail_path) as fh:
            prior = json.load(fh)
        if prior.get("sf") == sf:
            prev_q = prior.get("queries", {})
            common = [n for n in prev_q if n in timings and n != "_other"]
            prev_sum = sum(prev_q[n] for n in common)
            cur_sum = sum(timings[n] for n in common)
            if prev_sum > 0:
                noise_floor = round(cur_sum / prev_sum, 3)
            heat = max(1.0, noise_floor or 1.0)
            for name, prev in prev_q.items():
                cur = timings.get(name)
                if (
                    cur is not None
                    and prev >= 0.2
                    and cur > factor * prev
                ):
                    regressions[name] = [prev, cur]
                    if cur > factor * prev * heat:
                        flags_above_noise[name] = [prev, cur]
                    else:
                        within_noise[name] = [prev, cur]
    except Exception:
        pass

    # Warm re-adjudication: both round-9 above-noise flags turned out
    # to be cold-JIT artifacts (the first heavy applyInPandas /
    # codegen-shape of a session pays classloading that a warm rep does
    # not). Re-measure every above-noise flag in isolation (2 warm
    # reps, best-of) and only keep flags that REPRODUCE warm; demoted
    # flags move to cold_start_noise so the record shows they were
    # checked, not ignored.
    cold_start_noise: dict[str, list[float]] = {}
    if flags_above_noise:
        heat = max(1.0, noise_floor or 1.0)
        confirmed: dict[str, list[float]] = {}
        for name, (prev, cur) in list(flags_above_noise.items()):
            best = cur
            try:
                for _ in range(2):
                    best = min(best, harness.run_query(spark, name, sf_dir))
            except Exception:
                pass
            if best > factor * prev * heat:
                confirmed[name] = [prev, cur, best]
            else:
                cold_start_noise[name] = [prev, cur, best]
                regressions.pop(name, None)
        flags_above_noise = confirmed
    # Stopping the session flushes the event log the layer records read.
    spark.stop()

    # Full per-query detail goes to a file (and stderr) — the driver
    # records only the LAST 2000 characters of stdout, so the printed
    # JSON line must stay under that budget or the driver stores
    # "parsed": null and loses even the headline total (observed in
    # rounds 2-3: the 90-query dict alone is ~2.3 KB, truncation ate
    # the leading "metric"/"value" fields).
    detail = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "regressions": regressions,
        "noise_floor": noise_floor,
        "flags_above_noise": flags_above_noise,
        "within_noise": within_noise,
        "cold_start_noise": cold_start_noise,
    }
    if repeat > 1:
        detail["repeat"] = repeat
        detail["run_totals"] = [round(sum(r.values()), 3) for r in runs]
    if errors:
        detail["errors"] = errors
    # Partial runs (SPARK_GRAFT_ONLY), cold-mode runs, and runs at a
    # DIFFERENT scale factor than the standing baseline must not
    # clobber the full warm-run detail the next round's regression gate
    # compares against (the driver always benches sf0.1; verify-skill
    # side runs at sf0.01 were silently replacing it).
    prior_sf = None
    try:
        with open(detail_path) as fh:
            prior_sf = json.load(fh).get("sf")
    except Exception:
        pass
    standing = (
        not only
        and os.environ.get("SPARK_GRAFT_COLD") != "1"
        and (prior_sf is None or prior_sf == sf)
    )
    if standing:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps(detail), file=sys.stderr)
    # The layer records follow the same rule: BENCH_LAYERS.json holds a
    # full warm run; every run's records go to stderr.
    if layers:
        records = harness.layer_records(log_dir, windows)
        if standing:
            with open(os.path.join(harness.ROOT, "BENCH_LAYERS.json"), "w") as fh:
                json.dump(records, fh, indent=1, sort_keys=True)
        print(json.dumps({"layers": records}), file=sys.stderr)

    # Printed line: slowest queries first until the budget is spent,
    # remainder folded into "_other" (so sum(queries.values()) == value
    # still holds), headline fields LAST so that even if an unexpected
    # extra stdout line pushes the front of this line out of the
    # driver's tail window, the total survives.
    budget = 1800
    fitted: dict[str, float] = {}
    rest_n, rest_sec = 0, 0.0
    # Worst 15 ABOVE-NOISE regressions by ratio ride the printed line
    # (the full split is in BENCH_DETAIL.json); both keys are always
    # present so a clean round reads as explicit empties, and
    # noise_floor lets the reader judge how hot the run was.
    flagged = dict(
        sorted(
            flags_above_noise.items(),
            key=lambda kv: kv[1][1] / kv[1][0],
            reverse=True,
        )[:15]
    )
    frame = {"queries": fitted, "sf": sf, "nq": len(timings),
             "errors": len(errors), "regressions": flagged,
             "noise_floor": noise_floor,
             "n_within_noise": len(within_noise),
             "metric": "total_query_wall_clock",
             "unit": "sec", "value": total}
    # Standing honesty instruments (VERDICT r12 #3): the interleaved
    # HEAD-vs-pinned ratio (tools/bench_ab.py writes RATIO_GATE.json)
    # and the wipe-everything cold total (a SPARK_GRAFT_COLD=1 run of
    # this script writes COLD_BENCH.json) ride the printed line when
    # their artifacts exist, so each round's BENCH_r{N}.json carries
    # tool-produced numbers — never hand-pasted, and stamped with the
    # git SHA they were measured at.
    for key, fname, fields in (
        ("ratio", "RATIO_GATE.json",
         ("total_ratio", "n_common", "pinned", "head_sha", "n_flags")),
        ("cold", "COLD_BENCH.json",
         ("cold_total", "nq", "head_sha")),
    ):
        try:
            with open(os.path.join(harness.ROOT, fname)) as fh:
                art = json.load(fh)
            frame[key] = {f: art[f] for f in fields if f in art}
        except Exception:
            frame[key] = None
    overhead = len(json.dumps(frame, separators=(",", ":"))) + len('"_other":12345.678,')
    used = overhead
    for name in sorted(timings, key=timings.get, reverse=True):
        cost = len(name) + len(f"{timings[name]}") + 4
        if used + cost > budget:
            rest_n += 1
            rest_sec += timings[name]
        else:
            fitted[name] = timings[name]
            used += cost
    if rest_n:
        fitted["_other"] = round(rest_sec, 3)
    print(json.dumps(frame, separators=(",", ":")))


if __name__ == "__main__":
    main()
