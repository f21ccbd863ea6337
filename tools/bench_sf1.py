#!/usr/bin/env python
"""Scaling-slope harness: time registry queries across scale points
(sf0.1 driver testdata, plus tools/gen_sf1.py tilings at sf1 and sf10)
and print per-query ratios and a fitted log-log exponent. Each tiling
multiplies BOTH row counts and key spaces while holding per-key density
constant, so a data-linear query should land near the tile ratio (10x /
100x work at the same parallelism); a fitted exponent materially above
~1.2 indicates a super-linear term worth root-causing. Results are
recorded in PLANS.md (scaling-slope tables).

Usage: python tools/bench_sf1.py [query ...]   (default: TOP list)
Env:   SPARK_GRAFT_SF1_REPEAT  (default 3, medians)
       SPARK_GRAFT_SCALES      (comma list of sf0.1,sf1,sf10 — default
                                sf0.1,sf1; include sf10 for the 100x
                                point, generated via TILES=100 OUT=
                                .data_cache/sf10 tools/gen_sf1.py)
       SPARK_GRAFT_SLOW_CUTOFF (sec; if rep 1 at a scale exceeds this,
                                record that single rep instead of a
                                median — default 300)
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recommender_systems_spark.session import get_spark  # noqa: E402
from tools import harness  # noqa: E402

_CACHE = os.path.join(harness.ROOT, ".data_cache")
SCALE_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(_CACHE, "sf1"),
    "sf10": os.path.join(_CACHE, "sf10"),
}
SCALE_X = {"sf0.1": 1.0, "sf1": 10.0, "sf10": 100.0}

# Top most expensive queries per BENCH_r09.json (descending wall).
TOP = [
    "m_als_genre_train",
    "m_ials_train",
    "dedup_canonical_keep",
    "m_bpr_train",
    "dedup_clusters",
    "e_ab_simulation",
    "m_als_train",
    "a_markov_attribution",
    "g_triangles",
    "g_local_clustering",
    "g_harmonic_centrality",
    "e_bootstrap_ci",
    "e_dr_ope",
    "dedup_embedding_cosine",
    "a_cvar",
]


def timed_median(spark, name: str, sf_dir: str, repeat: int) -> tuple[float, int]:
    """(median seconds, reps actually run). Single-rep cutoff samples
    are tagged by the caller so slope fits can down-weight them."""
    cutoff = float(os.environ.get("SPARK_GRAFT_SLOW_CUTOFF", "300"))
    ts = []
    for rep in range(repeat):
        ts.append(harness.run_query(spark, name, sf_dir))
        if rep == 0 and ts[0] > cutoff:
            break  # slow query: one rep bounds the slope well enough
    ts.sort()
    return ts[len(ts) // 2], len(ts)


def fit_exponent(points: dict[str, float]) -> float | None:
    """Least-squares slope of log(t) vs log(scale) over >=2 points."""
    xy = [
        (math.log(SCALE_X[s]), math.log(max(t, 1e-3)))
        for s, t in points.items()
    ]
    if len(xy) < 2:
        return None
    n = len(xy)
    mx = sum(x for x, _ in xy) / n
    my = sum(y for _, y in xy) / n
    den = sum((x - mx) ** 2 for x, _ in xy)
    if den == 0:
        return None
    return round(sum((x - mx) * (y - my) for x, y in xy) / den, 3)


def main() -> None:
    scales = [
        s.strip()
        for s in os.environ.get("SPARK_GRAFT_SCALES", "sf0.1,sf1").split(",")
        if s.strip()
    ]
    for s in scales:
        if s not in SCALE_DIRS:
            sys.exit(f"unknown scale {s!r} (choose from {list(SCALE_DIRS)})")
        if not os.path.isdir(SCALE_DIRS[s]):
            sys.exit(f"{SCALE_DIRS[s]} missing — run tools/gen_sf1.py first")
    names = sys.argv[1:] or TOP
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_SF1_REPEAT", "3")))
    spark = get_spark("bench-sf1")
    harness.warm(spark, SCALE_DIRS["sf0.1"])
    out = {}
    for name in names:
        measured = {s: timed_median(spark, name, SCALE_DIRS[s], repeat)
                    for s in scales}
        points = {s: m[0] for s, m in measured.items()}
        base = points.get("sf0.1")
        rec = dict(points)
        # Tag cutoff-truncated single-sample medians so downstream
        # slope analysis can weight them (ADVICE r10).
        short = {s: m[1] for s, m in measured.items() if m[1] < repeat}
        if short:
            rec["reps"] = short
        for s in scales:
            if s != "sf0.1" and base is not None:
                # Guard the ratio: medians round to 3dp, so a
                # sub-millisecond base would divide by zero.
                rec[f"ratio_{s}"] = round(points[s] / max(base, 1e-3), 2)
        exp = fit_exponent(points)
        if exp is not None:
            rec["exponent"] = exp
        out[name] = rec
        print(f"{name}: " + " ".join(f"{k}={v}" for k, v in rec.items()),
              file=sys.stderr)
    print(json.dumps({"repeat": repeat, "scales": scales, "queries": out}))


if __name__ == "__main__":
    main()
