#!/usr/bin/env python
"""Interleaved A/B bench: HEAD vs a pinned control worktree.

Absolute-seconds targets were missed two rounds running on a machine
that drifts ±5% (VERDICT r11 #5) — the honest instrument is the RATIO
between HEAD and a pinned baseline measured back-to-back on the SAME
machine in the SAME session window. This tool alternates full (or
SPARK_GRAFT_ONLY-restricted) bench runs between the two trees, in
the order H,P then P,H per rep so neither tree always runs first
(``rep_order``), takes per-query medians per tree, and prints one JSON
line with the total ratio, each tree's run-total quartiles (the
instrument's own spread) and the worst per-query ratios.

Gate (PLANS.md round-12): total_ratio <= 1.00 within noise (+-2%),
per-query flags at >= 1.3x interleaved.

Usage:
    python tools/bench_ab.py [--pinned /tmp/pinned_r11] [--reps 2]
                             [--only q1,q2] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import harness  # noqa: E402


def run_bench(tree: str, env_extra: dict[str, str]) -> dict[str, float]:
    env = dict(os.environ)
    env.update(env_extra)
    out = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=tree,
    )
    line = out.stdout.strip().splitlines()[-1]
    d = json.loads(line)
    # The printed line folds the tail into _other; the full split is on
    # stderr's detail line — parse that when present.
    for ln in out.stderr.splitlines():
        ln = ln.strip()
        if ln.startswith("{") and '"queries"' in ln:
            try:
                full = json.loads(ln)
                if len(full.get("queries", {})) >= len(d.get("queries", {})):
                    d = full
            except json.JSONDecodeError:
                pass
    return {k: v for k, v in d["queries"].items() if k != "_other"}


def rep_order(rep: int) -> tuple[str, str]:
    """The two trees' order in rep ``rep``: HEAD first in even reps,
    the pinned tree first in odd ones."""
    return ("head", "pinned") if rep % 2 == 0 else ("pinned", "head")


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [round(x, 2) for x in xs * 3]
    return [round(q, 2) for q in statistics.quantiles(xs, n=4)]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pinned", default="/tmp/pinned_r11")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--only", default=None)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--warmup", type=int, default=1)
    args = ap.parse_args()
    head = harness.ROOT

    env_extra = {}
    if args.only:
        env_extra["SPARK_GRAFT_ONLY"] = args.only
    if args.sf_dir:
        env_extra["SPARK_GRAFT_SF_DIR"] = args.sf_dir

    # Unrecorded warmup per tree: the pinned worktree starts with an
    # empty .data_cache, so its first run pays every artifact build —
    # recording it would bias the ratio in HEAD's favour.
    for _ in range(args.warmup):
        for tree in (head, args.pinned):
            print(f"warmup {tree} ...", file=sys.stderr)
            run_bench(tree, env_extra)

    trees = {"head": head, "pinned": args.pinned}
    runs: dict[str, list[dict[str, float]]] = {"head": [], "pinned": []}
    for rep in range(args.reps):
        for tag in rep_order(rep):
            print(f"rep {rep} {tag} ...", file=sys.stderr)
            runs[tag].append(run_bench(trees[tag], env_extra))

    med = {
        tag: {
            q: statistics.median(r[q] for r in rs if q in r)
            for q in set().union(*(r.keys() for r in rs))
            if any(q in r for r in rs)
        }
        for tag, rs in runs.items()
    }
    common = sorted(set(med["head"]) & set(med["pinned"]))
    th = sum(med["head"][q] for q in common)
    tp = sum(med["pinned"][q] for q in common)
    ratios = {
        q: round(med["head"][q] / med["pinned"][q], 3)
        for q in common
        if med["pinned"][q] >= 0.2
    }
    worst = dict(sorted(ratios.items(), key=lambda kv: -kv[1])[:15])
    flags = {q: r for q, r in ratios.items() if r >= 1.3}
    result = {
        "total_head": round(th, 2),
        "total_pinned": round(tp, 2),
        "total_ratio": round(th / tp, 4),
        "run_total_quartiles": {
            tag: quartiles([sum(r.values()) for r in rs]) for tag, rs in runs.items()
        },
        "n_common": len(common),
        "flags_ge_1p3": flags,
        "worst_ratios": worst,
    }
    print(json.dumps(result))
    # Standing artifact: a FULL-bench run (no --only restriction)
    # persists the ratio so bench.py's printed line can carry it into
    # the round's BENCH_r{N}.json (tool-produced, never hand-pasted).
    if not args.only:
        gate = dict(
            result,
            pinned=args.pinned,
            head_sha=harness.head_sha(),
            n_flags=len(flags),
            reps=args.reps,
        )
        gate.pop("worst_ratios", None)
        with open(os.path.join(head, "RATIO_GATE.json"), "w") as fh:
            json.dump(gate, fh, indent=1)


if __name__ == "__main__":
    main()
