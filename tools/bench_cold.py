#!/usr/bin/env python
"""Cold-build vs warm-serve bench for every persisted `.data_cache`
artifact (VERDICT r11 transparency item: six heavy query families now
serve from prebuilt on-disk indexes, so the main bench measures warm
serving — this tool records the one-time build cost those numbers
amortise).

For each artifact family: wipe its cache dirs, run the owning query
COLD (detection/build + serve), then run it again WARM (serve only).
cold − warm ≈ the build cost. Prints ONE JSON line:

    {"sf": .., "artifacts": {name: {"cold": s, "warm": s, "build": s}}}

Usage:
    python tools/bench_cold.py                 # sf0.1 (default)
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/bench_cold.py
    python tools/bench_cold.py fp_store ivf_index   # subset
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recommender_systems_spark.io import wipe_derived_cache  # noqa: E402
from recommender_systems_spark.session import get_spark  # noqa: E402
from tools import harness  # noqa: E402

# artifact prefix family -> the query whose first run builds it.
ARTIFACT_OWNERS = {
    "ab_catalog": "e_ab_simulation",
    "cc_near": "dedup_clusters",
    "cooc_edges": "g_pagerank",
    "fp_store": "t_incremental_ingest",
    "ivf_index": "sim_ivf_partitioned",
    "ivf_index_adx": "sim_ivf_adaptive_serve",
    "lsh_grams": "dedup_ngram_jaccard",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = harness.sf_of(sf_dir)
    wanted = sys.argv[1:] or sorted(ARTIFACT_OWNERS)
    spark = get_spark("bench-cold")
    # Warm the session (JIT, codegen, table footers) so the cold number
    # measures the BUILD, not classloading.
    harness.warm(spark, sf_dir)

    out: dict[str, dict[str, float]] = {}
    for art in wanted:
        owner = ARTIFACT_OWNERS[art]
        # Warm the owner's serving path once (and ensure the artifact
        # exists) so JIT for ITS plan shape is paid before timing.
        harness.run_query(spark, owner, sf_dir)
        wipe_derived_cache((art,))
        cold = harness.run_query(spark, owner, sf_dir)
        warm = harness.run_query(spark, owner, sf_dir)
        out[art] = {
            "query": owner,
            "cold": cold,
            "warm": warm,
            "build": round(cold - warm, 3),
        }
        print(f"{art}: cold={cold} warm={warm}", file=sys.stderr)

    # Cache-footprint report (VERDICT r12 #6): total size and the
    # largest entries, so growth is visible in every cold-bench record.
    from recommender_systems_spark.io import _cache_root

    sizes: dict[str, int] = {}
    root = _cache_root()
    for d in os.listdir(root) if os.path.isdir(root) else []:
        full = os.path.join(root, d)
        try:
            if os.path.isdir(full):
                sizes[d] = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(full)
                    for f in fs
                )
            else:
                sizes[d] = os.path.getsize(full)
        except OSError:
            continue
    top = dict(sorted(sizes.items(), key=lambda kv: -kv[1])[:10])
    cache_report = {
        "total_mb": round(sum(sizes.values()) / 1e6, 1),
        "n_entries": len(sizes),
        "top_mb": {k: round(v / 1e6, 1) for k, v in top.items()},
    }
    print(json.dumps({"sf": sf, "artifacts": out, "cache": cache_report}))


if __name__ == "__main__":
    main()
