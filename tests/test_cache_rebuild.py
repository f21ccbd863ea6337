"""Wipe-rebuild correctness for the persisted `.data_cache` artifacts.

VERDICT r11: six heavy query families serve from prebuilt on-disk
artifacts (keyed by source-data identity + derivation constants). That
is the right production shape, but only if a cache-wiped run reproduces
IDENTICAL values — a build-path bug that only the cached copy masks
would otherwise survive every warm test. Each test wipes one artifact
family, re-runs the owning query, and asserts the canonical value hash
is unchanged from the warm-cache run.
"""

from __future__ import annotations

import hashlib

import pytest

from recommender_systems_spark import registry
from recommender_systems_spark.io import cache_ready, wipe_derived_cache

from tests.conftest import SF_SMALL
from tests.oracle_harness import canonicalize

# artifact prefix family -> query whose run (re)builds and consumes it.
REBUILD_CASES = {
    # e_ab_simulation is the only query that builds/reads ab_catalog
    # (abtest.py cat_dir) — e_ab_foldin_bias_hash recomputes the bias
    # table inline and made this case vacuous (ADVICE r12).
    "ab_catalog": "e_ab_simulation",
    "cc_near": "dedup_clusters",
    "cooc_edges": "g_pagerank",
    "fp_store": "t_incremental_ingest",
    "ivf_index": "sim_ivf_partitioned",
    "ivf_index_adx": "sim_ivf_adaptive_serve",
    "lsh_grams": "dedup_ngram_jaccard",
}


def _value_hash(spark, name: str) -> str:
    pdf = registry.QUERIES[name](spark, SF_SMALL).toPandas()
    canon = canonicalize(pdf)
    return hashlib.sha1(canon.to_csv(index=False).encode()).hexdigest()


@pytest.mark.parametrize("artifact", sorted(REBUILD_CASES))
def test_wiped_cache_rebuild_reproduces_hash(spark, artifact):
    name = REBUILD_CASES[artifact]
    warm = _value_hash(spark, name)  # builds the artifact if absent
    removed = wipe_derived_cache((artifact,))
    assert removed, f"no {artifact}_* dirs existed to wipe"
    cold = _value_hash(spark, name)
    assert cold == warm, f"{name} diverged after {artifact} rebuild"


def test_wipe_is_scoped():
    """wipe_derived_cache must never touch non-derived cache entries
    (µs table cache, generated sf1/sf10 data, streaming state)."""
    removed = wipe_derived_cache(("no_such_prefix",))
    assert removed == []


def test_interrupted_write_is_not_served(spark, tmp_path):
    """The _SUCCESS-marker guard: a directory left by an interrupted
    write (present but no marker) must read as not-ready."""
    d = tmp_path / "partial_artifact"
    d.mkdir()
    (d / "part-00000.parquet").write_bytes(b"not a real parquet")
    assert not cache_ready(str(d))
    reg = registry.QUERIES["g_pagerank"](spark, SF_SMALL)
    assert reg is not None  # guard import/plumbing smoke


def test_gc_data_cache_scopes():
    """gc_data_cache removes dead-PID package zips and stale per-run
    dirs, and never touches live-PID zips or content-keyed artifacts."""
    import os
    import time

    from recommender_systems_spark.io import _cache_root, gc_data_cache

    root = _cache_root()
    dead_zip = os.path.join(root, "recommender_systems_spark_999999999.zip")
    live_zip = os.path.join(root, f"recommender_systems_spark_{os.getpid()}.zip")
    stale_round = os.path.join(root, "cc_round0_424242_deadbeef0000")
    open(dead_zip, "wb").close()
    live_existed = os.path.exists(live_zip)
    if not live_existed:
        open(live_zip, "wb").close()
    os.makedirs(stale_round, exist_ok=True)
    old = time.time() - 48 * 3600
    os.utime(stale_round, (old, old))
    try:
        removed = gc_data_cache(max_age_hours=24.0)
        assert os.path.basename(dead_zip) in removed
        assert os.path.basename(stale_round) in removed
        assert os.path.exists(live_zip)
        assert not os.path.exists(dead_zip)
        assert not os.path.exists(stale_round)
    finally:
        for p in (dead_zip, stale_round):
            if os.path.exists(p):
                import shutil

                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(
                    p
                ) else os.remove(p)
        if not live_existed and os.path.exists(live_zip):
            os.remove(live_zip)


def test_gc_reaps_superseded_identity_artifact(tmp_path):
    """VERDICT r12 #6: a content-keyed artifact whose SOURCE identity
    has been superseded (the digest in its name no longer matches the
    current cache_key of its recorded recipe) must be reaped by
    gc_data_cache once past the age gate — and a LIVE-identity artifact
    with the same prefix must survive."""
    import json
    import os
    import shutil
    import time

    from recommender_systems_spark.io import (
        _cache_root,
        cache_key,
        cache_path,
        gc_data_cache,
    )

    # A private fake "source table" whose identity we control.
    src = tmp_path / "part.parquet"
    src.write_bytes(b"v1")
    sf_dir = str(tmp_path)

    live = cache_path("gcidtest", sf_dir, "part")  # logs the recipe
    os.makedirs(live, exist_ok=True)
    # Supersede the identity: same recipe, different file content/mtime.
    time.sleep(0.01)
    src.write_bytes(b"v2-longer")
    current = f"gcidtest_{cache_key(sf_dir, 'part')}"
    assert os.path.basename(live) != current  # identity really changed

    root = _cache_root()
    live_now = os.path.join(root, current)
    os.makedirs(live_now, exist_ok=True)
    # The new identity's recipe must also be on record (fresh process
    # would log it via cache_path; here append directly since the
    # once-per-process memo already holds the prefix).
    with open(os.path.join(root, "MANIFEST.jsonl"), "a") as fh:
        fh.write(
            json.dumps(
                {"dir": current, "prefix": "gcidtest", "sf_dir": sf_dir,
                 "tables": ["part"]}
            ) + "\n"
        )
    old = time.time() - 48 * 3600
    os.utime(live, (old, old))
    try:
        removed = gc_data_cache(max_age_hours=24.0)
        assert os.path.basename(live) in removed
        assert not os.path.isdir(live)
        assert os.path.isdir(live_now)  # current identity untouched
    finally:
        for p in (live, live_now):
            shutil.rmtree(p, ignore_errors=True)


def test_path_memo_rebuilds_only_on_rewrite(tmp_path):
    """io.PathMemo (the A/B catalog blocks and the serving snapshot)
    reuses its value while the path's file stamps hold and rebuilds once
    a file is rewritten or added, with no manual invalidation."""
    from recommender_systems_spark.io import PathMemo

    path = tmp_path / "model"
    path.mkdir()
    (path / "part-0.parquet").write_bytes(b"a")
    (path / "_SUCCESS").write_bytes(b"")
    memo, builds = PathMemo(), []

    def build():
        builds.append(1)
        return len(builds)

    assert memo.get(str(path), build) == 1
    assert memo.get(str(path), build) == 1
    (path / "part-1.parquet").write_bytes(b"bb")
    assert memo.get(str(path), build) == 2
    (path / "part-1.parquet").write_bytes(b"ccc")
    assert memo.get(str(path), build) == 3
    assert memo.get(str(path), build) == 3
    with pytest.raises(OSError):
        memo.get(str(tmp_path / "missing"), build)
