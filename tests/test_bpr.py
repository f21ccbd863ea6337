"""BPR golden tests (SURVEY §5: operational correctness = ranking
metrics improve over epochs; sampling invariants hold)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _positives(spark):
    return (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .filter(F.col("l_quantity") >= 25)
        .select(F.col("l_suppkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )


def test_triplet_sampling_invariants(spark):
    """M8/M9: every sampled negative must be (a) unseen by the user,
    (b) at most one triplet per positive."""
    from recommender_systems_spark.ml.bpr import sample_triplets

    pos = _positives(spark).localCheckpoint()
    t = sample_triplets(pos, "u", "i", seed=1).localCheckpoint()
    # (a) no (u, j) may appear in the positives
    leaked = t.join(
        pos.select("u", F.col("i").alias("j")), ["u", "j"], "left_semi"
    ).count()
    assert leaked == 0
    # (b) at most one triplet per (u, i)
    assert t.groupBy("u", "i").count().filter(F.col("count") > 1).count() == 0
    # sampling produced a meaningful fraction of triplets
    assert t.count() > 0.5 * pos.count()


def test_bpr_metrics_improve(spark):
    """prac_2.py's operational signal: P@k rises as epochs accumulate
    (reference plots per-epoch precision/recall curves)."""
    from recommender_systems_spark.ml.bpr import (
        precision_recall_at_k,
        train_bpr,
    )

    pos = _positives(spark).localCheckpoint()
    from recommender_systems_spark.ml.als import init_factors

    u0 = init_factors(pos.select("u").distinct(), "u", 8, 42, scale=0.1).drop("bias")
    v0 = init_factors(pos.select("i").distinct(), "i", 8, 43, scale=0.1).drop("bias")
    p0, r0 = precision_recall_at_k(pos, u0, v0, 20)

    model = train_bpr(pos, "u", "i", rank=8, epochs=3, seed=42, eval_k=20)
    p_last, r_last = model.metrics_history[-1]
    assert p_last > p0, f"P@20 did not improve: {p0} -> {p_last}"
    assert r_last > r0, f"R@20 did not improve: {r0} -> {r_last}"


def test_blocked_catalog_path_matches_broadcast(spark):
    """The partitioned-catalog path (threshold forced to 0: V snapshot
    joined per-row, pool-bounded negative dicts, blocked-GEMM eval)
    must produce BIT-IDENTICAL factors and metrics to the broadcast
    path — the modes differ only in how the same snapshot floats reach
    the workers."""
    from recommender_systems_spark.ml.bpr import train_bpr

    pos = _positives(spark).localCheckpoint()
    kwargs = dict(rank=8, epochs=2, seed=42, eval_k=10)
    wide = train_bpr(pos, "u", "i", **kwargs)
    blocked = train_bpr(
        pos, "u", "i", catalog_broadcast_threshold=0, eval_block_size=50,
        **kwargs,
    )
    assert blocked.metrics_history == wide.metrics_history
    a = {r["id"]: list(r["features"]) for r in wide.item_factors.collect()}
    b = {r["id"]: list(r["features"]) for r in blocked.item_factors.collect()}
    assert a == b


def test_blocked_catalog_path_with_genres(spark):
    """Genre-constrained sampling parity: row-riding genre sets +
    pool-bounded negative genre dict (blocked) vs the catalog dict
    (broadcast)."""
    from recommender_systems_spark.ml.bpr import train_bpr

    pos = _positives(spark).localCheckpoint()
    genres = (
        spark.read.parquet(f"{SF_SMALL}/part.parquet")
        .select(
            F.col("p_partkey").alias("item"),
            F.array(F.pmod(F.col("p_partkey"), F.lit(7))).alias("genre_ids"),
        )
        .localCheckpoint()
    )
    kwargs = dict(rank=8, epochs=2, seed=7, genres=genres)
    wide = train_bpr(pos, "u", "i", **kwargs)
    blocked = train_bpr(pos, "u", "i", catalog_broadcast_threshold=0, **kwargs)
    a = {r["id"]: list(r["features"]) for r in wide.user_factors.collect()}
    b = {r["id"]: list(r["features"]) for r in blocked.user_factors.collect()}
    assert a == b


def test_sync_every_blocked_matches_broadcast(spark):
    """The sync_every=2 batched schedule (one worker invocation runs
    both local passes, one V sync) must keep the broadcast and blocked
    catalog modes bit-identical to each other — the same contract as
    the per-epoch-sync schedule."""
    from recommender_systems_spark.ml.bpr import train_bpr

    pos = _positives(spark).localCheckpoint()
    kwargs = dict(rank=8, epochs=2, seed=42, eval_k=10, sync_every=2)
    wide = train_bpr(pos, "u", "i", **kwargs)
    blocked = train_bpr(
        pos, "u", "i", catalog_broadcast_threshold=0, eval_block_size=50,
        **kwargs,
    )
    assert blocked.metrics_history == wide.metrics_history
    a = {r["id"]: list(r["features"]) for r in wide.item_factors.collect()}
    b = {r["id"]: list(r["features"]) for r in blocked.item_factors.collect()}
    assert a == b


def test_sync_every_one_is_unbatched_schedule(spark):
    """sync_every=1 must be byte-for-byte the classic per-epoch-sync
    schedule (the default path): identical factors and metrics with
    the parameter present or absent."""
    from recommender_systems_spark.ml.bpr import train_bpr

    pos = _positives(spark).localCheckpoint()
    base = train_bpr(pos, "u", "i", rank=8, epochs=2, seed=42, eval_k=10)
    explicit = train_bpr(
        pos, "u", "i", rank=8, epochs=2, seed=42, eval_k=10, sync_every=1
    )
    assert base.metrics_history == explicit.metrics_history
    a = {r["id"]: list(r["features"]) for r in base.item_factors.collect()}
    b = {r["id"]: list(r["features"]) for r in explicit.item_factors.collect()}
    assert a == b


def test_rank_top_k_ties_break_by_id():
    """The one top-k kernel: score desc, then item id asc on equal
    scores (whatever the catalog order), with the optional bias blend
    in the score."""
    import numpy as np

    from recommender_systems_spark.ml.bpr import rank_top_k

    item_ids = np.array([40, 10, 30, 20, 50], dtype=np.int64)
    items = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.0, 1.0]])
    rows, ids, scores, ranks = rank_top_k([[2.0, 1.0], [1.0, 1.0]], items, item_ids, 4)
    assert rows.tolist() == [0, 0, 0, 0, 1, 1, 1, 1]
    assert ids.tolist() == [10, 20, 40, 30, 10, 20, 30, 40]
    assert scores.tolist() == [2.0, 2.0, 2.0, 1.0, 1.0, 1.0, 1.0, 1.0]
    assert ranks.tolist() == [1, 2, 3, 4, 1, 2, 3, 4]
    bias = np.array([0.0, 0.0, 40.0, 0.0, 40.0])
    _, ids, scores, _ = rank_top_k([[2.0, 1.0]], items, item_ids, 3, bias, 0.05)
    assert ids.tolist() == [30, 50, 10]
    assert scores.tolist() == [3.0, 3.0, 2.0]


def test_precision_recall_blocked_matches(spark):
    """_topk_blocked: blocked-GEMM scoring + window merge must equal
    the broadcast GEMM for every k in a multi-k sweep."""
    from recommender_systems_spark.ml.als import init_factors
    from recommender_systems_spark.ml.bpr import precision_recall_at_k

    pos = _positives(spark).localCheckpoint()
    u0 = init_factors(pos.select("u").distinct(), "u", 8, 5, scale=0.1).drop("bias")
    v0 = init_factors(pos.select("i").distinct(), "i", 8, 6, scale=0.1).drop("bias")
    wide = precision_recall_at_k(pos, u0, v0, [5, 10, 20])
    blocked = precision_recall_at_k(pos, u0, v0, [5, 10, 20], n_blocks=4)
    assert wide == blocked


def test_eval_user_count_fixed_sample_mode_invariant(spark):
    """The fixed-COUNT E1 eval sample (md5-ordered top-N users — the
    scale-safe way to bound the eval) must
    pick the identical user set in the broadcast and blocked catalog
    modes: identical metrics histories, and factors stay bit-identical
    as before."""
    from recommender_systems_spark.ml.bpr import train_bpr

    pos = _positives(spark).localCheckpoint()
    kwargs = dict(rank=8, epochs=1, seed=11, eval_k=10, eval_user_count=20)
    wide = train_bpr(pos, "u", "i", **kwargs)
    blocked = train_bpr(
        pos, "u", "i", catalog_broadcast_threshold=0, eval_block_size=50,
        **kwargs,
    )
    assert wide.metrics_history == blocked.metrics_history
    assert len(wide.metrics_history) == 1
    a = {r["id"]: list(r["features"]) for r in wide.user_factors.collect()}
    b = {r["id"]: list(r["features"]) for r in blocked.user_factors.collect()}
    assert a == b
