"""Golden-value tests for the ML layer (SURVEY §5: the reference has no
tests; correctness is established via monotone metrics + closed-form
probes, which we encode here as assertions)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

ALPHA = 0.01
LMD = 0.1
TAU = 0.01


def _ratings(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            F.col("l_suppkey").alias("u"),
            F.col("l_partkey").alias("i"),
            F.col("l_quantity").cast("double").alias("r"),
        )
    )


def test_als_rmse_monotone_descent(spark):
    """prac_1.py's operational correctness signal: RMSE decreases every
    iteration (param/rmse_vals.npy is monotone in the reference)."""
    from recommender_systems_spark.ml.als import train_als_bias

    r = _ratings(spark, SF_SMALL)
    model = train_als_bias(r, "u", "i", "r", rank=4, max_iter=3, tol=0.0, seed=7)
    hist = model.rmse_history
    assert len(hist) == 3
    assert hist[0] > hist[1] > hist[2], f"RMSE not monotone: {hist}"


def test_als_beats_bias_free_baseline(spark):
    """After 3 iterations the model must fit far better than predicting
    the global mean (sanity on absolute quality, not just direction)."""
    from recommender_systems_spark.ml.als import train_als_bias

    r = _ratings(spark, SF_SMALL)
    stats = r.agg(F.stddev("r").alias("sd")).collect()[0]
    model = train_als_bias(r, "u", "i", "r", rank=4, max_iter=3, tol=0.0, seed=7)
    assert model.rmse_history[-1] < stats["sd"]


def test_als_convergence_stops_on_tolerance(spark):
    """E8 (prac_1.py:161-187): with tol > 0 the fused monitor carries
    the max parameter delta. A tolerance above any delta stops training
    after iteration 1 as converged; one below every delta runs all
    max_iter iterations unconverged."""
    from recommender_systems_spark.ml.als import train_als_bias

    r = _ratings(spark, SF_SMALL)
    loose = train_als_bias(r, "u", "i", "r", rank=4, max_iter=3, tol=1e9, seed=7)
    assert loose.converged
    assert len(loose.rmse_history) == 1
    tight = train_als_bias(r, "u", "i", "r", rank=4, max_iter=3, tol=1e-12, seed=7)
    assert not tight.converged
    assert len(tight.rmse_history) == 3
    # The tol > 0 path solves the same sweeps as the sse-only path.
    base = train_als_bias(r, "u", "i", "r", rank=4, max_iter=3, tol=0.0, seed=7)
    np.testing.assert_allclose(tight.rmse_history, base.rmse_history, rtol=1e-9)


def test_bias_only_closed_form(spark):
    """M4 fixpoint probe: one user, one item, one rating, zero factors
    (u·v = 0). Sweep 1: b_u = λr/(α+λ);  b_i = λ(r−b_u)/(α+λ); then
    back to the user: b_u2 = λ(r−b_i)/(α+λ) — both join directions of
    als.bias_sweep."""
    from recommender_systems_spark.ml.als import bias_sweep

    scored = spark.createDataFrame(
        [(1, 10, 8.0, 0.0)], "u long, i long, r double, uv double"
    )
    uf = bias_sweep(scored, "u")
    vf = bias_sweep(scored, "i", uf)
    uf2 = bias_sweep(scored, "u", vf)
    bu = uf.collect()[0]["bias"]
    bv = vf.collect()[0]["bias"]
    bu2 = uf2.collect()[0]["bias"]
    exp_bu = LMD * 8.0 / (ALPHA + LMD)
    exp_bv = LMD * (8.0 - exp_bu) / (ALPHA + LMD)
    exp_bu2 = LMD * (8.0 - exp_bv) / (ALPHA + LMD)
    assert bu == pytest.approx(exp_bu, abs=1e-12)
    assert bv == pytest.approx(exp_bv, abs=1e-12)
    assert bu2 == pytest.approx(exp_bu2, abs=1e-12)


def test_fold_in_vector_solves_normal_equations(spark):
    """M12: the fused fold-in's u must satisfy (λΣvvᵀ+τI)u = λΣ(r−b_n−b_u)v
    — recomputed independently with NumPy from the same history."""
    from recommender_systems_spark.ml.foldin import (
        fold_in_bias,
        fold_in_bias_and_trait_vector,
    )

    hist = spark.createDataFrame(
        [(1, 7.0), (2, 9.0), (3, 4.0)], "i long, r double"
    )
    vecs = {1: [1.0, 0.5], 2: [-0.5, 2.0], 3: [0.25, -1.0]}
    biases = {1: 0.2, 2: -0.1, 3: 0.05}
    factors = spark.createDataFrame(
        [(i, vecs[i], biases[i]) for i in vecs],
        "id long, features array<double>, bias double",
    )
    ub = fold_in_bias(hist, "i", "r", factors, lmd=LMD, alpha=ALPHA).collect()[0][
        "user_bias"
    ]
    exp_ub = LMD * ((7.0 - 0.2) + (9.0 + 0.1) + (4.0 - 0.05)) / (ALPHA + LMD * 3)
    assert ub == pytest.approx(exp_ub, abs=1e-12)

    ub, _, u = fold_in_bias_and_trait_vector(
        hist, "i", "r", factors, lmd=LMD, alpha=ALPHA, tau=TAU, dim=2
    )
    v = np.array([vecs[i] for i in (1, 2, 3)])
    r = np.array([7.0, 9.0, 4.0])
    b = np.array([biases[i] for i in (1, 2, 3)])
    a_mat = LMD * v.T @ v + TAU * np.eye(2)
    rhs = LMD * v.T @ (r - b - ub)
    np.testing.assert_allclose(a_mat @ u, rhs, atol=1e-10)


def test_fused_fold_in_matches_two_step(spark):
    """Round-13 fusion: the single-action fold_in_bias_and_trait_vector
    must agree with the separate M11 bias + M12 trait-vector path on
    the same history (bias exactly; vector to fp-association slack; the
    M12 solve at the given bias is recomputed here with NumPy). And
    fold-in IS the bias-ALS update at a zero prior vector: the
    history's user, given a zero self vector, gets the same bias and
    vector from one als_half_sweep (next to a trained user 1)."""
    from recommender_systems_spark.ml.als import als_half_sweep, spd_solve
    from recommender_systems_spark.ml.foldin import (
        fold_in_bias,
        fold_in_bias_and_trait_vector,
    )

    hist = spark.createDataFrame(
        [(1, 7.0), (2, 9.0), (3, 4.0)], "i long, r double"
    )
    vecs = {1: [1.0, 0.5], 2: [-0.5, 2.0], 3: [0.25, -1.0]}
    biases = {1: 0.2, 2: -0.1, 3: 0.05}
    factors = spark.createDataFrame(
        [(i, vecs[i], biases[i]) for i in vecs],
        "id long, features array<double>, bias double",
    )
    ub_ref = fold_in_bias(hist, "i", "r", factors, lmd=LMD, alpha=ALPHA).collect()[
        0
    ]["user_bias"]
    v = np.array([vecs[i] for i in (1, 2, 3)])
    d = np.array([7.0, 9.0, 4.0]) - np.array([biases[i] for i in (1, 2, 3)])
    u_ref = spd_solve(LMD * v.T @ v + TAU * np.eye(2), LMD * v.T @ (d - ub_ref))
    ub, n, u = fold_in_bias_and_trait_vector(
        hist, "i", "r", factors, lmd=LMD, alpha=ALPHA, tau=TAU, dim=2
    )
    assert n == 3
    assert ub == pytest.approx(ub_ref, abs=1e-12)
    np.testing.assert_allclose(u, u_ref, atol=1e-12)

    ratings = spark.createDataFrame(
        [(0, 1, 7.0), (0, 2, 9.0), (0, 3, 4.0), (1, 1, 2.0), (1, 3, 5.0)],
        "u long, i long, r double",
    )
    users = spark.createDataFrame(
        [(0, [0.0, 0.0], 0.0), (1, [0.3, -0.7], 0.4)],
        "id long, features array<double>, bias double",
    )
    row = {
        r["id"]: r
        for r in als_half_sweep(
            ratings, "u", "i", "r", users, factors, LMD, TAU, ALPHA
        ).collect()
    }[0]
    assert row["bias"] == pytest.approx(ub, abs=1e-12)
    np.testing.assert_allclose(row["features"], u, atol=1e-12)


def test_top_n_recommendations_scoring_and_exclusion(spark):
    """M13: score = u·v + 0.05·b, items with < limit ratings excluded."""
    from recommender_systems_spark.ml.foldin import top_n_recommendations

    factors = spark.createDataFrame(
        [(1, [1.0, 0.0], 2.0), (2, [0.0, 1.0], 0.0), (3, [1.0, 1.0], -2.0)],
        "id long, features array<double>, bias double",
    )
    # item 2 rated once -> excluded at limit=2
    ratings = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (3,)], "i long"
    )
    out = top_n_recommendations(
        [2.0, 1.0], factors, ratings, "i", n=2, remove_items_limit=2
    ).collect()
    assert [r["i"] for r in out] == [3, 1]
    assert out[0]["score"] == pytest.approx(2.0 + 1.0 + 0.05 * -2.0)
    assert out[1]["score"] == pytest.approx(2.0 + 0.05 * 2.0)


def _snapshot_model(spark, path, seed, n_items=60, k=4):
    """A factor model written and read through io (so it is served from
    the driver snapshot), random floats: no exact score ties."""
    from recommender_systems_spark import io

    rng = np.random.default_rng(seed)
    rows = [
        (i, rng.normal(size=k).tolist(), float(rng.normal()))
        for i in range(1, n_items + 1)
    ]
    io.write_factors(
        spark.createDataFrame(rows, "id long, features array<double>, bias double"),
        path,
    )
    return io.read_factors(spark, path)


def _serve(spark, items, ratings, history, k=4):
    from recommender_systems_spark.ml.foldin import (
        fold_in_bias_and_trait_vector,
        top_n_recommendations,
    )

    hist = spark.createDataFrame(history, "i long, r double")
    ub, n, u = fold_in_bias_and_trait_vector(hist, "i", "r", items, dim=k)
    top = top_n_recommendations(u, items, ratings, "i", n=10, remove_items_limit=3)
    return ub, n, u, [(r["i"], r["score"]) for r in top.collect()]


def _snapshot_ratings(spark, n_items=60):
    # item i rated (i % 5) times: a fifth of the catalogue is never rated
    # (kept by the anti-join), and items with 1-2 raters fall under 3.
    return spark.createDataFrame(
        [(i,) for i in range(1, n_items + 1) for _ in range(i % 5)], "i long"
    )


_HISTORY = [(3, 7.0), (11, 2.5), (19, 9.0), (42, 5.5), (11, 4.0), (999, 8.0)]


def test_serving_snapshot_matches_spark_path(spark, tmp_path, monkeypatch):
    """A frame from io.read_factors is served from the driver snapshot;
    forcing the Spark path (catalog constant 0) gives the same ids and
    the same bias, vector and scores to 1e-12. The history repeats an
    item and names one the model lacks."""
    from recommender_systems_spark import io
    from recommender_systems_spark.ml import bpr

    items = _snapshot_model(spark, str(tmp_path / "f"), seed=5)
    assert io.factors_path(items) == str(tmp_path / "f")
    assert io.factors_path(items.select("*")) is None
    ratings = _snapshot_ratings(spark)
    ub, n, u, top = _serve(spark, items, ratings, _HISTORY)
    monkeypatch.setattr(bpr, "CATALOG_BROADCAST_THRESHOLD", 0)
    ub_s, n_s, u_s, top_s = _serve(spark, items, ratings, _HISTORY)
    assert n == n_s == 5
    assert [i for i, _ in top] == [i for i, _ in top_s] and len(top) == 10
    assert all(i % 5 not in (1, 2) for i, _ in top)
    assert ub == pytest.approx(ub_s, abs=1e-12)
    np.testing.assert_allclose(u, u_s, rtol=0, atol=1e-12)
    np.testing.assert_allclose(
        [s for _, s in top], [s for _, s in top_s], rtol=0, atol=1e-12
    )


def test_serving_snapshot_follows_a_rewrite(spark, tmp_path):
    """After write_factors overwrites the path, the next request serves
    the new factors, not the held snapshot."""
    path = str(tmp_path / "f")
    ratings = _snapshot_ratings(spark)
    first = _serve(spark, _snapshot_model(spark, path, seed=1), ratings, _HISTORY)
    items = _snapshot_model(spark, path, seed=2)
    second = _serve(spark, items, ratings, _HISTORY)
    rows = {r["id"]: r for r in items.collect()}
    v = np.array([rows[i]["features"] for i, _ in _HISTORY if i in rows])
    b = np.array([rows[i]["bias"] for i, _ in _HISTORY if i in rows])
    d = np.array([r for i, r in _HISTORY if i in rows]) - b
    assert second[0] != first[0]
    assert second[0] == pytest.approx(LMD * d.sum() / (ALPHA + LMD * len(d)), abs=1e-12)
    for i, score in second[3]:
        want = float(np.dot(rows[i]["features"], second[2]) + 0.05 * rows[i]["bias"])
        assert score == pytest.approx(want, abs=1e-12)


def test_serving_snapshot_job_counts(spark, tmp_path):
    """A steady-state request (snapshot and rater cut held) runs exactly
    one Spark job, the collect of its history; collecting the top-N
    frame runs none."""
    from recommender_systems_spark.ml.foldin import (
        fold_in_bias_and_trait_vector,
        top_n_recommendations,
    )

    sc = spark.sparkContext
    items = _snapshot_model(spark, str(tmp_path / "f"), seed=3)
    ratings = _snapshot_ratings(spark)
    _serve(spark, items, ratings, _HISTORY)  # builds the snapshot and the cut

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def request():
        hist = spark.createDataFrame(_HISTORY, "i long, r double")
        _, _, u = fold_in_bias_and_trait_vector(hist, "i", "r", items, dim=4)
        return top_n_recommendations(u, items, ratings, "i", n=10, remove_items_limit=3)

    top, n_request = jobs("snapshot-request", request)
    rows, n_collect = jobs("snapshot-collect", top.collect)
    assert (n_request, n_collect) == (1, 0)
    assert len(rows) == 10


def test_mllib_als_wrapper(spark):
    """M2/M3 fast path smoke: MLlib blocked ALS trains and returns
    MLlib-shaped factor DataFrames."""
    from recommender_systems_spark.ml.als import mllib_als

    r = _ratings(spark, SF_SMALL).withColumn("u", F.col("u").cast("int")).withColumn(
        "i", F.col("i").cast("int")
    )
    uf, vf = mllib_als(r, "u", "i", "r", rank=4, max_iter=2, seed=1)
    assert {"id", "features"} <= set(uf.columns)
    assert uf.count() > 0 and vf.count() > 0


def test_ials_objective_decreases(spark):
    """Exact alternating minimisation ⇒ the confidence-weighted
    objective strictly decreases across full iterations, and a tiny
    hand case solves to the ridge optimum."""
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.ml.ials import ials_objective, train_ials
    from tests.conftest import SF_SMALL

    r = load_table(spark, SF_SMALL, "lineitem").select(
        F.col("l_suppkey").alias("uid"),
        F.col("l_partkey").alias("iid"),
        F.col("l_quantity").cast("double").alias("r"),
    )
    uf, vf, hist = train_ials(r, "uid", "iid", "r", rank=4, max_iter=3)
    assert len(hist) == 3
    assert hist[0] > hist[1] > hist[2]
    # The recorded trajectory is the real objective, not a proxy.
    recomputed = ials_objective(r, "uid", "iid", "r", uf, vf, 4)
    assert abs(recomputed - hist[-1]) / abs(hist[-1]) < 1e-9


def test_mllib_als_matches_bias_als_at_sf1(spark):
    """VERDICT r9 item 7: the reference's headline claim is 25M-scale
    ALS (BASELINE.md), and the tiled sf1 set (~6M ratings) is the
    closest local analogue — so the MLlib blocked fast path and the
    exact-reference bias-ALS trainer must land in the same RMSE
    regime THERE, not just at sf0.01. Both train rank 8 for 2
    iterations on lineitem-as-ratings; we assert (1) each beats the
    predict-the-mean baseline (absolute quality at scale) and (2) the
    two final RMSEs agree within 30% (the models share the
    normal-equation core but differ in bias terms and regularisation
    scaling, so trajectory-level agreement — same regime, same
    descent — is the meaningful invariant, not equality)."""
    import os

    from recommender_systems_spark.ml.als import mllib_als, rmse, train_als_bias

    sf1 = os.path.join(os.path.dirname(__file__), "..", ".data_cache", "sf1")
    sf1 = os.path.abspath(sf1)
    if not os.path.exists(os.path.join(sf1, "lineitem.parquet")):
        pytest.skip("sf1 tiling not generated (tools/gen_sf1.py)")

    r = _ratings(spark, sf1).localCheckpoint()
    sd = float(r.agg(F.stddev("r").alias("sd")).collect()[0]["sd"])

    model = train_als_bias(r, "u", "i", "r", rank=8, max_iter=2, tol=0.0, seed=42)
    bias_rmse = model.rmse_history[-1]

    ri = r.select(
        F.col("u").cast("int").alias("u"),
        F.col("i").cast("int").alias("i"),
        F.col("r").cast("float").alias("r"),
    )
    uf, vf = mllib_als(ri, "u", "i", "r", rank=8, max_iter=2, seed=42)
    zb = F.lit(0.0).alias("bias")
    m_rmse = rmse(
        r, "u", "i", "r",
        uf.select("id", "features", zb), vf.select("id", "features", zb),
    )

    assert bias_rmse < sd, f"bias-ALS sf1 RMSE {bias_rmse} not below σ {sd}"
    assert m_rmse < sd, f"MLlib sf1 RMSE {m_rmse} not below σ {sd}"
    assert abs(m_rmse - bias_rmse) / bias_rmse < 0.30, (
        f"sf1 RMSE regimes diverge: mllib={m_rmse} bias={bias_rmse}"
    )
