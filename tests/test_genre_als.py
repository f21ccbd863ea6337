"""Genre-coupled ALS golden tests: the driver F-update must match an
independent NumPy transcription of the reference's sequential loop
(incl_genre.py:199-219), and training must still descend."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

TAU, BETA = 0.01, 0.01


def test_update_genre_features_matches_reference_loop():
    """Feed hand-built A/B/C stats and check against a direct
    transcription of the reference's in-place per-genre update."""
    from recommender_systems_spark.ml.genre_als import update_genre_features

    rng = np.random.default_rng(3)
    g, k = 4, 3
    f0 = rng.normal(size=(g, k))
    a = rng.normal(size=(g, k))
    b = rng.uniform(0.5, 2.0, size=g)
    c = rng.uniform(0.0, 1.0, size=(g, g))
    c = (c + c.T) / 2

    out = update_genre_features(f0, a, b, c, TAU, BETA)

    # Independent sequential reimplementation.
    f_ref = f0.copy()
    for key in range(g):
        cross = sum(c[key, f] * f_ref[f] for f in range(g) if f != key)
        f_ref[key] = TAU * (a[key] - cross) / (BETA + TAU * b[key])
    np.testing.assert_allclose(out, f_ref, atol=1e-12)


def test_genre_stats_pass(spark):
    """A/B/C stats from the distributed pass must equal a pandas
    recomputation on the same small fixture."""
    from recommender_systems_spark.ml.genre_als import (
        genre_a_stats,
        genre_weight_grid,
    )

    factors = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.5, -1.0]), (3, [3.0, 0.0])],
        "id long, features array<double>",
    )
    genres = spark.createDataFrame(
        [(1, [0, 1], 2), (2, [1], 1), (3, [0, 2], 2)],
        "item long, genre_values array<int>, genre_count int",
    )
    a = genre_a_stats(factors, genres, 3, 2)
    b, c = genre_weight_grid(genres, 3)
    s2 = np.sqrt(2.0)
    np.testing.assert_allclose(
        a[0], np.array([1.0, 2.0]) / s2 + np.array([3.0, 0.0]) / s2, atol=1e-12
    )
    np.testing.assert_allclose(b, [0.5 + 0.5, 0.5 + 1.0, 0.5], atol=1e-12)
    # C[0,2]: items in genre 0 that also carry genre 2 -> item 3, 1/c=0.5
    assert c[0, 2] == 0.5 and c[2, 0] == 0.5
    assert c[1, 1] == 1.5  # item1 (0.5) + item2 (1.0)


def test_genre_als_descends(spark):
    from recommender_systems_spark.ml.genre_als import train_als_genre

    r = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select(
            F.col("l_suppkey").alias("u"),
            F.col("l_partkey").alias("i"),
            F.col("l_quantity").cast("double").alias("r"),
        )
    )
    part = spark.read.parquet(f"{SF_SMALL}/part.parquet")
    from recommender_systems_spark.queries.genre import GENRE_IDS

    names = F.split(F.col("p_name"), " ")
    mapping = F.create_map(
        *[x for w, i in GENRE_IDS.items() for x in (F.lit(w), F.lit(i))]
    )
    genres = part.select(
        F.col("p_partkey").alias("item"),
        F.transform(names, lambda x: F.element_at(mapping, x)).alias("genre_values"),
        F.size(names).alias("genre_count"),
    )
    model, f_state = train_als_genre(
        r, genres, "u", "i", "r", n_genres=16, rank=4, max_iter=2, seed=11
    )
    assert model.rmse_history[0] > model.rmse_history[-1]
    assert np.isfinite(f_state).all() and np.abs(f_state).sum() > 0


def test_genre_stats_unrated_item(spark):
    """Pin the item-set semantics (see genre_weight_grid docstring):
    an unrated genre item (no factor row) contributes its 1/|g_n|
    weight to B/C — matching the reference F-update's denominator,
    which iterates the full genre table — but nothing to A (missing
    factor rows act as zero vectors)."""
    from recommender_systems_spark.ml.genre_als import (
        genre_a_stats,
        genre_weight_grid,
    )

    factors = spark.createDataFrame(
        [(1, [1.0, 2.0])], "id long, features array<double>"
    )
    genres = spark.createDataFrame(
        # item 9 carries genres {0, 1} but has NO factor row.
        [(1, [0], 1), (9, [0, 1], 2)],
        "item long, genre_values array<int>, genre_count int",
    )
    a = genre_a_stats(factors, genres, 2, 2)
    b, c = genre_weight_grid(genres, 2)
    # A: only the rated item 1 contributes (sqrt(1) scale).
    np.testing.assert_allclose(a, [[1.0, 2.0], [0.0, 0.0]], atol=1e-12)
    # B/C: item 9 contributes 1/2 to both its genres and their cross.
    np.testing.assert_allclose(b, [1.0 + 0.5, 0.5], atol=1e-12)
    assert c[0, 1] == 0.5 and c[1, 0] == 0.5


def test_genre_train_unrated_item_feeds_a_term(spark):
    """train_als_genre closes the reference gap for UNRATED genre
    items (incl_genre.py:95-105 carries V rows for every genre item):
    each sweep's A-stats input must contain the unrated item's
    closed-form zero-ratings solve v = Σ_g F[g]/√|g|. Captures the
    frame passed to genre_a_stats and checks the unrated row appears
    with exactly that value once the feature matrix is non-zero."""
    from unittest import mock

    from recommender_systems_spark.ml import genre_als

    r = spark.createDataFrame(
        [(0, 1, 4.0), (1, 1, 2.0), (0, 2, 3.0), (1, 2, 5.0)],
        "u long, i long, r double",
    )
    genres = spark.createDataFrame(
        # item 9 carries genres {0, 1} but is never rated.
        [(1, [0], 1), (2, [1], 1), (9, [0, 1], 2)],
        "item long, genre_values array<int>, genre_count int",
    )
    seen = []
    real = genre_als.genre_a_stats

    def spy(item_factors, g, n_genres, rank):
        seen.append({row["id"]: list(row["features"])
                     for row in item_factors.collect()})
        return real(item_factors, g, n_genres, rank)

    with mock.patch.object(genre_als, "genre_a_stats", side_effect=spy):
        _, f_state = genre_als.train_als_genre(
            r, genres, "u", "i", "r", n_genres=2, rank=3, max_iter=2,
            seed=3,
        )
    assert len(seen) == 2
    # Iteration 1: F starts at zeros, so the unrated solve is the zero
    # vector — present, contributing nothing (matches the old rated-
    # only A exactly).
    assert seen[0][9] == [0.0, 0.0, 0.0]
    # Iteration 2: F is non-zero; the unrated row must equal
    # (f_0 + f_1)/sqrt(2) computed from the feature state the sweep
    # read (reconstruct it from iteration 1's A-stats input).
    a1 = real(
        spark.createDataFrame(
            [(i, v) for i, v in seen[0].items()],
            "id long, features array<double>",
        ),
        genres, 2, 3,
    )
    b_vec, c_mat = genre_als.genre_weight_grid(genres, 2)
    f1 = genre_als.update_genre_features(
        np.zeros((2, 3)), a1, b_vec, c_mat,
        genre_als.DEFAULT_TAU, genre_als.DEFAULT_BETA,
    )
    expect = (f1[0] + f1[1]) / np.sqrt(2.0)
    np.testing.assert_allclose(seen[1][9], expect, rtol=1e-9)
    assert np.isfinite(f_state).all()
