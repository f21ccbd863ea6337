"""Seeded input generators for the benchmark.

Everything the engine receives is made here from ``--seed``: the
MovieLens-shaped ratings and genre table (``train`` and ``serve``), the
cold-start request stream (``serve``), and the query order
(``analytics``). The same seed always yields the same inputs.

The ratings keep ML-25M's ratios: about 154 ratings per user, about
2.75 users per movie, Zipf-like movie popularity, ratings on the 10-point
scale (``rating_10`` = 2 x stars) and 20 genres with 1-3 per movie.
They carry a planted low-rank structure, so the trainers' objectives
fall and BPR beats a random ranking.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_GENRES = 20
RATINGS_PER_USER = 154
USERS_PER_MOVIE = 2.75
ZIPF_EXPONENT = 0.9
_PLANTED_RANK = 6


def shape_for(n_ratings: int) -> tuple[int, int]:
    """(users, movies) for a table of about ``n_ratings`` rows."""
    n_users = max(20, round(n_ratings / RATINGS_PER_USER))
    n_movies = max(40, round(n_users / USERS_PER_MOVIE))
    return n_users, n_movies


def movielens_like(seed: int, n_ratings: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return ``(ratings, genres)``.

    ``ratings`` is (userId, movieId, rating_10) with rating_10 in 1..10;
    ``genres`` is (movieId, genre_values list[int], genre_count int).
    """
    rng = np.random.default_rng(seed)
    n_users, n_movies = shape_for(n_ratings)
    # Per-user history length: lognormal around the ML-25M mean, at
    # least 20 ratings (MovieLens's own floor), at most the catalogue.
    raw = rng.lognormal(mean=0.0, sigma=0.6, size=n_users)
    counts = np.clip(
        np.round(raw / raw.mean() * RATINGS_PER_USER), 20, n_movies
    ).astype(np.int64)
    # Zipf popularity over a shuffled movie-id order; distinct movies
    # per user by the Gumbel top-k trick on log-popularity.
    popularity = 1.0 / np.arange(1, n_movies + 1) ** ZIPF_EXPONENT
    popularity = popularity[rng.permutation(n_movies)]
    keys = np.log(popularity)[None, :] + rng.gumbel(size=(n_users, n_movies))
    order = np.argsort(-keys, axis=1)
    users = np.repeat(np.arange(n_users), counts)
    movies = np.concatenate([order[u, : counts[u]] for u in range(n_users)])
    # Planted structure: ratings = global mean + biases + u.v + noise.
    u_vec = rng.normal(0.0, 0.6, size=(n_users, _PLANTED_RANK))
    v_vec = rng.normal(0.0, 0.6, size=(n_movies, _PLANTED_RANK))
    b_u = rng.normal(0.0, 0.8, size=n_users)
    b_v = rng.normal(0.0, 0.8, size=n_movies)
    score = (
        7.0
        + b_u[users]
        + b_v[movies]
        + np.einsum("ij,ij->i", u_vec[users], v_vec[movies])
        + rng.normal(0.0, 1.0, size=len(users))
    )
    rating = np.clip(np.round(score), 1, 10).astype(np.int64)
    ratings = pd.DataFrame(
        {"userId": users + 1, "movieId": movies + 1, "rating_10": rating}
    )
    # 1-3 genres per movie, genre popularity skewed like MovieLens
    # (Drama/Comedy common, Film-Noir rare).
    g_pop = 1.0 / np.arange(1, N_GENRES + 1)
    g_pop /= g_pop.sum()
    n_g = rng.choice([1, 2, 3], size=n_movies, p=[0.4, 0.4, 0.2])
    genre_values = [
        sorted(int(g) for g in rng.choice(N_GENRES, size=k, replace=False, p=g_pop))
        for k in n_g
    ]
    genres = pd.DataFrame(
        {
            "movieId": np.arange(1, n_movies + 1),
            "genre_values": genre_values,
            "genre_count": n_g.astype(np.int64),
        }
    )
    return ratings, genres


def cold_start_requests(
    seed: int, genres: pd.DataFrame, rater_counts: dict[int, int], n: int
) -> list[dict]:
    """``n`` simulated new users, as the reference's A/B harness builds
    them: a preferred genre pair and 5-10 rated movies, mostly of those
    genres and rated high, plus up to two others rated low. Only movies
    the trained model knows (``rater_counts`` keys) are drawn."""
    rng = np.random.default_rng(seed + 1_000_003)
    known = genres[genres["movieId"].isin(list(rater_counts))]
    by_genre: dict[int, list[int]] = {g: [] for g in range(N_GENRES)}
    for mid, gv in zip(known["movieId"], known["genre_values"]):
        for g in gv:
            by_genre[int(g)].append(int(mid))
    # Preferred genres need a few movies each; tiny catalogues fall back
    # to their two largest genres.
    usable = [g for g, ms in by_genre.items() if len(ms) >= 10]
    if len(usable) < 2:
        usable = sorted(by_genre, key=lambda g: -len(by_genre[g]))[:2]
    all_movies = np.array(sorted(rater_counts))
    out = []
    for _ in range(n):
        pair = rng.choice(usable, size=2, replace=False)
        liked_pool = sorted(set(by_genre[int(pair[0])]) | set(by_genre[int(pair[1])]))
        n_hist = int(rng.integers(5, 11))
        n_liked = min(len(liked_pool), max(3, n_hist - int(rng.integers(0, 3))))
        liked = rng.choice(liked_pool, size=n_liked, replace=False)
        rest = np.setdiff1d(all_movies, liked)
        other = rng.choice(rest, size=n_hist - n_liked, replace=False)
        hist = [(int(m), float(rng.integers(8, 11))) for m in liked]
        hist += [(int(m), float(rng.integers(1, 5))) for m in other]
        out.append({"genres": [int(g) for g in pair], "history": hist})
    return out


def shuffled(seed: int, names: list[str]) -> list[str]:
    """The analytics query order for this seed."""
    rng = np.random.default_rng(seed + 2_000_003)
    return [names[i] for i in rng.permutation(len(names))]
