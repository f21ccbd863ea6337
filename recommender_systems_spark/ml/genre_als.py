"""Genre-coupled ALS (SURVEY §2.7 M5 + genre variants of M2/M3/A10;
reference explicit_ratings/incl_genre.py).

The genre model ties each item vector to the sum of its genres' feature
vectors: the item solve gains an RHS pull term
(τ/√|g_n|)·Σ_{g∈g_n} f_g (incl_genre.py:185-193), and after each
item sweep the 20-genre feature matrix F is re-solved
(incl_genre.py:199-219):

    f_g = τ Σ_{n∈g} (v_n − Σ_{f∈g_n, f≠g} f_f / √|g_n|) / √|g_n|
          / (β + τ Σ_{n∈g} 1/|g_n|)

Spark-first split: F is tiny (G×k ≈ 16×64 doubles) and the update is
SEQUENTIAL over genres (each f_g uses the already-updated earlier
genres, exactly like the reference's in-place loop) — so F lives on
the driver, while everything that touches the ITEM dimension is
distributed and collapses into three tiny aggregates:

    A_g   = Σ_{n∈g} v_n/√c_n              (G×k)
    B_g   = Σ_{n∈g} 1/c_n                 (G)
    C_g,f = Σ_{n∈g, f∈g_n} 1/c_n          (G×G)

after which numerator_g = τ·(A_g − Σ_{f≠g} C_g,f·f_f) and the
sequential driver loop is O(G²k) — microseconds. One distributed pass
per sweep, G²+Gk+G floats to the driver, regardless of item count.

Note: the reference's ITEM-BIAS accumulator has a bug (incl_genre.py
:164-169 assigns instead of summing, so only the last rating
contributes); we implement the mathematically intended sum, matching
the user-side update it mirrors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recommender_systems_spark.io import materialize, materialize_now
from recommender_systems_spark.ml.als import (
    DEFAULT_ALPHA,
    DEFAULT_LMD,
    DEFAULT_RANK,
    DEFAULT_TAU,
    AlsBiasModel,
    als_half_sweep,
    init_factors,
)

DEFAULT_BETA = 0.01  # genre-feature regulariser (incl_genre.py)


def genre_pull(genres: DataFrame, f_state: np.ndarray, tau: float) -> DataFrame:
    """(id, pull) with pull = (τ/√c_n)·Σ_{g∈g_n} f_g — the RHS term for
    the item half-sweep. F is broadcast as a literal nested array (G×k
    = 128 doubles — constant-sized at any data scale); the per-item sum
    is a map-side fold over ≤|g_n| genres, no exchange. (A data-driven
    explode→join→groupBy variant was measured ~1 s/iteration SLOWER at
    sf0.1: the per-sweep literal recompile costs less than the extra
    item-keyed shuffle it would avoid.)"""
    g, k = f_state.shape
    # NOTE: on classic PySpark 4.1.2, F.lit(nested list) expands
    # recursively to array(*[lit(x)...]) (builtin.py:268) — the same
    # CreateArray tree either spelling builds, so this form is for
    # readability, not plan-cost savings (ADVICE r12 corrected the
    # earlier ~2× claim). The G×k literal is genre-count-sized, tiny.
    f_lit = F.lit([[float(x) for x in row] for row in f_state])
    zeros = F.lit([0.0] * k)
    summed = F.aggregate(
        F.col("genre_values"),
        zeros,
        lambda acc, gv: F.zip_with(
            acc, F.element_at(f_lit, gv + 1), lambda a, b: a + b
        ),
    )
    scale = F.lit(tau) / F.sqrt(F.col("genre_count").cast("double"))
    return genres.select(
        F.col("item").cast("long").alias("id"),
        F.transform(summed, lambda x: x * scale).alias("pull"),
    )


def genre_weight_grid(
    genres: DataFrame, n_genres: int
) -> tuple[np.ndarray, np.ndarray]:
    """The B (G) and C (G×G) aggregates: Σ_items 1/|g_n| over genre
    co-membership. These depend ONLY on the static genre dimension —
    never on the factors — so a training run computes them ONCE, not
    once per sweep (the double-explode to (g, f) granularity, the
    expensive part of the old fused stats pass, leaves the per-sweep
    loop entirely).

    Item-set semantics (pinned by test_genre_stats_unrated_item): B/C
    cover the FULL genre table, matching the reference's F-update
    denominator (incl_genre.py:202-212 iterates genre_dict — every
    genre movie, rated or not). At THIS level a genre item with no factor
    row contributes its 1/|g_n| weight to B/C but nothing to A
    (``genre_a_stats`` inner-joins factors — missing rows act as zero
    vectors in the A numerator). ``train_als_genre`` closes the gap
    with the reference (which carries V rows for every genre item,
    incl_genre.py:95-105, so each contributes a vector to its A-term)
    by unioning every unrated genre item's closed-form zero-ratings
    solve v = Σ_g F[g]/√|g| into the A-stats input per sweep
    (see the ``unrated`` frame there). Callers
    wanting rated-only B/C must semi-join ``genres`` on the rated-item
    ids BEFORE calling."""
    pairs = genres.select(
        F.explode("genre_values").alias("g"),
        "genre_values",
        (1.0 / F.col("genre_count").cast("double")).alias("ic"),
    ).select("g", F.explode("genre_values").alias("f"), "ic")
    rows = pairs.groupBy("g", "f").agg(F.sum("ic").alias("w")).collect()
    b_vec = np.zeros(n_genres)
    c_mat = np.zeros((n_genres, n_genres))
    for r in rows:
        g, f = int(r["g"]), int(r["f"])
        c_mat[g, f] = r["w"]
        if g == f:
            b_vec[g] = r["w"]
    return b_vec, c_mat


def genre_a_stats(
    item_factors: DataFrame, genres: DataFrame, n_genres: int, rank: int
) -> np.ndarray:
    """The per-sweep A (G×k) aggregate — the ONLY factor-dependent
    genre statistic: Σ_items v_n/√|g_n| per containing genre. A single
    explode to (g, item) granularity + one groupBy(g) with k sums — G·k
    result rows regardless of item count (no (g, f) grid here; B/C come
    from ``genre_weight_grid`` once per run)."""
    base = genres.select(
        F.col("item").cast("long").alias("id"),
        "genre_values",
        F.sqrt(F.col("genre_count").cast("double")).alias("sc"),
    ).join(item_factors.select("id", "features"), "id")
    rows = (
        base.select(F.explode("genre_values").alias("g"), "sc", "features")
        .groupBy("g")
        .agg(
            *[
                F.sum(F.element_at("features", i + 1) / F.col("sc")).alias(
                    f"a_{i}"
                )
                for i in range(rank)
            ]
        )
        .collect()
    )
    a_mat = np.zeros((n_genres, rank))
    for r in rows:
        a_mat[int(r["g"])] = [r[f"a_{i}"] for i in range(rank)]
    return a_mat


def update_genre_features(
    f_state: np.ndarray,
    a_mat: np.ndarray,
    b_vec: np.ndarray,
    c_mat: np.ndarray,
    tau: float,
    beta: float,
) -> np.ndarray:
    """The reference's sequential per-genre solve (incl_genre.py:199-219)
    on the collected aggregates: each genre sees the already-updated
    values of earlier genres, exactly like the in-place NumPy loop."""
    f_new = f_state.copy()
    g = f_state.shape[0]
    for key in range(g):
        cross = c_mat[key] @ f_new - c_mat[key, key] * f_new[key]
        numerator = tau * (a_mat[key] - cross)
        denominator = beta + tau * b_vec[key]
        f_new[key] = numerator / denominator
    return f_new


def _sse_rmse(factors: DataFrame) -> float:
    """√(Σsse/Σn) over a factor frame carrying fused residual stats
    (``als_half_sweep(with_sse=True)``) — identical to
    ``als.rmse(ratings, …)`` on the same fresh factors, without the
    ratings-sized scoring join."""
    row = factors.agg(
        F.sqrt(F.sum("sse") / F.sum("n")).alias("rmse")
    ).collect()[0]
    return float(row["rmse"])


def train_als_genre(
    ratings: DataFrame,
    genres: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    n_genres: int,
    rank: int = DEFAULT_RANK,
    lmd: float = DEFAULT_LMD,
    tau: float = DEFAULT_TAU,
    alpha: float = DEFAULT_ALPHA,
    beta: float = DEFAULT_BETA,
    max_iter: int = 10,
    seed: int = 42,
) -> tuple[AlsBiasModel, np.ndarray]:
    """The incl_genre.py training loop: user half-sweep (plain), item
    half-sweep with the genre pull in the RHS, then the driver F solve
    from one distributed stats pass. ``genres`` is
    (item, genre_values array<int>, genre_count int).

    Monitoring cost: per-iteration RMSE jobs run on a background
    thread over the iteration's CHECKPOINTED (immutable) factor
    snapshots, so they overlap the next iteration's sweeps instead of
    sitting on the critical path; only the final iteration's RMSE is
    awaited serially."""
    # Lazy checkpoints (train_als_bias pattern): the run-level frames
    # materialise inside the first job that needs them instead of
    # paying four up-front actions; genres materialises in the
    # genre_weight_grid collect below.
    r = ratings.select(
        F.col(user_col).cast("long").alias("u"),
        F.col(item_col).cast("long").alias("i"),
        F.col(rating_col).cast("double").alias("r"),
    ).transform(materialize)
    u_f = init_factors(
        r.select("u").distinct(), "u", rank, seed
    ).transform(materialize)
    v_f = init_factors(
        r.select("i").distinct(), "i", rank, seed + 1
    ).transform(materialize)
    f_state = np.zeros((n_genres, rank))
    # B/C genre co-membership weights are factor-independent: one
    # distributed pass per RUN, and not needed until the FIRST F-solve
    # — so it runs on the monitor thread concurrently with iteration
    # 1's sweeps (genres is materialised below before that thread
    # starts).
    b_vec = c_mat = None

    from concurrent.futures import ThreadPoolExecutor

    monitor = ThreadPoolExecutor(max_workers=1)
    # Plan-pipelining thread (round-13): the USER half-sweep's plan is
    # factor-VALUE-independent (only the pull term bakes in f_state),
    # so its DataFrame + lazy-checkpoint RDD conversion (~0.7 s of
    # driver-side Catalyst at sf0.1) can be built off the critical
    # path: iteration 0's during the genres checkpoint below,
    # iteration N+1's WHILE iteration N's A-stats collect keeps the
    # cluster busy. Plan construction never computes data, so racing an
    # in-flight job is safe; results are consumed strictly via
    # .result().
    prebuild = ThreadPoolExecutor(max_workers=1)

    def build_user_sweep(uf, vf):
        return als_half_sweep(
            r, "u", "i", "r", uf, vf, lmd, tau, alpha
        ).transform(materialize)

    next_u_fut = prebuild.submit(build_user_sweep, u_f, v_f)
    # Three consumers per iteration (pull, A/B stats, C stats) re-derive
    # the genre parse otherwise — materialise the small dimension once,
    # now: the weight-grid collect below reads it on a background thread
    # concurrently with iteration 1's sweeps.
    genres = materialize_now(genres)
    # Unrated genre items: the reference carries V rows for EVERY item
    # in the genre table (incl_genre.py:95-105), so its F-update's A
    # numerator reads a vector for each of them. An item with no
    # ratings has an empty ratings term, so its solve collapses to the
    # closed form (τ·I)·v = pull  ⇒  v = Σ_g F[g]/√|g| — a pure
    # function of the current feature matrix, recomputed per sweep
    # below and unioned into the A-stats input (never into the user
    # sweep or RMSE, which only ever touch rated pairs). Empty when
    # every genre item is rated — then this run is bit-identical to
    # the rated-only form.
    unrated = (
        genres.select(F.col("item").cast("long").alias("id"))
        .join(
            r.select(F.col("i").alias("id")).distinct(), "id", "left_anti"
        )
        .transform(materialize)
    )

    rmse_futures = []
    try:
        grid_future = monitor.submit(genre_weight_grid, genres, n_genres)
        for it in range(max_iter):
            new_u = (
                next_u_fut.result()
                if next_u_fut is not None
                else build_user_sweep(u_f, v_f)
            )
            pull = genre_pull(genres, f_state, tau)
            # The A-stats collect below is the iteration's ONE action —
            # it materialises new_u and new_v inside its own job. The
            # background RMSE monitor is submitted strictly AFTER that
            # collect returns, so it only reads materialised snapshots.
            # with_sse: the item solve emits per-item residual stats
            # computed with the fresh vectors (als._solve_bucket), so
            # the RMSE monitor below is a tiny aggregate over this
            # checkpointed frame — no separate ratings-sized scoring
            # join per iteration (round-13; the rmse() job was the one
            # remaining data pass outside the sweeps).
            new_v = als_half_sweep(
                r, "i", "u", "r", v_f, new_u, lmd, tau, alpha,
                rhs_pull=pull, with_sse=True,
            ).transform(materialize)
            u_f, v_f = new_u, new_v
            # Kick off iteration N+1's user-sweep plan build now — it
            # overlaps the A-stats collect below (see `prebuild`).
            next_u_fut = (
                prebuild.submit(build_user_sweep, new_u, new_v)
                if it + 1 < max_iter
                else None
            )
            # pull carries τ/√|g|·Σ F — divide by τ for the
            # zero-ratings item solve (see `unrated` above).
            a_src = v_f.select("id", "features").unionByName(
                pull.join(unrated, "id", "left_semi").select(
                    "id",
                    F.transform("pull", lambda x: x / tau).alias("features"),
                )
            )
            a_mat = genre_a_stats(a_src, genres, n_genres, rank)
            if b_vec is None:
                b_vec, c_mat = grid_future.result()
            f_state = update_genre_features(f_state, a_mat, b_vec, c_mat, tau, beta)
            # v_f is already materialised (the A-stats collect above
            # ran its checkpoint), so this is a sub-0.1 s item-dimension
            # aggregate on the monitor thread.
            rmse_futures.append(monitor.submit(_sse_rmse, v_f))
        rmse_hist = [fut.result() for fut in rmse_futures]
    finally:
        monitor.shutdown(wait=True)
        prebuild.shutdown(wait=True)
    return (
        AlsBiasModel(u_f, v_f.drop("sse", "n"), rmse_hist, False),
        f_state,
    )
