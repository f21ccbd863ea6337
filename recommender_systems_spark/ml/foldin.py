"""Cold-start fold-in + top-N serving (SURVEY §2.7 M11-M13).

The reference serves recommendations to NEW users (the A/B harness,
ab_test.py:134-186) by folding their rating history into the trained
model without retraining. Three stages:

1. M11 ``find_user_bias`` (functions.py:522-548): with u=0,
   b_u = λ Σ(r − b_n) / (α + λ|hist|) — a single aggregation.
2. M12 ``find_user_trait_vector`` (functions.py:551-596): one ridge
   solve u = (λΣv vᵀ + τI)⁻¹ λΣ(r − b_n − b_u)v over the history.
   M11+M12 together are ONE bias-ALS user update with a zero prior
   vector: ``fold_in_bias_and_trait_vector`` feeds the history's sums
   to ``als.bias_ridge_step`` at u_prev = 0, the same function every
   ALS half-sweep calls. k=12 ⇒ the k×k system is solved on the driver
   (SURVEY: correct design, not a cop-out); the Σ assembly is
   distributed.
3. M13 ``top_n_recommendations`` (functions.py:599-647): score the full
   catalogue u·v_n + 0.05·b_n, drop rarely-rated items (P6/P7), top-N.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recommender_systems_spark.functions.vector import dot_product
from recommender_systems_spark.ml.als import (
    DEFAULT_ALPHA,
    DEFAULT_LMD,
    DEFAULT_TAU,
    bias_ridge_step,
    spd_solve,
)
from recommender_systems_spark.operators.relational import anti_join_below_threshold


def fold_in_bias(
    history: DataFrame,
    item_col: str,
    rating_col: str,
    item_factors: DataFrame,
    lmd: float = DEFAULT_LMD,
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """M11: one-row DataFrame (user_bias, n_history). The history⋈bias
    join broadcasts the item-factor side when dimension-sized; the agg
    is a single partial+final reduction."""
    joined = history.join(
        item_factors.select(F.col("id").alias(item_col), F.col("bias").alias("__bn")),
        item_col,
    )
    return joined.agg(
        (
            F.lit(lmd)
            * F.sum(F.col(rating_col) - F.col("__bn"))
            / (F.lit(alpha) + F.lit(lmd) * F.count(F.lit(1)))
        ).alias("user_bias"),
        F.count(F.lit(1)).alias("n_history"),
    )


def _history_sums(
    history: DataFrame,
    item_col: str,
    rating_col: str,
    item_factors: DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float, int]:
    """The sums ``als.bias_ridge_step`` takes, over one user's history
    with d = r − b_n: (VᵀV, Vᵀd, Σv, Σd, |hist|). ONE history⋈factors
    pass whose per-partition NumPy partials (mapInPandas) carry
    k²+2k+2 doubles each, so driver traffic is independent of history
    size and the inner products are BLAS, not per-element expressions;
    k is read back from the partial's length."""
    joined = history.join(
        item_factors.select(
            F.col("id").alias(item_col),
            F.col("features").alias("__v"),
            F.col("bias").alias("__bn"),
        ),
        item_col,
    ).select(
        F.col("__v").alias("v"),
        (F.col(rating_col) - F.col("__bn")).alias("d"),
    )

    def partials(batches):
        import pandas as pd  # noqa: PLC0415 (worker-side import)

        total = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf["v"].to_numpy())
            d = pdf["d"].to_numpy(dtype=np.float64)
            p = np.concatenate(
                [(v.T @ v).ravel(), v.T @ d, v.sum(axis=0), [d.sum(), len(d)]]
            )
            total = p if total is None else total + p
        if total is not None:
            yield pd.DataFrame({"p": [total.tolist()]})

    parts = joined.mapInPandas(partials, schema="p array<double>").collect()
    if not parts:
        raise ValueError("empty history")
    total = np.sum([np.asarray(r["p"]) for r in parts], axis=0)
    k = math.isqrt(len(total) - 1) - 1  # len = (k + 1)² + 1
    k2 = k * k
    return (
        total[:k2].reshape(k, k),
        total[k2 : k2 + k],
        total[k2 + k : k2 + 2 * k],
        float(total[-2]),
        int(total[-1]),
    )


def fold_in_trait_vector(
    history: DataFrame,
    item_col: str,
    rating_col: str,
    item_factors: DataFrame,
    user_bias: float,
    lmd: float = DEFAULT_LMD,
    tau: float = DEFAULT_TAU,
) -> np.ndarray:
    """M12 for a GIVEN user bias: u = (λΣv vᵀ + τI)⁻¹ λΣ(r−b_n−b_u)v,
    with the RHS expanded as λ(Vᵀd − b_u·Σv) over ``_history_sums``
    and one ``spd_solve`` on the driver."""
    vtv, vtd, sv, _, _ = _history_sums(history, item_col, rating_col, item_factors)
    return spd_solve(lmd * vtv + tau * np.eye(len(sv)), lmd * (vtd - user_bias * sv))


def fold_in_bias_and_trait_vector(
    history: DataFrame,
    item_col: str,
    rating_col: str,
    item_factors: DataFrame,
    lmd: float = DEFAULT_LMD,
    alpha: float = DEFAULT_ALPHA,
    tau: float = DEFAULT_TAU,
    dim: int = 12,
) -> tuple[float, int, np.ndarray]:
    """Fused M11+M12 in ONE Spark action: the history's sums
    (``_history_sums``) go through ``als.bias_ridge_step`` with a zero
    prior vector — the bias-ALS user update a trained user gets, for a
    user the model has never seen (b_u = λΣ(r−b_n)/(α+λ|hist|), then
    the ridge solve on λ(Σ(r−b_n)v − b_u·Σv)). Equal to that user's
    ``als_half_sweep`` row with a zero self vector to fp-association
    slack. Returns (user_bias, n_history, vector)."""
    vtv, vtd, sv, sd, n = _history_sums(history, item_col, rating_col, item_factors)
    user_bias, vec = bias_ridge_step(
        vtv, vtd, sv, sd, n, np.zeros(dim), lmd, tau, alpha
    )
    return user_bias, n, vec


def top_n_recommendations(
    user_vector: np.ndarray | list[float],
    item_factors: DataFrame,
    ratings: DataFrame,
    item_col: str,
    n: int = 20,
    remove_items_limit: int = 90,
    bias_weight: float = 0.05,
) -> DataFrame:
    """M13+P6+P7+W3: score = u·v_n + 0.05·b_n over the full catalogue,
    exclude items rated by fewer than ``remove_items_limit`` users, top-N
    (functions.py:599-647). The user vector is a literal array column
    (broadcast by value); top-N is TakeOrderedAndProject."""
    uv = F.array(*[F.lit(float(x)) for x in np.asarray(user_vector)])
    scored = item_factors.select(
        F.col("id").alias(item_col),
        (dot_product(uv, F.col("features")) + F.lit(bias_weight) * F.col("bias")).alias(
            "score"
        ),
    )
    kept = anti_join_below_threshold(
        scored, item_col, remove_items_limit, count_df=ratings.groupBy(item_col).count()
    )
    return kept.orderBy(F.col("score").desc(), F.col(item_col)).limit(n)
