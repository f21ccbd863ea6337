"""Implicit-feedback ALS (Hu, Koren & Volinsky, "Collaborative
Filtering for Implicit Feedback Datasets", ICDM 2008) — the canonical
third trainer next to the reference's explicit bias-ALS
(explicit_ratings/prac_1.py) and BPR (implicit_feedback/prac_2.py).
The reference curates implicit feedback for BPR
(implicit_feedback/functions.py:278-325); iALS is the
confidence-weighted least-squares treatment of the SAME signal, and
the engine exposes both so a reference user can switch objectives
without leaving the API.

Model: every (user, item) pair has preference p = 1[observed] and
confidence c = 1 + α·r. Alternating ridge solves minimize

    L = Σ_{ALL u,i} c_ui (p_ui − x_u·y_i)² + λ(‖X‖² + ‖Y‖²)

The 100-TB trick is the paper's own: the normal matrix for user u is

    YᵀY + Yᵀ(C_u − I)Y + λI

where YᵀY is ONE k×k Gram shared by every user — computed once per
half-sweep from dimension-sized partials — and the (C_u − I) correction
touches only u's observed items. Per-user work is O(|Ω_u|·k² + k³),
independent of the catalog size; the unobserved majority is never
materialised.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recommender_systems_spark.io import materialize
from recommender_systems_spark.ml.als import SOLVE_BUCKETS, init_factors, spd_solve

IALS_ALPHA = 1.0   # confidence slope: c = 1 + α r
IALS_LMD = 0.1     # L2 regularisation
IALS_RANK = 8


def batch_gram(
    df: DataFrame, col: str, k: int, extra: str | None = None
) -> tuple[np.ndarray, float]:
    """XᵀX of the k-wide array column ``col`` as a k×k driver matrix,
    plus Σ ``extra`` (0.0 without one), from per-batch BLAS partials —
    each Arrow batch ships k² (+1) doubles regardless of row count (the
    k×k rule allows the driver hop), merged by one (i, j) aggregate.

    ONE Spark action that reads ``df`` exactly once, so a LAZY
    localCheckpoint upstream is materialised by this very collect with
    no double compute. ``extra`` (iALS's per-entity ``corr``) rides the
    same traversal as the (−1, −1) cell."""
    ii, jj = np.meshgrid(np.arange(k), np.arange(k), indexing="ij")
    cell_i, cell_j = ii.ravel(), jj.ravel()
    if extra is not None:
        cell_i, cell_j = np.append(cell_i, -1), np.append(cell_j, -1)

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[col]])
            s = (x.T @ x).ravel()
            if extra is not None:
                s = np.append(s, pdf[extra].to_numpy().sum())
            yield pd.DataFrame({"i": cell_i, "j": cell_j, "s": s})

    rows = (
        df.select(col, *([extra] if extra is not None else []))
        .mapInPandas(partial, "i int, j int, s double")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    g = np.zeros((k, k))
    total = 0.0
    for r in rows:
        if r["i"] < 0:
            total = float(r["s"])
        else:
            g[r["i"], r["j"]] = r["s"]
    return g, total


def _half_sweep(
    ratings: DataFrame,
    self_col: str,
    other_col: str,
    rating_col: str,
    other_factors: DataFrame,
    k: int,
    alpha: float,
    lmd: float,
    gram: np.ndarray,
    with_objective_stats: bool = False,
) -> DataFrame:
    """Re-solve every `self_col` entity against frozen other-side
    factors, given ``gram`` = Gram(other_factors). One join (ratings ⋈
    other factors), one bucketed applyInPandas; the shared Gram rides
    the closure (k² doubles). Each entity's system goes through
    ``als.spd_solve``; only its normal matrix differs from bias-ALS's.

    ``with_objective_stats=True`` (the fused-monitor item sweep) adds a
    ``corr`` column: each entity's observed-correction contribution
    Σ_obs [c·(1 − x·y)² − (x·y)²] evaluated with the FRESHLY solved
    vector — the solve already holds y (other-side features) and the
    confidence weights, so the term is a free GEMV per entity and the
    exact objective needs no separate ratings⋈factors pass (round-13:
    this is what took the iteration from 3 Spark actions to 2)."""
    data = ratings.select(
        F.col(self_col).cast("long").alias("id"),
        F.col(other_col).cast("long").alias("other_id"),
        F.col(rating_col).cast("double").alias("r"),
    ).join(
        other_factors.select(
            F.col("id").alias("other_id"), F.col("features").alias("of")
        ),
        "other_id",
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        out_ids, out_feat, out_corr = [], [], []
        y_all = np.stack(pdf["of"].to_numpy())
        r_all = pdf["r"].to_numpy(dtype=np.float64)
        lam_eye = lmd * np.eye(k)
        for eid, idx in pdf.groupby("id", sort=False).indices.items():
            y = y_all[idx]
            cm1 = alpha * r_all[idx]  # c − 1, observed rows only
            a_mat = gram + (y.T * cm1) @ y + lam_eye
            rhs = y.T @ (1.0 + cm1)  # Yᵀ C p, p = 1 on observed
            vec = spd_solve(a_mat, rhs)
            out_ids.append(int(eid))
            out_feat.append(vec.tolist())
            if with_objective_stats:
                s = y @ vec  # x·y over this entity's observed rows
                out_corr.append(
                    float((((1.0 + cm1) * (1.0 - s) ** 2) - s**2).sum())
                )
        cols = {"id": out_ids, "features": out_feat}
        if with_objective_stats:
            cols["corr"] = out_corr
        return pd.DataFrame(cols)

    schema = "id long, features array<double>"
    if with_objective_stats:
        schema += ", corr double"
    # NOT `bucketed`-pinned — same adjudication as als.als_half_sweep:
    # this sweep is Arrow-I/O-bound, AQE coalescing wins (pin measured
    # ~2× slower per phase at sf0.1, round-13 A/B).
    return (
        data.withColumn("__b", F.pmod(F.col("id"), F.lit(SOLVE_BUCKETS)))
        .groupBy("__b")
        .applyInPandas(solve, schema=schema)
    )


def ials_objective(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    user_factors: DataFrame,
    item_factors: DataFrame,
    k: int,
    alpha: float = IALS_ALPHA,
    lmd: float = IALS_LMD,
) -> float:
    """Exact confidence-weighted objective over ALL pairs — the
    independent reference for ``train_ials``'s fused per-iteration
    objective: it rescores the observed pairs with its own join
    instead of reading the solver's ``corr`` column.

    The Gram identity does all the work: Σ_all (x·y)² =
    trace(XᵀX · YᵀY), and the regulariser norms are the two traces —
    so the whole background term needs only the two k×k Grams, plus
    the observed correction Σ_obs c(1−x·y)² − (x·y)². Three small
    Spark actions; never materialises M×N anything."""
    gram_x, _ = batch_gram(user_factors, "features", k)
    gram_y, _ = batch_gram(item_factors, "features", k)
    corr = (
        ratings.select(
            F.col(user_col).cast("long").alias("uid"),
            F.col(item_col).cast("long").alias("iid"),
            F.col(rating_col).cast("double").alias("r"),
        )
        .join(
            user_factors.select(F.col("id").alias("uid"), F.col("features").alias("xu")),
            "uid",
        )
        .join(
            item_factors.select(F.col("id").alias("iid"), F.col("features").alias("yi")),
            "iid",
        )
        .select(
            F.col("r"),
            F.aggregate(
                F.zip_with("xu", "yi", lambda a, b: a * b),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("s"),
        )
        .select(
            (
                (1.0 + F.lit(alpha) * F.col("r"))
                * (1.0 - F.col("s")) * (1.0 - F.col("s"))
                - F.col("s") * F.col("s")
            ).alias("contrib")
        )
        .agg(F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("s"))
        .collect()[0]["s"]
    )
    return float(
        np.trace(gram_x @ gram_y)
        + corr
        + lmd * (np.trace(gram_x) + np.trace(gram_y))
    )


def train_ials(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    rank: int = IALS_RANK,
    max_iter: int = 2,
    alpha: float = IALS_ALPHA,
    lmd: float = IALS_LMD,
    seed: int = 7,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Alternating confidence-weighted sweeps; returns (user factors,
    item factors, per-iteration objective trajectory). Each full
    iteration is two half-sweeps (users, then items); the exact
    objective rides the item sweep (see below), and its Gram(Y) is
    handed to the next iteration's user half-sweep, so monitoring adds
    no job of its own. Factor frames are localCheckpointed so lineage
    stays flat across sweeps (the train_als_bias pattern)."""
    users = ratings.select(
        F.col(user_col).cast("long").alias("id")
    ).distinct()
    items = ratings.select(
        F.col(item_col).cast("long").alias("id")
    ).distinct()
    # TWO Spark actions per iteration (round-13, was three): the
    # Gram(uf) collect (materialises the lazy user-side checkpoint and
    # feeds the item half-sweep's closure), and the fused
    # sweep+monitor collect — the item solve emits each entity's
    # observed-correction term alongside its fresh vector
    # (`with_objective_stats`), so `batch_gram`'s single traversal
    # of the lazily-checkpointed item factors yields Gram(vf) for the
    # next user sweep AND the exact objective via the Gram identity
    #     L = tr(Gx·Gy) + Σ corr + λ(tr Gx + tr Gy)
    # with no separate ratings⋈factors monitor pass at all. (A r12
    # experiment that split monitor work into extra data-sized jobs
    # measured 60% SLOWER — fusion into existing passes is the only
    # direction that pays.)
    uf = (
        init_factors(users, "id", rank, seed, scale=0.1)
        .drop("bias")
        .transform(materialize)
    )
    vf = (
        init_factors(items, "id", rank, seed + 1, scale=0.1)
        .drop("bias")
        .transform(materialize)
    )
    history: list[float] = []
    gram_v, _ = batch_gram(vf, "features", rank)  # materialises vf
    for _ in range(max_iter):
        uf = _half_sweep(
            ratings, user_col, item_col, rating_col, vf, rank, alpha, lmd,
            gram=gram_v,
        ).transform(materialize)
        gram_u, _ = batch_gram(uf, "features", rank)  # materialises uf
        vf = _half_sweep(
            ratings, item_col, user_col, rating_col, uf, rank, alpha, lmd,
            gram=gram_u, with_objective_stats=True,
        ).transform(materialize)
        # Single-read fused collect: materialises vf, returns Gram(vf)
        # + Σcorr; the exact objective is then pure driver arithmetic.
        gram_v, corr = batch_gram(vf, "features", rank, extra="corr")
        history.append(
            float(
                np.trace(gram_u @ gram_v)
                + corr
                + lmd * (np.trace(gram_u) + np.trace(gram_v))
            )
        )
        vf = vf.drop("corr")
    return uf, vf, history
