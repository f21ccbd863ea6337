"""Cold-start fold-in + top-N serving (SURVEY §2.7 M11-M13).

The reference serves recommendations to NEW users (the A/B harness,
ab_test.py:134-186) by folding their rating history into the trained
model without retraining. Three stages:

1. M11 ``find_user_bias`` (functions.py:522-548): with u=0,
   b_u = λ Σ(r − b_n) / (α + λ|hist|) — a single aggregation of
   ``als.bias_update``, the expression the M4 bias sweeps aggregate.
2. M12 ``find_user_trait_vector`` (functions.py:551-596): one ridge
   solve u = (λΣv vᵀ + τI)⁻¹ λΣ(r − b_n − b_u)v over the history.
   M11+M12 together are ONE bias-ALS user update with a zero prior
   vector: ``fold_in_bias_and_trait_vector`` feeds the history's
   ``als.ridge_sums`` to ``als.bias_ridge_step`` at u_prev = 0, the
   same two functions every ALS half-sweep calls. k=12 ⇒ the k×k system is
   solved on the driver (SURVEY: correct design, not a cop-out).
3. M13 ``top_n_recommendations`` (functions.py:599-647): score the full
   catalogue u·v_n + 0.05·b_n, drop rarely-rated items (P6/P7), top-N.

Serving snapshot: the model does not change between requests, so a
factor frame that ``io.read_factors`` returned, of at most
``bpr.CATALOG_BROADCAST_THRESHOLD`` rows (parquet footers, no Spark
job), is served from a driver-side copy — sorted ids, V and b — held
per path and file stamps (``io.PathMemo``, one model at a time) with
the per-item rater counts of the last ``ratings`` frame. A request then
collects only its history: the sums come from ``ridge_sums``, the
solve from ``bias_ridge_step``, the ranking from ``bpr.rank_top_k``,
and the top-N returns as a local frame. Every other frame — derived
factor frames and larger catalogs — keeps the distributed path.
"""

from __future__ import annotations

import math
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recommender_systems_spark import io
from recommender_systems_spark.functions.vector import dot_product
from recommender_systems_spark.ml import bpr
from recommender_systems_spark.ml.als import (
    DEFAULT_ALPHA,
    DEFAULT_LMD,
    DEFAULT_TAU,
    bias_ridge_step,
    bias_update,
    ridge_sums,
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
        bias_update(F.col(rating_col) - F.col("__bn"), lmd, alpha).alias("user_bias"),
        F.count(F.lit(1)).alias("n_history"),
    )


def history_partial(v: np.ndarray, d: np.ndarray) -> np.ndarray:
    """``als.ridge_sums`` over history rows v with d = r − b_n as one
    flat additive partial: VᵀV, Vᵀd, Σv, Σd, n (k²+2k+2 doubles)."""
    vtv, vtd, sv, sd, n = ridge_sums(v, d)
    return np.concatenate([vtv.ravel(), vtd, sv, [sd, n]])


def _split_sums(
    total: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float, int]:
    """``ridge_sums``'s tuple from a summed ``history_partial``; k is read
    back from its length, (k + 1)² + 1."""
    k = math.isqrt(len(total) - 1) - 1
    k2 = k * k
    return (
        total[:k2].reshape(k, k),
        total[k2 : k2 + k],
        total[k2 + k : k2 + 2 * k],
        float(total[-2]),
        int(total[-1]),
    )


def _history_sums(
    history: DataFrame,
    item_col: str,
    rating_col: str,
    item_factors: DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float, int]:
    """The sums ``als.bias_ridge_step`` takes, over one user's history
    with d = r − b_n: (VᵀV, Vᵀd, Σv, Σd, |hist|). Served from the
    factor snapshot when there is one; otherwise ONE history⋈factors
    pass whose per-partition ``history_partial`` sums (mapInPandas)
    reach the driver, so driver traffic is independent of history
    size."""
    snap = _snapshot(item_factors)
    if snap is not None:
        return snap.history_sums(history, item_col, rating_col)
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
            p = history_partial(
                np.stack(pdf["v"].to_numpy()), pdf["d"].to_numpy(dtype=np.float64)
            )
            total = p if total is None else total + p
        if total is not None:
            yield pd.DataFrame({"p": [total.tolist()]})

    parts = joined.mapInPandas(partials, schema="p array<double>").collect()
    if not parts:
        raise ValueError("empty history")
    return _split_sums(np.sum([np.asarray(r["p"]) for r in parts], axis=0))


class _Snapshot:
    """A factor model held on the driver: ids sorted ascending (unique),
    V and b in the same order, and the catalog that passed the last
    rater cut."""

    def __init__(self, ids: np.ndarray, mat: np.ndarray, bias: np.ndarray) -> None:
        self.ids, self.mat, self.bias = ids, mat, bias
        self._cut: tuple = (None, None)  # (key, (ids, V, b)), swapped whole

    def rows(self, ids: np.ndarray) -> np.ndarray:
        """Snapshot row of each id, −1 where the model has no such item."""
        pos = np.searchsorted(self.ids, ids).clip(max=len(self.ids) - 1)
        return np.where(self.ids[pos] == ids, pos, -1)

    def history_sums(self, history: DataFrame, item_col: str, rating_col: str):
        """``_history_sums`` from ONE collect of the history; rows whose
        item the model lacks drop out, as in the join."""
        hist = [
            (r[0], r[1])
            for r in history.select(item_col, rating_col).collect()
            if r[0] is not None
        ]
        pos = self.rows(np.array([i for i, _ in hist], dtype=np.int64))
        hit = pos >= 0
        if not hit.any():
            raise ValueError("empty history")
        rating = np.array([r for _, r in hist], dtype=np.float64)[hit]
        return ridge_sums(self.mat[pos[hit]], rating - self.bias[pos[hit]])

    def kept(self, ratings: DataFrame, item_col: str, limit: int):
        """(ids, V, b) of the items not rated by fewer than ``limit`` users
        of ``ratings`` (items it never rates stay, as in the anti-join).
        Kept per ``ratings`` frame identity, item column and limit."""
        key = (weakref.ref(ratings), item_col, limit)
        held_key, held = self._cut
        if held_key != key:
            counts = [
                (r[0], r[1])
                for r in ratings.groupBy(item_col).count().collect()
                if r[0] is not None
            ]
            pos = self.rows(np.array([i for i, _ in counts], dtype=np.int64))
            n = np.array([c for _, c in counts], dtype=np.int64)
            keep = np.ones(len(self.ids), dtype=bool)
            keep[pos[(pos >= 0) & (n < limit)]] = False
            held = (self.ids[keep], self.mat[keep], self.bias[keep])
            self._cut = (key, held)
        return held


_SNAPSHOTS = io.PathMemo()


def _snapshot(item_factors: DataFrame) -> _Snapshot | None:
    """The driver-side snapshot serving ``item_factors``, or None when
    the frame keeps the Spark path: it did not come from
    ``io.read_factors``, its path is not local, its footers count more
    than ``bpr.CATALOG_BROADCAST_THRESHOLD`` rows, or its ids repeat."""
    path = io.factors_path(item_factors)
    if path is None:
        return None

    def build() -> _Snapshot | None:
        pdf = item_factors.select("id", "features", "bias").toPandas().sort_values("id")
        ids = pdf["id"].to_numpy(dtype=np.int64)
        if len(ids) == 0 or (np.diff(ids) == 0).any():
            return None
        return _Snapshot(
            ids,
            np.stack(pdf["features"].to_numpy()).astype(np.float64),
            pdf["bias"].to_numpy(dtype=np.float64),
        )

    try:
        if io.parquet_rows(path) > bpr.CATALOG_BROADCAST_THRESHOLD:
            return None
        return _SNAPSHOTS.get(path, build)
    except OSError:
        return None


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
    """Fused M11+M12 in ONE Spark action (from the factor snapshot, the
    history's collect): the history's sums (``_history_sums``) go
    through ``als.bias_ridge_step`` with a zero prior vector — the
    bias-ALS user update a trained user gets, for a user the model has
    never seen (b_u = λΣ(r−b_n)/(α+λ|hist|), then
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
    by (score desc, id asc) (functions.py:599-647).

    From the factor snapshot (module docstring): ``bpr.rank_top_k`` over
    the items past the cut (the rater counts are one Spark aggregate per
    model and ``ratings`` frame), returned as a local frame, so
    collecting it runs no Spark job. Otherwise the user vector is a
    literal array column, the cut a left-anti join against
    ``ratings.groupBy(item_col).count()``, and the top-N a
    TakeOrderedAndProject.

    Known limit: ``rank_top_k`` scores with BLAS, whose last bits differ
    from ``dot_product``'s sequential fold, so items whose scores tie
    exactly (or nearly) can come out in a different order on the two
    paths. A sequential k-loop in NumPy matches the fold bit for bit but
    is far slower than the GEMM; that cost decision is open (ROADMAP
    direction 3)."""
    snap = _snapshot(item_factors)
    if snap is not None:
        ids, mat, bias = snap.kept(ratings, item_col, remove_items_limit)
        _, top, scores, _ = bpr.rank_top_k(
            [np.asarray(user_vector, dtype=np.float64)], mat, ids, n, bias, bias_weight
        )
        schema = T.StructType(
            [T.StructField(item_col, T.LongType()), T.StructField("score", T.DoubleType())]
        )
        return item_factors.sparkSession.createDataFrame(
            pd.DataFrame({item_col: top, "score": scores}), schema
        )
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
