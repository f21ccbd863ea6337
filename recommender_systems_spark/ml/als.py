"""Bias-augmented alternating least squares (SURVEY §2.7 M2-M6, §2.8 E8).

The reference trains matrix factorisation with per-user/per-movie bias
terms by looping over users and movies in Python, solving a k×k ridge
system per entity with a Cholesky factorisation
(explicit_ratings/prac_1.py:62-135, functions.py:283-439). The model:

    r_mn ≈ u_m · v_n + b_m + b_n

with objective (functions.py:49-116):

    -(λ/2) Σ (r - (u·v + b_m + b_n))²
    -(τ/2)(‖U‖²_F + ‖V‖²_F) - (α/2)(‖b_m‖² + ‖b_n‖²)

Spark-first re-expression:

- Each half-sweep ("update every user" / "update every movie") becomes
  ONE distributed job: join ratings with the frozen side's factors
  (+bias), shuffle-group by the updated side's id, and solve the k×k
  normal equations per group inside ``applyInPandas`` (Arrow-batched
  NumPy/Cholesky — the per-entity solve is exactly the reference's math,
  the orchestration is Spark's).
- Monitoring (RMSE, plus the E8 max parameter delta when a tolerance is
  set) is one fused aggregation over the sweeps' own output — no data
  leaves the cluster; the driver sees one row per iteration.
- ``localCheckpoint`` per iteration cuts lineage growth, the standard
  Spark pattern for iterative algorithms (SURVEY §4.3).

Scale notes: the per-sweep shuffle is keyed on the entity id (same key
distribution as MLlib ALS's in/out blocks). The frozen side's factors
join is a shuffle hash join at 100 TB (both sides large) or a broadcast
when the entity count is dimension-sized; AQE decides. Skewed "power
users" land in one Arrow batch each — fine, a group is |Ω_m| rows × k
doubles.

``mllib_als`` exposes Spark's built-in blocked ALS (no biases) as the
big-data fast path for M2/M3.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from recommender_systems_spark.functions.vector import dot_product
from recommender_systems_spark.io import materialize

# Reference hyperparameters (prac_1.py:35-39).
DEFAULT_LMD = 0.1
DEFAULT_TAU = 0.01
DEFAULT_ALPHA = 0.01
DEFAULT_RANK = 12

_FACTOR_SCHEMA = "id long, features array<double>, bias double"


def init_factors(
    ids: DataFrame, id_col: str, k: int, seed: int, scale: float | None = None
) -> DataFrame:
    """M6: random factor init, N(0, (5/√k)²) like prac_1.py:41-46, with
    zero biases. ``randn(seed+i)`` per latent column — deterministic for
    a fixed partitioning, engine-local (the reference's NumPy stream is
    not reproducible cross-engine; SURVEY §7 fixes semantics, not bits).
    """
    scale = 5.0 / np.sqrt(k) if scale is None else scale
    cols = F.array(*[F.randn(seed + i) * F.lit(scale) for i in range(k)])
    return ids.select(
        F.col(id_col).cast("long").alias("id"),
        cols.alias("features"),
        F.lit(0.0).alias("bias"),
    )


SOLVE_BUCKETS = 256


def bucketed(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """Pin the grouping shuffle's partition count for a CPU-heavy
    bucketed Arrow kernel. AQE's partition coalescing targets shuffle
    BYTES, and a trainer's bucket rows are tiny — at sf0.1 it collapsed
    the BPR epoch's 64 buckets onto 2 tasks, serialising the kernels
    (measured 7.7 → 2.0 s after pinning). The explicit hash repartition
    satisfies the downstream ClusteredDistribution requirement, so no
    second exchange is added; parallelism stays min(buckets, 2×default
    parallelism) — on a real cluster defaultParallelism scales with the
    executors, so the pin never caps a big job below its core count."""
    sc = df.sparkSession.sparkContext
    return df.repartition(min(n_buckets, sc.defaultParallelism * 2), key)


def spd_solve(a_mat: np.ndarray, rhs: np.ndarray) -> np.ndarray:
    """The one solve of every normal equation in the engine (ALS,
    genre-ALS, iALS, fold-in): Cholesky, as the reference does
    (functions.py:283-357), falling back to ``np.linalg.solve`` on
    ``LinAlgError`` (the τI / λI ridge term keeps every caller's matrix
    SPD, so the fallback is a guard)."""
    try:
        c = np.linalg.cholesky(a_mat)
        return np.linalg.solve(c.T, np.linalg.solve(c, rhs))
    except np.linalg.LinAlgError:
        return np.linalg.solve(a_mat, rhs)


def ridge_sums(
    v: np.ndarray, d: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float, int]:
    """The sums ``bias_ridge_step`` takes, over n rated rows v with
    d = r − b_other: (VᵀV, Vᵀd, Σv, Σd, n), inner products in BLAS."""
    return v.T @ v, v.T @ d, v.sum(axis=0), d.sum(), len(d)


def bias_ridge_step(
    vtv: np.ndarray,
    vtd: np.ndarray,
    sv: np.ndarray,
    sd: float,
    n: int,
    u_prev: np.ndarray,
    lmd: float,
    tau: float,
    alpha: float,
    pull: np.ndarray | None = None,
) -> tuple[float, np.ndarray]:
    """One entity's bias-ALS update (reference update_user,
    functions.py:283-357) from its sums over the n rated rows, with
    d = r − b_other: ``vtv`` = VᵀV, ``vtd`` = Vᵀd, ``sv`` = Σv,
    ``sd`` = Σd. Returns (bias, vec):

        bias = λ(Σd − Σv·u_prev) / (α + λn)
        vec  = (λVᵀV + τI)⁻¹ · (λ(Vᵀd − bias·Σv) [+ pull])

    — the reference's per-row form with both sums expanded linearly.
    Cold-start fold-in (find_user_trait_vector, functions.py:551-596)
    is the same step at u_prev = 0; taking sums lets fold-in assemble
    them from per-partition partials."""
    bias = lmd * (sd - sv @ u_prev) / (alpha + lmd * n)
    rhs = lmd * (vtd - bias * sv)
    if pull is not None:
        rhs = rhs + pull
    return float(bias), spd_solve(lmd * vtv + tau * np.eye(len(sv)), rhs)


def bias_update(resid: Column, lmd: float, alpha: float) -> Column:
    """``bias_ridge_step``'s bias line as one Spark aggregate expression,
    with Σv·u_prev folded into the per-row residual (resid =
    r − u·v − b_other): λΣresid / (α + λn). The M4 bias sweeps, the M11
    fold-in bias (u = 0) and the A/B fold-in twin all aggregate it."""
    return F.lit(lmd) * F.sum(resid) / (F.lit(alpha) + F.lit(lmd) * F.count(F.lit(1)))


def bias_sweep(
    scored: DataFrame, key: str, other: DataFrame | None = None
) -> DataFrame:
    """M4 half-sweep with trait vectors frozen (prac_1_bias_only.py:63-104)
    over ``scored`` = (user, item, r, uv): the new bias of every ``key``
    entity, ``bias_update`` of r − uv − b_other, as (key, bias).

    ``other`` is the other side's (key, bias) frame, joined on its first
    column; None means zero other-side biases. No Cholesky, no Python in
    the plan: a join and one hash aggregation."""
    resid = F.col("r") - F.col("uv")
    if other is not None:
        other_key, other_bias = other.columns
        scored = scored.join(other, other_key)
        resid = resid - F.col(other_bias)
    return scored.groupBy(key).agg(
        bias_update(resid, DEFAULT_LMD, DEFAULT_ALPHA).alias("bias")
    )


def _solve_bucket(
    pdf: pd.DataFrame,
    lmd: float,
    tau: float,
    alpha: float,
    with_sse: bool = False,
):
    """Solve EVERY entity in one hash bucket with ``bias_ridge_step``,
    executed per bucket inside applyInPandas.

    Bucketing matters: applyInPandas pays per-GROUP Arrow/pandas
    overhead, so grouping by id (10⁴-10⁵ groups of ~30 rows) spends
    more time in plumbing than in BLAS. Hashing ids into
    ``SOLVE_BUCKETS`` groups keeps full parallelism while the
    per-entity loop runs inside one NumPy frame.

    Row kinds (``__k``, see ``als_half_sweep``): 0 = rating row
    (other-side features/bias in ``of``/``ob``), 1 = the entity's own
    current vector, 2 = the optional genre RHS pull — the frozen self
    state arrives as ONE row per entity instead of being replicated
    onto every rating row.

    ``with_sse=True`` (the fused RMSE monitor, round-13): each entity
    row additionally carries sse = Σ(r − of·vec − ob − bias)² and
    n = |Ω| evaluated with the FRESHLY solved vector/bias — the solve
    already holds every term, so the per-iteration RMSE becomes a tiny
    aggregate over the factor frame instead of a separate data-sized
    scoring join (identical value: same residuals ``predict``+``rmse``
    would compute on the new factors)."""
    out_ids: list[int] = []
    out_feat: list[list[float]] = []
    out_bias: list[float] = []
    out_sse: list[float] = []
    out_n: list[int] = []
    kind = pdf["__k"].to_numpy()
    data = pdf[kind == 0]
    self_rows = pdf[kind == 1]
    self_map = dict(zip(self_rows["id"].to_numpy(), self_rows["of"].to_numpy()))
    pull_rows = pdf[kind == 2]
    pull_map = dict(zip(pull_rows["id"].to_numpy(), pull_rows["of"].to_numpy()))
    if len(data) == 0:
        # features must be object-dtyped: an empty float64 column is
        # not Arrow-convertible to list<double> (hit when a bucket
        # holds only __k=2 pull rows — e.g. unrated genre items).
        empty = {
            "id": pd.Series([], dtype="int64"),
            "features": pd.Series([], dtype=object),
            "bias": pd.Series([], dtype="float64"),
        }
        if with_sse:
            empty["sse"] = pd.Series([], dtype="float64")
            empty["n"] = pd.Series([], dtype="int64")
        return pd.DataFrame(empty)
    v_all = np.stack(data["of"].to_numpy())
    d_all = data["rating"].to_numpy(dtype=np.float64) - data["ob"].to_numpy(
        dtype=np.float64
    )
    for vid, idx in data.groupby("id", sort=False).indices.items():
        u_prev = self_map.get(vid)
        if u_prev is None:
            # No current self state — the pre-union inner join dropped
            # such ratings; keep that contract.
            continue
        v = v_all[idx]
        d = d_all[idx]
        pull = pull_map.get(vid)
        bias, vec = bias_ridge_step(
            *ridge_sums(v, d),
            np.asarray(u_prev, dtype=np.float64), lmd, tau, alpha,
            None if pull is None else np.asarray(pull, dtype=np.float64),
        )
        out_ids.append(int(vid))
        out_feat.append(vec.tolist())
        out_bias.append(bias)
        if with_sse:
            resid = d - v @ vec - bias
            out_sse.append(float(resid @ resid))
            out_n.append(len(d))
    cols = {"id": out_ids, "features": out_feat, "bias": out_bias}
    if with_sse:
        cols["sse"] = out_sse
        cols["n"] = out_n
    return pd.DataFrame(cols)


def als_half_sweep(
    ratings: DataFrame,
    self_col: str,
    other_col: str,
    rating_col: str,
    self_factors: DataFrame,
    other_factors: DataFrame,
    lmd: float = DEFAULT_LMD,
    tau: float = DEFAULT_TAU,
    alpha: float = DEFAULT_ALPHA,
    rhs_pull: DataFrame | None = None,
    with_sse: bool = False,
) -> DataFrame:
    """One half-sweep: re-solve every ``self_col`` entity against frozen
    ``other_factors``. Returns a new (id, features, bias) DataFrame —
    plus per-entity (sse, n) residual stats when ``with_sse`` (see
    ``_solve_bucket``), which make the post-sweep RMSE a tiny aggregate
    over THIS frame instead of a second data-sized scoring join.

    ``rhs_pull``: optional (id, pull array) added to the normal-equation
    RHS before the solve — the genre-feature coupling term
    (τ/√|g_n|)·Σ f_g of the reference's genre model
    (incl_genre.py:185-193). None ⇒ the plain bias-ALS update.

    Plan shape: ratings ⋈ other(id) [shuffle or AQE-broadcast]; the
    frozen SELF state enters the grouping shuffle as UNIONED marker
    rows — one (id, features) row per entity (``__k=1``; pull rows
    ``__k=2``) instead of replicating the k-dim self vector onto every
    rating row and paying a second join. The grouped solve reads its
    entity's row out of the same Arrow frame. Cuts the grouping
    shuffle + Arrow payload by ~k doubles × |ratings| and removes a
    whole join stage per sweep.
    """
    data = (
        ratings.select(
            F.col(self_col).cast("long").alias("id"),
            F.col(other_col).cast("long").alias("other_id"),
            F.col(rating_col).cast("double").alias("rating"),
        )
        .join(
            other_factors.select(
                F.col("id").alias("other_id"),
                F.col("features").alias("of"),
                F.col("bias").alias("ob"),
            ),
            "other_id",
        )
        .select("id", "rating", "of", "ob", F.lit(0).alias("__k"))
    )
    un = data.unionByName(
        self_factors.select(
            "id",
            F.lit(None).cast("double").alias("rating"),
            F.col("features").alias("of"),
            F.lit(None).cast("double").alias("ob"),
            F.lit(1).alias("__k"),
        )
    )
    if rhs_pull is not None:
        un = un.unionByName(
            rhs_pull.select(
                "id",
                F.lit(None).cast("double").alias("rating"),
                F.col("pull").alias("of"),
                F.lit(None).cast("double").alias("ob"),
                F.lit(2).alias("__k"),
            )
        )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return _solve_bucket(pdf, lmd, tau, alpha, with_sse=with_sse)

    schema = _FACTOR_SCHEMA + (", sse double, n long" if with_sse else "")
    # Deliberately NOT `bucketed`-pinned: the ALS sweep is shuffle/Arrow
    # I/O-bound (kernel CPU ≈ 0.6 s vs ~40 MB of factor-carrying rows at
    # sf0.1), so AQE's size-based coalescing is the right call here —
    # pinning 64 partitions measured ~2× SLOWER per sweep (round-13
    # A/B). Contrast ml/bpr.py's epoch shuffle: tiny bytes + heavy
    # kernel, where the same pin is a 4× win.
    return (
        un.withColumn("__b", F.pmod(F.col("id"), F.lit(SOLVE_BUCKETS)))
        .groupBy("__b")
        .applyInPandas(solve, schema=schema)
    )


def predict(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    user_factors: DataFrame,
    item_factors: DataFrame,
    out_col: str = "prediction",
) -> DataFrame:
    """M1: û = u·v + b_m + b_n via a scoring join — the HOF dot product
    (functions.py:273-277). Measured faster than an unrolled element_at
    chain at every rank tried; see the note in functions.vector."""
    return (
        ratings.join(
            user_factors.select(
                F.col("id").alias("__uid"),
                F.col("features").alias("__uf"),
                F.col("bias").alias("__ub"),
            ),
            F.col(user_col) == F.col("__uid"),
        )
        .join(
            item_factors.select(
                F.col("id").alias("__iid"),
                F.col("features").alias("__if"),
                F.col("bias").alias("__ib"),
            ),
            F.col(item_col) == F.col("__iid"),
        )
        .withColumn(
            out_col,
            dot_product(F.col("__uf"), F.col("__if")) + F.col("__ub") + F.col("__ib"),
        )
        .drop("__uid", "__uf", "__ub", "__iid", "__if", "__ib")
    )


def rmse(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    user_factors: DataFrame,
    item_factors: DataFrame,
) -> float:
    """A9: √(Σ(û−r)²/n) as one aggregation (reference functions.py:250-280
    is a 25M-row Python loop; here it's a distributed scoring join)."""
    scored = predict(ratings, user_col, item_col, user_factors, item_factors)
    row = scored.agg(
        F.sqrt(F.avg(F.pow(F.col("prediction") - F.col(rating_col), 2))).alias("rmse")
    ).collect()[0]
    return float(row["rmse"])


def _delta_agg(old: DataFrame, new: DataFrame, out: str) -> DataFrame:
    """1-row aggregate: max |θ_new − θ_old| over factors and biases —
    the E8 reduction as a composable subtree for the fused monitor."""
    joined = old.select(
        "id", F.col("features").alias("f0"), F.col("bias").alias("b0")
    ).join(new.select("id", F.col("features").alias("f1"), F.col("bias").alias("b1")), "id")
    vec_delta = F.aggregate(
        F.zip_with("f0", "f1", lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return joined.agg(
        F.max(F.greatest(vec_delta, F.abs(F.col("b1") - F.col("b0")))).alias(out)
    )


def sweep_monitor(
    sse_source: DataFrame,
    old_u: DataFrame,
    old_v: DataFrame,
    new_u: DataFrame,
    new_v: DataFrame,
    want_delta: bool,
) -> tuple[float, float | None]:
    """The ENTIRE per-iteration monitor (A9 RMSE, optional E8 max
    parameter delta over prac_1.py:161-187) as ONE Spark action: each
    metric is a 1-row aggregate subtree, crossJoined into a single
    1-row frame and collected once. Separately-collected monitors cost
    a driver round-trip each — pure fixed overhead at bench scale, and
    at cluster scale a scheduler barrier each where one suffices.

    ``sse_source`` is the item sweep's factor frame carrying fused
    per-entity (sse, n) residual stats from
    ``als_half_sweep(with_sse=True)`` — the same residuals a
    ratings⋈factors scoring join would give, already computed inside
    the sweep — so EVERY subtree of this collect is dimension-sized."""
    out = sse_source.agg(F.sum("sse").alias("sse"), F.sum("n").alias("n"))
    if want_delta:
        out = out.crossJoin(_delta_agg(old_u, new_u, "du")).crossJoin(
            _delta_agg(old_v, new_v, "dv")
        )
    row = out.collect()[0]
    rmse_val = float(np.sqrt(row["sse"] / row["n"]))
    delta = max(float(row["du"]), float(row["dv"])) if want_delta else None
    return rmse_val, delta


@dataclass
class AlsBiasModel:
    """Trained state — two (id, features, bias) DataFrames, MLlib-shaped."""

    user_factors: DataFrame
    item_factors: DataFrame
    rmse_history: list[float]
    converged: bool


def train_als_bias(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    rank: int = DEFAULT_RANK,
    lmd: float = DEFAULT_LMD,
    tau: float = DEFAULT_TAU,
    alpha: float = DEFAULT_ALPHA,
    max_iter: int = 10,
    tol: float = 0.05,
    seed: int = 42,
) -> AlsBiasModel:
    """The reference training loop (prac_1.py:53-188) as a driver-side
    fixpoint over distributed sweeps: user half-sweep, item half-sweep,
    monitor, stop when max parameter delta < tol (E8) or max_iter."""
    # Lazy checkpoints: run-level frames materialise inside the first
    # job that needs them; lineage still truncates at every checkpoint.
    # Per-iteration actions: ONE — the fused monitor collect, which also
    # materialises both sweep checkpoints.
    ratings = ratings.select(
        F.col(user_col).cast("long").alias("u"),
        F.col(item_col).cast("long").alias("i"),
        F.col(rating_col).cast("double").alias("r"),
    ).transform(materialize)
    u_f = init_factors(
        ratings.select("u").distinct(), "u", rank, seed
    ).transform(materialize)
    v_f = init_factors(
        ratings.select("i").distinct(), "i", rank, seed + 1
    ).transform(materialize)

    rmse_hist: list[float] = []
    converged = False
    # Plan-pipelining (round-13, ported from train_genre_als): the user
    # half-sweep's DataFrame + lazy-checkpoint RDD conversion is pure
    # driver-side Catalyst, so iteration N+1's build runs on a helper
    # thread WHILE iteration N's monitor collect keeps the cluster
    # busy. Plan construction never computes data; results are consumed
    # strictly via .result().
    from concurrent.futures import ThreadPoolExecutor

    def build_user_sweep(uf, vf):
        return als_half_sweep(
            ratings, "u", "i", "r", uf, vf, lmd, tau, alpha
        ).transform(materialize)

    prebuild = ThreadPoolExecutor(max_workers=1)
    next_u_fut = None
    try:
        for it in range(max_iter):
            new_u = (
                next_u_fut.result()
                if next_u_fut is not None
                else build_user_sweep(u_f, v_f)
            )
            # with_sse: the item solve carries per-item residual stats
            # with the fresh vectors (identical to the predict join's
            # residuals on (new_u, new_v)), so the fused monitor below
            # touches only dimension-sized frames — no ratings pass
            # outside the sweeps.
            new_v_ext = als_half_sweep(
                ratings, "i", "u", "r", v_f, new_u, lmd, tau, alpha,
                with_sse=True,
            ).transform(materialize)
            new_v = new_v_ext.drop("sse", "n")
            old_u, old_v = u_f, v_f
            u_f, v_f = new_u, new_v
            # Kick off iteration N+1's user-sweep plan build now — it
            # overlaps the monitor collect below. Wasted only when the
            # delta check breaks out (plan-only, no jobs run).
            next_u_fut = (
                prebuild.submit(build_user_sweep, new_u, new_v)
                if it + 1 < max_iter
                else None
            )
            # E8 delta rides the fused monitor — only pay for it when a
            # convergence tolerance is actually requested.
            rmse_val, delta = sweep_monitor(
                new_v_ext, old_u, old_v, new_u, new_v, want_delta=tol > 0
            )
            rmse_hist.append(rmse_val)
            if tol > 0 and delta < tol:
                converged = True
                break
    finally:
        prebuild.shutdown(wait=True)
    return AlsBiasModel(u_f, v_f, rmse_hist, converged)


def mllib_als(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    rank: int = DEFAULT_RANK,
    reg_param: float = DEFAULT_TAU,
    max_iter: int = 10,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """M2/M3 fast path: Spark MLlib's blocked ALS — the same
    normal-equation Cholesky solve as the reference (SURVEY §4.1), with
    block partitioning instead of joblib fan-out. No bias terms; use
    ``train_als_bias`` for exact reference semantics.

    Returns (userFactors, itemFactors) as (id, features array<float>)."""
    from pyspark.ml.recommendation import ALS

    als = ALS(
        rank=rank,
        regParam=reg_param,
        maxIter=max_iter,
        seed=seed,
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    return model.userFactors, model.itemFactors
