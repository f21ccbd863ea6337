"""ML-layer queries (SURVEY §2.7 M-family + A9/A10/E8) with DuckDB
oracles.

The driver star schema has no ratings table, so the reference's model
shape is instantiated deterministically from driver data — the SAME
construction on both engines, so every step is oracle-checkable:

- ratings  := lineitem (user = l_suppkey, item = l_partkey,
              rating = l_quantity) — the natural many-to-many fact.
- factors  := embeddings joined on ``id % EMB_MOD`` (64-dim doubles).
- biases   := exact affine formulas of the id (see ``_BU``/``_BV``) —
              identical double arithmetic in both engines.

Training itself (``m_als_train``: applyInPandas Cholesky sweeps,
``m_fold_in_vector``: driver k×k solve) is not SQL-expressible; those
register without an oracle → the driver's weaker rows-only check, per
the contract. Everything else (RMSE, log-likelihood, bias sweeps,
convergence delta, fold-in bias, top-N serving) is a pure dataflow and
carries a full value-hash oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recommender_systems_spark.functions.vector import dot_product
from recommender_systems_spark.io import materialize, table_rows
from recommender_systems_spark.ml.als import DEFAULT_ALPHA as ALPHA
from recommender_systems_spark.ml.als import DEFAULT_LMD as LMD
from recommender_systems_spark.ml.als import DEFAULT_TAU as TAU
from recommender_systems_spark.ml.als import bias_sweep
from recommender_systems_spark.registry import _t, register

EMB_MOD = 500  # embeddings rows at sf0.01; modular join key for factors

# Deterministic bias formulas — same IEEE ops in both engines.
_BU_SQL = "((CAST(uid * 17 AS BIGINT) % 13) * 0.05 - 0.3)"
_BV_SQL = "((CAST(iid * 29 AS BIGINT) % 11) * 0.04 - 0.2)"


def _bu_col(uid):
    return ((uid * 17) % 13) * F.lit(0.05) - F.lit(0.3)


def _bv_col(iid):
    return ((iid * 29) % 11) * F.lit(0.04) - F.lit(0.2)


# Shared SQL prelude: ratings + factor lookup.
_ML_CTE = f"""
    r AS (SELECT l_suppkey AS uid, l_partkey AS iid,
                 CAST(l_quantity AS DOUBLE) AS r
          FROM lineitem),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS f FROM embeddings),
    j AS (SELECT r.uid, r.iid, r.r, list_dot_product(u.f, v.f) AS uv
          FROM r JOIN e u ON u.vec_id = r.uid % {EMB_MOD}
                 JOIN e v ON v.vec_id = r.iid % {EMB_MOD})
"""


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("uid"),
        F.col("l_partkey").alias("iid"),
        F.col("l_quantity").cast("double").alias("r"),
    )


def _factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, f double[]) — broadcast-sized factor dimension."""
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("f")
    )


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ratings with u·v attached: the M1 scoring join. Both factor
    lookups broadcast (embeddings is dimension-sized); the fact table
    never shuffles."""
    # The local parquet exposes only ~3 scan splits; the dot product is
    # CPU-bound, so spread it across all cores. (On a cluster the scan
    # arrives with hundreds of splits and this exchange is removable.)
    r = _ratings(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    e = _factors(spark, sf_dir)
    return (
        r.withColumn("__uk", F.col("uid") % EMB_MOD)
        .join(
            F.broadcast(e.select(F.col("vec_id").alias("__uk"), F.col("f").alias("uf"))),
            "__uk",
        )
        .withColumn("__ik", F.col("iid") % EMB_MOD)
        .join(
            F.broadcast(e.select(F.col("vec_id").alias("__ik"), F.col("f").alias("vf"))),
            "__ik",
        )
        .select("uid", "iid", "r", dot_product("uf", "vf").alias("uv"))
    )


@register(
    "m_rmse",
    f"""
    WITH {_ML_CTE}
    SELECT round(sqrt(avg(pow(uv + {_BU_SQL} + {_BV_SQL} - r, 2))), 6) AS rmse,
           CAST(count(*) AS BIGINT) AS n_ratings
    FROM j
    """,
)
def m_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: RMSE of û = u·v + b_u + b_v as ONE distributed aggregation
    (reference rmse(), functions.py:250-280, is a pure-Python loop over
    25M rows). Plan: broadcast factor joins → whole-stage-codegen dot
    product → partial/final avg."""
    j = _scored(spark, sf_dir)
    err = F.col("uv") + _bu_col(F.col("uid")) + _bv_col(F.col("iid")) - F.col("r")
    return j.agg(
        F.round(F.sqrt(F.avg(F.pow(err, 2))), 6).alias("rmse"),
        F.count(F.lit(1)).alias("n_ratings"),
    )


def _loglik_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three 1-row sufficient statistics of the regularised
    log-likelihood, cross-joined into one row (ufro, ub2, vfro, vb2,
    sse), shared by m_reg_loglik and m_hyperparam_sweep.

    Deliberately NOT checkpointed (round-13 adjudication): the three
    branches are INDEPENDENT stages of one job and overlap on the
    cluster (guide §2.6) — materialising the scored frame first was
    measured 1.27–1.30× slower interleaved (3-rep vs pinned), because
    the eager checkpoint serialises three cheap parallel scans behind
    a corpus-sized block write. Unlike the e_calibration family there
    is no re-executed SHUFFLE here — each branch is scan+broadcast-
    join+aggregate with map-side partials — so the re-read is the
    cheap kind that column pruning keeps near-free."""
    r = _ratings(spark, sf_dir)
    e = _factors(spark, sf_dir)
    fro = F.aggregate("f", F.lit(0.0), lambda a, x: a + x * x)

    def penalty(ids: DataFrame, id_col: str, bias_col) -> DataFrame:
        return (
            ids.withColumn("__k", F.col(id_col) % EMB_MOD)
            .join(F.broadcast(e.select(F.col("vec_id").alias("__k"), "f")), "__k")
            .agg(
                F.sum(fro).alias("fro"),
                F.sum(F.pow(bias_col, 2)).alias("b2"),
            )
        )

    upen = penalty(r.select("uid").distinct(), "uid", _bu_col(F.col("uid")))
    vpen = penalty(r.select("iid").distinct(), "iid", _bv_col(F.col("iid")))
    err = F.col("uv") + _bu_col(F.col("uid")) + _bv_col(F.col("iid")) - F.col("r")
    sse = _scored(spark, sf_dir).agg(F.sum(F.pow(err, 2)).alias("sse"))
    return (
        upen.select(F.col("fro").alias("ufro"), F.col("b2").alias("ub2"))
        .crossJoin(vpen.select(F.col("fro").alias("vfro"), F.col("b2").alias("vb2")))
        .crossJoin(sse)
    )


def _loglik(lmd: Column | float, tau: Column | float) -> Column:
    """A10 over ``_loglik_stats``'s row, rounded to 2 dp:
    -(α/2)(‖b_m‖²+‖b_n‖²) - (τ/2)(‖U‖²_F+‖V‖²_F) - (λ/2)Σerr².
    λ and τ are grid Columns (m_hyperparam_sweep) or Python floats
    (m_reg_loglik, whose halved literals then keep their plan's operand
    order); either way the halving gives the same IEEE double."""
    return F.round(
        -(ALPHA / 2) * (F.col("ub2") + F.col("vb2"))
        - (tau / 2) * (F.col("ufro") + F.col("vfro"))
        - (lmd / 2) * F.col("sse"),
        2,
    )


@register(
    "m_reg_loglik",
    f"""
    WITH {_ML_CTE},
    users AS (SELECT DISTINCT uid FROM r),
    items AS (SELECT DISTINCT iid FROM r),
    upen AS (SELECT sum(list_dot_product(e.f, e.f)) AS fro,
                    sum(pow((CAST(uid * 17 AS BIGINT) % 13) * 0.05 - 0.3, 2)) AS b2
             FROM users JOIN e ON e.vec_id = uid % {EMB_MOD}),
    vpen AS (SELECT sum(list_dot_product(e.f, e.f)) AS fro,
                    sum(pow((CAST(iid * 29 AS BIGINT) % 11) * 0.04 - 0.2, 2)) AS b2
             FROM items JOIN e ON e.vec_id = iid % {EMB_MOD}),
    sse AS (SELECT sum(pow(uv + {_BU_SQL} + {_BV_SQL} - r, 2)) AS sse FROM j)
    SELECT round(-({ALPHA} / 2) * (upen.b2 + vpen.b2)
                 - ({TAU} / 2) * (upen.fro + vpen.fro)
                 - ({LMD} / 2) * sse.sse, 2) AS loglik
    FROM upen, vpen, sse
    """,
)
def m_reg_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: regularised log-likelihood (functions.py:49-116):
    -(λ/2)Σerr² -(τ/2)(‖U‖²_F+‖V‖²_F) -(α/2)(‖b_m‖²+‖b_n‖²).
    Frobenius terms aggregate over DISTINCT entities (one factor row per
    user/item, as in the reference's matrices), the error term over
    ratings — three small aggregations cross-joined (all 1-row), shared
    with m_hyperparam_sweep via _loglik_stats as INDEPENDENT unmaterialised
    branches (deliberately not checkpointed — see _loglik_stats's
    adjudication note)."""
    return _loglik_stats(spark, sf_dir).select(_loglik(LMD, TAU).alias("loglik"))


# Bias half-sweeps (M4): b_u = λΣ(r−u·v−b_v)/(α+λ|Ω|) from zero biases,
# then b_v using the fresh b_u (``ml.als.bias_sweep``). Shared between
# four queries.
_BIAS_CTE = f"""
    {_ML_CTE},
    bu AS (SELECT uid, {LMD} * sum(r - uv) / ({ALPHA} + {LMD} * count(*)) AS bu
           FROM j GROUP BY uid),
    bv AS (SELECT iid,
                  {LMD} * sum(j.r - j.uv - bu.bu)
                      / ({ALPHA} + {LMD} * count(*)) AS bv
           FROM j JOIN bu ON j.uid = bu.uid GROUP BY iid)
"""


def _bias_sweeps(spark: SparkSession, sf_dir: str, ckpt_bu: bool = False):
    """Spark twin of _BIAS_CTE: returns (j, bu, bv) DataFrames, the two
    sweeps being ``ml.als.bias_sweep`` calls over the scored ratings.

    ``j`` is localCheckpointed: every consumer scans it 2-3 times (bu,
    bv⋈bu, delta/history passes) and the checkpoint output is 4 scalar
    columns (~32 bytes/rating — the factor arrays are consumed by the
    dot product inside the join), so materialising once replaces
    repeated broadcast-join + 64-dim dot recomputation. Same pattern at
    100 TB: persist the scored residuals, not the factor join.

    ``ckpt_bu``: materialise the users-sized user-bias table too — for
    callers that reference bu MORE than once (m_convergence: inside
    bv's lineage AND in the delta join), where unmaterialised it
    re-runs the uid exchange over the corpus blocks per reference.
    Off by default: every other caller uses bu once and the extra
    checkpoint is a measured loss (the §6q pattern)."""
    j = _scored(spark, sf_dir).transform(materialize, sf_dir)
    bu = bias_sweep(j, "uid").withColumnRenamed("bias", "bu")
    if ckpt_bu:
        bu = materialize(bu, sf_dir)
    bv = bias_sweep(j, "iid", bu).withColumnRenamed("bias", "bv")
    return j, bu, bv


@register(
    "m_bias_only",
    f"""
    WITH {_BIAS_CTE}
    SELECT iid AS item_id, round(bv, 5) AS bias FROM bv
    """,
)
def m_bias_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: bias-only model — one alternating sweep pair (user bias from
    zero, item bias from the fresh user bias) with trait vectors frozen
    (prac_1_bias_only.py:63-104). Each sweep is a single hash
    aggregation; the user-bias side broadcasts back for the item sweep."""
    _, _, bv = _bias_sweeps(spark, sf_dir)
    return bv.select(
        F.col("iid").alias("item_id"), F.round("bv", 5).alias("bias")
    )


@register(
    "m_convergence",
    f"""
    WITH {_BIAS_CTE},
    bu2 AS (SELECT j.uid,
                   {LMD} * sum(j.r - j.uv - bv.bv)
                       / ({ALPHA} + {LMD} * count(*)) AS bu2
            FROM j JOIN bv ON j.iid = bv.iid GROUP BY j.uid)
    SELECT round(max(abs(bu2.bu2 - bu.bu)), 6) AS max_abs_delta,
           CAST(count(*) AS BIGINT) AS n_users
    FROM bu JOIN bu2 ON bu.uid = bu2.uid
    """,
)
def m_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: convergence monitor — max |θ_new − θ_old| between successive
    user-bias sweeps (prac_1.py:161-187), the third ``ml.als.bias_sweep``
    after _bias_sweeps' pair. ``ml.als.train_als_bias`` stops on a wider
    delta: its fused monitor (``_delta_agg``) collects max |Δ| over both
    sides' trait vectors AND biases per iteration, where this scalar is
    user-bias-only."""
    j, bu, bv = _bias_sweeps(spark, sf_dir, ckpt_bu=True)
    bu2 = bias_sweep(j, "uid", bv).withColumnRenamed("bias", "bu2")
    return (
        bu.join(bu2, "uid")
        .agg(
            F.round(F.max(F.abs(F.col("bu2") - F.col("bu"))), 6).alias(
                "max_abs_delta"
            ),
            F.count(F.lit(1)).alias("n_users"),
        )
    )


@register(
    "m_fold_in_bias",
    f"""
    WITH {_BIAS_CTE},
    hist AS (SELECT iid, r FROM j
             WHERE uid = (SELECT min(l_suppkey) FROM lineitem))
    SELECT round({LMD} * sum(hist.r - bv.bv)
                 / ({ALPHA} + {LMD} * count(*)), 6) AS user_bias,
           CAST(count(*) AS BIGINT) AS n_history
    FROM hist JOIN bv ON hist.iid = bv.iid
    """,
)
def m_fold_in_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: cold-start fold-in of a new user's bias from their history
    against trained item biases (functions.py:522-548): with u=0,
    b_u = λΣ(r−b_n)/(α+λ|hist|). The 'new user' is the smallest
    supplier key; 'trained' item biases come from the M4 sweep pair."""
    from recommender_systems_spark.ml.foldin import fold_in_bias

    j, _, bv = _bias_sweeps(spark, sf_dir)
    # The 'new user' (smallest supplier key) stays IN the plan: a
    # broadcast 1-row min-aggregate join instead of a driver collect —
    # one Spark job for the whole query, no extra scan round-trip.
    min_u = _t(spark, sf_dir, "lineitem").agg(F.min("l_suppkey").alias("__mu"))
    hist = j.join(F.broadcast(min_u), F.col("uid") == F.col("__mu")).select("iid", "r")
    item_factors = bv.select(
        F.col("iid").alias("id"),
        F.array().cast("array<double>").alias("features"),
        F.col("bv").alias("bias"),
    )
    out = fold_in_bias(hist, "iid", "r", item_factors, lmd=LMD, alpha=ALPHA)
    return out.select(
        F.round("user_bias", 6).alias("user_bias"), "n_history"
    )


@register(
    "m_top_n",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS f FROM embeddings),
    q AS (SELECT f AS qf FROM e WHERE vec_id = 0),
    counts AS (SELECT l_partkey AS iid, count(*) AS n FROM lineitem GROUP BY 1),
    scored AS (
        SELECT c.iid,
               round(list_dot_product(q.qf, v.f)
                     + 0.05 * ((CAST(c.iid * 29 AS BIGINT) % 11) * 0.04 - 0.2),
                     5) AS score,
               c.n
        FROM counts c JOIN e v ON v.vec_id = c.iid % {EMB_MOD}, q)
    SELECT iid AS item_id, score FROM scored
    WHERE n >= 28
    ORDER BY score DESC, iid LIMIT 20
    """,
)
def m_top_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13+P6+P7+W3: full-catalog serving (functions.py:599-647) —
    score = u·v_n + 0.05·b_n for every item, exclude items with <28
    ratings (the remove_movies_limit popularity filter), top-20.
    Score is rounded BEFORE ranking so the tie-break (item id) is
    engine-independent. Plan: broadcast query vector × item dimension →
    count-filter semi-join → TakeOrderedAndProject."""
    e = _factors(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_partkey").alias("iid")).agg(
        F.count(F.lit(1)).alias("n")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("f").alias("qf"))
    scored = (
        counts.withColumn("__k", F.col("iid") % EMB_MOD)
        .join(F.broadcast(e.select(F.col("vec_id").alias("__k"), "f")), "__k")
        .crossJoin(F.broadcast(q))
        .select(
            "iid",
            F.round(
                dot_product("qf", "f") + F.lit(0.05) * _bv_col(F.col("iid")), 5
            ).alias("score"),
            "n",
        )
    )
    return (
        scored.filter(F.col("n") >= 28)
        .select(F.col("iid").alias("item_id"), "score")
        .orderBy(F.col("score").desc(), F.col("item_id"))
        .limit(20)
    )


@register("m_als_train")  # no oracle: applyInPandas Cholesky training loop
def m_als_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2/M3/M6/E8: the REAL bias-ALS training loop
    (ml.als.train_als_bias — mirrors prac_1.py:53-188) for 2 iterations,
    rank 8, on lineitem-as-ratings. Returns the per-iteration RMSE
    trajectory; the golden test asserts monotone descent. Rows-only
    driver check (sampling + Arrow solves are not SQL-expressible)."""
    from recommender_systems_spark.ml.als import train_als_bias

    r = _ratings(spark, sf_dir)
    model = train_als_bias(
        r, "uid", "iid", "r", rank=8, max_iter=2, tol=0.0, seed=42
    )
    rows = [(i + 1, round(v, 6)) for i, v in enumerate(model.rmse_history)]
    return spark.createDataFrame(rows, "iter int, rmse double")


@register("m_mllib_als")  # no oracle: MLlib blocked-ALS training
def m_mllib_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2/M3 big-data fast path: Spark MLlib's built-in blocked ALS
    (ml.als.mllib_als — the same per-entity normal-equation Cholesky
    as the reference, with MLlib's in/out-block partitioning instead
    of joblib fan-out; no bias terms, use m_als_train for exact
    reference semantics). 2 iterations, rank 8; returns the factor-
    frame shape summary. Rows-only driver check (blocked training is
    not SQL-expressible)."""
    from recommender_systems_spark.ml.als import mllib_als

    r = _ratings(spark, sf_dir).select(
        F.col("uid").cast("int").alias("u"),
        F.col("iid").cast("int").alias("i"),
        F.col("r").cast("float").alias("r"),
    )
    uf, vf = mllib_als(r, "u", "i", "r", rank=8, max_iter=2, seed=42)
    return spark.createDataFrame(
        [
            ("n_users", uf.count()),
            ("n_items", vf.count()),
            ("rank", len(uf.select("features").first()["features"])),
        ],
        "metric string, value long",
    )


@register("m_bpr_train")  # no oracle: sampled triplets + parallel SGD
def m_bpr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7-M9+E1: the full BPR pipeline (SURVEY §3 entry point 3) on
    driver data — curate implicit positives (quantity ≥ 25 ≈ rating ≥ 4,
    drop users with <10 positives: P4+P6+P7), genre dimension from
    p_name words (M9 disjointness constraint), 2 epochs of
    user-partitioned fused sampling+SGD (negatives drawn in-worker from
    the broadcast popularity pool, rejected against the group's own
    positive set — ml.bpr._sgd_sample_bucket) batched into ONE worker
    invocation (sync_every=2: local SGD, one V sync — halves the
    per-epoch Spark fixed cost; per-epoch-sync curves live in the
    golden tests), final mean P@20/R@20 (E1). Rows-only driver check;
    the golden test asserts the metrics improve over training."""
    from recommender_systems_spark.ml.bpr import train_bpr
    from recommender_systems_spark.queries.genre import _parts_with_genres

    li = _t(spark, sf_dir, "lineitem")
    # Dedup + min-positives threshold in ONE user-keyed shuffle
    # (collect_set dedups inside the same aggregation the threshold
    # reads) — same (u, i) set as distinct → anti_join_below_threshold
    # (the P6/P7 operator surface, operators/relational.py:15), one
    # exchange cheaper. Per-user sets are catalog-bounded, the same
    # bound the SGD user-group already assumes.
    pos = (
        li.filter(F.col("l_quantity") >= 25)
        .select(F.col("l_suppkey").alias("u"), F.col("l_partkey").alias("i"))
        .groupBy("u")
        .agg(F.collect_set("i").alias("__items"))
        .filter(F.size("__items") >= 10)
        .select("u", F.explode("__items").alias("i"))
    )
    genres = _parts_with_genres(spark, sf_dir).select(
        F.col("p_partkey").alias("item"), F.col("genre_values").alias("genre_ids")
    )
    model = train_bpr(
        pos, "u", "i", rank=8, epochs=2, seed=42, genres=genres, eval_k=20,
        eval_every_epoch=False,  # final eval only — per-epoch curves in tests
        eval_user_count=200,  # FIXED-COUNT user sample: eval stays N x |catalog| at any scale
        sync_every=2,  # one sgd invocation + one V sync for the 2 epochs
    )
    p, r = model.metrics_history[-1]
    return spark.createDataFrame(
        [(2, round(p, 6), round(r, 6))], "epoch int, p_at_20 double, r_at_20 double"
    )


@register("m_als_genre_train")  # no oracle: coupled training loop
def m_als_genre_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 + genre variants of M2/M3 (reference incl_genre.py): the
    genre-coupled ALS loop — item solves pull toward Σ genre features,
    the 16×64 feature matrix re-solves on the driver each sweep from a
    single distributed stats pass (A/B/C aggregates). 2 iterations on
    lineitem-as-ratings with p_name word genres; returns the RMSE
    trajectory plus the feature-matrix norm per genre. Rows-only."""
    import numpy as np

    from recommender_systems_spark.ml.genre_als import train_als_genre
    from recommender_systems_spark.queries.genre import GENRE_WORDS, _parts_with_genres

    r = _ratings(spark, sf_dir)
    genres = _parts_with_genres(spark, sf_dir).select(
        F.col("p_partkey").alias("item"), "genre_values", "genre_count"
    )
    model, f_state = train_als_genre(
        r, genres, "uid", "iid", "r",
        n_genres=len(GENRE_WORDS), rank=8, max_iter=2, seed=42,
    )
    rows = [
        ("rmse_iter_%d" % (i + 1), round(v, 6))
        for i, v in enumerate(model.rmse_history)
    ] + [
        (f"f_norm_{g}", round(float(np.linalg.norm(f_state[g])), 6))
        for g in range(len(GENRE_WORDS))
    ]
    return spark.createDataFrame(rows, "metric string, value double")


@register("m_fold_in_vector")  # no oracle: driver-side k×k Cholesky solve
def m_fold_in_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12: cold-start trait vector — distributed Σvvᵀ / Σresid·v
    assembly + driver k×k Cholesky (functions.py:551-596; SURVEY calls
    the driver solve correct design at k≪1000). Returns the 64-dim
    vector as (pos, value) rows. Rows-only driver check."""
    from recommender_systems_spark.ml.foldin import fold_in_bias_and_trait_vector

    j, _, bv = _bias_sweeps(spark, sf_dir)
    e = _factors(spark, sf_dir)
    # The 'new user' (smallest supplier key) stays IN the plan: a
    # broadcast 1-row min-aggregate join instead of a driver collect —
    # one Spark job for the whole query, no extra scan round-trip.
    min_u = _t(spark, sf_dir, "lineitem").agg(F.min("l_suppkey").alias("__mu"))
    hist = j.join(F.broadcast(min_u), F.col("uid") == F.col("__mu")).select("iid", "r")
    # Single consumer since the fused fold-in (round-13): the bias
    # collect and the trait-vector partials collapsed into ONE Spark
    # action over ONE history⋈factors join, so the former three-job
    # item-factor checkpoint is gone — 4 driver jobs became 2 (the j
    # checkpoint inside _bias_sweeps + the fused partials collect).
    item_factors = (
        bv.withColumn("__k", F.col("iid") % EMB_MOD)
        .join(F.broadcast(e.select(F.col("vec_id").alias("__k"), "f")), "__k")
        .select(
            F.col("iid").alias("id"),
            F.col("f").alias("features"),
            F.col("bv").alias("bias"),
        )
    )
    _, _, vec = fold_in_bias_and_trait_vector(
        hist, "iid", "r", item_factors, lmd=LMD, alpha=ALPHA, tau=TAU, dim=64
    )
    return spark.createDataFrame(
        [(i, round(float(v), 6)) for i, v in enumerate(vec)], "pos int, value double"
    )


# ---------------------------------------------------------------------------
# Item-item co-occurrence neighbours (item-based CF)
# ---------------------------------------------------------------------------

from recommender_systems_spark.queries._shared import (  # noqa: E402
    CF_CAP as _CF_CAP,
    CF_MIN_COOC as _CF_MIN_COOC,
)
_CF_TOPK = 5

# Shared CTE chain: capped histories → co-occurrence → Jaccard →
# per-item top-k neighbour table.  m_item_item_cooc reports it;
# m_item_knn_recs composes it into per-user serving below.
_COOC_CTES = f"""
    hist AS (
        SELECT l_suppkey AS uid, l_partkey AS iid,
               SUM(CAST(l_quantity AS DOUBLE)) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    capped AS (
        SELECT uid, iid FROM (
            SELECT uid, iid,
                   row_number() OVER (PARTITION BY uid
                                      ORDER BY w DESC, iid) AS rn
            FROM hist)
        WHERE rn <= {_CF_CAP}
    ),
    cooc AS (
        SELECT a.iid AS ia, b.iid AS ib, COUNT(*) AS c
        FROM capped a JOIN capped b
          ON a.uid = b.uid AND a.iid < b.iid
        GROUP BY 1, 2
    ),
    deg AS (SELECT iid, COUNT(*) AS n FROM capped GROUP BY 1),
    sim AS (
        SELECT ia, ib, c,
               CAST(c AS DOUBLE) / (da.n + db.n - c) AS jac
        FROM cooc
        JOIN deg da ON da.iid = cooc.ia
        JOIN deg db ON db.iid = cooc.ib
        WHERE c >= {_CF_MIN_COOC}
    ),
    mirrored AS (
        SELECT ia AS item, ib AS neighbor, c, jac FROM sim
        UNION ALL
        SELECT ib AS item, ia AS neighbor, c, jac FROM sim
    ),
    nbr AS (
        SELECT item, neighbor, c, jac, rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY item
                                           ORDER BY jac DESC, neighbor) AS rnk
              FROM mirrored)
        WHERE rnk <= {_CF_TOPK}
    )
"""

_COOC_SQL = f"""
    WITH {_COOC_CTES}
    SELECT item, neighbor, CAST(c AS BIGINT) AS cooc,
           CAST(rnk AS INT) AS rnk, round(jac, 5) AS sim
    FROM nbr
"""


def _cf_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(hist, capped, nbr) — the item-item CF building blocks shared by
    ``m_item_item_cooc`` (reports nbr) and ``m_item_knn_recs`` (serves
    from it). Mirrors the _COOC_CTES chain exactly."""
    hist = (
        _ratings(spark, sf_dir)
        .groupBy("uid", "iid")
        .agg(F.sum("r").alias("w"))
    )
    wcap = Window.partitionBy("uid").orderBy(F.col("w").desc(), F.col("iid"))
    # Per-user basket arrays instead of a capped-rows self-join
    # (round-13, the m_skipgram_pairs idiom): the groupBy(uid) rides
    # the hashpartitioning(uid) the cap window already paid (zero new
    # exchange), the users-sized array table is the one materialised
    # frame, and the CAP²/2 (ia < ib) pairs are emitted with
    # index-aware array HOFs JVM-side. The r12 shape checkpointed the
    # capped ROWS and self-joined them on uid — two more corpus-row
    # exchanges for the identical pair multiset. Counts are exact
    # integers; iids are unique per user (hist is grouped), so
    # array_sort + tail-slice reproduces a.iid < b.iid bit-for-bit.
    seqs = (
        hist.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _CF_CAP)
        .groupBy("uid")
        .agg(F.array_sort(F.collect_list("iid")).alias("xs"))
        .transform(materialize, sf_dir)  # consumed by the pair explode, deg, capped
    )
    capped = seqs.select("uid", F.explode("xs").alias("iid"))
    pair_structs = F.flatten(
        F.transform(
            "xs",
            lambda x, i: F.transform(
                F.slice("xs", i + 2, F.size("xs") - i - 1),
                lambda y: F.struct(x.alias("ia"), y.alias("ib")),
            ),
        )
    )
    cooc = (
        seqs.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _CF_MIN_COOC)
    )
    deg = capped.groupBy("iid").agg(F.count(F.lit(1)).alias("n"))
    sim = (
        cooc.join(deg.select(F.col("iid").alias("ia"), F.col("n").alias("na")), "ia")
        .join(deg.select(F.col("iid").alias("ib"), F.col("n").alias("nb")), "ib")
        .select(
            "ia",
            "ib",
            "c",
            (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias(
                "jac"
            ),
        )
    )
    mirrored = sim.select(
        F.col("ia").alias("item"), F.col("ib").alias("neighbor"), "c", "jac"
    ).unionAll(
        sim.select(
            F.col("ib").alias("item"), F.col("ia").alias("neighbor"), "c", "jac"
        )
    )
    wk = Window.partitionBy("item").orderBy(F.col("jac").desc(), F.col("neighbor"))
    nbr = mirrored.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= _CF_TOPK
    )
    return hist, capped, nbr


@register("m_item_item_cooc", _COOC_SQL)
def m_item_item_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative filtering neighbours: per-item top-k by
    Jaccard over capped user histories — the classic memory-based
    counterpart to the reference's model-based ALS/BPR recommenders
    (the "users who bought X also bought Y" table every serving stack
    keeps warm).

    Scale shape: the per-user history CAP ({_CF_CAP}, keep the
    highest-weight items) is what makes item-item CF tractable at all —
    it bounds the pair explode at CAP²/2 per user, so the uid self-join
    emits O(|users|·CAP²) id pairs, never O(Σ|history|²) (one
    pathological power user would otherwise dominate the job). After
    the explode only (ia, ib) id pairs shuffle; co-occurrence is a hash
    aggregate with map-side partials (hot pairs — two blockbusters
    bought together — collapse to one row per partition before the
    exchange), degrees are a dimension-sized pre-agg joined back, and
    the final per-item top-k is one row_number window. Jaccard
    c/(na+nb−c) is an int/int divide — exact IEEE in both engines, so
    the ranking is bit-identical."""
    _, _, nbr = _cf_frames(spark, sf_dir)
    return nbr.select(
        "item",
        "neighbor",
        F.col("c").cast("long").alias("cooc"),
        "rnk",
        F.round("jac", 5).alias("sim"),
    )


_KNN_N = 5

_KNN_SQL = f"""
    WITH {_COOC_CTES},
    wts AS (SELECT uid, iid, CAST(w AS BIGINT) AS wi FROM hist),
    cand AS (
        SELECT c.uid, n.neighbor AS item,
               SUM(CAST(round(n.jac * 100000) AS BIGINT) * w.wi) AS s
        FROM capped c
        JOIN nbr n ON n.item = c.iid
        JOIN wts w ON w.uid = c.uid AND w.iid = c.iid
        GROUP BY 1, 2
    ),
    novel AS (
        SELECT cand.uid, cand.item, cand.s
        FROM cand
        LEFT JOIN hist h ON h.uid = cand.uid AND h.iid = cand.item
        WHERE h.iid IS NULL
    )
    SELECT uid AS user_id, item, CAST(s AS BIGINT) AS score_scaled,
           round(s / 100000.0, 5) AS score, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY uid
                                       ORDER BY s DESC, item) AS rnk
          FROM novel)
    WHERE rnk <= {_KNN_N}
"""


@register("m_item_knn_recs", _KNN_SQL)
def m_item_knn_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-kNN serving: per-user top-{_KNN_N} recommendations from the
    item-item neighbour table — the memory-based counterpart of
    ``m_top_n``'s model-based serving, and the second half of the
    "users who bought X also bought Y" stack (``m_item_item_cooc``
    builds the neighbours; this query consumes them). Candidate score
    for item i is Σ over the user's history items j with i among j's
    top-k neighbours of sim(j,i)·w(u,j); items already in the history
    are anti-joined out (a recommender must not re-recommend the
    basket).

    Scale shape: the neighbour table is O(|items|·k) — item-dimension
    sized, the natural broadcast side of the history join; the only
    data-sized shuffle is the (uid, item) score aggregation, and the
    per-user top-N is one row_number window over ≤ CAP·k candidates
    per user. Parity: sim rides as integer hundred-thousandths and w
    is an integral double cast to BIGINT, so scores are EXACT integer
    sums in both engines and the (score desc, item asc) ranking can
    never flip on accumulation order; the reported double score is one
    exact division of that integer."""
    hist, capped, nbr = _cf_frames(spark, sf_dir)
    wts = hist.select(
        "uid", "iid", F.col("w").cast("long").alias("wi")
    )
    cand = (
        capped.join(
            F.broadcast(
                nbr.select(
                    F.col("item").alias("iid"),
                    F.col("neighbor").alias("item"),
                    F.round(F.col("jac") * 100000).cast("long").alias("js"),
                )
            ),
            "iid",
        )
        .join(wts, ["uid", "iid"])
        .groupBy("uid", "item")
        .agg(F.sum(F.col("js") * F.col("wi")).alias("s"))
    )
    novel = cand.join(
        hist.select("uid", F.col("iid").alias("item")),
        ["uid", "item"],
        "left_anti",
    )
    wr = Window.partitionBy("uid").orderBy(F.col("s").desc(), F.col("item"))
    return (
        novel.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _KNN_N)
        .select(
            F.col("uid").alias("user_id"),
            "item",
            F.col("s").cast("long").alias("score_scaled"),
            F.round(F.col("s") / 100000.0, 5).alias("score"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Serving-quality evaluation beyond accuracy: catalog coverage + Gini
# ---------------------------------------------------------------------------

_COV_K = 3

_COV_SQL = f"""
    WITH hist AS (
        SELECT l_suppkey AS uid, l_partkey AS iid,
               SUM(CAST(l_quantity AS DOUBLE)) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    top3 AS (
        SELECT uid, iid FROM (
            SELECT uid, iid,
                   row_number() OVER (PARTITION BY uid
                                      ORDER BY w DESC, iid) AS rn
            FROM hist)
        WHERE rn <= {_COV_K}
    ),
    reccnt AS (SELECT iid, count(*) AS x FROM top3 GROUP BY iid),
    ranked AS (
        SELECT x, row_number() OVER (ORDER BY x, iid) AS rnk FROM reccnt
    ),
    agg AS (
        SELECT count(*) AS k, sum(x) AS t, sum(rnk * x) AS s0 FROM ranked
    ),
    users AS (SELECT count(DISTINCT uid) AS n_users FROM top3),
    cat AS (SELECT count(*) AS n FROM part)
    SELECT CAST(n_users AS BIGINT) AS n_users,
           CAST(n AS BIGINT) AS n_catalog,
           CAST(k AS BIGINT) AS n_rec_items,
           round(CAST(k AS DOUBLE) / n, 6) AS coverage,
           round(2.0 * ((n - k) * t + s0) / (n * t) - (n + 1.0) / n, 6) AS gini
    FROM agg, users, cat
"""


@register("e_rec_coverage", _COV_SQL)
def e_rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-diversity evaluation of a top-k recommender: catalog
    coverage@k (what fraction of the catalog is ever served) and the
    Gini coefficient of the per-item recommendation distribution
    (popularity-bias concentration) — the two standard
    beyond-accuracy serving metrics alongside the reference's P@k/R@k
    (prac_2.py:124-138); a recommender can hit high P@k while serving
    only blockbusters, which is exactly what these detect.

    Recommendations are the deterministic per-user top-{_COV_K} items
    by implicit weight (the m_item_item_cooc framing). Gini uses the
    rank identity over the FULL catalog including never-served items:
    with x sorted ascending over all n items, zeros occupy ranks
    1..n−K, so Σ rank·x = (n−K)·T + Σ (local rank)·x over the served
    set — integer arithmetic end-to-end, one final division.

    Scale: top-k is one user-partitioned window; rec counts are an
    item-sized agg; the rank window is a single-partition sort of the
    ITEM-sized count table (dimension-scale — for a 10⁹-item catalog
    swap in operators.relational.global_running_total's two-phase
    rank). No row-sized data crosses a single-partition boundary."""
    hist = (
        _ratings(spark, sf_dir)
        .groupBy("uid", "iid")
        .agg(F.sum("r").alias("w"))
    )
    wtop = Window.partitionBy("uid").orderBy(F.col("w").desc(), F.col("iid"))
    top3 = (
        hist.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _COV_K)
        .select("uid", "iid")
        .transform(materialize, sf_dir)  # consumed twice: rec counts + distinct users
    )
    reccnt = top3.groupBy("iid").agg(F.count(F.lit(1)).alias("x"))
    ranked = reccnt.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("x"), F.col("iid")))
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("t"),
        F.sum(F.col("rnk") * F.col("x")).alias("s0"),
    )
    users = top3.agg(F.countDistinct("uid").alias("n_users"))
    cat = _t(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n"))
    n, k, t, s0 = F.col("n"), F.col("k"), F.col("t"), F.col("s0")
    return (
        agg.crossJoin(F.broadcast(users))
        .crossJoin(F.broadcast(cat))
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            n.cast("long").alias("n_catalog"),
            k.cast("long").alias("n_rec_items"),
            F.round(k.cast("double") / n, 6).alias("coverage"),
            F.round(
                F.lit(2.0) * ((n - k) * t + s0) / (n * t)
                - (n + F.lit(1.0)) / n,
                6,
            ).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# Prediction calibration table (reliability diagram data)
# ---------------------------------------------------------------------------

_CAL_BINS = 10

_CAL_SQL = f"""
    WITH {_ML_CTE},
    b AS (SELECT min(uv) AS lo, max(uv) AS hi FROM j),
    binned AS (
        SELECT least(CAST(floor((uv - lo) * {_CAL_BINS} / (hi - lo))
                          AS BIGINT), {_CAL_BINS - 1}) AS bucket,
               uv, r
        FROM j, b
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(uv), 4) AS avg_pred,
           round(avg(r), 4) AS avg_actual
    FROM binned GROUP BY bucket
"""


@register("e_calibration", _CAL_SQL)
def e_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model calibration table (reliability-diagram data): bucket the
    model's predicted scores into {_CAL_BINS} equal-width bins and
    compare mean prediction against mean observed rating per bin — the
    eval that catches a model whose RANKING is fine (P@k, NDCG green)
    but whose SCORES are systematically biased, which matters the
    moment scores cross model boundaries (A/B arms, ensembling,
    bid scaling).

    Reuses the M1 scoring join (_scored: fact table never shuffles,
    both factor lookups broadcast); the (min, max) scalar agg comes
    back as a broadcast and the per-bin reduction is one {_CAL_BINS}-
    row hash aggregate with map-side partials. avg of double streams
    rounds at 4 per the house float rule."""
    # Two passes are fundamental (bin edges need global min/max before
    # bucketing), but both must ride ONE materialised scoring pass —
    # unmaterialised, the (lo, hi) broadcast subquery inlined the whole
    # _scored lineage a second time (2× corpus scan+score per run;
    # plan: 6 parquet scans → 3, plans/r13/e_calibration_*). Round-13,
    # guide §2.4/§5.
    sc = (
        _scored(spark, sf_dir)
        .select("uv", "r")
        .transform(materialize, sf_dir)
    )
    b = sc.agg(F.min("uv").alias("lo"), F.max("uv").alias("hi"))
    lo, hi = F.col("lo"), F.col("hi")
    bucket = F.least(
        F.floor((F.col("uv") - lo) * _CAL_BINS / (hi - lo)).cast("long"),
        F.lit(_CAL_BINS - 1),
    )
    return (
        sc.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("uv"), 4).alias("avg_pred"),
            F.round(F.avg("r"), 4).alias("avg_actual"),
        )
    )


# ---------------------------------------------------------------------------
# ROC-AUC via the rank statistic (threshold-free ranking quality)
# ---------------------------------------------------------------------------

_AUC_POS = 25.0  # rating threshold defining a positive

_AUC_SQL = f"""
    WITH {_ML_CTE},
    lab AS (
        SELECT uv, CASE WHEN r >= {_AUC_POS} THEN 1 ELSE 0 END AS pos FROM j
    ),
    rk AS (
        SELECT pos,
               CAST(rank() OVER (ORDER BY uv) AS DOUBLE)
                 + (CAST(count(*) OVER (PARTITION BY uv) AS DOUBLE) - 1) / 2
                 AS midrank
        FROM lab
    )
    SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(1 - pos) AS BIGINT) AS n_neg,
           round((sum(CASE WHEN pos = 1 THEN midrank END)
                  - sum(pos) * (sum(pos) + 1) / 2.0)
                 / (sum(pos) * sum(1 - pos)), 6) AS auc
    FROM rk
"""


@register("e_auc", _AUC_SQL)
def e_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the model's scores against binarised relevance
    (rating ≥ {_AUC_POS:.0f}) via the Mann-Whitney rank identity
    AUC = (Σ ranks(pos) − Np(Np+1)/2) / (Np·Nn) — the threshold-free
    ranking metric between RMSE (calibration) and P@k (top-of-list),
    with midranks handling tied scores exactly as the rank-sum test
    does (E6).

    Scale shape: scores pre-aggregate per DISTINCT value with
    positive/total counts (hash agg), then
    ``operators.relational.two_phase_midrank`` ranks the distinct-value
    table with range partitions + per-partition offsets — no
    single-partition window over the data, the same shape that lets
    e_rank_sum handle a continuous score domain. The scoring join is
    _scored's broadcast plan; scores are bit-identical across engines
    (exact IEEE dot products), so ranking needs no pre-rounding."""
    from recommender_systems_spark.operators.relational import two_phase_midrank

    lab = _scored(spark, sf_dir).select(
        "uv", (F.col("r") >= _AUC_POS).cast("int").alias("pos")
    )
    per_value = lab.groupBy("uv").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("np")
    )
    ranked = two_phase_midrank(
        per_value, "uv", "cnt", approx_rows=table_rows(sf_dir, "lineitem")
    )
    return ranked.agg(
        F.sum("np").cast("long").alias("n_pos"),
        (F.sum("cnt") - F.sum("np")).cast("long").alias("n_neg"),
        F.round(
            (
                F.sum(F.col("np") * F.col("midrank"))
                - F.sum("np") * (F.sum("np") + 1) / 2.0
            )
            / (F.sum("np") * (F.sum("cnt") - F.sum("np"))),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Hyperparameter grid evaluation from one pass of sufficient statistics
# ---------------------------------------------------------------------------

_SWEEP_GRID = [(0.05, 0.005), (0.05, 0.02), (0.1, 0.01), (0.2, 0.01)]

_SWEEP_SQL = f"""
    WITH {_ML_CTE},
    users AS (SELECT DISTINCT uid FROM r),
    items AS (SELECT DISTINCT iid FROM r),
    upen AS (SELECT sum(list_dot_product(e.f, e.f)) AS fro,
                    sum(pow((CAST(uid * 17 AS BIGINT) % 13) * 0.05 - 0.3, 2)) AS b2
             FROM users JOIN e ON e.vec_id = uid % {EMB_MOD}),
    vpen AS (SELECT sum(list_dot_product(e.f, e.f)) AS fro,
                    sum(pow((CAST(iid * 29 AS BIGINT) % 11) * 0.04 - 0.2, 2)) AS b2
             FROM items JOIN e ON e.vec_id = iid % {EMB_MOD}),
    sse AS (SELECT sum(pow(uv + {_BU_SQL} + {_BV_SQL} - r, 2)) AS sse FROM j),
    grid(lmd, tau) AS (VALUES {", ".join(f"({l!r}, {t!r})" for l, t in _SWEEP_GRID)})
    SELECT grid.lmd, grid.tau,
           round(-({ALPHA} / 2) * (upen.b2 + vpen.b2)
                 - (grid.tau / 2) * (upen.fro + vpen.fro)
                 - (grid.lmd / 2) * sse.sse, 2) AS loglik
    FROM upen, vpen, sse, grid
"""


@register("m_hyperparam_sweep", _SWEEP_SQL)
def m_hyperparam_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter grid evaluation WITHOUT re-scanning: the
    regularised log-likelihood (A10) decomposes into three sufficient
    statistics — Σerr², ‖U‖²+‖V‖², ‖b‖² — none of which depend on
    (λ, τ), so the whole grid evaluates from ONE pass by crossing the
    1-row statistics with a literal grid table. This is the pattern
    that turns a 4-point sweep from 4 jobs into 1 at any scale (the
    reference's grid loops re-score per point, prac_1.py's λ/τ runs);
    picking argmax over the output is the driver's one-row read.

    Plan: the three aggregates of m_reg_loglik unchanged (shared
    _loglik_stats — independent unmaterialised branches that overlap
    as parallel stages of one job; see its adjudication note),
    one crossJoin with a {len(_SWEEP_GRID)}-row literal frame."""
    stats = _loglik_stats(spark, sf_dir)
    grid = spark.createDataFrame(_SWEEP_GRID, "lmd double, tau double")
    return (
        stats.crossJoin(F.broadcast(grid))
        .select("lmd", "tau", _loglik(F.col("lmd"), F.col("tau")).alias("loglik"))
    )


# ---------------------------------------------------------------------------
# Counterfactual offline evaluation (inverse propensity scoring)
# ---------------------------------------------------------------------------

_IPS_K = 10       # target policy: each user's top-k by model score
_IPS_REWARD = 25.0  # reward = rating >= threshold

_IPS_SQL = f"""
    WITH {_ML_CTE},
    pop AS (SELECT iid, count(*) AS c FROM r GROUP BY iid),
    npop AS (SELECT sum(c) AS n FROM pop),
    topk AS (
        SELECT uid, iid FROM (
            SELECT uid, iid,
                   row_number() OVER (PARTITION BY uid
                                      ORDER BY uv DESC, iid) AS rn
            FROM (SELECT uid, iid, max(uv) AS uv FROM j GROUP BY uid, iid))
        WHERE rn <= {_IPS_K}
    ),
    logged AS (
        SELECT j.uid, j.iid,
               CASE WHEN j.r >= {_IPS_REWARD} THEN 1.0 ELSE 0.0 END AS rew,
               CAST(pop.c AS DOUBLE) / npop.n AS p_log,
               CASE WHEN t.iid IS NOT NULL THEN 1.0 / {_IPS_K} ELSE 0.0 END
                   AS p_tgt
        FROM j
        JOIN pop ON pop.iid = j.iid CROSS JOIN npop
        LEFT JOIN topk t ON t.uid = j.uid AND t.iid = j.iid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_logged,
           CAST(sum(CASE WHEN p_tgt > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
           round(avg(rew), 6) AS v_logged,
           round(sum(rew * p_tgt / p_log) / count(*), 4) AS v_ips,
           round(sum(rew * p_tgt / p_log) / sum(p_tgt / p_log), 6) AS v_snips
    FROM logged
"""


@register("m_ips_eval", _IPS_SQL)
def m_ips_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual offline policy evaluation: estimate the value of
    the MODEL's top-{_IPS_K} policy from LOGGED interactions alone via
    inverse propensity scoring — V_IPS = E[r·π_target/π_logged] — plus
    the self-normalised variant (SNIPS) that tames the variance, and
    the logged policy's on-policy mean as the baseline. This is how a
    recommender change is evaluated BEFORE an A/B test spends traffic
    on it (the e_ab_simulation flow is the on-line counterpart).

    Logged propensities are the popularity distribution (one item-
    sized agg), the target policy is a per-user top-{_IPS_K} window
    over the model's scores, and the match flag is a LEFT join on the
    (uid, iid) pair — every probability is an exact integer ratio, so
    both engines weight identically; only the final estimators round.

    Scale: propensity and npop broadcast; the top-k window and the
    final reduction ride the scoring join's existing distribution —
    nothing fact-sized shuffles twice."""
    j = _scored(spark, sf_dir).transform(materialize, sf_dir)  # scored twice below
    pop = j.groupBy("iid").agg(F.count(F.lit(1)).alias("c"))
    npop = pop.agg(F.sum("c").alias("n"))
    wtop = Window.partitionBy("uid").orderBy(F.col("uv").desc(), "iid")
    # Rank DISTINCT (uid, iid) pairs: raw scored rows repeat a pair per
    # lineitem, and duplicate top-k rows would fan out the left join
    # below (inflating every estimator).
    topk = (
        j.groupBy("uid", "iid")
        .agg(F.max("uv").alias("uv"))
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _IPS_K)
        .select(F.col("uid").alias("tuid"), F.col("iid").alias("tiid"))
    )
    logged = (
        j.join(F.broadcast(pop), "iid")
        .crossJoin(F.broadcast(npop))
        .join(
            topk,
            (F.col("uid") == F.col("tuid")) & (F.col("iid") == F.col("tiid")),
            "left",
        )
        .select(
            F.when(F.col("r") >= _IPS_REWARD, 1.0).otherwise(0.0).alias("rew"),
            (F.col("c").cast("double") / F.col("n")).alias("p_log"),
            F.when(F.col("tiid").isNotNull(), 1.0 / _IPS_K)
            .otherwise(0.0)
            .alias("p_tgt"),
        )
    )
    w_ = F.col("p_tgt") / F.col("p_log")
    return logged.agg(
        F.count(F.lit(1)).cast("long").alias("n_logged"),
        F.sum(F.when(F.col("p_tgt") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.round(F.avg("rew"), 6).alias("v_logged"),
        F.round(F.sum(F.col("rew") * w_) / F.count(F.lit(1)), 4).alias("v_ips"),
        F.round(F.sum(F.col("rew") * w_) / F.sum(w_), 6).alias("v_snips"),
    )


@register("m_ials_train")  # no oracle: confidence-weighted training loop
def m_ials_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback ALS (Hu-Koren 2008; ml/ials.py) — the
    confidence-weighted companion to m_als_train (explicit) and
    m_bpr_train (pairwise-ranking) on the same lineitem-as-implicit
    signal: c = 1 + α·quantity, p = 1[observed]. 2 iterations, rank 8;
    returns the per-iteration exact objective (computed over ALL
    user×item pairs via the Gram identity — never materialising the
    unobserved majority). Rows-only driver check (alternating Arrow
    solves are not SQL-expressible); the golden test asserts the
    objective decreases monotonically, which exact alternating
    minimisation guarantees."""
    from recommender_systems_spark.ml.ials import train_ials

    r = _ratings(spark, sf_dir)
    _, _, history = train_ials(r, "uid", "iid", "r", rank=8, max_iter=2)
    rows = [(i + 1, round(v, 4)) for i, v in enumerate(history)]
    return spark.createDataFrame(rows, "iter int, objective double")


# ---------------------------------------------------------------------------
# Offline bandit replay evaluation (Li et al., WSDM 2011)
# ---------------------------------------------------------------------------

# Hash-uniform in [0,1) from the event id — the engine's standard
# engine-portable randomness (w_hash_shuffle's scheme).
_REPLAY_U = (
    "(CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) / 4294967296.0)"
)

_REPLAY_SQL = f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type AS arm, value,
               epoch_us(ts) AS us
        FROM events
    ),
    bounds AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
    train AS (SELECT ev.* FROM ev, bounds WHERE us < mid),
    eval_ AS (SELECT ev.* FROM ev, bounds WHERE us >= mid),
    astats AS (SELECT arm, round(avg(value), 6) AS m FROM train GROUP BY 1),
    arms AS (SELECT arm, row_number() OVER (ORDER BY arm) - 1 AS idx
             FROM astats),
    na AS (SELECT count(*) AS n FROM arms),
    gbest AS (SELECT arm FROM astats ORDER BY m DESC, arm LIMIT 1),
    ubest AS (
        SELECT user_id, arm FROM (
            SELECT user_id, arm,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY round(avg(value), 6) DESC, arm)
                       AS r
            FROM train GROUP BY user_id, arm)
        WHERE r = 1
    ),
    prop AS (
        SELECT e.event_id, e.arm AS logged, e.value,
               coalesce(u.arm, (SELECT arm FROM gbest)) AS greedy_arm,
               r.arm AS random_arm
        FROM eval_ e
        LEFT JOIN ubest u ON u.user_id = e.user_id
        JOIN na ON true
        JOIN arms r
          ON r.idx = CAST(floor({_REPLAY_U} * na.n) AS BIGINT)
    )
    SELECT 'greedy' AS policy,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN greedy_arm = logged THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           round(sum(CASE WHEN greedy_arm = logged THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS match_rate,
           round(sum(CASE WHEN greedy_arm = logged THEN value ELSE 0 END)
                 / greatest(sum(CASE WHEN greedy_arm = logged
                                     THEN 1 ELSE 0 END), 1), 6) AS est_reward
    FROM prop
    UNION ALL
    SELECT 'random',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN random_arm = logged THEN 1 ELSE 0 END)
                AS BIGINT),
           round(sum(CASE WHEN random_arm = logged THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6),
           round(sum(CASE WHEN random_arm = logged THEN value ELSE 0 END)
                 / greatest(sum(CASE WHEN random_arm = logged
                                     THEN 1 ELSE 0 END), 1), 6)
    FROM prop
"""


@register("e_bandit_replay", _REPLAY_SQL)
def e_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline bandit-policy evaluation by REPLAY (Li et al., WSDM
    2011): train a policy on the first half of the event log, then walk
    the second half and count only the events where the policy's
    proposed arm equals the logged arm — the unbiased estimator when
    logging is uniform, and the third offline-eval method in the engine
    next to m_ips_eval (propensity reweighting) and e_ab_report
    (online split). Two policies replay in one pass: per-user greedy
    (fallback: global best train arm) and hash-uniform random (the
    control).

    Scale shape: the time split is a 1-row bounds broadcast (no
    pre-shuffle); arm statistics are |arms|-sized broadcasts; the
    per-user favorite needs ONE user-keyed aggregate + window over the
    train half and joins back user-keyed; the random proposal is an
    in-scan md5 draw joined to the |arms|-row index table. Replay
    matching itself is a projection — nothing data-sized shuffles
    except the two keyed aggregates. Policy rankings order by ROUNDED
    means with arm tie-breaks, and the uniform draw is engine-portable
    md5, so both engines replay the identical action sequence."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("event_type").alias("arm"),
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    bounds = ev.agg(
        ((F.min("us") + F.max("us")) / 2).cast("long").alias("mid")
    )
    ev_b = ev.crossJoin(F.broadcast(bounds))
    train = ev_b.filter(F.col("us") < F.col("mid"))
    ev_eval = ev_b.filter(F.col("us") >= F.col("mid"))
    astats = train.groupBy("arm").agg(F.round(F.avg("value"), 6).alias("m"))
    arms = astats.select(
        "arm",
        (F.row_number().over(Window.orderBy("arm")) - 1).alias("idx"),
    )
    na = arms.agg(F.count(F.lit(1)).alias("n"))
    gbest = astats.orderBy(F.col("m").desc(), "arm").limit(1).select(
        F.col("arm").alias("gb")
    )
    wu = Window.partitionBy("user_id").orderBy(F.col("um").desc(), "arm")
    ubest = (
        train.groupBy("user_id", "arm")
        .agg(F.round(F.avg("value"), 6).alias("um"))
        .withColumn("r", F.row_number().over(wu))
        .filter(F.col("r") == 1)
        .select("user_id", F.col("arm").alias("ub"))
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        / F.lit(4294967296.0)
    )
    prop = (
        ev_eval.join(F.broadcast(ubest), "user_id", "left")
        .crossJoin(F.broadcast(gbest))
        .crossJoin(F.broadcast(na))
        .withColumn("greedy_arm", F.coalesce("ub", "gb"))
        .withColumn("ridx", F.floor(u * F.col("n")).cast("long"))
        .join(
            F.broadcast(arms.withColumnRenamed("arm", "random_arm")),
            F.col("ridx") == F.col("idx"),
        )
        .select(
            F.col("arm").alias("logged"), "value", "greedy_arm", "random_arm"
        )
        .transform(materialize, sf_dir)  # scanned twice (one pass per policy row)
    )

    def policy_row(name: str, col: str) -> DataFrame:
        hit = F.when(F.col(col) == F.col("logged"), 1).otherwise(0)
        return prop.agg(
            F.lit(name).alias("policy"),
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(hit).cast("long").alias("n_matched"),
            F.round(F.sum(hit) / F.count(F.lit(1)).cast("double"), 6).alias(
                "match_rate"
            ),
            F.round(
                F.sum(F.when(F.col(col) == F.col("logged"), F.col("value")).otherwise(0.0))
                / F.greatest(F.sum(hit), F.lit(1)),
                6,
            ).alias("est_reward"),
        )

    return policy_row("greedy", "greedy_arm").unionAll(
        policy_row("random", "random_arm")
    )


_NOV_SCALE = 1_000_000

_NOV_SQL = f"""
    WITH hist AS (
        SELECT l_suppkey AS uid, l_partkey AS iid,
               SUM(CAST(l_quantity AS DOUBLE)) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    top3 AS (
        SELECT uid, iid FROM (
            SELECT uid, iid,
                   row_number() OVER (PARTITION BY uid
                                      ORDER BY w DESC, iid) AS rn
            FROM hist)
        WHERE rn <= {_COV_K}
    ),
    pop AS (SELECT iid, CAST(count(*) AS BIGINT) AS p FROM hist GROUP BY iid),
    tot AS (SELECT sum(p) AS t FROM pop),
    bits AS (
        SELECT iid,
               CAST(round(log2(CAST(t AS DOUBLE) / p) * {_NOV_SCALE}) AS BIGINT)
                   AS b
        FROM pop CROSS JOIN tot
    )
    SELECT CAST(count(DISTINCT r.uid) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_recs,
           round(CAST(sum(b.b) AS DOUBLE) / count(*) / {_NOV_SCALE}, 4)
               AS avg_novelty_bits
    FROM top3 r JOIN bits b ON b.iid = r.iid
"""


@register("e_rec_novelty", _NOV_SQL)
def e_rec_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation novelty@k: the mean self-information
    −log₂(pop(i)/Σpop) of the items a top-k recommender serves — the
    third beyond-accuracy serving metric next to coverage and Gini
    (e_rec_coverage): a recommender that only serves blockbusters
    scores near the catalog's minimum bits even with perfect
    coverage. Same deterministic top-{_COV_K} recommendations as
    e_rec_coverage.

    Scale shape: popularity is an item-sized aggregate; per-item bits
    are integer millionths (t_surprisal convention) so the rec-set sum
    is exact integer arithmetic; the scoring join is item-keyed
    against the item-sized bits table (broadcast at any catalog that
    fits the Zipf-head rule)."""
    hist = (
        _ratings(spark, sf_dir)
        .groupBy("uid", "iid")
        .agg(F.sum("r").alias("w"))
        .transform(materialize, sf_dir)  # consumed twice: top-k + popularity
    )
    wtop = Window.partitionBy("uid").orderBy(F.col("w").desc(), F.col("iid"))
    topk = (
        hist.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _COV_K)
        .select("uid", "iid")
    )
    pop = hist.groupBy("iid").agg(F.count(F.lit(1)).alias("p"))
    tot = pop.agg(F.sum("p").alias("t"))
    bits = pop.crossJoin(F.broadcast(tot)).select(
        "iid",
        F.round(F.log2(F.col("t").cast("double") / F.col("p")) * _NOV_SCALE)
        .cast("long")
        .alias("b"),
    )
    return topk.join(F.broadcast(bits), "iid").agg(
        F.count_distinct("uid").alias("n_users"),
        F.count(F.lit(1)).alias("n_recs"),
        F.round(
            F.sum("b").cast("double") / F.count(F.lit(1)) / _NOV_SCALE, 4
        ).alias("avg_novelty_bits"),
    )


# ---------------------------------------------------------------------------
# m_slope_one — Slope One collaborative filtering (Lemire & Maclachlan 2005)
# ---------------------------------------------------------------------------

_SO_MIN_CORATE = 2
_SO_TOPK = 5
_SO_USERS = 30

_SLOPE_ONE_SQL = f"""
    WITH hist AS (
        SELECT l_suppkey AS uid, l_partkey AS iid,
               CAST(SUM(l_quantity) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    capped AS (
        SELECT uid, iid, w FROM (
            SELECT uid, iid, w,
                   row_number() OVER (PARTITION BY uid
                                      ORDER BY w DESC, iid) AS rn
            FROM hist)
        WHERE rn <= {_CF_CAP}
    ),
    devs AS (
        SELECT a.iid AS ia, b.iid AS ib,
               COUNT(*) AS n, SUM(a.w - b.w) AS sd
        FROM capped a JOIN capped b
          ON a.uid = b.uid AND a.iid <> b.iid
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_SO_MIN_CORATE}
    ),
    sample_hist AS (SELECT * FROM capped WHERE uid < {_SO_USERS}),
    cand AS (
        SELECT h.uid, d.ia AS iid,
               SUM(h.w * d.n + d.sd) AS num, SUM(d.n) AS den
        FROM sample_hist h JOIN devs d ON d.ib = h.iid
        GROUP BY 1, 2
    ),
    fresh AS (
        SELECT c.uid, c.iid, c.num, c.den
        FROM cand c
        LEFT JOIN sample_hist h ON h.uid = c.uid AND h.iid = c.iid
        WHERE h.iid IS NULL
    ),
    scored AS (
        SELECT uid, iid,
               CAST(round(1000000.0 * num / den) AS BIGINT) AS pred_micros,
               den AS support
        FROM fresh
    )
    SELECT CAST(uid AS BIGINT) AS uid, CAST(iid AS BIGINT) AS item,
           round(pred_micros / 1000000.0, 6) AS pred,
           CAST(support AS BIGINT) AS support, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY uid
                                       ORDER BY pred_micros DESC, iid) AS rnk
          FROM scored)
    WHERE rnk <= {_SO_TOPK}
"""


@register("m_slope_one", _SLOPE_ONE_SQL)
def m_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Slope One collaborative filtering (Lemire & Maclachlan
    2005): precompute per-item-pair average rating deviations
    dev(i,j) = Σ(wᵢ−wⱼ)/n over co-raters, then predict
    pred(u,i) = Σⱼ(w_uj·n_ij + sd_ij) / Σⱼ n_ij over the user's
    history — the classic "model is an aggregation" recommender (the
    deviation TABLE is the model), complementing the latent-factor
    trainers (ALS/BPR) and the similarity-ranked m_item_knn_recs with
    the third classical CF family.

    Scale shape: the deviation build is the capped-history pair
    self-join (≤{_CF_CAP}² pairs per user — the m_item_item_cooc
    bound) with a co-rate support floor; serving joins the sampled
    histories against the item-keyed deviation table and aggregates
    k-bounded candidate groups; seen items drop via one anti-join.
    Parity: quantities are integral, so n, sd, num and den are exact
    integers; predictions rank on integer micros of one exact-operand
    division with total (pred, iid) tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.col("l_suppkey").alias("uid"), F.col("l_partkey").alias("iid")
    ).agg(F.sum("l_quantity").cast("long").alias("w"))
    wcap = Window.partitionBy("uid").orderBy(F.col("w").desc(), F.col("iid"))
    # Round-13 adjudication: the _cf_frames basket-array rewrite was
    # applied here (half-pair explode + mirrored deviation table) and
    # measured **1.41× slower** on a 5-rep isolated interleaved run —
    # unlike the cooc funnel, the self-join below shuffles rows that
    # the CAP window has ALREADY bounded to users×CAP (not the corpus),
    # so the rewrite saved little shuffle while paying collect_list +
    # struct-array explode CPU and two extra checkpoint actions.
    # Reverted to the capped self-join.
    capped = (
        hist.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _CF_CAP)
        .select("uid", "iid", "w")
        # consumers: devs self-join ×2, sample, anti-join
        .transform(materialize, sf_dir)
    )
    devs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.uid") == F.col("b.uid"))
            & (F.col("a.iid") != F.col("b.iid")),
        )
        .groupBy(F.col("a.iid").alias("ia"), F.col("b.iid").alias("ib"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a.w") - F.col("b.w")).alias("sd"),
        )
        .filter(F.col("n") >= _SO_MIN_CORATE)
    )
    sample_hist = capped.filter(F.col("uid") < _SO_USERS)
    cand = (
        sample_hist.join(devs, sample_hist["iid"] == devs["ib"])
        .groupBy("uid", F.col("ia").alias("cand_iid"))
        .agg(
            F.sum(F.col("w") * F.col("n") + F.col("sd")).alias("num"),
            F.sum("n").alias("den"),
        )
    )
    fresh = cand.join(
        sample_hist.select("uid", F.col("iid").alias("cand_iid")),
        ["uid", "cand_iid"],
        "left_anti",
    )
    scored = fresh.select(
        "uid",
        F.col("cand_iid").alias("item"),
        F.round(1000000.0 * F.col("num") / F.col("den"))
        .cast("long")
        .alias("pred_micros"),
        F.col("den").alias("support"),
    )
    wr = Window.partitionBy("uid").orderBy(
        F.col("pred_micros").desc(), F.col("item")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _SO_TOPK)
        .select(
            F.col("uid").cast("long").alias("uid"),
            F.col("item").cast("long").alias("item"),
            F.round(F.col("pred_micros") / 1000000.0, 6).alias("pred"),
            F.col("support").cast("long").alias("support"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# PR-curve threshold sweep (operating-point selection in one pass)
# ---------------------------------------------------------------------------

_TS_K = 9  # decile thresholds between min and max score

_TS_SQL = f"""
    WITH {_ML_CTE},
    lab AS (
        SELECT uv, CASE WHEN r >= {_AUC_POS} THEN 1 ELSE 0 END AS pos FROM j
    ),
    b AS (SELECT min(uv) AS lo, max(uv) AS hi FROM lab),
    ks AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in range(1, _TS_K + 1))}) t(k)),
    m AS (
        SELECT k,
               round(min(lo + k * (hi - lo) / 10.0), 6) AS thr,
               sum(CASE WHEN uv >= lo + k * (hi - lo) / 10.0
                        THEN pos ELSE 0 END) AS tp,
               sum(CASE WHEN uv >= lo + k * (hi - lo) / 10.0
                        THEN 1 - pos ELSE 0 END) AS fp,
               sum(CASE WHEN uv < lo + k * (hi - lo) / 10.0
                        THEN pos ELSE 0 END) AS fn
        FROM lab, b, ks GROUP BY k
    )
    SELECT CAST(k AS INT) AS k, thr,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CASE WHEN tp + fp > 0
                THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
           CASE WHEN tp + fn > 0
                THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS rec,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
    FROM m
"""


@register("e_threshold_sweep", _TS_SQL)
def e_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR-curve data: precision/recall/F1 at {_TS_K} decile thresholds
    between the min and max model score — the operating-point sweep
    between e_auc (threshold-free ranking) and e_confusion_matrix (one
    fixed threshold). F1 uses the direct 2tp/(2tp+fp+fn) form so the
    guard is a single integer condition.

    Scale shape: ONE scan computes all {_TS_K}×3 counters as
    conditional aggregates (map-side partials — no per-threshold pass,
    no row replication; the oracle's cross-join form is the same math
    at 9× rows), after the (min, max) scalar broadcast; the sweep
    table is unpivoted from the single 1-row aggregate with stack().
    Scores are exact IEEE dot products on both engines (the e_auc
    contract), so threshold comparisons need no pre-rounding."""
    # Same shape as e_calibration: materialise the scored frame once so
    # the (lo, hi) broadcast subquery doesn't inline the scoring
    # lineage a second time (round-13, guide §2.4/§5).
    sc = _scored(spark, sf_dir).select(
        "uv", (F.col("r") >= _AUC_POS).cast("int").alias("pos")
    ).transform(materialize, sf_dir)
    b = sc.agg(F.min("uv").alias("lo"), F.max("uv").alias("hi"))
    j = sc.crossJoin(F.broadcast(b))
    aggs = []
    for k in range(1, _TS_K + 1):
        thr = F.col("lo") + k * (F.col("hi") - F.col("lo")) / 10.0
        ge = F.col("uv") >= thr
        aggs += [
            F.round(F.min(thr), 6).alias(f"thr{k}"),
            F.sum(F.when(ge, F.col("pos")).otherwise(0)).alias(f"tp{k}"),
            F.sum(F.when(ge, 1 - F.col("pos")).otherwise(0)).alias(f"fp{k}"),
            F.sum(F.when(~ge, F.col("pos")).otherwise(0)).alias(f"fn{k}"),
        ]
    row = j.agg(*aggs)
    cells = ", ".join(
        f"{k}, thr{k}, tp{k}, fp{k}, fn{k}" for k in range(1, _TS_K + 1)
    )
    m = row.selectExpr(f"stack({_TS_K}, {cells}) AS (k, thr, tp, fp, fn)")
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return m.select(
        F.col("k").cast("int").alias("k"),
        "thr",
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.when(tp + fp > 0, F.round(tp.cast("double") / (tp + fp), 6)).alias(
            "prec"
        ),
        F.when(tp + fn > 0, F.round(tp.cast("double") / (tp + fn), 6)).alias(
            "rec"
        ),
        F.when(
            2 * tp + fp + fn > 0,
            F.round(2.0 * tp / (2 * tp + fp + fn), 6),
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Skip-gram (center, context) pair extraction — item2vec training prep
# ---------------------------------------------------------------------------

_SG_WINDOW = 2    # context window ± positions
_SG_MAXPOS = 64   # per-customer sequence cap (bounds skew AND pairs)
_SG_TOPK = 100

_SG_SQL = f"""
    WITH seq AS (
        SELECT o.o_custkey AS c, l.l_partkey AS item,
               row_number() OVER (
                   PARTITION BY o.o_custkey
                   ORDER BY o.o_orderdate, o.o_orderkey, l.l_linenumber,
                            l.l_partkey
               ) AS pos
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    capped AS (SELECT * FROM seq WHERE pos <= {_SG_MAXPOS}),
    offs AS (SELECT * FROM (VALUES {", ".join(f"({d})" for d in range(-_SG_WINDOW, _SG_WINDOW + 1) if d)}) t(d)),
    pairs AS (
        SELECT a.item AS center, b.item AS context
        FROM capped a CROSS JOIN offs
        JOIN capped b ON b.c = a.c AND b.pos = a.pos + offs.d
    ),
    counted AS (
        SELECT center, context, count(*) AS n FROM pairs
        GROUP BY center, context
    )
    SELECT CAST(center AS BIGINT) AS center,
           CAST(context AS BIGINT) AS context,
           CAST(n AS BIGINT) AS n,
           CAST(row_number() OVER (ORDER BY n DESC, center, context) AS INT)
               AS rnk
    FROM counted
    ORDER BY n DESC, center, context LIMIT {_SG_TOPK}
"""


@register("m_skipgram_pairs", _SG_SQL)
def m_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair extraction — the training-data
    prep for item2vec/SGNS embeddings (Mikolov-style windowed pairs
    over each customer's chronological item sequence, the sequence
    analogue of m_item_item_cooc's unordered baskets). Sequence order
    is the total (o_orderdate, o_orderkey, l_linenumber); the ±
    {_SG_WINDOW} context window becomes an offset EXPLODE + EQUI-join
    on (customer, position) — never an inequality join.

    Scale shape: the per-customer row_number window is bounded by the
    {_SG_MAXPOS}-position sequence cap (also bounding pair growth to
    2w·cap per customer — the standard long-tail guard a production
    item2vec pipeline applies before pair generation); pair counting
    is one hash aggregate on (center, context) and the final ranking
    is orderBy().limit() → TakeOrderedAndProject."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"), "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_partkey", "l_linenumber"
    )
    # (orderkey, linenumber) is NOT unique in the synthetic data —
    # l_partkey completes the total order (further ties share the same
    # item, so the sequence is unaffected).
    w = Window.partitionBy("c").orderBy(
        "o_orderdate", "o_orderkey", "l_linenumber", "l_partkey"
    )
    capped = (
        orders.join(li, "o_orderkey")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _SG_MAXPOS)
        .select("c", F.col("l_partkey").alias("item"), "pos")
    )
    # Pair generation stays INSIDE the customer partitioning the
    # row_number window already paid for: collect the capped sequence
    # per customer (groupBy(c) rides the existing hashpartitioning(c)
    # — no new exchange) and emit each position's ±window context
    # pairs with index-aware array HOFs, all JVM-side. The r12 shape
    # (offset explode + equi-join on (c, ctx_pos)) re-shuffled BOTH
    # data-sized sides onto a new key; this keeps one corpus exchange
    # (the window) + the channel-pair count.
    seqs = capped.groupBy("c").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "item"))
        ).alias("seq")
    )
    n = F.size("seq")
    pairs = F.flatten(
        F.transform(
            "seq",
            lambda x, i: F.filter(
                F.transform(
                    # ±window slice around i (1-based slice; length
                    # clipped at the tail), self removed by pos.
                    F.slice(
                        "seq",
                        F.greatest(i - _SG_WINDOW + 1, F.lit(1)),
                        F.least(i + _SG_WINDOW + 1, n)
                        - F.greatest(i - _SG_WINDOW + 1, F.lit(1))
                        + 1,
                    ),
                    lambda y: F.struct(
                        x["item"].alias("center"),
                        y["item"].alias("context"),
                        y["pos"].alias("ctx_pos"),
                    ),
                ),
                lambda p: p["ctx_pos"] != x["pos"],
            ),
        )
    )
    counted = (
        seqs.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.center").alias("center"),
            F.col("p.context").alias("context"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), F.col("center"), F.col("context"))
    top = counted.orderBy(
        F.col("n").desc(), F.col("center"), F.col("context")
    ).limit(_SG_TOPK)
    return top.withColumn("rnk", F.row_number().over(wr)).select(
        F.col("center").cast("long").alias("center"),
        F.col("context").cast("long").alias("context"),
        F.col("n").cast("long").alias("n"),
        F.col("rnk").cast("int").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# Decile gains / lift table (campaign-targeting operating curve)
# ---------------------------------------------------------------------------

_LIFT_SQL = f"""
    WITH {_ML_CTE},
    lab AS (
        SELECT uv, CASE WHEN r >= {_AUC_POS} THEN 1 ELSE 0 END AS pos FROM j
    ),
    per AS (SELECT uv, count(*) AS c, sum(pos) AS np FROM lab GROUP BY uv),
    tot AS (SELECT sum(c) AS n, sum(np) AS np_t FROM per),
    rk AS (
        SELECT uv, c, np,
               coalesce(sum(c) OVER (ORDER BY uv DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS bef
        FROM per
    ),
    dec AS (
        SELECT CAST(floor(bef * 10.0 / tot.n) AS INT) AS decile, c, np
        FROM rk, tot
    ),
    g AS (SELECT decile, sum(c) AS n_rows, sum(np) AS n_pos
          FROM dec GROUP BY decile)
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_pos AS BIGINT) AS n_pos,
           round(CAST(n_pos AS DOUBLE) / n_rows, 6) AS resp_rate,
           CASE WHEN tot.np_t > 0
                THEN round((CAST(n_pos AS DOUBLE) / n_rows)
                           / (CAST(tot.np_t AS DOUBLE) / tot.n), 6)
           END AS lift,
           CASE WHEN tot.np_t > 0
                THEN round(CAST(sum(n_pos) OVER (ORDER BY decile
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS DOUBLE) / tot.np_t, 6)
           END AS cum_gain
    FROM g, tot
"""


@register("e_lift_curve", _LIFT_SQL)
def e_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table: rows ranked by model score (descending),
    cut into 10 population deciles, each reporting response rate, lift
    over the base rate, and cumulative gain — the campaign-targeting
    curve between e_auc (one number) and e_threshold_sweep (score-axis
    operating points); deciles cut the POPULATION axis, which is what a
    fixed-budget targeting decision consumes.

    Scale shape: scores pre-aggregate per DISTINCT value (hash agg),
    ``two_phase_midrank`` ranks the distinct-value table with range
    partitions + per-partition offsets — no single-partition window
    over data at any size (the e_auc shape); each value group lands in
    the decile of its FIRST row (exact integer boundary arithmetic, so
    ties never straddle engines). The final cumulative window runs on
    the 10-row decile frame. All rates divide exact integer sums."""
    from recommender_systems_spark.operators.relational import two_phase_midrank

    lab = _scored(spark, sf_dir).select(
        "uv", (F.col("r") >= _AUC_POS).cast("int").alias("pos")
    )
    per = lab.groupBy("uv").agg(
        F.count(F.lit(1)).alias("c"), F.sum("pos").alias("np")
    )
    # Grand totals ride two_phase_midrank's own per-partition offsets
    # collect (round-13): exact driver integers, so neither total needs
    # an in-plan aggregate — the old tot broadcast re-executed the
    # phase-2 midrank window (distinct-score-sized, ≈ corpus here since
    # scores are near-unique doubles) once per reference. Aggregating
    # `per` directly would be worse still — that re-executes the full
    # scoring join (measured 9.1 s vs 4.6 s, round-12 note).
    ranked, tots = two_phase_midrank(
        per, "uv", "c", total_sums=["np"],
        approx_rows=table_rows(sf_dir, "lineitem"),
    )
    n_lit = F.lit(tots["c"]).cast("long")
    npt = tots["np"]
    # midrank = asc_before + (c+1)/2  →  rows strictly ABOVE this value
    # (descending rank start) = n − asc_before − c, all exact integers.
    asc_before = (
        F.col("midrank") - (F.col("c").cast("double") + 1) / 2
    ).cast("long")
    bef = n_lit - asc_before - F.col("c")
    dec = ranked.select(
        F.floor(bef * 10.0 / n_lit).cast("int").alias("decile"),
        "c",
        "np",
    )
    g = dec.groupBy("decile").agg(
        F.sum("c").alias("n_rows"), F.sum("np").alias("n_pos")
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # 10-row decile frame — bounded by construction
    np_t, n_t = F.lit(npt).cast("long"), n_lit
    return (
        g
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round(F.col("n_pos").cast("double") / F.col("n_rows"), 6).alias(
                "resp_rate"
            ),
            F.when(
                np_t > 0,
                F.round(
                    (F.col("n_pos").cast("double") / F.col("n_rows"))
                    / (np_t.cast("double") / n_t),
                    6,
                ),
            ).alias("lift"),
            F.when(
                np_t > 0,
                F.round(
                    F.sum("n_pos").over(w_cum).cast("double") / np_t, 6
                ),
            ).alias("cum_gain"),
        )
    )


# ---------------------------------------------------------------------------
# Content-based item kNN (cold-start recommendations from attributes)
# ---------------------------------------------------------------------------

_CB_TOPK = 5
_CB_SIZE_TOL = 2
_CB_PRICE_TOL = 50.0

_CONTENT_SQL = f"""
    WITH p AS (
        SELECT p_partkey AS pk, p_brand AS brand, p_type AS typ,
               split_part(p_type, ' ', 1) AS tw,
               CAST(floor(p_size / {_CB_SIZE_TOL}) AS BIGINT) AS szb,
               CAST(floor(p_retailprice / {_CB_PRICE_TOL}) AS BIGINT) AS prb
        FROM part
    ),
    pairs AS (
        SELECT a.pk AS p1, b.pk AS p2,
               (CASE WHEN a.typ = b.typ THEN 2 ELSE 0 END
                + CASE WHEN a.szb = b.szb THEN 1 ELSE 0 END
                + CASE WHEN a.prb = b.prb THEN 1 ELSE 0 END) AS sim
        FROM p a JOIN p b
          ON a.brand = b.brand AND a.tw = b.tw AND a.pk <> b.pk
    ),
    ranked AS (
        SELECT p1, p2, sim,
               row_number() OVER (PARTITION BY p1
                                  ORDER BY sim DESC, p2) AS rnk
        FROM pairs WHERE sim >= 2
    )
    SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
           CAST(sim AS INT) AS sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {_CB_TOPK}
"""


@register("m_content_recs", _CONTENT_SQL)
def m_content_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based item kNN: top-{_CB_TOPK} neighbours per item from
    catalog ATTRIBUTES alone (brand/type equality, size and price
    bands) — the cold-start fallback that serves items with no
    interaction history, complementing m_item_knn_recs (collaborative)
    and m_content-free ALS factors. Similarity is an integer attribute
    score; candidates with sim < 2 (attribute-noise matches) are
    dropped before ranking.

    Scale shape — TUPLE-level candidate enumeration: similarity is a
    function of the banded attribute tuple (brand, type word, type,
    size band, price band) alone, and items sharing a tuple are
    interchangeable as candidates. So pair work runs on the DISTINCT
    tuple frame (bounded by the attribute space, NOT the catalog —
    7,132 tuples at both sf0.1 and sf1): tuple pairs equi-join on
    (brand, type word); per SOURCE tuple, the top-(k+1) candidates by
    (sim desc, p2) expand from each candidate tuple's k+1
    SMALLEST-pk members (sufficient for any member's global top-k:
    within a tuple every member has the same sim to any source, so
    only the smallest p2s can rank, +1 for self-exclusion); items then
    join their source tuple's capped candidate list — k+1 rows per
    item. Any item-level attribute-blocked join is quadratic on a
    saturated attribute space (the original shape measured 93× at a
    10× tiling; this one is ~constant pair work + O(N) expansion).
    Per-item ranking partitions by p1 — no global window anywhere."""
    attrs = ["brand", "tw", "typ", "szb", "prb"]
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("typ"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("tw"),
        F.floor(F.col("p_size") / _CB_SIZE_TOL).cast("long").alias("szb"),
        F.floor(F.col("p_retailprice") / _CB_PRICE_TOL).cast("long").alias("prb"),
    )  # three consumers re-derive this cheap projection from the scan
    wm = Window.partitionBy(*attrs).orderBy("pk")
    mem = (
        p.withColumn("rm", F.row_number().over(wm))
        .filter(F.col("rm") <= _CB_TOPK + 1)
        .select(*attrs, F.col("pk").alias("p2"))
    )
    tup = p.select(*attrs).distinct()
    ta, tb = tup.alias("a"), tup.alias("b")
    sim = (
        F.when(F.col("a.typ") == F.col("b.typ"), 2).otherwise(0)
        + F.when(F.col("a.szb") == F.col("b.szb"), 1).otherwise(0)
        + F.when(F.col("a.prb") == F.col("b.prb"), 1).otherwise(0)
    )
    tpairs = (
        ta.join(
            tb,
            (F.col("a.brand") == F.col("b.brand"))
            & (F.col("a.tw") == F.col("b.tw")),
        )
        .select(
            *[F.col(f"a.{c}").alias(c) for c in attrs],
            *[F.col(f"b.{c}").alias(f"b_{c}") for c in attrs],
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= 2)
    )
    cand = tpairs.join(
        mem.select(
            *[F.col(c).alias(f"b_{c}") for c in attrs], "p2"
        ),
        [f"b_{c}" for c in attrs],
    ).select(*attrs, "p2", "sim")
    wt = Window.partitionBy(*attrs).orderBy(F.col("sim").desc(), F.col("p2"))
    cand6 = (
        cand.withColumn("rc", F.row_number().over(wt))
        .filter(F.col("rc") <= _CB_TOPK + 1)
        .drop("rc")
    )
    out = (
        p.join(cand6, attrs)
        .filter(F.col("pk") != F.col("p2"))
        .select(F.col("pk").alias("p1"), "p2", "sim")
    )
    w = Window.partitionBy("p1").orderBy(F.col("sim").desc(), F.col("p2"))
    return (
        out.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _CB_TOPK)
        .select(
            F.col("p1").cast("long").alias("p1"),
            F.col("p2").cast("long").alias("p2"),
            F.col("sim").cast("int").alias("sim"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Leave-last-out evaluation of the popularity baseline
# ---------------------------------------------------------------------------

_LOO_K = 10

_LOO_SQL = f"""
    WITH inter AS (
        SELECT o.o_custkey AS c, l.l_partkey AS item,
               o.o_orderdate AS dt, o.o_orderkey AS ok, l.l_linenumber AS ln
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    marked AS (
        SELECT c, item,
               row_number() OVER (
                   PARTITION BY c
                   ORDER BY dt DESC, ok DESC, ln DESC, item DESC
               ) AS rn
        FROM inter
    ),
    test AS (SELECT c, item FROM marked WHERE rn = 1),
    train AS (SELECT c, item FROM marked WHERE rn > 1),
    pop AS (
        SELECT item, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, item) AS rnk
        FROM train GROUP BY item
    ),
    topk AS (SELECT item, rnk FROM pop WHERE rnk <= {_LOO_K}),
    hits AS (
        SELECT t.c, k.rnk FROM test t JOIN topk k ON k.item = t.item
    )
    SELECT CAST((SELECT count(*) FROM test) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS hits,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM test), 6) AS hit_rate,
           round(CAST(coalesce(sum(CAST(round(1000000.0 / rnk) AS BIGINT)), 0)
                      AS DOUBLE)
                 / 1000000.0 / (SELECT count(*) FROM test), 6) AS mrr
    FROM hits
"""


@register("m_loo_eval", _LOO_SQL)
def m_loo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-out evaluation protocol: each customer's
    chronologically LAST interaction is held out as the test item, the
    popularity baseline is fit on everything else, and the held-out
    items are scored with hit-rate@{_LOO_K} and MRR@{_LOO_K} — the
    standard offline recsys evaluation split (the protocol behind the
    reference's train/test RMSE discipline, applied to ranking), and
    the baseline every personalized model must beat.

    Scale shape: the hold-out marker is ONE per-user window (user
    shuffle, no global sort); popularity is a hash count + top-{_LOO_K}
    TakeOrdered; the hit join runs the test set against a broadcast
    {_LOO_K}-row list. Reciprocal ranks are integer micro-scaled before
    summing (exact, order-free — the t_surprisal convention)."""
    inter = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c"), "o_orderkey", "o_orderdate")
        .join(
            _t(spark, sf_dir, "lineitem").select(
                F.col("l_orderkey").alias("o_orderkey"),
                "l_partkey",
                "l_linenumber",
            ),
            "o_orderkey",
        )
        .select(
            "c",
            F.col("l_partkey").alias("item"),
            F.col("o_orderdate").alias("dt"),
            F.col("o_orderkey").alias("ok"),
            F.col("l_linenumber").alias("ln"),
        )
    )
    w = Window.partitionBy("c").orderBy(
        F.col("dt").desc(), F.col("ok").desc(), F.col("ln").desc(),
        F.col("item").desc(),
    )
    marked = materialize(
        inter.withColumn("rn", F.row_number().over(w)), sf_dir
    )
    test = marked.filter(F.col("rn") == 1).select("c", "item")
    train = marked.filter(F.col("rn") > 1).select("c", "item")
    pop = train.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    topk = (
        pop.orderBy(F.col("n").desc(), F.col("item"))
        .limit(_LOO_K)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("item"))
            ),  # {_LOO_K}-row frame — bounded by construction
        )
        .select("item", "rnk")
    )
    n_users = test.count()
    hits = test.join(F.broadcast(topk), "item")
    return hits.agg(
        F.lit(n_users).cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("hits"),
        F.round(F.count(F.lit(1)).cast("double") / n_users, 6).alias("hit_rate"),
        F.round(
            F.coalesce(
                F.sum(F.round(1000000.0 / F.col("rnk")).cast("long")), F.lit(0)
            ).cast("double")
            / 1000000.0
            / n_users,
            6,
        ).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# m_decision_stump — exhaustive best-split search (tree-model family)
# ---------------------------------------------------------------------------

# Feature binning widths — splits are searched on the binned grid, the
# standard scale move (XGBoost/LightGBM histogram method): candidate
# thresholds are bin boundaries, so split search cost is bounded by the
# BIN space, never the row count.
_STUMP_PRICE_BAND = 1000

# Shared by m_decision_stump (root only) and m_tree_depth2 (two levels).
_STUMP_BASE_SQL = f"""
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y,
               CAST(floor(o_totalprice / {_STUMP_PRICE_BAND}) AS BIGINT) AS pb,
               CAST(month(o_orderdate) AS BIGINT) AS mn,
               CAST(day(o_orderdate) AS BIGINT) AS dy
        FROM orders
"""


def _stump_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned (y, price-band, month, day) features — one orders scan."""
    return _t(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
        F.floor(F.col("o_totalprice") / _STUMP_PRICE_BAND).alias("pb"),
        F.month("o_orderdate").cast("long").alias("mn"),
        F.dayofmonth("o_orderdate").cast("long").alias("dy"),
    )


_STUMP_SQL = f"""
    WITH base AS (
        {_STUMP_BASE_SQL}
    ),
    m AS (
        SELECT 'price_band' AS feature, pb AS bin, y FROM base
        UNION ALL SELECT 'order_month', mn, y FROM base
        UNION ALL SELECT 'order_day', dy, y FROM base
    ),
    g AS (SELECT feature, bin, COUNT(*) AS n, SUM(y) AS pos
          FROM m GROUP BY 1, 2),
    c AS (SELECT feature, bin,
                 SUM(n) OVER w AS cn, SUM(pos) OVER w AS cp,
                 SUM(n) OVER (PARTITION BY feature) AS nt,
                 SUM(pos) OVER (PARTITION BY feature) AS pt
          FROM g
          WINDOW w AS (PARTITION BY feature ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (SELECT feature, bin AS threshold, nt,
                 least(cp, cn - cp)
                 + least(pt - cp, (nt - cn) - (pt - cp)) AS errors
          FROM c WHERE cn < nt),
    b AS (SELECT feature, threshold, errors, nt,
                 row_number() OVER (PARTITION BY feature
                                    ORDER BY errors, threshold) AS rn
          FROM s)
    SELECT feature, threshold, CAST(errors AS BIGINT) AS errors,
           CAST(nt AS BIGINT) AS n,
           round(1.0 - errors / CAST(nt AS DOUBLE), 6) AS acc
    FROM b WHERE rn = 1
"""


@register("m_decision_stump", _STUMP_SQL)
def m_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive decision-stump training — the best axis-aligned split
    per feature for predicting urgent orders (y = o_orderpriority in
    {1-URGENT, 2-HIGH}), i.e. one boosting round of a tree ensemble
    and the missing tree-model family next to the linear/NB/kNN
    trainers. Features are histogram-binned (the XGBoost/LightGBM
    scale move): price band, order month, order day-of-month;
    candidate thresholds are bin boundaries ("bin <= t" splits).

    The split criterion is MISCLASSIFICATION COUNT — an integer, so
    the argmin is exact in both engines (no FP-tie hazard a gini/
    entropy double would carry) with a total (errors, threshold)
    tie-break. Output: per feature its best threshold, error count,
    and accuracy.

    Scale shape: ONE orders scan; the 3-way feature unpivot is a
    narrow stack; per-(feature, bin) counts aggregate with map-side
    combine, after which every window/rank runs on the BIN-space frame
    (bounded by value ranges — price bands, 12 months — never the row
    count). The cumulative-count trick turns 'evaluate every
    threshold' into one pass over sorted bins, exactly the histogram
    split search a distributed GBDT does per node."""
    base = _stump_base(spark, sf_dir)
    m = base.selectExpr(
        "stack(3, 'price_band', pb, 'order_month', mn, 'order_day', dy)"
        " AS (feature, bin)",
        "y",
    )
    g = m.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    wc = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("feature")
    c = g.select(
        "feature",
        "bin",
        F.sum("n").over(wc).alias("cn"),
        F.sum("pos").over(wc).alias("cp"),
        F.sum("n").over(wt).alias("nt"),
        F.sum("pos").over(wt).alias("pt"),
    )
    s = c.filter(F.col("cn") < F.col("nt")).select(
        "feature",
        F.col("bin").alias("threshold"),
        "nt",
        (
            F.least("cp", F.col("cn") - F.col("cp"))
            + F.least(
                F.col("pt") - F.col("cp"),
                (F.col("nt") - F.col("cn")) - (F.col("pt") - F.col("cp")),
            )
        ).alias("errors"),
    )
    wb = Window.partitionBy("feature").orderBy("errors", "threshold")
    return (
        s.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "feature",
            "threshold",
            F.col("errors").cast("long").alias("errors"),
            F.col("nt").cast("long").alias("n"),
            F.round(
                1.0 - F.col("errors") / F.col("nt").cast("double"), 6
            ).alias("acc"),
        )
    )


# ---------------------------------------------------------------------------
# m_tree_depth2 — level-wise histogram tree growth (depth-2 tree)
# ---------------------------------------------------------------------------

_TREE_SQL = f"""
    WITH base AS (
        {_STUMP_BASE_SQL}
    ),
    m0 AS (
        SELECT 'price_band' AS feature, pb AS bin, y FROM base
        UNION ALL SELECT 'order_month', mn, y FROM base
        UNION ALL SELECT 'order_day', dy, y FROM base
    ),
    g0 AS (SELECT feature, bin, COUNT(*) AS n, SUM(y) AS pos
           FROM m0 GROUP BY 1, 2),
    c0 AS (SELECT feature, bin,
                  SUM(n) OVER w AS cn, SUM(pos) OVER w AS cp,
                  SUM(n) OVER (PARTITION BY feature) AS nt,
                  SUM(pos) OVER (PARTITION BY feature) AS pt
           FROM g0
           WINDOW w AS (PARTITION BY feature ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s0 AS (SELECT feature, bin AS threshold, nt,
                  least(cp, cn - cp)
                  + least(pt - cp, (nt - cn) - (pt - cp)) AS errors
           FROM c0 WHERE cn < nt),
    root AS (SELECT feature, threshold, errors, nt FROM s0
             ORDER BY errors, feature, threshold LIMIT 1),
    sided AS (
        SELECT CASE WHEN (CASE root.feature
                          WHEN 'price_band' THEN base.pb
                          WHEN 'order_month' THEN base.mn
                          ELSE base.dy END) <= root.threshold
                    THEN 'left' ELSE 'right' END AS side,
               base.y, base.pb, base.mn, base.dy
        FROM base, root
    ),
    m1 AS (
        SELECT side, 'price_band' AS feature, pb AS bin, y FROM sided
        UNION ALL SELECT side, 'order_month', mn, y FROM sided
        UNION ALL SELECT side, 'order_day', dy, y FROM sided
    ),
    g1 AS (SELECT side, feature, bin, COUNT(*) AS n, SUM(y) AS pos
           FROM m1 GROUP BY 1, 2, 3),
    c1 AS (SELECT side, feature, bin,
                  SUM(n) OVER w AS cn, SUM(pos) OVER w AS cp,
                  SUM(n) OVER (PARTITION BY side, feature) AS nt,
                  SUM(pos) OVER (PARTITION BY side, feature) AS pt
           FROM g1
           WINDOW w AS (PARTITION BY side, feature ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s1 AS (SELECT side, feature, bin AS threshold, nt,
                  least(cp, cn - cp)
                  + least(pt - cp, (nt - cn) - (pt - cp)) AS errors
           FROM c1),
    b1 AS (SELECT side, feature, threshold, errors, nt,
                  row_number() OVER (PARTITION BY side
                                     ORDER BY errors, feature, threshold)
                      AS rn
           FROM s1)
    SELECT 'root' AS node, feature, threshold,
           CAST(errors AS BIGINT) AS errors, CAST(nt AS BIGINT) AS n,
           round(1.0 - errors / CAST(nt AS DOUBLE), 6) AS acc
    FROM root
    UNION ALL
    SELECT side, feature, threshold,
           CAST(errors AS BIGINT), CAST(nt AS BIGINT),
           round(1.0 - errors / CAST(nt AS DOUBLE), 6)
    FROM b1 WHERE rn = 1
"""


@register("m_tree_depth2", _TREE_SQL)
def m_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-wise depth-2 decision-tree growth — the second boosting
    layer over m_decision_stump and the shape a distributed GBDT
    (XGBoost/LightGBM histogram method) repeats per level: pick the
    root split from global (feature, bin) histograms, partition rows
    into left/right, then re-run the SAME histogram split search
    per side. Objective is integer misclassification count with a
    total (errors, feature, threshold) tie-break at every argmin, so
    the grown tree is byte-identical across engines.

    Child candidates INCLUDE the last bin ("<= max", right side
    empty), which is exactly the no-split/leaf-majority option — so
    each child's errors <= its side's majority count, and
    left.errors + right.errors <= root.errors always holds (the
    monotone-improvement invariant the unit test asserts).

    Scale shape: one orders scan per LEVEL (how a level-wise GBDT
    actually passes the data), each a narrow 3-feature stack into a
    map-side-combined (side, feature, bin) count; every window and
    rank runs on the bin-space frame (value-range-bounded, never row
    count). The root winner is a TakeOrderedAndProject 1-row frame
    broadcast into the side assignment — no driver round-trip between
    levels."""
    base = _stump_base(spark, sf_dir)

    def hist_errors(m: DataFrame, keys: list[str]) -> DataFrame:
        g = m.groupBy(*keys, "bin").agg(
            F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
        )
        wc = (
            Window.partitionBy(*keys)
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wt = Window.partitionBy(*keys)
        c = g.select(
            *keys,
            "bin",
            F.sum("n").over(wc).alias("cn"),
            F.sum("pos").over(wc).alias("cp"),
            F.sum("n").over(wt).alias("nt"),
            F.sum("pos").over(wt).alias("pt"),
        )
        return c.select(
            *keys,
            F.col("bin").alias("threshold"),
            "nt",
            "cn",
            (
                F.least("cp", F.col("cn") - F.col("cp"))
                + F.least(
                    F.col("pt") - F.col("cp"),
                    (F.col("nt") - F.col("cn")) - (F.col("pt") - F.col("cp")),
                )
            ).alias("errors"),
        )

    melt = "stack(3, 'price_band', pb, 'order_month', mn, 'order_day', dy)"
    m0 = base.selectExpr(f"{melt} AS (feature, bin)", "y")
    s0 = hist_errors(m0, ["feature"]).filter(F.col("cn") < F.col("nt"))
    root = (
        s0.orderBy("errors", "feature", "threshold")
        .limit(1)
        .select(
            F.col("feature").alias("rfeature"),
            F.col("threshold").alias("rthreshold"),
            F.col("errors").alias("rerrors"),
            F.col("nt").alias("rnt"),
        )
        # The level boundary: materialize the 1-row winner once so the
        # level-1 scan runs exactly once (it otherwise plans twice —
        # under the output row AND under the broadcast side-assign).
        .transform(materialize, sf_dir)
    )
    sided = base.crossJoin(F.broadcast(root)).select(
        F.when(
            F.when(F.col("rfeature") == "price_band", F.col("pb"))
            .when(F.col("rfeature") == "order_month", F.col("mn"))
            .otherwise(F.col("dy"))
            <= F.col("rthreshold"),
            "left",
        )
        .otherwise("right")
        .alias("side"),
        "y",
        "pb",
        "mn",
        "dy",
    )
    m1 = sided.selectExpr("side", f"{melt} AS (feature, bin)", "y")
    s1 = hist_errors(m1, ["side", "feature"])
    wb = Window.partitionBy("side").orderBy("errors", "feature", "threshold")
    children = (
        s1.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            F.col("side").alias("node"),
            "feature",
            "threshold",
            F.col("errors").cast("long").alias("errors"),
            F.col("nt").cast("long").alias("n"),
            F.round(
                1.0 - F.col("errors") / F.col("nt").cast("double"), 6
            ).alias("acc"),
        )
    )
    root_row = root.select(
        F.lit("root").alias("node"),
        F.col("rfeature").alias("feature"),
        F.col("rthreshold").alias("threshold"),
        F.col("rerrors").cast("long").alias("errors"),
        F.col("rnt").cast("long").alias("n"),
        F.round(
            1.0 - F.col("rerrors") / F.col("rnt").cast("double"), 6
        ).alias("acc"),
    )
    return root_row.unionAll(children)


# ---------------------------------------------------------------------------
# e_qini_uplift — uplift/Qini decile curve (treatment-effect targeting)
# ---------------------------------------------------------------------------

from recommender_systems_spark.queries._shared import u01_col as _u01_col
from recommender_systems_spark.queries._shared import u01_sql as _u01_sql

_QINI_MIN_ORDERS = 12  # "heavy buyer" conversion (~30% base rate)

_QINI_SQL = f"""
    WITH cust AS (
        SELECT c_custkey, c_acctbal AS score,
               CASE WHEN {_u01_sql("c_custkey", "qini")} < 0.5
                    THEN 1 ELSE 0 END AS tr
        FROM customer
    ),
    conv AS (SELECT o_custkey FROM orders
             GROUP BY o_custkey HAVING count(*) >= {_QINI_MIN_ORDERS}),
    lab AS (
        SELECT cust.score, cust.tr,
               CASE WHEN conv.o_custkey IS NULL THEN 0 ELSE 1 END AS cv
        FROM cust LEFT JOIN conv ON conv.o_custkey = cust.c_custkey
    ),
    per AS (
        SELECT score, count(*) AS c,
               sum(tr) AS n_t, sum(tr * cv) AS p_t,
               sum(1 - tr) AS n_c, sum((1 - tr) * cv) AS p_c
        FROM lab GROUP BY score
    ),
    tot AS (SELECT sum(c) AS n FROM per),
    rk AS (
        SELECT per.*,
               coalesce(sum(c) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS bef
        FROM per
    ),
    dec AS (
        SELECT CAST(floor(bef * 10.0 / tot.n) AS INT) AS decile,
               n_t, p_t, n_c, p_c
        FROM rk, tot
    ),
    g AS (SELECT decile, sum(n_t) AS n_t, sum(p_t) AS p_t,
                 sum(n_c) AS n_c, sum(p_c) AS p_c
          FROM dec GROUP BY decile),
    cumw AS (
        SELECT decile, n_t, p_t, n_c, p_c,
               sum(n_t) OVER w AS cnt, sum(p_t) OVER w AS cpt,
               sum(n_c) OVER w AS cnc, sum(p_c) OVER w AS cpc
        FROM g
        WINDOW w AS (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_t AS BIGINT) AS n_treated,
           CAST(p_t AS BIGINT) AS pos_treated,
           CAST(n_c AS BIGINT) AS n_control,
           CAST(p_c AS BIGINT) AS pos_control,
           CASE WHEN cnt > 0 AND cnc > 0
                THEN round(CAST(cpt AS DOUBLE) / cnt
                           - CAST(cpc AS DOUBLE) / cnc, 6) END AS cum_uplift,
           CASE WHEN cnc > 0
                THEN round(cpt - CAST(cpc AS DOUBLE) * cnt / cnc, 6)
           END AS qini
    FROM cumw
"""


@register("e_qini_uplift", _QINI_SQL)
def e_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini/uplift decile curve — the treatment-effect analogue of
    e_lift_curve (Radcliffe's Qini statistic): customers ranked by a
    targeting score (account balance, descending), cut into 10
    population deciles; each decile reports cumulative uplift
    (treated conversion rate minus control conversion rate) and the
    Qini value (incremental conversions vs a control scaled to the
    treated volume). Treatment is the deterministic md5-uniform coin
    (u01(c_custkey) < 0.5 — the A/B-sim arm rule), conversion is the
    heavy-buyer event (>= {_QINI_MIN_ORDERS} orders) via an equi-join
    against the aggregated order counts.

    Scale shape: scores pre-aggregate per DISTINCT value carrying all
    four (arm x outcome) integer counts in ONE pass; the population
    ranking is ``two_phase_midrank`` (range partitions + offsets, no
    single-partition window at any size — the e_lift_curve shape);
    decile assignment is exact integer boundary arithmetic, and every
    cumulative window runs on the 10-row decile frame. Rates divide
    exact integer sums only at the end."""
    from recommender_systems_spark.operators.relational import two_phase_midrank

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("score"),
        (_u01_col(F.col("c_custkey"), "qini") < 0.5).cast("int").alias("tr"),
    )
    conv = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= _QINI_MIN_ORDERS)
        .select("o_custkey", F.lit(1).alias("cv"))
    )
    lab = (
        cust.join(conv, cust["c_custkey"] == conv["o_custkey"], "left")
        .select("score", "tr", F.coalesce("cv", F.lit(0)).alias("cv"))
    )
    per = lab.groupBy("score").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("tr").alias("n_t"),
        F.sum(F.col("tr") * F.col("cv")).alias("p_t"),
        F.sum(1 - F.col("tr")).alias("n_c"),
        F.sum((1 - F.col("tr")) * F.col("cv")).alias("p_c"),
    )
    # Σc rides the midrank's own offsets collect (round-13): the old
    # tot broadcast re-executed the phase-2 window per reference.
    ranked, tots = two_phase_midrank(
        per, "score", "c", total_sums=[],
        approx_rows=table_rows(sf_dir, "events"),
    )
    n_lit = F.lit(tots["c"]).cast("long")
    asc_before = (
        F.col("midrank") - (F.col("c").cast("double") + 1) / 2
    ).cast("long")
    bef = n_lit - asc_before - F.col("c")
    dec = ranked.select(
        F.floor(bef * 10.0 / n_lit).cast("int").alias("decile"),
        "n_t", "p_t", "n_c", "p_c",
    )
    g = dec.groupBy("decile").agg(
        F.sum("n_t").alias("n_t"), F.sum("p_t").alias("p_t"),
        F.sum("n_c").alias("n_c"), F.sum("p_c").alias("p_c"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # 10-row decile frame — bounded by construction
    cum = g.select(
        "decile", "n_t", "p_t", "n_c", "p_c",
        F.sum("n_t").over(w_cum).alias("cnt"),
        F.sum("p_t").over(w_cum).alias("cpt"),
        F.sum("n_c").over(w_cum).alias("cnc"),
        F.sum("p_c").over(w_cum).alias("cpc"),
    )
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_t").cast("long").alias("n_treated"),
        F.col("p_t").cast("long").alias("pos_treated"),
        F.col("n_c").cast("long").alias("n_control"),
        F.col("p_c").cast("long").alias("pos_control"),
        F.when(
            (F.col("cnt") > 0) & (F.col("cnc") > 0),
            F.round(
                F.col("cpt").cast("double") / F.col("cnt")
                - F.col("cpc").cast("double") / F.col("cnc"),
                6,
            ),
        ).alias("cum_uplift"),
        F.when(
            F.col("cnc") > 0,
            F.round(
                F.col("cpt")
                - F.col("cpc").cast("double") * F.col("cnt") / F.col("cnc"),
                6,
            ),
        ).alias("qini"),
    )


# ---------------------------------------------------------------------------
# m_preference_pairs — RLHF/DPO preference-pair mining
# ---------------------------------------------------------------------------

_PREF_GAP = 10        # minimum chosen-rejected rating margin (quantity units)
_PREF_ENC = 2 ** 33   # composite-key base: rating*ENC +/- item (item < ENC)

_PREF_SQL = f"""
    WITH r AS (
        SELECT l_suppkey AS user_id, l_partkey AS item,
               CAST(SUM(l_quantity) AS BIGINT) AS rating
        FROM lineitem GROUP BY 1, 2
    ),
    pick AS (
        SELECT user_id,
               arg_max(item, rating * {_PREF_ENC} - item) AS chosen,
               arg_min(item, rating * {_PREF_ENC} + item) AS rejected,
               max(rating) AS chosen_r,
               min(rating) AS rejected_r
        FROM r GROUP BY user_id
    )
    SELECT user_id, chosen, rejected, chosen_r, rejected_r,
           chosen_r - rejected_r AS margin
    FROM pick
    WHERE chosen <> rejected AND chosen_r - rejected_r >= {_PREF_GAP}
    ORDER BY user_id
"""


@register("m_preference_pairs", _PREF_SQL)
def m_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining — the data-prep step for pairwise
    preference training (DPO/RLHF reward modelling, and the same pair
    shape BPR consumes, ml/bpr.py): per user, emit the strongest
    (chosen, rejected) item pair from observed feedback, keeping only
    pairs whose rating margin clears {_PREF_GAP} so the pair label is
    unambiguous (low-margin pairs are noise for a preference model).
    Chosen = argmax rating, rejected = argmin, with total (rating,
    item) tie-breaks — ratings are summed integer-valued quantities,
    exact in IEEE, so no rounding is needed anywhere.

    Scale shape: ONE (user, item) hash aggregate over the interaction
    log, then ONE user-keyed aggregate whose argmax/argmin carry the
    tie-break as a composite integer key (rating*2^33 ∓ item — exact
    while item ids stay under 2^33 and ratings under 2^30, asserted
    nowhere near at any TPC-H scale). Both aggregates are map-side
    combined; no windows, no self-join, a single fact scan — the
    naive preference-mining shape is |history|² per user, and even
    the two-window formulation costs two extra sorts and a join."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.groupBy(
        F.col("l_suppkey").alias("user_id"),
        F.col("l_partkey").alias("item"),
    ).agg(F.sum("l_quantity").cast("long").alias("rating"))
    enc = F.col("rating") * _PREF_ENC
    pick = r.groupBy("user_id").agg(
        F.max_by("item", enc - F.col("item")).alias("chosen"),
        F.min_by("item", enc + F.col("item")).alias("rejected"),
        F.max("rating").alias("chosen_r"),
        F.min("rating").alias("rejected_r"),
    )
    return (
        pick.filter(
            (F.col("chosen") != F.col("rejected"))
            & (F.col("chosen_r") - F.col("rejected_r") >= _PREF_GAP)
        )
        .select(
            "user_id",
            "chosen",
            "rejected",
            "chosen_r",
            "rejected_r",
            (F.col("chosen_r") - F.col("rejected_r")).alias("margin"),
        )
    )


# ---------------------------------------------------------------------------
# m_ridge_normal_eq — multi-feature ridge via distributed normal equations
# ---------------------------------------------------------------------------

_RIDGE_LMD = 1.0  # L2 penalty added to the full Gram diagonal

_RIDGE_SQL = f"""
    WITH g AS (
        SELECT count(*) AS n,
               round(sum(l_quantity), 6) AS s12,
               round(sum(l_discount), 6) AS s13,
               round(sum(l_quantity * l_quantity), 6) AS s22,
               round(sum(l_quantity * l_discount), 6) AS s23,
               round(sum(l_discount * l_discount), 6) AS s33,
               round(sum(l_extendedprice), 6) AS b1,
               round(sum(l_quantity * l_extendedprice), 6) AS b2,
               round(sum(l_discount * l_extendedprice), 6) AS b3
        FROM lineitem
    ),
    a AS (
        SELECT n, s12, s13, s22, s23, s33, b1, b2, b3,
               n + {_RIDGE_LMD} AS a11, s22 + {_RIDGE_LMD} AS a22,
               s33 + {_RIDGE_LMD} AS a33
        FROM g
    ),
    d AS (
        SELECT *,
               a11 * (a22 * a33 - s23 * s23)
               - s12 * (s12 * a33 - s23 * s13)
               + s13 * (s12 * s23 - a22 * s13) AS det
        FROM a
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((b1 * (a22 * a33 - s23 * s23)
                  - s12 * (b2 * a33 - s23 * b3)
                  + s13 * (b2 * s23 - a22 * b3)) / det, 6) AS w0,
           round((a11 * (b2 * a33 - b3 * s23)
                  - b1 * (s12 * a33 - s23 * s13)
                  + s13 * (s12 * b3 - b2 * s13)) / det, 6) AS w1,
           round((a11 * (a22 * b3 - s23 * b2)
                  - s12 * (s12 * b3 - b2 * s13)
                  + b1 * (s12 * s23 - a22 * s13)) / det, 6) AS w2
    FROM d
"""


@register("m_ridge_normal_eq", _RIDGE_SQL)
def m_ridge_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature ridge regression by DISTRIBUTED NORMAL EQUATIONS —
    the canonical way to fit a small linear model over an arbitrarily
    large fact table: one pass accumulates the Gram matrix XᵀX and
    moment vector Xᵀy as plain sums of products (here price ~ 1 +
    quantity + discount), the d×d system then solves in closed form —
    no gradient iterations, no data movement beyond one map-side-
    combined aggregate. d=3 lets the solve itself stay IN-PLAN as
    Cramer's rule (both engines evaluate the same determinant
    polynomial); the general-d production variant collects the d²
    Gram (constant-sized) and Cholesky-solves on the driver — the
    ml/als.py normal-equation shape with k=d.

    Cross-engine floats: the Gram sums are order-dependent doubles, so
    every entry snaps to a 6dp grid BEFORE the solve (the house
    learned-value rule); from identical rounded operands the Cramer
    polynomial is bit-identical in both engines. λ={_RIDGE_LMD} is
    added to the full diagonal (intercept included — documented
    deviation from the don't-penalize-intercept convention, chosen to
    keep the formula symmetric).

    Scale shape: ONE fact scan, ONE 1-row aggregate; everything after
    is scalar arithmetic. This is the op that makes "fit a quick
    price model on 100 TB" a single shuffle-free pass."""
    li = _t(spark, sf_dir, "lineitem")
    q, dc, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    g = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(q), 6).alias("s12"),
        F.round(F.sum(dc), 6).alias("s13"),
        F.round(F.sum(q * q), 6).alias("s22"),
        F.round(F.sum(q * dc), 6).alias("s23"),
        F.round(F.sum(dc * dc), 6).alias("s33"),
        F.round(F.sum(y), 6).alias("b1"),
        F.round(F.sum(q * y), 6).alias("b2"),
        F.round(F.sum(dc * y), 6).alias("b3"),
    )
    a = g.select(
        "*",
        (F.col("n") + _RIDGE_LMD).alias("a11"),
        (F.col("s22") + _RIDGE_LMD).alias("a22"),
        (F.col("s33") + _RIDGE_LMD).alias("a33"),
    )
    c = {k: F.col(k) for k in
         ("a11", "a22", "a33", "s12", "s13", "s23", "b1", "b2", "b3")}
    det = (
        c["a11"] * (c["a22"] * c["a33"] - c["s23"] * c["s23"])
        - c["s12"] * (c["s12"] * c["a33"] - c["s23"] * c["s13"])
        + c["s13"] * (c["s12"] * c["s23"] - c["a22"] * c["s13"])
    )
    det1 = (
        c["b1"] * (c["a22"] * c["a33"] - c["s23"] * c["s23"])
        - c["s12"] * (c["b2"] * c["a33"] - c["s23"] * c["b3"])
        + c["s13"] * (c["b2"] * c["s23"] - c["a22"] * c["b3"])
    )
    det2 = (
        c["a11"] * (c["b2"] * c["a33"] - c["b3"] * c["s23"])
        - c["b1"] * (c["s12"] * c["a33"] - c["s23"] * c["s13"])
        + c["s13"] * (c["s12"] * c["b3"] - c["b2"] * c["s13"])
    )
    det3 = (
        c["a11"] * (c["a22"] * c["b3"] - c["s23"] * c["b2"])
        - c["s12"] * (c["s12"] * c["b3"] - c["b2"] * c["s13"])
        + c["b1"] * (c["s12"] * c["s23"] - c["a22"] * c["s13"])
    )
    return a.select(
        F.col("n").cast("long").alias("n"),
        F.round(det1 / det, 6).alias("w0"),
        F.round(det2 / det, 6).alias("w1"),
        F.round(det3 / det, 6).alias("w2"),
    )


# ---------------------------------------------------------------------------
# e_dr_ope — doubly-robust off-policy evaluation (extends m_ips_eval)
# ---------------------------------------------------------------------------

_DR_SQL = f"""
    WITH {{_ML_CTE}},
    pop AS (SELECT iid, count(*) AS c FROM r GROUP BY iid),
    npop AS (SELECT sum(c) AS n FROM pop),
    topk AS (
        SELECT uid, iid FROM (
            SELECT uid, iid,
                   row_number() OVER (PARTITION BY uid
                                      ORDER BY uv DESC, iid) AS rn
            FROM (SELECT uid, iid, max(uv) AS uv FROM j GROUP BY uid, iid))
        WHERE rn <= {_IPS_K}
    ),
    qhat AS (
        SELECT iid,
               round(avg(CASE WHEN r >= {_IPS_REWARD} THEN 1.0 ELSE 0.0 END),
                     6) AS q
        FROM r GROUP BY iid
    ),
    dm AS (
        SELECT t.uid, sum(q.q) / {_IPS_K} AS dmv
        FROM topk t JOIN qhat q USING (iid) GROUP BY t.uid
    ),
    logged AS (
        SELECT j.uid,
               CASE WHEN j.r >= {_IPS_REWARD} THEN 1.0 ELSE 0.0 END AS rew,
               CAST(pop.c AS DOUBLE) / npop.n AS p_log,
               CASE WHEN t.iid IS NOT NULL THEN 1.0 / {_IPS_K} ELSE 0.0 END
                   AS p_tgt,
               q.q AS qa,
               dm.dmv AS dmv
        FROM j
        JOIN pop ON pop.iid = j.iid CROSS JOIN npop
        LEFT JOIN topk t ON t.uid = j.uid AND t.iid = j.iid
        JOIN qhat q ON q.iid = j.iid
        JOIN dm ON dm.uid = j.uid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_logged,
           round(avg(dmv), 4) AS v_dm,
           round(avg(rew * p_tgt / p_log), 4) AS v_ips,
           round(avg(dmv + (p_tgt / p_log) * (rew - qa)), 4) AS v_dr
    FROM logged
""".format(_ML_CTE=_ML_CTE)


@register("e_dr_ope", _DR_SQL)
def e_dr_ope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust off-policy evaluation (Dudík, Langford & Li
    2011) — the estimator that superseded plain IPS for counterfactual
    "what would the new ranker have earned on logged traffic":
    V_DR = mean[ q̂(x,π) + (π/μ)(r − q̂(x,a)) ], combining a direct
    reward model q̂ (here the per-item logged reward rate, snapped to
    the 6dp grid — the house learned-value rule) with the propensity
    correction from m_ips_eval; unbiased if EITHER the reward model or
    the propensities are right, and far lower-variance than IPS when
    q̂ is decent. Reports V_DM / V_IPS / V_DR side by side — the
    sandwich an experimentation platform prints for every candidate
    policy.

    Shares m_ips_eval's fixture (logging = popularity propensities,
    target = each user's top-{_IPS_K} by embedding score). Scale
    shape: the reward model and DM value add two item/user-keyed
    aggregates to the IPS plan — everything stays id-keyed equi-joins
    on interaction-sized frames; no new corpus passes."""
    j = _scored(spark, sf_dir).transform(materialize, sf_dir)  # consumed 3× below
    rew_case = F.when(F.col("r") >= _IPS_REWARD, 1.0).otherwise(0.0)
    # Popularity count and reward model share the SAME iid grouping —
    # one hash aggregate (and later one equi-join) where two ran, with
    # byte-identical per-column expressions (round-13, guide §2.4).
    ist = j.groupBy("iid").agg(
        F.count(F.lit(1)).alias("c"),
        F.round(F.avg(rew_case), 6).alias("q"),
    )
    npop = ist.agg(F.sum("c").alias("n"))
    sc = j.groupBy("uid", "iid").agg(F.max("uv").alias("uv"))
    w = Window.partitionBy("uid").orderBy(F.col("uv").desc(), "iid")
    topk = (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IPS_K)
        .select("uid", "iid")
    )
    dm = (
        topk.join(ist.select("iid", "q"), "iid")
        .groupBy("uid")
        .agg((F.sum("q") / _IPS_K).alias("dmv"))
    )
    logged = (
        j.join(ist, "iid")
        .crossJoin(F.broadcast(npop))
        .join(
            topk.withColumn("hit", F.lit(1)), ["uid", "iid"], "left"
        )
        .join(dm, "uid")
        .select(
            rew_case.alias("rew"),
            (F.col("c").cast("double") / F.col("n")).alias("p_log"),
            F.when(F.col("hit").isNotNull(), 1.0 / _IPS_K)
            .otherwise(0.0)
            .alias("p_tgt"),
            F.col("q").alias("qa"),
            "dmv",
        )
    )
    return logged.agg(
        F.count(F.lit(1)).cast("long").alias("n_logged"),
        F.round(F.avg("dmv"), 4).alias("v_dm"),
        F.round(F.avg(F.col("rew") * F.col("p_tgt") / F.col("p_log")), 4)
        .alias("v_ips"),
        F.round(
            F.avg(
                F.col("dmv")
                + (F.col("p_tgt") / F.col("p_log"))
                * (F.col("rew") - F.col("qa"))
            ),
            4,
        ).alias("v_dr"),
    )


# ---------------------------------------------------------------------------
# m_bradley_terry — preference aggregation into item strengths (MM, fixed-pt)
# ---------------------------------------------------------------------------

_BT_G0 = 1_000_000        # initial strength, integer micro-units
_BT_SCALE = 10 ** 11      # MM fixed-point scale (int64-safe here; the
                          # 100 TB variant carries DECIMAL(38,0))
_BT_TOPK = 20

_BT_SQL = f"""
    WITH r AS (
        SELECT l_suppkey AS user_id, l_partkey AS item,
               CAST(SUM(l_quantity) AS BIGINT) AS rating
        FROM lineitem GROUP BY 1, 2
    ),
    pick AS (
        SELECT user_id,
               arg_max(item, rating * {_PREF_ENC} - item) AS winner,
               arg_min(item, rating * {_PREF_ENC} + item) AS loser,
               max(rating) AS br, min(rating) AS wr
        FROM r GROUP BY user_id
    ),
    pairs AS (
        SELECT winner, loser FROM pick
        WHERE winner <> loser AND br - wr >= {_PREF_GAP}
    ),
    wl AS (SELECT winner, loser, count(*) AS w FROM pairs GROUP BY 1, 2),
    und AS (
        SELECT least(winner, loser) AS a, greatest(winner, loser) AS b,
               sum(w) AS n
        FROM wl GROUP BY 1, 2
    ),
    wins AS (SELECT winner AS item, sum(w) AS wins FROM wl GROUP BY 1),
    items AS (
        SELECT item, COALESCE(wins.wins, 0) AS wins,
               CAST({_BT_G0} AS BIGINT) AS g
        FROM (SELECT a AS item FROM und UNION SELECT b FROM und) i
        LEFT JOIN wins USING (item)
    ),
    s1 AS (
        SELECT t.item, sum(t.t) AS s FROM (
            SELECT u.a AS item,
                   (u.n * {_BT_SCALE}) // (ga.g + gb.g) AS t
            FROM und u JOIN items ga ON ga.item = u.a
                       JOIN items gb ON gb.item = u.b
            UNION ALL
            SELECT u.b,
                   (u.n * {_BT_SCALE}) // (ga.g + gb.g)
            FROM und u JOIN items ga ON ga.item = u.a
                       JOIN items gb ON gb.item = u.b
        ) t GROUP BY t.item
    ),
    g1 AS (
        SELECT i.item, i.wins,
               (i.wins * {_BT_SCALE}) // greatest(s1.s, 1) AS g
        FROM items i JOIN s1 USING (item)
    ),
    s2 AS (
        SELECT t.item, sum(t.t) AS s FROM (
            SELECT u.a AS item,
                   (u.n * {_BT_SCALE}) // greatest(ga.g + gb.g, 1) AS t
            FROM und u JOIN g1 ga ON ga.item = u.a
                       JOIN g1 gb ON gb.item = u.b
            UNION ALL
            SELECT u.b,
                   (u.n * {_BT_SCALE}) // greatest(ga.g + gb.g, 1)
            FROM und u JOIN g1 ga ON ga.item = u.a
                       JOIN g1 gb ON gb.item = u.b
        ) t GROUP BY t.item
    ),
    g2 AS (
        SELECT g1.item, g1.wins,
               (g1.wins * {_BT_SCALE}) // greatest(s2.s, 1) AS g
        FROM g1 JOIN s2 USING (item)
    ),
    deg AS (
        SELECT item, sum(n) AS matches FROM (
            SELECT a AS item, n FROM und
            UNION ALL SELECT b, n FROM und
        ) GROUP BY item
    )
    SELECT g2.item,
           CAST(g2.wins AS BIGINT) AS wins,
           CAST(deg.matches AS BIGINT) AS matches,
           round(g2.g / 1000000.0, 6) AS gamma
    FROM g2 JOIN deg USING (item)
    ORDER BY g2.g DESC, g2.item
    LIMIT {_BT_TOPK}
"""


@register("m_bradley_terry", _BT_SQL)
def m_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference aggregation (Bradley & Terry 1952;
    Hunter's MM algorithm 2004) — turn the pairwise (chosen, rejected)
    outcomes mined by m_preference_pairs into global item strengths
    γ_i, the model behind reward-model ELO boards and preference-data
    quality audits: two MM sweeps of
    γ_i ← W_i / Σ_j n_ij/(γ_i + γ_j), reported as the top-{_BT_TOPK}
    strengths.

    Cross-engine exactness: the sweep is the house FIXED-POINT rule
    (s_holt_forecast template) — strengths live in integer µ-units,
    each MM term is one integer multiply then ONE truncating integer
    division (Spark ``div`` = DuckDB ``//``, both toward zero), so
    both engines walk byte-identical iterates; the only float is the
    display division. greatest(·,1) guards the (unreachable at this
    gap filter) zero-denominator paths under ANSI mode.

    Scale shape: pair mining is the m_preference_pairs single-pass
    aggregate; each MM sweep is ONE equi-join of the undirected pair
    list against the current strength table (id-keyed, broadcastable
    until the catalog outgrows it) plus an item-keyed sum — iteration
    state is items-sized, work is pairs-sized, exactly Hunter's MM
    distributed the way a parameter-server would."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.groupBy(
        F.col("l_suppkey").alias("user_id"),
        F.col("l_partkey").alias("item"),
    ).agg(F.sum("l_quantity").cast("long").alias("rating"))
    enc = F.col("rating") * _PREF_ENC
    pick = r.groupBy("user_id").agg(
        F.max_by("item", enc - F.col("item")).alias("winner"),
        F.min_by("item", enc + F.col("item")).alias("loser"),
        F.max("rating").alias("br"),
        F.min("rating").alias("wr"),
    )
    pairs = pick.filter(
        (F.col("winner") != F.col("loser"))
        & (F.col("br") - F.col("wr") >= _PREF_GAP)
    ).select("winner", "loser")
    wl = pairs.groupBy("winner", "loser").agg(F.count(F.lit(1)).alias("w"))
    und = (
        wl.select(
            F.least("winner", "loser").alias("a"),
            F.greatest("winner", "loser").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("n"))
        .transform(materialize, sf_dir)  # reused by both MM sweeps + degree table
    )
    wins = wl.groupBy(F.col("winner").alias("item")).agg(
        F.sum("w").alias("wins")
    )
    items = (
        und.select(F.col("a").alias("item"))
        .union(und.select("b"))
        .distinct()
        .join(wins, "item", "left")
        .select(
            "item",
            F.coalesce("wins", F.lit(0)).alias("wins"),
            F.lit(_BT_G0).cast("long").alias("g"),
        )
        # Items-sized (catalog) checkpoint: each MM sweep references
        # its strength table THREE times (γ_a side, γ_b side, the
        # update join). Unmaterialised, that re-executed the whole
        # lineitem pair-mining subtree per reference — the before plan
        # shows 10 parquet scans and zero ReusedExchange. One
        # materialisation makes pair mining a single corpus pass
        # (round-13; exact integer state, results unchanged).
        .transform(materialize, sf_dir)
    )

    def mm_sweep(g: DataFrame) -> DataFrame:
        ga = g.select(F.col("item").alias("a"), F.col("g").alias("ga"))
        gb = g.select(F.col("item").alias("b"), F.col("g").alias("gb"))
        j = und.join(ga, "a").join(gb, "b")
        term = F.expr(f"(n * {_BT_SCALE}) div greatest(ga + gb, 1)")
        both = j.select(F.col("a").alias("item"), term.alias("t")).unionAll(
            j.select(F.col("b").alias("item"), term.alias("t"))
        )
        s = both.groupBy("item").agg(F.sum("t").alias("s"))
        return (
            g.join(s, "item")
            .select(
                "item",
                "wins",
                F.expr(f"(wins * {_BT_SCALE}) div greatest(s, 1)").alias("g"),
            )
        )

    # Same 3-reference pattern between the sweeps: materialise sweep
    # 1's items-sized output so sweep 2 reads a checkpointed RDD
    # instead of inlining (and re-executing) the sweep-1 ladder 3×.
    g2 = mm_sweep(mm_sweep(items).transform(materialize, sf_dir))
    deg = (
        und.select(F.col("a").alias("item"), "n")
        .unionAll(und.select(F.col("b").alias("item"), "n"))
        .groupBy("item")
        .agg(F.sum("n").alias("matches"))
    )
    return (
        g2.join(deg, "item")
        .orderBy(F.col("g").desc(), "item")
        .limit(_BT_TOPK)
        .select(
            "item",
            F.col("wins").cast("long").alias("wins"),
            F.col("matches").cast("long").alias("matches"),
            F.round(F.col("g") / 1_000_000.0, 6).alias("gamma"),
        )
    )


# ---------------------------------------------------------------------------
# m_isotonic_calibration — exact isotonic regression over score bins
# ---------------------------------------------------------------------------

_ISO_BINS = 20

_ISO_SQL = f"""
    WITH {_ML_CTE},
    b AS (SELECT min(uv) AS lo, max(uv) AS hi FROM j),
    binned AS (
        SELECT least(CAST(floor((uv - lo) * {_ISO_BINS} / (hi - lo))
                          AS BIGINT), {_ISO_BINS - 1}) AS bucket,
               CASE WHEN r >= {_IPS_REWARD} THEN 1 ELSE 0 END AS y
        FROM j, b
    ),
    bins AS (
        SELECT bucket, count(*) AS n, sum(y) AS s
        FROM binned GROUP BY bucket
    ),
    ivl AS (
        SELECT lo.bucket AS jb, hi.bucket AS kb,
               sum(c.s) AS si, sum(c.n) AS ni
        FROM bins lo
        JOIN bins hi ON lo.bucket <= hi.bucket
        JOIN bins c ON c.bucket BETWEEN lo.bucket AND hi.bucket
        GROUP BY 1, 2
    ),
    inner_min AS (
        SELECT i.bucket, v.jb,
               min(v.si / (1.0 * v.ni)) AS m
        FROM bins i JOIN ivl v ON v.jb <= i.bucket AND v.kb >= i.bucket
        GROUP BY i.bucket, v.jb
    ),
    fit AS (SELECT bucket, max(m) AS iso FROM inner_min GROUP BY bucket)
    SELECT b.bucket,
           CAST(b.n AS BIGINT) AS n,
           round(b.s / (1.0 * b.n), 6) AS raw_rate,
           round(fit.iso, 6) AS iso_rate
    FROM bins b JOIN fit USING (bucket)
    ORDER BY b.bucket
"""


@register("m_isotonic_calibration", _ISO_SQL)
def m_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression calibration (the PAV fit, Zadrozny & Elkan
    2002) of the model's score→reward curve over {_ISO_BINS} score
    bins — the non-parametric upgrade to e_calibration's reliability
    table and the standard way to make a ranker's raw scores usable as
    probabilities. Computed EXACTLY via the minimax identity
    fitted(i) = max_{{j≤i}} min_{{k≥i}} avg(y[j..k]) — equivalent to
    pool-adjacent-violators but expressible as pure joins/aggregates,
    with no sequential merge loop.

    Cross-engine floats: bin outcomes are integer (s, n) pairs; every
    interval average is ONE correctly-rounded division of exact
    integers, and min/max over doubles are order-free — bit-identical
    without any learned-value snapping. Monotonicity of iso_rate is
    the invariant test.

    Scale shape: one scoring-join pass reduces the corpus to
    {_ISO_BINS} integer rows; the minimax triangle is B³ ≤ 8000
    constant-size rows (broadcast joins) — the classic 'aggregate to
    sketch size, then solve exactly in-plan' pattern. Production
    with per-segment curves runs the same plan keyed by segment."""
    # Materialised once: the (lo, hi) broadcast subquery otherwise
    # inlines the scoring lineage a second time (round-13, §2.4/§5).
    sc = _scored(spark, sf_dir).select(
        "uv",
        F.when(F.col("r") >= _IPS_REWARD, 1).otherwise(0).alias("y"),
    ).transform(materialize, sf_dir)
    b = sc.agg(F.min("uv").alias("lo"), F.max("uv").alias("hi"))
    bucket = F.least(
        F.floor(
            (F.col("uv") - F.col("lo")) * _ISO_BINS
            / (F.col("hi") - F.col("lo"))
        ).cast("long"),
        F.lit(_ISO_BINS - 1),
    )
    bins = (
        sc.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"))
        .transform(materialize, sf_dir)  # B rows; reused by the triangle + output
    )
    lo = bins.select(F.col("bucket").alias("jb"))
    hi = bins.select(F.col("bucket").alias("kb"))
    mid = bins.select(F.col("bucket").alias("cb"), "s", "n")
    ivl = (
        lo.join(F.broadcast(hi), F.col("jb") <= F.col("kb"))
        .join(
            F.broadcast(mid),
            (F.col("cb") >= F.col("jb")) & (F.col("cb") <= F.col("kb")),
        )
        .groupBy("jb", "kb")
        .agg(F.sum("s").alias("si"), F.sum("n").alias("ni"))
    )
    inner = (
        bins.select("bucket")
        .join(
            F.broadcast(ivl),
            (F.col("jb") <= F.col("bucket")) & (F.col("kb") >= F.col("bucket")),
        )
        .groupBy("bucket", "jb")
        .agg(F.min(F.col("si") / (1.0 * F.col("ni"))).alias("m"))
    )
    fit = inner.groupBy("bucket").agg(F.max("m").alias("iso"))
    return (
        bins.join(fit, "bucket")
        .select(
            "bucket",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("s") / (1.0 * F.col("n")), 6).alias("raw_rate"),
            F.round("iso", 6).alias("iso_rate"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# e_variance_decomposition — sequential ANOVA of the rating signal
# ---------------------------------------------------------------------------

_VD_SQL = """
    WITH r AS (
        SELECT l_suppkey AS uid, l_partkey AS iid,
               CAST(l_quantity AS DOUBLE) AS y
        FROM lineitem
    ),
    g AS (SELECT count(*) AS n, sum(y) AS s, sum(y * y) AS s2,
                 CAST(round(avg(y) * 1000000) AS BIGINT) AS g_ppm
          FROM r),
    ub AS (SELECT uid, count(*) AS nu,
                  CAST(round(avg(y) * 1000000) AS BIGINT) AS u_ppm
           FROM r GROUP BY uid),
    ssu AS (
        SELECT sum(nu * pow((u_ppm - g.g_ppm) / 1000000.0, 2)) AS ss_user
        FROM ub, g
    ),
    res AS (
        SELECT r.iid, r.y - ub.u_ppm / 1000000.0 AS e
        FROM r JOIN ub USING (uid)
    ),
    ib AS (SELECT iid, count(*) AS ni,
                  CAST(round(avg(e) * 1000000) AS BIGINT) AS i_ppm
           FROM res GROUP BY iid),
    ssi AS (SELECT sum(ni * pow(i_ppm / 1000000.0, 2)) AS ss_item FROM ib)
    SELECT CAST(g.n AS BIGINT) AS n,
           round(g.s2 - g.s * g.s / g.n, 2) AS ss_total,
           round(ssu.ss_user, 2) AS ss_user,
           round(ssi.ss_item, 2) AS ss_item_given_user,
           round(ssu.ss_user / (g.s2 - g.s * g.s / g.n), 6) AS pct_user,
           round(ssi.ss_item / (g.s2 - g.s * g.s / g.n), 6) AS pct_item
    FROM g, ssu, ssi
"""


@register("e_variance_decomposition", _VD_SQL)
def e_variance_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential (Type-I) variance decomposition of the rating signal
    — how much of the variance user effects explain, then item effects
    on the user-residuals: the quantitative version of the question
    the reference's bias-only model (M4, prac_1_bias_only.py) answers
    by fitting — if pct_user + pct_item is high, bias terms carry the
    signal and factor rank can be small; if low, interactions dominate
    and rank must pay for it. The standard diagnostic BEFORE
    committing a factorization budget.

    Float discipline: Σy and Σy² are exact integer-valued sums;
    per-group means snap to the µ-grid (house learned-value rule)
    before the squared-deviation sums, which round at 2 (magnitudes
    ~1e6, ulp drift ~1e-10 — far from the boundary).

    Scale shape: three map-side-combined aggregates (grand, per-user,
    per-item-of-residual) + one user-keyed equi-join to form
    residuals — all corpus-linear, output is ONE row. Production runs
    it per segment with the same plan keyed by segment."""
    r = _ratings(spark, sf_dir).select(
        F.col("uid"), F.col("iid"), F.col("r").alias("y")
    ).transform(materialize, sf_dir)  # grand + user + residual passes share the scan
    g = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("s2"),
        F.round(F.avg("y") * 1_000_000).cast("long").alias("g_ppm"),
    )
    ub = r.groupBy("uid").agg(
        F.count(F.lit(1)).alias("nu"),
        F.round(F.avg("y") * 1_000_000).cast("long").alias("u_ppm"),
    )
    ssu = (
        ub.crossJoin(F.broadcast(g.select("g_ppm")))
        .agg(
            F.sum(
                F.col("nu")
                * F.pow((F.col("u_ppm") - F.col("g_ppm")) / 1_000_000.0, 2)
            ).alias("ss_user")
        )
    )
    res = r.join(ub.select("uid", "u_ppm"), "uid").select(
        "iid", (F.col("y") - F.col("u_ppm") / 1_000_000.0).alias("e")
    )
    ib = res.groupBy("iid").agg(
        F.count(F.lit(1)).alias("ni"),
        F.round(F.avg("e") * 1_000_000).cast("long").alias("i_ppm"),
    )
    ssi = ib.agg(
        F.sum(
            F.col("ni") * F.pow(F.col("i_ppm") / 1_000_000.0, 2)
        ).alias("ss_item")
    )
    ss_tot = F.col("s2") - F.col("s") * F.col("s") / F.col("n")
    return (
        g.crossJoin(F.broadcast(ssu))
        .crossJoin(F.broadcast(ssi))
        .select(
            F.col("n").cast("long").alias("n"),
            F.round(ss_tot, 2).alias("ss_total"),
            F.round(F.col("ss_user"), 2).alias("ss_user"),
            F.round(F.col("ss_item"), 2).alias("ss_item_given_user"),
            F.round(F.col("ss_user") / ss_tot, 6).alias("pct_user"),
            F.round(F.col("ss_item") / ss_tot, 6).alias("pct_item"),
        )
    )


# ---------------------------------------------------------------------------
# e_user_auc — per-user ranking AUC (the BPR objective's eval twin)
# ---------------------------------------------------------------------------

_UAUC_SQL = f"""
    WITH {_ML_CTE},
    pairs AS (
        SELECT uid, iid, max(uv) AS s,
               max(CASE WHEN r >= {_IPS_REWARD} THEN 1 ELSE 0 END) AS y
        FROM j GROUP BY 1, 2
    ),
    cnt AS (
        SELECT uid, s, count(*) AS ce, sum(y) AS pe
        FROM pairs GROUP BY uid, s
    ),
    cum AS (
        SELECT uid, ce, pe,
               COALESCE(sum(ce) OVER (
                   PARTITION BY uid ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cl
        FROM cnt
    ),
    us AS (
        SELECT uid,
               sum(pe * (2 * cl + ce + 1)) AS rpos2,
               sum(pe) AS npos,
               sum(ce) - sum(pe) AS nneg
        FROM cum GROUP BY uid
    ),
    f AS (
        SELECT uid,
               rpos2 - npos * (npos + 1) AS num,
               2 * npos * nneg AS den
        FROM us WHERE npos > 0 AND nneg > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(num / (1.0 * den)), 6) AS mean_auc,
           CAST(sum(CASE WHEN 2 * num > den THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above_half
    FROM f
"""


@register("e_user_auc", _UAUC_SQL)
def e_user_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ranking AUC — the eval that matches what BPR actually
    optimizes (E[1{{score(pos) > score(neg)}}] per user, ml/bpr.py),
    where the global e_auc can be dominated by a few heavy users: for
    each user, AUC = P(random positive item outranks a random negative
    one) via the Mann-Whitney rank-sum identity, then the mean across
    users (cAUC) and the share of users above 0.5.

    Exactness: midranks are carried DOUBLED so ties stay integer
    (2·midrank = 2·count_less + count_eq + 1 — the e_rank_sum
    convention), making every per-user AUC an exact integer ratio and
    the above-half flag a pure integer comparison (2·num > den). Only
    the cross-user mean rounds.

    Scale shape: the scoring join reduces to (user, item) pairs, tie
    groups aggregate per (user, score), and the rank cumulative is a
    per-user window (user-parallel, never global); the U-statistic
    needs no pair enumeration — the naive per-user pos×neg comparison
    is quadratic in history."""
    j = _scored(spark, sf_dir)
    pairs = j.groupBy("uid", "iid").agg(
        F.max("uv").alias("s"),
        F.max(
            F.when(F.col("r") >= _IPS_REWARD, 1).otherwise(0)
        ).alias("y"),
    )
    cnt = pairs.groupBy("uid", "s").agg(
        F.count(F.lit(1)).alias("ce"), F.sum("y").alias("pe")
    )
    wcum = (
        Window.partitionBy("uid")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = cnt.select(
        "uid",
        "ce",
        "pe",
        F.coalesce(F.sum("ce").over(wcum), F.lit(0)).alias("cl"),
    )
    us = cum.groupBy("uid").agg(
        F.sum(
            F.col("pe") * (2 * F.col("cl") + F.col("ce") + 1)
        ).alias("rpos2"),
        F.sum("pe").alias("npos"),
        (F.sum("ce") - F.sum("pe")).alias("nneg"),
    )
    f = us.filter((F.col("npos") > 0) & (F.col("nneg") > 0)).select(
        (F.col("rpos2") - F.col("npos") * (F.col("npos") + 1)).alias("num"),
        (2 * F.col("npos") * F.col("nneg")).alias("den"),
    )
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.avg(F.col("num") / (1.0 * F.col("den"))), 6).alias(
            "mean_auc"
        ),
        F.sum(F.when(2 * F.col("num") > F.col("den"), 1).otherwise(0))
        .cast("long")
        .alias("n_above_half"),
    )
