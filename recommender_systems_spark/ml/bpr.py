"""Bayesian Personalised Ranking on implicit feedback (SURVEY §2.7
M7-M9, §3 entry point 3).

The reference (implicit_feedback/functions.py:6-210, prac_2.py:88-115)
trains BPR with per-triplet SGD: for each user and each positive item,
sample a popularity-weighted negative the user has NOT interacted with
(optionally genre-disjoint from the positive), then update u, v_i, v_j
with sigmoid-weighted gradients. Update-per-triplet is inherently
sequential, so the execution contract changes while the learning
objective stays (SURVEY §7 "What's hard" #1):

- **Triplet sampling (M8/M9) is distributed set-semantics**: the
  rejection loop becomes "draw A candidates per positive from a
  broadcast popularity pool → reject watched (anti-join) and
  genre-overlapping (arrays_overlap) → keep the first survivor".
  The popularity pool is a with-replacement sample of interaction
  EVENTS drawn once per epoch in-plan
  (``popularity_pools_distributed``), so only the POOL_SIZE winners
  reach the driver at any catalog size.
- **SGD (M7) is partition-parallel with per-epoch sync**: positives
  shuffle-group by user; ``applyInPandas`` runs the reference's exact
  gradient math over each user's positives against a broadcast copy of
  V, sampling the negative INSIDE the worker (``_sgd_sample_bucket`` —
  the user's positive set is exactly the group's rows, so rejection is
  a local set probe instead of a distributed anti-join); per-partition
  V-deltas are summed element-wise and applied once per epoch (parallel
  SGD à la Zinkevich et al.), matching the reference's per-epoch
  granularity. The training loop costs three Spark jobs per epoch.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recommender_systems_spark.io import materialize, materialize_now
from recommender_systems_spark.ml.als import bucketed, init_factors

POOL_SIZE = 1024
ATTEMPTS = 4

# Catalogs up to this many items are held whole on the driver and
# broadcast (about 150 B per item at K = 8 with two factor sets and two
# biases: ~75 MB here): BPR's eval, the A/B serving run and the
# ``ml.foldin`` serving snapshot. Past it each keeps its blocked or Spark
# path, which collects and broadcasts nothing catalog-sized.
CATALOG_BROADCAST_THRESHOLD = 500_000


def popularity_pool_distributed(
    positives: DataFrame, item_col: str, size: int, seed: int
) -> np.ndarray:
    """One-seed form of ``popularity_pools_distributed``."""
    return popularity_pools_distributed(positives, item_col, size, [seed])[0]


def popularity_pools_distributed(
    positives: DataFrame, item_col: str, size: int, seeds: list[int]
) -> list[np.ndarray]:
    """M8 at catalog scale: with-replacement popularity samples of
    ``size`` items, one pool PER SEED from a SINGLE Spark job, WITHOUT
    the catalog-sized driver collect. Sampling items ∝ popularity with
    replacement ≡ sampling uniform EVENTS from the interaction table
    (each event is one occurrence of its item), so: replicate each
    event once per pool via an in-plan explode, hash it into one of
    ``size`` slots, keep one uniformly random event per (pool, slot)
    (min_by over a second random key — one partial+final aggregation),
    and collect only the winners. Slots left empty by the hash
    (P ≈ e^(−N/size), negligible when |events| ≫ size) simply shrink
    the pool. Driver traffic is O(len(seeds)·size) regardless of
    catalog or event count; the sync_every > 1 training schedule draws
    one pool per local epoch of a sync block in this one job."""
    arr = F.array(
        *[
            F.struct(
                F.lit(e).alias("__e"),
                # 2s / 2s+1: slot and tiebreak streams never share a
                # seed across CONSECUTIVE pool seeds (callers pass s,
                # s+1, ... per epoch; with rand(s)/rand(s+1) pool e's
                # tiebreak column would equal pool e+1's slot column
                # row-for-row, correlating consecutive epochs' pools).
                F.floor(F.rand(2 * s) * size).cast("int").alias("__s"),
                F.rand(2 * s + 1).alias("__r"),
            )
            for e, s in enumerate(seeds)
        ]
    )
    rows = (
        positives.select(F.col(item_col).alias("__i"), F.explode(arr).alias("x"))
        .select(
            "__i",
            F.col("x.__e").alias("__e"),
            F.col("x.__s").alias("__s"),
            F.col("x.__r").alias("__r"),
        )
        .groupBy("__e", "__s")
        .agg(F.min_by("__i", "__r").alias("__i"))
        .collect()
    )
    return [
        np.array(
            sorted(int(r["__i"]) for r in rows if r["__e"] == e),
            dtype=np.int64,
        )
        for e in range(len(seeds))
    ]


def sample_triplets(
    positives: DataFrame,
    user_col: str,
    item_col: str,
    seed: int,
    genres: DataFrame | None = None,
    attempts: int = ATTEMPTS,
) -> DataFrame:
    """M8/M9: one (user, pos, neg) triplet per positive, set-semantics.

    Candidates come from the broadcast popularity pool; rejection
    (watched / genre overlap) happens as joins over ALL candidates at
    once — no per-row loop. ``genres`` is an optional (item, genre_ids
    array) dimension for the genre-disjoint constraint
    (functions.py:84-131)."""
    pool = popularity_pool_distributed(positives, item_col, POOL_SIZE, seed)
    spark = positives.sparkSession
    pool_df = F.broadcast(
        spark.createDataFrame(
            [(idx, int(item)) for idx, item in enumerate(pool)],
            "__pi int, j long",
        )
    )
    cand = (
        positives.select(
            F.col(user_col).alias("u"), F.col(item_col).alias("i")
        )
        .withColumn("__att", F.explode(F.sequence(F.lit(1), F.lit(attempts))))
        .withColumn("__pi", F.floor(F.rand(seed) * len(pool)).cast("int"))
        .join(pool_df, "__pi")
        .drop("__pi")
    )
    # Reject candidates the user already interacted with (F4 anti-join).
    watched = positives.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("j")
    )
    cand = cand.join(watched, ["u", "j"], "left_anti")
    if genres is not None:
        gi = genres.select(
            F.col("item").alias("i"), F.col("genre_ids").alias("__gi")
        )
        gj = genres.select(
            F.col("item").alias("j"), F.col("genre_ids").alias("__gj")
        )
        cand = (
            cand.join(F.broadcast(gi), "i")
            .join(F.broadcast(gj), "j")
            .filter(~F.arrays_overlap("__gi", "__gj"))
            .drop("__gi", "__gj")
        )
    # "First surviving attempt" = min_by over the attempt index — one
    # partial+final hash aggregation instead of a sort window over
    # |positives| single-digit-row partitions.
    return cand.groupBy("u", "i").agg(F.min_by("j", "__att").alias("j"))


SGD_BUCKETS = 64


def _sgd_sample_bucket(
    pdf: pd.DataFrame,
    v_map: dict | None,
    pools: list[np.ndarray],
    genre_map: dict | None,
    k: int,
    lr: float,
    reg: float,
    attempts: int,
    seed: int,
    pool_vecs: dict | None = None,
    pool_genres: dict | None = None,
) -> pd.DataFrame:
    """Fused M8/M9 + M7: negative sampling AND the gradient loop in one
    Arrow pass. The standalone ``sample_triplets`` expresses sampling as
    set-semantics DataFrame ops (the M8/M9 operator surface); inside the
    training loop the same semantics — draw from the broadcast
    popularity pool, reject watched / genre-overlapping, give up after
    ``attempts`` — run against the user's own group rows, which ARE the
    user's positive set. That deletes three shuffles per epoch (the
    candidate explode, the watched anti-join, the first-survivor agg);
    the shuffled bytes drop from ~4×|positives| candidate rows to
    |positives| (u, i, uf) rows.

    Determinism: per-user generators seeded with (seed, u), positives
    visited in item order — bucket composition and scheduling cannot
    change the result.

    Two catalog modes, same math bit-for-bit:

    - broadcast (``v_map`` set): the epoch-frozen V snapshot arrives as
      one catalog-sized broadcast dict. Right up to ~10⁶ items.
    - partitioned (``v_map=None``): the snapshot vector for each
      POSITIVE rides its own row (``vf`` column, joined in-plan — the
      per-rating replication ships through the shuffle, never the
      driver) and NEGATIVE candidates' vectors/genres come from the
      POOL_SIZE-bounded ``pool_vecs``/``pool_genres`` dicts (the only
      broadcasts, O(pool), catalog-size-independent). Genre sets for
      positives likewise ride the rows (``gi`` column). This is the
      100×-scale path: nothing driver-side grows with the catalog."""
    import math

    # One pool per local epoch (sync_every > 1: the worker runs one
    # full pass per pool between V syncs — local SGD with reduced sync
    # frequency). The draw sequence for pools[0] does not depend on how
    # many pools follow it.
    i_all = pdf["i"].to_numpy()
    row_mode = v_map is None
    genres_on = (genre_map is not None) or (pool_genres is not None)
    # Per-group output accumulators (column-wise — building a list of
    # per-row dicts measured ~25% of kernel time at sf0.1).
    out_kind: list[str] = []
    out_id: list[int] = []
    out_vecs: list[np.ndarray] = []
    zeros = np.zeros(k)

    # The per-triplet math runs on float64 NumPy vectors held in a
    # ``cur`` map (current value per touched item), with the delta for
    # the cross-worker sync emitted as cur − base at group end. Same
    # update semantics as the r12 delta-accumulator form (the sync adds
    # Σ_group (cur − base) onto the epoch snapshot); per-element fp
    # association differs at the 1e-16 level, which no contract pins —
    # the mode/schedule parity tests compare runs THROUGH this same
    # kernel, and stay exact.
    for u_id, idx in pdf.groupby("u", sort=False).indices.items():
        # The user's epoch-frozen vector arrives on its single marker
        # row (i = −1); positives are the i ≥ 0 rows. A group without a
        # marker has no current user state — dropped, matching the old
        # inner-join contract (never happens: u_f covers every pos
        # user).
        marker = [p for p in idx if i_all[p] < 0]
        if not marker:
            continue
        u_vec = np.asarray(
            pdf["uf"].iloc[marker[0]], dtype=np.float64
        ).copy()
        idx = [p for p in idx if i_all[p] >= 0]
        watched = {int(i_all[p]) for p in idx}
        cur: dict[int, np.ndarray] = {}
        base: dict[int, np.ndarray] = {}
        rng = np.random.default_rng([int(seed), int(u_id)])
        if row_mode:
            i_row = {int(i_all[p]): p for p in idx}

        def v_of(item: int) -> np.ndarray:
            c = cur.get(item)
            if c is not None:
                return c
            if row_mode:
                p = i_row.get(item)
                b = pdf["vf"].iloc[p] if p is not None else pool_vecs.get(item)
            else:
                b = v_map.get(item)
            b = zeros if b is None else np.asarray(b, dtype=np.float64)
            base[item] = b
            c = b.copy()
            cur[item] = c
            return c

        def genres_of_pos(item: int):
            if not genres_on:
                return None
            if row_mode:
                g = pdf["gi"].iloc[i_row[item]]
                return frozenset(int(x) for x in g) if g is not None else None
            return genre_map.get(item)

        def genres_of_neg(item: int):
            return (pool_genres if row_mode else genre_map).get(item)

        pos_sorted = sorted(int(i_all[p]) for p in idx)
        for pool_e in pools:
            pool_n = len(pool_e)
            draws = rng.integers(0, pool_n, size=attempts * len(idx))
            for pos_no, i in enumerate(pos_sorted):
                j = None
                g_pos = genres_of_pos(i)
                for a in range(attempts):
                    cand = int(pool_e[draws[pos_no * attempts + a]])
                    if cand in watched:
                        continue
                    if g_pos is not None:
                        g_neg = genres_of_neg(cand)
                        if g_neg is not None and not g_pos.isdisjoint(g_neg):
                            continue
                    j = cand
                    break
                if j is None:
                    continue
                v_i, v_j = v_of(i), v_of(j)
                diff = v_i - v_j
                x_uij = float(u_vec @ diff)
                e = math.exp(-x_uij)
                coef = e / (1.0 + e)
                # All three RHS use the pre-update values (diff, v_i,
                # v_j, u_vec captured before any in-place write).
                inc_i = lr * (coef * u_vec + reg * v_i)
                inc_j = lr * (-coef * u_vec + reg * v_j)
                u_vec += lr * (coef * diff + reg * u_vec)
                v_i += inc_i
                v_j += inc_j

        out_kind.append("u")
        out_id.append(int(u_id))
        out_vecs.append(u_vec)
        for item, c in cur.items():
            out_kind.append("dv")
            out_id.append(item)
            out_vecs.append(c - base[item])
    mat = (
        np.stack(out_vecs) if out_vecs else np.zeros((0, k), dtype=np.float64)
    )
    cols = {"kind": out_kind, "id": out_id}
    cols.update({f"d{t}": mat[:, t] for t in range(k)})
    return pd.DataFrame(cols)


@dataclass
class BprModel:
    user_factors: DataFrame  # (id, features)
    item_factors: DataFrame  # (id, features)
    metrics_history: list[tuple[float, float]]  # (P@k, R@k) per eval point (sync-block boundaries when sync_every > 1)


def train_bpr(
    positives: DataFrame,
    user_col: str,
    item_col: str,
    rank: int = 12,
    lr: float = 0.02,
    reg: float = 0.01,
    epochs: int = 2,
    seed: int = 42,
    genres: DataFrame | None = None,
    eval_k: int | None = None,
    eval_every_epoch: bool = True,
    eval_user_count: int | None = None,
    catalog_broadcast_threshold: int = CATALOG_BROADCAST_THRESHOLD,
    eval_block_size: int = 200_000,
    sync_every: int = 1,
) -> BprModel:
    """The prac_2.py training loop re-contracted for Spark: per epoch,
    user-partitioned fused sampling + SGD (``_sgd_sample_bucket``) →
    element-wise V-delta reduction (k-column grouped sum) → optional
    ranking-metric eval (E1).

    Catalog scaling: when the item count exceeds
    ``catalog_broadcast_threshold``, the loop switches to the
    PARTITIONED catalog path — the epoch V snapshot is joined onto the
    positives in-plan instead of collected+broadcast, genre sets ride
    the rows, and the E1 eval scores against item blocks of
    ``eval_block_size`` with a per-user top-k merge
    (see ``_sgd_sample_bucket`` / ``precision_recall_at_k``). Both
    paths draw the per-epoch negative pool DISTRIBUTED
    (``popularity_pools_distributed`` — O(POOL_SIZE) driver traffic),
    and produce bit-identical factors given the same inputs: the modes
    differ only in how the same snapshot floats reach the workers.

    ``sync_every``: local epochs per V sync. 1 (default) is classic
    per-epoch-sync parallel SGD and stays bit-identical to earlier
    schedules. >1 batches that many full passes into ONE
    ``applyInPandas`` invocation — each worker applies its own
    accumulated deltas between local passes (local SGD with reduced
    sync frequency; Stich 2019) and cross-worker V sync happens once
    per block. That divides the per-epoch Spark fixed cost (shuffle +
    Arrow stage + snapshot collect + delta reduction) by the block
    length; metric evals land on sync boundaries. Broadcast and
    blocked catalog modes stay bit-identical to EACH OTHER for any
    ``sync_every``."""
    pos = positives.select(
        F.col(user_col).cast("long").alias("u"),
        F.col(item_col).cast("long").alias("i"),
    ).transform(materialize)
    u_f = (
        init_factors(pos.select("u").distinct(), "u", rank, seed, scale=0.1)
        .drop("bias")
        .transform(materialize)
    )
    v_f = (
        init_factors(pos.select("i").distinct(), "i", rank, seed + 1, scale=0.1)
        .drop("bias")
        .transform(materialize)
    )
    spark = positives.sparkSession
    metrics: list[tuple[float, float]] = []
    n_items = v_f.count()
    blocked = n_items > catalog_broadcast_threshold
    eval_blocks = (
        -(-n_items // eval_block_size) if blocked else None  # ceil div
    )

    # Genre dimension, broadcast mode only: collected once as an
    # item→genre-id-set dict (dimension-sized, like the reference's
    # genre dict). In blocked mode genre sets ride the positive rows
    # and the pool dict instead — no catalog-sized driver structure.
    g_map = None
    if genres is not None and not blocked:
        g_map = {
            int(r["item"]): frozenset(int(g) for g in r["genre_ids"])
            for r in genres.collect()
        }
    bc_g = spark.sparkContext.broadcast(g_map)
    dims = [f"d{t}" for t in range(rank)]
    schema = "kind string, id long, " + ", ".join(f"{d} double" for d in dims)

    def epoch_src() -> DataFrame:
        # The user's epoch-frozen vector ships ONCE per user as a
        # marker row (i = −1; the als_half_sweep __k trick) instead of
        # replicated onto every positive — the grouping shuffle and
        # Arrow payload drop from |positives|·k doubles to |users|·k
        # (round-13: ~5× fewer shuffled bytes at sf0.1).
        src = pos.select(
            "u", "i", F.lit(None).cast("array<double>").alias("uf")
        )
        if blocked:
            # The epoch-frozen V snapshot rides each positive row; the
            # per-rating replication ships through the shuffle (scale-
            # safe), never the driver.
            src = pos.join(
                v_f.select(F.col("id").alias("i"), F.col("features").alias("vf")),
                "i",
            )
            if genres is not None:
                src = src.join(
                    F.broadcast(
                        genres.select(
                            F.col("item").alias("i"),
                            F.col("genre_ids").alias("gi"),
                        )
                    ),
                    "i",
                    "left",
                )
            src = src.select(
                "u", "i", F.lit(None).cast("array<double>").alias("uf"),
                "vf", *(["gi"] if genres is not None else []),
            )
        extra = [f for f in src.schema.fields if f.name in ("vf", "gi")]
        markers = u_f.select(
            F.col("id").alias("u"),
            F.lit(-1).cast("long").alias("i"),
            F.col("features").alias("uf"),
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in extra],
        )
        src = src.unionByName(markers)
        return src.withColumn("__b", F.pmod(F.col("u"), F.lit(SGD_BUCKETS)))

    epoch = 0
    while epoch < epochs:
        n_local = min(max(1, sync_every), epochs - epoch)
        ep_seed = seed + 100 + epoch
        # One job draws the whole block's pools, one per local epoch.
        pools = popularity_pools_distributed(
            pos, "i", POOL_SIZE, [ep_seed + e for e in range(n_local)]
        )
        if blocked:
            # Negative-side lookups are bounded by the pool, not the
            # catalog: join V (and genres) against the distinct pool
            # ids and broadcast only those.
            pool_df = F.broadcast(
                spark.createDataFrame(
                    [
                        (int(x),)
                        for x in sorted(
                            {int(i) for p in pools for i in p}
                        )
                    ],
                    "id long",
                )
            )
            bc_vm = None
            pool_vecs = {
                int(r["id"]): np.asarray(r["features"], dtype=np.float64)
                for r in v_f.join(pool_df, "id").collect()
            }
            pool_genres = None
            if genres is not None:
                pool_genres = {
                    int(r["item"]): frozenset(int(g) for g in r["genre_ids"])
                    for r in genres.join(
                        pool_df.withColumnRenamed("id", "item"), "item"
                    ).collect()
                }
        else:
            # Epoch-frozen V snapshot, broadcast into the Arrow workers.
            bc_vm = spark.sparkContext.broadcast(
                {
                    int(r["id"]): np.asarray(r["features"], dtype=np.float64)
                    for r in v_f.collect()
                }
            )
            pool_vecs = pool_genres = None

        def sgd(pdf: pd.DataFrame) -> pd.DataFrame:
            return _sgd_sample_bucket(
                pdf,
                bc_vm.value if bc_vm is not None else None,
                pools,
                bc_g.value,
                rank,
                lr,
                reg,
                ATTEMPTS,
                ep_seed,
                pool_vecs=pool_vecs,
                pool_genres=pool_genres,
            )

        out = (
            bucketed(epoch_src(), "__b", SGD_BUCKETS)
            .groupBy("__b")
            .applyInPandas(sgd, schema)
        )
        # Blocked mode's eval reads ``out`` through two branches of one
        # job (u_f and v_f's dv), so there it is written before the eval.
        out = materialize_now(out) if blocked else materialize(out)
        # u_f / dv both derive lazily from the checkpointed SGD output —
        # no separate materialisation jobs.
        u_f = out.filter(F.col("kind") == "u").select(
            "id", F.array(*dims).alias("features")
        )
        # Per-epoch sync: k-column grouped sum of the V-deltas, then
        # repack into the array shape.
        dv = (
            out.filter(F.col("kind") == "dv")
            .groupBy("id")
            .agg(*[F.sum(d).alias(d) for d in dims])
            .select("id", F.array(*dims).alias("delta"))
        )
        v_f = (
            v_f.join(dv, v_f["id"] == dv["id"], "left")
            .select(
                v_f["id"],
                F.when(
                    dv["delta"].isNotNull(),
                    F.zip_with("features", "delta", lambda a, b: a + b),
                )
                .otherwise(F.col("features"))
                .alias("features"),
            )
            .transform(materialize)
        )
        epoch += n_local
        if eval_k and (eval_every_epoch or epoch >= epochs):
            # The E1 eval is a |U|×|I| scoring product, so the user
            # sample is the scale control. ``eval_user_count`` takes a
            # FIXED-COUNT md5-ordered sample (eval cost N×|I| — linear
            # in the catalog at any user count); without it every user
            # is scored.
            if eval_user_count:
                # Fixed-count sample ⇒ everything driver-bounded: the
                # sample-sized eval runs through `_eval_pr_driver`
                # (same scoring, same tie order, deterministic
                # sorted-user averaging shared by both catalog modes).
                eval_users = u_f.orderBy(
                    F.md5(F.col("id").cast("string")), "id"
                ).limit(eval_user_count)
                metrics.append(
                    _eval_pr_driver(
                        pos, eval_users, v_f, eval_k,
                        n_blocks=eval_blocks,
                    )
                )
            else:
                metrics.append(
                    precision_recall_at_k(
                        pos, u_f, v_f, eval_k,
                        n_blocks=eval_blocks,
                    )
                )
    return BprModel(u_f, v_f, metrics)


def rank_top_k(
    users,
    item_mat: np.ndarray,
    item_ids: np.ndarray,
    k: int,
    item_bias: np.ndarray | None = None,
    bias_w: float = 0.0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The one score-and-rank kernel of the NumPy layer (BPR's E1
    evals and blocked tiles, the A/B serving run): score = U·Vᵀ
    [+ bias_w·b], then each user's top ``k`` items by (score desc, id
    asc), the Window merges' ``orderBy(score.desc(), id)`` order.
    ``users`` stacks into an (m, K) matrix (e.g. a Series of factor
    arrays). Returns flat user-major arrays (user row, item id, score,
    rank 1..k), min(k, |items|) entries per user."""
    u_mat = np.asarray(list(users), dtype=np.float64).reshape(-1, item_mat.shape[1])
    scores = u_mat @ item_mat.T
    if item_bias is not None:
        scores = scores + bias_w * item_bias
    kk = min(k, len(item_ids))
    cols = np.array(
        [np.lexsort((item_ids, -row))[:kk] for row in scores], dtype=np.int64
    ).reshape(-1)
    rows = np.repeat(np.arange(len(u_mat)), kk)
    ranks = np.tile(np.arange(1, kk + 1), len(u_mat))
    return rows, item_ids[cols], scores[rows, cols], ranks


def _item_matrix(item_factors: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, |items|×K float64 matrix) of a broadcast-sized factor frame."""
    rows = item_factors.collect()
    return (
        np.array([r["id"] for r in rows], dtype=np.int64),
        np.array([r["features"] for r in rows], dtype=np.float64),
    )


def _eval_pr_driver(
    positives: DataFrame,
    eval_users: DataFrame,
    item_factors: DataFrame,
    k: int | list[int],
    n_blocks: int | None = None,
) -> tuple[float, float] | dict[int, tuple[float, float]]:
    """E1 for a FIXED-COUNT user sample: everything that reaches the
    driver is sample-bounded (N users' vectors, N·kmax top rows, the
    N users' positive pairs), so the hit-counting and averaging run as
    plain NumPy in sorted-user order — deterministic, and byte-equal
    across the broadcast/blocked catalog modes BY CONSTRUCTION (both
    feed the same integer (u, ranked-items) lists into the same driver
    arithmetic; the metric no longer depends on Spark partial-agg
    order). Replaces ~5 shuffle stages of pure scheduling per eval
    point (measured 2.4 s → ~0.5 s at sf0.1 with N=200).

    Scale shape: with ``n_blocks`` set, scoring stays the distributed
    blocked GEMM (``_topk_blocked``) and only its N·kmax (u, i, rnk)
    rows are collected; without it the catalog is below the broadcast
    threshold, so the same item matrix the epoch already broadcasts is
    scored against N user vectors driver-side with ``rank_top_k``."""
    ks = sorted({k} if isinstance(k, int) else set(k))
    kmax = ks[-1]
    if n_blocks is not None and n_blocks > 1:
        top = [
            (int(r["u"]), int(r["i"]), int(r["rnk"]))
            for r in _topk_blocked(eval_users, item_factors, kmax, n_blocks).collect()
        ]
    else:
        ev_rows = eval_users.collect()
        item_ids, item_mat = _item_matrix(item_factors)
        rows, items, _, ranks = rank_top_k(
            [r["features"] for r in ev_rows], item_mat, item_ids, kmax
        )
        top = [
            (int(ev_rows[n]["id"]), int(i), int(rk))
            for n, i, rk in zip(rows, items, ranks)
        ]
    ranked: dict[int, list[int]] = {}
    for u, i, _ in sorted(top, key=lambda t: (t[0], t[2])):
        ranked.setdefault(u, []).append(i)
    pos_sets: dict[int, set[int]] = {}
    for r in (
        positives.join(
            eval_users.select(F.col("id").alias("u")), "u", "left_semi"
        ).collect()
    ):
        pos_sets.setdefault(int(r["u"]), set()).add(int(r["i"]))
    out: dict[int, tuple[float, float]] = {}
    users = sorted(pos_sets)  # scored users with ≥1 positive, as before
    for kk in ks:
        ps, rs = [], []
        for u in users:
            tops = ranked.get(u, [])[:kk]
            tp = sum(1 for i in tops if i in pos_sets[u])
            ps.append(tp / kk)
            rs.append(tp / len(pos_sets[u]))
        out[kk] = (
            float(np.mean(ps)) if ps else 0.0,
            float(np.mean(rs)) if rs else 0.0,
        )
    return out[k] if isinstance(k, int) else out


def _topk_blocked(
    user_factors: DataFrame,
    item_factors: DataFrame,
    kmax: int,
    n_blocks: int,
    bias_w: float = 0.0,
) -> DataFrame:
    """Per-user top-``kmax`` (u, i, score, rnk) when the catalog is too
    big to broadcast: the classic blocked GEMM. Items hash into
    ``n_blocks`` blocks and users into SGD_BUCKETS buckets; each
    (bucket, block) tile is a cogroup whose kernel is ``rank_top_k``
    and keeps the tile-local top-kmax (a superset of each user's global
    top-kmax, since the global top-kmax within any block ⊆ that block's
    top-kmax). A row_number window then merges |U|·n_blocks·kmax
    candidate rows to the global ranking. Nothing driver-side or
    broadcast-side grows with the catalog; tile memory is
    (|U|/buckets + |I|/blocks)·k floats. Same kernel and tie order as
    the broadcast path (score desc, item id asc); BLAS may round a
    tile's dot product differently in the last bit than the full GEMM,
    so only scores within one ulp can rank differently (the parity
    tests pin equality on the test data). A non-zero ``bias_w`` adds
    bias_w·b_i from the item side's ``bias`` column to every score
    (the A/B serving run's M13 blend)."""
    from pyspark.sql import Window

    items_b = item_factors.withColumn(
        "__blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int")
    )
    users_rep = user_factors.withColumn(
        "__b", F.pmod(F.col("id"), F.lit(SGD_BUCKETS)).cast("int")
    ).withColumn(
        "__blk", F.explode(F.array(*[F.lit(b) for b in range(n_blocks)]))
    )
    items_rep = items_b.withColumn(
        "__b", F.explode(F.array(*[F.lit(b) for b in range(SGD_BUCKETS)]))
    )

    def tile(updf: pd.DataFrame, itdf: pd.DataFrame) -> pd.DataFrame:
        if updf.empty or itdf.empty:
            return pd.DataFrame(
                {
                    "u": pd.Series(dtype="int64"),
                    "i": pd.Series(dtype="int64"),
                    "score": pd.Series(dtype="float64"),
                }
            )
        mat = np.stack([np.asarray(f, dtype=np.float64) for f in itdf["features"]])
        bias = itdf["bias"].to_numpy(dtype=np.float64) if bias_w else None
        rows, items, scores, _ = rank_top_k(
            updf["features"], mat, itdf["id"].to_numpy(), kmax, bias, bias_w
        )
        return pd.DataFrame(
            {"u": updf["id"].to_numpy()[rows], "i": items, "score": scores}
        )

    tiles = (
        users_rep.groupBy("__b", "__blk")
        .cogroup(items_rep.groupBy("__b", "__blk"))
        .applyInPandas(tile, "u long, i long, score double")
    )
    w = Window.partitionBy("u").orderBy(F.col("score").desc(), F.col("i"))
    return (
        tiles.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= kmax)
        .select("u", "i", "score", "rnk")
    )


def precision_recall_at_k(
    positives: DataFrame,
    user_factors: DataFrame,
    item_factors: DataFrame,
    k: int | list[int],
    n_blocks: int | None = None,
) -> tuple[float, float] | dict[int, tuple[float, float]]:
    """E1: mean P@k / R@k over users (functions.py:212-246): score the
    full catalogue per user, per-user top-k, hits = |top-k ∩ positives|
    via a semi-join.

    ``k`` may be a list (reference prac_2.py:124-138 sweeps
    k ∈ {40,50,60} in one pass): ONE top-max(k) GEMM is computed and
    each smaller k is a rank-prefix slice of it — the per-k metrics
    come from a single aggregation, so the sweep costs the same as the
    largest single k. Returns (p, r) for a scalar k, {k: (p, r)} for a
    list.

    Scale shape: full-catalog scoring is a dense (users × items) GEMM,
    not a relational join — user blocks × a broadcast item matrix inside
    ``applyInPandas``, with the top-k computed in the same NumPy frame.
    Only |users|×max(k) (id, id, rank) rows ever materialise as Spark
    rows. When ``n_blocks`` is set (catalog past broadcast reach) the
    scoring runs as a blocked GEMM with a per-user top-k merge instead
    (``_topk_blocked``) — bit-identical results, nothing catalog-sized
    on the driver."""
    ks = sorted({k} if isinstance(k, int) else set(k))
    kmax = ks[-1]
    spark = positives.sparkSession
    if n_blocks is not None and n_blocks > 1:
        top = _topk_blocked(user_factors, item_factors, kmax, n_blocks)
    else:
        bc = spark.sparkContext.broadcast(_item_matrix(item_factors))

        def topk_block(pdf: pd.DataFrame) -> pd.DataFrame:
            ids, mat = bc.value
            rows, items, _, ranks = rank_top_k(pdf["features"], mat, ids, kmax)
            return pd.DataFrame(
                {"u": pdf["id"].to_numpy()[rows], "i": items, "rnk": ranks}
            )

        top = (
            bucketed(
                user_factors.withColumn(
                    "__b", F.pmod(F.col("id"), F.lit(SGD_BUCKETS))
                ),
                "__b",
                SGD_BUCKETS,
            )
            .groupBy("__b")
            .applyInPandas(topk_block, "u long, i long, rnk int")
        )
    # Fused tail (round-13, shared by both scoring modes so they stay
    # value-identical): flag each SCORED user's positives with its
    # top-k rank in one left join, then a single per-user aggregation
    # yields n_pos AND every tp_k — the old hits/per_user/fillna chain
    # was three extra shuffle stages of pure scheduling at small k.
    # Averaging over scored users only (user_factors may be a sample);
    # top rows outside the positive set contribute nothing, exactly as
    # the old semi-join counted them.
    per_user = (
        positives.join(
            user_factors.select(F.col("id").alias("u")), "u", "left_semi"
        )
        .join(top, ["u", "i"], "left")
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            *[
                F.sum(
                    F.when(F.col("rnk") <= kk, 1).otherwise(0)
                ).alias(f"tp_{kk}")
                for kk in ks
            ],
        )
    )
    row = per_user.agg(
        *[F.avg(F.col(f"tp_{kk}") / F.lit(kk)).alias(f"p_{kk}") for kk in ks],
        *[F.avg(F.col(f"tp_{kk}") / F.col("n_pos")).alias(f"r_{kk}") for kk in ks],
    ).collect()[0]
    out = {kk: (float(row[f"p_{kk}"]), float(row[f"r_{kk}"])) for kk in ks}
    return out[k] if isinstance(k, int) else out
