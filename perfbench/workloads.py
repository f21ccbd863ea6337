"""The two workloads: ``train`` (fit, then serve) and ``analytics``.

Each workload has a set-up, a timed closed loop (one client: the next
operation starts only after the previous one returns) and output checks
that run after the timed window. They reach the engine only through its
public entry points: ``registry.QUERIES``, ``ml.*``, ``io.*`` and
``session.get_spark``.
"""

from __future__ import annotations

import gc
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen

# train / serve input: a MovieLens-shaped table of about this many rows.
TRAIN_ROWS = 100_000
TINY_ROWS = 4_000
RANK = 8
# Fixed iteration counts with tol=0, so every pass does identical work.
ALS_ITERS = 2  # two, so the RMSE history can be checked for descent
ITERS = 1  # genre-ALS and iALS
TOP_N = 20
SERVE_REQUESTS = 5  # timed cold-start requests per pass

# analytics: one query per operator family the engine registers, one
# streaming twin (stateful CDC apply) and the A/B serving flow.
ANALYTICS_QUERIES = [
    "flagship_top_customers",   # queries.core: broadcast star join + top-k
    "a_group_agg",              # queries.core: grouped aggregates
    "g_genre_invert",           # queries.genre: explode + invert
    "w_group_topk",             # operators.relational group top-k
    "f_json_parse",             # functions: JSON parsing
    "s_parquet_roundtrip",      # io: factor write + read
    "dedup_exact",              # dedup.minhash fingerprints
    "sim_ivf_topk",             # similarity: IVF index
    "mm_decode",                # multimodal binary decode
    "s_stream_cdc_apply",       # streaming: foreachBatch CDC apply with state
    "e_ab_simulation",          # the batched A/B serving flow
]
TINY_QUERIES = ["a_group_agg", "w_group_topk", "s_parquet_roundtrip", "e_ab_simulation"]
# The long queries. Set-up runs every other (short) query once,
# untimed: the short ones set the per-query floor, and on a cold JIT
# their times swing by about 30% between runs. Warming these three
# would cost about 13 s per run.
LONG_QUERIES = {"sim_ivf_topk", "s_stream_cdc_apply", "e_ab_simulation"}


@dataclass
class Result:
    """What a workload reports back to ``run.py``."""

    setup_s: float = 0.0
    ops: list[tuple[str, float, str]] = field(default_factory=list)  # (name, s, group)
    floor_ops: set[str] = field(default_factory=set)  # the short operations
    failed: int = 0
    passes: list[float] = field(default_factory=list)
    windows: list[tuple[str, float, float]] = field(default_factory=list)
    extra: dict[str, tuple[float, str]] = field(default_factory=dict)
    checks: list[tuple[str, bool, str]] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


def log(msg: str) -> None:
    """Progress line on stderr, stamped with the wall clock."""
    stamp = time.strftime("%H:%M:%S", time.localtime()) + f".{int(time.time() * 1000) % 1000:03d}"
    print(f"[perfbench {stamp}] {msg}", file=sys.stderr, flush=True)


def cleanup(spark) -> None:
    """bench.py's per-query cleanup, outside every timed window."""
    gc.collect()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


class Loop:
    """Closed-loop operation runner: times each call, tags its Spark jobs
    with a job group, and records failures instead of raising."""

    def __init__(self, spark, res: Result, tracer=None) -> None:
        self.spark, self.res, self.tracer = spark, res, tracer
        self.windows = res.windows  # (job group, start, end), epoch seconds

    def run(self, name: str, fn, span: str | None = None):
        group = f"pb-{len(self.windows)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        wall0, t0 = time.time(), time.perf_counter()
        idx = self.tracer.begin(span or name) if self.tracer else None
        out, err = None, None
        try:
            out = fn()
        except Exception as exc:  # one failed operation must not end the run
            err = exc
        elapsed = time.perf_counter() - t0
        if idx is not None:
            self.tracer.end(idx)
        self.windows.append((group, wall0, time.time()))
        sc.setJobGroup("pb-idle", "between operations")
        if err is not None:
            self.res.failed += 1
            self.res.check(f"op {name}", False, str(err).split("\n")[0][:300])
        self.res.ops.append((name, elapsed, group))
        return out, err


def _warm_python_workers(spark) -> None:
    """Start one Python worker per core and import the engine in each,
    so the first UDF-using query of the timed window does not pay the
    worker boot, which otherwise lands on whichever query the seed
    orders first. (``train`` skips this: its first operation is always
    the ALS fit, so the boot lands on the same operation every run.)"""
    n = spark.sparkContext.defaultParallelism

    def boot(batches):
        import recommender_systems_spark.ml.als  # noqa: F401

        for pdf in batches:
            yield pdf

    spark.range(0, n, numPartitions=n).mapInPandas(boot, "id long").collect()


# ---------------------------------------------------------------------------
# Shared MovieLens-shaped input
# ---------------------------------------------------------------------------

class Ratings:
    """The generated table, on disk under the work dir and as Spark frames."""

    def __init__(self, spark, seed: int, work: str, n_rows: int) -> None:
        from pyspark.sql import functions as F

        self.pdf, self.genres_pdf = gen.movielens_like(seed, n_rows)
        d = os.path.join(work, "data", f"seed{seed}_{n_rows}")
        os.makedirs(d, exist_ok=True)
        self.ratings_path = os.path.join(d, "ratings.parquet")
        self.genres_path = os.path.join(d, "genres.parquet")
        self.pdf.to_parquet(self.ratings_path, index=False)
        self.genres_pdf.to_parquet(self.genres_path, index=False)
        self.spark, self.F = spark, F

    def load(self) -> None:
        """Read both tables and touch them."""
        F, spark = self.F, self.spark
        self.ratings = spark.read.parquet(self.ratings_path).select(
            F.col("userId").cast("long").alias("userId"),
            F.col("movieId").cast("long").alias("movieId"),
            F.col("rating_10").cast("double").alias("rating_10"),
        )
        g = spark.read.parquet(self.genres_path)
        self.genres_als = g.select(
            F.col("movieId").cast("long").alias("item"),
            F.col("genre_values").cast("array<int>").alias("genre_values"),
            F.col("genre_count").cast("int").alias("genre_count"),
        )
        self.genres_bpr = self.genres_als.select(
            "item", F.col("genre_values").alias("genre_ids")
        )
        # prac_2 curation: rating >= 4 stars (8 on the 10-point scale),
        # users with fewer than 10 positives dropped.
        self.positives = (
            self.ratings.filter(F.col("rating_10") >= 8)
            .select(F.col("userId").alias("u"), F.col("movieId").alias("i"))
            .groupBy("u")
            .agg(F.collect_set("i").alias("items"))
            .filter(F.size("items") >= 10)
            .select("u", F.explode("items").alias("i"))
        )
        self.ratings.count()
        self.genres_als.count()

    def random_precision(self) -> float:
        """Expected P@k of a uniform-random ranking over the catalogue,
        averaged over the BPR users (rating >= 8, >= 10 positives)."""
        pos = self.pdf[self.pdf["rating_10"] >= 8].groupby("userId").size()
        pos = pos[pos >= 10]
        return float((pos / self.pdf["movieId"].nunique()).mean())


# ---------------------------------------------------------------------------
# train: fit the four recommenders, then serve cold-start users
# ---------------------------------------------------------------------------

def train(spark, seed: int, seconds: float, work: str, tiny: bool, tracer=None) -> Result:
    from recommender_systems_spark import io
    from recommender_systems_spark.ml import als, bpr, foldin, genre_als, ials

    res = Result(floor_ops={"request"})
    t_setup = time.perf_counter()
    data = Ratings(spark, seed, work, TINY_ROWS if tiny else TRAIN_ROWS)
    data.load()
    counts_pdf = data.pdf.groupby("movieId").size()
    # The rarely-rated cut drops the quarter of the catalogue with the
    # fewest raters (the reference's remove_movies_limit).
    cut = int(np.quantile(counts_pdf.to_numpy(), 0.25))
    requests = gen.cold_start_requests(seed, data.genres_pdf, counts_pdf.to_dict(), 100)
    raters = data.ratings.select("movieId").localCheckpoint()
    factors_path = os.path.join(work, "factors", f"seed{seed}")
    res.setup_s = time.perf_counter() - t_setup
    loop = Loop(spark, res, tracer)
    log("set-up done")

    fits = [
        ("als_fit", lambda: als.train_als_bias(
            data.ratings, "userId", "movieId", "rating_10",
            rank=RANK, max_iter=ALS_ITERS, tol=0.0, seed=42,
        )),
        ("genre_als_fit", lambda: genre_als.train_als_genre(
            data.ratings, data.genres_als, "userId", "movieId", "rating_10",
            n_genres=gen.N_GENRES, rank=RANK, max_iter=ITERS, seed=42,
        )[0].rmse_history),
        ("bpr_fit", lambda: bpr.train_bpr(
            data.positives, "u", "i", rank=RANK, epochs=2, seed=42,
            genres=data.genres_bpr, eval_k=TOP_N, eval_every_epoch=False,
            eval_user_count=200, sync_every=2,
        ).metrics_history[-1][0]),
        ("ials_fit", lambda: ials.train_ials(
            data.ratings, "userId", "movieId", "rating_10", max_iter=ITERS,
        )[2]),
    ]

    def roundtrip(model):
        # The reference saves the factors and the A/B harness loads them.
        io.write_factors(model.item_factors, factors_path)
        items = io.read_factors(spark, factors_path)
        items.count()
        return items

    def request(items, req: dict):
        hist = spark.createDataFrame(req["history"], "movieId long, rating_10 double")
        b_u, n_hist, vec = foldin.fold_in_bias_and_trait_vector(
            hist, "movieId", "rating_10", items, dim=RANK
        )
        # The top-N span includes the collect that returns the list.
        idx = tracer.begin("ml.foldin.top_n") if tracer else None
        rows = foldin.top_n_recommendations(
            vec, items, raters, "movieId", n=TOP_N, remove_items_limit=cut
        ).collect()
        if idx is not None:
            tracer.end(idx)
        return b_u, n_hist, vec, [(int(r["movieId"]), float(r["score"])) for r in rows]

    last: dict[str, object] = {}
    responses = []
    items = None
    next_req = 0
    t_end = time.perf_counter() + seconds
    while True:
        start = len(res.ops)
        for name, fn in fits:
            out, err = loop.run(name, fn)
            if err is None:
                last[name] = out
            if name == "als_fit" and err is None:
                items, _ = loop.run("factors_roundtrip", lambda: roundtrip(out))
            cleanup(spark)
        if items is not None:
            for _ in range(SERVE_REQUESTS):
                req = requests[next_req % len(requests)]
                next_req += 1
                out, _ = loop.run("request", lambda: request(items, req))
                responses.append((req, out))
        res.passes.append(sum(s for _, s, _ in res.ops[start:]))
        if time.perf_counter() >= t_end:
            break

    log("timed window done")
    # -- checks (outside the timed window) ---------------------------------
    model = last.get("als_fit")
    histories = {
        "als_fit": model.rmse_history if model is not None else None,
        "genre_als_fit": last.get("genre_als_fit"),
        "ials_fit": last.get("ials_fit"),
    }
    for name, hist in histories.items():
        ok = (
            isinstance(hist, list) and len(hist) >= 1
            and all(np.isfinite(hist))
            and all(b <= a * (1 + 1e-9) for a, b in zip(hist, hist[1:]))
        )
        res.check(f"{name} objective history finite and non-increasing", ok, str(hist))
    mean_rmse = float(data.pdf["rating_10"].std(ddof=0))
    for name in ("als_fit", "genre_als_fit"):
        hist = histories[name] or [float("inf")]
        res.check(f"{name} RMSE beats the global-mean predictor", hist[-1] < mean_rmse,
                  f"rmse={hist[-1]:.4f} mean predictor={mean_rmse:.4f}")
    p20 = last.get("bpr_fit")
    rnd = data.random_precision()
    res.check(
        "bpr P@20 beats a uniform-random ranking",
        isinstance(p20, float) and p20 > rnd, f"P@20={p20} random={rnd:.4f}",
    )
    bad = []
    for req, out in responses:
        if out is None:
            continue
        ids = [m for m, _ in out[3]]
        scores = [s for _, s in out[3]]
        if len(ids) != TOP_N or len(set(ids)) != TOP_N:
            bad.append(f"{len(set(ids))} distinct of {len(ids)}")
        elif any(counts_pdf.get(m, 0) < cut for m in ids):
            bad.append("movie under the rater cut")
        elif any(b > a for a, b in zip(scores, scores[1:])):
            bad.append("scores increase")
    res.check("every response: 20 distinct movies past the cut, scores non-increasing",
              bool(responses) and not bad, "; ".join(bad[:3]))
    done = [(q, o) for q, o in responses if o is not None]
    if done:
        req, out = done[int(np.random.default_rng(seed).integers(len(done)))]
        err = _numpy_recompute(items, req, out, counts_pdf, cut)
        res.check("NumPy recompute of one request within 1e-9", err <= 1e-9,
                  f"max abs err {err:.3g}")
    for name, _ in fits:
        times = [s for n, s, _ in res.ops if n == name]
        res.extra[f"{name}_s"] = (float(np.median(times)) if times else 0.0, "s")
    fit_names = {n for n, _ in fits}
    res.extra["train_pass_s"] = (
        sum(s for n, s, _ in res.ops if n in fit_names) / len(res.passes), "s"
    )
    res.extra["als_final_rmse"] = (float(histories["als_fit"][-1]) if model else 0.0, "1")
    res.extra["bpr_p_at_20"] = (float(p20) if p20 is not None else 0.0, "1")
    return res


def _numpy_recompute(items_df, req, out, counts_pdf, cut) -> float:
    """Fold-in and top-N for one request from the collected factors;
    returns the largest absolute difference to the engine's answer."""
    from recommender_systems_spark.ml.als import DEFAULT_ALPHA, DEFAULT_LMD, DEFAULT_TAU

    rows = items_df.collect()
    ids = np.array([int(r["id"]) for r in rows])
    feats = np.array([list(r["features"]) for r in rows], dtype=np.float64)
    bias = np.array([float(r["bias"]) for r in rows])
    pos = {m: k for k, m in enumerate(ids)}
    hist = [(pos[m], r) for m, r in req["history"] if m in pos]
    v = feats[[k for k, _ in hist]]
    d = np.array([r for _, r in hist]) - bias[[k for k, _ in hist]]
    lmd, alpha, tau = DEFAULT_LMD, DEFAULT_ALPHA, DEFAULT_TAU
    b_u = lmd * d.sum() / (alpha + lmd * len(d))
    a_mat = lmd * v.T @ v + tau * np.eye(v.shape[1])
    rhs = lmd * (v.T @ d - b_u * v.sum(axis=0))
    vec = np.linalg.solve(a_mat, rhs)
    score = feats @ out[2] + 0.05 * bias
    keep = np.array([counts_pdf.get(m, 0) >= cut for m in ids])
    order = sorted(np.flatnonzero(keep), key=lambda k: (-score[k], ids[k]))[:TOP_N]
    want = [(int(ids[k]), float(score[k])) for k in order]
    got = out[3]
    if [m for m, _ in want] != [m for m, _ in got]:
        return float("inf")
    errs = [abs(b_u - out[0]), float(np.max(np.abs(vec - out[2])))]
    errs += [abs(a - b) for (_, a), (_, b) in zip(want, got)]
    return max(errs)


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

def analytics(spark, seed: int, seconds: float, work: str, tiny: bool, tracer=None,
              sf_dir: str = "") -> Result:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from recommender_systems_spark import registry
    from recommender_systems_spark.io import load_table

    res = Result()
    names = TINY_QUERIES if tiny else ANALYTICS_QUERIES
    order = gen.shuffled(seed, names)
    t_setup = time.perf_counter()
    _warm_python_workers(spark)

    def query(name: str):
        obs = Observation()
        df = registry.QUERIES[name](spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("n"))
        df.write.format("noop").mode("overwrite").save()
        return int(obs.get["n"])

    # As bench.py: touch every base table, so footer reads and the events
    # ns->us fallback land in set-up, not in the first query.
    for tbl in ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, tbl).limit(1).collect()
    # bench.py warms up with one query; this warms every short one (JIT
    # and codegen paths), then cleans up once.
    res.floor_ops = set(names) - LONG_QUERIES
    for name in order:
        if name in res.floor_ops:
            query(name)
    cleanup(spark)
    res.setup_s = time.perf_counter() - t_setup
    loop = Loop(spark, res, tracer)
    log("set-up done")
    rows: dict[str, list[int]] = {}

    t_end = time.perf_counter() + seconds
    while True:
        start = len(res.ops)
        for name in order:
            span = "queries.stream" if name.startswith("s_stream_") else (
                "queries." + registry.QUERIES[name].__module__.rsplit(".", 1)[-1]
            )
            n, err = loop.run(name, lambda: query(name), span=span)
            if err is None:
                rows.setdefault(name, []).append(n)
            cleanup(spark)
        res.passes.append(sum(s for _, s, _ in res.ops[start:]))
        if time.perf_counter() >= t_end:
            break

    log("timed window done")
    # -- checks ------------------------------------------------------------
    from tests.oracle_harness import compare_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    mismatched = []
    for name in names:
        sql = registry.ORACLE.get(name)
        got = rows.get(name, [])
        if sql is None:
            if not got or min(got) <= 0:
                mismatched.append(f"{name}: no rows")
            continue
        want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if any(n != want for n in got):
            mismatched.append(f"{name}: rows {sorted(set(got))} vs duckdb {want}")
    con.close()
    res.check("row counts match DuckDB (e_ab_simulation: returns rows)",
              not mismatched, "; ".join(mismatched[:3]))
    # Full value-hash comparison for one seeded query per run: across a
    # few dozen seeds every oracle-backed query in the set is covered.
    oracled = [n for n in names if n in registry.ORACLE]
    rng = np.random.default_rng(seed + 3_000_017)
    name = oracled[int(rng.integers(len(oracled)))]
    ok, msg = compare_query(spark, name, registry.QUERIES[name], registry.ORACLE[name], sf_dir)
    res.check(f"{name} value hash matches DuckDB", ok, msg[:300])
    ab = [s for n, s, _ in res.ops if n == "e_ab_simulation"]
    res.extra["ab_simulation_s"] = (float(np.median(ab)) if ab else 0.0, "s")
    return res


WORKLOADS = {"train": train, "analytics": analytics}
