"""Similarity-search queries: multi-table LSH-bucketed ANN over the
embeddings table.

``v_cosine_topk`` (queries.core) is the exact brute-force baseline;
``sim_ann_topk`` here is the bucketed scale path — same output shape,
candidates restricted to vectors sharing at least one hyperplane-table
bucket with the query. ``sim_ann_recall`` measures the approximation
against the exact ranking in one plan, so the recall/cost knob
(``similarity.ann.N_PLANES`` / ``N_TABLES``) has a built-in feedback
loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recommender_systems_spark.functions.vector import (
    cosine_similarity,
    dot_product,
)
from recommender_systems_spark.queries._shared import u01_col, u01_sql
from recommender_systems_spark.io import cache_path, cache_ready, materialize, table_rows
from recommender_systems_spark.ml.ials import batch_gram
from recommender_systems_spark.registry import _t, register
from recommender_systems_spark.similarity.ann import (
    adaptive_bits,
    bucket_keys,
    sql_adaptive_bits,
    sql_bucket_keys,
)

N_QUERIES = 10
TOP_K = 5
# IVF geometry: the codebook is a FIXED-COUNT deterministic sample —
# the md5-ordered top-N_CENTROIDS vectors (deterministic
# "training-free" codebook; in production swap in k-means centroids,
# every plan below is unchanged). Fixed count is the SCALE CONTROL:
# with fixed probe/query budgets, assignment is N x K (linear) and
# per-query candidates are NPROBE x N/K (linear). The previous
# mod-fraction codebook (vec_id % 50) grew K linearly with the corpus,
# making the assignment cross product N^2/50 — measured 32x-48x at a
# 10x tiling.
N_CENTROIDS = 40
NPROBE = 3


# ---------------------------------------------------------------------------
# The IVF coarse quantiser: every IVF query below builds its corpus,
# codebook, cell assignment, probes and cosine top-K from these.
# ---------------------------------------------------------------------------


def _cos5(a: str, b: str):
    """Cosine of two array columns rounded to 5 dp — the value every IVF
    rank orders on, rounded BEFORE ranking so ties break identically in
    both engines."""
    return F.round(cosine_similarity(a, b), 5)


def _ivf_corpus(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The corpus ``(vec_id, *cols, v)``, spread across every core and
    materialised for its consumers (codebook, assignment, queries,
    re-rank). The raw file split count (2 at sf1, 13 at sf10)
    under-parallelises the N×K assignment, the widest stage: measured
    24.6 s → ~3 s at sf1."""
    return (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", *cols, F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism)
        .transform(materialize, sf_dir)
    )


def _ivf_queries(e: DataFrame) -> DataFrame:
    """The query set ``(qid, qv)``: the first N_QUERIES vectors."""
    return e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )


def _ivf_codebook(e: DataFrame, k: int) -> DataFrame:
    """The codebook ``(cid, cv)``: a fixed-COUNT deterministic sample,
    the md5-ordered top-k vectors (TakeOrderedAndProject; the oracles'
    ``ORDER BY md5(...), vec_id LIMIT k`` picks the same rows)."""
    return (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )


def _ivf_assign(
    e: DataFrame, cents: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Each vector's Voronoi cell, ``(vec_id, *carry, cell)``: the
    centroid of highest rounded cosine, the LOWEST cid on a tie — the
    oracles' ``row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC,
    cid) = 1``, written the same way. ``carry`` columns (``v`` for the
    index, ``label`` for purity) ride along.

    The rnk = 1 filter plans a map-side WindowGroupLimit, so each
    partition cuts its N×K candidate rows to N before the exchange. The
    aggregate spellings do no better: max over a struct is not
    hash-aggregatable, so max(struct(cos₅, −cid)) and max_by plan the
    same local Sort of all N×K rows (Sort + SortAggregate). All three
    pick identical cells. Measured on 4 cores (local[4]): in one session,
    interleaved noop writes at sf0.1 (2,000 × 40), this form took 0.90 s
    median against max(struct)'s 0.98 s and won 8 of 11 reps; at 50,000
    × 160 it took 65.8 s against 67.5 s (max(struct)) and 70.9 s
    (max_by); over the nine IVF queries, interleaved full runs against
    mixed spellings gave a total ratio of 1.000 for this form and 1.021
    for max(struct)."""
    w = Window.partitionBy("vec_id").orderBy(_cos5("v", "cv").desc(), F.col("cid"))
    return (
        e.crossJoin(F.broadcast(cents))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", *carry, F.col("cid").alias("cell"))
    )


def _ivf_probes(q: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """Each query's ``n`` probed cells, ``(qid, cell, prnk)``: ranked by
    rounded cosine desc, cid asc — the assignment's order."""
    w = Window.partitionBy("qid").orderBy(_cos5("qv", "cv").desc(), F.col("cid"))
    return (
        q.crossJoin(F.broadcast(cents))
        .withColumn("prnk", F.row_number().over(w))
        .filter(F.col("prnk") <= n)
        .select("qid", F.col("cid").alias("cell"), "prnk")
    )


def _cosine_top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best ``scored`` rows per qid by (cos_sim desc, vec_id asc)
    with their 1-based ``rank`` appended: ``(qid, vec_id, cos_sim,
    rank)`` for a three-column ``scored``; any other column rides
    along."""
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _exact_scored(e: DataFrame, q: DataFrame, *extra) -> DataFrame:
    """Every (query, other vector) pair with its rounded cosine —
    brute-force candidates for an exact ranking."""
    return e.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid", "vec_id", *extra, _cos5("v", "qv").alias("cos_sim")
    )

_ANN_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               {sql_bucket_keys('CAST(embedding AS DOUBLE[])',
                                sql_adaptive_bits())} AS keys
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv, keys AS qkeys FROM e
          WHERE vec_id < {N_QUERIES}),
    eb AS (SELECT vec_id, unnest(keys) AS key FROM e),
    qb AS (SELECT qid, unnest(qkeys) AS key FROM q),
    cand AS (
        SELECT DISTINCT qb.qid, eb.vec_id
        FROM eb JOIN qb ON eb.key = qb.key AND eb.vec_id <> qb.qid
    ),
    scored AS (
        SELECT c.qid, c.vec_id,
               round(list_dot_product(e.v, q.qv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos_sim
        FROM cand c JOIN e ON e.vec_id = c.vec_id
                    JOIN q ON q.qid = c.qid
    ),
    ranked AS (
        SELECT qid, vec_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY qid ORDER BY cos_sim DESC, vec_id
               ) AS INT) AS rank
        FROM scored
    )
    SELECT qid, vec_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


_RECALL_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               {sql_bucket_keys('CAST(embedding AS DOUBLE[])',
                                sql_adaptive_bits())} AS keys
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv, keys AS qkeys FROM e
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.qid, e.vec_id,
               len(list_intersect(e.keys, q.qkeys)) > 0 AS same_bucket,
               round(list_dot_product(e.v, q.qv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos_sim
        FROM q JOIN e ON e.vec_id <> q.qid
    ),
    exact AS (
        SELECT qid, vec_id, same_bucket,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT qid,
           CAST(sum(CASE WHEN same_bucket THEN 1 ELSE 0 END) AS BIGINT)
               AS ann_hits,
           sum(CASE WHEN same_bucket THEN 1 ELSE 0 END) / {TOP_K}.0
               AS recall_at_{TOP_K}
    FROM exact WHERE rnk <= {TOP_K}
    GROUP BY qid
"""


@register("sim_ann_recall", _RECALL_SQL)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality metric: what fraction of each query's EXACT top-5
    collides with the query in at least one LSH table (= the recall the
    bucketed path achieves). Computed as one plan: exact brute-force
    ranking with an arrays_overlap collision flag, then per-query hit
    counting — the engine measures its own approximation instead of
    asserting it. Raising recall = fewer planes per table or more
    tables; this query is the feedback loop for that knob. (On this
    driver's near-random synthetic embeddings the exact top-5 sits at
    cos ≈ 0.4 — the adversarial case for sign LSH; clustered real
    corpora collide far more often at the same configuration.)"""
    src = _t(spark, sf_dir, "embeddings")
    e = (
        src.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        # The exact-ranking stage maps a cosine over corpus × queries;
        # raw file splits (13 at sf10) starve it on local[32].
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn(
            "keys",
            bucket_keys("v", adaptive_bits(table_rows(sf_dir, "embeddings"))),
        )
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("keys").alias("qkeys"),
    )
    exact = _cosine_top_k(
        _exact_scored(e, q, F.arrays_overlap("keys", "qkeys").alias("same_bucket")),
        TOP_K,
    )
    hits = F.sum(F.when(F.col("same_bucket"), 1).otherwise(0))
    return exact.groupBy("qid").agg(
        hits.cast("long").alias("ann_hits"),
        (hits / float(TOP_K)).alias(f"recall_at_{TOP_K}"),
    )


_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
    "* sqrt(list_dot_product({b}, {b}))), 5)"
)

_IVF_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM (SELECT * FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {N_CENTROIDS})),
    asg AS (
        SELECT vec_id, cid, row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_COS.format(a='v', b='cv')} DESC, cid
               ) AS rnk
        FROM e CROSS JOIN c
    ),
    cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rnk = 1),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT qid, cid AS cell FROM (
            SELECT qid, cid, row_number() OVER (
                       PARTITION BY qid
                       ORDER BY {_COS.format(a='qv', b='cv')} DESC, cid
                   ) AS rnk
            FROM q CROSS JOIN c
        ) WHERE rnk <= {NPROBE}
    ),
    cand AS (
        SELECT p.qid, a.vec_id
        FROM probes p JOIN cells a ON a.cell = p.cell AND a.vec_id <> p.qid
    ),
    scored AS (
        SELECT cand.qid, cand.vec_id,
               {_COS.format(a='e.v', b='q.qv')} AS cos_sim
        FROM cand JOIN e ON e.vec_id = cand.vec_id
                  JOIN q ON q.qid = cand.qid
    )
    SELECT qid, vec_id, cos_sim, rank FROM (
        SELECT qid, vec_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY qid ORDER BY cos_sim DESC, vec_id
               ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
"""


@register("sim_ivf_topk", _IVF_SQL)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN extension, IVF flavour: partition the corpus into Voronoi
    cells around a deterministic fixed-count codebook (md5-ordered
    top-N_CENTROIDS — k-means in production, identical plans), assign each vector to its
    nearest-cosine centroid, probe the NPROBE nearest cells per query,
    exact cosine re-rank inside the probed cells only.

    Scale shape vs the LSH path: assignment is a narrow broadcast map
    (corpus × tiny codebook, no shuffle of the vectors); each vector
    lives in exactly ONE cell so candidate generation needs NO dedup
    (LSH pays a distinct across tables); the probe join ships only
    (cell, id) pairs and the re-rank touches ~NPROBE/C of the corpus.
    At 100 TB the cell assignment is materialised once (a column on the
    embedding table, recomputed only when the codebook retrains) and
    every query pays just the probe join — the plan below keeps that
    split visible: assignment subplan, probe subplan, re-rank."""
    return _ivf_top_k(spark, sf_dir, N_CENTROIDS)


def _ivf_top_k(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """IVF cosine top-TOP_K over a k-centroid codebook, computed in one
    plan: assignment subplan, probe subplan, re-rank."""
    e = _ivf_corpus(spark, sf_dir)
    cents = _ivf_codebook(e, k)
    q = _ivf_queries(e)
    probes = _ivf_probes(q, cents, NPROBE).select("qid", "cell")
    cand = (
        _ivf_assign(e, cents)
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
    )
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(q), "qid")
        .select("qid", "vec_id", _cos5("v", "qv").alias("cos_sim"))
    )
    return _cosine_top_k(scored, TOP_K)


# Adaptive codebook count: K doubles every time the corpus QUADRUPLES
# (K = N_CENTROIDS·2^j for the smallest j with n ≤ _IVF_CELL_BASE·4^j)
# — the K ∝ √n serving geometry, so probed-candidate volume per query
# grows as √n instead of linearly (the fixed-K regime the nprobe-curve
# sweep measured at exponent 0.86). Integer ladder, identical in both
# engines; the bottom rung covers every test SF, where this query is
# value-identical to sim_ivf_topk.
_IVF_CELL_BASE = 6400  # = N_CENTROIDS² · 4 — bottom-rung capacity
_IVF_MAX_DOUBLINGS = 10


def ivf_adaptive_k(n_rows: int) -> int:
    j = 0
    while j < _IVF_MAX_DOUBLINGS and n_rows > _IVF_CELL_BASE * (4 ** j):
        j += 1
    return N_CENTROIDS << j


def sql_ivf_adaptive_k(table: str = "embeddings") -> str:
    arms = " ".join(
        f"WHEN n <= {_IVF_CELL_BASE * (4 ** j)} THEN {N_CENTROIDS << j}"
        for j in range(_IVF_MAX_DOUBLINGS)
    )
    return (
        f"(SELECT CASE {arms} ELSE {N_CENTROIDS << _IVF_MAX_DOUBLINGS} END "
        f"FROM (SELECT count(*) AS n FROM {table}))"
    )


_IVF_ADAPTIVE_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM (SELECT * FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {sql_ivf_adaptive_k()})),
    asg AS (
        SELECT vec_id, cid, row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_COS.format(a='v', b='cv')} DESC, cid
               ) AS rnk
        FROM e CROSS JOIN c
    ),
    cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rnk = 1),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT qid, cid AS cell FROM (
            SELECT qid, cid, row_number() OVER (
                       PARTITION BY qid
                       ORDER BY {_COS.format(a='qv', b='cv')} DESC, cid
                   ) AS rnk
            FROM q CROSS JOIN c
        ) WHERE rnk <= {NPROBE}
    ),
    cand AS (
        SELECT p.qid, a.vec_id
        FROM probes p JOIN cells a ON a.cell = p.cell AND a.vec_id <> p.qid
    ),
    scored AS (
        SELECT cand.qid, cand.vec_id,
               {_COS.format(a='e.v', b='q.qv')} AS cos_sim
        FROM cand JOIN e ON e.vec_id = cand.vec_id
                  JOIN q ON q.qid = cand.qid
    )
    SELECT qid, vec_id, cos_sim, rank FROM (
        SELECT qid, vec_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY qid ORDER BY cos_sim DESC, vec_id
               ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
"""


@register("sim_ivf_adaptive", _IVF_ADAPTIVE_SQL)
def sim_ivf_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the ADAPTIVE codebook count K ∝ √n (doubles per
    corpus quadrupling, integer ladder shared with the oracle): the
    serving geometry a production deployment retrains into its k-means
    codebook as the corpus grows. sim_ivf_topk keeps K fixed — the
    bounded-linear regime (assignment N×K, per-query candidates
    NPROBE·N/K, both Θ(N)); this variant trades a one-time N×K
    assignment for √N-sized cells so the per-QUERY probe cost is
    Θ(√N) — the right side of the trade once the index is materialised
    (see the partitioned on-disk serving path). Value-identical to
    sim_ivf_topk at every test SF (bottom rung, K = {N_CENTROIDS}).

    At 100 TB: K reaches ~N_CENTROIDS·2^10; the codebook is still a
    broadcastable dimension table (K×D doubles), assignment remains a
    narrow broadcast map over the corpus, and the probe join ships
    (cell, id) pairs only."""
    return _ivf_top_k(spark, sf_dir, ivf_adaptive_k(table_rows(sf_dir, "embeddings")))


# Cache prefixes of the two on-disk IVF indexes. Each carries the
# geometry constants, so a codebook change rebuilds its index.
_IVF_INDEX_PREFIX = f"ivf_index_md5c{N_CENTROIDS}"
_IVF_ADAPTIVE_INDEX_PREFIX = (
    f"ivf_index_adx{N_CENTROIDS}b{_IVF_CELL_BASE}d{_IVF_MAX_DOUBLINGS}"
)


def _ensure_ivf_index(
    spark: SparkSession, sf_dir: str, prefix: str, k: int
) -> tuple[str, str]:
    """Materialise an IVF index once per data identity: the k-row
    codebook to ``<path>_cb`` and the corpus ``(vec_id, v)``
    hive-partitioned by cell to ``<path>``. This is the 100 TB layout —
    the N×K assignment runs at index-build time (and only re-runs when
    the codebook retrains); serving never scans cells it does not
    probe. The _SUCCESS markers make later sessions reuse the files
    with zero data movement."""
    path = cache_path(prefix, sf_dir, "embeddings")
    cb_path = path + "_cb"
    if cache_ready(path) and cache_ready(cb_path):
        return path, cb_path
    e = _ivf_corpus(spark, sf_dir)
    _ivf_codebook(e, k).write.mode("overwrite").parquet(cb_path)
    (
        _ivf_assign(e, spark.read.parquet(cb_path), carry=("v",))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    return path, cb_path


def _ivf_serve(spark: SparkSession, sf_dir: str, prefix: str, k: int) -> DataFrame:
    """IVF top-TOP_K served from the on-disk index: the probe set is
    collected to the driver (≤ N_QUERIES × NPROBE cell ids — serving
    systems resolve probes before dispatch) so the index scan carries a
    static partition filter, ``PartitionFilters: [cell IN (...)]``, and
    reads only the probed cells' files."""
    path, cb_path = _ensure_ivf_index(spark, sf_dir, prefix, k)
    q = _ivf_queries(
        _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    probes = (
        _ivf_probes(q, spark.read.parquet(cb_path), NPROBE)
        .select("qid", "cell")
        .transform(materialize, sf_dir)  # consumed by the driver collect AND the join
    )
    probe_cells = sorted(r["cell"] for r in probes.select("cell").distinct().collect())
    idx = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    cand = idx.join(F.broadcast(probes), "cell").filter(F.col("vec_id") != F.col("qid"))
    scored = cand.join(F.broadcast(q), "qid").select(
        "qid", "vec_id", _cos5("v", "qv").alias("cos_sim")
    )
    return _cosine_top_k(scored, TOP_K)


@register("sim_ivf_adaptive_serve", _IVF_ADAPTIVE_SQL)  # same semantics ⇒ same oracle
def sim_ivf_adaptive_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adaptive-K geometry's AMORTISED serving entry (VERDICT r11
    #8): identical output to ``sim_ivf_adaptive`` (shared oracle), but
    the K ∝ √n codebook and cell assignments come from the on-disk
    index ``_ensure_ivf_index`` materialises once per corpus,
    and the serving scan carries a partition filter on the probed
    cells. With √N-sized cells the per-query read is Θ(√N) rows of
    ~NPROBE partitions — this pairing (one-time N×K build, partition-
    pruned probes) is the production trade ``sim_ivf_adaptive``'s
    docstring argues for, now measurable on its own."""
    return _ivf_serve(
        spark,
        sf_dir,
        _IVF_ADAPTIVE_INDEX_PREFIX,
        ivf_adaptive_k(table_rows(sf_dir, "embeddings")),
    )


_IVF_RECALL_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM (SELECT * FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {N_CENTROIDS})),
    cells AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid, row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY {_COS.format(a='v', b='cv')} DESC, cid
                   ) AS rnk
            FROM e CROSS JOIN c
        ) WHERE rnk = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT qid, cid AS cell FROM (
            SELECT qid, cid, row_number() OVER (
                       PARTITION BY qid
                       ORDER BY {_COS.format(a='qv', b='cv')} DESC, cid
                   ) AS rnk
            FROM q CROSS JOIN c
        ) WHERE rnk <= {NPROBE}
    ),
    exact AS (
        SELECT qid, vec_id, probed FROM (
            SELECT q.qid, e.vec_id,
                   EXISTS (SELECT 1 FROM probes p JOIN cells a
                           ON a.vec_id = e.vec_id AND p.qid = q.qid
                              AND p.cell = a.cell) AS probed,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {_COS.format(a='e.v', b='q.qv')} DESC, e.vec_id
                   ) AS rnk
            FROM q JOIN e ON e.vec_id <> q.qid
        ) WHERE rnk <= {TOP_K}
    )
    SELECT qid,
           CAST(sum(CASE WHEN probed THEN 1 ELSE 0 END) AS BIGINT) AS ivf_hits,
           sum(CASE WHEN probed THEN 1 ELSE 0 END) / {TOP_K}.0
               AS recall_at_{TOP_K}
    FROM exact GROUP BY qid
"""


@register("sim_ivf_recall", _IVF_RECALL_SQL)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality metric (the twin of ``sim_ann_recall``): what
    fraction of each query's EXACT top-5 lives in one of the query's
    NPROBE probed cells — i.e. the recall ``sim_ivf_topk`` achieves.
    One plan: exact brute-force ranking, a probed-cell membership flag
    via a semi-join on (qid, cell), per-query hit counts. The nprobe/
    codebook-size trade-off is measured by the engine itself instead
    of asserted."""
    e = _ivf_corpus(spark, sf_dir)
    cents = _ivf_codebook(e, N_CENTROIDS)
    q = _ivf_queries(e)
    probed_pairs = (
        _ivf_assign(e, cents)
        .join(F.broadcast(_ivf_probes(q, cents, NPROBE)), "cell")
        .select("qid", "vec_id")
    )
    exact = _cosine_top_k(_exact_scored(e, q), TOP_K)
    flagged = exact.join(
        probed_pairs.withColumn("__p", F.lit(1)), ["qid", "vec_id"], "left"
    )
    hits = F.sum(F.when(F.col("__p").isNotNull(), 1).otherwise(0))
    return flagged.groupBy("qid").agg(
        hits.cast("long").alias("ivf_hits"),
        (hits / float(TOP_K)).alias(f"recall_at_{TOP_K}"),
    )


@register("sim_ann_topk", _ANN_SQL)
def sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN extension: multi-table hyperplane-LSH cosine top-k. One
    projection computes the packed (table, bucket) key array per vector
    (all JVM-side HOFs over the Rademacher planes); both sides explode
    to key rows; candidates come from the key equi-join (query side
    broadcast) and are deduped BEFORE the exact re-rank, so each
    (query, candidate) pays exactly one cosine regardless of how many
    tables it collided in. A per-query window takes the top-5. Cosine
    is rounded BEFORE ranking so tie-breaks are engine-independent.

    At 100 TB: same plan — the explode carries (int key, long id) rows
    only (vectors join back AFTER dedup), the key join shuffles
    T×|catalog| small rows; skew (dense bucket) handled by AQE; recall
    tuned by N_PLANES/N_TABLES without changing the plan shape."""
    src = _t(spark, sf_dir, "embeddings")
    n_vec = table_rows(sf_dir, "embeddings")
    e = (
        src
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("keys", bucket_keys("v", adaptive_bits(n_vec)))
        .transform(materialize, sf_dir)  # three consumers: q, key explode, join-back
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("keys").alias("qkeys"),
    )
    eb = e.select("vec_id", F.explode("keys").alias("key"))
    qb = q.select("qid", F.explode("qkeys").alias("key"))
    cand = (
        eb.join(F.broadcast(qb), "key")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .distinct()
    )
    # The catalog join-back outgrows broadcast reach with the corpus;
    # the query side (N_QUERIES rows) broadcasts at any scale.
    hint = F.broadcast if n_vec <= 50_000 else (lambda df: df)
    scored = (
        cand.join(hint(e.select("vec_id", "v")), "vec_id")
        .join(F.broadcast(q.select("qid", "qv")), "qid")
        .select("qid", "vec_id", _cos5("v", "qv").alias("cos_sim"))
    )
    return _cosine_top_k(scored, TOP_K)


@register("sim_ivf_partitioned", _IVF_SQL)  # same semantics ⇒ same oracle
def sim_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN extension, IVF *serving* flavour: identical output to
    ``sim_ivf_topk`` (they share the oracle), but candidates come from
    an on-disk index partitioned by Voronoi cell, and the serving scan
    carries a partition filter on the probed cells — `.explain` shows
    PartitionFilters: [cell IN (...)], i.e. only ~NPROBE/C of the index
    files are read. That read-path pruning is what makes IVF an ANN
    answer at 100 TB: compute-side candidate restriction
    (``sim_ivf_topk``) saves dot products, layout-side pruning (this
    query) saves the I/O, which dominates at scale."""
    return _ivf_serve(spark, sf_dir, _IVF_INDEX_PREFIX, N_CENTROIDS)


# ---------------------------------------------------------------------------
# k-means codebook training (the "swap in k-means centroids" slot the
# IVF geometry note above reserves).
# ---------------------------------------------------------------------------

KM_K = 8
KM_DIMS = 64
KM_ITERS = 2
# Codebooks up to this many K×D doubles are inlined as plan literals
# (zero-join argmin scan); past it the assignment swaps to a broadcast
# codebook-table join + min-struct agg — same struct-ordering argmin,
# same sequential-fold dot products, bit-identical assignments.
KM_LITERAL_BUDGET = 65_536


def _km_codebook_df(spark: SparkSession, centroids) -> DataFrame:
    """(cid, cv, sq) codebook table; sq is the Python sequential-fold
    |c|² so both assignment paths share the exact double."""
    rows = []
    for cid, cv in centroids:
        sq = 0.0
        for x in cv:
            sq += x * x
        rows.append((int(cid), [float(x) for x in cv], sq))
    return spark.createDataFrame(rows, "cid int, cv array<double>, sq double")


def _km_assign_join(spark: SparkSession, emb: DataFrame, centroids) -> DataFrame:
    """Broadcast-join assignment for codebooks past the literal budget
    (a 10⁵-centroid × 64-dim codebook is ~50 MB — far beyond what a
    plan should inline but exactly what a broadcast table is for).
    Each vector meets the K broadcast codebook rows, distance rank
    |c|² − 2·v·c rides the same dot_product fold as the literal path,
    and the argmin is a min-struct aggregation with the identical
    (s, cid) ordering — so assignments are bit-identical to the
    literal-inline scan. The only shuffle is the (vec_id) min-struct
    agg; the dedup_semantic assignment stage uses this same shape."""
    cb = _km_codebook_df(spark, centroids)
    scored = emb.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "v",
        F.struct(
            (F.col("sq") - 2.0 * dot_product(F.col("v"), F.col("cv"))).alias("s"),
            F.col("cid").alias("cid"),
        ).alias("sc"),
    )
    return scored.groupBy("vec_id").agg(
        F.first("v").alias("v"),  # v is identical across the K copies
        F.min("sc").getField("cid").alias("cid"),
    )

_KMEANS_SQL = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e
           WHERE vec_id < {KM_K}),
    d1 AS (SELECT e.vec_id, e.v, c.cid,
                  list_dot_product(c.cv, c.cv)
                  - 2 * list_dot_product(e.v, c.cv) AS s
           FROM e, c0 c),
    a1 AS (SELECT vec_id, v, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s, cid) AS rnk
             FROM d1) WHERE rnk = 1),
    m1 AS (SELECT cid, u.t, avg(v[u.t + 1]) AS x
           FROM a1, unnest(range({KM_DIMS})) AS u(t)
           GROUP BY cid, u.t),
    c1 AS (SELECT cid, list(x ORDER BY t) AS cv FROM m1 GROUP BY cid),
    d2 AS (SELECT e.vec_id, e.v, c.cid,
                  list_dot_product(c.cv, c.cv)
                  - 2 * list_dot_product(e.v, c.cv) AS s
           FROM e, c1 c),
    a2 AS (SELECT vec_id, v, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s, cid) AS rnk
             FROM d2) WHERE rnk = 1)
    SELECT a2.cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           round(avg(list_dot_product(a2.v, c1.cv)), 5) AS mean_dot,
           round(max(list_dot_product(c1.cv, c1.cv)), 5) AS centroid_sq_norm
    FROM a2 JOIN c1 ON c1.cid = a2.cid
    GROUP BY a2.cid
"""


@register("m_kmeans", _KMEANS_SQL)
def m_kmeans(
    spark: SparkSession,
    sf_dir: str,
    codebook_literal_budget: int = KM_LITERAL_BUDGET,
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus — the codebook trainer
    for the IVF index above (its fixed-count codebook documents
    "swap in k-means centroids"; this is that training step, also the
    backbone of semantic/cluster-balanced dedup sampling). Deterministic
    init (vec_id < K) + {KM_ITERS} fixed iterations, so the whole loop
    unrolls into the DuckDB oracle — an oracle-backed ITERATIVE ML op.

    Spark shape per iteration: ONE scan scoring every vector against
    the K broadcast-literal centroids (argmin via array_min over
    (score, cid) structs — distance rank uses |c|² − 2·v·c, dropping
    the constant |v|² term), then ONE (cid, dim) aggregation of K×D
    rows to re-solve centroids; driver state is the K×D codebook, like
    every production Lloyd implementation. At 100 TB: same two stages,
    the argmin scan is embarrassingly parallel and the update shuffles
    only K×D partial sums per partition. Past
    ``codebook_literal_budget`` K×D doubles, assignment and the final
    metrics swap to the broadcast codebook-table join
    (``_km_assign_join`` — bit-identical, nothing inlined in the
    plan)."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        # three consumers: two assignment scans + final agg
        .transform(materialize, sf_dir)
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in sorted(
            emb.filter(F.col("vec_id") < KM_K).collect(),
            key=lambda r: r["vec_id"],
        )
    ]

    use_join = KM_K * KM_DIMS > codebook_literal_budget

    def assign(centroids) -> DataFrame:
        if use_join:
            return _km_assign_join(spark, emb, centroids)
        structs = []
        for cid, cv in centroids:
            sq = 0.0
            for x in cv:  # sequential fold — matches list_dot_product
                sq += x * x
            c_lit = F.array(*[F.lit(x) for x in cv])
            structs.append(
                F.struct(
                    (F.lit(sq) - 2.0 * dot_product(F.col("v"), c_lit)).alias("s"),
                    F.lit(cid).alias("cid"),
                )
            )
        return emb.withColumn(
            "cid", F.array_min(F.array(*structs)).getField("cid")
        )

    for it in range(KM_ITERS):
        a = assign(cents)
        if it == KM_ITERS - 1:
            break
        rows = (
            a.select("cid", F.posexplode("v"))
            .groupBy("cid", "pos")
            .agg(F.avg("col").alias("x"))
            .collect()
        )
        byc: dict[int, dict[int, float]] = {}
        for r in rows:
            byc.setdefault(int(r["cid"]), {})[int(r["pos"])] = float(r["x"])
        cents = [
            (cid, [byc[cid][t] for t in range(KM_DIMS)]) for cid in sorted(byc)
        ]

    if use_join:
        cb = _km_codebook_df(spark, cents)
        return (
            a.join(F.broadcast(cb), "cid")
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n_members"),
                F.round(
                    F.avg(dot_product(F.col("v"), F.col("cv"))), 5
                ).alias("mean_dot"),
                F.round(F.max("sq"), 5).alias("centroid_sq_norm"),
            )
            .select(
                F.col("cid").alias("cluster_id"),
                "n_members",
                "mean_dot",
                "centroid_sq_norm",
            )
        )

    dot_own = None
    sq_own = None
    for cid, cv in cents:
        sq = 0.0
        for x in cv:
            sq += x * x
        d = dot_product(F.col("v"), F.array(*[F.lit(x) for x in cv]))
        cond = F.col("cid") == cid
        dot_own = d if dot_own is None else F.when(cond, d).otherwise(dot_own)
        sq_own = (
            F.lit(sq)
            if sq_own is None
            else F.when(cond, F.lit(sq)).otherwise(sq_own)
        )

    return (
        a.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg(dot_own), 5).alias("mean_dot"),
            F.round(F.max(sq_own), 5).alias("centroid_sq_norm"),
        )
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "mean_dot",
            "centroid_sq_norm",
        )
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization — the storage/bandwidth scale lever
# (4 bytes → 1 byte per dim) with a measured-accuracy contract.
# ---------------------------------------------------------------------------

_QC_QUERIES = 10
_QC_K = 5

_QUANT_SQL = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127
                     AS sc
          FROM e),
    q AS (SELECT vec_id, v,
                 CAST(list_transform(v, x -> CAST(round(x / sc) AS INTEGER))
                      AS DOUBLE[]) AS qv
          FROM s),
    pairs AS (
        SELECT a.vec_id AS qid, b.vec_id,
               list_dot_product(a.qv, b.qv)
               / (sqrt(list_dot_product(a.qv, a.qv))
                  * sqrt(list_dot_product(b.qv, b.qv))) AS cos_q,
               list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cos_x
        FROM q a JOIN q b ON a.vec_id < {_QC_QUERIES} AND b.vec_id <> a.vec_id
    )
    SELECT qid, vec_id, CAST(rnk AS INT) AS rnk,
           round(cos_q, 5) AS cos_quantized,
           round(cos_x, 5) AS cos_exact,
           (abs(cos_q - cos_x) <= 0.05) AS within_bound
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_q DESC, vec_id) AS rnk
          FROM pairs)
    WHERE rnk <= {_QC_K}
"""


@register("v_quantized_cosine", _QUANT_SQL)
def v_quantized_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization + top-k by QUANTIZED cosine, with
    the exact cosine alongside and a measured-accuracy flag — the
    compression move that makes a 100 TB embedding store 4× smaller
    and its scans 4× cheaper. Per-vector symmetric scale
    (max|x|/127 → q = round(x/s)); cosine over the int grid needs NO
    dequantization (the scales cancel), and the integer dot products
    (≤ 127²·64 ≈ 10⁶) are exact in float64, so both engines rank the
    same candidates bit-for-bit. The oracle checks ranking parity AND
    the |cos_q − cos| ≤ 0.05 accuracy contract, HLL-style."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sc = (
        F.greatest(
            F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(1e-30)
        )
        / 127
    )
    q = emb.withColumn("sc", sc).select(
        "vec_id",
        "v",
        F.transform("v", lambda x: F.round(x / F.col("sc")).cast("int"))
        .cast("array<double>")
        .alias("qv"),
    )
    a = q.filter(F.col("vec_id") < _QC_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("av"),
        F.col("qv").alias("aq"),
    )
    pairs = q.join(F.broadcast(a), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        cosine_similarity(F.col("aq"), F.col("qv")).alias("cos_q"),
        cosine_similarity(F.col("av"), F.col("v")).alias("cos_x"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_q").desc(), F.col("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _QC_K)
        .select(
            "qid",
            "vec_id",
            "rnk",
            F.round("cos_q", 5).alias("cos_quantized"),
            F.round("cos_x", 5).alias("cos_exact"),
            (F.abs(F.col("cos_q") - F.col("cos_x")) <= 0.05).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Random-projection (Johnson-Lindenstrauss) shortlist retrieval —
# the scan-byte lever on the OTHER axis from int8 quantization:
# 64 dims -> _RP_DIMS dims for the candidate pass, exact rerank after.
# ---------------------------------------------------------------------------

_RP_DIMS = 16
_RP_IN_DIMS = 64
_RP_QUERIES = 10
_RP_SHORTLIST = 50
_RP_K = 5


def _rp_signs() -> list[list[float]]:
    """Deterministic ±1 projection matrix from a fixed LCG — a shared
    constant (like MINHASH_COEFFS), identical in the Spark plan and the
    generated oracle SQL."""
    rows, x = [], 1234567
    for _t_ in range(_RP_DIMS):
        row = []
        for _d in range(_RP_IN_DIMS):
            x = (1103515245 * x + 12345) % (1 << 31)
            row.append(1.0 if (x >> 16) & 1 else -1.0)
        rows.append(row)
    return rows


_RP_ROWS = _rp_signs()


def _sql_rp(expr: str) -> str:
    comps = ", ".join(
        "list_dot_product(%s, [%s])"
        % (expr, ", ".join(str(x) for x in row))
        for row in _RP_ROWS
    )
    return f"[{comps}]"


_RP_SQL = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (SELECT vec_id, v, {_sql_rp('v')} AS pv FROM e),
    sc AS (
        SELECT a.vec_id AS qid, b.vec_id,
               list_dot_product(a.pv, b.pv)
               / (sqrt(list_dot_product(a.pv, a.pv))
                  * sqrt(list_dot_product(b.pv, b.pv))) AS cos_p,
               list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cos_x
        FROM p a JOIN p b ON a.vec_id < {_RP_QUERIES} AND b.vec_id <> a.vec_id
    ),
    r AS (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_p DESC, vec_id) AS rp,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_x DESC, vec_id) AS rx
        FROM sc
    )
    SELECT qid,
           CAST(sum(CASE WHEN rp <= {_RP_SHORTLIST} THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           sum(CASE WHEN rp <= {_RP_SHORTLIST} THEN 1 ELSE 0 END) / {_RP_K}.0
               AS recall_at_{_RP_K}
    FROM r WHERE rx <= {_RP_K}
    GROUP BY qid
"""


@register("v_random_projection", _RP_SQL)
def v_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection retrieval with a
    measured recall contract (the sim_ann_recall pattern): project
    {_RP_IN_DIMS}-dim embeddings to {_RP_DIMS} dims with a
    shared-constant ±1 Achlioptas matrix, shortlist the top
    {_RP_SHORTLIST} candidates per query by PROJECTED cosine, and
    report what fraction of the exact top-{_RP_K} the shortlist
    captures. This is the standard two-stage funnel (cheap low-dim
    scan → exact rerank of a fixed-size shortlist); at 100 TB the
    projected table is 4× fewer scan bytes and 4× cheaper dot
    products, and only the shortlist ever touches full vectors. The
    projection itself is a per-row narrow map (16 sequential-fold dot
    products against literal sign rows — the m_kmeans codebook-literal
    pattern, identical IEEE order in both engines); the exact side of
    the scoring exists only to MEASURE recall, production serves from
    the shortlist rerank alone. Ranking parity is bit-exact because
    both engines fold the same doubles in the same order."""
    from recommender_systems_spark.functions.vector import dot_product

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    p = emb.select(
        "vec_id",
        "v",
        F.array(
            *[
                dot_product("v", F.array(*[F.lit(x) for x in row]))
                for row in _RP_ROWS
            ]
        ).alias("pv"),
    )
    a = p.filter(F.col("vec_id") < _RP_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("av"),
        F.col("pv").alias("ap"),
    )
    sc = p.join(F.broadcast(a), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        cosine_similarity(F.col("ap"), F.col("pv")).alias("cos_p"),
        cosine_similarity(F.col("av"), F.col("v")).alias("cos_x"),
    )
    wp = Window.partitionBy("qid").orderBy(F.col("cos_p").desc(), F.col("vec_id"))
    wx = Window.partitionBy("qid").orderBy(F.col("cos_x").desc(), F.col("vec_id"))
    r = sc.withColumn("rp", F.row_number().over(wp)).withColumn(
        "rx", F.row_number().over(wx)
    )
    hit = F.when(F.col("rp") <= _RP_SHORTLIST, 1).otherwise(0)
    return (
        r.filter(F.col("rx") <= _RP_K)
        .groupBy("qid")
        .agg(
            F.sum(hit).cast("long").alias("hits"),
            (F.sum(hit) / F.lit(float(_RP_K))).alias(f"recall_at_{_RP_K}"),
        )
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids (codebook seeding / class prototypes)
# ---------------------------------------------------------------------------

_CENT_SCALE = 100_000
_CENT_DIM = 64

_CENT_SQL = f"""
    WITH pos AS (
        SELECT label, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS val
        FROM embeddings CROSS JOIN (SELECT unnest(range({_CENT_DIM})) AS i)
    ),
    per AS (
        SELECT label, pos, count(*) AS n, avg(val) AS v
        FROM pos GROUP BY label, pos
    )
    SELECT label,
           CAST(max(n) AS BIGINT) AS n_members,
           string_agg(CAST(CAST(round(v * {_CENT_SCALE}) AS BIGINT) AS VARCHAR),
                      ',' ORDER BY pos) AS centroid
    FROM per GROUP BY label
"""


@register("v_label_centroids", _CENT_SQL)
def v_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the grouped element-wise vector
    mean (class prototypes for nearest-centroid classification, warm
    codebook seeds for m_kmeans/IVF, cluster summaries for SemDeDup).

    Plan shape: posexplode to (label, pos, val) then ONE hash aggregate
    on the composite (label, pos) key — dimension parallelism instead
    of whole-vector reduction, so a single label with a billion members
    spreads over D×labels reducers rather than hot-keying one. The
    partial aggregate collapses each map partition to ≤ labels×D rows
    before the exchange. Re-assembly (sort the D struct rows, project
    vals) happens on label-sized data. The centroid is serialised to
    scaled-int CSV per the house hashing rule (driver canonicalizer
    cannot sort raw arrays); round-to-int at 1e5 absorbs the engines'
    summation-order ulp drift."""
    emb = _t(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    per = pos.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"), F.avg("val").alias("v")
    )
    return per.groupBy("label").agg(
        F.max("n").cast("long").alias("n_members"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: F.round(s["v"] * _CENT_SCALE)
                .cast("long")
                .cast("string"),
            ),
            ",",
        ).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (greedy top-k with redundancy penalty)
# ---------------------------------------------------------------------------

_MMR_QUERIES = 10
_MMR_SHORTLIST = 20
_MMR_K = 5
_MMR_LAMBDA = 0.7

_MMR_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 5)"
)


def _mmr_sql() -> str:
    """Unrolled greedy: one CTE pair (penalty scores, argmax pick) per
    selection step — generated so the step count stays a constant."""
    lam = _MMR_LAMBDA
    parts = [f"""
    q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {_MMR_QUERIES}),
    c0 AS (SELECT q.qid, e.vec_id,
                  {_MMR_COS.format(a="CAST(e.embedding AS DOUBLE[])", b="q.qv")}
                      AS rel,
                  CAST(e.embedding AS DOUBLE[]) AS ev
           FROM embeddings e JOIN q ON e.vec_id <> q.qid),
    cand AS (SELECT qid, vec_id, rel, ev FROM (
                 SELECT *, row_number() OVER (PARTITION BY qid
                                              ORDER BY rel DESC, vec_id) AS rn
                 FROM c0) WHERE rn <= {_MMR_SHORTLIST}),
    pairs AS (SELECT a.qid, a.vec_id AS pa, b.vec_id AS pb,
                     {_MMR_COS.format(a="a.ev", b="b.ev")} AS sim
              FROM cand a JOIN cand b
                ON a.qid = b.qid AND a.vec_id <> b.vec_id),
    sel1 AS (SELECT qid, vec_id, rel AS score FROM (
                 SELECT qid, vec_id, rel,
                        row_number() OVER (PARTITION BY qid
                                           ORDER BY rel DESC, vec_id) AS rn
                 FROM cand) WHERE rn = 1)"""]
    for t in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT qid, vec_id FROM sel{i}" for i in range(1, t)
        )
        parts.append(f"""
    chosen{t} AS ({prev}),
    pen{t} AS (SELECT c.qid, c.vec_id,
                      round({lam} * c.rel - {round(1 - lam, 10)} *
                            (SELECT max(p.sim) FROM pairs p
                             WHERE p.qid = c.qid AND p.pa = c.vec_id
                               AND p.pb IN (SELECT vec_id FROM chosen{t} s
                                            WHERE s.qid = c.qid)), 5) AS score
               FROM cand c
               WHERE c.vec_id NOT IN (SELECT vec_id FROM chosen{t} s2
                                      WHERE s2.qid = c.qid)),
    sel{t} AS (SELECT qid, vec_id, score FROM (
                   SELECT *, row_number() OVER (PARTITION BY qid
                                                ORDER BY score DESC, vec_id)
                              AS rn
                   FROM pen{t}) WHERE rn = 1)""")
    picks = " UNION ALL ".join(
        f"SELECT qid, {i} AS rank, vec_id, score FROM sel{i}"
        for i in range(1, _MMR_K + 1)
    )
    return f"WITH {','.join(parts)} SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM ({picks})"


@register("v_mmr_rerank", _mmr_sql())
def v_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (Maximal Marginal Relevance) diversified re-ranking: from
    each query's top-{_MMR_SHORTLIST} cosine shortlist, greedily pick
    {_MMR_K} items maximising λ·relevance − (1−λ)·max-similarity-to-
    already-picked (λ={_MMR_LAMBDA}) — the serving-side re-ranker that
    stops a results page being five near-duplicates (the diversity
    counterpart measured by e_rec_coverage).

    Division of labour is the production shape: ALL float geometry
    (relevance and pairwise similarity, both rounded to 5dp) is
    computed ENGINE-side — shortlist via one per-query window, the
    ≤{_MMR_SHORTLIST}² pair grid via a qid-keyed self-join — and the
    inherently SEQUENTIAL greedy loop runs per query in a cogrouped
    Arrow batch (applyInPandas over (shortlist, pairs) — {_MMR_K}
    steps over ≤{_MMR_SHORTLIST} rows, trivially per-query parallel).
    The worker never recomputes a dot product, so the only floats it
    combines are the engine's own rounded values with the same
    λ-formula the oracle states; the oracle unrolls the greedy into
    {_MMR_K} CTE steps. A billion queries scale as a billion
    independent groups."""
    import pandas as pd
    from decimal import ROUND_HALF_UP, Decimal

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c0 = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        F.round(
            cosine_similarity(F.col("embedding").cast("array<double>"), F.col("qv")),
            5,
        ).alias("rel"),
        F.col("embedding").cast("array<double>").alias("ev"),
    )
    wq = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "vec_id")
    cand = (
        c0.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_SHORTLIST)
        .select("qid", "vec_id", "rel", "ev")
        .transform(materialize, sf_dir)  # consumed twice: shortlist + pair grid
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = a.join(
        b,
        (F.col("a.qid") == F.col("b.qid"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.qid").alias("qid"),
        F.col("a.vec_id").alias("pa"),
        F.col("b.vec_id").alias("pb"),
        F.round(cosine_similarity(F.col("a.ev"), F.col("b.ev")), 5).alias("sim"),
    )
    lam = _MMR_LAMBDA

    def _round5(v: float) -> float:
        """SQL-round emulation: HALF_UP on the shortest decimal repr —
        Python's builtin round is banker's and disagrees exactly when
        the 5dp-rounded inputs put the λ-combination on a 6th-decimal
        5 boundary (observed on 3/50 rows)."""
        return float(
            Decimal(repr(float(v))).quantize(
                Decimal("0.00001"), rounding=ROUND_HALF_UP
            )
        )

    def greedy(cand_pdf: pd.DataFrame, pairs_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(
                {"qid": [], "rank": [], "vec_id": [], "score": []}
            )
        qid = int(cand_pdf["qid"].iloc[0])
        rel = dict(zip(cand_pdf["vec_id"], cand_pdf["rel"]))
        sim = dict(
            zip(zip(pairs_pdf["pa"], pairs_pdf["pb"]), pairs_pdf["sim"])
        )
        chosen, out = [], []
        for rank in range(1, _MMR_K + 1):
            best = None
            for v in sorted(rel):
                if v in chosen:
                    continue
                if not chosen:
                    score = rel[v]
                else:
                    ms = max(sim[(v, c)] for c in chosen)
                    score = _round5(lam * rel[v] - round(1 - lam, 10) * ms)
                if best is None or score > best[0]:
                    best = (score, v)
            chosen.append(best[1])
            out.append((qid, rank, best[1], best[0]))
        return pd.DataFrame(out, columns=["qid", "rank", "vec_id", "score"])

    return (
        cand.select("qid", "vec_id", "rel")
        .groupBy("qid")
        .cogroup(pairs.groupBy("qid"))
        .applyInPandas(
            lambda left, right: greedy(left, right),
            "qid long, rank int, vec_id long, score double",
        )
    )


# ---------------------------------------------------------------------------
# Out-of-distribution scoring (distance to own-label centroid)
# ---------------------------------------------------------------------------

_OOD_FLAG_PCT = 0.05  # flag the farthest 5% per label

_OOD_CENT = f"""
    pos AS (
        SELECT label, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS val
        FROM embeddings CROSS JOIN (SELECT unnest(range({_CENT_DIM})) AS i)
    ),
    cent AS (
        SELECT label, pos, avg(val) AS v FROM pos GROUP BY label, pos
    ),
    cvec AS (
        SELECT label, list(v ORDER BY pos) AS cv FROM cent GROUP BY label
    )
"""

_OOD_SQL = f"""
    WITH {_OOD_CENT},
    scored AS (
        SELECT e.vec_id, e.label,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(c.cv, c.cv))), 5) AS cos_cent
        FROM embeddings e JOIN cvec c ON c.label = e.label
    ),
    cut AS (
        SELECT label,
               round(quantile_cont(cos_cent, {_OOD_FLAG_PCT}), 5) AS thr
        FROM scored GROUP BY label
    )
    SELECT s.vec_id, s.label, s.cos_cent,
           CAST(s.cos_cent < c.thr AS INTEGER) AS is_outlier
    FROM scored s JOIN cut c ON c.label = s.label
"""


@register("v_ood_score", _OOD_SQL)
def v_ood_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier / OOD scoring:each vector's cosine to its OWN
    label's centroid, with the farthest {_OOD_FLAG_PCT:.0%} per label
    flagged — the embedding-space QA gate (mislabeled rows, encoder
    drift, garbage inputs) run before a corpus trains a classifier or
    seeds semantic dedup; the centroid table is v_label_centroids'
    aggregation reused as a MODEL.

    Per-label centroids build exactly as v_label_centroids (dimension-
    parallel (label,pos) agg), re-assemble label-sized, and broadcast
    into the scoring join — the data-sized side never shuffles. The
    flag threshold is a per-label percentile over the scored table
    (label-sized agg), rounded to 5dp on both sides so the strict <
    comparison never straddles an ulp."""
    emb = _t(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    cvec = (
        pos.groupBy("label", "pos")
        .agg(F.avg("val").alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("cv")
        )
    )
    scored = emb.join(F.broadcast(cvec), "label").select(
        "vec_id",
        "label",
        F.round(
            cosine_similarity(
                F.col("embedding").cast("array<double>"), F.col("cv")
            ),
            5,
        ).alias("cos_cent"),
    )
    cut = scored.groupBy("label").agg(
        F.round(F.percentile("cos_cent", F.lit(_OOD_FLAG_PCT)), 5).alias("thr")
    )
    return scored.join(F.broadcast(cut), "label").select(
        "vec_id",
        "label",
        "cos_cent",
        (F.col("cos_cent") < F.col("thr")).cast("int").alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Embedding covariance spectrum (PCA energy via fixed power iteration)
# ---------------------------------------------------------------------------

_SPEC_DIM = 64        # embeddings table dimension
_SPEC_ITERS = 3       # fixed power-iteration count (unrolls into the oracle)
_SPEC_ROUND = 6       # covariance entries become shared literals at 6dp

_SPEC_AUG = f"list_append(CAST(embedding AS DOUBLE[]), 1.0)"


def _spec_cov_sql(materialized: bool = False) -> str:
    """gram/nrow/cov CTE block shared by v_embedding_spectrum and
    v_embedding_project. ``materialized`` pins DuckDB 1.0's CTE
    strategy — required for the projection oracle whose deflation
    chain references cov/gram many times (inlining re-executes the
    n×(D+1)² Gram scan per reference)."""
    m = " MATERIALIZED" if materialized else ""
    return f"""
    aug AS{m} (SELECT {_SPEC_AUG} AS a FROM embeddings),
    idx AS (SELECT CAST(r.range AS INTEGER) + 1 AS p
            FROM range({_SPEC_DIM + 1}) r),
    gram AS{m} (
        SELECT ii.p AS i, jj.p AS j, sum(a[ii.p] * a[jj.p]) AS s
        FROM aug CROSS JOIN idx ii CROSS JOIN idx jj
        GROUP BY 1, 2
    ),
    nrow AS{m} (SELECT s AS n FROM gram
             WHERE i = {_SPEC_DIM + 1} AND j = {_SPEC_DIM + 1}),
    cov AS{m} (
        SELECT g.i, g.j,
               round(g.s / nrow.n
                     - (mi.s / nrow.n) * (mj.s / nrow.n),
                     {_SPEC_ROUND}) AS c
        FROM gram g
        JOIN gram mi ON mi.i = g.i AND mi.j = {_SPEC_DIM + 1}
        JOIN gram mj ON mj.i = g.j AND mj.j = {_SPEC_DIM + 1}
        CROSS JOIN nrow
        WHERE g.i <= {_SPEC_DIM} AND g.j <= {_SPEC_DIM}
    )
"""


_SPEC_COV = _spec_cov_sql()


def _embedding_gram(emb: DataFrame):
    """Merged (D+1)×(D+1) Gram of the 1-AUGMENTED embedding matrix —
    the single data-sized pass shared by v_embedding_spectrum and
    v_embedding_project: the ones column is appended in the plan, so
    one per-batch X'ᵀX' partial (``ml.ials.batch_gram``) carries the
    Gram, the mean sums AND the row count."""
    g, _ = batch_gram(
        emb.select(
            F.concat(
                F.col("embedding").cast("array<double>"), F.array(F.lit(1.0))
            ).alias("x")
        ),
        "x",
        _SPEC_DIM + 1,
    )
    return g


def _power_iterate(mat):
    """{_SPEC_ITERS} fixed power iterations from the all-ones vector —
    the deterministic-iteration-count convention that lets the oracle
    unroll the identical recurrence (no convergence test, no RNG)."""
    import numpy as np

    v = np.ones(mat.shape[0])
    for _ in range(_SPEC_ITERS):
        w = mat @ v
        v = w / np.sqrt(float(w @ w))
    return v


def _spec_iter_sql(
    prev: str, cur: str, mat: str = "cov", materialized: bool = False
) -> str:
    # MATERIALIZED stops DuckDB 1.0 from INLINING multiply-referenced
    # CTEs — each iteration references w{cur} twice and the next level
    # references {cur} twice, so an inlined chain re-executes the base
    # Gram scan exponentially (measured: >2 min at sf0.001 vs <1 s)
    m = " MATERIALIZED" if materialized else ""
    return f"""
    w{cur} AS{m} (SELECT {mat}.i, sum({mat}.c * {prev}.val) AS wv
               FROM {mat} JOIN {prev} ON {prev}.j = {mat}.j GROUP BY 1),
    n{cur} AS{m} (SELECT sqrt(sum(wv * wv)) AS nm FROM w{cur}),
    {cur} AS{m} (SELECT i AS j, wv / nm AS val FROM w{cur}, n{cur})"""


_SPEC_SQL = (
    "WITH "
    + _SPEC_COV
    + f""",
    v0 AS (SELECT CAST(r.range AS INTEGER) + 1 AS j, 1.0 AS val
           FROM range({_SPEC_DIM}) r),"""
    + ",".join(
        _spec_iter_sql(f"v{i}", f"v{i + 1}") for i in range(_SPEC_ITERS)
    )
    + f""",
    ray AS (
        SELECT sum(va.val * cov.c * vb.val) AS lam
        FROM cov
        JOIN v{_SPEC_ITERS} va ON va.j = cov.i
        JOIN v{_SPEC_ITERS} vb ON vb.j = cov.j
    ),
    tr AS (SELECT sum(c) AS t FROM cov WHERE i = j)
    SELECT CAST(nrow.n AS BIGINT) AS n_vectors,
           CAST({_SPEC_DIM} AS INTEGER) AS dim,
           round(tr.t, 4) AS total_var,
           round(ray.lam, 4) AS top_eig,
           round(ray.lam / tr.t, 4) AS top_share
    FROM nrow, ray, tr
"""
)


@register("v_embedding_spectrum", _SPEC_SQL)
def v_embedding_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance spectrum — total variance and the top
    principal component's eigenvalue/energy share, the PCA-energy
    diagnostic behind dimensionality decisions (how many IVF/OPQ
    dimensions carry signal, is the embedding space collapsing —
    anisotropy is the standard representation-quality smell).

    Scale shape: the ONLY data-sized work is one Arrow-batched
    mapInPandas pass computing per-batch partial Gram matrices of the
    1-AUGMENTED vectors (X'ᵀX' in one BLAS call per batch carries the
    Gram, the mean sums, AND the row count in its last row/column), so
    each task ships exactly (D+1)² doubles regardless of row count —
    the shuffle is #batches × 4 225 rows of (i, j, partial). The
    covariance assembles from the merged Gram on the driver at D×D
    size, is ROUNDED to {_SPEC_ROUND}dp so both engines iterate the
    same literal matrix, and {_SPEC_ITERS} power iterations + the
    Rayleigh quotient run on the 64×64 driver-side matrix (the k×k
    rule: driver math only on dimension-sized objects). The oracle
    unrolls the identical iteration (m_kmeans pattern)."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    g = _embedding_gram(emb)
    n = g[-1, -1]
    m = g[:-1, -1] / n
    cov = np.round(g[:-1, :-1] / n - np.outer(m, m), _SPEC_ROUND)
    v = _power_iterate(cov)
    lam = float(v @ cov @ v)
    tr = float(np.trace(cov))
    out = [
        (
            int(n),
            _SPEC_DIM,
            round(tr, 4),
            round(lam, 4),
            round(lam / tr, 4),
        )
    ]
    return spark.createDataFrame(
        out,
        "n_vectors long, dim int, total_var double, top_eig double, "
        "top_share double",
    )


# ---------------------------------------------------------------------------
# 2-D embedding projection (deterministic linear stand-in for t-SNE, M15)
# ---------------------------------------------------------------------------

_PROJ_ROUND = 6   # components / means / deflation snap to this grid
_PROJ_OUT = 5     # per-vector projections round here

_PROJ_SQL = (
    "WITH "
    + _spec_cov_sql(materialized=True)
    + f""",
    mean AS (SELECT g.i AS j, round(g.s / nrow.n, {_PROJ_ROUND}) AS mv
             FROM gram g, nrow
             WHERE g.j = {_SPEC_DIM + 1} AND g.i <= {_SPEC_DIM}),
    v0 AS (SELECT CAST(r.range AS INTEGER) + 1 AS j, 1.0 AS val
           FROM range({_SPEC_DIM}) r),"""
    + ",".join(
        _spec_iter_sql(f"v{i}", f"v{i + 1}", materialized=True)
        for i in range(_SPEC_ITERS)
    )
    + f""",
    v1r AS MATERIALIZED (SELECT j, round(val, {_PROJ_ROUND}) AS val
            FROM v{_SPEC_ITERS}),
    lam1 AS MATERIALIZED (
             SELECT round(sum(va.val * cov.c * vb.val), {_PROJ_ROUND}) AS l
             FROM cov
             JOIN v1r va ON va.j = cov.i
             JOIN v1r vb ON vb.j = cov.j),
    cov2 AS MATERIALIZED (SELECT cov.i, cov.j,
                    round(cov.c - lam1.l * va.val * vb.val,
                          {_PROJ_ROUND}) AS c
             FROM cov
             JOIN v1r va ON va.j = cov.i
             JOIN v1r vb ON vb.j = cov.j
             CROSS JOIN lam1),
    u0 AS (SELECT CAST(r.range AS INTEGER) + 1 AS j, 1.0 AS val
           FROM range({_SPEC_DIM}) r),"""
    + ",".join(
        _spec_iter_sql(f"u{i}", f"u{i + 1}", mat="cov2", materialized=True)
        for i in range(_SPEC_ITERS)
    )
    + f""",
    v2r AS MATERIALIZED (SELECT j, round(val, {_PROJ_ROUND}) AS val
            FROM u{_SPEC_ITERS}),
    pc1 AS (SELECT list(val ORDER BY j) AS v FROM v1r),
    pc2 AS (SELECT list(val ORDER BY j) AS v FROM v2r),
    md1 AS (SELECT round(sum(m.mv * v.val), {_PROJ_ROUND}) AS d
            FROM mean m JOIN v1r v ON v.j = m.j),
    md2 AS (SELECT round(sum(m.mv * v.val), {_PROJ_ROUND}) AS d
            FROM mean m JOIN v2r v ON v.j = m.j)
    SELECT e.vec_id, e.label,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), pc1.v)
                 - md1.d, {_PROJ_OUT}) AS px,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), pc2.v)
                 - md2.d, {_PROJ_OUT}) AS py
    FROM embeddings e, pc1, pc2, md1, md2
"""
)


@register("v_embedding_project", _PROJ_SQL)
def v_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D embedding projection — every vector mapped to its
    coordinates along the top-2 principal components, the
    visualization/diagnostic scatter the reference draws with t-SNE
    (tSNE_and_conv_plot.py:107). SURVEY M15 closure with a
    DETERMINISTIC linear method: t-SNE itself is a randomized, O(n²)-
    affinity, driver-hostile algorithm, so the engine ships the PCA
    scatter — same intent (cluster structure at a glance), exact
    cross-engine oracle.

    Algorithm: the {_SPEC_ITERS}-step fixed power iteration from
    v_embedding_spectrum gives PC1; Hotelling DEFLATION (cov −
    λ₁·v₁v₁ᵀ, entries re-snapped to the {_PROJ_ROUND}dp grid) then the
    same iteration gives PC2. Every learned quantity (components,
    mean, λ₁, mean-offsets) snaps to the {_PROJ_ROUND}dp grid BEFORE
    the data-sized projection — the house rule that makes both engines
    project with the SAME literal axes, so the per-vector value-hash
    is exact. Projection is (x − m)·v = x·v − m·v: one JVM-side HOF
    dot product per component plus a scalar offset.

    Scale shape: ONE data-sized mapInPandas pass (the shared
    (D+1)²-partial Gram — each task ships 4 225 doubles regardless of
    row count), 64×64 driver math, then one broadcast-literal
    projection scan. No shuffle of the data-sized table at all."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    g = _embedding_gram(emb)
    n = g[-1, -1]
    m_raw = g[:-1, -1] / n
    cov = np.round(g[:-1, :-1] / n - np.outer(m_raw, m_raw), _SPEC_ROUND)
    v1 = np.round(_power_iterate(cov), _PROJ_ROUND)
    lam1 = round(float(v1 @ cov @ v1), _PROJ_ROUND)
    cov2 = np.round(cov - lam1 * np.outer(v1, v1), _PROJ_ROUND)
    v2 = np.round(_power_iterate(cov2), _PROJ_ROUND)
    m6 = np.round(m_raw, _PROJ_ROUND)
    md1 = round(float(m6 @ v1), _PROJ_ROUND)
    md2 = round(float(m6 @ v2), _PROJ_ROUND)
    pc1 = F.array(*[F.lit(float(x)) for x in v1])
    pc2 = F.array(*[F.lit(float(x)) for x in v2])
    x = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        "label",
        F.round(dot_product(x, pc1) - F.lit(md1), _PROJ_OUT).alias("px"),
        F.round(dot_product(x, pc2) - F.lit(md2), _PROJ_OUT).alias("py"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (reduced-dimension retrieval eval)
# ---------------------------------------------------------------------------

TRUNC_DIM = 16

_TRUNC_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.qid, e.vec_id,
               round(list_dot_product(e.v, q.qv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(q.qv, q.qv))), 5) AS full_sim,
               round(list_dot_product(e.v[1:{TRUNC_DIM}], q.qv[1:{TRUNC_DIM}])
                     / (sqrt(list_dot_product(e.v[1:{TRUNC_DIM}],
                                              e.v[1:{TRUNC_DIM}]))
                        * sqrt(list_dot_product(q.qv[1:{TRUNC_DIM}],
                                                q.qv[1:{TRUNC_DIM}]))), 5)
                   AS trunc_sim
        FROM q JOIN e ON e.vec_id <> q.qid
    ),
    fullk AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY full_sim DESC, vec_id) AS r
            FROM scored) WHERE r <= {TOP_K}
    ),
    trunck AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY trunc_sim DESC, vec_id) AS r
            FROM scored) WHERE r <= {TOP_K}
    )
    SELECT f.qid,
           CAST(count(t.vec_id) AS BIGINT) AS trunc_hits,
           count(t.vec_id) / {TOP_K}.0 AS recall_at_{TOP_K}
    FROM fullk f LEFT JOIN trunck t
      ON t.qid = f.qid AND t.vec_id = f.vec_id
    GROUP BY f.qid
"""


@register("v_truncation_recall", _TRUNC_SQL)
def v_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation eval: retrieval recall@{TOP_K} when
    ranking with only the first {TRUNC_DIM} of 64 dimensions versus the
    full vector — the measurement behind shipping truncated (MRL)
    embeddings: how much ranking quality does a 4× cheaper index give
    up. The prefix-slice is free column math, so BOTH rankings come out
    of ONE scored frame (one scan, one candidate join — the full-dim
    score and the truncated score ride the same row), then two
    per-query top-k windows and an overlap join on (qid, vec_id) pairs.
    Same determinism discipline as sim_ann_recall: ranks order by the
    ROUNDED similarity with vec_id tie-break.

    At scale the truncated ranking is the shortlist generator (scan the
    16-dim prefix index, rerank survivors with the full vector —
    v_random_projection's two-stage shape with a learned-prefix twist);
    here both sides rank everything so recall is exact."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cand = q.join(emb, F.col("vec_id") != F.col("qid"))
    tv = F.slice(F.col("v"), 1, TRUNC_DIM)
    tq = F.slice(F.col("qv"), 1, TRUNC_DIM)
    scored = cand.select(
        "qid",
        "vec_id",
        F.round(cosine_similarity("v", "qv"), 5).alias("full_sim"),
        F.round(cosine_similarity(tv, tq), 5).alias("trunc_sim"),
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("full_sim").desc(), F.col("vec_id")
    )
    wt = Window.partitionBy("qid").orderBy(
        F.col("trunc_sim").desc(), F.col("vec_id")
    )
    fullk = (
        scored.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= TOP_K)
        .select("qid", "vec_id")
    )
    trunck = (
        scored.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= TOP_K)
        .select("qid", F.col("vec_id").alias("tvid"))
    )
    return (
        fullk.join(
            trunck,
            (fullk["qid"] == trunck["qid"]) & (F.col("vec_id") == F.col("tvid")),
            "left",
        )
        .groupBy(fullk["qid"].alias("qid"))
        .agg(
            F.count("tvid").cast("long").alias("trunc_hits"),
            (F.count("tvid") / float(TOP_K)).alias(f"recall_at_{TOP_K}"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) codes + reconstruction error
# ---------------------------------------------------------------------------

PQ_M = 4          # subspaces
PQ_SUB = 16       # dims per subspace (PQ_M * PQ_SUB == embedding dim 64)
PQ_K = 8          # codewords per subspace

_PQ_DIST = " + ".join(
    f"pow(v[sub.s * {PQ_SUB} + {i}] - cw[sub.s * {PQ_SUB} + {i}], 2)"
    for i in range(1, PQ_SUB + 1)
)

# Shared CTE chain (vectors → hash-deterministic codebook → per-subspace
# nearest-codeword assignment); v_pq_codes reports the codes,
# v_ivf_pq_search serves ADC top-k from them.
_PQ_CTES = f"""
    e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    codebook AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) AS cid,
               v AS cw
        FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {PQ_K}
    ),
    sub AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s),
    dists AS (
        SELECT e.vec_id, sub.s, codebook.cid,
               round({_PQ_DIST}, 6) AS dist
        FROM e CROSS JOIN sub CROSS JOIN codebook
    ),
    best AS (
        SELECT vec_id, s, cid, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY dist ASC, cid ASC) AS rn
            FROM dists)
        WHERE rn = 1
    )
"""

_PQ_SQL = f"""
    WITH {_PQ_CTES}
    SELECT vec_id,
           string_agg(CAST(cid AS VARCHAR), ',' ORDER BY s) AS pq_code,
           round(sum(dist), 6) AS recon_err
    FROM best
    GROUP BY vec_id
"""


@register("v_pq_codes", _PQ_SQL)
def v_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each embedding
    into {PQ_M} subspaces of {PQ_SUB} dims, assign each subvector to
    its nearest of {PQ_K} codewords, emit the per-vector code (engine-
    portable comma string, house array rule) and the reconstruction
    error. The codebook is a hash-deterministic sample (md5-ordered
    first {PQ_K} vectors — both engines derive it independently;
    production would k-means each subspace, m_kmeans shows that path).
    PQ is the memory move behind IVF-PQ ANN serving: 64 float dims
    (256 B) compress to {PQ_M} byte codes.

    Scale shape: the codebook is dimension-sized (k rows) → broadcast;
    candidates = vectors × k codewords × m subspaces via a broadcast
    nested loop, then one (vec, subspace)-keyed argmin window and one
    vec-keyed rollup — the only shuffle partitions by vec_id. Distances
    are rounded to 6dp BEFORE the argmin on both sides, so boundary
    ties break identically (dist, then cid)."""
    _, _, best = _pq_frames(spark, sf_dir)
    return best.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "cid"))),
                lambda p: p["cid"].cast("string"),
            ),
            ",",
        ).alias("pq_code"),
        F.round(F.sum("dist"), 6).alias("recon_err"),
    )


def _pq_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(e, codebook, best) — the product-quantization building blocks
    shared by ``v_pq_codes`` and ``v_ivf_pq_search``; mirrors _PQ_CTES
    exactly."""
    # Consumers: codebook sample, subspace distances, and the callers'
    # query/assignment branches — unmaterialised each re-scanned
    # embeddings (round-13 census: 4 scans → 1).
    e = _ivf_corpus(spark, sf_dir)
    wcb = Window.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
    codebook = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(PQ_K)
        .withColumn("cid", F.row_number().over(wcb))
        .select("cid", F.col("v").alias("cw"))
        # K rows; consumers: subspace distances + the caller's LUT —
        # each re-ran the TakeOrdered sample pass.
        .transform(materialize, sf_dir)
    )
    sub = spark.range(PQ_M).select(F.col("id").cast("int").alias("s"))
    sq_dist = F.aggregate(
        F.zip_with(
            F.slice(F.col("v"), F.col("s") * PQ_SUB + 1, PQ_SUB),
            F.slice(F.col("cw"), F.col("s") * PQ_SUB + 1, PQ_SUB),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    dists = (
        e.crossJoin(F.broadcast(sub))
        .crossJoin(F.broadcast(codebook))
        .select("vec_id", "s", "cid", F.round(sq_dist, 6).alias("dist"))
    )
    # Argmin as a struct-min AGGREGATE, not a window (round-13, guide
    # §2.3 aggregate before you shuffle — the ivf_index build idiom):
    # the broadcast crossJoins keep all K codeword rows of a (vec, s)
    # group in one partition, so the partial min collapses N×M×K rows
    # to N×M BEFORE the exchange; the r12 row_number window shipped
    # and sorted all N×M×K. min(struct(dist, cid)) reproduces the
    # (dist asc, cid asc) pick exactly.
    best = (
        dists.groupBy("vec_id", "s")
        .agg(F.min(F.struct("dist", "cid")).alias("b"))
        .select("vec_id", "s", F.col("b.cid").alias("cid"),
                F.col("b.dist").alias("dist"))
    )
    return e, codebook, best


# Query-side subspace distance for the ADC lookup table: the SAME
# fixed-order 16-term sum as _PQ_DIST with the query vector in place of
# the database vector.
_PQ_QDIST = _PQ_DIST.replace("v[", "qv[")

_IVFPQ_COS_V = (
    "list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v))"
    " * sqrt(list_dot_product(c.cv, c.cv)))"
)
_IVFPQ_COS_Q = (
    "list_dot_product(q.qv, c.cv) / (sqrt(list_dot_product(q.qv, q.qv))"
    " * sqrt(list_dot_product(c.cv, c.cv)))"
)

_IVFPQ_SQL = f"""
    WITH {_PQ_CTES},
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    cents AS (SELECT vec_id AS cell, v AS cv FROM (SELECT * FROM e
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                    LIMIT {N_CENTROIDS})),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY round({_IVFPQ_COS_V}, 5) DESC,
                                               c.cell) AS rn
            FROM e CROSS JOIN cents c)
        WHERE rn = 1
    ),
    probes AS (
        SELECT qid, cell FROM (
            SELECT q.qid, c.cell,
                   row_number() OVER (PARTITION BY q.qid
                                      ORDER BY round({_IVFPQ_COS_Q}, 5) DESC,
                                               c.cell) AS rn
            FROM q CROSS JOIN cents c)
        WHERE rn <= {NPROBE}
    ),
    cand AS (
        SELECT p.qid, a.vec_id
        FROM probes p JOIN assign a USING (cell)
        WHERE a.vec_id <> p.qid
    ),
    lut AS (
        SELECT q.qid, sub.s, codebook.cid,
               CAST(round(({_PQ_QDIST}) * 1000000) AS BIGINT) AS di
        FROM q CROSS JOIN sub CROSS JOIN codebook
    ),
    adc AS (
        SELECT c.qid, c.vec_id, SUM(l.di) AS ad
        FROM cand c
        JOIN best b ON b.vec_id = c.vec_id
        JOIN lut l ON l.qid = c.qid AND l.s = b.s AND l.cid = b.cid
        GROUP BY 1, 2
    )
    SELECT qid, vec_id, CAST(ad AS BIGINT) AS adc_micros,
           round(ad / 1000000.0, 6) AS approx_dist, CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY ad ASC, vec_id) AS rnk
          FROM adc)
    WHERE rnk <= {TOP_K}
"""


@register("v_ivf_pq_search", _IVFPQ_SQL)
def v_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving — the production ANN shape (Jégou et al. 2011,
    the FAISS IVFPQ default): the IVF coarse quantizer prunes the scan
    to NPROBE cells, then candidates are ranked by ASYMMETRIC distance
    computation — the query builds a {PQ_M}×{PQ_K} lookup table of
    subspace distances to every codeword once, and each candidate's
    approximate distance is the sum of {PQ_M} table lookups keyed by
    its stored PQ code. Full vectors are touched only for queries and
    the (dimension-sized) codebook/centroids; the scan side reads just
    the compressed code table.

    Scale shape: this is what makes billion-vector serving work — the
    candidate join carries (qid, vec_id) pairs from nprobe cells only,
    the LUT is queries×{PQ_M}×{PQ_K} rows (broadcast), and the ADC sum
    is a hash aggregate over code-table rows ({PQ_M} small ints per
    candidate — the 256 B → {PQ_M} B memory move). Parity: LUT entries
    are integer micros, so per-candidate ADC sums are EXACT integer
    sums in both engines and (ad asc, vec_id) ranking never flips on
    accumulation order."""
    e, codebook, best = _pq_frames(spark, sf_dir)
    q = _ivf_queries(e)
    cents = _ivf_codebook(e, N_CENTROIDS)
    probes = _ivf_probes(q, cents, NPROBE).select("qid", "cell")
    cand = (
        _ivf_assign(e, cents)
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    sub = spark.range(PQ_M).select(F.col("id").cast("int").alias("s"))
    qdist = F.aggregate(
        F.zip_with(
            F.slice(F.col("qv"), F.col("s") * PQ_SUB + 1, PQ_SUB),
            F.slice(F.col("cw"), F.col("s") * PQ_SUB + 1, PQ_SUB),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    lut = (
        q.crossJoin(F.broadcast(sub))
        .crossJoin(F.broadcast(codebook))
        .select(
            "qid", "s", "cid",
            F.round(qdist * 1000000).cast("long").alias("di"),
        )
    )
    adc = (
        cand.join(best.select("vec_id", "s", "cid"), "vec_id")
        .join(F.broadcast(lut), ["qid", "s", "cid"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("di").alias("ad"))
    )
    wr = Window.partitionBy("qid").orderBy(F.col("ad").asc(), F.col("vec_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "vec_id",
            F.col("ad").cast("long").alias("adc_micros"),
            F.round(F.col("ad") / 1000000.0, 6).alias("approx_dist"),
            F.col("rnk").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Nearest-centroid classification + accuracy
# ---------------------------------------------------------------------------

_NCC_SCALE = 100_000

_NCC_SQL = f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pos AS (
        SELECT label, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS val
        FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i)
    ),
    per AS (
        SELECT label, pos,
               CAST(round(avg(val) * {_NCC_SCALE}) AS BIGINT)
                   / {_NCC_SCALE}.0 AS v
        FROM pos GROUP BY label, pos
    ),
    cent AS (
        SELECT label AS clabel, list(v ORDER BY pos) AS c FROM per GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.label, cent.clabel,
               round(list_dot_product(e.v, cent.c)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(cent.c, cent.c))), 5) AS cos
        FROM e CROSS JOIN cent
    ),
    best AS (
        SELECT vec_id, label, clabel FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cos DESC, clabel) AS rn
            FROM scored)
        WHERE rn = 1
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           round(CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS accuracy
    FROM best GROUP BY label
"""


@register("v_centroid_classify", _NCC_SQL)
def v_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification over the embedding table: class
    prototypes are the per-label mean vectors (v_label_centroids'
    aggregation), every vector is assigned to its max-cosine prototype,
    and per-label accuracy comes back — the 1-NN-to-prototype baseline
    every embedding-quality report starts with (Rocchio / prototype
    networks' zero-parameter ancestor).

    Scale shape: centroids are label-sized → broadcast; the
    vector×centroid score is a broadcast nested loop over |labels|
    rows per vector; the only wide shuffle is the per-vector argmax
    window keyed by vec_id. Parity: centroids snap to the 1e-5 grid
    BEFORE scoring (shared-rounded-values rule) and the argmax reads
    the 5dp-rounded cosine with (cos, label) tie-break, so assignment
    can never flip on summation order."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    pos = e.select(
        "label", F.posexplode("v").alias("pos", "val")
    )
    per = pos.groupBy("label", "pos").agg(
        (
            F.round(F.avg("val") * _NCC_SCALE).cast("long")
            / float(_NCC_SCALE)
        ).alias("cv")
    )
    cent = per.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda s: s["cv"],
        ).alias("c")
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("c"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda a: a * a), F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nc = F.sqrt(
        F.aggregate(
            F.transform(F.col("c"), lambda a: a * a), F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(dot / (nv * nc), 5).alias("cos"),
    )
    wbest = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("clabel")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "clabel")
    )
    correct = F.sum(F.when(F.col("clabel") == F.col("label"), 1).otherwise(0))
    return best.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        correct.alias("n_correct"),
        F.round(correct.cast("double") / F.count(F.lit(1)), 6).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# v_cluster_purity — label purity of the coarse-quantizer cells
# ---------------------------------------------------------------------------

_PURITY_SQL = f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM (SELECT * FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {N_CENTROIDS})),
    asg AS (
        SELECT vec_id, label, cid, row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_COS.format(a='v', b='cv')} DESC, cid
               ) AS rnk
        FROM e CROSS JOIN c
    ),
    cells AS (SELECT vec_id, label, cid AS cell FROM asg WHERE rnk = 1),
    cl AS (SELECT cell, label, COUNT(*) AS c FROM cells GROUP BY 1, 2),
    tot AS (SELECT cell, SUM(c) AS n FROM cl GROUP BY 1),
    maj AS (
        SELECT cell, label AS majority_label, c AS n_majority
        FROM (SELECT *, row_number() OVER (PARTITION BY cell
                                           ORDER BY c DESC, label) AS rn
              FROM cl)
        WHERE rn = 1
    )
    SELECT CAST(t.cell AS BIGINT) AS cell,
           CAST(t.n AS BIGINT) AS n_members,
           CAST(m.majority_label AS INT) AS majority_label,
           CAST(m.n_majority AS BIGINT) AS n_majority,
           round(CAST(m.n_majority AS DOUBLE) / t.n, 6) AS purity
    FROM tot t JOIN maj m ON m.cell = t.cell
"""


@register("v_cluster_purity", _PURITY_SQL)
def v_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of each coarse-quantizer cell (the IVF Voronoi
    assignment sim_ivf_topk serves from): majority-label share per
    cell — the standard external cluster-quality check ("do the
    partitioner's cells respect semantic labels?") that decides
    whether a cell-restricted search can also serve label-filtered
    queries, and the unsupervised sibling of v_centroid_classify's
    accuracy.

    Scale shape: the assignment is the same narrow broadcast-codebook
    map as the IVF index build (no vector shuffle); after it only
    (cell, label) count rows move — two dimension-sized aggregates and
    a |cells|-sized join. Parity: counts are exact integers, the
    majority resolves by the total (count desc, label) order, purity
    is one exact-operand division on the 6dp grid."""
    e = _ivf_corpus(spark, sf_dir, "label")
    cells = _ivf_assign(e, _ivf_codebook(e, N_CENTROIDS), carry=("label",))
    cl = cells.groupBy("cell", "label").agg(F.count(F.lit(1)).alias("c"))
    tot = cl.groupBy("cell").agg(F.sum("c").alias("n"))
    wm = Window.partitionBy("cell").orderBy(F.col("c").desc(), F.col("label"))
    maj = (
        cl.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(
            "cell",
            F.col("label").alias("majority_label"),
            F.col("c").alias("n_majority"),
        )
    )
    return tot.join(maj, "cell").select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").cast("long").alias("n_members"),
        F.col("majority_label").cast("int").alias("majority_label"),
        F.col("n_majority").cast("long").alias("n_majority"),
        F.round(F.col("n_majority").cast("double") / F.col("n"), 6).alias(
            "purity"
        ),
    )


# ---------------------------------------------------------------------------
# v_rrf_fusion — reciprocal-rank fusion of two rankers (hybrid retrieval)
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_LIST = 20
_RRF_TOPK = 10

_RRF_SQL = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127
                     AS sc
          FROM e),
    q AS (SELECT vec_id, v,
                 CAST(list_transform(v, x -> CAST(round(x / sc) AS INTEGER))
                      AS DOUBLE[]) AS qv
          FROM s),
    pairs AS (
        SELECT a.vec_id AS qid, b.vec_id,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 5) AS cos_x,
               round(list_dot_product(a.qv, b.qv)
                     / (sqrt(list_dot_product(a.qv, a.qv))
                        * sqrt(list_dot_product(b.qv, b.qv))), 5) AS cos_q
        FROM q a JOIN q b ON a.vec_id < {_QC_QUERIES} AND b.vec_id <> a.vec_id
    ),
    rx AS (
        SELECT qid, vec_id, rnk FROM (
            SELECT qid, vec_id, row_number() OVER (
                       PARTITION BY qid ORDER BY cos_x DESC, vec_id) AS rnk
            FROM pairs) WHERE rnk <= {_RRF_LIST}
    ),
    rq AS (
        SELECT qid, vec_id, rnk FROM (
            SELECT qid, vec_id, row_number() OVER (
                       PARTITION BY qid ORDER BY cos_q DESC, vec_id) AS rnk
            FROM pairs) WHERE rnk <= {_RRF_LIST}
    ),
    fused AS (
        SELECT COALESCE(rx.qid, rq.qid) AS qid,
               COALESCE(rx.vec_id, rq.vec_id) AS vec_id,
               COALESCE(CAST(round(1000000.0 / ({_RRF_K} + rx.rnk))
                             AS BIGINT), 0)
               + COALESCE(CAST(round(1000000.0 / ({_RRF_K} + rq.rnk))
                               AS BIGINT), 0) AS rrf_micros,
               rx.rnk AS rank_exact, rq.rnk AS rank_quantized
        FROM rx FULL OUTER JOIN rq
          ON rx.qid = rq.qid AND rx.vec_id = rq.vec_id
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
           round(rrf_micros / 1000000.0, 6) AS rrf_score,
           CAST(rank_exact AS INT) AS rank_exact,
           CAST(rank_quantized AS INT) AS rank_quantized,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY rrf_micros DESC, vec_id) AS rnk
          FROM fused)
    WHERE rnk <= {_RRF_TOPK}
"""


@register("v_rrf_fusion", _RRF_SQL)
def v_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval lists (exact-cosine and
    int8-quantized cosine, top-{_RRF_LIST} each):
    RRF(d) = Σ_lists 1/({_RRF_K} + rank) — the standard hybrid-search
    fuser (dense + sparse, or here full-precision + compressed) that
    needs NO score calibration because it consumes only RANKS; the
    serving-side composition of v_quantized_cosine's accuracy
    contract.

    Scale shape: both rankings ride the same broadcast-queries ×
    catalog scan (one pass computes both similarity columns); the
    fusion is a list-bounded full-outer join on (qid, vec_id)
    (≤{_RRF_LIST} rows per query per side). Parity: ranks are
    integers, each reciprocal contribution snaps to integer micros,
    fused scores are exact integer sums, total (score, vec_id)
    tie-break."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sc = (
        F.greatest(
            F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(1e-30)
        )
        / 127
    )
    q = emb.withColumn("sc", sc).select(
        "vec_id",
        "v",
        F.transform("v", lambda x: F.round(x / F.col("sc")).cast("int"))
        .cast("array<double>")
        .alias("qv"),
    )
    a = q.filter(F.col("vec_id") < _QC_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("av"),
        F.col("qv").alias("aq"),
    )
    pairs = (
        q.join(F.broadcast(a), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine_similarity(F.col("av"), F.col("v")), 5).alias("cos_x"),
            F.round(cosine_similarity(F.col("aq"), F.col("qv")), 5).alias("cos_q"),
        )
        .transform(materialize, sf_dir)  # one scoring pass feeds both rankings
    )
    wx = Window.partitionBy("qid").orderBy(F.col("cos_x").desc(), F.col("vec_id"))
    wq = Window.partitionBy("qid").orderBy(F.col("cos_q").desc(), F.col("vec_id"))
    rx = (
        pairs.withColumn("rnk", F.row_number().over(wx))
        .filter(F.col("rnk") <= _RRF_LIST)
        .select("qid", "vec_id", F.col("rnk").alias("rank_exact"))
    )
    rq = (
        pairs.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= _RRF_LIST)
        .select("qid", "vec_id", F.col("rnk").alias("rank_quantized"))
    )
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.round(1000000.0 / (_RRF_K + c)).cast("long"), F.lit(0)
    )
    fused = rx.join(rq, ["qid", "vec_id"], "full_outer").select(
        "qid",
        "vec_id",
        (contrib(F.col("rank_exact")) + contrib(F.col("rank_quantized"))).alias(
            "rrf_micros"
        ),
        "rank_exact",
        "rank_quantized",
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("rrf_micros").desc(), F.col("vec_id")
    )
    return (
        fused.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _RRF_TOPK)
        .select(
            F.col("qid").cast("long").alias("qid"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.round(F.col("rrf_micros") / 1000000.0, 6).alias("rrf_score"),
            F.col("rank_exact").cast("int").alias("rank_exact"),
            F.col("rank_quantized").cast("int").alias("rank_quantized"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# IVF nprobe tuning curve (recall vs probe count, one plan)
# ---------------------------------------------------------------------------

_NPROBE_GRID = [1, 2, 3, 5]

_NPROBE_CASE = (
    "CASE nprobe "
    + " ".join(f"WHEN {p} THEN h{p}" for p in _NPROBE_GRID)
    + " END"
)

_NPROBE_CURVE_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM (SELECT * FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {N_CENTROIDS})),
    cells AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid, row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY {_COS.format(a='v', b='cv')} DESC, cid
                   ) AS rnk
            FROM e CROSS JOIN c
        ) WHERE rnk = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT qid, cid AS cell, rnk AS prnk FROM (
            SELECT qid, cid, row_number() OVER (
                       PARTITION BY qid
                       ORDER BY {_COS.format(a='qv', b='cv')} DESC, cid
                   ) AS rnk
            FROM q CROSS JOIN c
        ) WHERE rnk <= {max(_NPROBE_GRID)}
    ),
    exact AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {_COS.format(a='e.v', b='q.qv')} DESC, e.vec_id
                   ) AS rnk
            FROM q JOIN e ON e.vec_id <> q.qid
        ) WHERE rnk <= {TOP_K}
    ),
    flagged AS (
        SELECT x.qid, p.prnk
        FROM exact x
        JOIN cells a ON a.vec_id = x.vec_id
        LEFT JOIN probes p ON p.qid = x.qid AND p.cell = a.cell
    ),
    g AS (SELECT {", ".join(
        f"sum(CASE WHEN prnk <= {p} THEN 1 ELSE 0 END) AS h{p}"
        for p in _NPROBE_GRID)}
          FROM flagged)
    SELECT CAST(nprobe AS INT) AS nprobe,
           CAST({_NPROBE_CASE} AS BIGINT) AS hits,
           round(CAST({_NPROBE_CASE} AS DOUBLE)
                 / ({N_QUERIES} * {TOP_K}), 6) AS recall
    FROM (SELECT * FROM (VALUES {", ".join(f"({p})" for p in _NPROBE_GRID)})
          t(nprobe)), g
"""


@register("v_ivf_nprobe_curve", _NPROBE_CURVE_SQL)
def v_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: measured recall@{TOP_K} at nprobe ∈
    {_NPROBE_GRID} from ONE plan — the operating curve an ANN deployment
    reads to pick its latency/recall point (sim_ivf_recall measures the
    single deployed nprobe; this sweeps the knob, the e_threshold_sweep
    pattern applied to retrieval).

    Scale shape: the exact ranking, cell assignment and probe ranking
    are computed ONCE; each exact-top-{TOP_K} row carries the PROBE RANK
    of its cell (left join against the ≤{max(_NPROBE_GRID)}-probe
    broadcast), so every grid point is a conditional aggregate over the
    same flagged frame — no per-nprobe pass, no re-scoring. Queries and
    centroids stay broadcast (dimension-sized); the only corpus-sized
    shuffle is the per-query exact window, shared by every grid point."""
    e = _ivf_corpus(spark, sf_dir)
    cents = _ivf_codebook(e, N_CENTROIDS)
    q = _ivf_queries(e)
    probes = _ivf_probes(q, cents, max(_NPROBE_GRID))
    exact = _cosine_top_k(_exact_scored(e, q), TOP_K).select("qid", "vec_id")
    flagged = exact.join(_ivf_assign(e, cents), "vec_id").join(
        F.broadcast(probes), ["qid", "cell"], "left"
    )
    g = flagged.agg(
        *[
            F.sum(F.when(F.col("prnk") <= p, 1).otherwise(0)).alias(f"h{p}")
            for p in _NPROBE_GRID
        ]
    )
    cells_expr = ", ".join(f"{p}, h{p}" for p in _NPROBE_GRID)
    denom = float(N_QUERIES * TOP_K)
    return (
        g.selectExpr(
            f"stack({len(_NPROBE_GRID)}, {cells_expr}) AS (nprobe, hits)"
        )
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            F.col("hits").cast("long").alias("hits"),
            F.round(F.col("hits").cast("double") / denom, 6).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) embedding quantization + Hamming shortlist — the
# 32× compression point on the quantization curve (v_quantized_cosine
# is the 4× point): 64 float32 dims -> two 32-bit sign words.
# ---------------------------------------------------------------------------

_BH_PROBES = 8      # fixed-COUNT md5-ordered probe sample (scale control)
_BH_CAND = 40       # Hamming shortlist size per probe
_BH_K = 5           # exact-rerank output size

_BH_PACK_LO = """list_reduce(
    list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, 33),
            i -> CASE WHEN v[i] > 0 THEN CAST(1 AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END)),
    (acc, x) -> acc * 2 + x)"""
_BH_PACK_HI = _BH_PACK_LO.replace("range(1, 33)", "range(33, 65)")

_BH_SQL = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    b AS (SELECT vec_id, v,
                 {_BH_PACK_LO} AS blo,
                 {_BH_PACK_HI} AS bhi
          FROM e),
    probes AS (
        SELECT vec_id AS qid, v AS qv, blo AS qlo, bhi AS qhi
        FROM b ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_BH_PROBES}
    ),
    ham AS (
        SELECT p.qid, c.vec_id,
               CAST(bit_count(xor(p.qlo, c.blo))
                    + bit_count(xor(p.qhi, c.bhi)) AS INT) AS hamming,
               list_dot_product(p.qv, c.v)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(c.v, c.v))) AS cos_x
        FROM probes p JOIN b c ON c.vec_id <> p.qid
    ),
    cand AS (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY hamming, vec_id) AS hrnk
        FROM ham
    )
    SELECT qid, vec_id, hamming, CAST(rnk AS INT) AS rnk,
           round(cos_x, 5) AS cos_exact
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_x DESC, vec_id) AS rnk
          FROM cand WHERE hrnk <= {_BH_CAND})
    WHERE rnk <= {_BH_K}
"""


@register("v_binary_hamming_topk", _BH_SQL)
def v_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) embedding quantization with Hamming-distance
    shortlisting and exact cosine re-rank — the 1-bit-per-dim point on
    the compression curve (int8 = v_quantized_cosine at 4×; this is
    32×): each 64-dim vector packs into two 32-bit sign words, the
    candidate scan compares two XOR+popcount longs instead of 64
    floats, and only the {_BH_CAND}-deep Hamming shortlist pays the
    exact-cosine cost. The production retrieval stack's first stage
    when the embedding store itself is the scan bottleneck.

    Parity/scale design: packing is an integer fold (acc·2 + sign bit,
    i ascending — identical in both engines, no float pow or shifts);
    the probe set is a FIXED-COUNT md5-ordered sample (the round-8
    sample convention — probe work is {_BH_PROBES}×catalog, linear in
    the catalog at any corpus size); Hamming and the shortlist ranks
    are exact integers with total tie-breaks; only the final cosine is
    rounded. At billions of vectors the same plan holds with the sign
    words as the stored column (32× fewer scan bytes) and the probe
    side broadcast."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def pack(lo: int, hi: int):
        return F.aggregate(
            F.sequence(F.lit(lo), F.lit(hi)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(F.element_at(F.col("v"), i) > 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        )
    b = emb.select(
        "vec_id", "v", pack(1, 32).alias("blo"), pack(33, 64).alias("bhi")
    ).transform(materialize, sf_dir)  # packed once; probe + catalog sides both read it
    probes = (
        b.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_BH_PROBES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("blo").alias("qlo"),
            F.col("bhi").alias("qhi"),
        )
    )
    ham = b.join(F.broadcast(probes), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        (
            F.bit_count(F.col("qlo").bitwiseXOR(F.col("blo")))
            + F.bit_count(F.col("qhi").bitwiseXOR(F.col("bhi")))
        ).cast("int").alias("hamming"),
        cosine_similarity(F.col("qv"), F.col("v")).alias("cos_x"),
    )
    wh = Window.partitionBy("qid").orderBy("hamming", "vec_id")
    cand = ham.withColumn("hrnk", F.row_number().over(wh)).filter(
        F.col("hrnk") <= _BH_CAND
    )
    wr = Window.partitionBy("qid").orderBy(F.col("cos_x").desc(), "vec_id")
    return (
        cand.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _BH_K)
        .select(
            "qid",
            "vec_id",
            "hamming",
            "rnk",
            F.round("cos_x", 5).alias("cos_exact"),
        )
    )


# ---------------------------------------------------------------------------
# v_hard_negatives — contrastive-training hard-negative mining
# ---------------------------------------------------------------------------

_HN_ANCHORS = 8   # fixed-count md5-ordered anchor sample (house rule)
_HN_K = 5         # hard negatives kept per anchor

_HN_SQL = f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    anchors AS (
        SELECT vec_id AS aid, label AS albl, v AS av FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_HN_ANCHORS}
    ),
    scored AS (
        SELECT a.aid, e.vec_id AS neg_id,
               round(list_dot_product(e.v, a.av)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(a.av, a.av))), 5) AS cos_sim
        FROM anchors a JOIN e ON e.label <> a.albl
    ),
    ranked AS (
        SELECT aid, neg_id, cos_sim,
               row_number() OVER (PARTITION BY aid
                                  ORDER BY cos_sim DESC, neg_id) AS rnk
        FROM scored
    )
    SELECT aid AS anchor_id, CAST(rnk AS INT) AS rnk, neg_id, cos_sim
    FROM ranked WHERE rnk <= {_HN_K}
"""


@register("v_hard_negatives", _HN_SQL)
def v_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor vector, the top-{_HN_K} most-similar vectors that
    carry a DIFFERENT label — the negatives that actually move an
    InfoNCE/triplet loss (random negatives are trivially separable;
    hard ones define the margin). The anchor set is a fixed-COUNT
    md5-ordered sample (the house sampling rule), so the mining pass
    is A×N with A constant — linear in the corpus at any scale.

    Plan shape: the anchor rows broadcast (A·dim doubles) onto the
    embedding scan; cosine runs JVM-side (zip_with/aggregate inside
    whole-stage codegen); per-anchor top-k is a row_number window over
    the A-keyed exchange. Ties break on the ROUNDED similarity then
    neg_id (total order, engine-identical). At production scale the
    exhaustive scan swaps for the IVF shortlist (sim_ivf_topk) with
    label-mismatch filtering in the re-rank — same output contract.
    SemDeDup/SimCSE-style pipelines run exactly this shape nightly."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_HN_ANCHORS)
        .select(
            F.col("vec_id").alias("aid"),
            F.col("label").alias("albl"),
            F.col("v").alias("av"),
        )
    )
    scored = (
        e.join(F.broadcast(anchors), e["label"] != F.col("albl"))
        .select(
            "aid",
            F.col("vec_id").alias("neg_id"),
            F.round(cosine_similarity(F.col("v"), F.col("av")), 5).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("aid").orderBy(F.col("cos_sim").desc(), "neg_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HN_K)
        .select(
            F.col("aid").alias("anchor_id"),
            F.col("rnk").cast("int").alias("rnk"),
            "neg_id",
            "cos_sim",
        )
    )


# ---------------------------------------------------------------------------
# v_rocchio_feedback — pseudo-relevance feedback (two-round retrieval)
# ---------------------------------------------------------------------------

_RF_K = 10      # feedback set size = final result size
_RF_BETA = 0.75  # dyadic feedback weight (exact in IEEE)

_RF_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    r1 AS (
        SELECT e.vec_id, e.v
        FROM e, q0
        WHERE e.vec_id <> 0
        ORDER BY round(list_dot_product(e.v, q0.qv)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(q0.qv, q0.qv))), 5) DESC,
                 e.vec_id
        LIMIT {_RF_K}
    ),
    fold AS (
        SELECT list_reduce(list(v ORDER BY vec_id),
                           (a, b) -> list_transform(list_zip(a, b),
                                                    p -> p[1] + p[2])) AS sv,
               list(vec_id) AS ids
        FROM r1
    ),
    q1 AS (
        SELECT list_transform(list_zip(q0.qv, fold.sv),
                              p -> p[1] + {_RF_BETA} * (p[2] / {_RF_K}))
                   AS qv,
               fold.ids
        FROM q0, fold
    ),
    r2 AS (
        SELECT e.vec_id,
               round(list_dot_product(e.v, q1.qv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(q1.qv, q1.qv))), 5) AS cos_sim,
               CAST(CASE WHEN list_contains(q1.ids, e.vec_id)
                         THEN 1 ELSE 0 END AS INT) AS in_round1
        FROM e, q1
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT {_RF_K}
    )
    SELECT CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS INT)
               AS rnk,
           vec_id, cos_sim, in_round1
    FROM r2
"""


@register("v_rocchio_feedback", _RF_SQL)
def v_rocchio_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback — the classic two-round
    retrieval loop (Rocchio 1971; the PRF baseline every query-
    expansion paper still reports): retrieve top-{_RF_K} for the raw
    query, move the query toward their centroid
    (q1 = q0 + {_RF_BETA}·mean(top-k)), retrieve again. Output is the
    round-2 top-{_RF_K} with an ``in_round1`` flag showing how much
    the feedback step re-ranked.

    Exact cross-engine floats WITHOUT rounding the expanded query: the
    feedback centroid is a FIXED-ORDER left fold over the top-k
    vectors sorted by vec_id (Spark: in-plan ``F.aggregate`` over a
    sorted collected array; oracle: ``list_reduce`` over
    ``list(v ORDER BY vec_id)`` — both left-associate), so the summed
    vector is bit-identical; β={_RF_BETA} is dyadic and the per-element
    update is one identical expression. k-sized fold, never data-sized.

    Scale shape: two broadcast-query scans (the v_cosine_topk plan,
    twice) + a k-row TakeOrdered between them; the feedback state is
    one dim-sized vector. At 100 TB each round swaps the exhaustive
    scan for the IVF probe (sim_ivf_topk) — PRF is round-structured,
    not scan-structured."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q0 = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = e.filter(F.col("vec_id") != 0)
    r1 = (
        cand.crossJoin(F.broadcast(q0))
        .select(
            "vec_id",
            "v",
            F.round(cosine_similarity(F.col("v"), F.col("qv")), 5).alias(
                "c"
            ),
        )
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(_RF_K)
    )
    fold = r1.agg(
        F.collect_list(F.struct("vec_id", "v")).alias("sv"),
        F.collect_list("vec_id").alias("ids"),
    ).select(
        F.aggregate(
            F.transform(F.array_sort("sv"), lambda s: s["v"]),
            F.array().cast("array<double>"),
            lambda acc, x: F.when(
                F.size(acc) == 0, x
            ).otherwise(F.zip_with(acc, x, lambda a, b: a + b)),
        ).alias("sv"),
        F.array_sort("ids").alias("ids"),
    )
    q1 = (
        q0.crossJoin(F.broadcast(fold))
        .select(
            F.zip_with(
                F.col("qv"),
                F.col("sv"),
                lambda a, b: a + _RF_BETA * (b / _RF_K),
            ).alias("qv"),
            "ids",
        )
    )
    r2 = (
        cand.crossJoin(F.broadcast(q1))
        .select(
            "vec_id",
            F.round(cosine_similarity(F.col("v"), F.col("qv")), 5).alias(
                "cos_sim"
            ),
            F.array_contains(F.col("ids"), F.col("vec_id"))
            .cast("int")
            .alias("in_round1"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(_RF_K)
    )
    w = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return r2.select(
        F.row_number().over(w).cast("int").alias("rnk"),
        "vec_id",
        "cos_sim",
        "in_round1",
    )


# ---------------------------------------------------------------------------
# v_ivf_balance — IVF cell-balance audit (index health metrics)
# ---------------------------------------------------------------------------

_IVF_BAL_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM (SELECT * FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {N_CENTROIDS})),
    asg AS (
        SELECT vec_id, cid, row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_COS.format(a='v', b='cv')} DESC, cid
               ) AS rnk
        FROM e CROSS JOIN c
    ),
    sizes AS (
        SELECT c.cid, count(a.vec_id) AS sz
        FROM c LEFT JOIN (SELECT * FROM asg WHERE rnk = 1) a
          ON a.cid = c.cid
        GROUP BY c.cid
    ),
    ranked AS (
        SELECT sz, row_number() OVER (ORDER BY sz, cid) AS rn FROM sizes
    ),
    tot AS (SELECT count(*) AS k, sum(sz) AS n FROM sizes)
    SELECT CAST(tot.k AS BIGINT) AS n_cells,
           CAST(tot.n AS BIGINT) AS n_vecs,
           CAST((SELECT min(sz) FROM sizes) AS BIGINT) AS min_cell,
           CAST((SELECT max(sz) FROM sizes) AS BIGINT) AS max_cell,
           CAST((SELECT sz FROM ranked, tot
                 WHERE rn = (tot.k + 1) // 2) AS BIGINT) AS median_cell,
           CAST((SELECT count(*) FROM sizes WHERE sz = 0) AS BIGINT)
               AS n_empty,
           round((SELECT max(sz) FROM sizes) * tot.k / (1.0 * tot.n), 6)
               AS imbalance
    FROM tot
"""


@register("v_ivf_balance", _IVF_BAL_SQL)
def v_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health audit — the cell-size distribution of the
    sim_ivf_topk codebook assignment: min/median/max cell, empty-cell
    count, and the imbalance factor max·K/N (1.0 = perfectly balanced;
    the p99-latency driver for probe-based serving, since a query that
    probes a hot cell scans imbalance× the average work). This is the
    metric an ANN platform alerts on after every codebook retrain, and
    the input to the split-hot-cells / merge-empty-cells maintenance
    decision.

    Determinism: assignment ranks on the ROUNDED cosine (the
    sim_ivf_topk rule) with a total cid tie-break; every output is an
    integer or a single division of integers. The median is an order
    statistic over the K-row cell-size frame (lower median at even K,
    (sz, cid)-ordered).

    Scale shape: one corpus × codebook broadcast map (the existing
    assignment subplan), then K-row frames only — the audit itself
    costs one scan regardless of corpus size; empty cells survive via
    the codebook LEFT join."""
    e = _ivf_corpus(spark, sf_dir)
    cents = _ivf_codebook(e, N_CENTROIDS)
    asg = _ivf_assign(e, cents).select("vec_id", F.col("cell").alias("cid"))
    sizes = (
        cents.select("cid")
        .join(asg, "cid", "left")
        .groupBy("cid")
        .agg(F.count("vec_id").alias("sz"))
        .transform(materialize, sf_dir)  # K rows; read by every summary stat below
    )
    tot = sizes.agg(
        F.count(F.lit(1)).alias("k"), F.sum("sz").alias("n")
    )
    wr = Window.orderBy("sz", "cid")
    med = (
        sizes.withColumn("rn", F.row_number().over(wr))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("rn") == F.expr("(k + 1) div 2"))
        .select(F.col("sz").alias("median_cell"))
    )
    summary = sizes.agg(
        F.min("sz").alias("min_cell"),
        F.max("sz").alias("max_cell"),
        F.sum(F.when(F.col("sz") == 0, 1).otherwise(0)).alias("n_empty"),
    )
    return (
        tot.crossJoin(F.broadcast(summary))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("k").cast("long").alias("n_cells"),
            F.col("n").cast("long").alias("n_vecs"),
            F.col("min_cell").cast("long").alias("min_cell"),
            F.col("max_cell").cast("long").alias("max_cell"),
            F.col("median_cell").cast("long").alias("median_cell"),
            F.col("n_empty").cast("long").alias("n_empty"),
            F.round(
                F.col("max_cell") * F.col("k") / (1.0 * F.col("n")), 6
            ).alias("imbalance"),
        )
    )


# ---------------------------------------------------------------------------
# v_embedding_drift — embedding-space drift between two corpus halves
# ---------------------------------------------------------------------------

_DRIFT_SCALE = 100_000  # centroid µ-grid (the v_label_centroids rule)

_DRIFT_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               {{U}} < 0.5 AS is_a
        FROM embeddings
    ),
    pos AS (
        SELECT is_a, i AS pos, v[i + 1] AS val, vec_id
        FROM e CROSS JOIN (SELECT unnest(range({_CENT_DIM})) AS i)
    ),
    cent AS (
        SELECT is_a, pos,
               CAST(round(avg(val) * {_DRIFT_SCALE}) AS BIGINT) AS c,
               count(DISTINCT vec_id) AS n
        FROM pos GROUP BY is_a, pos
    ),
    ab AS (
        SELECT a.pos, a.c AS ca, b.c AS cb
        FROM (SELECT * FROM cent WHERE is_a) a
        JOIN (SELECT * FROM cent WHERE NOT is_a) b USING (pos)
    ),
    dots AS (
        SELECT sum(CAST(ca AS DOUBLE) * cb) AS ab_,
               sum(CAST(ca AS DOUBLE) * ca) AS aa,
               sum(CAST(cb AS DOUBLE) * cb) AS bb,
               sum(CAST(ca - cb AS DOUBLE) * (ca - cb)) AS d2
        FROM ab
    )
    SELECT (SELECT CAST(max(n) AS BIGINT) FROM cent WHERE is_a) AS n_a,
           (SELECT CAST(max(n) AS BIGINT) FROM cent WHERE NOT is_a) AS n_b,
           round(ab_ / (sqrt(aa) * sqrt(bb)), 6) AS centroid_cosine,
           round(sqrt(d2) / {_DRIFT_SCALE}, 6) AS centroid_l2
    FROM dots
""".format(U=u01_sql("vec_id", "drift"))


@register("v_embedding_drift", _DRIFT_SQL)
def v_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor — the vector-column counterpart
    of a_psi_drift: split the corpus into two md5 halves (standing in
    for yesterday/today), compare the half centroids by cosine and L2.
    A centroid cosine dipping below ~0.99 is the cheap first alarm
    that an upstream encoder changed or the content distribution
    shifted — checked before any expensive per-vector OOD scoring
    (v_ood_score is the per-item escalation).

    Determinism: centroids are dimension-parallel means snapped to the
    {_DRIFT_SCALE} integer grid (the v_label_centroids rule) BEFORE
    the comparison, so the cosine/L2 are exact integer dot products
    with two IEEE sqrt's — bit-identical.

    Scale shape: one posexplode pass into a (half, dim)-keyed
    map-side-combined aggregate (the dimension-parallel trick — a
    billion vectors spread over 2·D reducers, no whole-vector
    hot key); everything after is 2·D rows."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        (u01_col(F.col("vec_id"), "drift") < 0.5).alias("is_a"),
    )
    pos = e.select(
        "is_a", "vec_id", F.posexplode("v").alias("pos", "val")
    )
    cent = pos.groupBy("is_a", "pos").agg(
        F.round(F.avg("val") * _DRIFT_SCALE).cast("long").alias("c"),
        F.countDistinct("vec_id").alias("n"),
    ).transform(materialize, sf_dir)  # 2·D rows; read by counts + both dot passes
    a = cent.filter(F.col("is_a")).select(
        "pos", F.col("c").alias("ca"), F.col("n").alias("na")
    )
    b = cent.filter(~F.col("is_a")).select(
        "pos", F.col("c").alias("cb"), F.col("n").alias("nb")
    )
    ab = a.join(b, "pos")
    dots = ab.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(F.col("ca").cast("double") * F.col("cb")).alias("ab_"),
        F.sum(F.col("ca").cast("double") * F.col("ca")).alias("aa"),
        F.sum(F.col("cb").cast("double") * F.col("cb")).alias("bb"),
        F.sum(
            (F.col("ca") - F.col("cb")).cast("double")
            * (F.col("ca") - F.col("cb"))
        ).alias("d2"),
    )
    return dots.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            F.col("ab_") / (F.sqrt(F.col("aa")) * F.sqrt(F.col("bb"))), 6
        ).alias("centroid_cosine"),
        F.round(F.sqrt(F.col("d2")) / _DRIFT_SCALE, 6).alias("centroid_l2"),
    )


# ---------------------------------------------------------------------------
# v_distance_concentration — curse-of-dimensionality diagnostic
# ---------------------------------------------------------------------------

_DC_SAMPLE = 32  # fixed-count md5-ordered probe sample (house rule)

_DC_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    smp AS (
        SELECT vec_id, v FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_DC_SAMPLE}
    ),
    d AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               round(list_dot_product(a.v, a.v)
                     - 2 * list_dot_product(a.v, b.v)
                     + list_dot_product(b.v, b.v), 6) AS d2
        FROM smp a JOIN smp b ON a.vec_id <> b.vec_id
    )
    SELECT ia AS vec_id,
           round(min(d2), 6) AS d2_min,
           round(max(d2), 6) AS d2_max,
           round((max(d2) - min(d2)) / greatest(min(d2), 1e-12), 6)
               AS relative_contrast
    FROM d GROUP BY ia
    ORDER BY vec_id
"""


@register("v_distance_concentration", _DC_SQL)
def v_distance_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-concentration diagnostic (Beyer et al. 1999, "When is
    'nearest neighbor' meaningful?") — per probe point, the relative
    contrast (d_max − d_min)/d_min over a fixed sample's pairwise
    squared distances. As dimension grows, contrast collapses toward
    0 and EVERY neighbor looks equidistant — the check a vector-infra
    team runs BEFORE sizing an ANN index, because low contrast means
    recall targets are unreachable at any nprobe and the embedding
    (not the index) needs fixing.

    Determinism: the probe set is the fixed-COUNT md5-ordered sample;
    each squared distance expands to three dot products (aa − 2ab +
    bb) computed identically in both engines, snapped at 6dp before
    the min/max (order-free). The probe self-join is two broadcast
    {_DC_SAMPLE}-row frames — a bounded BroadcastNestedLoopJoin, never
    a data-sized cross.

    Scale shape: ONE TakeOrdered sample pass over the corpus, then
    constant-size work ({_DC_SAMPLE}² pairs) regardless of corpus or
    dimension count."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    smp = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_DC_SAMPLE)
        .transform(materialize, sf_dir)  # both sides of the bounded pair join
    )
    a = smp.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = smp.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    d2 = F.round(
        dot_product("va", "va")
        - 2 * dot_product("va", "vb")
        + dot_product("vb", "vb"),
        6,
    )
    d = (
        a.join(F.broadcast(b), F.col("ia") != F.col("ib"))
        .select("ia", d2.alias("d2"))
    )
    return (
        d.groupBy("ia")
        .agg(
            F.round(F.min("d2"), 6).alias("d2_min"),
            F.round(F.max("d2"), 6).alias("d2_max"),
            F.round(
                (F.max("d2") - F.min("d2"))
                / F.greatest(F.min("d2"), F.lit(1e-12)),
                6,
            ).alias("relative_contrast"),
        )
        .select(
            F.col("ia").alias("vec_id"),
            "d2_min",
            "d2_max",
            "relative_contrast",
        )
        .orderBy("vec_id")
    )
