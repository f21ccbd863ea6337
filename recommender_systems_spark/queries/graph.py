"""Graph analytics over the interaction graph: fixed-iteration
PageRank on the item co-occurrence graph.

Link-graph importance scoring is a first-class curation signal at
100-TB corpus scale (domain/page authority feeding quality filters);
here the same power-iteration shape runs on the item-item
co-occurrence graph the CF neighbour query builds, so the operator is
exercised end-to-end on the warehouse tables without external edges.

The iteration count is FIXED and the init deterministic, so the whole
loop unrolls into the DuckDB oracle (the m_kmeans pattern for
oracle-backed iterative algorithms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recommender_systems_spark.queries._shared import (
    CF_CAP as _CF_CAP,
    CF_MIN_COOC as _CF_MIN_COOC,
)
from recommender_systems_spark.io import materialize
from recommender_systems_spark.registry import _t, register

PR_ITERS = 3
PR_DAMPING = 0.85

_EDGES_SQL = f"""
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
    edges AS (
        SELECT ia AS src, ib AS dst FROM cooc WHERE c >= {_CF_MIN_COOC}
        UNION ALL
        SELECT ib AS src, ia AS dst FROM cooc WHERE c >= {_CF_MIN_COOC}
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    nn AS (SELECT COUNT(*) AS c FROM nodes)
"""


def _sql_iter(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT e.dst AS id,
               (1.0 - {PR_DAMPING}) / (SELECT c FROM nn)
               + {PR_DAMPING} * SUM({prev}.r / deg.d) AS r
        FROM edges e
        JOIN {prev} ON {prev}.id = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    )"""


_PR_SQL = (
    "WITH "
    + _EDGES_SQL
    + ", r0 AS (SELECT id, 1.0 / (SELECT c FROM nn) AS r FROM nodes),"
    + ",".join(_sql_iter(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS))
    + f"""
    SELECT id AS item,
           round(r * (SELECT c FROM nn), 5) AS pr_scaled
    FROM r{PR_ITERS}
"""
)


def _capped_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user capped (uid, iid) interaction list — the bipartite
    graph behind the co-occurrence build and g_hits_scores."""
    from pyspark.sql import Window

    hist = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_suppkey").alias("uid"), F.col("l_partkey").alias("iid")
        )
        .agg(F.sum(F.col("l_quantity").cast("double")).alias("w"))
    )
    wcap = Window.partitionBy("uid").orderBy(F.col("w").desc(), F.col("iid"))
    return (
        hist.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _CF_CAP)
        .select("uid", "iid")
    )


def _cooc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped-history item co-occurrence pair list (ia < ib,
    support ≥ CF_MIN_COOC) — the shared edge table behind every graph
    analytic here (14 call sites: m_item_item_cooc, g_pagerank,
    g_triangles, …). It is deterministic in the fact table, so it is
    materialised ONCE per source-data identity into the cache dir and
    read back — the per-user pair explode + support aggregate was a
    repeated ~1 s prefix of every graph query at sf0.1. This mirrors
    production graph pipelines, which maintain the edge list as a
    refreshed TABLE next to the facts rather than re-deriving it per
    query; all consumers are aggregations/joins, so the parquet
    round-trip (exact int64s) changes nothing downstream."""
    from recommender_systems_spark.io import cache_path, cache_ready

    # Prefix carries the per-user history cap and the min-support cut
    # baked into the edge list — editing either constant must miss the
    # cache rather than silently serve stale edges.
    edge_dir = cache_path(
        f"cooc_edges_c{_CF_CAP}m{_CF_MIN_COOC}", sf_dir, "lineitem"
    )
    if not cache_ready(edge_dir):
        # Build-path basket rewrite (round-13, the _cf_frames idiom):
        # the groupBy(uid) rides the hashpartitioning(uid) the cap
        # window already paid, and the (ia < ib) pairs come from
        # index-aware array HOFs — the r12 self-join re-ran the
        # corpus window lineage twice and shuffled both sides on uid.
        # Identical (ia, ib, c) table written (exact integer counts
        # over the same pair multiset).
        capped = _capped_history(spark, sf_dir)
        seqs = capped.groupBy("uid").agg(
            F.array_sort(F.collect_list("iid")).alias("xs")
        )
        pair_structs = F.flatten(
            F.transform(
                "xs",
                lambda x, i: F.transform(
                    F.slice("xs", i + 2, F.size("xs") - i - 1),
                    lambda y: F.struct(x.alias("ia"), y.alias("ib")),
                ),
            )
        )
        (
            seqs.select(F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= _CF_MIN_COOC)
            .write.mode("overwrite")
            .parquet(edge_dir)
        )
    return spark.read.parquet(edge_dir)


@register("g_pagerank", _PR_SQL)
def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank ({PR_ITERS} power iterations, damping
    {PR_DAMPING}) over the undirected item co-occurrence graph (edges =
    capped-history co-purchases with support ≥ {_CF_MIN_COOC}, the
    m_item_item_cooc edge set). Emits per-item rank scaled by N (≈1 for
    an average item) — the link-authority signal curation pipelines use
    for domain/page quality weighting.

    Scale shape per iteration: ONE equi-join (ranks onto edge sources —
    degree rides the pre-joined edge frame, computed once) + ONE hash
    aggregate on dst with map-side partial sums. Rank state is (id,
    double) pairs only; the edge frame is checkpointed once and reused
    every iteration, so lineage stays flat and nothing recomputes the
    pair explode. Hot pages (high in-degree) are exactly what AQE
    skew-split handles on the contribution aggregate. N and the
    iteration count are the only driver-side scalars."""
    cooc = _cooc_pairs(spark, sf_dir)
    edges = (
        cooc.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
        .unionAll(cooc.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # Degree rides the edge frame once — every iteration reuses it.
    edges_d = edges.join(deg, "src").transform(materialize, sf_dir)
    nodes = materialize(
        edges_d.select(F.col("src").alias("id")).distinct(), sf_dir
    )
    n = nodes.count()
    base = (1.0 - PR_DAMPING) / n
    r = nodes.withColumn("r", F.lit(1.0 / n))
    for _ in range(PR_ITERS):
        r = (
            edges_d.join(r.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(
                (F.lit(base) + F.lit(PR_DAMPING) * F.sum(F.col("r") / F.col("d"))).alias(
                    "r"
                )
            )
            # flat lineage: each iteration is one join+agg
            .transform(materialize, sf_dir)
        )
    return r.select(
        F.col("id").alias("item"), F.round(F.col("r") * n, 5).alias("pr_scaled")
    )


# ---------------------------------------------------------------------------
# Triangle counting / global clustering coefficient
# ---------------------------------------------------------------------------

_TRI_SQL = (
    "WITH "
    + _EDGES_SQL
    + f""",
    und AS (SELECT ia AS a, ib AS b FROM cooc WHERE c >= {_CF_MIN_COOC}),
    degu AS (
        SELECT id, COUNT(*) AS d FROM (
            SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
        GROUP BY 1
    ),
    orient AS (
        SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND und.a < und.b)
                    THEN und.a ELSE und.b END AS u,
               CASE WHEN (da.d < db.d) OR (da.d = db.d AND und.a < und.b)
                    THEN und.b ELSE und.a END AS v
        FROM und
        JOIN degu da ON da.id = und.a
        JOIN degu db ON db.id = und.b
    ),
    wedge AS (
        SELECT e1.v AS x, e2.v AS y
        FROM orient e1 JOIN orient e2
          ON e1.u = e2.u AND e1.v < e2.v
    ),
    tri AS (
        SELECT COUNT(*) AS t
        FROM wedge w JOIN und
          ON und.a = least(w.x, w.y) AND und.b = greatest(w.x, w.y)
    ),
    wtot AS (SELECT SUM(d * (d - 1) / 2) AS nw FROM degu)
    SELECT CAST((SELECT COUNT(*) FROM degu) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           round(3.0 * (SELECT t FROM tri) / (SELECT nw FROM wtot), 6)
               AS clustering_coeff
"""
)


@register("g_triangles", _TRI_SQL)
def g_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the item
    co-occurrence graph (the transitivity profile of the interaction
    graph — the density diagnostic behind community structure and the
    reference's long-tail plots, prac_1_plotting.py's analysis family).

    Scale shape — degree-ordered orientation, the standard
    O(m^{3/2})-work trick: each undirected edge is directed from its
    lower-(degree, id) endpoint to the higher, so every wedge is
    enumerated at its LOWEST-degree apex. A hub of degree 10⁶ generates
    zero wedges as apex (all its edges point INTO it); without
    orientation it would generate 10¹² wedge rows. The wedge build is
    one self-equi-join on the apex id, closure is one equi-join back to
    the unique-edge list on the (least, greatest) key, and everything
    that shuffles is id pairs/triples — never payloads. All outputs are
    exact integers except the rounded coefficient, so the oracle
    matches bit-for-bit."""
    cooc = _cooc_pairs(spark, sf_dir)
    # Edge build reused 5× (degree, orient, closure, count).
    und = cooc.select(
        F.col("ia").alias("a"), F.col("ib").alias("b")
    ).transform(materialize, sf_dir)
    # Degree table from the CHECKPOINTED edges, itself checkpointed:
    # referenced 4× below (da, db, wedge-count, node-count) — built from
    # the pre-checkpoint frame it re-ran the artifact scan + union +
    # exchange per reference (round-13 census).
    degu = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(materialize, sf_dir)  # node-dimension-sized
    )
    da = degu.withColumnRenamed("id", "a").withColumnRenamed("d", "da")
    db = degu.withColumnRenamed("id", "b").withColumnRenamed("d", "db")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    orient = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1 = orient.withColumnRenamed("v", "x")
    e2 = orient.withColumnRenamed("v", "y")
    wedge = e1.join(e2, "u").filter(F.col("x") < F.col("y")).select("x", "y")
    closed = wedge.join(
        und,
        (F.col("a") == F.least("x", "y")) & (F.col("b") == F.greatest("x", "y")),
    )
    tri = closed.agg(F.count(F.lit(1)).alias("t"))
    nw = degu.agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("nw"))
    counts = und.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    ).crossJoin(degu.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    return (
        counts.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(nw))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").cast("long").alias("n_triangles"),
            F.round(3.0 * F.col("t") / F.col("nw"), 6).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection
# ---------------------------------------------------------------------------

LP_ITERS = 2


def _lp_iter(prev: str, cur: str) -> str:
    return f"""
    {cur}_c AS (
        SELECT e.dst AS id, l.label, COUNT(*) AS n
        FROM edges e JOIN {prev} l ON l.id = e.src
        GROUP BY e.dst, l.label
    ),
    {cur} AS (
        SELECT id, label FROM (
            SELECT id, label,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY n DESC, label ASC) AS rn
            FROM {cur}_c)
        WHERE rn = 1
    )"""


_LPA_SQL = (
    "WITH "
    + _EDGES_SQL
    + ", l0 AS (SELECT id, id AS label FROM nodes),"
    + ",".join(_lp_iter(f"l{i}", f"l{i + 1}") for i in range(LP_ITERS))
    + f"""
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM l{LP_ITERS}
    GROUP BY label
"""
)


@register("g_label_propagation", _LPA_SQL)
def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection ({LP_ITERS}
    fixed iterations) over the item co-occurrence graph: every node
    starts as its own community, then repeatedly adopts the most
    frequent label among its neighbours with a TOTAL tie-break
    (count desc, then smallest label) — so the fixed-iteration loop is
    deterministic in any engine and unrolls into the DuckDB oracle
    (the g_pagerank pattern). Complements dedup_clusters (connected
    components = the degenerate "any path" community notion) with the
    density-sensitive one. Emits community sizes.

    Scale shape per iteration: ONE equi-join of the (id, label) state
    onto edge sources + ONE (dst, label) count aggregate (map-side
    combined) + a per-node top-1 window whose input is the aggregate
    (≤ #distinct neighbour labels per node, never raw edges). State
    and shuffles carry id pairs only; the edge frame is checkpointed
    once and reused every iteration."""
    _, labels = _lp_state(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


def _lp_state(spark: SparkSession, sf_dir: str):
    """(edges, labels) after LP_ITERS label-propagation rounds —
    shared by g_label_propagation (sizes) and g_modularity (quality).
    Scale notes in g_label_propagation's docstring."""
    from pyspark.sql import Window

    cooc = _cooc_pairs(spark, sf_dir)
    edges = (
        cooc.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
        .unionAll(cooc.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
        .transform(materialize, sf_dir)  # reused every iteration
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    w = Window.partitionBy("id").orderBy(F.col("n").desc(), F.col("label").asc())
    for _ in range(LP_ITERS):
        counts = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "label")
            .transform(materialize, sf_dir)  # flat lineage per round
        )
    return edges, labels


# ---------------------------------------------------------------------------
# g_adamic_adar — link prediction over the co-occurrence graph
# ---------------------------------------------------------------------------

AA_TOPK = 50

_AA_SQL = f"""
    WITH {_EDGES_SQL},
    invd AS (
        SELECT src AS z, CAST(round(1000000.0 / ln(d)) AS BIGINT) AS inv
        FROM deg WHERE d >= 2
    ),
    wedges AS (
        SELECT e1.dst AS u, e1.src AS z, e2.dst AS w
        FROM edges e1 JOIN edges e2
          ON e1.src = e2.src AND e1.dst < e2.dst
    ),
    cand AS (
        SELECT u, w, COUNT(*) AS n_common, SUM(inv) AS aa
        FROM wedges JOIN invd ON invd.z = wedges.z
        GROUP BY 1, 2
    ),
    nonadj AS (
        SELECT c.u, c.w, c.n_common, c.aa
        FROM cand c
        LEFT JOIN edges e ON e.src = c.u AND e.dst = c.w
        WHERE e.src IS NULL
    )
    SELECT CAST(u AS BIGINT) AS item_a, CAST(w AS BIGINT) AS item_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(aa AS BIGINT) AS aa_micros,
           round(aa / 1000000.0, 6) AS adamic_adar,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY aa DESC, u, w) AS rnk
          FROM nonadj)
    WHERE rnk <= {AA_TOPK}
"""


@register("g_adamic_adar", _AA_SQL)
def g_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the item co-occurrence graph:
    for every NON-adjacent pair sharing at least one common neighbour,
    AA(u,w) = Σ_z∈N(u)∩N(w) 1/ln(deg z) — rare shared neighbours count
    more than hubs. The top-{AA_TOPK} predicted links are the
    "items that SHOULD co-occur but don't yet" list a recommender uses
    for exploration candidates and a curation pipeline for gap
    detection (the predictive counterpart of m_item_item_cooc's
    observed neighbours).

    Scale shape: candidate pairs come from wedge enumeration THROUGH
    each common neighbour (edges ⋈ edges on the centre node, dst <
    dst) — O(Σ_z deg(z)²), which the capped-history edge build already
    bounds (same hub-degree consideration as g_triangles); existing
    edges drop out via one anti-join, and only (u, w) id pairs ever
    shuffle. Parity: each neighbour contributes integer micros
    round(10⁶/ln d), so the AA sum is exact integer arithmetic in both
    engines and the global (aa desc, u, w) top-k never flips on
    accumulation order."""
    from pyspark.sql import Window

    pairs = _cooc_pairs(spark, sf_dir).transform(materialize, sf_dir)
    edges = pairs.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    ).unionAll(pairs.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # d >= 2 guard: a wedge centre always has two neighbours, but the
    # eager invd projection must not evaluate 1/ln(1) for leaf nodes
    # (ANSI divide-by-zero).
    invd = deg.filter(F.col("d") >= 2).select(
        F.col("src").alias("z"),
        F.round(1000000.0 / F.log(F.col("d"))).cast("long").alias("inv"),
    )
    wedges = (
        edges.alias("e1")
        .join(
            edges.alias("e2"),
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .select(
            F.col("e1.dst").alias("u"),
            F.col("e1.src").alias("z"),
            F.col("e2.dst").alias("w"),
        )
    )
    cand = (
        wedges.join(invd, "z")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("inv").alias("aa"),
        )
    )
    nonadj = cand.join(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    # TakeOrderedAndProject top-k, then rank the k-row frame — no
    # single-partition window over the unbounded candidate set.
    wr = Window.orderBy(F.col("aa").desc(), F.col("u"), F.col("w"))
    top = nonadj.orderBy(
        F.col("aa").desc(), F.col("u"), F.col("w")
    ).limit(AA_TOPK)
    return (
        top.withColumn("rnk", F.row_number().over(wr))
        .select(
            F.col("u").cast("long").alias("item_a"),
            F.col("w").cast("long").alias("item_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.col("aa").cast("long").alias("aa_micros"),
            F.round(F.col("aa") / 1000000.0, 6).alias("adamic_adar"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# g_jaccard_neighbors — structural similarity by neighbourhood overlap
# ---------------------------------------------------------------------------

JN_TOPK = 50

_JN_SQL = f"""
    WITH {_EDGES_SQL},
    wedges AS (
        SELECT e1.dst AS u, e2.dst AS w
        FROM edges e1 JOIN edges e2
          ON e1.src = e2.src AND e1.dst < e2.dst
    ),
    common AS (
        SELECT u, w, COUNT(*) AS n_common FROM wedges GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    scored AS (
        SELECT c.u, c.w, c.n_common, du.d AS deg_u, dw.d AS deg_w,
               CAST(round(1000000.0 * c.n_common
                          / (du.d + dw.d - c.n_common)) AS BIGINT)
                   AS jac_micros
        FROM common c
        JOIN deg du ON du.src = c.u
        JOIN deg dw ON dw.src = c.w
    )
    SELECT CAST(u AS BIGINT) AS item_a, CAST(w AS BIGINT) AS item_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(deg_u AS BIGINT) AS deg_a, CAST(deg_w AS BIGINT) AS deg_b,
           round(jac_micros / 1000000.0, 6) AS jaccard,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY jac_micros DESC, u, w)
                 AS rnk
          FROM scored)
    WHERE rnk <= {JN_TOPK}
"""


@register("g_jaccard_neighbors", _JN_SQL)
def g_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbourhood-Jaccard structural similarity over the item
    co-occurrence graph: J(u,w) = |N(u)∩N(w)| / |N(u)∪N(w)| for pairs
    sharing ≥2 neighbours, global top-{JN_TOPK} — the
    structural-equivalence score (role similarity: two items whose
    NEIGHBOURHOODS agree, whether or not they co-occur themselves),
    complementing g_adamic_adar's rarity-weighted sum with a
    degree-normalised measure that hubs can't dominate.

    Scale shape: the same wedge enumeration as g_adamic_adar (edges ⋈
    edges on the centre, O(Σ deg²) bounded by the capped-history edge
    build); the ≥2-common floor prunes before the dimension-sized
    degree joins (|items|-sized → broadcast). Parity: intersection and
    union sizes are exact integers, the score ranks on integer micros
    of an exact-operand division, and (jac desc, u, w) is total."""
    from pyspark.sql import Window

    pairs = _cooc_pairs(spark, sf_dir).transform(materialize, sf_dir)
    edges = pairs.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    ).unionAll(pairs.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
    # Node-dimension-sized; referenced by BOTH endpoint broadcasts —
    # unmaterialised it re-ran the symmetrised-edge aggregate per
    # reference (round-13 census).
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(materialize, sf_dir)
    )
    common = (
        edges.alias("e1")
        .join(
            edges.alias("e2"),
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .groupBy(F.col("e1.dst").alias("u"), F.col("e2.dst").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    scored = (
        common.join(
            F.broadcast(deg.select(F.col("src").alias("u"), F.col("d").alias("deg_u"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("src").alias("w"), F.col("d").alias("deg_w"))),
            "w",
        )
        .withColumn(
            "jac_micros",
            F.round(
                1000000.0
                * F.col("n_common")
                / (F.col("deg_u") + F.col("deg_w") - F.col("n_common"))
            ).cast("long"),
        )
    )
    # TakeOrderedAndProject top-k, then rank the k-row frame — no
    # single-partition window over the unbounded scored-pair set.
    wr = Window.orderBy(F.col("jac_micros").desc(), F.col("u"), F.col("w"))
    top = scored.orderBy(
        F.col("jac_micros").desc(), F.col("u"), F.col("w")
    ).limit(JN_TOPK)
    return (
        top.withColumn("rnk", F.row_number().over(wr))
        .select(
            F.col("u").cast("long").alias("item_a"),
            F.col("w").cast("long").alias("item_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.col("deg_u").cast("long").alias("deg_a"),
            F.col("deg_w").cast("long").alias("deg_b"),
            F.round(F.col("jac_micros") / 1000000.0, 6).alias("jaccard"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# g_kcore — fixed-round k-core peeling
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 7


def _kcore_round(prev: str, cur: str) -> str:
    # AS MATERIALIZED is load-bearing: each round references the prior
    # edge CTE three times (degree, keep x2); DuckDB inlines plain CTEs,
    # so an un-materialized unroll re-evaluates round r-1 three times ->
    # 3^ROUNDS blowup. Materializing pins each round to one evaluation
    # (the CTE-chain analogue of the Spark side's localCheckpoint).
    return f"""
    k{cur} AS MATERIALIZED (
        SELECT src FROM (SELECT src, COUNT(*) AS d FROM e{prev} GROUP BY 1)
        WHERE d >= {KCORE_K}),
    e{cur} AS MATERIALIZED (
        SELECT e.src, e.dst FROM e{prev} e
        JOIN k{cur} a ON e.src = a.src
        JOIN k{cur} b ON e.dst = b.src
    )"""


_KCORE_SQL = (
    "WITH "
    + _EDGES_SQL
    + ", e0 AS MATERIALIZED (SELECT src, dst FROM edges),"
    + ",".join(_kcore_round(str(i), str(i + 1)) for i in range(KCORE_ROUNDS))
    + f"""
    SELECT CAST(src AS BIGINT) AS item, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{KCORE_ROUNDS} GROUP BY 1
"""
)


@register("g_kcore", _KCORE_SQL)
def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k={KCORE_K}, {KCORE_ROUNDS} fixed rounds) over
    the item co-occurrence graph: repeatedly drop nodes with degree <
    k and the edges touching them; what survives is the dense backbone
    — the standard graph-curation filter (spam/fringe nodes peel away,
    cohesive communities survive) and the densest-region preselector a
    pipeline runs before expensive per-node analytics.

    The round count is FIXED so the whole peel unrolls into the DuckDB
    oracle (the g_pagerank pattern for oracle-backed iterative
    algorithms); {KCORE_ROUNDS} rounds are enough for the peel to
    converge at every validation scale (a no-op final round — verified
    by the min-degree invariant test), so the output IS the true
    {KCORE_K}-core (at sf0.1 that core is legitimately empty: capped
    histories spread over 10× more parts thin the ≥2-support edges).

    Scale shape per round: one degree aggregate (map-side combine) and
    one semi-join of edges against surviving nodes on each endpoint —
    (id)-pairs only ever shuffle, and each round's edge frame is
    checkpointed so lineage stays flat. Parity: degrees and the
    surviving edge set are exact; output is the surviving nodes with
    their core degrees (integer counts)."""
    cooc = _cooc_pairs(spark, sf_dir)
    edges = (
        cooc.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
        .unionAll(cooc.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
        .transform(materialize, sf_dir)
    )
    e = edges
    for _ in range(KCORE_ROUNDS):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select("src")
        )
        e = (
            e.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .transform(materialize, sf_dir)  # flat lineage per peel round
        )
    return e.groupBy(F.col("src").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


# ---------------------------------------------------------------------------
# g_khop_reach — sampled multi-hop reach (influence footprint)
# ---------------------------------------------------------------------------

# Fixed-COUNT deterministic source sample (md5-ordered top-N with an id
# tie-break — identical in both engines, TakeOrderedAndProject in Spark):
# per-source hop cost is bounded, and a fixed COUNT of sources keeps the
# total frontier work constant in the number of sources at any graph
# size (a mod-FRACTION sample would grow the source set with the graph).
KHOP_SAMPLE_N = 48

_KHOP_SQL = (
    "WITH "
    + _EDGES_SQL
    + f""",
    srcs AS MATERIALIZED (
        SELECT id AS s FROM nodes
        ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {KHOP_SAMPLE_N}),
    r1 AS MATERIALIZED (
        SELECT DISTINCT srcs.s, e.dst AS u
        FROM srcs JOIN edges e ON e.src = srcs.s),
    r2 AS MATERIALIZED (
        SELECT DISTINCT s, u FROM (
            SELECT s, u FROM r1
            UNION ALL
            SELECT r1.s, e.dst AS u FROM r1 JOIN edges e ON e.src = r1.u)),
    r3 AS MATERIALIZED (
        SELECT DISTINCT s, u FROM (
            SELECT s, u FROM r2
            UNION ALL
            SELECT r2.s, e.dst AS u FROM r2 JOIN edges e ON e.src = r2.u))
    SELECT CAST(n1.s AS BIGINT) AS item,
           CAST(n1.c AS BIGINT) AS reach_1,
           CAST(n2.c AS BIGINT) AS reach_2,
           CAST(n3.c AS BIGINT) AS reach_3
    FROM (SELECT s, COUNT(*) AS c FROM r1 WHERE u <> s GROUP BY 1) n1
    JOIN (SELECT s, COUNT(*) AS c FROM r2 WHERE u <> s GROUP BY 1) n2
      ON n1.s = n2.s
    JOIN (SELECT s, COUNT(*) AS c FROM r3 WHERE u <> s GROUP BY 1) n3
      ON n1.s = n3.s
"""
)


@register("g_khop_reach", _KHOP_SQL)
def g_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled k-hop reach over the item co-occurrence graph: for a
    deterministic FIXED-COUNT source sample (md5-ordered top-KHOP_SAMPLE_N), the
    number of DISTINCT items reachable within 1, 2 and 3 hops
    (excluding the source) — the influence-footprint measure behind
    "how far does a trend/contamination spread from this item", and
    the node-local expansion profile that complements the global
    g_pagerank/g_kcore views.

    Scale shape per hop: one frontier ⋈ edges equi-join + one DISTINCT
    on (source, reached) id pairs — O(sample × reach) rows, never the
    full all-pairs closure (the fixed-COUNT sample is the scale
    control: reach is computed for a constant number of sources at any
    graph size, the production shape for influence dashboards). Spark checkpoints each hop (flat lineage);
    the oracle MATERIALIZEs each hop CTE — both sides pin one
    evaluation per hop (the g_kcore 3^rounds lesson). Parity: reach
    counts are exact distinct-integer counts."""
    cooc = _cooc_pairs(spark, sf_dir)
    edges = (
        cooc.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
        .unionAll(cooc.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
        .transform(materialize, sf_dir)
    )
    srcs = (
        edges.select(F.col("src").alias("s"))
        .distinct()
        .orderBy(F.md5(F.col("s").cast("string")), "s")
        .limit(KHOP_SAMPLE_N)
    )
    r = (
        srcs.join(edges, srcs["s"] == edges["src"])
        .select("s", F.col("dst").alias("u"))
        .distinct()
        .transform(materialize, sf_dir)
    )
    hops = [r]
    for _ in range(2):
        nxt = (
            hops[-1]
            .join(edges, hops[-1]["u"] == edges["src"])
            .select("s", F.col("dst").alias("u"))
            .unionAll(hops[-1])
            .distinct()
            .transform(materialize, sf_dir)  # flat lineage per hop
        )
        hops.append(nxt)
    counts = [
        h.filter(F.col("u") != F.col("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias(f"reach_{i + 1}"))
        for i, h in enumerate(hops)
    ]
    return (
        counts[0]
        .join(counts[1], "s")
        .join(counts[2], "s")
        .select(
            F.col("s").cast("long").alias("item"),
            F.col("reach_1").cast("long").alias("reach_1"),
            F.col("reach_2").cast("long").alias("reach_2"),
            F.col("reach_3").cast("long").alias("reach_3"),
        )
    )


# ---------------------------------------------------------------------------
# Personalized PageRank from a deterministic seed set
# ---------------------------------------------------------------------------

PPR_ITERS = 3
PPR_DAMPING = 0.85
PPR_SEEDS = 5  # lowest item ids in the node set


def _ppr_iter(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT coalesce(c.id, s.id) AS id,
               coalesce(c.m, 0)
               + CASE WHEN s.id IS NOT NULL
                      THEN (1.0 - {PPR_DAMPING}) / {PPR_SEEDS} ELSE 0 END AS r
        FROM (
            SELECT e.dst AS id, {PPR_DAMPING} * SUM({prev}.r / deg.d) AS m
            FROM edges e
            JOIN {prev} ON {prev}.id = e.src
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ) c
        FULL OUTER JOIN seeds s ON s.id = c.id
    )"""


_PPR_SQL = (
    "WITH "
    + _EDGES_SQL
    + f""",
    seeds AS (SELECT id FROM nodes ORDER BY id LIMIT {PPR_SEEDS}),
    p0 AS (SELECT id, 1.0 / {PPR_SEEDS} AS r FROM seeds),"""
    + ",".join(_ppr_iter(f"p{i}", f"p{i + 1}") for i in range(PPR_ITERS))
    + f"""
    SELECT CAST(id AS BIGINT) AS item, round(r, 6) AS ppr
    FROM p{PPR_ITERS}
"""
)


@register("g_personalized_pagerank", _PPR_SQL)
def g_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: {PPR_ITERS} power iterations with damping
    {PPR_DAMPING} where the teleport mass restarts to a fixed
    {PPR_SEEDS}-seed set (the {PPR_SEEDS} lowest item ids — a stand-in
    for "this user's recent items"), over the same undirected item
    co-occurrence graph as g_pagerank. This is the query-time half of
    graph-based recommendation (RecWalk / Pixie style): global PageRank
    ranks the catalog once, PPR ranks it RELATIVE to a seed context.

    Scale shape per iteration: the identical ONE equi-join + ONE hash
    aggregate as g_pagerank (degree rides the checkpointed edge frame),
    plus a full-outer join against the {PPR_SEEDS}-row broadcast seed
    frame to re-inject restart mass — the rank state only carries nodes
    actually reached, so early iterations touch the seed neighbourhood,
    not the whole graph (the property that makes PPR cheap at catalog
    scale). Reference: SURVEY §2 graph family; iteration count fixed so
    the oracle unrolls (the g_pagerank/m_kmeans pattern)."""
    cooc = _cooc_pairs(spark, sf_dir)
    edges = (
        cooc.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
        .unionAll(cooc.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    edges_d = edges.join(deg, "src").transform(materialize, sf_dir)
    seeds = (
        edges_d.select(F.col("src").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(PPR_SEEDS)
        .transform(materialize, sf_dir)
    )
    restart = (1.0 - PPR_DAMPING) / PPR_SEEDS
    r = seeds.withColumn("r", F.lit(1.0 / PPR_SEEDS))
    for _ in range(PPR_ITERS):
        contrib = (
            edges_d.join(r.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.lit(PPR_DAMPING) * F.sum(F.col("r") / F.col("d"))).alias("m"))
        )
        r = (
            contrib.join(F.broadcast(seeds.withColumn("__s", F.lit(1))), "id", "full_outer")
            .select(
                "id",
                (
                    F.coalesce(F.col("m"), F.lit(0.0))
                    + F.when(F.col("__s").isNotNull(), F.lit(restart)).otherwise(0.0)
                ).alias("r"),
            )
            .transform(materialize, sf_dir)  # flat lineage: one join+agg per iteration
        )
    return r.select(
        F.col("id").cast("long").alias("item"), F.round("r", 6).alias("ppr")
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Pearson r of endpoint degrees)
# ---------------------------------------------------------------------------

_ASSORT_SQL = (
    "WITH "
    + _EDGES_SQL
    + """,
    p AS (
        SELECT CAST(d1.d AS DOUBLE) AS x, CAST(d2.d AS DOUBLE) AS y
        FROM edges e
        JOIN deg d1 ON d1.src = e.src
        JOIN deg d2 ON d2.src = e.dst
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(y * y) AS DOUBLE) AS syy
        FROM p
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           round(sx / n, 6) AS mean_deg,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS assortativity
    FROM s
"""
)


@register("g_degree_assortativity", _ASSORT_SQL)
def g_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the item co-occurrence graph: the
    Pearson correlation of endpoint degrees over the symmetrised edge
    list (Newman 2002) — positive means hubs link to hubs (a head-heavy
    catalog where popular items co-sell together), negative means
    hub-and-spoke. A one-number topology probe that decides whether the
    co-occurrence joins need skew handling (hub-hub edge lists are the
    skewed-join case j_salted_skew exists for).

    Scale shape: two broadcast-able joins of the edge list against the
    degree table (degree is node-dimension-sized), then ONE scalar
    aggregate with map-side partials. Degree products are exact
    integers in double (< 2^53 at any realistic degree cap), so the
    Pearson combination is the identical IEEE expression on both
    engines — no pre-rounding needed."""
    cooc = _cooc_pairs(spark, sf_dir)
    edges = (
        cooc.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
        .unionAll(cooc.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
    )
    # Node-dimension-sized degree table, referenced by BOTH endpoint
    # joins — unmaterialised it re-ran the artifact scan + union +
    # exchange per reference (round-13 census).
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(materialize, sf_dir)
    )
    p = (
        edges.join(deg.withColumnRenamed("d", "dx"), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("dy")),
            "dst",
        )
        .select(
            F.col("dx").cast("double").alias("x"),
            F.col("dy").cast("double").alias("y"),
        )
    )
    s = p.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        n.cast("long").alias("n_edges"),
        F.round(sx / n, 6).alias("mean_deg"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient (per-node transitivity)
# ---------------------------------------------------------------------------

_LCC_SQL = (
    "WITH "
    + _EDGES_SQL
    + f""",
    und AS (SELECT ia AS a, ib AS b FROM cooc WHERE c >= {_CF_MIN_COOC}),
    degu AS (
        SELECT id, COUNT(*) AS d FROM (
            SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
        GROUP BY 1
    ),
    orient AS (
        SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND und.a < und.b)
                    THEN und.a ELSE und.b END AS u,
               CASE WHEN (da.d < db.d) OR (da.d = db.d AND und.a < und.b)
                    THEN und.b ELSE und.a END AS v
        FROM und
        JOIN degu da ON da.id = und.a
        JOIN degu db ON db.id = und.b
    ),
    wedge AS (
        SELECT e1.u AS u, e1.v AS x, e2.v AS y
        FROM orient e1 JOIN orient e2
          ON e1.u = e2.u AND e1.v < e2.v
    ),
    tri AS (
        SELECT u, x, y
        FROM wedge w JOIN und
          ON und.a = least(w.x, w.y) AND und.b = greatest(w.x, w.y)
    ),
    pern AS (
        SELECT id, count(*) AS t FROM (
            SELECT u AS id FROM tri
            UNION ALL SELECT x AS id FROM tri
            UNION ALL SELECT y AS id FROM tri)
        GROUP BY 1
    )
    SELECT CAST(degu.id AS BIGINT) AS item,
           CAST(degu.d AS BIGINT) AS degree,
           CAST(coalesce(pern.t, 0) AS BIGINT) AS triangles,
           CASE WHEN degu.d >= 2
                THEN round(2.0 * coalesce(pern.t, 0)
                           / (degu.d * (degu.d - 1)), 6)
           END AS local_cc
    FROM degu LEFT JOIN pern ON pern.id = degu.id
"""
)


@register("g_local_clustering", _LCC_SQL)
def g_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient: each node's triangle
    count over its possible wedge count 2t/(d(d−1)) — the node-level
    companion to g_triangles' single global transitivity number,
    separating clique-embedded items (tight genre clusters) from pure
    hubs (bestsellers bridging unrelated neighbourhoods), which is the
    signal community-aware recommenders and graph-sampling curation
    use per node.

    Scale shape: identical degree-ordered wedge orientation as
    g_triangles (each triangle enumerated ONCE at its lowest-degree
    apex — hubs generate zero apex wedges), then the closed triangle
    set explodes into 3 node ids and one hash count per node; the
    final LEFT join runs degree-table vs triangle-count-table, both
    node-dimension-sized. All outputs exact integers except the
    rounded coefficient."""
    cooc = _cooc_pairs(spark, sf_dir)
    # Reused by degree, orient and the closure join.
    und = cooc.select(
        F.col("ia").alias("a"), F.col("ib").alias("b")
    ).transform(materialize, sf_dir)
    # Checkpointed degree table (node-dimension-sized): referenced 3×
    # below (da, db, final join) — unmaterialised it re-ran the
    # artifact scan + union + exchange per reference (round-13 census).
    degu = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(materialize, sf_dir)
    )
    da = degu.withColumnRenamed("id", "a").withColumnRenamed("d", "da")
    db = degu.withColumnRenamed("id", "b").withColumnRenamed("d", "db")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    orient = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1 = orient.withColumnRenamed("v", "x")
    e2 = orient.withColumnRenamed("v", "y")
    wedge = e1.join(e2, "u").filter(F.col("x") < F.col("y"))
    tri = wedge.join(
        und,
        (F.col("a") == F.least("x", "y")) & (F.col("b") == F.greatest("x", "y")),
    ).select("u", "x", "y")
    pern = (
        tri.select(F.col("u").alias("id"))
        .unionAll(tri.select(F.col("x").alias("id")))
        .unionAll(tri.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    t = F.coalesce(F.col("t"), F.lit(0))
    return (
        degu.join(pern, "id", "left")
        .select(
            F.col("id").cast("long").alias("item"),
            F.col("d").cast("long").alias("degree"),
            t.cast("long").alias("triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(2.0 * t / (F.col("d") * (F.col("d") - 1)), 6),
            ).alias("local_cc"),
        )
    )


# ---------------------------------------------------------------------------
# Sampled truncated harmonic centrality (integer-sixths exact)
# ---------------------------------------------------------------------------

_HARM_SQL = (
    "WITH "
    + _EDGES_SQL
    + f""",
    srcs AS MATERIALIZED (
        SELECT id AS s FROM nodes
        ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {KHOP_SAMPLE_N}),
    r1 AS MATERIALIZED (
        SELECT DISTINCT srcs.s, e.dst AS u
        FROM srcs JOIN edges e ON e.src = srcs.s),
    r2 AS MATERIALIZED (
        SELECT DISTINCT s, u FROM (
            SELECT s, u FROM r1
            UNION ALL
            SELECT r1.s, e.dst AS u FROM r1 JOIN edges e ON e.src = r1.u)),
    r3 AS MATERIALIZED (
        SELECT DISTINCT s, u FROM (
            SELECT s, u FROM r2
            UNION ALL
            SELECT r2.s, e.dst AS u FROM r2 JOIN edges e ON e.src = r2.u)),
    counts AS (
        SELECT n1.s, n1.c AS c1, n2.c AS c2, n3.c AS c3
        FROM (SELECT s, COUNT(*) AS c FROM r1 WHERE u <> s GROUP BY 1) n1
        JOIN (SELECT s, COUNT(*) AS c FROM r2 WHERE u <> s GROUP BY 1) n2
          ON n1.s = n2.s
        JOIN (SELECT s, COUNT(*) AS c FROM r3 WHERE u <> s GROUP BY 1) n3
          ON n1.s = n3.s
    )
    SELECT CAST(s AS BIGINT) AS item,
           CAST(c3 AS BIGINT) AS reach_3,
           CAST(6 * c1 + 3 * (c2 - c1) + 2 * (c3 - c2) AS BIGINT)
               AS harmonic_sixths,
           round((6 * c1 + 3 * (c2 - c1) + 2 * (c3 - c2)) / 6.0, 4)
               AS harmonic
    FROM counts
"""
)


@register("g_harmonic_centrality", _HARM_SQL)
def g_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality, truncated at 3 hops: H(s) = Σ 1/d
    over nodes within distance 3 = n₁ + (n₂−n₁)/2 + (n₃−n₂)/3 from the
    same hop-reach counts g_khop_reach computes — the
    disconnected-graph-safe closeness variant (Boldi-Vigna), ranking
    items by how CLOSE their whole neighbourhood sits rather than how
    many neighbours they have (degree) or how much flow passes through
    (PageRank).

    Scale shape: identical frontier ⋈ edges + DISTINCT per hop as
    g_khop_reach (the deterministic fixed-count md5-top-N sample is
    the scale control; checkpoint/MATERIALIZED per hop both sides). The harmonic
    sum is carried as EXACT INTEGER SIXTHS (6n₁+3(n₂−n₁)+2(n₃−n₂)) —
    the t_surprisal integer-scaling convention applied to a rational
    series, so parity needs no float tolerance at all."""
    cooc = _cooc_pairs(spark, sf_dir)
    edges = (
        cooc.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
        .unionAll(cooc.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
        .transform(materialize, sf_dir)
    )
    srcs = (
        edges.select(F.col("src").alias("s"))
        .distinct()
        .orderBy(F.md5(F.col("s").cast("string")), "s")
        .limit(KHOP_SAMPLE_N)
    )
    r = (
        srcs.join(edges, srcs["s"] == edges["src"])
        .select("s", F.col("dst").alias("u"))
        .distinct()
        .transform(materialize, sf_dir)
    )
    hops = [r]
    for _ in range(2):
        nxt = (
            hops[-1]
            .join(edges, hops[-1]["u"] == edges["src"])
            .select("s", F.col("dst").alias("u"))
            .unionAll(hops[-1])
            .distinct()
            .transform(materialize, sf_dir)  # flat lineage per hop
        )
        hops.append(nxt)
    counts = [
        h.filter(F.col("u") != F.col("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias(f"c{i + 1}"))
        for i, h in enumerate(hops)
    ]
    joined = counts[0].join(counts[1], "s").join(counts[2], "s")
    sixths = (
        6 * F.col("c1")
        + 3 * (F.col("c2") - F.col("c1"))
        + 2 * (F.col("c3") - F.col("c2"))
    )
    return joined.select(
        F.col("s").cast("long").alias("item"),
        F.col("c3").cast("long").alias("reach_3"),
        sixths.cast("long").alias("harmonic_sixths"),
        F.round(sixths / 6.0, 4).alias("harmonic"),
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities on the bipartite interaction graph
# ---------------------------------------------------------------------------

_HITS_SQL = f"""
    WITH hist AS (
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
    h1 AS (SELECT uid, CAST(count(*) AS BIGINT) AS h FROM capped GROUP BY uid),
    a1 AS (SELECT c.iid, CAST(SUM(h1.h) AS BIGINT) AS a
           FROM capped c JOIN h1 USING (uid) GROUP BY c.iid),
    h2 AS (SELECT c.uid, CAST(SUM(a1.a) AS BIGINT) AS h
           FROM capped c JOIN a1 USING (iid) GROUP BY c.uid),
    a2 AS (SELECT c.iid, CAST(SUM(h2.h) AS BIGINT) AS a
           FROM capped c JOIN h2 USING (uid) GROUP BY c.iid),
    deg AS (SELECT iid, CAST(count(*) AS BIGINT) AS nr FROM capped GROUP BY iid)
    SELECT a2.iid AS item, deg.nr AS n_raters,
           a1.a AS auth_1, a2.a AS auth_2
    FROM a2 JOIN a1 ON a1.iid = a2.iid JOIN deg ON deg.iid = a2.iid
    ORDER BY a2.a DESC, a2.iid
    LIMIT 100
"""


@register("g_hits_scores", _HITS_SQL)
def g_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) run directly on the
    BIPARTITE user→item interaction graph — two mutual-reinforcement
    sweeps: hub(u) = Σ auth(i) over u's items, auth(i) = Σ hub(u) over
    i's raters. Complements g_pagerank (flow importance on the derived
    item-item graph): authority rewards items endorsed by BROAD hubs,
    the classic curation signal for seed-quality ranking. Top-100
    items by second-sweep authority.

    Parity/scale design: the two sweeps run UNNORMALISED from
    auth₀ = 1, so every score is an exact INTEGER (hub₁ = capped
    degree, auth₁ = Σ degrees, ...) — the t_surprisal integer
    convention applied to power iteration, no cross-engine float sums
    at all (a₂ ≤ U²·cap³ stays far inside int64 at any realistic
    scale; the usual L2 normalisation is a monotone per-sweep rescale,
    so rankings are identical). Each sweep is one equi-join + one hash
    aggregation on the capped bipartite list — per-user caps bound the
    fan-out exactly like the co-occurrence build; final ranking is
    TakeOrderedAndProject."""
    capped = _capped_history(spark, sf_dir).transform(materialize, sf_dir)
    h1 = capped.groupBy("uid").agg(F.count(F.lit(1)).alias("h"))
    a1 = (
        capped.join(h1, "uid")
        .groupBy("iid")
        .agg(F.sum("h").cast("long").alias("a1"))
    )
    h2 = (
        capped.join(a1, "iid")
        .groupBy("uid")
        .agg(F.sum("a1").cast("long").alias("h"))
    )
    a2 = (
        capped.join(h2, "uid")
        .groupBy("iid")
        .agg(F.sum("h").cast("long").alias("a2"))
    )
    deg = capped.groupBy("iid").agg(F.count(F.lit(1)).cast("long").alias("nr"))
    return (
        a2.join(a1, "iid")
        .join(deg, "iid")
        .select(
            F.col("iid").alias("item"),
            F.col("nr").alias("n_raters"),
            F.col("a1").alias("auth_1"),
            F.col("a2").alias("auth_2"),
        )
        .orderBy(F.col("auth_2").desc(), "item")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# g_random_walks — deterministic random-walk corpus (embedding training data)
# ---------------------------------------------------------------------------

# Fixed-COUNT walk set (the g_khop_reach sample pattern): total frontier
# work per step is WALK_N rows at any graph size. Walk length is fixed
# so the recursion unrolls into the DuckDB oracle.
WALK_N = 48
WALK_LEN = 4


def _walk_u01_sql(step: int) -> str:
    from recommender_systems_spark.queries._shared import u01_sql

    return u01_sql(
        f"CAST(walk_id AS VARCHAR) || '_' || '{step}' || '_' "
        f"|| CAST(node AS VARCHAR)",
        "walk",
    )


def _walk_step_sql(prev: str, step: int) -> str:
    return f"""
    w{step} AS (
        SELECT walk_id, {step} AS step, a.dst AS node
        FROM (SELECT p.walk_id, p.node,
                     CAST(ceil({_walk_u01_sql(step)} * d.d) AS BIGINT) AS pick
              FROM {prev} p JOIN deg d ON d.src = p.node) j
        JOIN adj a ON a.src = j.node AND a.rk = j.pick
    )"""


_WALK_SQL = (
    "WITH "
    + _EDGES_SQL
    + f""",
    adj AS (
        SELECT src, dst, row_number() OVER (PARTITION BY src
                                            ORDER BY dst) AS rk
        FROM edges),
    w0 AS (
        SELECT id AS walk_id, 0 AS step, id AS node FROM nodes
        ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {WALK_N}),"""
    + ",".join(_walk_step_sql(f"w{s - 1}", s) for s in range(1, WALK_LEN + 1))
    + f"""
    SELECT walk_id, step, node FROM (
        {" UNION ALL ".join(f"SELECT * FROM w{s}" for s in range(WALK_LEN + 1))}
    )
"""
)


@register("g_random_walks", _WALK_SQL)
def g_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk corpus generation over the item co-occurrence graph
    — the DeepWalk/node2vec data-production step (Perozzi et al. 2014):
    fixed-length walks whose node sequences become skip-gram training
    windows (m_skipgram_pairs is the consumer shape). Walks are
    DETERMINISTIC: the next hop from node u at step t of walk w is
    neighbor rank ceil(u01(w, t, u) · deg(u)) in u's dst-sorted
    adjacency — the md5-uniform convention, so both engines take
    byte-identical paths and the corpus value-hashes.

    Scale shape: a fixed COUNT of walks ({WALK_N} md5-ordered sources —
    the g_khop_reach sample rule), so the frontier is {WALK_N} rows at
    every step at ANY graph size; each step is two equi-joins (degree
    lookup, then (node, rank) adjacency lookup — rank picked BEFORE the
    adjacency join, so no join-then-filter fanout) against the
    once-built, checkpointed ranked adjacency. Walks never dead-end:
    the edge set is symmetric, so every reachable node has degree ≥ 1.
    In production the walk set is user-count-sized but still
    corpus-independent per step — the per-step cost stays
    walks × (2 shuffled id-pair joins); past
    ``walk_broadcast_threshold`` walks the explicit broadcast hints
    are dropped and the per-step joins become ordinary shuffled
    equi-joins on node id (the ml/bpr.py catalog-threshold pattern),
    so an unbounded frontier never gets forced driver-side."""
    return _random_walks(spark, sf_dir, walk_n=WALK_N)


# Frontier rows above this count are joined shuffle-side, not
# broadcast: each frontier row is ~3 longs, so 1M rows ≈ 24 MB —
# comfortably under Spark's driver/executor broadcast ceilings, while
# a user-count-sized production walk set would blow past them.
WALK_BROADCAST_THRESHOLD = 1_000_000


def _random_walks(
    spark: SparkSession,
    sf_dir: str,
    walk_n: int,
    walk_broadcast_threshold: int = WALK_BROADCAST_THRESHOLD,
) -> DataFrame:
    """Walk-corpus builder behind ``g_random_walks``.

    ``walk_n`` bounds the frontier; when it exceeds
    ``walk_broadcast_threshold`` the broadcast hints are dropped and
    every per-step lookup runs as a shuffled equi-join."""
    from pyspark.sql import Window

    from recommender_systems_spark.queries._shared import u01_col

    small = walk_n <= walk_broadcast_threshold

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    cooc = _cooc_pairs(spark, sf_dir)
    edges = cooc.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    ).unionAll(
        cooc.select(F.col("ib").alias("src"), F.col("ia").alias("dst"))
    )
    adj = (
        edges.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("src").orderBy("dst")),
        )
        .transform(materialize, sf_dir)  # reused every step (+ degree build)
    )
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    srcs = (
        adj.select(F.col("src").alias("id"))
        .distinct()
        .orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(walk_n)
    )
    cur = srcs.select(
        F.col("id").alias("walk_id"),
        F.lit(0).alias("step"),
        F.col("id").alias("node"),
    )
    out = cur
    for step in range(1, WALK_LEN + 1):
        u = u01_col(
            F.concat_ws(
                "_",
                F.col("walk_id"),
                F.lit(str(step)),
                F.col("node"),
            ),
            "walk",
        )
        picked = (
            _hint(cur)
            .join(deg, deg["src"] == F.col("node"))
            .select(
                "walk_id",
                "node",
                F.ceil(u * F.col("d")).cast("long").alias("pick"),
            )
        )
        cur = (
            _hint(picked)
            .join(
                adj,
                (adj["src"] == picked["node"]) & (adj["rk"] == picked["pick"]),
            )
            .select(
                "walk_id",
                F.lit(step).alias("step"),
                F.col("dst").alias("node"),
            )
        )
        out = out.unionAll(cur)
    return out


# ---------------------------------------------------------------------------
# g_modularity — community-quality score for the LP partition
# ---------------------------------------------------------------------------

_MOD_SQL = (
    "WITH "
    + _EDGES_SQL
    + ", l0 AS (SELECT id, id AS label FROM nodes),"
    + ",".join(_lp_iter(f"l{i}", f"l{i + 1}") for i in range(LP_ITERS))
    + f""",
    lab AS (SELECT id, label FROM l{LP_ITERS}),
    intra AS (
        SELECT count(*) AS x
        FROM edges e
        JOIN lab a ON a.id = e.src
        JOIN lab b ON b.id = e.dst
        WHERE a.label = b.label
    ),
    dc AS (SELECT l.label, sum(d) AS dsum
           FROM deg JOIN lab l ON l.id = deg.src GROUP BY l.label),
    st AS (SELECT count(*) AS n_comm, sum(dsum * dsum) AS s FROM dc),
    mm AS (SELECT count(*) // 2 AS m FROM edges)
    SELECT CAST(nn.c AS BIGINT) AS n_nodes,
           CAST(st.n_comm AS BIGINT) AS n_communities,
           CAST(mm.m AS BIGINT) AS n_edges,
           CAST(intra.x // 2 AS BIGINT) AS intra_edges,
           round((2 * mm.m * intra.x - st.s)
                 / (4.0 * mm.m * mm.m), 6) AS modularity
    FROM intra, st, mm, nn
"""
)


@register("g_modularity", _MOD_SQL)
def g_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition — the
    standard community-quality score (Q = sum_c[m_c/m - (d_c/2m)^2]),
    closing the detect -> evaluate loop over g_label_propagation the
    way e_rec_coverage scores m_top_n. Computed EXACTLY in integers:
    with x = directed intra-community edge count and S = sum of
    squared community degree sums, Q = (2mx - S) / (4m^2) — one
    double division at the end, so the score value-hashes across
    engines with no FP accumulation.

    Scale shape: the LP rounds are the g_label_propagation shape
    (state and shuffles carry id pairs only, checkpointed edges);
    the quality pass adds two label equi-joins onto the edge list
    (intra count), one degree aggregate, and a per-community degree
    sum — every reduction map-side combined, final stats are 1-row
    broadcasts."""
    edges, labels = _lp_state(spark, sf_dir)
    la = labels.select(
        F.col("id").alias("src"), F.col("label").alias("la")
    )
    lb = labels.select(
        F.col("id").alias("dst"), F.col("label").alias("lb")
    )
    intra = (
        edges.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    dc = (
        deg.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy("label")
        .agg(F.sum("d").alias("dsum"))
    )
    st = dc.agg(
        F.count(F.lit(1)).alias("n_comm"),
        F.sum(F.col("dsum") * F.col("dsum")).alias("s"),
    )
    mm = edges.agg((F.count(F.lit(1)) / 2).cast("long").alias("m"))
    nn = labels.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        nn.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(mm))
        .crossJoin(F.broadcast(intra))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_comm").cast("long").alias("n_communities"),
            F.col("m").cast("long").alias("n_edges"),
            (F.col("x") / 2).cast("long").alias("intra_edges"),
            F.round(
                (2 * F.col("m") * F.col("x") - F.col("s"))
                / (4.0 * F.col("m") * F.col("m")),
                6,
            ).alias("modularity"),
        )
    )


# ---------------------------------------------------------------------------
# g_neighbor_sampling — GraphSAGE-style bounded-fan-out minibatch prep
# ---------------------------------------------------------------------------

_GNN_SEEDS = 16  # seed nodes per minibatch (md5-ordered fixed count)
_GNN_F1 = 4      # layer-1 fan-out
_GNN_F2 = 3      # layer-2 fan-out

_GNN_SQL = (
    "WITH "
    + _EDGES_SQL
    + f""",
    sym AS (SELECT src, dst FROM edges),
    rk1 AS (
        SELECT src, dst, row_number() OVER (
                   PARTITION BY src
                   ORDER BY md5(CAST(src AS VARCHAR) || '_'
                                || CAST(dst AS VARCHAR) || '_gnn1'), dst
               ) AS r
        FROM sym
    ),
    rk2 AS (
        SELECT src, dst, row_number() OVER (
                   PARTITION BY src
                   ORDER BY md5(CAST(src AS VARCHAR) || '_'
                                || CAST(dst AS VARCHAR) || '_gnn2'), dst
               ) AS r
        FROM sym
    ),
    seeds AS (
        SELECT src AS seed FROM (SELECT DISTINCT src FROM sym)
        ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT {_GNN_SEEDS}
    ),
    h1 AS (
        SELECT s.seed, r.dst AS hop1, r.r AS r1
        FROM seeds s JOIN rk1 r ON r.src = s.seed AND r.r <= {_GNN_F1}
    )
    SELECT h1.seed, h1.hop1, CAST(h1.r1 AS INT) AS r1,
           r.dst AS hop2, CAST(r.r AS INT) AS r2
    FROM h1 JOIN rk2 r ON r.src = h1.hop1 AND r.r <= {_GNN_F2}
    ORDER BY seed, r1, r2
"""
)


@register("g_neighbor_sampling", _GNN_SQL)
def g_neighbor_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE neighborhood sampling (Hamilton et al. 2017) — the
    minibatch data-production step for GNN training: for each seed
    node, sample a bounded fan-out of neighbors per layer
    ({_GNN_F1} then {_GNN_F2}) and emit the 2-hop computation-graph
    rows the trainer aggregates bottom-up. Bounded fan-out is the
    whole point: it caps per-seed cost at F1·F2 regardless of hub
    degree, which is what makes GNN training on a billion-edge graph
    tractable at all.

    Sampling is DETERMINISTIC per (layer, node): neighbor rank =
    row_number over md5(src, dst, layer-salt) — the seeded-shuffle
    convention, so both engines draw identical neighborhoods and the
    corpus value-hashes. Seeds are the fixed-COUNT md5-ordered sample
    (house rule). Revisits across hops are allowed, as in the paper.

    Scale shape: the symmetric adjacency is ranked ONCE per layer
    salt with per-src windows (partition-parallel, never global);
    layer expansion is two id-keyed equi-joins with fan-out bounds
    applied BEFORE the join (rank filter on the build side) — join
    output is exactly seeds·F1·F2 rows. In production the ranked
    adjacency persists as a bucketed table and every epoch re-salts
    only the rank column."""
    from pyspark.sql import Window

    cooc = _cooc_pairs(spark, sf_dir)
    sym = cooc.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    ).unionAll(
        cooc.select(F.col("ib").alias("src"), F.col("ia").alias("dst"))
    ).transform(materialize, sf_dir)  # ranked twice (one window per layer salt)

    def ranked(salt: str) -> DataFrame:
        w = Window.partitionBy("src").orderBy(
            F.md5(F.concat_ws("_", F.col("src"), F.col("dst"), F.lit(salt))),
            "dst",
        )
        return sym.withColumn("r", F.row_number().over(w))

    seeds = (
        sym.select("src")
        .distinct()
        .orderBy(F.md5(F.col("src").cast("string")), "src")
        .limit(_GNN_SEEDS)
        .select(F.col("src").alias("seed"))
    )
    h1 = (
        ranked("gnn1")
        .filter(F.col("r") <= _GNN_F1)
        .join(F.broadcast(seeds), F.col("src") == F.col("seed"))
        .select("seed", F.col("dst").alias("hop1"), F.col("r").alias("r1"))
    )
    h2 = (
        ranked("gnn2")
        .filter(F.col("r") <= _GNN_F2)
        # h1 is seeds·F1 rows (64) — static stats can't see that
        # through the limit+join lineage, so hint it.
        .join(F.broadcast(h1), F.col("src") == F.col("hop1"))
        .select(
            "seed",
            "hop1",
            F.col("r1").cast("int").alias("r1"),
            F.col("dst").alias("hop2"),
            F.col("r").cast("int").alias("r2"),
        )
    )
    return h2.orderBy("seed", "r1", "r2")
