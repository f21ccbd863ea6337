"""Evaluation & statistics queries (SURVEY §2.8 A/B harness, E-family)
plus remaining aggregation/window coverage (A11 collect, rollup,
event-time windows, the implicit-feedback curation pipeline).

Statistic VALUES are computed distributed and oracle-checked; p-values
(which need distribution CDFs) are driver-side scipy in
``ml.abtest`` — exactly the split the reference's scale implies
(ab_test.py computes them on ≤10k rows in-process).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recommender_systems_spark.functions.vector import cosine_similarity
from recommender_systems_spark.io import materialize, table_rows
from recommender_systems_spark.operators.densify import dense_id_map
from recommender_systems_spark.operators.relational import (
    anti_join_below_threshold,
    two_phase_midrank,
)
from recommender_systems_spark.registry import _t, register


def _events_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with the A/B arm derived from user_id parity (the driver's
    suggested split, FIXTURES.md) — mirrors the reference's group column
    (ab_test.py:92-97)."""
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn(
        "grp", F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B"))
    )


# Shared with sibling modules' oracles via _shared (circular-import-safe).
from recommender_systems_spark.queries._shared import GRP_SQL as _GRP_SQL  # noqa: E402


@register(
    "e_t_test_stats",
    f"""
    WITH g AS ({_GRP_SQL}),
    agg AS (
        SELECT grp, avg(value) AS m, var_samp(value) AS v,
               CAST(count(*) AS BIGINT) AS n
        FROM g GROUP BY grp
    ),
    w AS (
        SELECT
            max(CASE WHEN grp = 'A' THEN m END) AS ma,
            max(CASE WHEN grp = 'B' THEN m END) AS mb,
            max(CASE WHEN grp = 'A' THEN v END) AS va,
            max(CASE WHEN grp = 'B' THEN v END) AS vb,
            max(CASE WHEN grp = 'A' THEN n END) AS na,
            max(CASE WHEN grp = 'B' THEN n END) AS nb
        FROM agg
    )
    SELECT na, nb, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
           round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_welch,
           round(pow(va / na + vb / nb, 2)
                 / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)),
                 4) AS df_welch
    FROM w
    """,
)
def e_t_test_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: Welch two-sample t statistic + degrees of freedom from group
    aggregates only (reference: scipy.stats.ttest_ind, ab_test.py:304-347).
    One distributed aggregation pass; no data leaves the cluster."""
    return t_test_stats_from(_events_grouped(spark, sf_dir))


def t_test_stats_from(g: DataFrame) -> DataFrame:
    """E5 over a pre-grouped (grp, value) frame — shared with
    e_ab_report so the harness scans events once."""
    agg = g.groupBy("grp").agg(
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    w = agg.agg(
        F.max(F.when(F.col("grp") == "A", F.col("m"))).alias("ma"),
        F.max(F.when(F.col("grp") == "B", F.col("m"))).alias("mb"),
        F.max(F.when(F.col("grp") == "A", F.col("v"))).alias("va"),
        F.max(F.when(F.col("grp") == "B", F.col("v"))).alias("vb"),
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("nb"),
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    return w.select(
        "na",
        "nb",
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6).alias("t_welch"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("va") / F.col("na"), 2) / (F.col("na") - 1)
                + F.pow(F.col("vb") / F.col("nb"), 2) / (F.col("nb") - 1)
            ),
            4,
        ).alias("df_welch"),
    )


@register(
    "e_rank_sum",
    f"""
    WITH g AS ({_GRP_SQL}),
    r AS (
        SELECT grp,
               CAST(rank() OVER (ORDER BY value) AS DOUBLE)
                 + (CAST(count(*) OVER (PARTITION BY value) AS DOUBLE) - 1) / 2
                 AS midrank
        FROM g
    ),
    s AS (
        SELECT
            sum(CASE WHEN grp = 'A' THEN midrank END) AS wa,
            CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM r
    )
    SELECT na, nb, wa AS rank_sum_a,
           round((wa - na * (na + nb + 1) / 2.0)
                 / sqrt(na * nb * (na + nb + 1) / 12.0), 6) AS z
    FROM s
    """,
)
def e_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 wrapper over the sf tables; see rank_sum_from."""
    return rank_sum_from(
        _events_grouped(spark, sf_dir),
        approx_rows=table_rows(sf_dir, "events"),
    )


def rank_sum_from(g: DataFrame, approx_rows: int | None = None) -> DataFrame:
    """E6: Wilcoxon rank-sum z statistic, fully distributed (reference:
    scipy.stats.ranksums, ab_test.py:348-391; like scipy's ranksums this
    uses the normal approximation without tie correction, but midranks
    for tied values).

    Scale shape: aggregate per distinct value first (hash agg, fully
    parallel), then midrank the distinct-value table with the TWO-PHASE
    range-partition scan (operators.relational.two_phase_midrank) —
    midrank(v) = #rows<v + (count(v)+1)/2. No single-partition window
    anywhere: continuous value domains (billions of distinct values)
    flow through ordinary range partitions."""
    per_value = g.groupBy("value").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("na_v"),
    )
    ranked = two_phase_midrank(
        per_value, "value", "cnt", approx_rows=approx_rows
    )
    s = ranked.agg(
        F.sum(F.col("na_v") * F.col("midrank")).alias("wa"),
        F.sum("na_v").alias("na"),
        F.sum(F.col("cnt") - F.col("na_v")).alias("nb"),
    )
    n_tot = F.col("na") + F.col("nb")
    return s.select(
        "na",
        "nb",
        F.col("wa").alias("rank_sum_a"),
        F.round(
            (F.col("wa") - F.col("na") * (n_tot + 1) / 2.0)
            / F.sqrt(F.col("na") * F.col("nb") * (n_tot + 1) / 12.0),
            6,
        ).alias("z"),
    )


@register(
    "e_levene_bf",
    f"""
    WITH g AS ({_GRP_SQL}),
    med AS (SELECT grp, median(value) AS med FROM g GROUP BY grp),
    z AS (
        SELECT g.grp, abs(g.value - med.med) AS zij
        FROM g JOIN med ON g.grp = med.grp
    ),
    per AS (
        SELECT grp, avg(zij) AS zbar_i,
               CAST(count(*) AS BIGINT) AS n_i,
               sum(zij) AS zsum_i
        FROM z GROUP BY grp
    ),
    ss AS (
        SELECT z.grp, sum(pow(z.zij - per.zbar_i, 2)) AS within_i
        FROM z JOIN per ON z.grp = per.grp GROUP BY z.grp
    ),
    tot AS (
        SELECT (SELECT sum(zsum_i) FROM per) / (SELECT sum(n_i) FROM per)
               AS zbar,
               (SELECT CAST(sum(n_i) AS BIGINT) FROM per) AS n,
               (SELECT CAST(count(*) AS BIGINT) FROM per) AS k
    )
    SELECT tot.n, tot.k,
           round(((tot.n - tot.k) * (SELECT sum(per.n_i * pow(per.zbar_i - tot.zbar, 2)) FROM per))
                 / ((tot.k - 1) * (SELECT sum(within_i) FROM ss)), 6) AS w_stat
    FROM tot
    """,
)
def e_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 wrapper over the sf tables; see levene_bf_from."""
    return levene_bf_from(_events_grouped(spark, sf_dir))


def levene_bf_from(g: DataFrame) -> DataFrame:
    """E3: Levene variance-equality test, Brown-Forsythe form (median
    centering — scipy.stats.levene(center='median'); reference
    ab_test.py:271-285). Two aggregation passes over the groups; the
    W statistic is exact, the p-value (F distribution) is driver-side."""
    med = g.groupBy("grp").agg(F.median("value").alias("med"))
    z = g.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("value") - F.col("med")).alias("zij")
    )
    per = z.groupBy("grp").agg(
        F.avg("zij").alias("zbar_i"),
        F.count(F.lit(1)).alias("n_i"),
        F.sum("zij").alias("zsum_i"),
    )
    ss = (
        z.join(F.broadcast(per.select("grp", "zbar_i")), "grp")
        .groupBy("grp")
        .agg(F.sum(F.pow(F.col("zij") - F.col("zbar_i"), 2)).alias("within_i"))
    )
    tot = per.agg(
        (F.sum("zsum_i") / F.sum("n_i")).alias("zbar"),
        F.sum("n_i").alias("n"),
        F.count(F.lit(1)).alias("k"),
    )
    between = (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.col("n_i") * F.pow(F.col("zbar_i") - F.col("zbar"), 2)).alias(
                "between"
            ),
            F.first("n").alias("n"),
            F.first("k").alias("k"),
        )
    )
    within = ss.agg(F.sum("within_i").alias("within"))
    return between.crossJoin(F.broadcast(within)).select(
        "n",
        "k",
        F.round(
            ((F.col("n") - F.col("k")) * F.col("between"))
            / ((F.col("k") - 1) * F.col("within")),
            6,
        ).alias("w_stat"),
    )


@register(
    "e_precision_recall_at_k",
    """
    WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
        FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
        SELECT q.qid, q.qlabel, e.vec_id, e.label,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cs
        FROM embeddings e JOIN q ON e.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid, qlabel, label,
               row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id)
                   AS rnk
        FROM scored
    ),
    rel AS (
        SELECT q.qid, CAST(count(*) AS BIGINT) AS n_relevant
        FROM q JOIN embeddings e
          ON e.label = q.qlabel AND e.vec_id <> q.qid
        GROUP BY q.qid
    )
    SELECT r.qid AS vec_id,
           ks.k AS k,
           CAST(sum(CASE WHEN r.label = r.qlabel THEN 1 ELSE 0 END) AS BIGINT)
               AS hits,
           round(sum(CASE WHEN r.label = r.qlabel THEN 1 ELSE 0 END)
                 / CAST(ks.k AS DOUBLE), 4) AS p_at_k,
           round(sum(CASE WHEN r.label = r.qlabel THEN 1 ELSE 0 END)
                 / CAST(max(rel.n_relevant) AS DOUBLE), 4) AS r_at_k
    FROM ranked r
    JOIN rel ON r.qid = rel.qid
    CROSS JOIN (VALUES (5), (10), (20)) AS ks(k)
    WHERE r.rnk <= ks.k
    GROUP BY r.qid, ks.k
    """,
)
def e_precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: precision@k / recall@k per query (reference:
    implicit_feedback/functions.py:212-246 — score all items, top-k,
    hits = |top-k ∩ relevant|), swept over k ∈ {5,10,20} in ONE pass —
    the reference evaluates k ∈ {40,50,60} from one scoring run
    (prac_2.py:124-138); here each k is a rank-prefix slice of a single
    top-max(k) ranking, so the sweep costs one window, not three. Here:
    embeddings are both queries (vec_id < 20) and catalog;
    'relevant' = same label.

    Shape at scale: the scored set is a broadcast (queries) × catalog
    join → per-query top-k window on the query id — the canonical
    recommendForUserSubset plan. Right for tens of query vectors; for
    many-query / all-pairs workloads the engine's scale path is the
    LSH-bucketed ``queries.similarity.sim_ann_topk`` (same output
    shape, candidates from the hyperplane bucket equi-join)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("ev")
        )
        .join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(cosine_similarity(F.col("ev"), F.col("qv")), 5).alias("cs"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cs").desc(), F.col("vec_id"))
    ranked = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 20
    )
    rel = (
        q.join(
            emb.select("vec_id", "label"),
            (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("qid")),
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_relevant"))
    )
    hits = F.sum(F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0))
    ks = spark.createDataFrame([(5,), (10,), (20,)], "k int")
    return (
        ranked.join(F.broadcast(ks), F.col("rnk") <= F.col("k"))
        .join(F.broadcast(rel), "qid")
        .groupBy("qid", "k")
        .agg(
            hits.alias("hits"),
            F.round(hits / F.col("k").cast("double"), 4).alias("p_at_k"),
            F.round(hits / F.max("n_relevant").cast("double"), 4).alias("r_at_k"),
        )
        .withColumnRenamed("qid", "vec_id")
    )


@register(
    "a_collect_list",
    """
    SELECT event_type,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE user_id < 25
    GROUP BY event_type
    """,
)
def a_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: grouped list collection (reference: invert movie→genres to
    genre→[movies], functions.py:477-488 → explode + collect_list).
    Output canonicalised (sorted, joined) for engine-portable hashing."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 25)
    return ev.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("user_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("users"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "a_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets extension (free via Spark SQL — the reference has
    no rollup/cube, SURVEY §2.4 note; exposed as engine capability)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


@register(
    "a_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def a_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets extension, cube form (with a_rollup: the full
    grouping-sets surface the reference lacks, free via Spark SQL —
    SURVEY §2.4 note). One expand + one hash aggregation."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "s_time_rollup",
    """
    SELECT event_type,
           date_trunc('day', ts) AS day,
           date_trunc('hour', ts) AS hour,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY event_type, ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    """,
)
def s_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup (the TimescaleDB continuous-
    aggregate shape): every event_type keeps hour-grain, day-grain, and
    all-time rows from ONE pass — GROUP BY event_type, ROLLUP(day,
    hour). Spark plans this as a single Expand (3 grouping sets) + one
    hash aggregation: at 100 TB one scan feeds every granularity of
    the time hierarchy instead of three separate rollup jobs, and the
    shuffle carries only (type, day, hour) keys."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    ev.createOrReplaceTempView("__events_time_rollup")
    return spark.sql(
        """
        SELECT event_type, day, hour,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS sum_value
        FROM __events_time_rollup
        GROUP BY event_type, ROLLUP (day, hour)
        """
    )


@register(
    "w_lag_lead",
    """
    SELECT user_id, event_id,
           CAST(date_diff('microsecond',
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                ts) AS BIGINT) AS us_since_prev,
           round(value - lag(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id), 4) AS value_delta,
           CAST(ntile(4) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS quartile
    FROM events WHERE user_id < 40
    """,
)
def w_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window extension (lag/delta/ntile — none exist in the
    reference, SURVEY §2.5 note; standard event-stream feature
    engineering). One shuffle on user_id; total ordering via
    (ts, event_id) so both engines assign identical neighbours."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(prev_ts.cast("timestamp"))
        ).alias("us_since_prev"),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "s_window_agg",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def s_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation — the batch twin of the
    Structured Streaming operator in ``streaming.events`` (same F.window
    call, same results; the streaming variant adds a watermark)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@register(
    "w_curation_densify",
    """
    WITH filtered AS (
        SELECT * FROM events WHERE value >= 4.0
    ),
    kept AS (
        SELECT * FROM filtered
        WHERE user_id NOT IN (
            SELECT user_id FROM filtered GROUP BY user_id HAVING count(*) < 10
        )
    ),
    ids AS (
        SELECT user_id,
               CAST(ROW_NUMBER() OVER (ORDER BY user_id) - 1 AS BIGINT)
                   AS user_id_order
        FROM (SELECT DISTINCT user_id FROM kept)
    )
    SELECT k.user_id, i.user_id_order,
           CAST(count(*) AS BIGINT) AS n_events
    FROM kept k JOIN ids i ON k.user_id = i.user_id
    GROUP BY k.user_id, i.user_id_order
    """,
)
def w_curation_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full implicit-feedback curation pipeline shape
    (implicit_feedback/functions.py:278-317): threshold filter (rating≥4
    → value≥4) → drop sparse users (<10 events) → densify ids. All three
    operators fused in one plan: filter pushes to the scan, the
    anti-join side is an aggregate, densify is the two-phase rank."""
    ev = _t(spark, sf_dir, "events")
    filtered = ev.filter(F.col("value") >= 4.0).select("user_id")
    kept = anti_join_below_threshold(filtered, "user_id", 10)
    mapping = dense_id_map(
        kept, "user_id", "user_id_order",
        approx_rows=table_rows(sf_dir, "events"),
    )
    return (
        kept.join(mapping, "user_id")
        .groupBy("user_id", "user_id_order")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "m_vector_norms",
    """
    SELECT vec_id,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 5)
               AS l2_norm
    FROM embeddings
    """,
)
def m_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14: row-wise L2 norms over the factor/embedding matrix
    (reference: np.linalg.norm(V, axis=1), prac_1_results.py:104)."""
    from recommender_systems_spark.functions.vector import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(l2_norm(F.col("embedding").cast("array<double>")), 5).alias("l2_norm"),
    )


@register(
    "f_set_ops",
    """
    SELECT p_partkey,
           COALESCE(array_to_string(list_sort(list_intersect(string_split(p_type, ' '),
               ['ECONOMY', 'BRUSHED', 'STEEL', 'PLATED'])), '|'), '') AS common,
           CAST(len(list_intersect(string_split(p_type, ' '),
               ['ECONOMY', 'BRUSHED', 'STEEL', 'PLATED'])) AS INT) AS n_common,
           CAST(len(list_filter(string_split(p_type, ' '),
               w -> NOT list_contains(['ECONOMY', 'BRUSHED', 'STEEL', 'PLATED'], w)))
               AS INT) AS n_only_self
    FROM part
    """,
)
def f_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5: array set intersection / difference / overlap (reference:
    genre-disjointness test implicit_feedback/functions.py:129, negative
    candidate set :76-79). array_except not used for n_only_self because
    it dedups; filter preserves multiplicity like the reference's list
    comprehension."""
    vocab = F.array(*[F.lit(w) for w in ["ECONOMY", "BRUSHED", "STEEL", "PLATED"]])
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_type"), " ")
    inter = F.array_intersect(words, vocab)
    return part.select(
        "p_partkey",
        F.array_join(F.array_sort(inter), "|").alias("common"),
        F.size(inter).alias("n_common"),
        F.size(F.filter(words, lambda w: ~F.array_contains(vocab, w))).alias(
            "n_only_self"
        ),
    )


# ---------------------------------------------------------------------------
# E1 companion: NDCG@k ranking quality
# ---------------------------------------------------------------------------

# Integer-scaled discount table (millionths of 1/log2(i+1)) so BOTH
# engines sum exact integers — DCG becomes Σ int, IDCG a prefix-sum
# lookup, and the only float op is one final division. This sidesteps
# cross-engine log2/summation-order ulp drift entirely.
_NDCG_K = 10
_NDCG_DISC = [round(1_000_000 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1)]
_NDCG_IDCG = [sum(_NDCG_DISC[: i + 1]) for i in range(_NDCG_K)]

# q → scored → ranked: the shared query-vs-catalog ranking chain behind
# e_ndcg_at_k, e_mrr_map, and v_ild_diversity.
_RANKED_CTES = """
    q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
        FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
        SELECT q.qid, q.qlabel, e.vec_id, e.label,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cs
        FROM embeddings e JOIN q ON e.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid, qlabel, label, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id)
                   AS rnk
        FROM scored
    )
"""

_NDCG_SQL = f"""
    WITH {_RANKED_CTES},
    rel AS (
        SELECT q.qid, count(*) AS n_relevant
        FROM q JOIN embeddings e
          ON e.label = q.qlabel AND e.vec_id <> q.qid
        GROUP BY q.qid
    ),
    dcg AS (
        SELECT qid,
               sum(CASE WHEN label = qlabel
                        THEN {list(_NDCG_DISC)}[rnk] ELSE 0 END) AS dcg_s
        FROM ranked WHERE rnk <= {_NDCG_K}
        GROUP BY qid
    )
    SELECT dcg.qid AS vec_id,
           CAST(dcg.dcg_s AS BIGINT) AS dcg_millionths,
           round(dcg.dcg_s /
                 CAST({list(_NDCG_IDCG)}[least(rel.n_relevant, {_NDCG_K})]
                      AS DOUBLE), 5) AS ndcg_at_10
    FROM dcg JOIN rel ON dcg.qid = rel.qid
"""


@register("e_ndcg_at_k", _NDCG_SQL)
def e_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 companion: NDCG@10 per query over the same scoring setup as
    ``e_precision_recall_at_k`` (embeddings as queries+catalog,
    relevance = same label) — position-aware ranking quality, the
    metric that actually discriminates between two systems with equal
    P@k. DCG sums the integer discount of each relevant hit's rank;
    IDCG is the prefix-sum at min(n_relevant, k); both engines do pure
    integer sums + one division (see the table note above).

    Plan shape: identical to P@k — broadcast queries × catalog, one
    per-query top-k window, broadcast n_relevant join."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("ev")
        )
        .join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(cosine_similarity(F.col("ev"), F.col("qv")), 5).alias("cs"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cs").desc(), F.col("vec_id"))
    ranked = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _NDCG_K
    )
    rel = (
        q.join(
            emb.select("vec_id", "label"),
            (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("qid")),
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_relevant"))
    )
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC]), F.col("rnk")
    )
    dcg = ranked.groupBy("qid").agg(
        F.sum(
            F.when(F.col("label") == F.col("qlabel"), disc).otherwise(F.lit(0))
        ).alias("dcg_s")
    )
    idcg = F.element_at(
        F.array(*[F.lit(c) for c in _NDCG_IDCG]),
        F.least(F.col("n_relevant"), F.lit(_NDCG_K)).cast("int"),
    )
    return (
        dcg.join(F.broadcast(rel), "qid")
        .select(
            F.col("qid").alias("vec_id"),
            F.col("dcg_s").cast("long").alias("dcg_millionths"),
            F.round(F.col("dcg_s") / idcg.cast("double"), 5).alias("ndcg_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# E1 companion: MRR + MAP@k — the other two canonical ranking metrics
# ---------------------------------------------------------------------------

# Integer-scaled reciprocal ranks (millionths of 1/r) — like the NDCG
# discount table, both engines sum/look up exact integers and the only
# float ops are the final divisions of exact integers.
_MRR_K = 10
_MRR_RR = [round(1_000_000 / r) for r in range(1, _MRR_K + 1)]

_MRR_SQL = f"""
    WITH {_RANKED_CTES},
    cums AS (
        SELECT qid, rnk,
               CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
               sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                   OVER (PARTITION BY qid ORDER BY rnk) AS cum
        FROM ranked WHERE rnk <= {_MRR_K}
    ),
    per_q AS (
        SELECT qid,
               min(CASE WHEN rel = 1 THEN rnk END) AS fr,
               sum(CASE WHEN rel = 1
                        THEN CAST(round(1000000.0 * cum / rnk) AS BIGINT)
                        ELSE 0 END) AS ap_s
        FROM cums GROUP BY qid
    ),
    rel AS (
        SELECT q.qid, count(e.vec_id) AS n_relevant
        FROM q LEFT JOIN embeddings e
          ON e.label = q.qlabel AND e.vec_id <> q.qid
        GROUP BY q.qid
    )
    SELECT per_q.qid AS vec_id,
           CAST(coalesce(fr, 0) AS INT) AS first_rel_rank,
           CAST(CASE WHEN fr IS NOT NULL THEN {list(_MRR_RR)}[fr]
                     ELSE 0 END AS BIGINT) AS rr_millionths,
           CAST(coalesce(ap_s, 0) AS BIGINT) AS ap_millionths,
           round(coalesce(ap_s, 0)
                 / (greatest(least(rel.n_relevant, {_MRR_K}), 1)
                    * 1000000.0), 6) AS ap_at_10
    FROM per_q JOIN rel ON per_q.qid = rel.qid
"""


@register("e_mrr_map", _MRR_SQL)
def e_mrr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 companion: per-query MRR (reciprocal rank of the first
    relevant hit, 0 if none lands in the top-{_MRR_K}) and MAP@{_MRR_K}
    over the same scoring setup as ``e_precision_recall_at_k`` /
    ``e_ndcg_at_k`` — MRR is the "how fast does the first good result
    appear" metric, AP the order-sensitive area under the
    precision-recall curve; together with NDCG they complete the
    standard ranking-eval triple.

    Parity: reciprocal ranks ride the integer-millionths table;
    each AP term is round(10⁶·cum/rnk) where cum/rnk is an exact
    int/int IEEE divide, so the per-query AP sum is exact integer
    arithmetic in both engines; the final ap_at_10 is one division of
    exact integers. Plan shape: identical to NDCG — broadcast queries
    × catalog scan, one per-query window, dimension-sized rel join."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("ev")
        )
        .join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(cosine_similarity(F.col("ev"), F.col("qv")), 5).alias("cs"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cs").desc(), F.col("vec_id"))
    wc = Window.partitionBy("qid").orderBy("rnk")
    cums = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _MRR_K)
        .withColumn(
            "rel", F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
        )
        .withColumn("cum", F.sum("rel").over(wc))
    )
    per_q = cums.groupBy("qid").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("fr"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.round(1000000.0 * F.col("cum") / F.col("rnk")).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("ap_s"),
    )
    rel = (
        q.join(
            emb.select("vec_id", "label"),
            (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("qid")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count(F.col("vec_id")).alias("n_relevant"))
    )
    rr = F.element_at(F.array(*[F.lit(r) for r in _MRR_RR]), F.col("fr"))
    return per_q.join(F.broadcast(rel), "qid").select(
        F.col("qid").alias("vec_id"),
        F.coalesce(F.col("fr"), F.lit(0)).cast("int").alias("first_rel_rank"),
        F.when(F.col("fr").isNotNull(), rr)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rr_millionths"),
        F.coalesce(F.col("ap_s"), F.lit(0)).cast("long").alias("ap_millionths"),
        F.round(
            F.coalesce(F.col("ap_s"), F.lit(0))
            / (
                F.greatest(
                    F.least(F.col("n_relevant"), F.lit(_MRR_K)), F.lit(1)
                )
                * 1000000.0
            ),
            6,
        ).alias("ap_at_10"),
    )


# ---------------------------------------------------------------------------
# Equal-width histogram (binned distribution profile)
# ---------------------------------------------------------------------------

_HIST_BINS = 10

_HIST_SQL = f"""
    WITH b AS (
        SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    binned AS (
        SELECT least(CAST(floor((value - lo) * {_HIST_BINS} / (hi - lo))
                          AS BIGINT), {_HIST_BINS - 1}) AS bucket,
               lo, hi
        FROM events, b
    )
    SELECT bucket,
           round(min(lo + bucket * (hi - lo) / {_HIST_BINS}), 4) AS bin_lo,
           round(min(lo + (bucket + 1) * (hi - lo) / {_HIST_BINS}), 4) AS bin_hi,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM events), 5) AS frac
    FROM binned GROUP BY bucket
"""


@register("a_histogram", _HIST_SQL)
def a_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of a measure column — the binned
    distribution profile behind every data-quality dashboard and the
    driver of S7-style plots (the reference's power-law histograms,
    prac_1_plotting.py, computed engine-side with rendering left to
    the driver per SURVEY §2.1/S7).

    Two scans: a (min, max) scalar agg broadcast back into a
    bucket-index expression (floor over identical IEEE arithmetic in
    both engines — the edge value lands via least() in the top bin),
    then ONE hash aggregate on the bucket id with map-side partials;
    at 100 TB the exchange carries ≤ {_HIST_BINS} rows per partition.
    Bin edges are re-derived from the bucket id inside the aggregate
    so no per-row floats ride the shuffle."""
    ev = _t(spark, sf_dir, "events")
    # The row total rides the same scalar pass as (lo, hi) — a separate
    # total aggregate was a third full events scan (round-13, §2.4).
    # It is carried through the bucket aggregate as min(constant).
    b = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count(F.lit(1)).alias("total"),
    )
    lo, hi = F.col("lo"), F.col("hi")
    bucket = F.least(
        F.floor((F.col("value") - lo) * _HIST_BINS / (hi - lo)).cast("long"),
        F.lit(_HIST_BINS - 1),
    )
    return (
        ev.crossJoin(F.broadcast(b))
        .select(bucket.alias("bucket"), "lo", "hi", "total")
        .groupBy("bucket")
        .agg(
            F.round(
                F.min(lo + F.col("bucket") * (hi - lo) / _HIST_BINS), 4
            ).alias("bin_lo"),
            F.round(
                F.min(lo + (F.col("bucket") + 1) * (hi - lo) / _HIST_BINS), 4
            ).alias("bin_hi"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.min("total"), 5
            ).alias("frac"),
        )
        .select("bucket", "bin_lo", "bin_hi", "n", "frac")
    )


# ---------------------------------------------------------------------------
# Pivot / crosstab (wide conditional aggregation)
# ---------------------------------------------------------------------------

_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_SQL = f"""
    SELECT (isodow(ts) - 1) AS weekday,
           {", ".join(f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT)"
                      f" AS {t}" for t in _PIVOT_TYPES)},
           CAST(count(*) AS BIGINT) AS total
    FROM events
    GROUP BY 1
"""


@register("a_pivot", _PIVOT_SQL)
def a_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot / crosstab: event counts as a weekday × event-type wide
    table — the reshape every BI layer asks of an engine. Spark's
    ``pivot`` with an EXPLICIT value list compiles to conditional
    aggregation in one pass (no second job to discover the pivot
    values, which is what implicit pivot costs — at 100 TB the
    discovery pass is a full extra scan); the oracle states the same
    thing as count(*) FILTER columns. Weekday uses Spark ``weekday``
    (Mon=0) == DuckDB ``isodow − 1``; the Sunday-based dayofweek
    builtins DISAGREE across engines and never touch the plan."""
    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.select(F.weekday("ts").alias("weekday"), "event_type")
        .groupBy("weekday")
        .pivot("event_type", _PIVOT_TYPES)
        .count()
    )
    total = sum((F.coalesce(F.col(t), F.lit(0)) for t in _PIVOT_TYPES), F.lit(0))
    return wide.select(
        "weekday",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _PIVOT_TYPES],
        total.cast("long").alias("total"),
    )


# ---------------------------------------------------------------------------
# Exponentially time-decayed aggregate (recency-weighted features)
# ---------------------------------------------------------------------------

_DECAY_HALFLIFE_H = 24.0

_DECAY_SQL = f"""
    WITH ref AS (SELECT max(ts) AS ref_ts FROM events),
    w AS (
        SELECT user_id,
               value * pow(0.5, (epoch_us(ref_ts) - epoch_us(ts))
                                / 3600000000.0 / {_DECAY_HALFLIFE_H}) AS dv,
               value
        FROM events, ref
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS raw_value,
           round(sum(dv), 4) AS decayed_value
    FROM w GROUP BY user_id
"""


@register("a_decay_agg", _DECAY_SQL)
def a_decay_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed aggregation: each user's engagement
    value with a {_DECAY_HALFLIFE_H:.0f}-hour half-life relative to the
    corpus's newest event — the recency-weighted feature every
    ranking/serving feature store materialises (yesterday's click is
    worth half of today's), next to the raw lifetime sum it corrects.

    The reference timestamp is a 1-row aggregate broadcast back into a
    codegen'd weight expression (age in hours is exact integer-µs
    arithmetic before ONE division); the weighted and raw sums ride the
    same single user-keyed hash aggregate with map-side partials.
    pow(0.5, ·) on identical IEEE inputs agrees across engines;
    summation-order drift is absorbed by the house round."""
    ev = _t(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("ref_ts"))
    # batch parquet surfaces ts as TIMESTAMP_NTZ; unix_micros wants LTZ
    # (the cast is a reinterpretation — only the DIFFERENCE is used).
    age_h = (
        F.unix_micros(F.col("ref_ts").cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp"))
    ) / F.lit(3_600_000_000.0)
    return (
        ev.crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            "value",
            (F.col("value") * F.pow(F.lit(0.5), age_h / _DECAY_HALFLIFE_H)).alias(
                "dv"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("raw_value"),
            F.round(F.sum("dv"), 4).alias("decayed_value"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality expectation suite
# ---------------------------------------------------------------------------

_DQ_VALUE_MAX = 100.0

_DQ_SQL = f"""
    SELECT 'row_count_positive' AS check,
           CAST(count(*) AS DOUBLE) AS metric,
           CAST(count(*) > 0 AS INTEGER) AS passed
    FROM events
    UNION ALL
    SELECT 'event_id_unique',
           CAST(count(*) - count(DISTINCT event_id) AS DOUBLE),
           CAST(count(*) = count(DISTINCT event_id) AS INTEGER)
    FROM events
    UNION ALL
    SELECT 'ts_not_null',
           CAST(count(*) FILTER (ts IS NULL) AS DOUBLE),
           CAST(count(*) FILTER (ts IS NULL) = 0 AS INTEGER)
    FROM events
    UNION ALL
    SELECT 'value_in_range',
           CAST(count(*) FILTER (value < 0 OR value > {_DQ_VALUE_MAX})
                AS DOUBLE),
           CAST(count(*) FILTER (value < 0 OR value > {_DQ_VALUE_MAX}) = 0
                AS INTEGER)
    FROM events
    UNION ALL
    SELECT 'user_fk_resolves',
           CAST(count(*) AS DOUBLE),
           CAST(count(*) = 0 AS INTEGER)
    FROM events e ANTI JOIN customer c ON e.user_id = c.c_custkey
"""


@register("a_dq_checks", _DQ_SQL)
def a_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite — the contract gate every
    production table passes before downstream jobs may read it
    (dbt-test / expectations style): row count, primary-key
    uniqueness, not-null, value range, and referential integrity
    (events.user_id must resolve in customer), each reported as
    (check, metric, passed) so the orchestrator can gate AND alert on
    the magnitude.

    All checks that scan the fact table are single aggregates (the
    first four could fuse into one pass; they stay separate rows of a
    UNION so each check is independently readable — Catalyst still
    schedules them concurrently under one job when the sink allows).
    The FK check is a left-anti join against the broadcast dimension:
    orphan COUNT, not orphan rows — nothing fact-sized moves."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")

    def row(name, metric, passed):
        return F.struct(
            F.lit(name).alias("check"),
            metric.cast("double").alias("metric"),
            passed.cast("int").alias("passed"),
        )

    n = F.count(F.lit(1))
    dup = n - F.countDistinct("event_id")
    null_ts = F.count(F.when(F.col("ts").isNull(), 1))
    oob = F.count(
        F.when((F.col("value") < 0) | (F.col("value") > _DQ_VALUE_MAX), 1)
    )
    base = ev.agg(
        F.array(
            row("row_count_positive", n, (n > 0)),
            row("event_id_unique", dup, (dup == 0)),
            row("ts_not_null", null_ts, (null_ts == 0)),
            row("value_in_range", oob, (oob == 0)),
        ).alias("checks")
    ).select(F.explode("checks").alias("c")).select("c.*")
    orphans = (
        ev.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("user_id"))),
            "user_id",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .select(
            F.lit("user_fk_resolves").alias("check"),
            F.col("o").cast("double").alias("metric"),
            (F.col("o") == 0).cast("int").alias("passed"),
        )
    )
    return base.unionAll(orphans)


# ---------------------------------------------------------------------------
# Population Stability Index drift monitor
# ---------------------------------------------------------------------------

_PSI_CUT = "2024-01-16"
_PSI_BINS = 10  # decile edges from the reference window

_PSI_SQL = f"""
    WITH ref AS (
        SELECT event_type, value FROM events
        WHERE ts < TIMESTAMP '{_PSI_CUT}'
    ),
    cur AS (
        SELECT event_type, value FROM events
        WHERE ts >= TIMESTAMP '{_PSI_CUT}'
    ),
    edges AS (
        SELECT event_type,
               list_transform(
                   quantile_cont(value, [{", ".join(str((i + 1) / 10)
                                                    for i in range(9))}]),
                   e -> round(e, 4)) AS e
        FROM ref GROUP BY event_type
    ),
    rb AS (
        SELECT r.event_type,
               len(list_filter(e.e, x -> r.value > x)) AS bucket,
               count(*) AS c
        FROM ref r JOIN edges e USING (event_type)
        GROUP BY 1, 2
    ),
    cb AS (
        SELECT c.event_type,
               len(list_filter(e.e, x -> c.value > x)) AS bucket,
               count(*) AS c
        FROM cur c JOIN edges e USING (event_type)
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT DISTINCT event_type, unnest(range({_PSI_BINS})) AS bucket
        FROM edges
    ),
    tot AS (
        SELECT (SELECT sum(c) FROM rb WHERE rb.event_type = g.event_type)
                   AS n_ref,
               (SELECT sum(c) FROM cb WHERE cb.event_type = g.event_type)
                   AS n_cur,
               g.event_type, g.bucket,
               coalesce((SELECT c FROM rb WHERE rb.event_type = g.event_type
                         AND rb.bucket = g.bucket), 0) AS cr,
               coalesce((SELECT c FROM cb WHERE cb.event_type = g.event_type
                         AND cb.bucket = g.bucket), 0) AS cc
        FROM grid g
    )
    SELECT event_type,
           CAST(min(n_ref) AS BIGINT) AS n_ref,
           CAST(min(n_cur) AS BIGINT) AS n_cur,
           round(sum(
               ((cr + 1.0) / (n_ref + {_PSI_BINS})
                - (cc + 1.0) / (n_cur + {_PSI_BINS}))
               * ln(((cr + 1.0) / (n_ref + {_PSI_BINS}))
                    / ((cc + 1.0) / (n_cur + {_PSI_BINS})))), 5) AS psi
    FROM tot GROUP BY event_type
"""


@register("a_psi_drift", _PSI_SQL)
def a_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor: per event_type, how
    far the value distribution after the cut drifted from before it —
    THE production gate for feature/score drift (retrain triggers,
    model rollback alarms; PSI < 0.1 stable, > 0.25 action).

    Decile edges come from the REFERENCE window only (current data
    must never define its own bins or drift hides), rounded to 4dp so
    both engines bucket on identical literals; bucket assignment is
    `size(filter(edges, e -> v > e))` — one array scan per row against
    a broadcast 9-float array, no per-bin joins. Counts land on a
    dense type×{_PSI_BINS} grid (Laplace +1 smoothing keeps empty-bin
    logs finite and contributes zero when a bin is empty on BOTH
    sides). The only data-sized work is two bucketed count aggs; the
    PSI reduction runs on {_PSI_BINS} rows per type."""
    ev = _t(spark, sf_dir, "events")
    cut = F.lit(_PSI_CUT).cast("timestamp")
    ref = ev.filter(F.col("ts") < cut).select("event_type", "value")
    cur = ev.filter(F.col("ts") >= cut).select("event_type", "value")
    pcts = F.array(*[F.lit((i + 1) / 10) for i in range(9)])
    edges = ref.groupBy("event_type").agg(
        F.transform(
            F.percentile("value", pcts), lambda e: F.round(e, 4)
        ).alias("e")
    )
    bucket = F.size(F.filter(F.col("e"), lambda x: F.col("value") > x))

    def bucketed(side):
        return (
            side.join(F.broadcast(edges), "event_type")
            .groupBy("event_type", bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    rb = bucketed(ref).withColumnsRenamed({"c": "cr"})
    cb = bucketed(cur).withColumnsRenamed({"c": "cc"})
    grid = edges.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("bucket"),
    )
    dense = (
        grid.join(rb, ["event_type", "bucket"], "left")
        .join(cb, ["event_type", "bucket"], "left")
        .fillna(0, ["cr", "cc"])
    )
    nr = F.sum("cr").over(Window.partitionBy("event_type"))
    nc = F.sum("cc").over(Window.partitionBy("event_type"))
    d = dense.select(
        "event_type", "cr", "cc", nr.alias("n_ref"), nc.alias("n_cur")
    )
    p = (F.col("cr") + 1.0) / (F.col("n_ref") + _PSI_BINS)
    q = (F.col("cc") + 1.0) / (F.col("n_cur") + _PSI_BINS)
    return d.groupBy("event_type").agg(
        F.min("n_ref").cast("long").alias("n_ref"),
        F.min("n_cur").cast("long").alias("n_cur"),
        F.round(F.sum((p - q) * F.log(p / q)), 5).alias("psi"),
    )


# ---------------------------------------------------------------------------
# Trailing-interval window aggregate (RANGE frame over event time)
# ---------------------------------------------------------------------------

_TRAIL_US = 24 * 3600 * 1_000_000  # 24h in microseconds

_TRAIL_SQL = f"""
    SELECT event_id, user_id,
           CAST(count(*) OVER tw AS BIGINT) AS n_24h,
           round(sum(value) OVER tw, 2) AS sum_24h
    FROM events
    WINDOW tw AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN {_TRAIL_US} PRECEDING AND CURRENT ROW)
"""


@register("w_trailing_24h", _TRAIL_SQL)
def w_trailing_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-hour activity at every event — the RANGE-frame
    window (frame bounded by event-TIME distance, not row count) that
    rate-limiting, velocity features, and fraud scores are built on;
    the rows-frame cousin is s_anomaly_zscore.

    Spark's rangeBetween needs a numeric ordering key, so the frame
    orders by exact integer epoch-microseconds (both engines use the
    same inclusive [ts−24h, ts] bound on the same integers — no
    timezone or truncation in the loop). One user-keyed exchange; the
    running frame is maintained incrementally per partition, not
    re-scanned per row. Ties (equal timestamps) are frame-inclusive
    in BOTH engines by RANGE semantics."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    tw = (
        Window.partitionBy("user_id")
        .orderBy(us.alias("us"))
        .rangeBetween(-_TRAIL_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(tw).cast("long").alias("n_24h"),
        F.round(F.sum("value").over(tw), 2).alias("sum_24h"),
    )


# ---------------------------------------------------------------------------
# Winsorization (percentile clipping) profile
# ---------------------------------------------------------------------------

_WINSOR_LO, _WINSOR_HI = 0.01, 0.99

_WINSOR_SQL = f"""
    WITH edges AS (
        SELECT event_type,
               round(quantile_cont(value, {_WINSOR_LO}), 4) AS lo,
               round(quantile_cont(value, {_WINSOR_HI}), 4) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (value < lo) AS BIGINT) AS n_clipped_lo,
           CAST(count(*) FILTER (value > hi) AS BIGINT) AS n_clipped_hi,
           round(avg(value), 4) AS mean_raw,
           round(avg(least(greatest(value, lo), hi)), 4) AS mean_winsor
    FROM events e JOIN edges USING (event_type)
    GROUP BY e.event_type
"""


@register("a_winsorize", _WINSOR_SQL)
def a_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization profile: clip each event_type's values at its own
    [p{_WINSOR_LO:.0%}, p{_WINSOR_HI:.0%}] percentiles and report clip
    counts + the mean before/after — the outlier-robust feature
    cleaning every training pipeline applies to heavy-tailed measures
    (and the report a data engineer reads to pick the clip levels).

    The percentile edges are a per-type aggregate (exact-sort
    percentile at test scale; swap approx_quantiles past memory —
    a_approx_quantiles holds that contract) broadcast back into a
    codegen'd least/greatest clip; edges round to 4dp so both engines
    clip on identical literals. One scan computes every output."""
    ev = _t(spark, sf_dir, "events")
    edges = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(_WINSOR_LO)), 4).alias("lo"),
        F.round(F.percentile("value", F.lit(_WINSOR_HI)), 4).alias("hi"),
    )
    j = ev.join(F.broadcast(edges), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("value") < F.col("lo"), 1))
        .cast("long")
        .alias("n_clipped_lo"),
        F.count(F.when(F.col("value") > F.col("hi"), 1))
        .cast("long")
        .alias("n_clipped_hi"),
        F.round(F.avg("value"), 4).alias("mean_raw"),
        F.round(F.avg(clipped), 4).alias("mean_winsor"),
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence interval (hash-deterministic replicates)
# ---------------------------------------------------------------------------

_BOOT_REPS = 20
# Poisson(1) inverse-CDF thresholds: P(X<=k) for k = 0..4; u above the
# last takes weight 5. Shared literals drive both engines.
_BOOT_CDF = [0.36787944, 0.73575888, 0.91969860, 0.98101184, 0.99634015]


def _pois_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} <= {c} THEN {k}" for k, c in enumerate(_BOOT_CDF)
    )
    return f"(CASE {branches} ELSE 5 END)"


# One md5 yields 32 hex chars = four independent 8-hex (32-bit)
# uniforms — the hash stage is the bootstrap's entire cost, so each
# (event, block) hash feeds FOUR replicates' weights instead of one
# (draw w reads hex window [1+8w, 8+8w]; u = (v+1)/(2³²+1)). Exact md5
# input mirror of the Spark side: '<event_id>_boot4_<blk>'.
_BOOT_BLKS = (_BOOT_REPS + 3) // 4
# Every block emits exactly 4 replicates with no rep<_BOOT_REPS filter
# on either engine, so a non-multiple-of-4 count would silently inflate
# the replicate set and shift the CI quantiles on BOTH sides of the
# oracle check (the oracle mirrors the blocking).
if _BOOT_REPS % 4:
    raise ValueError(f"_BOOT_REPS must be a multiple of 4, got {_BOOT_REPS}")


def _boot_u_sql(w: int) -> str:
    return (
        f"((CAST('0x' || substring(h, {1 + 8 * w}, 8) AS BIGINT) + 1.0)"
        " / 4294967297.0)"
    )


_BOOT_SQL = f"""
    WITH blks AS (
        SELECT e.event_id, e.value, b.blk
        FROM events e CROSS JOIN (SELECT unnest(range({_BOOT_BLKS})) AS blk) b
    ),
    hx AS MATERIALIZED (
        SELECT value, blk,
               md5(CAST(event_id AS VARCHAR) || '_boot4_'
                   || CAST(blk AS VARCHAR)) AS h
        FROM blks
    ),
    w AS (
        {" UNION ALL ".join(
            f'''SELECT blk * 4 + {wi} AS rep, value,
                {_pois_sql(_boot_u_sql(wi))} AS wt FROM hx'''
            for wi in range(4)
        )}
    ),
    means AS (
        SELECT rep, sum(wt * value) / sum(wt) AS m
        FROM w GROUP BY rep
    ),
    pt AS (SELECT avg(value) AS mean_full FROM events)
    SELECT round(pt.mean_full, 4) AS mean,
           round(quantile_cont(means.m, 0.025), 4) AS ci_lo,
           round(quantile_cont(means.m, 0.975), 4) AS ci_hi,
           CAST(count(*) AS BIGINT) AS n_reps
    FROM means, pt
    GROUP BY pt.mean_full
"""


@register("e_bootstrap_ci", _BOOT_SQL)
def e_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean: every row
    draws an independent Poisson(1) weight PER REPLICATE from a
    hash-deterministic uniform, replicate means aggregate in one pass,
    and the CI is the [2.5%, 97.5%] band of the {_BOOT_REPS} replicate
    means — the bootstrap that actually runs at 100 TB (resampling
    n-out-of-n is impossible distributed; Poisson weights need no
    global coordination, no shared state, and map-side-combine like
    any other aggregate).

    The uniforms come from md5(event_id, block) — the engine-portable
    seeding rule every sampling twin here uses — with each 32-hex
    digest split into FOUR 8-hex (32-bit) windows feeding four
    replicates' weights (the hash is the whole cost; one digest per
    replicate measured 4× slower). Both engines read the identical
    digest string, so the weight matrix and replicate means match
    bit-for-bit before rounding; the inverse-CDF is a shared literal
    CASE ladder. The explode is ×{_BOOT_BLKS} blocks ×4 draws inside
    one codegen stage feeding a {_BOOT_REPS}-row aggregate."""
    from recommender_systems_spark.io import spread_scan

    # The md5 ladder is this query's entire cost and runs in the SCAN
    # stage — which the single-row-group local parquet caps at ONE task
    # (round-14 census; driver's 8-vs-32-core scaling 0.69 ≈ serial).
    # spread_scan pays one slim-row exchange locally and is a no-op at
    # scale (scan arrives with many row groups).
    ev = spread_scan(
        _t(spark, sf_dir, "events").select("event_id", "value"),
        sf_dir, "events",
    )
    # One md5 per (event, block) feeds FOUR replicates: the 32-hex
    # digest splits into four 8-hex (32-bit) windows, each an
    # independent uniform for the Poisson inverse-CDF — the hash is
    # this query's entire cost, so this is a direct 4× cut in work
    # (12.4 M → 3.1 M md5 calls at sf0.1). The oracle derives its
    # windows from the identical digest string.
    blks = ev.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_BLKS - 1))).alias("blk"),
    ).select(
        "value",
        "blk",
        F.md5(
            F.concat_ws("_", F.col("event_id"), F.lit("boot4"), F.col("blk"))
        ).alias("h"),
    )

    def wt_col(w: int):
        u = (
            F.conv(F.substring(F.col("h"), 1 + 8 * w, 8), 16, 10).cast(
                "double"
            )
            + 1.0
        ) / 4294967297.0
        wt = F.lit(5)
        for k in range(len(_BOOT_CDF) - 1, -1, -1):
            wt = F.when(u <= _BOOT_CDF[k], k).otherwise(wt)
        return wt

    means = (
        blks.select(
            "value",
            "blk",
            F.posexplode(F.array(*[wt_col(w) for w in range(4)])).alias(
                "pos", "wt"
            ),
        )
        .select(
            (F.col("blk") * 4 + F.col("pos")).alias("rep"), "value", "wt"
        )
        .groupBy("rep")
        .agg((F.sum(F.col("wt") * F.col("value")) / F.sum("wt")).alias("m"))
    )
    pt = ev.agg(F.avg("value").alias("mean_full"))
    return means.crossJoin(F.broadcast(pt)).agg(
        F.round(F.min("mean_full"), 4).alias("mean"),
        F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
        F.count(F.lit(1)).cast("long").alias("n_reps"),
    )


# ---------------------------------------------------------------------------
# Power-law fit of the interaction-degree distribution
# ---------------------------------------------------------------------------

_PL_KMIN = 2  # MLE lower cutoff

_POWERLAW_SQL = f"""
    WITH deg AS (
        SELECT l_partkey AS item, count(*) AS k FROM lineitem GROUP BY 1
    ),
    hist AS (
        SELECT k, count(*) AS n_items FROM deg GROUP BY k
    ),
    fit AS (
        SELECT count(*) AS n_tail,
               sum(ln(CAST(k AS DOUBLE) / ({_PL_KMIN} - 0.5))) AS slog
        FROM deg WHERE k >= {_PL_KMIN}
    )
    SELECT h.k, CAST(h.n_items AS BIGINT) AS n_items,
           CAST(fit.n_tail AS BIGINT) AS n_tail,
           round(1.0 + fit.n_tail / fit.slog, 4) AS alpha_mle
    FROM hist h, fit
"""


@register("e_powerlaw_fit", _POWERLAW_SQL)
def e_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution profile + discrete power-law exponent: the
    count-of-counts histogram of per-item interaction degrees together
    with the Clauset-style MLE α̂ = 1 + n/Σln(k/(kmin−½)) — the
    long-tail analysis the reference performs on ratings-per-movie
    (prac_1_plotting.py's log-log histogram; SURVEY S7 keeps the
    RENDERING out-of-engine, this is the data side plus the fit the
    plot eyeballs). The α estimate is what sizes the popularity bias
    every negative sampler and skew mitigation in this repo fights.

    Two tiny aggregations over the per-item degree table (itself one
    hash agg of the fact table): histogram by k, and the (n, Σln)
    sufficient statistics of the MLE — the exponent needs no
    iteration. One ln per distinct item; fraction is an exact-input
    division rounded once."""
    deg = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("item"))
        .agg(F.count(F.lit(1)).alias("k"))
        .transform(materialize, sf_dir)  # consumed twice: histogram + MLE tail
    )
    hist = deg.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    fit = deg.filter(F.col("k") >= _PL_KMIN).agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.sum(F.log(F.col("k").cast("double") / (_PL_KMIN - 0.5))).alias(
            "slog"
        ),
    )
    return hist.crossJoin(F.broadcast(fit)).select(
        "k",
        "n_items",
        F.col("n_tail").cast("long").alias("n_tail"),
        F.round(1.0 + F.col("n_tail") / F.col("slog"), 4).alias("alpha_mle"),
    )


# ---------------------------------------------------------------------------
# Higher-moment profile (skewness / kurtosis from power sums)
# ---------------------------------------------------------------------------

_MOMENTS_SQL = """
    WITH s AS (
        SELECT event_type, count(*) AS n,
               sum(value) AS s1, sum(value * value) AS s2,
               sum(value * value * value) AS s3,
               sum(value * value * value * value) AS s4
        FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(s1 / n, 4) AS mean,
           round(sqrt(s2 / n - (s1 / n) * (s1 / n)), 4) AS sd,
           round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 4) AS skewness,
           round((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * pow(s1 / n, 2) * (s2 / n) - 3 * pow(s1 / n, 4))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3.0, 4)
               AS excess_kurtosis
    FROM s
"""


@register("a_moments", _MOMENTS_SQL)
def a_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution profile per group: mean, sd,
    skewness, excess kurtosis — the shape diagnostics that decide
    whether downstream assumes normality (e_t_test_stats),
    winsorizes (a_winsorize), or log-transforms. Computed from raw
    power sums S1..S4 with the central-moment identities written
    CHARACTER-IDENTICALLY in both engines — not the builtin
    skewness/kurtosis, whose streaming update formulas differ between
    engines and would never hash-match.

    One hash aggregate with map-side partials; four multiplications
    per row in codegen, five rows out."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    m2r = F.col("s2") / n
    m3r = F.col("s3") / n
    m4r = F.col("s4") / n
    var = m2r - m1 * m1
    return s.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(m1, 4).alias("mean"),
        F.round(F.sqrt(var), 4).alias("sd"),
        F.round(
            (m3r - 3 * m1 * m2r + 2 * F.pow(m1, 3)) / F.pow(var, 1.5), 4
        ).alias("skewness"),
        F.round(
            (m4r - 4 * m1 * m3r + 6 * F.pow(m1, 2) * m2r - 3 * F.pow(m1, 4))
            / F.pow(var, 2)
            - 3.0,
            4,
        ).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# Quantile normalization (rank → normal scores)
# ---------------------------------------------------------------------------

_QN_SQL_TMPL = """
    WITH pv AS (
        SELECT value, count(*) AS cnt FROM events GROUP BY value
    ),
    mr AS (
        -- row-weighted midrank: #rows < v + (count(v)+1)/2
        SELECT value,
               CAST(sum(cnt) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - cnt AS DOUBLE) + (cnt + 1) / 2.0 AS midrank
        FROM pv
    ),
    n AS (SELECT count(*) AS n FROM events)
    SELECT e.event_id,
           round(e.value, 2) AS value,
           round({probit}, 5) AS z_score
    FROM events e JOIN mr ON mr.value = e.value CROSS JOIN n
"""


@register("w_quantile_normalize", None)  # SQL bound below (needs probit_sql)
def w_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: map every value to the normal score of
    its (Blom-adjusted) midrank — the rank-based transform that forces
    any marginal distribution to N(0,1) (microarray-style
    cross-dataset harmonisation, robust feature scaling for linear
    models; Shapiro-Francia E4 consumes exactly these normal scores
    for ORDER statistics, this op applies them to the DATA).

    Distinct-value pre-agg → midranks via
    ``operators.relational.two_phase_midrank`` (range partitions +
    offsets — the same no-single-partition shape as e_rank_sum/e_auc;
    ties share the midrank, so the map is value-deterministic) → one
    join back to rows. The probit is the house Acklam expression
    (functions.probit) — the same polynomial, literal for
    literal, in both engines; p = (midrank − 0.375)/(n + 0.25) keeps
    the tails finite."""
    from recommender_systems_spark.functions.probit import probit_col
    from recommender_systems_spark.operators.relational import two_phase_midrank

    ev = _t(spark, sf_dir, "events")
    pv = ev.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    mr = two_phase_midrank(
        pv, "value", "cnt", approx_rows=table_rows(sf_dir, "events")
    ).select("value", "midrank")
    nn = ev.agg(F.count(F.lit(1)).alias("n"))
    p = (F.col("midrank") - 0.375) / (F.col("n") + 0.25)
    return (
        ev.select("event_id", "value")
        .join(F.broadcast(mr), "value")
        .crossJoin(F.broadcast(nn))
        .select(
            "event_id",
            F.round("value", 2).alias("value"),
            F.round(probit_col(p), 5).alias("z_score"),
        )
    )


def _bind_qn_oracle() -> None:
    from recommender_systems_spark.functions.probit import probit_sql
    from recommender_systems_spark.registry import ORACLE

    ORACLE["w_quantile_normalize"] = _QN_SQL_TMPL.format(
        probit=probit_sql("((mr.midrank - 0.375) / (n.n + 0.25))")
    )


_bind_qn_oracle()


# ---------------------------------------------------------------------------
# One-pass Pearson correlation matrix (feature profiling)
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_CORR_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT '{a}' AS col_x, '{b}' AS col_y,
           round(corr({a}, {b}), 6) AS pearson_r
    FROM lineitem"""
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
)


@register("a_corr_matrix", _CORR_SQL)
def a_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over the numeric fact columns —
    the feature-redundancy profile (which measures are collinear) that
    sits next to a_higher_moments and a_skew_profile in the profiling
    family.

    Scale shape: ALL C(4,2)=6 correlations come out of ONE scan and ONE
    1-row hash aggregate — `corr` is algebraic (n, Σx, Σy, Σxy
    partials), so Spark computes the six accumulators map-side in a
    single whole-stage-codegen pass and reduces 1 row per task; the
    unpivot to (col_x, col_y, r) rows is a driver-free stack over the
    1-row frame. Contrast the naive 6-scans-of-the-fact-table shape the
    oracle's UNION ALL spells out (fine for DuckDB at sf0.01; at 100 TB
    the single-pass form reads the 4 columns once). Correlations are
    scale-free, so the only cross-engine noise is accumulation order —
    killed by round(…, 6)."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]
    agg = li.agg(
        *[
            F.round(F.corr(a, b), 6).alias(f"r_{a}_{b}")
            for a, b in pairs
        ]
    )
    stack_args = ", ".join(f"'{a}', '{b}', r_{a}_{b}" for a, b in pairs)
    return agg.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (col_x, col_y, pearson_r)"
        )
    )


@register(
    "s_window_topk",
    """
    WITH agg AS (
        SELECT date_trunc('hour', ts) AS window_start, user_id,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, user_id, n, sum_value,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY window_start
              ORDER BY sum_value DESC, user_id) AS rnk
          FROM agg)
    WHERE rnk <= 3
    """,
)
def s_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-time-window top-k: the hourly top-3 users by summed value —
    the leaderboard shape every event pipeline serves (trending items,
    top spenders per hour). Composes the tumbling-window aggregate
    (s_window_agg) with per-group top-k (W4) so the window ranking
    runs on the AGGREGATE (hour × user), never raw events; total
    tie-break (sum desc, user asc) as always.

    Scale shape: one (hour, user) hash aggregation — map-side combined
    — then a window over each hour's user rows. At 100 TB the
    rank input is bounded by active users per hour, not events."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("sum_value").desc(), F.col("user_id")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "user_id", "n", "sum_value", "rnk")
    )


@register(
    "w_first_last",
    """
    WITH w AS (
        SELECT user_id,
               first_value(event_type) OVER uw AS first_type,
               last_value(event_type) OVER uw AS last_type,
               first_value(value) OVER uw AS first_value_amt,
               last_value(value) OVER uw AS last_value_amt,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
    )
    SELECT DISTINCT user_id, first_type, last_type,
           first_value_amt, last_value_amt, n_events
    FROM w
    """,
)
def w_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-value analytics per user: entry and exit event type
    and value over the (ts, event_id)-total-ordered stream — the
    acquisition/churn snapshot (what did each user do first and last?).
    Completes the window-function surface next to lag/lead/ntile
    (w_lag_lead): first_value/last_value over an unbounded frame.

    Scale shape: ONE shuffle on user_id serves all five window
    expressions (shared frame), then a distinct on the per-user
    constants. Total ordering makes both engines pick identical
    first/last rows."""
    ev = _t(spark, sf_dir, "events")
    uw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cw = Window.partitionBy("user_id")
    return (
        ev.select(
            "user_id",
            F.first("event_type").over(uw).alias("first_type"),
            F.last("event_type").over(uw).alias("last_type"),
            F.first("value").over(uw).alias("first_value_amt"),
            F.last("value").over(uw).alias("last_value_amt"),
            F.count(F.lit(1)).over(cw).alias("n_events"),
        )
        .distinct()
    )


@register(
    "j_null_safe_join",
    """
    WITH l AS (
        SELECT event_id, nullif(event_type, 'error') AS k, value
        FROM events WHERE user_id < 30
    ),
    r AS (
        SELECT nullif(event_type, 'error') AS k,
               CAST(count(*) AS BIGINT) AS n_type
        FROM events GROUP BY 1
    )
    SELECT l.event_id, l.k, r.n_type
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
)
def j_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (Spark `<=>` / SQL IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of silently dropping — the
    semantics dimension the join family (J1-J4, asof, range, bucketed,
    salted, bloom) didn't yet cover. Keys are event types with 'error'
    nulled out, so the null bucket is real data: a plain equi-join
    would lose every nulled row; the null-safe join keeps them paired
    with the null-keyed aggregate row.

    Scale shape: still a hash join — Spark plans EqualNullSafe as a
    regular shuffled/broadcast equi-join on a null-tagged key; the
    dimension side is type-sized → broadcast. (Skew caveat at 100 TB:
    ALL null rows share one key, same remedy as any hot key —
    j_salted_skew's salting.)"""
    ev = _t(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("error"))
    l = ev.filter(F.col("user_id") < 30).select(
        "event_id", k.alias("k"), "value"
    )
    r = ev.select(k.alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("n_type")
    )
    return l.join(F.broadcast(r), l["k"].eqNullSafe(r["k"])).select(
        "event_id", l["k"].alias("k"), "n_type"
    )


@register(
    "w_rank_functions",
    """
    SELECT event_id, event_type,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           round(cume_dist() OVER w, 6) AS cdist
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def w_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-function family in one query: rank,
    dense_rank, percent_rank, cume_dist per event type over a TOTAL
    (value, event_id) order — completes the window surface beside
    row_number (W4), lag/lead/ntile (w_lag_lead), and
    first/last (w_first_last). percent_rank/cume_dist are the
    ECDF-as-window primitives analysts reach for before a full KS.

    Scale shape: all four functions share one frame spec → one
    event_type exchange, one Window node. Rank arithmetic is exact
    integers; the two ratios are single divisions of exact ints,
    rounded only for cross-engine display."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "w_trailing_distinct",
    """
    WITH presence AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour
        FROM events
    ),
    bounds AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM presence),
    covered AS (
        SELECT DISTINCT p.user_id,
               p.hour + to_hours(o.off) AS out_hour
        FROM presence p
        CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS off) o
        CROSS JOIN bounds b
        WHERE p.hour + to_hours(o.off) <= b.h1
    )
    SELECT out_hour,
           CAST(count(*) AS BIGINT) AS distinct_users_24h
    FROM covered GROUP BY out_hour
    """,
)
def w_trailing_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-24-hour DISTINCT user count per hour — the DAU
    curve at hourly grain. Distinct is NOT decomposable over sliding
    windows (you can't subtract the leaving hour), so the naive form
    re-scans 24 hours per output point; instead each deduped
    (user, hour) presence row is exploded to the 24 output hours it
    covers and distinct-counted once — the standard presence-explode
    rewrite (w_trailing_24h's sum/count sibling, which IS
    decomposable and needs no explode).

    Scale shape: the explode input is the DEDUPED presence table
    (users × active-hours, already collapsed map-side), ×24 — bounded,
    and orders of magnitude below raw events; the distinct + count
    shuffle on (hour, user) fixed-width keys."""
    ev = _t(spark, sf_dir, "events")
    # Materialised once: consumed by the ×24 explode AND the max-hour
    # scalar. Unmaterialised, the h1 aggregate re-ran the full
    # events scan + presence distinct exchange for one timestamp
    # (2 corpus scans → 1; presence is users×active-hours, orders of
    # magnitude below events — the cheap side to pin). Round-13.
    presence = ev.select(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).distinct().transform(materialize, sf_dir)
    h1 = presence.agg(F.max("hour").alias("h1"))
    off = spark.range(24).select(F.col("id").cast("int").alias("off"))
    covered = (
        presence.crossJoin(F.broadcast(off))
        .crossJoin(F.broadcast(h1))
        .select(
            "user_id",
            (F.col("hour") + F.make_interval(hours=F.col("off"))).alias(
                "out_hour"
            ),
            "h1",
        )
        .filter(F.col("out_hour") <= F.col("h1"))
        .select("user_id", "out_hour")
        .distinct()
    )
    return covered.groupBy("out_hour").agg(
        F.count(F.lit(1)).alias("distinct_users_24h")
    )


# ---------------------------------------------------------------------------
# e_tost_equivalence — two one-sided tests (equivalence testing)
# ---------------------------------------------------------------------------

_TOST_REL = 0.05        # equivalence margin: ±5% of the pooled mean
_TOST_CRIT = 1.644854   # one-sided normal critical value, alpha = 0.05

_TOST_SQL = f"""
    WITH g AS ({{grp}}),
    agg AS (
        SELECT grp, avg(value) AS m, var_samp(value) AS v,
               CAST(count(*) AS BIGINT) AS n
        FROM g GROUP BY grp
    ),
    w AS (
        SELECT
            max(CASE WHEN grp = 'A' THEN m END) AS ma,
            max(CASE WHEN grp = 'B' THEN m END) AS mb,
            max(CASE WHEN grp = 'A' THEN v END) AS va,
            max(CASE WHEN grp = 'B' THEN v END) AS vb,
            max(CASE WHEN grp = 'A' THEN n END) AS na,
            max(CASE WHEN grp = 'B' THEN n END) AS nb
        FROM agg
    ),
    s AS (
        SELECT na, nb, ma, mb,
               abs((ma + mb) / 2) * {_TOST_REL} AS margin,
               sqrt(va / na + vb / nb) AS se
        FROM w
    )
    SELECT na, nb,
           round(ma - mb, 6) AS diff,
           round(margin, 6) AS margin,
           round((ma - mb + margin) / se, 6) AS t_lower,
           round((ma - mb - margin) / se, 6) AS t_upper,
           (round((ma - mb + margin) / se, 6) > {_TOST_CRIT}
            AND round((ma - mb - margin) / se, 6) < -{_TOST_CRIT})
               AS equivalent
    FROM s
"""


@register("e_tost_equivalence", _TOST_SQL.format(grp=_GRP_SQL))
def e_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987): two one-sided Welch t
    statistics against the ±{_TOST_REL:.0%}-of-pooled-mean margin —
    the test that can conclude "the arms are the SAME", which the
    ordinary t-test (e_t_test_stats) can only fail to reject. This is
    the non-inferiority gate a platform runs before shipping a
    cost-saving variant: both t_lower > +z_α and t_upper < −z_α must
    hold for equivalence.

    Same single-aggregation-pass shape as e_t_test_stats (group
    moments → 1-row pivot → driver-free closed form). The equivalence
    boolean compares the 6dp-ROUNDED statistics against the critical
    constant (snap-before-compare house rule), so the decision can
    never flip on a sub-grid engine difference."""
    agg = _events_grouped(spark, sf_dir).groupBy("grp").agg(
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    w = agg.agg(
        F.max(F.when(F.col("grp") == "A", F.col("m"))).alias("ma"),
        F.max(F.when(F.col("grp") == "B", F.col("m"))).alias("mb"),
        F.max(F.when(F.col("grp") == "A", F.col("v"))).alias("va"),
        F.max(F.when(F.col("grp") == "B", F.col("v"))).alias("vb"),
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("nb"),
    )
    margin = F.abs((F.col("ma") + F.col("mb")) / 2) * _TOST_REL
    se = F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb"))
    t_lo = F.round((F.col("ma") - F.col("mb") + margin) / se, 6)
    t_hi = F.round((F.col("ma") - F.col("mb") - margin) / se, 6)
    return w.select(
        "na",
        "nb",
        F.round(F.col("ma") - F.col("mb"), 6).alias("diff"),
        F.round(margin, 6).alias("margin"),
        t_lo.alias("t_lower"),
        t_hi.alias("t_upper"),
        ((t_lo > _TOST_CRIT) & (t_hi < -_TOST_CRIT)).alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# v_ild_diversity — intra-list diversity of the served top-k
# ---------------------------------------------------------------------------

_ILD_K = 10

_ILD_SQL = f"""
    WITH {_RANKED_CTES},
    top AS (SELECT qid, vec_id FROM ranked WHERE rnk <= {_ILD_K}),
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pv AS (SELECT t.qid, t.vec_id, ev.v FROM top t JOIN ev USING (vec_id)),
    pairs AS (
        SELECT a.qid,
               CAST(round((1 - round(
                   list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 5)) * 100000)
                   AS BIGINT) AS d
        FROM pv a JOIN pv b ON a.qid = b.qid AND a.vec_id < b.vec_id
    )
    SELECT qid AS vec_id, CAST(count(*) AS BIGINT) AS n_pairs,
           round(SUM(d) / (100000.0 * count(*)), 6) AS ild
    FROM pairs GROUP BY qid
"""


@register("v_ild_diversity", _ILD_SQL)
def v_ild_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-list diversity of each query's served top-{_ILD_K}: mean
    pairwise cosine DISTANCE within the list — the beyond-accuracy
    metric that separates a filter-bubble ranker from a diverse one
    (complements e_rec_novelty's popularity angle and v_mmr_rerank,
    which OPTIMISES this quantity; here it is MEASURED on the plain
    relevance ranking).

    Scale shape: the ranking chain is the shared broadcast-queries ×
    catalog scan; the pairwise stage is k²-bounded PER LIST (≤
    {_ILD_K * (_ILD_K - 1) // 2} pairs per query — list-bounded
    quadratic, the SemDeDup rule), joined qid-local so only list
    members ever pair. Parity: each pair distance snaps to integer
    hundred-thousandths of (1 − 5dp-rounded cosine), so per-list sums
    are exact integers and the final ild is one exact-operand
    division."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    ev = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scored = ev.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        F.round(cosine_similarity(F.col("v"), F.col("qv")), 5).alias("cs"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cs").desc(), F.col("vec_id"))
    top = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _ILD_K)
        .select("qid", "vec_id")
    )
    # queries×K rows; referenced by BOTH pair-join sides —
    # unmaterialised, the whole scoring + ranking chain ran twice
    # (round-13 census: 3 parquet scans → 1).
    pv = top.join(ev, "vec_id").transform(materialize, sf_dir)
    d = (
        F.round(
            (1 - F.round(cosine_similarity(F.col("a.v"), F.col("b.v")), 5))
            * 100000
        )
        .cast("long")
        .alias("d")
    )
    pairs = (
        pv.alias("a")
        .join(
            pv.alias("b"),
            (F.col("a.qid") == F.col("b.qid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.qid").alias("qid"), d)
    )
    return pairs.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.sum("d") / (100000.0 * F.count(F.lit(1))), 6).alias("ild"),
    ).select(F.col("qid").alias("vec_id"), "n_pairs", "ild")


# ---------------------------------------------------------------------------
# v_knn_classify — k-nearest-neighbour majority-vote classification
# ---------------------------------------------------------------------------

_KNN_K = 15

_KNN_SQL = f"""
    WITH {_RANKED_CTES},
    votes AS (
        SELECT qid, qlabel, label, COUNT(*) AS v
        FROM ranked WHERE rnk <= {_KNN_K}
        GROUP BY 1, 2, 3
    ),
    win AS (
        SELECT qid, qlabel, label AS predicted, v,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY v DESC, label) AS rn
        FROM votes
    )
    SELECT CAST(qid AS BIGINT) AS vec_id, CAST(qlabel AS INT) AS actual,
           CAST(predicted AS INT) AS predicted, CAST(v AS BIGINT) AS votes,
           predicted = qlabel AS correct
    FROM win WHERE rn = 1
"""


@register("v_knn_classify", _KNN_SQL)
def v_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification of each query embedding
    (k={_KNN_K}, leave-one-out against the full catalog): the lazy
    classifier that needs NO training pass — the standard baseline a
    team runs before fitting v_centroid_classify's parametric rival,
    and the label-quality audit ("does this doc's label agree with its
    neighbourhood?") a curation pipeline runs at scale.

    Scale shape: identical to the NDCG/MRR chain — broadcast queries ×
    one catalog scan, per-query top-k window, then the vote aggregate
    is k-bounded per query. Parity: votes are exact integer counts and
    the winner resolves by the total (votes desc, label) order, so the
    argmax never flips across engines."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("ev")
        )
        .join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(cosine_similarity(F.col("ev"), F.col("qv")), 5).alias("cs"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cs").desc(), F.col("vec_id"))
    votes = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
        .groupBy("qid", "qlabel", "label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    wv = Window.partitionBy("qid").orderBy(F.col("v").desc(), F.col("label"))
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            F.col("qid").cast("long").alias("vec_id"),
            F.col("qlabel").cast("int").alias("actual"),
            F.col("label").cast("int").alias("predicted"),
            F.col("v").cast("long").alias("votes"),
            (F.col("label") == F.col("qlabel")).alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# e_meta_analysis — fixed-effect inverse-variance pooling across segments
# ---------------------------------------------------------------------------

_META_SQL = """
    WITH ev AS (
        SELECT n.n_name AS segment,
               CASE WHEN e.user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
               CAST(round(e.value * 100) AS BIGINT) AS cents
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    arm AS (
        SELECT segment, grp, COUNT(*) AS n,
               SUM(cents) AS s1, SUM(cents * cents) AS s2
        FROM ev GROUP BY 1, 2
    ),
    seg AS (
        SELECT a.segment,
               round((b.s1 / CAST(b.n AS DOUBLE)
                      - a.s1 / CAST(a.n AS DOUBLE)) / 100.0, 6) AS d,
               round(((b.s2 - b.s1 * (b.s1 / CAST(b.n AS DOUBLE)))
                          / (b.n - 1.0) / b.n
                      + (a.s2 - a.s1 * (a.s1 / CAST(a.n AS DOUBLE)))
                          / (a.n - 1.0) / a.n) / 10000.0, 6) AS se2
        FROM (SELECT * FROM arm WHERE grp = 'A') a
        JOIN (SELECT * FROM arm WHERE grp = 'B') b ON a.segment = b.segment
        WHERE a.n > 1 AND b.n > 1
    ),
    scaled AS (
        SELECT segment,
               CAST(round(1000000.0 / se2) AS BIGINT) AS w_micros,
               CAST(round(1000000.0 * d / se2) AS BIGINT) AS wd_micros,
               d, se2
        FROM seg
    ),
    pool AS (
        SELECT COUNT(*) AS k, SUM(w_micros) AS sw, SUM(wd_micros) AS swd,
               round(SUM(wd_micros) / CAST(SUM(w_micros) AS DOUBLE), 6)
                   AS pooled
        FROM scaled
    )
    SELECT CAST(pool.k AS BIGINT) AS n_segments,
           pool.pooled AS pooled_effect,
           round(1.0 / sqrt(pool.sw / 1000000.0), 6) AS pooled_se,
           round(SUM(CAST(round((s.d - pool.pooled) * (s.d - pool.pooled)
                                * 1000000.0 / s.se2) AS BIGINT))
                 / 1000000.0, 6) AS q_stat
    FROM scaled s CROSS JOIN pool
    GROUP BY 1, 2, 3
"""


@register("e_meta_analysis", _META_SQL)
def e_meta_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect meta-analysis of the A/B effect across nation
    segments: per-segment Welch effect d and variance se², pooled by
    inverse-variance weights, with Cochran's Q heterogeneity statistic
    — how an experimentation platform combines one experiment's
    segment-level reads (or many small experiments) into a single
    estimate, and the aggregation half of e_hte_segments (which
    REPORTS the per-segment effects this query POOLS; Q answers
    "is the segment variation more than noise?").

    Scale shape: one fact scan with a broadcast dim join → a
    (segment, arm)-keyed aggregate of exact integer moments;
    everything after is |segments|-sized. Parity: d and se² snap to
    the 6dp grid BEFORE reuse (the house snap-before-cross-engine-
    reuse rule), weights and weighted effects ride integer micros so
    the pooled sums are exact, the pooled mean is snapped before the
    Q pass, and each Q term is an integer-micros round of
    exact-operand arithmetic."""
    ev = (
        _events_grouped(spark, sf_dir)
        .join(
            _t(spark, sf_dir, "customer"),
            F.col("user_id") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("segment"),
            "grp",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    arm = ev.groupBy("segment", "grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    a = arm.filter(F.col("grp") == "A").select(
        "segment",
        F.col("n").alias("na"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = arm.filter(F.col("grp") == "B").select(
        "segment",
        F.col("n").alias("nb"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    seg = (
        a.join(b, "segment")
        .filter((F.col("na") > 1) & (F.col("nb") > 1))
        .select(
            "segment",
            F.round(
                (
                    F.col("s1b") / F.col("nb").cast("double")
                    - F.col("s1a") / F.col("na").cast("double")
                )
                / 100.0,
                6,
            ).alias("d"),
            F.round(
                (
                    (
                        F.col("s2b")
                        - F.col("s1b") * (F.col("s1b") / F.col("nb").cast("double"))
                    )
                    / (F.col("nb") - 1.0)
                    / F.col("nb")
                    + (
                        F.col("s2a")
                        - F.col("s1a") * (F.col("s1a") / F.col("na").cast("double"))
                    )
                    / (F.col("na") - 1.0)
                    / F.col("na")
                )
                / 10000.0,
                6,
            ).alias("se2"),
        )
    )
    scaled = seg.select(
        "segment",
        "d",
        "se2",
        F.round(1000000.0 / F.col("se2")).cast("long").alias("w_micros"),
        F.round(1000000.0 * F.col("d") / F.col("se2"))
        .cast("long")
        .alias("wd_micros"),
    ).transform(materialize, sf_dir)  # |segments|-sized; consumers: pool + Q pass
    pool = scaled.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("w_micros").alias("sw"),
        F.round(
            F.sum("wd_micros") / F.sum("w_micros").cast("double"), 6
        ).alias("pooled"),
    )
    return (
        scaled.crossJoin(F.broadcast(pool))
        .groupBy("k", "pooled", "sw")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("d") - F.col("pooled"))
                        * (F.col("d") - F.col("pooled"))
                        * 1000000.0
                        / F.col("se2")
                    ).cast("long")
                )
                / 1000000.0,
                6,
            ).alias("q_stat")
        )
        .select(
            F.col("k").cast("long").alias("n_segments"),
            F.col("pooled").alias("pooled_effect"),
            F.round(1.0 / F.sqrt(F.col("sw") / 1000000.0), 6).alias("pooled_se"),
            "q_stat",
        )
    )


# ---------------------------------------------------------------------------
# Bounded exponentially-weighted rolling mean (EWMA-16) per user
# ---------------------------------------------------------------------------

EWMA_DEPTH = 16
# Exact binary weights 0.5^k, k = 0..15 (most-recent first): every
# value is exactly representable, so the literal arrays embedded in
# both engines are bit-identical — no cross-engine pow() in the loop.
EWMA_WEIGHTS = [0.5**k for k in range(EWMA_DEPTH)]

_EWMA_W_SQL = "[" + ", ".join(repr(w) for w in EWMA_WEIGHTS) + "]"

_EWMA_SQL = f"""
    WITH l AS (
        SELECT event_id, user_id,
               list(value) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN {EWMA_DEPTH - 1} PRECEDING
                                          AND CURRENT ROW) AS vs
        FROM events
    )
    SELECT event_id, user_id,
           CAST(len(vs) AS INT) AS n_window,
           round(
             list_sum(list_transform(range(1, len(vs) + 1),
                 i -> vs[i] * ({_EWMA_W_SQL})[len(vs) - i + 1]))
             / list_sum(list_transform(range(1, len(vs) + 1),
                 i -> ({_EWMA_W_SQL})[len(vs) - i + 1])),
             6) AS ewma
    FROM l
"""


@register("w_ewma", _EWMA_SQL)
def w_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded exponentially-weighted rolling mean per user: at every
    event, the last-{EWMA_DEPTH}-events weighted mean with weight
    0.5^age (normalised over the actual frame) — the recency-decayed
    velocity feature (spend trend, engagement momentum) that feature
    stores serve next to the unweighted w_trailing_24h frame. The
    finite frame makes the classic infinite-history EWMA recursion
    shuffle-free AND numerically bounded: (1-α)^-j rescaling tricks
    overflow on long histories; a 16-deep frame never does.

    Scale shape: ONE user-keyed exchange; collect_list over a ROWS
    frame is maintained incrementally per partition (16-element cap =
    O(1) state per row); the weighted fold is a 16-term in-row array
    aggregate inside codegen. Parity: both engines fold i = 1..n in
    list order with the identical literal weight array, so the only
    rounding is the final 6dp."""
    ev = _t(spark, sf_dir, "events")
    warr = F.array(*[F.lit(w) for w in EWMA_WEIGHTS])
    fw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_DEPTH - 1), 0)
    )
    vs = F.collect_list("value").over(fw)
    n = F.size(F.col("vs"))
    num = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(F.col("vs"), i) * F.element_at(warr, n - i + 1),
    )
    den = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(warr, n - i + 1),
    )
    return (
        ev.select("event_id", "user_id", vs.alias("vs"))
        .select(
            "event_id",
            "user_id",
            n.cast("int").alias("n_window"),
            F.round(num / den, 6).alias("ewma"),
        )
    )
