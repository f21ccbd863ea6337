"""Classical-analytics extensions: contingency / distribution tests,
regression aggregates, classifier evaluation, deterministic mode, and
non-hierarchical grouping sets.

These widen the E-family (SURVEY §2.8 — the reference's A/B harness
runs t / Wilcoxon / Levene / Shapiro tests, ab_test.py:304-414) with the
two standard remaining hypothesis tests (chi-squared independence,
two-sample Kolmogorov-Smirnov) and the evaluation ops a serving team
runs on engine output (confusion matrix over the language-ID operator,
OLS trend fits). Everything is built-in-only JVM expressions — one
aggregation pass each, no Python in any plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recommender_systems_spark.operators.relational import (
    global_running_total,
    global_running_totals,
)
from recommender_systems_spark.io import materialize, table_rows
from recommender_systems_spark.registry import _t, register
# SQL fragments come from the dependency-free _shared module, NEVER from
# sibling query modules: a module-level import of queries.stats/.textops
# here breaks whenever one of THOSE is the process's first entry into the
# package (their registration stops at their own registry import, so this
# module would see them partially initialised — the documented
# circular-import class in _shared.py).
from recommender_systems_spark.queries._shared import (
    GRP_SQL as _GRP_SQL,
    LANG_SQL as _LANG_SQL,
    u01_col,
    u01_sql,
)


def _events_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + the A/B arm from user_id parity (FIXTURES.md split) —
    the Spark twin of _shared.GRP_SQL (same 4 lines as
    queries.stats._events_grouped, duplicated to keep this module free
    of sibling imports)."""
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn(
        "grp", F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B"))
    )


# ---------------------------------------------------------------------------
# e_chi2_test — chi-squared independence (arm × event_type)
# ---------------------------------------------------------------------------

@register(
    "e_chi2_test",
    f"""
    WITH g AS ({_GRP_SQL}),
    cells AS (
        SELECT grp, event_type, CAST(count(*) AS BIGINT) AS o
        FROM g GROUP BY grp, event_type
    ),
    rowm AS (SELECT grp, sum(o) AS rm FROM cells GROUP BY grp),
    colm AS (SELECT event_type, sum(o) AS cm FROM cells GROUP BY event_type),
    tot AS (SELECT sum(o) AS n FROM cells)
    SELECT round(sum(pow(c.o - (rm * cm / n), 2) / (rm * cm / n)), 6) AS chi2,
           CAST((count(DISTINCT c.grp) - 1)
                * (count(DISTINCT c.event_type) - 1) AS BIGINT) AS dof,
           CAST(max(n) AS BIGINT) AS n
    FROM cells c
    JOIN rowm USING (grp) JOIN colm USING (event_type) CROSS JOIN tot
    """,
)
def e_chi2_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between the experiment arm and
    the event-type distribution (completes the reference's hypothesis-
    test battery, ab_test.py:304-414 — it runs t/rank-sum/Levene/
    Shapiro; a categorical outcome needs chi2).

    Scale shape: the contingency table is ONE hash aggregation on
    (grp, event_type) — cells are dimension-sized (arms × types), so
    the margin joins and the final statistic run on a handful of rows
    regardless of input size. The p-value (CDF lookup) stays driver-
    side scipy as with every other test here (ml.abtest pattern)."""
    cells = (
        _events_grouped(spark, sf_dir)
        .groupBy("grp", "event_type")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rowm = cells.groupBy("grp").agg(F.sum("o").alias("rm"))
    colm = cells.groupBy("event_type").agg(F.sum("o").alias("cm"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = F.col("rm") * F.col("cm") / F.col("n")
    return (
        cells.join(F.broadcast(rowm), "grp")
        .join(F.broadcast(colm), "event_type")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
            (
                (F.count_distinct(F.col("grp")) - 1)
                * (F.count_distinct(F.col("event_type")) - 1)
            ).alias("dof"),
            F.max("n").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# e_ks_test — two-sample Kolmogorov-Smirnov statistic
# ---------------------------------------------------------------------------

@register(
    "e_ks_test",
    f"""
    WITH g AS ({_GRP_SQL}),
    per_value AS (
        SELECT value,
               sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS a_cnt,
               sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS b_cnt
        FROM g GROUP BY value
    ),
    cum AS (
        SELECT CAST(sum(a_cnt) OVER w AS BIGINT) AS cum_a,
               CAST(sum(b_cnt) OVER w AS BIGINT) AS cum_b
        FROM per_value
        WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
        SELECT CAST(sum(a_cnt) AS BIGINT) AS na,
               CAST(sum(b_cnt) AS BIGINT) AS nb
        FROM per_value
    )
    SELECT na, nb,
           max(abs(CAST(cum_a AS DOUBLE) / na
                   - CAST(cum_b AS DOUBLE) / nb)) AS ks_d
    FROM cum CROSS JOIN tot
    GROUP BY na, nb
    """,
)
def e_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the A and B
    arms: D = max over pooled values of |ECDF_A - ECDF_B| (the
    remaining distribution-shape test next to Levene E3 / Shapiro-
    Francia E4; reference battery at ab_test.py:304-414).

    Scale shape: pre-aggregate to one row per DISTINCT value (the only
    shuffle on raw data), then BOTH group ECDFs cumulate in a single
    two-phase range-partitioned pass (operators.relational.
    global_running_totals) — no single-partition window, so a billion
    distinct values flow through balanced range partitions. The final
    max is an ordinary scalar aggregate. Exact arithmetic end-to-end
    (integer counts, one division) — no rounding needed for parity."""
    per_value = (
        _events_grouped(spark, sf_dir)
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("a_cnt"),
            F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("b_cnt"),
        )
    )
    cum = global_running_totals(
        per_value, "value", [("a_cnt", "cum_a"), ("b_cnt", "cum_b")],
        approx_rows=table_rows(sf_dir, "events"),
    )
    tot = per_value.agg(
        F.sum("a_cnt").alias("na"), F.sum("b_cnt").alias("nb")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_a").cast("double") / F.col("na")
                    - F.col("cum_b").cast("double") / F.col("nb")
                )
            ).alias("ks_d")
        )
    )


# ---------------------------------------------------------------------------
# m_ols_regression — closed-form OLS via regression aggregates
# ---------------------------------------------------------------------------

@register(
    "m_ols_regression",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(value, extract(hour FROM ts)), 6) AS slope,
           round(regr_intercept(value, extract(hour FROM ts)), 6) AS intercept,
           round(regr_r2(value, extract(hour FROM ts)), 6) AS r2
    FROM events
    GROUP BY event_type
    """,
)
def m_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend fit (value ~ hour-of-day) via the SQL
    regression aggregates — the closed-form baseline model a serving
    team fits before reaching for ALS (the reference's bias-only model,
    prac_1_bias_only.py, is the intercept-only special case M4).

    Scale shape: regr_slope/intercept/r2 are single-pass partial-
    aggregable moments (sums of x, y, xy, x², y²) — one map-side-
    combined hash aggregation, identical cost to a grouped mean."""
    ev = _t(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope"),
        F.round(F.regr_intercept(F.col("value"), x), 6).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# e_confusion_matrix — binary classifier evaluation of the language-ID op
# ---------------------------------------------------------------------------

@register(
    "e_confusion_matrix",
    f"""
    WITH pred AS ({_LANG_SQL}),
    c AS (
        SELECT
            sum(CASE WHEN lang_guess = 'en' AND lang_actual = 'en'
                     THEN 1 ELSE 0 END) AS tp,
            sum(CASE WHEN lang_guess = 'en' AND lang_actual <> 'en'
                     THEN 1 ELSE 0 END) AS fp,
            sum(CASE WHEN lang_guess <> 'en' AND lang_actual = 'en'
                     THEN 1 ELSE 0 END) AS fn,
            sum(CASE WHEN lang_guess <> 'en' AND lang_actual <> 'en'
                     THEN 1 ELSE 0 END) AS tn
        FROM pred
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_en,
           round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall_en,
           round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1_en
    FROM c
    """,
)
def e_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1 of the engine's own
    language-ID operator as an is-English detector, judged against the
    corpus's true lang label — the standard classifier-evaluation op
    (extends E1's ranking metrics to classification; the oracle replays
    the full stopword-argmax SQL twin from t_language_id).

    Scale shape: the classifier is a per-row JVM expression; the four
    cells are one map-side-combined scalar aggregation. No shuffle
    wider than a single row."""
    from recommender_systems_spark.functions.text import language_id

    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("lang_actual"),
        language_id(F.col("text")).alias("lang_guess"),
    )
    is_tp = (F.col("lang_guess") == "en") & (F.col("lang_actual") == "en")
    is_fp = (F.col("lang_guess") == "en") & (F.col("lang_actual") != "en")
    is_fn = (F.col("lang_guess") != "en") & (F.col("lang_actual") == "en")
    is_tn = (F.col("lang_guess") != "en") & (F.col("lang_actual") != "en")
    c = pred.agg(
        F.sum(F.when(is_tp, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(is_fp, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(is_fn, 1).otherwise(0)).alias("fn"),
        F.sum(F.when(is_tn, 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(tp.cast("double") / (tp + fp), 6).alias("precision_en"),
        F.round(tp.cast("double") / (tp + fn), 6).alias("recall_en"),
        F.round(F.lit(2.0) * tp / (F.lit(2.0) * tp + fp + fn), 6).alias("f1_en"),
    )


# ---------------------------------------------------------------------------
# a_mode — deterministic per-group mode
# ---------------------------------------------------------------------------

@register(
    "a_mode",
    """
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events WHERE user_id < 100
        GROUP BY user_id, event_type
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn
        FROM c
    )
    SELECT user_id, event_type AS mode_event_type, n
    FROM r WHERE rn = 1
    """,
)
def a_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type with a TOTAL tie-break (count desc,
    then lexicographic type asc) — ``F.mode`` is non-deterministic on
    ties across engines, so the house pattern is count + row_number
    (A-family extension; same shape as W4 group-top-k).

    Scale shape: one hash aggregation on (user, type), then a window
    over the per-user handful of type rows — the window input is the
    AGGREGATE, dimension-bounded per user, not the raw events."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event_type"), "n")
    )


# ---------------------------------------------------------------------------
# a_grouping_sets — non-hierarchical grouping sets in one pass
# ---------------------------------------------------------------------------

@register(
    "a_grouping_sets",
    """
    WITH src AS (
        SELECT event_type, date_trunc('day', ts) AS day, value FROM events
    )
    SELECT event_type, day,
           CASE WHEN event_type IS NOT NULL THEN 'by_type'
                WHEN day IS NOT NULL THEN 'by_day'
                ELSE 'all' END AS set_name,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value
    FROM src
    GROUP BY GROUPING SETS ((event_type), (day), ())
    """,
)
def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent marginals (by event type, by day, grand total) from
    ONE scan via GROUPING SETS — the non-hierarchical cousin of
    a_rollup/a_cube: {(type), (day), ()} is NOT a rollup prefix chain
    and NOT the full cube, so neither existing operator expresses it.

    Scale shape: Spark plans one Expand (3 grouping sets) over a single
    scan feeding one hash aggregation — at 100 TB this replaces three
    separate jobs with one, and the shuffle carries only the tiny
    (type, day) key space. The set label derives from key nullness
    (both columns are non-null in the data) so both engines agree
    without relying on engine-specific grouping_id bit orders."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    )
    return (
        ev.groupingSets([["event_type"], ["day"], []], "event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "event_type",
            "day",
            F.when(F.col("event_type").isNotNull(), F.lit("by_type"))
            .when(F.col("day").isNotNull(), F.lit("by_day"))
            .otherwise(F.lit("all"))
            .alias("set_name"),
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# e_qte_deciles — quantile treatment effect (per-decile A/B lift)
# ---------------------------------------------------------------------------

@register(
    "e_qte_deciles",
    f"""
    WITH g AS ({_GRP_SQL}),
    per_value AS (
        SELECT value,
               sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS a_cnt,
               sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS b_cnt,
               count(*) AS tot
        FROM g GROUP BY value
    ),
    cum AS (
        SELECT value, a_cnt, b_cnt,
               sum(tot) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cumt
        FROM per_value
    ),
    tot AS (SELECT sum(tot) AS n FROM per_value),
    b AS (
        SELECT least(10, CAST(ceil(10.0 * cumt / n) AS BIGINT)) AS decile,
               value, a_cnt, b_cnt
        FROM cum CROSS JOIN tot
    )
    SELECT decile,
           CAST(sum(a_cnt) AS BIGINT) AS na,
           CAST(sum(b_cnt) AS BIGINT) AS nb,
           round(sum(value * a_cnt) / sum(a_cnt), 6) AS mean_a,
           round(sum(value * b_cnt) / sum(b_cnt), 6) AS mean_b,
           CASE WHEN sum(a_cnt) = 0 OR sum(b_cnt) = 0 THEN NULL
                ELSE round(sum(value * a_cnt) / sum(a_cnt)
                           - sum(value * b_cnt) / sum(b_cnt), 6) END AS qte
    FROM b GROUP BY decile
    """,
)
def e_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effect: the A-vs-B mean difference WITHIN
    each decile of the pooled outcome distribution — the
    distributional A/B view (a treatment that helps the tail but hurts
    the median is invisible to e_t_test_stats's single mean).

    Scale shape: deciles come from the pooled ECDF — per-distinct-value
    pre-aggregate, then the two-phase `global_running_total` cumsum
    (no single-partition window; the e_ks_test shape), bucket =
    ceil(10·cum/n) clamped, then one decile-keyed aggregation. Every
    shuffle after the first carries distinct values or 10 decile
    keys."""
    per_value = (
        _events_grouped(spark, sf_dir)
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("a_cnt"),
            F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("b_cnt"),
            F.count(F.lit(1)).alias("tot"),
        )
    )
    cum = global_running_total(
        per_value, "value", "tot", out_col="cumt",
        approx_rows=table_rows(sf_dir, "events"),
    )
    tot = per_value.agg(F.sum("tot").alias("n"))
    b = cum.crossJoin(F.broadcast(tot)).select(
        F.least(
            F.lit(10),
            F.ceil(F.lit(10.0) * F.col("cumt") / F.col("n")).cast("long"),
        ).alias("decile"),
        "value",
        "a_cnt",
        "b_cnt",
    )
    sa, sb = F.sum("a_cnt"), F.sum("b_cnt")
    mean_a = F.sum(F.col("value") * F.col("a_cnt")) / sa
    mean_b = F.sum(F.col("value") * F.col("b_cnt")) / sb
    return b.groupBy("decile").agg(
        sa.alias("na"),
        sb.alias("nb"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.when((sa == 0) | (sb == 0), F.lit(None).cast("double"))
        .otherwise(F.round(mean_a - mean_b, 6))
        .alias("qte"),
    )


# ---------------------------------------------------------------------------
# e_cuped — variance-reduced A/B estimate (CUPED)
# ---------------------------------------------------------------------------

@register(
    "e_cuped",
    f"""
    WITH g AS ({_GRP_SQL}),
    ts_us AS (SELECT *, epoch_us(ts) AS us FROM g),
    bounds AS (SELECT min(us) AS lo, max(us) AS hi FROM ts_us),
    u AS (
        SELECT user_id, max(grp) AS grp,
               round(avg(CASE WHEN us * 2 < lo + hi THEN value END), 6) AS pre,
               round(avg(CASE WHEN us * 2 >= lo + hi THEN value END), 6) AS post
        FROM ts_us CROSS JOIN bounds
        GROUP BY user_id
    ),
    k AS (SELECT * FROM u WHERE pre IS NOT NULL AND post IS NOT NULL),
    s AS (
        SELECT round(covar_pop(post, pre) / var_pop(pre), 6) AS theta,
               round(avg(pre), 6) AS mu
        FROM k
    ),
    adj AS (
        SELECT grp, post, post - theta * (pre - mu) AS a
        FROM k CROSS JOIN s
    )
    SELECT grp, CAST(count(*) AS BIGINT) AS n_users,
           round(avg(post), 6) AS mean_post,
           round(avg(a), 6) AS mean_adjusted,
           round(1 - var_samp(a) / var_samp(post), 4) AS var_reduction
    FROM adj GROUP BY grp
    """,
)
def e_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): adjust each user's
    experiment-period outcome by their pre-period covariate,
    a' = post − θ·(pre − mean(pre)) with θ = cov(post,pre)/var(pre) —
    the industry-standard way to shrink A/B confidence intervals
    without more traffic. Pre/post here split the event stream at its
    time midpoint (the midpoint test is the integer comparison
    us·2 < lo+hi — no division, exact in both engines).

    Scale shape: one user-keyed aggregation builds (pre, post) pairs;
    θ and mean(pre) are a 1-row broadcast; the adjusted arm means are
    one more partial-aggregable pass. Per-user and global statistics
    are rounded to the 6dp grid before reuse (the m_kmeans
    shared-rounded-values pattern) so both engines adjust with the
    IDENTICAL θ."""
    g = _events_grouped(spark, sf_dir).withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    bounds = g.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    u = (
        g.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max("grp").alias("grp"),
            F.round(
                F.avg(F.when(F.col("us") * 2 < F.col("lo") + F.col("hi"),
                             F.col("value"))), 6
            ).alias("pre"),
            F.round(
                F.avg(F.when(F.col("us") * 2 >= F.col("lo") + F.col("hi"),
                             F.col("value"))), 6
            ).alias("post"),
        )
    )
    k = u.filter(F.col("pre").isNotNull() & F.col("post").isNotNull())
    s = k.agg(
        F.round(
            F.covar_pop("post", "pre") / F.var_pop("pre"), 6
        ).alias("theta"),
        F.round(F.avg("pre"), 6).alias("mu"),
    )
    adj = k.crossJoin(F.broadcast(s)).select(
        "grp",
        "post",
        (F.col("post") - F.col("theta") * (F.col("pre") - F.col("mu"))).alias("a"),
    )
    return adj.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("post"), 6).alias("mean_post"),
        F.round(F.avg("a"), 6).alias("mean_adjusted"),
        F.round(
            F.lit(1) - F.var_samp("a") / F.var_samp("post"), 4
        ).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# e_diff_in_diff — 2×2 difference-in-differences estimator
# ---------------------------------------------------------------------------

@register(
    "e_diff_in_diff",
    f"""
    WITH g AS ({_GRP_SQL}),
    ts_us AS (SELECT *, epoch_us(ts) AS us FROM g),
    bounds AS (SELECT min(us) AS lo, max(us) AS hi FROM ts_us),
    cells AS (
        SELECT
            avg(CASE WHEN grp = 'A' AND us * 2 <  lo + hi THEN value END) AS pre_a,
            avg(CASE WHEN grp = 'A' AND us * 2 >= lo + hi THEN value END) AS post_a,
            avg(CASE WHEN grp = 'B' AND us * 2 <  lo + hi THEN value END) AS pre_b,
            avg(CASE WHEN grp = 'B' AND us * 2 >= lo + hi THEN value END) AS post_b,
            CAST(count(*) AS BIGINT) AS n
        FROM ts_us CROSS JOIN bounds
    )
    SELECT n,
           round(pre_a, 6) AS pre_a, round(post_a, 6) AS post_a,
           round(pre_b, 6) AS pre_b, round(post_b, 6) AS post_b,
           round((post_b - pre_b) - (post_a - pre_a), 6) AS did
    FROM cells
    """,
)
def e_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator over the 2×2 (arm ×
    pre/post) design: DiD = (post_B − pre_B) − (post_A − pre_A),
    treating arm A as the control trend — the causal-inference
    workhorse when randomisation is imperfect (complements e_cuped's
    variance reduction; same integer-time midpoint split).

    Scale shape: ONE conditional-aggregate pass over the events scan
    (four cell means from the same map-side-combined aggregation) after
    a 1-row bounds broadcast. Nothing shuffles but partial
    aggregates."""
    g = _events_grouped(spark, sf_dir).withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    bounds = g.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    is_pre = F.col("us") * 2 < F.col("lo") + F.col("hi")
    cells = g.crossJoin(F.broadcast(bounds)).agg(
        F.avg(F.when((F.col("grp") == "A") & is_pre, F.col("value"))).alias("pre_a"),
        F.avg(F.when((F.col("grp") == "A") & ~is_pre, F.col("value"))).alias("post_a"),
        F.avg(F.when((F.col("grp") == "B") & is_pre, F.col("value"))).alias("pre_b"),
        F.avg(F.when((F.col("grp") == "B") & ~is_pre, F.col("value"))).alias("post_b"),
        F.count(F.lit(1)).alias("n"),
    )
    return cells.select(
        "n",
        F.round("pre_a", 6).alias("pre_a"),
        F.round("post_a", 6).alias("post_a"),
        F.round("pre_b", 6).alias("pre_b"),
        F.round("post_b", 6).alias("post_b"),
        F.round(
            (F.col("post_b") - F.col("pre_b")) - (F.col("post_a") - F.col("pre_a")),
            6,
        ).alias("did"),
    )


# ---------------------------------------------------------------------------
# e_srm_guard — sample-ratio-mismatch check
# ---------------------------------------------------------------------------

@register(
    "e_srm_guard",
    f"""
    WITH g AS ({_GRP_SQL}),
    units AS (SELECT DISTINCT user_id, grp FROM g),
    c AS (
        SELECT
            sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS na,
            sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS nb
        FROM units
    )
    SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           round(pow(na - (na + nb) / 2.0, 2) / ((na + nb) / 2.0)
                 + pow(nb - (na + nb) / 2.0, 2) / ((na + nb) / 2.0), 6)
               AS chi2_srm,
           (pow(na - (na + nb) / 2.0, 2) / ((na + nb) / 2.0)
            + pow(nb - (na + nb) / 2.0, 2) / ((na + nb) / 2.0)
            > 3.841458820694124) AS srm_detected
    FROM c
    """,
)
def e_srm_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard: chi-squared goodness-of-fit of the
    experiment's UNIT counts (distinct users per arm) against the
    designed 50/50 split, flagged at the 95% critical value (1 dof) —
    the gate every experimentation platform runs before reading any
    metric, because a biased assignment invalidates them all (the
    reference asserts exact group-size equality instead,
    ab_test.py:247-251 — this is that guard for unequal-but-random
    splits).

    Scale shape: one distinct on (user, arm) — the only shuffle — then
    a scalar aggregate. Counts are exact integers; the statistic is
    one shared expression over them."""
    units = _events_grouped(spark, sf_dir).select("user_id", "grp").distinct()
    c = units.agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("nb"),
    )
    exp = (F.col("na") + F.col("nb")) / 2.0
    chi2 = F.pow(F.col("na") - exp, 2) / exp + F.pow(F.col("nb") - exp, 2) / exp
    return c.select(
        "na",
        "nb",
        F.round(chi2, 6).alias("chi2_srm"),
        (chi2 > F.lit(3.841458820694124)).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# m_survival_km — Kaplan-Meier survival estimator
# ---------------------------------------------------------------------------

_KM_SCALE = 1_000_000

_KM_DUR = """
    u AS (
        SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
    ),
    obs_end AS (SELECT max(ts) AS tmax FROM events),
    conv AS (
        SELECT e.user_id, min(e.ts) AS tconv
        FROM events e JOIN u ON u.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > u.t0
        GROUP BY e.user_id
    ),
    dur AS (
        SELECT u.user_id,
               CASE WHEN c.tconv IS NOT NULL
                    THEN date_diff('microsecond', u.t0, c.tconv)
                    ELSE date_diff('microsecond', u.t0, obs_end.tmax) END
                   AS dur_us,
               CASE WHEN c.tconv IS NOT NULL THEN 1 ELSE 0 END AS converted
        FROM u LEFT JOIN conv c ON c.user_id = u.user_id
        CROSS JOIN obs_end
    )
"""

_KM_SQL = f"""
    WITH {_KM_DUR},
    t AS (
        SELECT dur_us,
               sum(converted) AS d,
               sum(1 - converted) AS cens
        FROM dur GROUP BY dur_us
    ),
    n0 AS (SELECT sum(d + cens) AS n_total FROM t),
    r AS (
        SELECT dur_us, d, cens,
               n_total
               - COALESCE(sum(d + cens) OVER (ORDER BY dur_us
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM t CROSS JOIN n0
    ),
    ev AS (
        SELECT dur_us, d, n_risk,
               CAST(round(ln(greatest(1.0 - CAST(d AS DOUBLE) / n_risk, 1e-12))
                          * {_KM_SCALE}) AS BIGINT) AS lnterm
        FROM r WHERE d > 0
    ),
    s AS (
        SELECT dur_us, d, n_risk,
               sum(lnterm) OVER (ORDER BY dur_us
                                 ROWS UNBOUNDED PRECEDING) AS lnsum
        FROM ev
    )
    SELECT CAST(dur_us AS BIGINT) AS dur_us,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d,
           round(exp(CAST(lnsum AS DOUBLE) / {_KM_SCALE}), 6) AS s_km
    FROM s
    """


@register("m_survival_km", _KM_SQL)
def m_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator for time-to-conversion: each
    user's duration runs from their first event to their first
    subsequent 'purchase' (event) or to the observation end (censored);
    S(t) = Π over event times ≤ t of (1 − d_i/n_i) — the standard
    censoring-correct time-to-event curve (subscription/churn
    analytics; the naive conversion-rate-by-day curve is biased by
    censoring, which is the whole reason KM exists).

    Scale shape: durations are one user-keyed aggregation; the risk
    set n_i and the log-survival accumulation are TWO two-phase
    range-partitioned cumsums over DISTINCT durations
    (global_running_totals — no single-partition window at any size).
    The product becomes a sum via integer-millionth log terms (the
    t_surprisal convention), so both engines accumulate exactly and
    exp() of the identical double rounds identically. d = n_i
    (survival hits zero) is capped at ln(1e-12) so S rounds to 0
    without a special case."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    obs_end = ev.agg(F.max("ts").alias("tmax"))
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tconv"))
    )
    dur = (
        u.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(obs_end))
        .select(
            F.when(
                F.col("tconv").isNotNull(),
                F.unix_micros(F.col("tconv").cast("timestamp"))
                - F.unix_micros(F.col("t0").cast("timestamp")),
            )
            .otherwise(
                F.unix_micros(F.col("tmax").cast("timestamp"))
                - F.unix_micros(F.col("t0").cast("timestamp"))
            )
            .alias("dur_us"),
            F.when(F.col("tconv").isNotNull(), 1).otherwise(0).alias("converted"),
        )
    )
    t = dur.groupBy("dur_us").agg(
        F.sum("converted").alias("d"),
        F.sum(F.lit(1) - F.col("converted")).alias("cens"),
    ).withColumn("leave", F.col("d") + F.col("cens"))
    cum = global_running_totals(
        t, "dur_us", [("leave", "cum_leave")],
        approx_rows=table_rows(sf_dir, "events"),
    )
    # Total-at-risk rides the running total's checkpointed (materialised
    # by its offsets collect)
    # duration table (Σleave is the same exact integer) instead of
    # re-executing t's whole events→join→groupBy lineage for one
    # scalar (round-13; the a_cvar pattern).
    n0 = cum.agg(F.sum("leave").alias("n_total"))
    r = cum.crossJoin(F.broadcast(n0)).select(
        "dur_us",
        "d",
        (F.col("n_total") - (F.col("cum_leave") - F.col("leave"))).alias("n_risk"),
    )
    ev_rows = r.filter(F.col("d") > 0).select(
        "dur_us",
        "d",
        "n_risk",
        F.round(
            F.log(
                F.greatest(
                    F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"),
                    F.lit(1e-12),
                )
            )
            * _KM_SCALE
        )
        .cast("long")
        .alias("lnterm"),
    )
    s = global_running_totals(
        ev_rows, "dur_us", [("lnterm", "lnsum")],
        approx_rows=table_rows(sf_dir, "events"),
    )
    return s.select(
        F.col("dur_us").cast("long").alias("dur_us"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.round(F.exp(F.col("lnsum").cast("double") / _KM_SCALE), 6).alias("s_km"),
    )


# ---------------------------------------------------------------------------
# e_permutation_test — hash-deterministic permutation test
# ---------------------------------------------------------------------------

PERM_K = 40

# Unit-level relabeling draw: parity of a 13-hex-digit md5 prefix keyed
# by (user, permutation index) — the sampling.py hash-draw convention,
# inlined here so this module keeps zero sibling-module imports.
def _perm_parity_sql(k: int) -> str:
    return (
        f"CAST('0x' || substring(md5(CAST(user_id AS VARCHAR) || '_p{k}'), 1, 13)"
        f" AS BIGINT) % 2"
    )


_PERM_DIFFS = ", ".join(
    f"round(avg(CASE WHEN {_perm_parity_sql(k)} = 0 THEN m END)"
    f" - avg(CASE WHEN {_perm_parity_sql(k)} = 1 THEN m END), 6) AS d_{k}"
    for k in range(PERM_K)
)
_PERM_EXTREME = " + ".join(
    f"(CASE WHEN abs(d_{k}) >= abs(obs_diff) THEN 1 ELSE 0 END)"
    for k in range(PERM_K)
)

_PERM_SQL = f"""
    WITH g AS ({_GRP_SQL}),
    u AS (
        SELECT user_id, max(grp) AS grp, round(avg(value), 6) AS m
        FROM g GROUP BY user_id
    ),
    d AS (
        SELECT round(avg(CASE WHEN grp = 'A' THEN m END)
                     - avg(CASE WHEN grp = 'B' THEN m END), 6) AS obs_diff,
               {_PERM_DIFFS}
        FROM u
    )
    SELECT obs_diff,
           CAST({PERM_K} AS BIGINT) AS n_perms,
           CAST({_PERM_EXTREME} AS BIGINT) AS n_extreme,
           round((1.0 + ({_PERM_EXTREME})) / (1.0 + {PERM_K}), 6) AS p_value
    FROM d
    """


@register("e_permutation_test", _PERM_SQL)
def e_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation (randomisation) test of the arm difference in
    per-user mean outcome: the observed A−B difference is compared
    against {PERM_K} unit-level relabelings, p = (1 + #extreme) /
    (1 + K) — the assumption-free alternative to the t test (E5) when
    normality is doubtful. Relabelings are md5-parity draws keyed by
    (user, permutation), so both engines generate the IDENTICAL
    permutation set and the whole test is value-hash checkable (no
    seeded RNG divergence).

    Scale shape: one user-keyed aggregation, then ONE scalar
    aggregation evaluating all {PERM_K} relabeled differences as
    sibling conditional aggregates over the unit frame — the K
    permutations cost K extra expressions in a single pass, not K
    jobs. Per-user means round to the 6dp grid before comparison, so
    the extreme-count is exact in both engines."""
    u = (
        _events_grouped(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.max("grp").alias("grp"),
            F.round(F.avg("value"), 6).alias("m"),
        )
    )

    # The K+1 sibling aggregates are assembled as SQL STRINGS (one
    # F.expr py4j call each) rather than nested Column builders: the
    # Column form was measured at ~1.6 s of driver-side construction
    # per run — K×~15 py4j round trips plus eager re-analysis per
    # .agg argument — vs ~0.1 s for the parsed form. Identical plan,
    # identical values; pure driver fixed-cost removal.
    def parity_sql(k: int) -> str:
        return (
            "(cast(conv(substring(md5(concat(cast(user_id as string), "
            f"'_p{k}')), 1, 13), 16, 10) as bigint) % 2)"
        )

    aggs = [
        F.expr(
            "round(avg(case when grp = 'A' then m end) - "
            "avg(case when grp = 'B' then m end), 6)"
        ).alias("obs_diff")
    ]
    for k in range(PERM_K):
        p = parity_sql(k)
        aggs.append(
            F.expr(
                f"round(avg(case when {p} = 0 then m end) - "
                f"avg(case when {p} = 1 then m end), 6)"
            ).alias(f"d_{k}")
        )
    d = u.agg(*aggs)
    extreme = "(" + " + ".join(
        f"(case when abs(d_{k}) >= abs(obs_diff) then 1 else 0 end)"
        for k in range(PERM_K)
    ) + ")"
    return d.select(
        "obs_diff",
        F.lit(PERM_K).cast("long").alias("n_perms"),
        F.expr(f"cast({extreme} as bigint)").alias("n_extreme"),
        F.expr(
            f"round((1.0d + {extreme}) / {1.0 + PERM_K}d, 6)"
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# m_logreg_train — in-plan logistic regression (fixed-iteration GD)
# ---------------------------------------------------------------------------

LOGREG_ITERS = 3
LOGREG_LR = 1.0
_LR_FEATS = ["x0", "x1", "x2", "x3"]


def _lr_sigma(wcte: str) -> str:
    dot = " + ".join(f"{wcte}.w_{j} * {x}" for j, x in enumerate(_LR_FEATS))
    return f"1.0 / (1.0 + exp(-({dot})))"


def _lr_sql() -> str:
    ctes = [
        """
    f AS (
        SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               1.0 AS x0,
               round(length(text) / 1000.0, 6) AS x1,
               round((length(text) - length(replace(text, ' ', '')))
                     / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS x2,
               round(length(text) / (10.0 * greatest(
                     length(text) - length(replace(text, ' ', '')) + 1, 1)), 6)
                   AS x3
        FROM documents
    )""",
        "w0 AS (SELECT "
        + ", ".join(f"0.0 AS w_{j}" for j in range(len(_LR_FEATS)))
        + ")",
    ]
    for i in range(1, LOGREG_ITERS + 1):
        p = _lr_sigma(f"w{i - 1}")
        grads = ", ".join(
            f"avg(({p} - y) * {x}) AS g_{j}" for j, x in enumerate(_LR_FEATS)
        )
        ctes.append(f"g{i} AS (SELECT {grads} FROM f CROSS JOIN w{i - 1})")
        upd = ", ".join(
            f"round(w{i - 1}.w_{j} - {LOGREG_LR} * g{i}.g_{j}, 6) AS w_{j}"
            for j in range(len(_LR_FEATS))
        )
        ctes.append(f"w{i} AS (SELECT {upd} FROM w{i - 1} CROSS JOIN g{i})")
    wf = f"w{LOGREG_ITERS}"
    p = _lr_sigma(wf)
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT {", ".join(f"{wf}.w_{j}" for j in range(len(_LR_FEATS)))},
           round(avg(CASE WHEN (round({p}, 6) >= 0.5) = (y = 1.0)
                          THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
           round(avg(-(y * ln({p}) + (1.0 - y) * ln(1.0 - ({p})))), 6)
               AS log_loss
    FROM f CROSS JOIN {wf}
    GROUP BY {", ".join(f"{wf}.w_{j}" for j in range(len(_LR_FEATS)))}
"""
    )


@register("m_logreg_train", _lr_sql())
def m_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression training INSIDE one lazy plan: {LOGREG_ITERS}
    full-batch gradient-descent steps for an is-English classifier over
    three cheap surface features (length, space ratio, mean word
    length), then accuracy + log-loss on the training frame. The whole
    loop — model state included — is DataFrame algebra: weights live in
    a 1-row broadcast frame, each step is one partial-aggregable
    gradient pass, and nothing is ever collected to the driver (compare
    ml/als.py, which collects k×k Grams by design; here even that is
    avoided). The fixed iteration count and 6dp-rounded weight updates
    unroll the loop into the DuckDB oracle (g_pagerank pattern for
    iterative algorithms).

    Scale shape: per iteration ONE scan-wide aggregation (4 doubles of
    state); features are rounded to the 6dp grid before any cross-
    engine arithmetic; the verdict uses the ROUNDED probability
    (t_quality_classifier convention) so threshold ties can't flip."""
    docs = _t(spark, sf_dir, "documents")
    n = F.length("text")
    sp = n - F.length(F.regexp_replace("text", " ", ""))
    f = docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("x0"),
        F.round(n / 1000.0, 6).alias("x1"),
        F.round(sp / F.greatest(n, F.lit(1)).cast("double"), 6).alias("x2"),
        F.round(n / (10.0 * F.greatest(sp + 1, F.lit(1))), 6).alias("x3"),
    )
    w = spark.range(1).select(
        *[F.lit(0.0).alias(f"w_{j}") for j in range(len(_LR_FEATS))]
    )
    for _ in range(LOGREG_ITERS):
        dot = sum(
            (F.col(f"w_{j}") * F.col(x) for j, x in enumerate(_LR_FEATS)),
            F.lit(0.0),
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-dot))
        w = (
            f.crossJoin(F.broadcast(w))
            .agg(
                *[
                    F.round(
                        F.max(F.col(f"w_{j}"))
                        - LOGREG_LR * F.avg((p - F.col("y")) * F.col(x)),
                        6,
                    ).alias(f"w_{j}")
                    for j, x in enumerate(_LR_FEATS)
                ]
            )
        )
    dot = sum(
        (F.col(f"w_{j}") * F.col(x) for j, x in enumerate(_LR_FEATS)), F.lit(0.0)
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-dot))
    correct = F.when(
        (F.round(p, 6) >= 0.5) == (F.col("y") == 1.0), 1.0
    ).otherwise(0.0)
    return (
        f.crossJoin(F.broadcast(w))
        .groupBy(*[F.col(f"w_{j}") for j in range(len(_LR_FEATS))])
        .agg(
            F.round(F.avg(correct), 6).alias("accuracy"),
            F.round(
                F.avg(
                    -(
                        F.col("y") * F.log(p)
                        + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
                    )
                ),
                6,
            ).alias("log_loss"),
        )
    )


# ---------------------------------------------------------------------------
# e_hte_segments — heterogeneous treatment effects by customer segment
# ---------------------------------------------------------------------------

@register(
    "e_hte_segments",
    f"""
    WITH g AS ({_GRP_SQL}),
    j AS (
        SELECT c.c_mktsegment AS segment, g.grp, g.value
        FROM g JOIN customer c ON c.c_custkey = g.user_id
    ),
    s AS (
        SELECT segment,
               avg(CASE WHEN grp = 'A' THEN value END) AS ma,
               avg(CASE WHEN grp = 'B' THEN value END) AS mb,
               var_samp(CASE WHEN grp = 'A' THEN value END) AS va,
               var_samp(CASE WHEN grp = 'B' THEN value END) AS vb,
               sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS nb
        FROM j GROUP BY segment
    )
    SELECT segment,
           CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           round(ma - mb, 6) AS effect,
           round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat
    FROM s
    """,
)
def e_hte_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effects: the A−B outcome difference and
    its Welch t statistic WITHIN each customer market segment — the
    forest-plot data behind "did the treatment help everyone or just
    one cohort?" (segment dimension from the star schema, so this is
    the e_t_test_stats statistic composed with a J1-style dim join).

    Scale shape: one broadcast dim join (customer is dimension-sized)
    feeding one segment-keyed conditional aggregation — per-segment
    means/variances/counts from a single pass, the same
    sufficient-statistic shape as e_t_test_stats but grouped."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    j = _events_grouped(spark, sf_dir).join(F.broadcast(cust), "user_id")
    a = F.when(F.col("grp") == "A", F.col("value"))
    b = F.when(F.col("grp") == "B", F.col("value"))
    s = j.groupBy("segment").agg(
        F.avg(a).alias("ma"),
        F.avg(b).alias("mb"),
        F.var_samp(a).alias("va"),
        F.var_samp(b).alias("vb"),
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("nb"),
    )
    se = F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb"))
    return s.select(
        "segment",
        "na",
        "nb",
        F.round(F.col("ma") - F.col("mb"), 6).alias("effect"),
        F.round((F.col("ma") - F.col("mb")) / se, 6).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# a_mad — median absolute deviation (robust scale) per group
# ---------------------------------------------------------------------------

@register(
    "a_mad",
    """
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
        FROM events e JOIN med m USING (event_type)
    )
    SELECT event_type,
           round(max(med), 6) AS median_value,
           round(quantile_cont(adev, 0.5), 6) AS mad
    FROM dev GROUP BY event_type
    """,
)
def a_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust scale
    estimate outlier pipelines use where variance is poisoned by the
    outliers themselves (complements a_winsorize's robust location and
    s_anomaly_zscore's parametric z). MAD = median(|x − median(x)|):
    two grouped exact-percentile passes with the group medians
    broadcast back between them.

    Scale shape: both medians are grouped percentile aggregations on
    the same (event_type) key — the deviation join is against the
    TYPE-sized median table (broadcast), so the data shuffles twice on
    the same small key space and nothing else moves. Both engines use
    the same linear-interpolation percentile definition (established
    by a_group_agg A4)."""
    ev = _t(spark, sf_dir, "events")
    # Median snapped to the 6dp grid before it feeds the deviation pass
    # (same cross-engine-reuse rule as a_runs_test).
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev"), "med"
    )
    return dev.groupBy("event_type").agg(
        F.round(F.max("med"), 6).alias("median_value"),
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad"),
    )


# ---------------------------------------------------------------------------
# a_benford_test — first-digit distribution conformity (data quality)
# ---------------------------------------------------------------------------

# log10(1 + 1/d), rounded to the 6dp grid — identical literals both sides.
_BENFORD_P = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}
_BENFORD_CASE = " ".join(
    f"WHEN d = {d} THEN {p}" for d, p in _BENFORD_P.items()
)

_BENFORD_SQL = f"""
    WITH i AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE value > 0
    ),
    d AS (
        SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS d
        FROM i WHERE cents > 0
    ),
    c AS (SELECT d, CAST(count(*) AS BIGINT) AS o FROM d GROUP BY d),
    tot AS (SELECT sum(o) AS n FROM c)
    SELECT d, o,
           round(CAST(o AS DOUBLE) / n, 6) AS observed_p,
           CASE {_BENFORD_CASE} END AS benford_p,
           round(pow(o - n * (CASE {_BENFORD_CASE} END), 2)
                 / (n * (CASE {_BENFORD_CASE} END)), 6) AS chi2_term
    FROM c CROSS JOIN tot
"""


@register("a_benford_test", _BENFORD_SQL)
def a_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformity of the value column's first significant
    digit — the forensic data-quality screen (fabricated or
    unit-mangled numeric columns break the log-uniform digit law; a
    fraud/ETL-bug detector that needs no labels). Emits the per-digit
    observed share, the Benford expectation, and the chi-squared term.

    Parity note: the first digit comes from the INTEGER STRING of
    exact cents (value has 2dp, so round(value·100) is exact) — never
    from floor(log10(x)), whose boundary behaviour at powers of ten is
    libm-dependent. Expected shares are shared 6dp literals.

    Scale shape: one scan → 9-row digit aggregate; everything after is
    digit-sized."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(cents.alias("cents")).filter(F.col("cents") > 0).select(
        F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias("d")
    )
    c = d.groupBy("d").agg(F.count(F.lit(1)).alias("o"))
    tot = c.agg(F.sum("o").alias("n"))
    bp = F.lit(None).cast("double")
    for dig, p in reversed(list(_BENFORD_P.items())):
        bp = F.when(F.col("d") == dig, F.lit(p)).otherwise(bp)
    return c.crossJoin(F.broadcast(tot)).select(
        "d",
        "o",
        F.round(F.col("o").cast("double") / F.col("n"), 6).alias("observed_p"),
        bp.alias("benford_p"),
        F.round(
            F.pow(F.col("o") - F.col("n") * bp, 2) / (F.col("n") * bp), 6
        ).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# a_runs_test — Wald-Wolfowitz runs test for randomness over time
# ---------------------------------------------------------------------------

@register(
    "a_runs_test",
    """
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY event_type
    ),
    s AS (
        SELECT e.event_type,
               CASE WHEN e.value > m.med THEN 1 ELSE 0 END AS sgn,
               lag(CASE WHEN e.value > m.med THEN 1 ELSE 0 END)
                   OVER (PARTITION BY e.event_type
                         ORDER BY e.ts, e.event_id) AS prev
        FROM events e JOIN med m USING (event_type)
    ),
    agg AS (
        SELECT event_type,
               sum(CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0 END)
                   AS r,
               sum(sgn) AS n1,
               sum(1 - sgn) AS n2
        FROM s GROUP BY event_type
    )
    SELECT event_type,
           CAST(r AS BIGINT) AS n_runs,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (pow(n1 + n2, 2) * (n1 + n2 - 1))), 6) AS z
    FROM agg
    """,
)
def a_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type: are above/below-median
    values randomly interleaved over time, or do they clump (trend or
    regime shifts the mean-based tests can't see)? Counts sign runs
    over the (ts, event_id)-total-ordered stream and standardises
    against the exact run-count moments.

    Scale shape: the median table is type-sized (broadcast back, the
    a_mad chassis); the sign + lag ride ONE type-partitioned window;
    runs and sign counts collapse in the same shuffle's aggregate —
    counts are exact integers, so only the final z needs the 6dp
    round."""
    ev = _t(spark, sf_dir, "events")
    # Snap the interpolated median to the 6dp grid before the row-level
    # comparison (house rule: learned/interpolated values round before
    # cross-engine reuse) — a 1-ulp engine difference at an even-count
    # midpoint would otherwise flip sgn for values sitting exactly there.
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    sgn = F.when(F.col("value") > F.col("med"), 1).otherwise(0)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.join(F.broadcast(med), "event_type").select(
        "event_type", sgn.alias("sgn"), F.lag(sgn).over(w).alias("prev")
    )
    agg = s.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("sgn") != F.col("prev")), 1
            ).otherwise(0)
        ).alias("r"),
        F.sum("sgn").alias("n1"),
        F.sum(F.lit(1) - F.col("sgn")).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    sig = F.sqrt(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / (F.pow(n1 + n2, 2) * (n1 + n2 - 1))
    )
    return agg.select(
        "event_type",
        r.alias("n_runs"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        F.round((r - mu) / sig, 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# a_autocorr — lag-1 serial correlation per event type
# ---------------------------------------------------------------------------

@register(
    "a_autocorr",
    """
    WITH s AS (
        SELECT event_type, value,
               lag(value) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS prev
        FROM events
    )
    SELECT event_type,
           CAST(count(prev) AS BIGINT) AS n_pairs,
           round(corr(value, prev), 6) AS lag1_autocorr
    FROM s WHERE prev IS NOT NULL
    GROUP BY event_type
    """,
)
def a_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 serial correlation of the value stream per event type —
    the independence check behind every i.i.d.-assuming statistic in
    the E-family (a_runs_test's parametric sibling: runs detect sign
    clumping, autocorrelation detects linear memory).

    Scale shape: one type-partitioned window for the lag, then the
    Pearson aggregate (algebraic moments, map-side combined) in the
    same shuffle. Only the correlation itself is rounded."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", "value", F.lag("value").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    return s.groupBy("event_type").agg(
        F.count("prev").alias("n_pairs"),
        F.round(F.corr("value", "prev"), 6).alias("lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# a_weighted_median — exact distributed weighted median
# ---------------------------------------------------------------------------

@register(
    "a_weighted_median",
    """
    WITH per_value AS (
        SELECT event_type, value, CAST(count(*) AS BIGINT) AS w
        FROM events GROUP BY event_type, value
    ),
    cum AS (
        SELECT event_type, value, w,
               sum(w) OVER (PARTITION BY event_type ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS cw
        FROM per_value
    ),
    tot AS (
        SELECT event_type, sum(w) AS t FROM per_value GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(t.t AS BIGINT) AS total_weight,
           min(c.value) AS weighted_median
    FROM cum c JOIN tot t USING (event_type)
    WHERE c.cw * 2 >= t.t
    GROUP BY c.event_type, t.t
    """,
)
def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group — the first value whose
    cumulative weight reaches half the total (lower weighted median;
    here weights are occurrence counts, so it doubles as an exact
    frequency-weighted median that never samples). The percentile
    built-ins interpolate between rows; the weighted median is a
    SELECTED data value, which matters when values are prices or
    latencies that must exist in the data.

    Scale shape: pre-aggregate to (group, distinct value, weight),
    cumulate within each group's ordinary partitioned window (groups
    parallelise; no global window), then one group-sized reduction
    picks the crossing value via min-over-qualifying. Integer weights
    end-to-end — nothing to round."""
    ev = _t(spark, sf_dir, "events")
    per_value = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("w")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_value.withColumn("cw", F.sum("w").over(w))
    tot = per_value.groupBy("event_type").agg(F.sum("w").alias("t"))
    return (
        cum.join(F.broadcast(tot), "event_type")
        .filter(F.col("cw") * 2 >= F.col("t"))
        .groupBy("event_type", "t")
        .agg(F.min("value").alias("weighted_median"))
        .select(
            "event_type",
            F.col("t").alias("total_weight"),
            "weighted_median",
        )
    )


# ---------------------------------------------------------------------------
# e_sequential_test — always-valid inference (mixture SPRT)
# ---------------------------------------------------------------------------

_MSPRT_TAU2 = 1.0     # mixture variance of the effect prior
_MSPRT_ALPHA = 0.05


@register(
    "e_sequential_test",
    f"""
    WITH g AS ({_GRP_SQL}),
    daily AS (
        SELECT date_trunc('day', ts) AS day,
               sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS nb,
               sum(CASE WHEN grp = 'A' THEN value ELSE 0 END) AS sa,
               sum(CASE WHEN grp = 'B' THEN value ELSE 0 END) AS sb,
               sum(CASE WHEN grp = 'A' THEN value * value ELSE 0 END) AS qa,
               sum(CASE WHEN grp = 'B' THEN value * value ELSE 0 END) AS qb
        FROM g GROUP BY 1
    ),
    cum AS (
        SELECT day,
               sum(na) OVER w AS cna, sum(nb) OVER w AS cnb,
               sum(sa) OVER w AS csa, sum(sb) OVER w AS csb,
               sum(qa) OVER w AS cqa, sum(qb) OVER w AS cqb
        FROM daily
        WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    stat AS (
        SELECT day, CAST(cna AS BIGINT) AS na, CAST(cnb AS BIGINT) AS nb,
               round(csa / cna - csb / cnb, 6) AS delta,
               round((cqa + cqb - cna * pow(csa / cna, 2)
                      - cnb * pow(csb / cnb, 2)) / (cna + cnb - 2), 6) AS s2,
               round(CAST(cna AS DOUBLE) * cnb / (cna + cnb), 6) AS neff
        FROM cum WHERE cna > 1 AND cnb > 1
    )
    SELECT day, na, nb, delta,
           round(0.5 * ln(2.0 * s2 / (2.0 * s2 + {_MSPRT_TAU2} * neff))
                 + pow(neff * delta, 2) * {_MSPRT_TAU2}
                   / (4.0 * s2 * (2.0 * s2 + {_MSPRT_TAU2} * neff)), 6)
               AS log_lambda,
           (0.5 * ln(2.0 * s2 / (2.0 * s2 + {_MSPRT_TAU2} * neff))
            + pow(neff * delta, 2) * {_MSPRT_TAU2}
              / (4.0 * s2 * (2.0 * s2 + {_MSPRT_TAU2} * neff))
            > ln(1.0 / {_MSPRT_ALPHA})) AS rejected
    FROM stat
    """,
)
def e_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential test (mixture SPRT, Johari et al. 2017):
    for every day of the experiment, the running log mixture-likelihood
    ratio of the arm difference and whether it has crossed the
    ln(1/α) boundary — the "peek whenever you like" replacement for
    the fixed-horizon t test (E5), which inflates false positives
    under continuous monitoring.

    Scale shape: events collapse to per-day sufficient statistics
    (6 sums per day — calendar-sized) BEFORE any window; the running
    totals then cumulate over the tiny day series. Running stats snap
    to the 6dp grid before the Λ formula (shared-rounded-values rule),
    so both engines evaluate the identical closed form."""
    g = _events_grouped(spark, sf_dir)
    daily = g.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("grp") == "A", F.col("value")).otherwise(0.0)).alias("sa"),
        F.sum(F.when(F.col("grp") == "B", F.col("value")).otherwise(0.0)).alias("sb"),
        F.sum(
            F.when(F.col("grp") == "A", F.col("value") * F.col("value")).otherwise(0.0)
        ).alias("qa"),
        F.sum(
            F.when(F.col("grp") == "B", F.col("value") * F.col("value")).otherwise(0.0)
        ).alias("qb"),
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The day series is calendar-sized (one row per day), so this
    # single-partition window is the k×k rule, not a scale hazard.
    cum = daily.select(
        "day",
        F.sum("na").over(w).alias("cna"),
        F.sum("nb").over(w).alias("cnb"),
        F.sum("sa").over(w).alias("csa"),
        F.sum("sb").over(w).alias("csb"),
        F.sum("qa").over(w).alias("cqa"),
        F.sum("qb").over(w).alias("cqb"),
    ).filter((F.col("cna") > 1) & (F.col("cnb") > 1))
    cna, cnb = F.col("cna"), F.col("cnb")
    stat = cum.select(
        "day",
        cna.alias("na"),
        cnb.alias("nb"),
        F.round(F.col("csa") / cna - F.col("csb") / cnb, 6).alias("delta"),
        F.round(
            (
                F.col("cqa")
                + F.col("cqb")
                - cna * F.pow(F.col("csa") / cna, 2)
                - cnb * F.pow(F.col("csb") / cnb, 2)
            )
            / (cna + cnb - 2),
            6,
        ).alias("s2"),
        F.round(cna.cast("double") * cnb / (cna + cnb), 6).alias("neff"),
    )
    s2, neff, delta = F.col("s2"), F.col("neff"), F.col("delta")
    log_lambda = (
        0.5 * F.log(2.0 * s2 / (2.0 * s2 + _MSPRT_TAU2 * neff))
        + F.pow(neff * delta, 2)
        * _MSPRT_TAU2
        / (4.0 * s2 * (2.0 * s2 + _MSPRT_TAU2 * neff))
    )
    import math

    return stat.select(
        "day",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        "delta",
        F.round(log_lambda, 6).alias("log_lambda"),
        (log_lambda > math.log(1.0 / _MSPRT_ALPHA)).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# e_ratio_metric — delta-method inference for ratio metrics
# ---------------------------------------------------------------------------

@register(
    "e_ratio_metric",
    f"""
    WITH g AS ({_GRP_SQL}),
    u AS (
        SELECT user_id, max(grp) AS grp,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS x,
               CAST(sum(CASE WHEN event_type = 'view'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS y
        FROM g GROUP BY user_id
    ),
    s AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               avg(x) AS mx, avg(y) AS my,
               var_samp(x) AS vx, var_samp(y) AS vy,
               covar_samp(x, y) AS cxy
        FROM u WHERE y > 0 GROUP BY grp
    )
    SELECT grp, n,
           round(mx / my, 6) AS ratio,
           round(sqrt((vx - 2 * (mx / my) * cxy
                       + pow(mx / my, 2) * vy)
                      / (n * my * my)), 6) AS se_delta
    FROM s
    """,
)
def e_ratio_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-metric inference via the delta method: purchases-per-view
    per arm with the CORRECT standard error — the naive per-event
    binomial SE is wrong because both numerator and denominator are
    per-user random variables (cluster randomisation), which is why
    every experimentation platform ships delta-method ratios
    (Deng et al. 2018 next to e_cuped's Deng 2013).

    Scale shape: one user-keyed aggregation builds (x, y) pairs; the
    delta-method moments (means, variances, covariance) are one more
    partial-aggregable pass per arm. SE formula evaluates on the
    grouped moments — nothing wider than an arm row ever moves."""
    g = _events_grouped(spark, sf_dir)
    u = g.groupBy("user_id").agg(
        F.max("grp").alias("grp"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    )
    s = u.filter(F.col("y") > 0).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
    )
    r = F.col("mx") / F.col("my")
    se = F.sqrt(
        (F.col("vx") - 2 * r * F.col("cxy") + F.pow(r, 2) * F.col("vy"))
        / (F.col("n") * F.col("my") * F.col("my"))
    )
    return s.select(
        "grp",
        "n",
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se_delta"),
    )


# ---------------------------------------------------------------------------
# a_seasonality_index — day-of-week × hour traffic/value profile
# ---------------------------------------------------------------------------

_SEASON_SQL = """
    WITH b AS (
        SELECT epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    cell AS (
        SELECT CAST(((us // 86400000000) + 4) % 7 AS INT) AS dow,
               CAST((us // 3600000000) % 24 AS INT) AS hour,
               COUNT(*) AS n, SUM(cents) AS s
        FROM b GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS gn, SUM(s) AS gs FROM cell)
    SELECT dow, hour, CAST(n AS BIGINT) AS n_events,
           round(s / (100.0 * n), 6) AS mean_value,
           round((CAST(s AS DOUBLE) * gn) / (CAST(n AS DOUBLE) * gs), 6)
               AS seasonality_index
    FROM cell CROSS JOIN tot
"""


@register("a_seasonality_index", _SEASON_SQL)
def a_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour seasonality profile: per-cell event count,
    mean value, and the seasonality index (cell mean ÷ global mean) —
    the calendar heat-map behind load forecasting, anomaly baselines
    (s_anomaly_zscore detrends against exactly this kind of profile)
    and experiment scheduling. Calendar cells come from pure epoch
    integer arithmetic (day = µs // 86 400e6, epoch day 0 = Thursday →
    +4 mod 7; hour = µs // 3 600e6 mod 24), NOT engine date functions —
    timezone/locale-free and bit-identical across engines.

    Scale shape: one scan, one 168-key hash aggregate (map-side
    partials collapse everything), one broadcast of the 1-row global
    total. Parity: values ride integer cents so cell sums are exact;
    mean and index are single exact-operand IEEE divisions rounded to
    6dp."""
    b = _t(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cell = (
        b.select(
            F.expr("CAST(((us div 86400000000) + 4) % 7 AS INT)").alias("dow"),
            F.expr("CAST((us div 3600000000) % 24 AS INT)").alias("hour"),
            "cents",
        )
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .transform(materialize, sf_dir)  # 168 rows, two consumers: cells + global total
    )
    tot = cell.agg(F.sum("n").alias("gn"), F.sum("s").alias("gs"))
    return cell.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hour",
        F.col("n").cast("long").alias("n_events"),
        F.round(F.col("s") / (100.0 * F.col("n")), 6).alias("mean_value"),
        F.round(
            (F.col("s").cast("double") * F.col("gn"))
            / (F.col("n").cast("double") * F.col("gs")),
            6,
        ).alias("seasonality_index"),
    )


# ---------------------------------------------------------------------------
# e_stratified_ate — observational ATE via activity-stratum adjustment
# ---------------------------------------------------------------------------

_ATE_STRATA = 4

_ATE_SQL = f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                         > SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS t,
               SUM(CAST(round(value * 100) AS BIGINT)) AS cents,
               COUNT(*) AS n_ev
        FROM events GROUP BY 1
    ),
    dist AS (SELECT n_ev, COUNT(*) AS c FROM u GROUP BY 1),
    cum AS (SELECT n_ev, SUM(c) OVER (ORDER BY n_ev) AS cumt FROM dist),
    nn AS (SELECT COUNT(*) AS n FROM u),
    bucket AS (
        SELECT n_ev,
               least(CAST(ceil({_ATE_STRATA}.0 * cumt / n) AS INT),
                     {_ATE_STRATA}) AS stratum
        FROM cum CROSS JOIN nn
    ),
    strat AS (SELECT u.*, b.stratum FROM u JOIN bucket b USING (n_ev)),
    s AS (
        SELECT stratum,
               SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS nt,
               SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS nc,
               SUM(CASE WHEN t = 1 THEN cents ELSE 0 END) AS st,
               SUM(CASE WHEN t = 0 THEN cents ELSE 0 END) AS sc,
               COUNT(*) AS ns
        FROM strat GROUP BY 1
    ),
    tot AS (SELECT SUM(ns) AS n FROM s WHERE nt > 0 AND nc > 0)
    SELECT CAST(stratum AS INT) AS stratum,
           CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
           round(st / (100.0 * nt), 6) AS mean_treat,
           round(sc / (100.0 * nc), 6) AS mean_ctrl,
           round(st / (100.0 * nt) - sc / (100.0 * nc), 6) AS effect,
           round(CAST(ns AS DOUBLE) / n, 6) AS weight,
           round((st / (100.0 * nt) - sc / (100.0 * nc)) * ns / n, 6)
               AS weighted_effect
    FROM s CROSS JOIN tot
    WHERE nt > 0 AND nc > 0
"""


@register("e_stratified_ate", _ATE_SQL)
def e_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observational average treatment effect via stratification: the
    non-randomised counterpart of e_t_test_stats. Treatment = the user
    ever clicked; outcome = the user's total event value; confounder =
    activity volume, adjusted for by slicing users into
    {_ATE_STRATA} activity strata and weighting within-stratum effects
    by stratum size (Cochran's subclassification — the simplest member
    of the propensity-adjustment family next to m_ips_eval's inverse-
    propensity weighting). Strata violating positivity (an empty arm)
    drop out on both sides.

    Scale shape: user rollup is one keyed aggregation; the stratum cut
    reuses the two-phase distinct-value cumsum (global_running_total —
    no user-sized single-partition window, the e_qte_deciles shape);
    stratum stats are a {_ATE_STRATA}-key aggregate. Parity: outcomes
    ride integer cents so every stratum sum is exact; means and the
    weighted effect are single exact-operand IEEE divisions rounded to
    6dp."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        ).cast("int").alias("t"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_ev"),
    ).transform(materialize, sf_dir)  # user-sized; consumers: stratum cut, count, join
    dist = u.groupBy("n_ev").agg(F.count(F.lit(1)).alias("c"))
    cum = global_running_total(
        dist, "n_ev", "c", out_col="cumt",
        approx_rows=table_rows(sf_dir, "events"),
    )
    nn = u.agg(F.count(F.lit(1)).alias("n"))
    bucket = cum.crossJoin(F.broadcast(nn)).select(
        "n_ev",
        F.least(
            F.ceil(F.lit(float(_ATE_STRATA)) * F.col("cumt") / F.col("n")).cast(
                "int"
            ),
            F.lit(_ATE_STRATA),
        ).alias("stratum"),
    )
    strat = u.join(F.broadcast(bucket), "n_ev")
    s = strat.groupBy("stratum").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("t") == 1, F.col("cents")).otherwise(0)).alias("st"),
        F.sum(F.when(F.col("t") == 0, F.col("cents")).otherwise(0)).alias("sc"),
        F.count(F.lit(1)).alias("ns"),
    ).filter((F.col("nt") > 0) & (F.col("nc") > 0))
    tot = s.agg(F.sum("ns").alias("n"))
    mt = F.col("st") / (100.0 * F.col("nt"))
    mc = F.col("sc") / (100.0 * F.col("nc"))
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("stratum").cast("int").alias("stratum"),
        F.col("nt").cast("long").alias("n_treat"),
        F.col("nc").cast("long").alias("n_ctrl"),
        F.round(mt, 6).alias("mean_treat"),
        F.round(mc, 6).alias("mean_ctrl"),
        F.round(mt - mc, 6).alias("effect"),
        F.round(F.col("ns").cast("double") / F.col("n"), 6).alias("weight"),
        F.round((mt - mc) * F.col("ns") / F.col("n"), 6).alias(
            "weighted_effect"
        ),
    )


# ---------------------------------------------------------------------------
# a_column_profiler — per-column describe() over a table in one scan
# ---------------------------------------------------------------------------

# Profiled columns cast to engine-stable strings: plain ASCII values
# (TPC-H enums / clerk ids), int, and ISO dates all render identically
# in both engines, and byte-order min/max agrees for ASCII.
_PROFILE_COLS = [
    "o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey",
]

_PROFILE_SQL = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           min(CAST({c} AS VARCHAR)) AS min_value,
           max(CAST({c} AS VARCHAR)) AS max_value
    FROM orders
    """
    for c in _PROFILE_COLS
)


@register("a_column_profiler", _PROFILE_SQL)
def a_column_profiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler — the describe-the-table job every ingest runs
    before trusting a new feed: per column, row count, null count,
    distinct count, and min/max (as strings, so one output schema fits
    every column type). Complements a_dq_checks (which asserts
    EXPECTED invariants; this DISCOVERS the shape) and t_dataset_card
    (the corpus-level analogue for documents).

    Scale shape: the oracle unions one aggregate per column, but the
    Spark plan computes ALL columns' profiles in a SINGLE scan — one
    aggregation carrying 4 measures per column, unpivoted to rows with
    a stack() afterwards; count(DISTINCT) over multiple columns
    becomes one expand+aggregate rather than {len(_PROFILE_COLS)}
    scans. At 100 TB profiling cost is scan-bound, so scan-once is the
    whole game."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"{c}__null"
            ),
            F.count_distinct(F.col(c)).alias(f"{c}__dist"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__dist, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col, n_rows, n_null, n_distinct, min_value, max_value)"
    ).select(
        "col",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# a_assoc_rules — market-basket association rules (support/confidence/lift)
# ---------------------------------------------------------------------------

_AR_MIN_COOC = 3
_AR_TOPK = 20

_AR_SQL = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
    ),
    cnt AS (SELECT i, COUNT(*) AS c FROM items GROUP BY 1),
    nn AS (SELECT COUNT(DISTINCT o) AS n FROM items),
    pairs AS (
        SELECT a.i AS ia, b.i AS ib, COUNT(*) AS cab
        FROM items a JOIN items b ON a.o = b.o AND a.i < b.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_AR_MIN_COOC}
    ),
    rules AS (
        SELECT p.ia, p.ib, p.cab, ca.c AS ca, cb.c AS cb, nn.n AS n,
               CAST(round(1000000.0 * p.cab * nn.n / (ca.c * cb.c))
                    AS BIGINT) AS lift_micros
        FROM pairs p
        JOIN cnt ca ON ca.i = p.ia
        JOIN cnt cb ON cb.i = p.ib
        CROSS JOIN nn
    )
    SELECT CAST(ia AS BIGINT) AS item_a, CAST(ib AS BIGINT) AS item_b,
           CAST(cab AS BIGINT) AS n_cooc,
           round(CAST(cab AS DOUBLE) / n, 6) AS support,
           round(CAST(cab AS DOUBLE) / ca, 6) AS confidence,
           round(lift_micros / 1000000.0, 6) AS lift,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY lift_micros DESC, ia, ib)
                 AS rnk
          FROM rules)
    WHERE rnk <= {_AR_TOPK}
"""


@register("a_assoc_rules", _AR_SQL)
def a_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for part
    pairs co-bought in ≥{_AR_MIN_COOC} orders, support / confidence /
    lift, top-{_AR_TOPK} by lift — the classical affinity miner behind
    "frequently bought together", and the complement of
    m_item_item_cooc (which ranks by Jaccard within a capped history;
    lift normalises by BOTH marginals against the basket count).

    Scale shape: baskets come from one DISTINCT projection of
    lineitem; pair enumeration is the basket-bounded self-join (TPC-H
    baskets hold ≤7 items, so ≤21 pairs per basket — the SemDeDup
    cluster-bounded-quadratic rule), and the HAVING support floor
    prunes before the dimension-sized marginal joins (item counts are
    |parts|-sized → broadcast). Parity: counts are exact integers;
    lift ranks on integer micros of an exact-operand IEEE division, so
    the global top-k never flips on sub-ulp drift."""
    li = _t(spark, sf_dir, "lineitem")
    # One corpus pass builds the per-order basket (sorted distinct
    # part set) and is materialised once; the r12 shape referenced a
    # corpus-sized DISTINCT frame four times (cnt, nn, both self-join
    # sides), re-running the lineitem scan + distinct exchange per
    # reference (10 parquet scans in the final plan), and paid a
    # corpus self-join on o. Pairs now come from index-aware array
    # HOFs inside each basket (the m_skipgram_pairs idiom, guide §2.4
    # / §4.1) — identical (ia < ib) pair multiset, exact integer
    # counts; basket width is order-bounded so the in-array quadratic
    # matches the old join's per-order blowup. Round-13.
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("xs"))
        .select("xs")
        .transform(materialize, sf_dir)  # consumed by nn, cnt and the pair explode
    )
    nn = baskets.agg(F.count(F.lit(1)).alias("n"))
    cnt = (
        baskets.select(F.explode("xs").alias("i"))
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("c"))
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
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= _AR_MIN_COOC)
    )
    rules = (
        pairs.join(
            F.broadcast(cnt.select(F.col("i").alias("ia"), F.col("c").alias("ca"))),
            "ia",
        )
        .join(
            F.broadcast(cnt.select(F.col("i").alias("ib"), F.col("c").alias("cb"))),
            "ib",
        )
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "lift_micros",
            F.round(
                1000000.0 * F.col("cab") * F.col("n") / (F.col("ca") * F.col("cb"))
            ).cast("long"),
        )
    )
    # orderBy().limit() plans TakeOrderedAndProject (per-partition
    # heaps + driver merge) — no single-partition window over the
    # pruned-but-unbounded rule set; the rank window then runs over
    # the k-row result only.
    wr = Window.orderBy(F.col("lift_micros").desc(), F.col("ia"), F.col("ib"))
    top = rules.orderBy(
        F.col("lift_micros").desc(), F.col("ia"), F.col("ib")
    ).limit(_AR_TOPK)
    return (
        top.withColumn("rnk", F.row_number().over(wr))
        .select(
            F.col("ia").cast("long").alias("item_a"),
            F.col("ib").cast("long").alias("item_b"),
            F.col("cab").cast("long").alias("n_cooc"),
            F.round(F.col("cab").cast("double") / F.col("n"), 6).alias("support"),
            F.round(F.col("cab").cast("double") / F.col("ca"), 6).alias(
                "confidence"
            ),
            F.round(F.col("lift_micros") / 1000000.0, 6).alias("lift"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# e_mann_kendall — Mann-Kendall trend test on monthly revenue series
# ---------------------------------------------------------------------------

_MK_SQL = """
    WITH cell AS (
        SELECT n.n_name AS nation,
               CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) * 12
                   + CAST(strftime(o.o_orderdate, '%m') AS BIGINT) AS m,
               SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    s AS (
        SELECT a.nation, SUM(CAST(sign(b.cents - a.cents) AS BIGINT)) AS s_stat
        FROM cell a JOIN cell b ON a.nation = b.nation AND a.m < b.m
        GROUP BY 1
    ),
    n AS (SELECT nation, COUNT(*) AS n_months FROM cell GROUP BY 1),
    ties AS (
        SELECT nation,
               COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
        FROM (SELECT nation, COUNT(*) AS t FROM cell
              GROUP BY nation, cents HAVING COUNT(*) > 1)
        GROUP BY 1
    )
    SELECT n.nation, CAST(n.n_months AS BIGINT) AS n_months,
           CAST(s.s_stat AS BIGINT) AS s_stat,
           CAST(n.n_months * (n.n_months - 1) * (2 * n.n_months + 5)
                - COALESCE(ties.tie_term, 0) AS BIGINT) AS var18,
           round(CASE
               WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt(
                   (n.n_months * (n.n_months - 1) * (2 * n.n_months + 5)
                    - COALESCE(ties.tie_term, 0)) / 18.0)
               WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt(
                   (n.n_months * (n.n_months - 1) * (2 * n.n_months + 5)
                    - COALESCE(ties.tie_term, 0)) / 18.0)
               ELSE 0.0 END, 6) AS z
    FROM n JOIN s ON n.nation = s.nation
    LEFT JOIN ties ON ties.nation = n.nation
"""


@register("e_mann_kendall", _MK_SQL)
def e_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per nation over the monthly revenue
    series: S = Σ_{i<j} sgn(x_j − x_i), tie-corrected variance
    18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), continuity-corrected
    z — the standard nonparametric "is this metric drifting" monitor
    (no normality assumption, robust to outliers), complementing
    a_runs_test (randomness) and s_changepoint (level shifts).

    Scale shape: the pair enumeration is over the MONTHLY aggregate,
    not raw rows — the series length is calendar-bounded (~80 months
    regardless of SF), so pairs are O(nations · months²) constant in
    data size and the only data-sized work is the first groupBy scan.
    Parity: monthly cents are exact integer sums, sgn sums are exact
    integers, 18·Var stays integer, and z is one exact-integer
    division by a correctly-rounded IEEE sqrt, rounded on the 6dp
    grid."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cell = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                F.year("o_orderdate").cast("long") * 12
                + F.month("o_orderdate").cast("long")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
        .transform(materialize, sf_dir)  # calendar-bounded; consumers: s, n, ties
    )
    s = (
        cell.alias("a")
        .join(
            cell.alias("b"),
            (F.col("a.nation") == F.col("b.nation")) & (F.col("a.m") < F.col("b.m")),
        )
        .groupBy(F.col("a.nation").alias("nation"))
        .agg(
            F.sum(F.signum(F.col("b.cents") - F.col("a.cents")).cast("long")).alias(
                "s_stat"
            )
        )
    )
    nm = cell.groupBy("nation").agg(F.count(F.lit(1)).alias("n_months"))
    ties = (
        cell.groupBy("nation", "cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("nation")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    var18 = (
        F.col("n_months")
        * (F.col("n_months") - 1)
        * (2 * F.col("n_months") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ).cast("long")
    z = F.round(
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var18") / 18.0),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var18") / 18.0),
        )
        .otherwise(F.lit(0.0)),
        6,
    )
    return (
        nm.join(s, "nation")
        .join(ties, "nation", "left")
        .withColumn("var18", var18)
        .select(
            "nation",
            F.col("n_months").cast("long").alias("n_months"),
            F.col("s_stat").cast("long").alias("s_stat"),
            "var18",
            z.alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# a_entropy — Shannon entropy of the event-type mix per day-of-week
# ---------------------------------------------------------------------------

_ENT_SQL = """
    WITH cnts AS (
        SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow, event_type,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    per AS (
        SELECT dow, COUNT(*) AS n_types, SUM(c) AS n,
               SUM(c * CAST(round(ln(c) * 1000000) AS BIGINT)) AS s_micros
        FROM cnts GROUP BY 1
    )
    SELECT dow, CAST(n_types AS BIGINT) AS n_types, CAST(n AS BIGINT) AS n,
           round((CAST(round(ln(n) * 1000000) AS BIGINT)
                  - CAST(s_micros AS DOUBLE) / n) / 1000000.0, 6)
               AS entropy_nats
    FROM per
"""


@register("a_entropy", _ENT_SQL)
def a_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the event-type distribution per
    day-of-week: H = ln N − (Σ_i n_i·ln n_i)/N — the mix-diversity
    monitor a pipeline alerts on when one event type starts swamping a
    time slot (low entropy = concentration; pairs with a_psi_drift,
    which needs a reference window, while entropy is absolute).

    Scale shape: one (dow, event_type) count aggregation — map-side
    partial combine, |dow|×|types| result. Parity: per-count logs snap
    to the integer-micros grid (the t_surprisal convention) so
    Σ n_i·ln n_i is an exact integer in both engines; the final H is
    one exact-operand division and subtraction on the 6dp grid.
    dayofweek: both engines number Sunday=1..Saturday=7."""
    ev = _t(spark, sf_dir, "events")
    cnts = ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    per = cnts.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("n"),
        F.sum(
            F.col("c") * F.round(F.log(F.col("c")) * 1000000).cast("long")
        ).alias("s_micros"),
    )
    return per.select(
        "dow",
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n").cast("long").alias("n"),
        F.round(
            (
                F.round(F.log(F.col("n")) * 1000000).cast("long")
                - F.col("s_micros").cast("double") / F.col("n")
            )
            / 1000000.0,
            6,
        ).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------------
# e_gini_coefficient — spend-concentration Gini over customer totals
# ---------------------------------------------------------------------------

_GINI_SQL = """
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    dist AS (SELECT cents, COUNT(*) AS c FROM spend GROUP BY 1),
    cum AS (
        SELECT cents, c,
               SUM(c) OVER (ORDER BY cents) AS cumt
        FROM dist
    ),
    terms AS (
        SELECT CAST(cents AS DECIMAL(38, 0))
               * CAST(c * (cumt - c) + c * (c + 1) // 2 AS BIGINT) AS ix,
               CAST(cents AS DECIMAL(38, 0)) * c AS vx, c
        FROM cum
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_customers,
           CAST(SUM(vx) AS BIGINT) AS total_cents,
           round((2.0 * CAST(SUM(ix) AS DOUBLE)
                  - (SUM(c) + 1.0) * CAST(SUM(vx) AS DOUBLE))
                 / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(vx) AS DOUBLE)), 6)
               AS gini
    FROM terms
"""


@register("e_gini_coefficient", _GINI_SQL)
def e_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration:
    G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over rank-ordered customer
    totals — the classical inequality measure a marketplace tracks for
    revenue concentration risk (and e_rec_coverage's catalog-side
    sibling on the demand side).

    Scale shape: the rank sum is computed WITHOUT a global sort of
    customers — group totals to the DISTINCT-value table (bounded by
    value cardinality), then one cumulative count over values gives
    each value block's rank range in closed form:
    Σ_{i∈block} i = c·cum_before + c(c+1)/2 (ties are provably
    order-invariant, equal x multiplies the whole coefficient block).
    The Spark side reuses the two-phase running-total operator, so no
    single-partition window anywhere. Parity: every term is exact
    integer arithmetic in DECIMAL(38,0) (Σ i·x ≈ x̄n²/2 overflows int64
    past ~10⁵ customers at these price scales); the final G is one
    division of identically-converted doubles on the 6dp grid."""
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    dist = spend.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    cum = global_running_total(
        dist, "cents", "c", out_col="cumt",
        approx_rows=table_rows(sf_dir, "customer"),
    )
    terms = cum.select(
        (
            F.col("cents").cast("decimal(38,0)")
            * (
                F.col("c") * (F.col("cumt") - F.col("c"))
                + F.expr("c * (c + 1) div 2")
            ).cast("long")
        ).alias("ix"),
        (F.col("cents").cast("decimal(38,0)") * F.col("c")).alias("vx"),
        "c",
    )
    return terms.agg(
        F.sum("c").cast("long").alias("n_customers"),
        F.sum("vx").cast("long").alias("total_cents"),
        F.round(
            (
                2.0 * F.sum("ix").cast("double")
                - (F.sum("c") + 1.0) * F.sum("vx").cast("double")
            )
            / (F.sum("c").cast("double") * F.sum("vx").cast("double")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# a_attribution — first-/last-touch conversion attribution
# ---------------------------------------------------------------------------

_ATTR_TOUCHES = ("view", "click", "signup")
_ATTR_CONV = "purchase"

_ATTR_SQL = f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN event_type IN {_ATTR_TOUCHES}
                    THEN event_type END AS touch
        FROM events
    ),
    carried AS (
        SELECT user_id, event_id, event_type,
               last_value(touch IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS last_touch,
               first_value(touch IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS first_touch
        FROM ordered
    ),
    conv AS (
        SELECT * FROM carried WHERE event_type = '{_ATTR_CONV}'
    ),
    lt AS (
        SELECT COALESCE(last_touch, 'none') AS channel,
               COUNT(*) AS n FROM conv GROUP BY 1
    ),
    ft AS (
        SELECT COALESCE(first_touch, 'none') AS channel,
               COUNT(*) AS n FROM conv GROUP BY 1
    )
    SELECT 'last_touch' AS model, channel, CAST(n AS BIGINT) AS conversions
    FROM lt
    UNION ALL
    SELECT 'first_touch' AS model, channel, CAST(n AS BIGINT) AS conversions
    FROM ft
"""


@register("a_attribution", _ATTR_SQL)
def a_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch conversion attribution: each purchase
    is credited to the earliest / most recent preceding touch event
    ({', '.join(_ATTR_TOUCHES)}) in the user's history — the marketing
    analytics staple that decides channel budgets, and the
    window-carry sibling of s_funnel (which checks ORDER of a fixed
    sequence; attribution asks WHICH channel preceded the
    conversion).

    Scale shape: ONE shuffle on user_id serves both carries
    (first/last over the same running frame — Spark plans a single
    Window node), then the conversion projection and two
    |channels|-sized aggregates. Parity: (ts, event_id) is a total
    order within user, both engines implement IGNORE NULLS
    first/last_value identically over the 1-PRECEDING frame, and
    counts are exact integers."""
    ev = _t(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin(*_ATTR_TOUCHES), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    conv = (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "ts",
            touch.alias("touch"),
        )
        .withColumn("last_touch", F.last("touch", ignorenulls=True).over(w))
        .withColumn("first_touch", F.first("touch", ignorenulls=True).over(w))
        .filter(F.col("event_type") == _ATTR_CONV)
        .transform(materialize, sf_dir)  # conversion-sized; consumers: both models
    )
    lt = conv.groupBy(
        F.coalesce(F.col("last_touch"), F.lit("none")).alias("channel")
    ).agg(F.count(F.lit(1)).cast("long").alias("conversions"))
    ft = conv.groupBy(
        F.coalesce(F.col("first_touch"), F.lit("none")).alias("channel")
    ).agg(F.count(F.lit(1)).cast("long").alias("conversions"))
    return lt.select(
        F.lit("last_touch").alias("model"), "channel", "conversions"
    ).unionAll(
        ft.select(F.lit("first_touch").alias("model"), "channel", "conversions")
    )


# ---------------------------------------------------------------------------
# e_psm_att — propensity-score matching (1-NN with replacement, caliper)
# ---------------------------------------------------------------------------

_PSM_CALIPER = 2

_PSM_SQL = f"""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    > SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS INT) AS t,
               SUM(CAST(round(value * 100) AS BIGINT)) AS cents,
               COUNT(*) AS n_ev
        FROM events GROUP BY 1
    ),
    treated AS (SELECT user_id, cents, n_ev FROM u WHERE t = 1),
    control AS (SELECT user_id, cents, n_ev FROM u WHERE t = 0),
    band AS (
        SELECT t.user_id AS tid, t.cents AS t_cents,
               c.user_id AS cid, c.cents AS c_cents,
               abs(d.d) AS adiff
        FROM treated t
        JOIN (SELECT unnest(range(-{_PSM_CALIPER}, {_PSM_CALIPER} + 1)) AS d)
             d ON TRUE
        JOIN control c ON c.n_ev = t.n_ev + d.d
    ),
    matched AS (
        SELECT tid, t_cents, cid, c_cents
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY tid ORDER BY adiff, cid) AS rn
              FROM band)
        WHERE rn = 1
    )
    SELECT CAST((SELECT COUNT(*) FROM treated) AS BIGINT) AS n_treated,
           CAST(COUNT(*) AS BIGINT) AS n_matched,
           round(SUM(t_cents - c_cents) / (100.0 * COUNT(*)), 6) AS att
    FROM matched
"""


@register("e_psm_att", _PSM_SQL)
def e_psm_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score matching ATT: each treated user (same
    treatment/outcome/confounder definitions as e_stratified_ate)
    matches its nearest control on the activity covariate within a
    ±{_PSM_CALIPER} caliper, 1-NN WITH replacement; ATT = mean matched
    outcome difference. Completes the propensity-adjustment family:
    stratification (e_stratified_ate), inverse weighting (m_ips_eval),
    and now matching — the estimator of choice when treated units are
    rare and controls plentiful.

    Scale shape: nearest-within-caliper on an INTEGER covariate needs
    no inequality join — the caliper unrolls into {2 * _PSM_CALIPER + 1}
    exact keys (treated × offsets equi-join control), the classic band
    join; the 1-NN pick is a per-treated top-1 window over a
    caliper-bounded candidate set. Parity: outcomes are integer cents,
    the match resolves on the total (|Δ|, control id) order, ATT is
    one exact-operand division on the 6dp grid."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        ).cast("int").alias("t"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_ev"),
    ).transform(materialize, sf_dir)  # user-sized; consumers: treated, control, count
    treated = u.filter(F.col("t") == 1).select(
        F.col("user_id").alias("tid"),
        F.col("cents").alias("t_cents"),
        "n_ev",
    )
    control = u.filter(F.col("t") == 0).select(
        F.col("user_id").alias("cid"),
        F.col("cents").alias("c_cents"),
        F.col("n_ev").alias("c_n_ev"),
    )
    offsets = F.broadcast(
        spark.range(-_PSM_CALIPER, _PSM_CALIPER + 1).select(
            F.col("id").cast("int").alias("d")
        )
    )
    band = (
        treated.crossJoin(offsets)
        .withColumn("key", F.col("n_ev") + F.col("d"))
        .join(control, F.col("key") == F.col("c_n_ev"))
        .select("tid", "t_cents", "cid", "c_cents", F.abs("d").alias("adiff"))
    )
    wm = Window.partitionBy("tid").orderBy(F.col("adiff"), F.col("cid"))
    matched = (
        band.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
    )
    n_treated = treated.agg(F.count(F.lit(1)).alias("n_treated"))
    return matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.round(
            F.sum(F.col("t_cents") - F.col("c_cents"))
            / (100.0 * F.count(F.lit(1))),
            6,
        ).alias("att"),
    ).crossJoin(F.broadcast(n_treated)).select(
        F.col("n_treated").cast("long").alias("n_treated"),
        "n_matched",
        "att",
    )


# ---------------------------------------------------------------------------
# e_regression_discontinuity — sharp RDD at an activity cutoff
# ---------------------------------------------------------------------------

_RDD_CUTOFF = 66
_RDD_BANDWIDTH = 15

_RDD_SQL = f"""
    WITH u AS (
        SELECT user_id,
               SUM(CAST(round(value * 100) AS BIGINT)) AS cents,
               COUNT(*) AS n_ev
        FROM events GROUP BY 1
    ),
    win AS (
        SELECT CAST(n_ev - {_RDD_CUTOFF} AS BIGINT) AS x, cents,
               CASE WHEN n_ev >= {_RDD_CUTOFF} THEN 'right'
                    ELSE 'left' END AS side
        FROM u
        WHERE n_ev >= {_RDD_CUTOFF} - {_RDD_BANDWIDTH}
          AND n_ev < {_RDD_CUTOFF} + {_RDD_BANDWIDTH}
    ),
    fit AS (
        SELECT side, COUNT(*) AS n,
               SUM(x) AS sx, SUM(cents) AS sy,
               SUM(x * cents) AS sxy, SUM(x * x) AS sxx
        FROM win GROUP BY 1
    )
    SELECT side, CAST(n AS BIGINT) AS n,
           round((CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy)
                 / (100.0 * (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)),
                 6) AS intercept_at_cutoff,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (100.0 * (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)),
                 6) AS slope
    FROM fit
"""


@register("e_regression_discontinuity", _RDD_SQL)
def e_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity at an activity cutoff
    (x = n_ev − {_RDD_CUTOFF}, bandwidth ±{_RDD_BANDWIDTH}): fit a
    local linear regression of outcome on the centered running
    variable on EACH side; the causal jump is the difference of the
    two intercepts at the cutoff — the quasi-experimental design for
    threshold-assigned treatments (loyalty tiers, eligibility rules),
    completing the causal suite next to diff-in-diff (parallel
    trends), CUPED (covariate adjustment), stratified ATE / PSM / IPS
    (selection on observables), and the QTE deciles.

    Scale shape: one user rollup, one bandwidth filter, then a 2-key
    aggregate of the five OLS sufficient statistics (n, Σx, Σy, Σxy,
    Σx²) — the m_ols_regression closed form, nothing user-sized moves
    after the filter. Parity: x and cents are integers so every
    sufficient statistic is exact; intercept and slope are single
    exact-operand divisions on the 6dp grid (output in currency
    units)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    win = u.filter(
        (F.col("n_ev") >= _RDD_CUTOFF - _RDD_BANDWIDTH)
        & (F.col("n_ev") < _RDD_CUTOFF + _RDD_BANDWIDTH)
    ).select(
        (F.col("n_ev") - _RDD_CUTOFF).cast("long").alias("x"),
        "cents",
        F.when(F.col("n_ev") >= _RDD_CUTOFF, F.lit("right"))
        .otherwise(F.lit("left"))
        .alias("side"),
    )
    fit = win.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("x") * F.col("cents")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    det = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    return fit.select(
        "side",
        F.col("n").cast("long").alias("n"),
        F.round(
            (
                F.col("sy").cast("double") * F.col("sxx")
                - F.col("sx").cast("double") * F.col("sxy")
            )
            / (100.0 * det),
            6,
        ).alias("intercept_at_cutoff"),
        F.round(
            (
                F.col("n") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / (100.0 * det),
            6,
        ).alias("slope"),
    )


# ---------------------------------------------------------------------------
# a_theil_sen — robust trend magnitude (median of pairwise slopes)
# ---------------------------------------------------------------------------

_TS_SQL = """
    WITH cell AS (
        SELECT n.n_name AS nation,
               CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) * 12
                   + CAST(strftime(o.o_orderdate, '%m') AS BIGINT) AS m,
               SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.nation,
               CAST(round(100.0 * (b.cents - a.cents) / (b.m - a.m))
                    AS BIGINT) AS slope_cc
        FROM cell a JOIN cell b ON a.nation = b.nation AND a.m < b.m
    )
    SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope_cc, 0.5) / 10000.0, 6)
               AS ts_slope_dollars
    FROM slopes GROUP BY 1
"""


@register("a_theil_sen", _TS_SQL)
def a_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per nation: the median of all
    pairwise slopes (x_j−x_i)/(t_j−t_i) over the monthly revenue
    series — Mann-Kendall's standard companion (e_mann_kendall TESTS
    for a trend; this ESTIMATES its magnitude, with a 29% breakdown
    point where OLS has zero).

    Scale shape: identical to e_mann_kendall — pairs enumerate over
    the calendar-bounded MONTHLY aggregate (~80 points at any SF, so
    O(nations · months²) constant in data size); the only data-sized
    work is the first scan. Parity: each pairwise slope snaps to
    integer centi-cents/month (one exact-operand IEEE division,
    rounded), so the per-nation median interpolates between two
    INTEGERS — exact in both engines regardless of interpolation
    formula shape."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cell = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                F.year("o_orderdate").cast("long") * 12
                + F.month("o_orderdate").cast("long")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
        # calendar-bounded (~nations × months rows); referenced by BOTH
        # pair-join sides — unmaterialised, the orders⋈customer corpus
        # join ran twice (round-13 census; e_mann_kendall already
        # checkpoints the identical frame).
        .transform(materialize, sf_dir)
    )
    slopes = (
        cell.alias("a")
        .join(
            cell.alias("b"),
            (F.col("a.nation") == F.col("b.nation")) & (F.col("a.m") < F.col("b.m")),
        )
        .select(
            F.col("a.nation").alias("nation"),
            F.round(
                100.0
                * (F.col("b.cents") - F.col("a.cents"))
                / (F.col("b.m") - F.col("a.m"))
            )
            .cast("long")
            .alias("slope_cc"),
        )
    )
    return slopes.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.percentile(F.col("slope_cc"), F.lit(0.5)) / 10000.0, 6).alias(
            "ts_slope_dollars"
        ),
    )


# ---------------------------------------------------------------------------
# a_lorenz_curve — decile concentration curve (Gini's plotting data)
# ---------------------------------------------------------------------------

_LORENZ_SQL = """
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    dist AS (SELECT cents, COUNT(*) AS c FROM spend GROUP BY 1),
    cum AS (
        SELECT cents, c, SUM(c) OVER (ORDER BY cents) AS cumt
        FROM dist
    ),
    nn AS (SELECT COUNT(*) AS n, SUM(cents) AS tot FROM spend),
    binned AS (
        SELECT CAST((10 * cum.cumt + nn.n - 1) // nn.n AS INT) AS decile,
               SUM(cum.c) AS n_customers, SUM(cum.cents * cum.c) AS cents
        FROM cum CROSS JOIN nn
        GROUP BY 1
    )
    SELECT decile,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(SUM(cents) OVER w AS BIGINT) AS cum_cents,
           round(CAST(SUM(cents) OVER w AS DOUBLE)
                 / (SELECT tot FROM nn), 6) AS cum_share
    FROM binned
    WINDOW w AS (ORDER BY decile)
"""


@register("a_lorenz_curve", _LORENZ_SQL)
def a_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve deciles of customer spend: cumulative spend share
    by ascending-spend decile — e_gini_coefficient's plotting data
    (the Gini is twice the area between this curve and the diagonal),
    the concentration read-out a marketplace actually looks at
    ("the top decile is X% of revenue").

    Scale shape: the same no-global-sort trick as the Gini — deciles
    cut on the DISTINCT-value cumulative count (each value block lands
    in the decile of its last unit, ceil(10·cum/n)); the final running
    share is a ≤10-row window. Parity: block-to-decile assignment is
    pure integer arithmetic, cumulative cents are exact integer sums,
    and the share is one exact-operand division on the 6dp grid."""
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    dist = spend.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    cum = global_running_total(
        dist, "cents", "c", out_col="cumt",
        approx_rows=table_rows(sf_dir, "customer"),
    )
    nn = spend.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("tot")
    )
    binned = (
        cum.crossJoin(F.broadcast(nn))
        .select(
            F.expr("CAST((10 * cumt + n - 1) div n AS INT)").alias("decile"),
            "c",
            (F.col("cents") * F.col("c")).alias("vx"),
            "tot",
        )
        .groupBy("decile", "tot")
        .agg(
            F.sum("c").cast("long").alias("n_customers"),
            F.sum("vx").alias("cents"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return binned.select(
        "decile",
        "n_customers",
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
        F.round(
            F.sum("cents").over(w).cast("double") / F.col("tot"), 6
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# w_rolling_regression — trailing 12-month OLS slope per series
# ---------------------------------------------------------------------------

_RR_WIN = 12

_RR_SQL = f"""
    WITH cell AS (
        SELECT n.n_name AS nation,
               CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) * 12
                   + CAST(strftime(o.o_orderdate, '%m') AS BIGINT) AS m,
               SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    framed AS (
        SELECT nation, m,
               COUNT(*) OVER w AS n,
               SUM(m) OVER w AS sx,
               SUM(CAST(cents AS DECIMAL(38, 0))) OVER w AS sy,
               SUM(CAST(m AS DECIMAL(38, 0)) * cents) OVER w AS sxy,
               SUM(m * m) OVER w AS sxx
        FROM cell
        WINDOW w AS (PARTITION BY nation ORDER BY m
                     ROWS BETWEEN {_RR_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT nation, CAST(m AS BIGINT) AS m,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE) * 100.0), 6)
               AS slope_dollars
    FROM framed
    WHERE n = {_RR_WIN}
"""


@register("w_rolling_regression", _RR_SQL)
def w_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {_RR_WIN}-month rolling OLS slope of monthly revenue
    per nation — the windowed version of m_ols_regression's closed
    form, i.e. the "current local trend" series a dashboard overlays
    on the raw metric (a_theil_sen gives ONE robust slope per series;
    this gives the slope's evolution).

    Scale shape: the five OLS sufficient statistics (n, Σx, Σy, Σxy,
    Σx²) all ride ONE window frame over the calendar-sized monthly
    aggregate — one nation-keyed shuffle, one Window node, nothing
    data-sized after the first scan. Parity: x is the integer month
    index and y integer cents; Σx·y products ride DECIMAL(38,0)
    (n·Σxy overflows int64 once monthly cents pass ~10¹³), so both
    numerator and denominator are exact integers and the slope is one
    identically-converted double division on the 6dp grid."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cell = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                F.year("o_orderdate").cast("long") * 12
                + F.month("o_orderdate").cast("long")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("m")
        .rowsBetween(-(_RR_WIN - 1), 0)
    )
    framed = cell.select(
        "nation",
        "m",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("m").over(w).alias("sx"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(w).alias("sy"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("cents"))
        .over(w)
        .alias("sxy"),
        F.sum(F.col("m") * F.col("m")).over(w).alias("sxx"),
    )
    return framed.filter(F.col("n") == _RR_WIN).select(
        "nation",
        F.col("m").cast("long").alias("m"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * 100.0
            ),
            6,
        ).alias("slope_dollars"),
    )


# ---------------------------------------------------------------------------
# a_cvar — value-at-risk and expected shortfall (nearest-rank, exact)
# ---------------------------------------------------------------------------

_CVAR_Q = 0.95

_CVAR_SQL = f"""
    WITH val AS (
        SELECT o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    dist AS (SELECT cents, COUNT(*) AS c FROM val GROUP BY 1),
    cum AS (
        SELECT cents, c, SUM(c) OVER (ORDER BY cents) AS cumt
        FROM dist
    ),
    nn AS (SELECT COUNT(*) AS n FROM val),
    var_pick AS (
        SELECT MIN(cents) AS var_cents
        FROM cum CROSS JOIN nn
        WHERE cumt >= CAST(ceil({_CVAR_Q} * n) AS BIGINT)
    ),
    tail AS (
        SELECT COUNT(*) AS n_tail, SUM(CAST(cents AS BIGINT)) AS s_tail
        FROM val CROSS JOIN var_pick
        WHERE cents >= var_cents
    )
    SELECT round(var_pick.var_cents / 100.0, 6) AS var_95,
           CAST(tail.n_tail AS BIGINT) AS n_tail,
           round(tail.s_tail / (100.0 * tail.n_tail), 6) AS cvar_95
    FROM var_pick CROSS JOIN tail
"""


@register("a_cvar", _CVAR_SQL)
def a_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-risk (P{int(_CVAR_Q * 100)}) and conditional VaR /
    expected shortfall of order values — the tail-risk pair finance
    and capacity planning read together (VaR: "the threshold"; CVaR:
    "how bad is it past the threshold", the coherent one). VaR uses
    the NEAREST-RANK order statistic, deliberately not interpolation:
    a selected data value is exact in both engines, where
    interpolated-percentile arithmetic is formula-shape-dependent (the
    a_runs_test lesson) — and the threshold is REUSED in the tail
    comparison, exactly where a 1-ulp drift would flip rows.

    Scale shape: the rank pick rides the distinct-value cumulative
    count (two-phase running total on Spark — no global sort of raw
    rows); the 1-row threshold broadcasts into the tail filter-
    aggregate. Parity: cents are integers, the order statistic is
    exact, tail sums are exact integers, two 6dp-grid divisions."""
    val = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    dist = val.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    cum = global_running_total(
        dist, "cents", "c", out_col="cumt",
        approx_rows=table_rows(sf_dir, "orders"),
    )
    # Total row count rides the running total's checkpointed (materialised
    # by its offsets collect)
    # distinct-value table (Σc == count(*), exact integers) instead of
    # a separate corpus aggregate — 3 orders scans → 2 (round-13).
    nn = cum.agg(F.sum("c").alias("n"))
    var_pick = (
        cum.crossJoin(F.broadcast(nn))
        .filter(F.col("cumt") >= F.ceil(_CVAR_Q * F.col("n")).cast("long"))
        .agg(F.min("cents").alias("var_cents"))
    )
    tail = (
        val.crossJoin(F.broadcast(var_pick))
        .filter(F.col("cents") >= F.col("var_cents"))
        .agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.sum("cents").alias("s_tail"),
            F.first("var_cents").alias("var_cents"),
        )
    )
    return tail.select(
        F.round(F.col("var_cents") / 100.0, 6).alias("var_95"),
        F.col("n_tail").cast("long").alias("n_tail"),
        F.round(F.col("s_tail") / (100.0 * F.col("n_tail")), 6).alias("cvar_95"),
    )


# ---------------------------------------------------------------------------
# e_bh_fdr — Benjamini-Hochberg FDR control over a segment scan
# ---------------------------------------------------------------------------

_BH_Q = 0.10  # target false-discovery rate

_BH_SQL = f"""
    WITH g AS ({{grp_sql}}),
    seg AS (
        SELECT event_type || '#' || CAST(dayofweek(ts) + 1 AS VARCHAR)
                   AS segment,
               grp, value
        FROM g
    ),
    agg AS (
        SELECT segment, grp, avg(value) AS m, var_samp(value) AS v,
               CAST(count(*) AS BIGINT) AS n
        FROM seg GROUP BY segment, grp
    ),
    w AS (
        SELECT segment,
               max(CASE WHEN grp = 'A' THEN m END) AS ma,
               max(CASE WHEN grp = 'B' THEN m END) AS mb,
               max(CASE WHEN grp = 'A' THEN v END) AS va,
               max(CASE WHEN grp = 'B' THEN v END) AS vb,
               max(CASE WHEN grp = 'A' THEN n END) AS na,
               max(CASE WHEN grp = 'B' THEN n END) AS nb
        FROM agg GROUP BY segment
        HAVING max(CASE WHEN grp = 'A' THEN n END) >= 2
           AND max(CASE WHEN grp = 'B' THEN n END) >= 2
    ),
    z AS (
        SELECT segment, na, nb,
               round((ma - mb) / sqrt(va / na + vb / nb), 6) AS z6
        FROM w
    ),
    p AS (
        SELECT segment, na, nb, z6,
               round(1.0 - abs(z6) / sqrt(2.0 + z6 * z6), 6) AS p6
        FROM z
    ),
    ranked AS (
        SELECT segment, na, nb, z6, p6,
               row_number() OVER (ORDER BY p6, segment) AS i,
               count(*) OVER () AS m
        FROM p
    ),
    cut AS (
        SELECT *,
               max(CASE WHEN p6 <= i * {_BH_Q} / m THEN i ELSE 0 END)
                   OVER () AS k
        FROM ranked
    )
    SELECT segment, na, nb, z6 AS z, p6 AS p,
           CAST(i AS INT) AS rnk, CAST(m AS BIGINT) AS n_tests,
           CAST(CASE WHEN i <= k THEN 1 ELSE 0 END AS INT) AS discovery
    FROM cut
""".format(grp_sql=_GRP_SQL)


@register("e_bh_fdr", _BH_SQL)
def e_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a per-segment treatment-
    effect scan: Welch z per (event_type × weekday) segment, p-values
    under the closed-form t₂ reference sf(z) = (1 − z/√(2+z²))/2
    (two-sided ⇒ 1 − |z|/√(2+z²)), then the step-up procedure — rank
    p ascending, find the largest i with p(i) ≤ i·q/m, reject ranks
    ≤ i. The multiple-testing guard e_hte_segments needs before
    shipping per-segment 'winners' (at q={_BH_Q}, ~{_BH_Q:.0%} of
    discoveries are false by design, instead of the per-test α
    compounding across m segments).

    The t₂ CDF is chosen deliberately: it is EXACT in +,×,÷,√ (IEEE
    correctly-rounded on both engines — no libm exp/erf whose last
    ulp differs cross-engine), heavy-tailed (conservative p's), and
    the BH procedure is reference-distribution-agnostic. z snaps to
    the 6dp grid BEFORE p (the house learned-value rule), p snaps
    before ranking.

    Scale shape: one hash aggregation over (segment, arm) reduces the
    events to a segment-dimension-sized stats table; every window
    after it (rank, count, step-up max) runs on that bounded frame —
    the k×k rule, not a data-sized single-partition stage."""
    g = _events_grouped(spark, sf_dir)
    seg = g.select(
        F.concat_ws(
            "#", F.col("event_type"), F.dayofweek("ts").cast("string")
        ).alias("segment"),
        "grp",
        "value",
    )
    agg = seg.groupBy("segment", "grp").agg(
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    w = (
        agg.groupBy("segment")
        .agg(
            F.max(F.when(F.col("grp") == "A", F.col("m"))).alias("ma"),
            F.max(F.when(F.col("grp") == "B", F.col("m"))).alias("mb"),
            F.max(F.when(F.col("grp") == "A", F.col("v"))).alias("va"),
            F.max(F.when(F.col("grp") == "B", F.col("v"))).alias("vb"),
            F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("na"),
            F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("nb"),
        )
        .filter((F.col("na") >= 2) & (F.col("nb") >= 2))
    )
    z6 = F.round(
        (F.col("ma") - F.col("mb"))
        / F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb")),
        6,
    )
    p = w.select(
        "segment", "na", "nb", z6.alias("z6")
    ).withColumn(
        "p6",
        F.round(
            1.0 - F.abs(F.col("z6")) / F.sqrt(2.0 + F.col("z6") * F.col("z6")),
            6,
        ),
    )
    # Bounded frame from here on: one row per segment.
    w_rank = Window.orderBy("p6", "segment")
    w_all = Window.partitionBy(F.lit(1))
    ranked = (
        p.withColumn("i", F.row_number().over(w_rank))
        .withColumn("m", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "k",
            F.max(
                F.when(
                    F.col("p6") <= F.col("i") * _BH_Q / F.col("m"), F.col("i")
                ).otherwise(0)
            ).over(w_all),
        )
    )
    return ranked.select(
        "segment",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        F.col("z6").alias("z"),
        F.col("p6").alias("p"),
        F.col("i").cast("int").alias("rnk"),
        F.col("m").cast("long").alias("n_tests"),
        (F.col("i") <= F.col("k")).cast("int").alias("discovery"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (quintile scores + canonical segments)
# ---------------------------------------------------------------------------

_RFM_Q = 5


def _rfm_bucket_sql(col: str) -> str:
    """Value-level quintile assignment: every customer in a
    distinct-value group gets the bucket of the group's FIRST row
    (exact integer boundary arithmetic — the e_lift_curve tie rule)."""
    return f"""(
        SELECT b.c, v.score
        FROM base b JOIN (
            SELECT {col},
                   CAST(floor(bef * {_RFM_Q}.0 /
                              (SELECT count(*) FROM base)) AS INT) + 1
                       AS score
            FROM (
                SELECT {col},
                       coalesce(sum(cnt) OVER (ORDER BY {col}
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS bef
                FROM (SELECT {col}, count(*) AS cnt
                      FROM base GROUP BY {col})
            )
        ) v USING ({col})
    )"""


_RFM_SQL = f"""
    WITH base AS (
        SELECT o_custkey AS c,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         (SELECT CAST(max(o_orderdate) AS DATE)
                          FROM orders)) AS rec_days,
               count(*) AS freq,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS mon_cents
        FROM orders GROUP BY o_custkey
    ),
    r AS {_rfm_bucket_sql("rec_days")},
    f AS {_rfm_bucket_sql("freq")},
    m AS {_rfm_bucket_sql("mon_cents")},
    scored AS (
        SELECT r.c, r.score AS r_score, f.score AS f_score, m.score AS m_score,
               base.mon_cents
        FROM r JOIN f ON f.c = r.c JOIN m ON m.c = r.c
        JOIN base ON base.c = r.c
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CASE WHEN r_score <= 2 AND f_score >= 4 AND m_score >= 4
                THEN 'champion'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'loyal'
                WHEN r_score >= 4 AND f_score >= 4 THEN 'at_risk'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(mon_cents) AS BIGINT) AS mon_cents
    FROM scored
    GROUP BY r_score, f_score, m_score
"""


@register("a_rfm_segments", _RFM_SQL)
def a_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order),
    frequency (order count) and monetary (lifetime cents) each cut
    into population quintiles, the (r,f,m) cells counted and labelled
    with the canonical marketing segments (champion / loyal / at_risk
    / hibernating) — the segmentation every CRM/retention stack
    derives before targeting, and the categorical complement of
    s_cohort_ltv's longitudinal value curves.

    Scale shape: ONE hash aggregate builds all three metrics per
    customer; each quintile assignment ranks the DISTINCT-value table
    with ``two_phase_midrank`` (range partitions + offsets — no
    single-partition window over customers; the e_lift_curve decile
    machinery applied three ways) and joins back by value. Monetary
    sums integer cents (exact, order-free — never a double sum feeding
    a boundary)."""
    from recommender_systems_spark.operators.relational import two_phase_midrank

    orders = _t(spark, sf_dir, "orders")
    gmax = F.broadcast(
        orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    )
    base = (
        orders.groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_dt"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "mon_cents"
            ),
        )
        .crossJoin(gmax)
        .select(
            "c",
            F.datediff(F.col("gmax"), F.col("last_dt")).alias("rec_days"),
            "freq",
            "mon_cents",
        )
        .transform(materialize, sf_dir)  # consumed by three rank passes + final join
    )

    def rank_pass(col: str) -> DataFrame:
        per = base.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        return two_phase_midrank(
            per, col, "cnt", approx_rows=table_rows(sf_dir, "customer")
        )

    # The three midrank constructions are independent over the same
    # checkpointed base, but each pays two sequential driver barriers
    # (range-partition checkpoint + offsets collect). Overlap them —
    # and the population count — on a thread pool so the barriers
    # back-fill each other (guide §2.6; the e_ab_report adjudication
    # shows concurrent jobs beat any fused-union form here). Plans and
    # results are byte-identical: threading changes only when each
    # construction job runs.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_n = pool.submit(base.count)
        ranked_f = {c: pool.submit(rank_pass, c) for c in ("rec_days", "freq", "mon_cents")}
        n = f_n.result()
        ranked = {c: f.result() for c, f in ranked_f.items()}

    def quintile(col: str) -> DataFrame:
        bef = (
            F.col("midrank") - (F.col("cnt").cast("double") + 1) / 2
        ).cast("long")
        return ranked[col].select(
            col,
            (F.floor(bef * float(_RFM_Q) / n) + 1)
            .cast("int")
            .alias(f"{col}_score"),
        )

    scored = (
        base.join(quintile("rec_days"), "rec_days")
        .join(quintile("freq"), "freq")
        .join(quintile("mon_cents"), "mon_cents")
    )
    return (
        scored.groupBy(
            F.col("rec_days_score").alias("r_score"),
            F.col("freq_score").alias("f_score"),
            F.col("mon_cents_score").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("mon_cents").cast("long").alias("mon_cents"),
        )
        .select(
            F.col("r_score").cast("int").alias("r_score"),
            F.col("f_score").cast("int").alias("f_score"),
            F.col("m_score").cast("int").alias("m_score"),
            F.when(
                (F.col("r_score") <= 2)
                & (F.col("f_score") >= 4)
                & (F.col("m_score") >= 4),
                "champion",
            )
            .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "loyal")
            .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "at_risk")
            .when(
                (F.col("r_score") >= 4) & (F.col("f_score") <= 2),
                "hibernating",
            )
            .otherwise("regular")
            .alias("segment"),
            "n_customers",
            "mon_cents",
        )
    )


# ---------------------------------------------------------------------------
# a_k_anonymity — privacy audit (k-anonymity + l-diversity profile)
# ---------------------------------------------------------------------------

_KA_BAND = 2000  # acctbal generalization band (the QI coarsening step)

_KA_SQL = f"""
    WITH cls AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               CAST(floor(c_acctbal / {_KA_BAND}) AS BIGINT) AS band,
               count(*) AS k,
               count(DISTINCT c_acctbal) AS l
        FROM customer GROUP BY 1, 2, 3
    ),
    tot AS (SELECT sum(k) AS n FROM cls),
    b AS (
        SELECT CASE WHEN k = 1 THEN '1'
                    WHEN k = 2 THEN '2'
                    WHEN k <= 5 THEN '3-5'
                    WHEN k <= 10 THEN '6-10'
                    ELSE '11+' END AS k_bucket,
               k, l
        FROM cls
    )
    SELECT k_bucket,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(k) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_homogeneous,
           round(sum(k) / CAST(tot.n AS DOUBLE), 6) AS row_share
    FROM b, tot GROUP BY k_bucket, tot.n
"""


@register("a_k_anonymity", _KA_SQL)
def a_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity privacy audit — the release-readiness
    check a training-data pipeline runs before publishing a table with
    quasi-identifiers: group rows into equivalence classes on the
    generalized QI tuple (nation, market segment, {_KA_BAND}-wide
    account-balance band) and profile the class-size distribution.
    Classes of size 1 are re-identifiable (k=1); classes whose
    sensitive attribute (the exact balance) takes a single value are
    homogeneous (l=1 — attribute disclosure even at k>1). Output: per
    k-bucket, the class count, row count, homogeneous-class count,
    and population share.

    Scale shape: ONE customer scan into a (QI -> k, l) hash aggregate
    (count-distinct is per-class, map-side partials), then the bucket
    rollup runs on the CLASS frame (bounded by the QI value space,
    never the row count); the grand total is a 1-row broadcast. All
    counts integer; the only division is the final share."""
    cls = (
        _t(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("c_acctbal") / _KA_BAND).alias("band"),
        )
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.countDistinct("c_acctbal").alias("l"),
        )
        # Class frame is QI-space-bounded (~nations x segments x bands);
        # materialize once so the total and the bucket rollup don't
        # each re-run the row-count-sized aggregation.
        .transform(materialize, sf_dir)
    )
    tot = F.broadcast(cls.agg(F.sum("k").alias("n")))
    b = cls.select(
        F.when(F.col("k") == 1, "1")
        .when(F.col("k") == 2, "2")
        .when(F.col("k") <= 5, "3-5")
        .when(F.col("k") <= 10, "6-10")
        .otherwise("11+")
        .alias("k_bucket"),
        "k",
        "l",
    )
    return (
        b.groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("k").alias("n_rows"),
            F.sum(F.when(F.col("l") == 1, 1).otherwise(0)).alias(
                "n_homogeneous"
            ),
        )
        .crossJoin(tot)
        .select(
            "k_bucket",
            F.col("n_classes").cast("long").alias("n_classes"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_homogeneous").cast("long").alias("n_homogeneous"),
            F.round(
                F.col("n_rows") / F.col("n").cast("double"), 6
            ).alias("row_share"),
        )
    )


# ---------------------------------------------------------------------------
# a_dp_histogram — differentially-private histogram release (Laplace)
# ---------------------------------------------------------------------------

_DP_EPS = 0.5  # privacy budget per released histogram

_DP_SQL = f"""
    WITH h AS (
        SELECT o_orderpriority AS priority, count(*) AS n
        FROM orders GROUP BY 1
    ),
    u AS (SELECT priority, n, {{U}} AS u FROM h)
    SELECT priority,
           round(n + (-(1.0 / {_DP_EPS}))
                     * CASE WHEN u - 0.5 < 0 THEN -1.0 ELSE 1.0 END
                     * ln(1.0 - 2.0 * abs(u - 0.5)),
                 4) AS noisy_n,
           {_DP_EPS} AS epsilon
    FROM u ORDER BY priority
""".format(U=u01_sql("priority", "dp"))


@register("a_dp_histogram", _DP_SQL)
def a_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release — the Laplace
    mechanism (Dwork et al. 2006) on a grouped count: each bucket
    count gets Laplace(Δf/ε) noise (sensitivity Δf = 1 for disjoint
    count buckets), the release primitive behind every private
    analytics/telemetry dashboard and DP training-data statistic.
    Noise is drawn by INVERSE CDF from the house md5-uniform keyed on
    the bucket — deterministic on purpose, so the release is testable
    and value-hashes across engines; production swaps u for a
    cryptographic uniform per release, changing ONE column. True count
    is deliberately NOT in the output (that is the point of the
    release); the noisy count is not clamped/rounded to integers so
    the unbiasedness of the mechanism is visible in tests.

    Cross-engine floats: ln on identical operands (both engines'
    correctly-rounded libm on the same md5-uniform doubles) then a
    4dp display round — the t_surprisal log convention. Scale shape:
    one map-side-combined aggregate, a buckets-sized projection;
    privacy post-processing adds zero distributed work."""
    o = _t(spark, sf_dir, "orders")
    h = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n")
    )
    u = u01_col(F.col("priority"), "dp")
    lap = (
        F.lit(-(1.0 / _DP_EPS))
        * F.when(u - 0.5 < 0, -1.0).otherwise(1.0)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return h.select(
        "priority",
        F.round(F.col("n") + lap, 4).alias("noisy_n"),
        F.lit(_DP_EPS).alias("epsilon"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# e_fdr_storey — Storey q-values (adaptive FDR) over the segment scan
# ---------------------------------------------------------------------------

_ST_LAMBDA = 0.5  # pi0 estimation threshold
_ST_Q = 0.10      # q-value discovery cut

_STOREY_SQL = f"""
    WITH g AS ({{grp_sql}}),
    seg AS (
        SELECT event_type || '#' || CAST(dayofweek(ts) + 1 AS VARCHAR)
                   AS segment,
               grp, value
        FROM g
    ),
    agg AS (
        SELECT segment, grp, avg(value) AS m, var_samp(value) AS v,
               CAST(count(*) AS BIGINT) AS n
        FROM seg GROUP BY segment, grp
    ),
    w AS (
        SELECT segment,
               max(CASE WHEN grp = 'A' THEN m END) AS ma,
               max(CASE WHEN grp = 'B' THEN m END) AS mb,
               max(CASE WHEN grp = 'A' THEN v END) AS va,
               max(CASE WHEN grp = 'B' THEN v END) AS vb,
               max(CASE WHEN grp = 'A' THEN n END) AS na,
               max(CASE WHEN grp = 'B' THEN n END) AS nb
        FROM agg GROUP BY segment
        HAVING max(CASE WHEN grp = 'A' THEN n END) >= 2
           AND max(CASE WHEN grp = 'B' THEN n END) >= 2
    ),
    p AS (
        SELECT segment,
               round(1.0 - abs(round((ma - mb) / sqrt(va / na + vb / nb), 6))
                     / sqrt(2.0 + round((ma - mb) / sqrt(va / na + vb / nb), 6)
                            * round((ma - mb) / sqrt(va / na + vb / nb), 6)),
                     6) AS p6
        FROM w
    ),
    pi0 AS (
        SELECT least(1.0,
                     sum(CASE WHEN p6 > {_ST_LAMBDA} THEN 1 ELSE 0 END)
                     / ((1.0 - {_ST_LAMBDA}) * count(*))) AS pi0
        FROM p
    ),
    ranked AS (
        SELECT segment, p6,
               row_number() OVER (ORDER BY p6, segment) AS i,
               count(*) OVER () AS m
        FROM p
    ),
    qraw AS (
        SELECT segment, p6, i, m, pi0.pi0,
               pi0.pi0 * m * p6 / i AS qr
        FROM ranked, pi0
    ),
    qv AS (
        SELECT segment, p6, i, m, pi0,
               least(1.0, min(qr) OVER (
                   ORDER BY i DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS q
        FROM qraw
    )
    SELECT segment, p6 AS p, CAST(i AS INT) AS rnk,
           CAST(m AS BIGINT) AS n_tests,
           round(pi0, 6) AS pi0,
           round(q, 6) AS q_value,
           CAST(CASE WHEN q <= {_ST_Q} THEN 1 ELSE 0 END AS INT)
               AS discovery
    FROM qv
""".format(grp_sql=_GRP_SQL)


@register("e_fdr_storey", _STOREY_SQL)
def e_fdr_storey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storey q-values (Storey 2002; Storey & Tibshirani 2003) —
    ADAPTIVE FDR over the same per-segment effect scan as e_bh_fdr:
    estimate the null fraction π̂0 = #{{p > λ}}/((1−λ)·m) from the
    p-value histogram's flat tail, then q(i) = min over j≥i of
    π̂0·m·p(j)/j. When many segments carry real effects, π̂0 < 1 buys
    strictly more discoveries than BH at the same FDR — the default in
    genomics-scale and segment-scan multiple testing.

    Determinism: p-values come from the e_bh_fdr t₂ grid (z snapped at
    6dp, p snapped at 6dp — exact in +,×,÷,√); π̂0 is a ratio of
    integers; the q-value suffix-min is a running min over doubles
    computed from identical operands (order-free). Everything after
    the one (segment, arm) hash aggregate runs on the segment-sized
    frame — the k×k rule."""
    g = _events_grouped(spark, sf_dir)
    seg = g.select(
        F.concat_ws(
            "#", F.col("event_type"), F.dayofweek("ts").cast("string")
        ).alias("segment"),
        "grp",
        "value",
    )
    agg = seg.groupBy("segment", "grp").agg(
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    def arm(col, grp):
        return F.max(F.when(F.col("grp") == grp, F.col(col)))
    w = (
        agg.groupBy("segment")
        .agg(
            arm("m", "A").alias("ma"), arm("m", "B").alias("mb"),
            arm("v", "A").alias("va"), arm("v", "B").alias("vb"),
            arm("n", "A").alias("na"), arm("n", "B").alias("nb"),
        )
        .filter((F.col("na") >= 2) & (F.col("nb") >= 2))
    )
    z6 = F.round(
        (F.col("ma") - F.col("mb"))
        / F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb")),
        6,
    )
    p = w.select(
        "segment",
        F.round(1.0 - F.abs(z6) / F.sqrt(2.0 + z6 * z6), 6).alias("p6"),
    ).transform(materialize, sf_dir)  # segment-sized; read by pi0 + ranking
    pi0 = p.agg(
        F.least(
            F.lit(1.0),
            F.sum(F.when(F.col("p6") > _ST_LAMBDA, 1).otherwise(0))
            / ((1.0 - _ST_LAMBDA) * F.count(F.lit(1))),
        ).alias("pi0")
    )
    wr = Window.orderBy("p6", "segment")
    ranked = p.select(
        "segment",
        "p6",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    qraw = ranked.crossJoin(F.broadcast(pi0)).withColumn(
        "qr", F.col("pi0") * F.col("m") * F.col("p6") / F.col("i")
    )
    wmin = (
        Window.orderBy(F.col("i").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qv = qraw.withColumn(
        "q", F.least(F.lit(1.0), F.min("qr").over(wmin))
    )
    return qv.select(
        "segment",
        F.col("p6").alias("p"),
        F.col("i").cast("int").alias("rnk"),
        F.col("m").cast("long").alias("n_tests"),
        F.round("pi0", 6).alias("pi0"),
        F.round("q", 6).alias("q_value"),
        (F.col("q") <= _ST_Q).cast("int").alias("discovery"),
    )


# ---------------------------------------------------------------------------
# a_join_skew_audit — shuffle-key skew pre-flight check
# ---------------------------------------------------------------------------

_SKEW_PARTS = 32  # planned shuffle partition count being audited

_SKEW_SQL = f"""
    WITH kc AS (
        SELECT l_suppkey AS key, count(*) AS c FROM lineitem GROUP BY 1
    ),
    st AS (
        SELECT count(*) AS n_keys, sum(c) AS n_rows, max(c) AS max_key
        FROM kc
    ),
    ranked AS (SELECT c, row_number() OVER (ORDER BY c, key) AS rn FROM kc),
    p99 AS (
        SELECT c AS p99_key FROM ranked, st
        WHERE rn = greatest(CAST(ceil(0.99 * st.n_keys) AS BIGINT), 1)
    ),
    parts AS (
        SELECT CAST('0x' || substring(md5(CAST(key AS VARCHAR)), 1, 8)
                    AS BIGINT) % {_SKEW_PARTS} AS part,
               sum(c) AS rows_
        FROM kc GROUP BY 1
    ),
    pstat AS (SELECT max(rows_) AS max_part FROM parts)
    SELECT CAST(st.n_keys AS BIGINT) AS n_keys,
           CAST(st.n_rows AS BIGINT) AS n_rows,
           CAST(st.max_key AS BIGINT) AS max_key_rows,
           CAST(p99.p99_key AS BIGINT) AS p99_key_rows,
           round(st.max_key * st.n_keys / (1.0 * st.n_rows), 4)
               AS key_skew_factor,
           round(pstat.max_part * {_SKEW_PARTS} / (1.0 * st.n_rows), 4)
               AS partition_skew_factor,
           CAST(CASE WHEN st.max_key * {_SKEW_PARTS} > 2 * st.n_rows
                     THEN CAST(ceil(st.max_key * {_SKEW_PARTS}
                                    / (1.0 * st.n_rows)) AS BIGINT)
                     ELSE 1 END AS BIGINT) AS suggested_salt
    FROM st, p99, pstat
"""


@register("a_join_skew_audit", _SKEW_SQL)
def a_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew pre-flight audit — the check a data engineer
    runs BEFORE shipping a join/groupBy on a new key at 100 TB: the
    per-key row distribution (max, p99), the key-level skew factor
    (max·K/N — how much the hottest key exceeds a uniform share), the
    simulated PARTITION-level skew under the planned hash partitioning
    ({_SKEW_PARTS} partitions, md5 stand-in for Spark's hash), and a
    suggested salt fan-out when the hottest key alone would dominate a
    partition (>2× a uniform partition share). Feeds the j_salted_skew
    operator; AQE's skew-join split handles the residual at runtime.

    Determinism: everything is integer counts and order statistics
    (p99 by row_number, total (c, key) order); the two ratios round
    for display. Scale shape: ONE key-sized aggregate from one fact
    scan, then key-dimension-sized frames; the partition simulation is
    a second small aggregate over the key frame — never the fact
    table."""
    li = _t(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    ).transform(materialize, sf_dir)  # key-sized; stats + p99 + partition sim read it
    st = kc.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_key"),
    )
    wr = Window.orderBy("c", "key")
    p99 = (
        kc.withColumn("rn", F.row_number().over(wr))
        .crossJoin(F.broadcast(st.select("n_keys")))
        .filter(
            F.col("rn")
            == F.greatest(
                F.ceil(0.99 * F.col("n_keys")).cast("long"), F.lit(1)
            )
        )
        .select(F.col("c").alias("p99_key"))
    )
    parts = kc.groupBy(
        (
            F.conv(F.substring(F.md5(F.col("key").cast("string")), 1, 8),
                   16, 10).cast("long")
            % _SKEW_PARTS
        ).alias("part")
    ).agg(F.sum("c").alias("rows_"))
    pstat = parts.agg(F.max("rows_").alias("max_part"))
    one = (
        st.crossJoin(F.broadcast(p99)).crossJoin(F.broadcast(pstat))
    )
    return one.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("max_key").cast("long").alias("max_key_rows"),
        F.col("p99_key").cast("long").alias("p99_key_rows"),
        F.round(
            F.col("max_key") * F.col("n_keys") / (1.0 * F.col("n_rows")), 4
        ).alias("key_skew_factor"),
        F.round(
            F.col("max_part") * _SKEW_PARTS / (1.0 * F.col("n_rows")), 4
        ).alias("partition_skew_factor"),
        F.when(
            F.col("max_key") * _SKEW_PARTS > 2 * F.col("n_rows"),
            F.ceil(
                F.col("max_key") * _SKEW_PARTS / (1.0 * F.col("n_rows"))
            ).cast("long"),
        )
        .otherwise(F.lit(1))
        .cast("long")
        .alias("suggested_salt"),
    )


# ---------------------------------------------------------------------------
# a_markov_attribution — Markov removal-effect multi-touch attribution
# ---------------------------------------------------------------------------

_MK_ROUNDS = 8       # absorption iteration depth (path-length cap)
_MK_PPM = 1_000_000  # fixed-point scale for transition probs / values


def _mk_step_sql(prev: str, cur: str) -> str:
    """One truncated-absorption sweep: v'(s) = Σ_j T(s,j)·v(j), in
    integer ppm with per-term truncating division, masked at the
    scenario's removed channel."""
    return f"""
    {cur} AS (
        SELECT s.scen, t.src AS state,
               CASE WHEN t.src = s.scen THEN CAST(0 AS BIGINT)
                    ELSE CAST(COALESCE(sum((t.p_ppm * s.v)
                                           // {_MK_PPM}), 0) AS BIGINT)
               END AS v
        FROM t JOIN {prev} s ON s.state = t.dst
        GROUP BY s.scen, t.src
    )"""


_MK_SQL = (
    f"""
    WITH pur AS (
        SELECT user_id, min(ts) AS pts FROM events
        WHERE event_type = 'purchase' GROUP BY 1
    ),
    ch AS (
        SELECT e.user_id, e.ts, e.event_id, e.event_type,
               pur.pts IS NOT NULL AS conv
        FROM events e LEFT JOIN pur USING (user_id)
        WHERE e.event_type <> 'purchase'
          AND (pur.pts IS NULL OR e.ts < pur.pts)
    ),
    seq AS (
        SELECT user_id, event_type, conv,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn_last
        FROM ch
    ),
    trans AS (
        SELECT COALESCE(prev, 'START') AS src, event_type AS dst FROM seq
        UNION ALL
        SELECT event_type, CASE WHEN conv THEN 'CONV' ELSE 'NULL' END
        FROM seq WHERE rn_last = 1
        UNION ALL
        SELECT 'START', 'CONV'
        FROM pur LEFT JOIN (SELECT DISTINCT user_id FROM ch) c
          USING (user_id)
        WHERE c.user_id IS NULL
    ),
    cnt AS (SELECT src, dst, count(*) AS c FROM trans GROUP BY 1, 2),
    tot AS (SELECT src, sum(c) AS n FROM cnt GROUP BY 1),
    t AS (
        SELECT cnt.src, cnt.dst,
               (cnt.c * {_MK_PPM}) // tot.n AS p_ppm
        FROM cnt JOIN tot USING (src)
        UNION ALL
        SELECT 'CONV', 'CONV', {_MK_PPM}
    ),
    scen AS (
        SELECT DISTINCT src AS scen FROM cnt
        WHERE src NOT IN ('START', 'CONV', 'NULL')
        UNION ALL SELECT 'FULL'
    ),
    v0 AS (SELECT scen, 'CONV' AS state, CAST({_MK_PPM} AS BIGINT) AS v
           FROM scen),"""
    + ",".join(_mk_step_sql(f"v{r}", f"v{r + 1}") for r in range(_MK_ROUNDS))
    + f""",
    p AS (
        SELECT scen, v FROM v{_MK_ROUNDS} WHERE state = 'START'
    ),
    full_ AS (SELECT v AS vf FROM p WHERE scen = 'FULL')
    SELECT p.scen AS channel,
           round(p.v / {_MK_PPM}.0, 6) AS p_without,
           round(full_.vf / {_MK_PPM}.0, 6) AS p_full,
           round((full_.vf - p.v) / (1.0 * full_.vf), 6) AS removal_effect
    FROM p, full_
    WHERE p.scen <> 'FULL'
    ORDER BY channel
""".replace("v0 AS", "v0 AS")
)


def _mk_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journeys → (src, dst, c) transition counts in ONE lag-window
    pass (the corpus-sized half of a_markov_attribution, factored out
    pre-checkpoint so plan audits can see the scan→window lineage
    that the checkpoint hides from the final plan).

    The first-purchase timestamp arrives via a per-user window over
    the SAME scan instead of a purchase-aggregate self-join: one
    events scan and one user_id exchange serve the pts window, both
    DP windows (same partitioning, re-sort only), and the
    no-channel-converter branch (whose per-user aggregate rides the
    exchange partially combined)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    ev2 = ev.withColumn(
        "pts",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(Window.partitionBy("user_id")),
    ).withColumn(
        "qual",
        (F.col("event_type") != "purchase")
        & (F.col("pts").isNull() | (F.col("ts") < F.col("pts"))),
    )
    ch = ev2.filter(F.col("qual")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.col("pts").isNotNull().alias("conv"),
    )
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wlast = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    seq = ch.select(
        "event_type",
        "conv",
        F.lag("event_type").over(wlag).alias("prev"),
        F.row_number().over(wlast).alias("rn_last"),
    )
    # Both per-event contributions (the lag pair, plus the terminal
    # absorber pair on each user's last event) emit from ONE pass over
    # seq via a conditional explode — a union of two selects over seq
    # would re-derive the window pipeline per branch.
    lag_pair = F.struct(
        F.coalesce("prev", F.lit("START")).alias("src"),
        F.col("event_type").alias("dst"),
    )
    term_pair = F.struct(
        F.col("event_type").alias("src"),
        F.when(F.col("conv"), F.lit("CONV"))
        .otherwise(F.lit("NULL"))
        .alias("dst"),
    )
    trans = (
        seq.select(
            F.explode(
                F.when(
                    F.col("rn_last") == 1, F.array(lag_pair, term_pair)
                ).otherwise(F.array(lag_pair))
            ).alias("pr")
        )
        .select("pr.src", "pr.dst")
        .unionAll(
            # Converters with no qualifying channel event: START→CONV.
            ev2.groupBy("user_id")
            .agg(
                F.max("pts").alias("pts"),
                F.max(F.when(F.col("qual"), 1)).alias("hasch"),
            )
            .filter(F.col("pts").isNotNull() & F.col("hasch").isNull())
            .select(F.lit("START").alias("src"), F.lit("CONV").alias("dst"))
        )
    )
    return trans.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))


@register("a_markov_attribution", _MK_SQL)
def a_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016) — the
    data-driven multi-touch attribution model that replaced
    first/last-touch heuristics (a_attribution): model user journeys
    as a Markov chain over channels with CONV/NULL absorbers, score
    each channel by how much the conversion probability drops when
    the channel is REMOVED (its inbound transitions redirect to NULL)
    — removal_effect(c) = (P_full − P_without_c)/P_full.

    Two exactness tricks make it value-hash portable: (1) removal is
    computed WITHOUT rebuilding the chain — pinning v(c)=0 inside the
    absorption iteration is algebraically identical to redirecting
    c's inbound mass to NULL, so all scenarios share ONE transition
    table; (2) the absorption probability runs as {_MK_ROUNDS}
    truncated power sweeps in integer ppm (the s_holt fixed-point
    rule: one multiply + one truncating division per term, Spark
    ``div`` == DuckDB ``//``), so both engines walk byte-identical
    iterates. Truncation at {_MK_ROUNDS} hops is the documented
    path-length cap (standard in production implementations).

    Scale shape: journeys reduce to a channel²-sized transition count
    in ONE lag-window pass over the event log; every sweep is a join
    of the tiny T table against a scenarios×states vector (≤ ~40
    rows) — iteration cost is independent of data size. The event
    scan is the only corpus-sized work."""
    # The transition table is channel²-sized (≤ ~40 rows regardless of
    # corpus size) — the k²/dimension rule's driver-hop territory, like
    # the genre weight grid's G×G collect. Round-13: the 8 truncated
    # power sweeps previously unrolled into an 8-level join+aggregate
    # plan over that ~40-row vector — 16-24 stages of pure scheduling
    # (~3 s at sf0.1, iteration cost was SUPPOSED to be independent of
    # data size and was instead dominated by barriers). The sweeps now
    # run as exact integer arithmetic on the driver (Python `//` on
    # nonnegative ints == Spark/DuckDB `div`, byte-identical iterates);
    # only the corpus-sized journey reduction is distributed, and the
    # final divisions/roundings stay IN SPARK so the emitted doubles
    # are produced by the same F.round expressions the oracle mirrors.
    cnt_rows = _mk_transition_counts(spark, sf_dir).collect()
    tot: dict[str, int] = {}
    for r in cnt_rows:
        tot[r["src"]] = tot.get(r["src"], 0) + int(r["c"])
    t_edges = [
        (r["src"], r["dst"], (int(r["c"]) * _MK_PPM) // tot[r["src"]])
        for r in cnt_rows
    ] + [("CONV", "CONV", _MK_PPM)]
    scens = sorted(
        {r["src"] for r in cnt_rows} - {"START", "CONV", "NULL"}
    ) + ["FULL"]
    # Per scenario: v0 = ppm at CONV; sweep v'(src) = Σ (p·v(dst))//ppm
    # with the removed channel pinned to 0 (identical to the old
    # in-plan CASE).
    results: list[tuple[str, int]] = []
    for scen in scens:
        v = {"CONV": _MK_PPM}
        for _ in range(_MK_ROUNDS):
            nv: dict[str, int] = {}
            for src, dst, p_ppm in t_edges:
                dv = v.get(dst)
                if dv is not None:
                    nv[src] = nv.get(src, 0) + (p_ppm * dv) // _MK_PPM
            if scen in nv:
                nv[scen] = 0
            v = nv
        results.append((scen, v.get("START", 0)))
    vf = dict(results)["FULL"]
    out = spark.createDataFrame(
        [(s, vv, vf) for s, vv in results if s != "FULL"],
        "scen string, v long, vf long",
    )
    return out.select(
        F.col("scen").alias("channel"),
        F.round(F.col("v") / float(_MK_PPM), 6).alias("p_without"),
        F.round(F.col("vf") / float(_MK_PPM), 6).alias("p_full"),
        F.round(
            (F.col("vf") - F.col("v")) / (1.0 * F.col("vf")), 6
        ).alias("removal_effect"),
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# a_apportionment — largest-remainder budget allocation (Hamilton method)
# ---------------------------------------------------------------------------

_APP_SEATS = 1000  # budget units to apportion across sources

_APP_SQL = f"""
    WITH s AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT sum(n) AS nt FROM s),
    base AS (
        SELECT source, n,
               (n * {_APP_SEATS}) // tot.nt AS floor_seats,
               (n * {_APP_SEATS}) % tot.nt AS rem
        FROM s, tot
    ),
    left_ AS (
        SELECT {_APP_SEATS} - sum(floor_seats) AS extra FROM base
    ),
    ranked AS (
        SELECT source, n, floor_seats, rem,
               row_number() OVER (ORDER BY rem DESC, source) AS rk
        FROM base
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(floor_seats + CASE WHEN rk <= left_.extra THEN 1 ELSE 0 END
                AS BIGINT) AS seats,
           CAST(rem AS BIGINT) AS remainder,
           CAST(rk AS INT) AS remainder_rank
    FROM ranked, left_
    ORDER BY source
"""


@register("a_apportionment", _APP_SQL)
def a_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment (Hamilton's method) — the exact
    integer algorithm for splitting a fixed budget proportionally
    across groups when fractional shares must become whole units:
    floor the proportional share, then hand the leftover units to the
    largest remainders. The allocation step behind proportional sample
    budgets (the proportional counterpart of t_quota_sample's equal
    quotas), shard/seat assignment, and annotation-budget splits —
    guaranteed to sum EXACTLY to the budget, which naive rounding
    does not.

    Pure integer arithmetic end-to-end: floor shares and remainders
    via integer div/mod (identical in both engines), the remainder
    ranking totally ordered by (remainder, source). No floats anywhere
    — the rare query with zero rounding calls.

    Scale shape: one source-sized aggregate, a 1-row total broadcast,
    and a window over the groups frame. Corpus-linear, group-sized
    everything after the scan."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = s.agg(F.sum("n").alias("nt"))
    base = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.expr(f"(n * {_APP_SEATS}) div nt").alias("floor_seats"),
        F.expr(f"(n * {_APP_SEATS}) % nt").alias("rem"),
    )
    left_ = base.agg(
        (F.lit(_APP_SEATS) - F.sum("floor_seats")).alias("extra")
    )
    w = Window.orderBy(F.col("rem").desc(), "source")
    return (
        base.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(left_))
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            (
                F.col("floor_seats")
                + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
            )
            .cast("long")
            .alias("seats"),
            F.col("rem").cast("long").alias("remainder"),
            F.col("rk").cast("int").alias("remainder_rank"),
        )
        .orderBy("source")
    )
