"""Scale-pattern queries: the shuffle-avoidance techniques the engine
relies on at 100 TB, demonstrated as oracle-checked queries (results
must equal the straightforward plan — the ORACLE is the plain SQL, the
Spark plan is the optimised physical strategy).

- ``j_bucketed_join``: co-located join via bucketed tables — both
  sides pre-hash-partitioned on the join key into the same bucket
  count, so the join is a zero-shuffle sort-merge over aligned buckets.
  This is THE technique for repeated large-fact ⋈ large-fact joins
  (orders ⋈ lineitem at 100 TB): pay the shuffle once at write time,
  never again at read time.
- ``j_salted_skew``: hot-key mitigation by salting — the skewed build
  side explodes each key into SALT replicas, the probe side draws a
  random salt, so one hot key spreads over SALT reducers. AQE's skew
  join handles this adaptively; explicit salting is the deterministic
  fallback when a key is pathological (here the salt is rand-seeded on
  the probe, so the rows land spread but results are exact).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recommender_systems_spark.io import cache_ready, materialize
from recommender_systems_spark.registry import _t, register

_CACHE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "..", ".data_cache"
)
N_BUCKETS = 8
SALT = 8


def _ensure_bucketed(
    spark: SparkSession, df_cols, table: str, path: str, key: str
) -> None:
    """Make ``table`` exist as a bucketed table backed by ``path``.

    Three cases, cheapest first:
    - already in the session catalog → nothing to do;
    - files on disk from a previous session (complete iff _SUCCESS
      marker present) → re-register an EXTERNAL bucketed table over
      them: zero data movement, the bucket spec in the catalog is what
      lets the planner skip the exchange;
    - otherwise pay the one-time write, pre-repartitioned to the
      bucket count so every task owns exactly one bucket (one sorted
      file per bucket instead of tasks × buckets splinters — measured
      4.5× faster and 8 files instead of 256 at sf0.1)."""
    if spark.catalog.tableExists(table):
        return
    if cache_ready(path):
        ddl = spark.read.parquet(path).schema.toDDL()
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {N_BUCKETS} BUCKETS LOCATION '{path}'"
        )
        return
    (
        df_cols.repartition(N_BUCKETS, key)
        .write.mode("overwrite")
        .bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> str:
    """Bucket orders+lineitem on the join key (write once per sf, ever:
    the parquet buckets persist under .data_cache and later sessions
    re-register them — 'pay the shuffle once at write time')."""
    # Keyed on source-data identity, not just the path: regenerated
    # testdata must invalidate the buckets (a stale cache would fail
    # the oracle in a way that looks like an engine bug).
    from recommender_systems_spark.io import cache_key

    suffix = cache_key(sf_dir, "orders", "lineitem")
    warehouse = os.path.join(os.path.abspath(_CACHE), "warehouse")
    _ensure_bucketed(
        spark,
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        f"orders_b_{suffix}",
        os.path.join(warehouse, f"orders_b_{suffix}"),
        "o_orderkey",
    )
    _ensure_bucketed(
        spark,
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
        f"lineitem_b_{suffix}",
        os.path.join(warehouse, f"lineitem_b_{suffix}"),
        "l_orderkey",
    )
    return suffix


@register(
    "j_bucketed_join",
    """
    SELECT o.o_orderkey,
           CAST(count(*) AS BIGINT) AS n_items,
           sum(l.l_quantity) AS sum_qty,
           round(max(o.o_totalprice), 2) AS total
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 5000
    GROUP BY o.o_orderkey
    """,
)
def j_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join over bucketed tables: both sides are
    hash-bucketed and sorted on orderkey at write time, so the join
    plans as a sort-merge over aligned buckets with NO exchange on
    either side (`.explain` shows no Exchange below the SortMergeJoin)
    and the following aggregation reuses the same partitioning. The
    oracle is the plain join — identical results, different physics."""
    suffix = _bucketed_tables(spark, sf_dir)
    orders = spark.table(f"orders_b_{suffix}").filter(F.col("o_orderkey") < 5000)
    li = spark.table(f"lineitem_b_{suffix}")
    return (
        # merge hint: keep the sort-merge path (broadcast would also be
        # correct here at test scale, but the point is the exchange-free
        # bucket alignment a 100 TB fact⋈fact join depends on).
        orders.hint("merge").join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.max("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "j_salted_skew",
    """
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(s.s_acctbal), 2) AS weight
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY l.l_returnflag
    """,
)
def j_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: the dimension side replicates each key SALT times
    (explode), the fact side attaches a seeded random salt, and the
    join key becomes (key, salt) — a pathologically hot supplier now
    spreads across SALT reducers instead of melting one. Results are
    exactly the unsalted join's (every fact row still matches exactly
    one replica), which is what the plain-SQL oracle checks."""
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_returnflag")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    salted_dim = sup.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
    )
    salted_fact = li.withColumn(
        "__salt", F.floor(F.rand(17) * SALT).cast("int")
    )
    joined = salted_fact.join(
        salted_dim.hint("shuffle_hash"),
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (salted_fact["__salt"] == salted_dim["__salt"]),
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("s_acctbal"), 2).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout key — multi-dimensional data skipping
# ---------------------------------------------------------------------------

ZBITS = 8  # 8 bits per dimension → 16-bit interleaved key


def _morton_col(x: F.Column, y: F.Column) -> F.Column:
    """Interleave the low ZBITS of x (even positions) and y (odd)."""
    out = F.lit(0)
    for i in range(ZBITS):
        out = out + F.shiftleft(
            F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i
        ) + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return out.cast("long")


def _morton_sql(x: str, y: str) -> str:
    terms = " + ".join(
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(ZBITS)
    )
    return f"CAST({terms} AS BIGINT)"


_ZX_SQL = "(user_id % 256)"
_ZY_SQL = "CAST(greatest(least(floor(value * 2.56), 255), 0) AS BIGINT)"

_ZORDER_SQL = f"""
    WITH z AS (
        SELECT event_id, {_ZX_SQL} AS zx, {_ZY_SQL} AS zy,
               {_morton_sql(_ZX_SQL, _ZY_SQL)} AS zkey
        FROM events
    )
    SELECT CAST(zkey // 4096 AS BIGINT) AS zblock,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(zx) AS BIGINT) AS min_x, CAST(max(zx) AS BIGINT) AS max_x,
           CAST(min(zy) AS BIGINT) AS min_y, CAST(max(zy) AS BIGINT) AS max_y
    FROM z
    GROUP BY zblock
"""


@register("w_zorder", _ZORDER_SQL)
def w_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over two dimensions — user bucket ×
    value bucket — plus the per-block min/max column statistics that a
    z-sorted file layout exposes to data skipping.

    Why this is a scale operator rather than arithmetic: sorting 100 TB
    by ``zkey`` before writing clusters BOTH dimensions into every file,
    so the parquet footer min/max on user_id AND value are tight per
    file, and a scan filtered on either dimension prunes most files —
    a single-column sort gives skipping on one dimension only. The
    emitted (zblock → min/max per dim) table IS that skipping index:
    each 4096-key block covers a 64×64 tile of the key space, so both
    per-dimension ranges stay narrow (the oracle check verifies the
    tile bounds numerically). Bit-interleave runs in whole-stage
    codegen (shift/and/add only)."""
    ev = _t(spark, sf_dir, "events")
    zx = F.pmod(F.col("user_id"), F.lit(256))
    zy = F.greatest(
        F.least(F.floor(F.col("value") * 2.56), F.lit(255)), F.lit(0)
    ).cast("long")
    z = ev.select(
        "event_id",
        zx.alias("zx"),
        zy.alias("zy"),
        _morton_col(zx, zy).alias("zkey"),
    )
    return (
        z.groupBy((F.col("zkey") / 4096).cast("long").alias("zblock"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zx").alias("min_x"),
            F.max("zx").alias("max_x"),
            F.min("zy").alias("min_y"),
            F.max("zy").alias("max_y"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning (semi-join reduction without shuffling the
# probe side)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 14  # m = 16384 bits, k = 2 salted hashes


def _bloom_pos(col, salt: str):
    """Deterministic bloom bit position: 52 bits of md5, mod m — the
    same arithmetic in both engines (see queries/sampling._u01)."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws("_", col, F.lit(salt))), 1, 13), 16, 10
        ).cast("long"),
        F.lit(_BLOOM_BITS),
    )


def _bloom_pos_sql(expr: str, salt: str) -> str:
    return (
        f"(CAST('0x' || substring(md5(CAST({expr} AS VARCHAR) || '_{salt}'), 1, 13)"
        f" AS BIGINT) % {_BLOOM_BITS})"
    )


_BLOOM_SQL = f"""
    WITH build AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    pos AS (
        SELECT DISTINCT h FROM (
            SELECT unnest([{_bloom_pos_sql("c_custkey", "b1")},
                           {_bloom_pos_sql("c_custkey", "b2")}]) AS h
            FROM build
        )
    ),
    cand AS (
        SELECT o_custkey, o_totalprice FROM orders
        WHERE {_bloom_pos_sql("o_custkey", "b1")} IN (SELECT h FROM pos)
          AND {_bloom_pos_sql("o_custkey", "b2")} IN (SELECT h FROM pos)
    ),
    j AS (
        SELECT cand.o_totalprice, b.c_custkey AS mk
        FROM cand LEFT JOIN build b ON cand.o_custkey = b.c_custkey
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM build) AS n_build_keys,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(count(mk) AS BIGINT) AS n_matched,
           CAST(count(*) - count(mk) AS BIGINT) AS n_false_pos,
           round(sum(CASE WHEN mk IS NOT NULL THEN o_totalprice END), 2)
               AS matched_revenue
    FROM j
"""


@register("j_bloom_join", _BLOOM_SQL)
def j_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning: before joining orders against a
    filtered customer subset, reduce the probe side with a bloom filter
    built from the build side's keys — the semi-join-reduction pattern
    that, at 100 TB, avoids shuffling probe rows that cannot match
    (Spark's own runtime row-level filtering —
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` — injects
    exactly this shape adaptively; building it explicitly makes the
    filter deterministic and therefore oracle-checkable, and covers the
    cases the optimizer's cost gate skips).

    The filter is m={_BLOOM_BITS} bits with k=2 salted md5 hashes (load
    n/m low enough for a sub-percent false-positive rate at test scale;
    production sizes m from the observed build cardinality).  The
    distinct bit-position set rides ONE broadcast; probing is two
    array_contains checks inside the scan — zero shuffle of the probe
    side before the residual exact join, which here is itself broadcast
    so the whole query is exchange-free up to the final scalar agg.
    The output exposes the filter telemetry a production job records:
    candidate count, exact-match count, false positives crossing the
    bloom, and the matched-revenue aggregate proving the residual join
    removed them."""
    cust = _t(spark, sf_dir, "customer")
    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    pos = (
        build.select(
            F.explode(
                F.array(
                    _bloom_pos(F.col("c_custkey"), "b1"),
                    _bloom_pos(F.col("c_custkey"), "b2"),
                )
            ).alias("h")
        )
        .agg(F.sort_array(F.collect_set("h")).alias("bloom"))
    )
    from recommender_systems_spark.io import spread_scan

    # The two salted-md5 bloom probes per row run in the SCAN stage,
    # which the single-row-group local parquet caps at one task
    # (round-14 census; scaling 0.98 at 4x cores = serial). spread_scan
    # pays one slim-row exchange locally, no-op at scale.
    orders = spread_scan(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        sf_dir, "orders",
    )
    cand = orders.crossJoin(F.broadcast(pos)).filter(
        F.array_contains(F.col("bloom"), _bloom_pos(F.col("o_custkey"), "b1"))
        & F.array_contains(F.col("bloom"), _bloom_pos(F.col("o_custkey"), "b2"))
    )
    j = cand.join(
        F.broadcast(build.withColumnRenamed("c_custkey", "mk")),
        F.col("o_custkey") == F.col("mk"),
        "left",
    )
    n_build = build.agg(F.count(F.lit(1)).cast("long").alias("n_build_keys"))
    return (
        j.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.count("mk").cast("long").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("mk")).cast("long").alias("n_false_pos"),
            F.round(
                F.sum(F.when(F.col("mk").isNotNull(), F.col("o_totalprice"))), 2
            ).alias("matched_revenue"),
        )
        .crossJoin(F.broadcast(n_build))
        .select(
            "n_build_keys",
            "n_candidates",
            "n_matched",
            "n_false_pos",
            "matched_revenue",
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew profile (the diagnostic before salting / AQE tuning)
# ---------------------------------------------------------------------------

_SKEW_TOP = 10

_SKEW_SQL = f"""
    WITH k AS (
        SELECT o_custkey AS key, count(*) AS c FROM orders GROUP BY o_custkey
    ),
    s AS (
        SELECT (SELECT count(*) FROM k) AS n_keys,
               (SELECT sum(c) FROM k) AS n_rows,
               (SELECT max(c) FROM k) AS max_c,
               (SELECT round(quantile_cont(c, 0.5), 1) FROM k) AS p50_c,
               (SELECT round(quantile_cont(c, 0.99), 1) FROM k) AS p99_c
    ),
    top AS (
        SELECT key, c, row_number() OVER (ORDER BY c DESC, key) AS rnk
        FROM k
    )
    SELECT t.rnk AS rank, t.key, CAST(t.c AS BIGINT) AS n,
           round(CAST(t.c AS DOUBLE) / s.n_rows, 6) AS share,
           round(CAST(t.c AS DOUBLE) * s.n_keys / s.n_rows, 2)
               AS x_over_uniform,
           CAST(s.n_keys AS BIGINT) AS n_keys,
           s.p50_c, s.p99_c
    FROM top t, s
    WHERE t.rnk <= {_SKEW_TOP}
"""


@register("a_skew_profile", _SKEW_SQL)
def a_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: the heaviest {_SKEW_TOP} keys of a
    prospective shuffle key with their row share and multiple-over-
    uniform, next to the key-count distribution's p50/p99 — the
    diagnostic a data engineer reads BEFORE choosing between plain
    hash join, AQE skew handling, and explicit salting
    (j_salted_skew); at 100 TB you run this on a sample first, and a
    single key at >5% share means the reducer holding it IS the job's
    critical path.

    One hash aggregate builds the per-key histogram (key-sized from
    then on); percentiles and totals are scalar aggs over that
    key-sized table, and the top-{_SKEW_TOP} is TakeOrderedAndProject.
    Every derived number is exact integer arithmetic before one
    division."""
    orders = _t(spark, sf_dir, "orders")
    k = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    ).transform(materialize, sf_dir)  # consumed twice: stats + top-k
    s = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.round(F.percentile("c", F.lit(0.5)), 1).alias("p50_c"),
        F.round(F.percentile("c", F.lit(0.99)), 1).alias("p99_c"),
    )
    top = k.orderBy(F.col("c").desc(), "key").limit(_SKEW_TOP)
    w = Window.orderBy(F.col("c").desc(), "key")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(s))
        .select(
            "rank",
            "key",
            F.col("c").cast("long").alias("n"),
            F.round(F.col("c").cast("double") / F.col("n_rows"), 6).alias(
                "share"
            ),
            F.round(
                F.col("c").cast("double") * F.col("n_keys") / F.col("n_rows"), 2
            ).alias("x_over_uniform"),
            F.col("n_keys").cast("long").alias("n_keys"),
            "p50_c",
            "p99_c",
        )
    )


# ---------------------------------------------------------------------------
# j_merge_upsert — the lakehouse MERGE INTO (upsert + delete) join shape
# ---------------------------------------------------------------------------

_MERGE_SQL = """
    WITH tgt AS (
        SELECT c_custkey AS k, round(c_acctbal, 2) AS bal FROM customer
    ),
    src AS (
        SELECT o_custkey AS k,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
               max(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) AS is_del
        FROM orders GROUP BY 1
    ),
    ins AS (
        SELECT k + 1000000 AS k, cents, 0 AS is_del FROM src WHERE k % 53 = 0
    ),
    batch AS (
        SELECT k, round(cents / 10000.0, 2) AS new_bal, is_del FROM src
        UNION ALL
        SELECT k, round(cents / 10000.0, 2) AS new_bal, is_del FROM ins
    ),
    merged AS (
        SELECT COALESCE(t.k, b.k) AS k,
               CASE WHEN b.k IS NULL THEN 'keep'
                    WHEN t.k IS NULL THEN 'insert'
                    WHEN b.is_del = 1 THEN 'delete'
                    ELSE 'update' END AS action,
               CASE WHEN b.k IS NULL THEN t.bal ELSE b.new_bal END AS bal
        FROM tgt t FULL OUTER JOIN batch b ON t.k = b.k
    )
    SELECT CAST(k AS BIGINT) AS cust_key, action, round(bal, 2) AS balance
    FROM merged WHERE action <> 'delete'
"""


@register("j_merge_upsert", _MERGE_SQL)
def j_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO — the lakehouse upsert: a target table meets a change
    batch on the key with all four WHEN outcomes in one pass — matched
    + delete-flag → row removed, matched → updated balance, source-only
    → inserted, target-only → kept unchanged. The batch here is derived
    from orders (per-customer total as the update, key%97 as the delete
    marker, a shifted key range as the arriving inserts) so the query
    is self-contained on the warehouse tables. Complements
    ``s_cdc_snapshot``: that folds an append log per key (SCD-1 window
    shape); this is the JOIN shape Delta/Iceberg MERGE compiles to.

    Scale shape: ONE full-outer key-partitioned join — both sides
    shuffle on the merge key exactly once and every WHEN branch is a
    post-join projection, no second pass per action; at 100 TB this is
    the canonical copy-on-write MERGE job (file/partition pruning on
    the touched-key range happens upstream of this plan, s_partitioned
    _scan shows that lever). Parity: update balances ride integer
    cents (exact sums), one exact division at the end; 'keep' balances
    pass the stored doubles through untouched."""
    tgt = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.round("c_acctbal", 2).alias("bal")
    )
    src = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.max(
                F.when(F.col("o_custkey") % 97 == 0, 1).otherwise(0)
            ).alias("is_del"),
        )
    )
    ins = src.filter(F.col("k") % 53 == 0).select(
        (F.col("k") + 1000000).alias("k"), "cents", F.lit(0).alias("is_del")
    )
    batch = (
        src.select("k", F.round(F.col("cents") / 10000.0, 2).alias("new_bal"), "is_del")
        .unionAll(
            ins.select(
                "k", F.round(F.col("cents") / 10000.0, 2).alias("new_bal"), "is_del"
            )
        )
    )
    merged = tgt.alias("t").join(
        batch.alias("b"), F.col("t.k") == F.col("b.k"), "full_outer"
    )
    action = (
        F.when(F.col("b.k").isNull(), F.lit("keep"))
        .when(F.col("t.k").isNull(), F.lit("insert"))
        .when(F.col("b.is_del") == 1, F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        merged.select(
            F.coalesce(F.col("t.k"), F.col("b.k")).cast("long").alias("cust_key"),
            action.alias("action"),
            F.round(
                F.when(F.col("b.k").isNull(), F.col("t.bal")).otherwise(
                    F.col("b.new_bal")
                ),
                2,
            ).alias("balance"),
        )
        .filter(F.col("action") != "delete")
    )
