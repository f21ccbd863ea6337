"""Core relational queries (SURVEY §2 P/J/A/W/F families + flagship)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recommender_systems_spark.functions.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    rolling_fingerprint,
    token_count,
    tokens,
)
from recommender_systems_spark.functions.vector import cosine_similarity
from recommender_systems_spark.operators.densify import dense_id_map
from recommender_systems_spark.operators.relational import (
    anti_join_below_threshold,
    cumulative_sum,
    group_top_k,
    relative_frequency,
)
from recommender_systems_spark.registry import _t, register


# ---------------------------------------------------------------------------
# Phase 0 flagship — the reference's signature pipeline shape on driver data:
# filter → join → join → groupBy agg → top-k (SURVEY §7 Phase 0).
# ---------------------------------------------------------------------------


@register(
    "flagship_top_customers",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(count(*) AS BIGINT) AS item_count,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_quantity >= 5
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def flagship_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by discounted revenue. Mirrors the reference's
    clean→join→aggregate→top-N serving shape (functions.py:599-647).

    Scale notes: the lineitem→orders join shuffles on orderkey (both
    sides large); customer is dimension-sized → broadcast; top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = (
        li.filter(F.col("l_quantity") >= 5)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name").agg(
        F.count(F.lit(1)).alias("item_count"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


# ---------------------------------------------------------------------------
# P — projections / filters / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@register(
    "p_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           l_quantity * 2 AS qty_x2,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    WHERE l_quantity >= 45 AND l_discount <= 0.02
    """,
)
def p_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P4: drop/derive/filter (reference functions.py:21-26: drop
    timestamp, rating_10 = rating*2, comparison filter). Filters and the
    4-column projection push down to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") >= 45) & (F.col("l_discount") <= 0.02))
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_quantity") * 2).alias("qty_x2"),
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("charge"),
        )
    )


@register(
    "p_anti_join_threshold",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS count
    FROM orders
    WHERE o_custkey NOT IN (
        SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) < 3
    )
    GROUP BY o_orderstatus
    """,
)
def p_anti_join_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+P7: drop keys below a count threshold via left_anti join
    (reference: drop users with <10 ratings,
    implicit_feedback/functions.py:284-287). The exclusion side is an
    aggregate that AQE broadcasts at runtime."""
    orders = _t(spark, sf_dir, "orders")
    kept = anti_join_below_threshold(orders, "o_custkey", 3)
    return kept.groupBy("o_orderstatus").count()


# ---------------------------------------------------------------------------
# J — joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "j_star_join",
    """
    SELECT r.r_name, n.n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def j_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-J3: star join fact→dims with explicit broadcast of every
    dimension (reference joins are all pandas inner equi-joins on small
    dims, e.g. functions.py:45,633). One shuffle (lineitem⋈orders);
    everything downstream is broadcast hash joins, map-side."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    df = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return df.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# A — aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@register(
    "a_group_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS count_order,
           sum(l_quantity) AS sum_qty,
           avg(l_quantity) AS avg_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(avg(l_extendedprice), 4) AS avg_price,
           median(l_quantity) AS median_qty,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3/A4/A5: grouped count/sum/avg/median/count-distinct
    (reference value_counts functions.py:229-236, group means
    prac_1_plotting.py:33-45, median :57, nunique functions.py:28-31).
    Quantities are integer-valued doubles → sums are IEEE-exact, no
    rounding; price sums round to absorb accumulation-order drift."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("count_order"),
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_quantity").alias("avg_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.median("l_quantity").alias("median_qty"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@register(
    "a_relative_frequency",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS count,
           CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS freq
    FROM events GROUP BY event_type
    """,
)
def a_relative_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: value_counts(normalize=True) — the popularity distribution
    that drives BPR negative sampling (prac_2.py:16-25). Exact long/long
    → double division on both engines, no rounding needed."""
    ev = _t(spark, sf_dir, "events")
    return relative_frequency(ev, "event_type")


@register(
    "a_dedup_distinct",
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def a_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7: distinct / drop_duplicates (reference genre_info.py:23)."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).distinct()


@register(
    "a_cumsum",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_total
    FROM orders
    """,
)
def a_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: per-key running total (reference np.cumsum offsets,
    functions.py:238-242). Partitioned window — parallel by customer."""
    orders = _t(spark, sf_dir, "orders")
    out = cumulative_sum(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"], "o_totalprice"
    )
    return out.select(
        "o_custkey", "o_orderkey", F.round("running_total", 2).alias("running_total")
    )


# ---------------------------------------------------------------------------
# W — sorts / top-k / densification (SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "w_densify_ids",
    """
    SELECT l_partkey,
           CAST(ROW_NUMBER() OVER (ORDER BY l_partkey) - 1 AS BIGINT)
               AS l_partkey_order
    FROM (SELECT DISTINCT l_partkey FROM lineitem)
    """,
)
def w_densify_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: the reference's signature operator — sparse id → dense 0..N-1
    (functions.py:37-45). Two-phase range-partition + per-partition rank
    (zipWithIndex pattern): no single-partition global window at scale."""
    li = _t(spark, sf_dir, "lineitem")
    from recommender_systems_spark.io import table_rows

    return dense_id_map(
        li, "l_partkey", "l_partkey_order", strategy="two_phase",
        approx_rows=table_rows(sf_dir, "part"),
    )


@register(
    "w_global_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def w_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: global top-k → TakeOrderedAndProject (reference
    sort_values().head(n), functions.py:634-647). Total order via
    orderkey tie-break so the row set is engine-independent."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return orders.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    ).limit(20)


@register(
    "w_group_topk",
    """
    SELECT * FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
               ) AS INT) AS rank
        FROM lineitem
    ) WHERE rank <= 3
    """,
)
def w_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: per-group top-k via row_number window (reference: per-user
    top-k of scores, implicit_feedback/functions.py:233-241). One shuffle
    on the group key; ordering made total with key tie-breaks."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return group_top_k(
        li,
        ["l_returnflag"],
        F.struct(
            F.col("l_extendedprice"),
            (-F.col("l_orderkey")).alias("nk"),
            (-F.col("l_linenumber")).alias("nl"),
        ),
        3,
        keep_rank=True,
    )


# ---------------------------------------------------------------------------
# F — string/array functions (SURVEY §2.6)
# ---------------------------------------------------------------------------


@register(
    "f_string_array_ops",
    """
    SELECT p_partkey,
           CAST(len(string_split(p_type, ' ')) AS INT) AS n_words,
           array_to_string(list_sort(string_split(p_type, ' ')), '|')
               AS sorted_words,
           string_split(p_type, ' ')[1] AS first_word
    FROM part
    """,
)
def f_string_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3/F7: split-to-array, size, element access, canonical re-join
    (reference genres.str.split('|') genre_info.py:30, len functions.py:475).
    Output arrays re-joined to strings for engine-portable hashing."""
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_type"), " ")
    return part.select(
        "p_partkey",
        F.size(words).alias("n_words"),
        F.array_join(F.array_sort(words), "|").alias("sorted_words"),
        words.getItem(0).alias("first_word"),
    )


@register(
    "f_json_parse",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'k' AS INT)) AS INT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def f_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: typed parse of a serialised column (reference: pd.read_csv
    converters={'genres_v2': pd.eval}, incl_genre.py:17-19 — a stringly
    list parsed into a typed value). Here the events.props JSON column
    parses via from_json with a DECLARED schema (inference off), then
    aggregates the extracted field — parse + downstream compute in one
    codegen'd plan."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "f_flatten",
    """
    WITH per_user AS (
        SELECT event_type, user_id,
               list_sort(list(DISTINCT CAST(floor(value) AS BIGINT))) AS vals
        FROM events WHERE user_id < 30
        GROUP BY event_type, user_id
    ),
    nested AS (
        SELECT event_type, list(vals ORDER BY user_id) AS lol
        FROM per_user GROUP BY event_type
    )
    SELECT event_type,
           CAST(len(flatten(lol)) AS INT) AS n_flat,
           CAST(len(list_distinct(flatten(lol))) AS INT) AS n_distinct
    FROM nested
    """,
)
def f_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: flatten list-of-lists (reference: user history sublists →
    flat list, functions.py:511). Per-user sorted value lists are
    collected per event type, flattened, and measured — nested-array
    construction and flattening both JVM-side."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.array_sort(F.collect_set(F.floor("value").cast("long"))).alias("vals")
    )
    nested = per_user.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("user_id", "vals"))),
            lambda s: s["vals"],
        ).alias("lol")
    )
    flat = F.flatten(F.col("lol"))
    return nested.select(
        "event_type",
        F.size(flat).alias("n_flat"),
        F.size(F.array_distinct(flat)).alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# Text analysis extensions (token counting, fingerprinting)
# ---------------------------------------------------------------------------


@register(
    "t_token_stats",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
               AS n_tokens,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
               AS BIGINT) AS n_distinct_tokens,
           n_chars
    FROM documents
    """,
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: token counting over documents — whitespace/regex
    tokeniser, distinct-token count. All JVM-side regexp + HOFs."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        "n_chars",
    )


@register(
    "t_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(regexp_split_to_array(text, ''),
                                  ch -> CAST(ascii(ch) AS BIGINT))),
               (acc, x) -> (acc * {FINGERPRINT_BASE} + x) % {FINGERPRINT_MOD}
           ) AS fingerprint
    FROM documents
    """,
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: deterministic rolling-hash document fingerprint
    (base-31 over code points, mod 2^31-1) — the exact-dedup key."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "dedup_exact",
    f"""
    WITH keyed AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(regexp_split_to_array(text, ''),
                                      ch -> CAST(ascii(ch) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % {FINGERPRINT_MOD}) AS f1,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(regexp_split_to_array(text, ''),
                                      ch -> CAST(ascii(ch) AS BIGINT))),
                   (acc, x) -> (acc * 131 + x) % {FINGERPRINT_MOD}) AS f2,
               length(text) AS n
        FROM documents
    )
    SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
    FROM keyed GROUP BY f1, f2, n
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: exact deduplication. The shuffle key is NOT the raw
    text (which at 100 TB would move full document bytes through the
    exchange) but a 62-bit dual rolling fingerprint (bases 31 and 131
    over the same Mersenne modulus) plus the length — 24 bytes per row
    regardless of document size. Joint collision probability for n docs
    is ~n²/2⁶³ (≪1 even at 10¹² docs); semantics match group-by-text
    up to that bound."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            rolling_fingerprint(F.col("text")).alias("f1"),
            rolling_fingerprint(F.col("text"), base=131).alias("f2"),
            F.length("text").alias("n"),
        )
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


from recommender_systems_spark.dedup.minhash import sql_fp  # noqa: E402

_INGEST_SQL = f"""
    WITH keyed AS (
        SELECT doc_id, {sql_fp("text", 31)} AS f1, {sql_fp("text", 131)} AS f2,
               length(text) AS n
        FROM documents
    ),
    old AS (SELECT DISTINCT f1, f2, n FROM keyed WHERE doc_id % 2 = 0),
    batch AS (
        SELECT f1, f2, n, min(doc_id) AS doc_id
        FROM keyed WHERE doc_id % 2 = 1 GROUP BY f1, f2, n
    )
    SELECT b.doc_id, b.f1 AS fingerprint
    FROM batch b
    WHERE NOT EXISTS (
        SELECT 1 FROM old o
        WHERE o.f1 = b.f1 AND o.f2 = b.f2 AND o.n = b.n
    )
"""


def _fp_store_path(sf_dir: str) -> str:
    from recommender_systems_spark.io import cache_path

    return cache_path("fp_store", sf_dir, "documents")


def _keyed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        rolling_fingerprint(F.col("text")).alias("f1"),
        rolling_fingerprint(F.col("text"), base=131).alias("f2"),
        F.length("text").alias("n"),
    )


@register("t_incremental_ingest", _INGEST_SQL)
def t_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: incremental corpus ingestion — the steady-state shape
    of a 100 TB dedup pipeline. The historical corpus is represented by
    a PERSISTED fingerprint store (24 bytes per historical doc — dual
    rolling fingerprint + length, same key as dedup_exact — written
    once, reused across sessions via the _SUCCESS marker); each new
    batch deduplicates within itself (min doc_id per key), then
    anti-joins the store, and only the survivors would be appended to
    the corpus + store. Neither side of the anti-join ever carries
    document text, and the store grows 24 bytes per UNIQUE document —
    the historical text is never re-read on later batches, which is the
    whole point: ingest cost stays O(batch), not O(corpus).

    Here "historical" = even doc_ids, "new batch" = odd doc_ids, so the
    oracle can reconstruct the store from the same table."""
    from recommender_systems_spark.io import cache_ready

    store_path = _fp_store_path(sf_dir)
    if not cache_ready(store_path):
        (
            _keyed_docs(spark, sf_dir)
            .filter(F.col("doc_id") % 2 == 0)
            .select("f1", "f2", "n")
            .distinct()
            .write.mode("overwrite")
            .parquet(store_path)
        )
    store = spark.read.parquet(store_path)
    batch = (
        _keyed_docs(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .groupBy("f1", "f2", "n")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return batch.join(store, ["f1", "f2", "n"], "left_anti").select(
        "doc_id", F.col("f1").alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# Vector scoring (M1/M13) + similarity-search extension
# ---------------------------------------------------------------------------


@register(
    "v_cosine_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
               WHERE vec_id = 0)
    SELECT e.vec_id,
           round(
             list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def v_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/M13 + similarity-search extension: full-catalog cosine scoring
    against a query vector, top-10 (reference: u·V[n] full scoring,
    functions.py:599-634). The query vector is a 1-row broadcast; the
    dot product runs in whole-stage codegen via zip_with/aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ev"))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_similarity(F.col("ev"), F.col("qv")), 5).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)
