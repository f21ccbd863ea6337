"""Source/sink round-trip queries (SURVEY §2.1 S1-S6).

The reference persists model tensors as .npy and experiment logs as
CSV; the engine's sinks are Parquet factor frames (S5/S6) and header
CSV (S4) read back with DECLARED schemas (S1/S3 — no inference). Each
round-trip query writes to a repo-local cache dir, reads back through
the matching source, and returns a deterministic projection whose
oracle runs on the ORIGINAL table — so a value-hash match proves the
sink+source pair is lossless.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recommender_systems_spark.functions.vector import l2_norm
from recommender_systems_spark.io import (
    cache_ready,
    read_factors,
    write_csv,
    write_factors,
)
from recommender_systems_spark.registry import _t, register

_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", ".data_cache")


def _out_dir(kind: str, sf_dir: str) -> str:
    digest = hashlib.sha1(f"{kind}:{sf_dir}".encode()).hexdigest()[:12]
    return os.path.join(os.path.abspath(_CACHE), f"roundtrip_{kind}_{digest}")


@register(
    "s_parquet_roundtrip",
    """
    SELECT vec_id,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 5) AS l2
    FROM embeddings
    """,
)
def s_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+S6: factor tensor sink → source round trip (replaces
    np.save/np.load, prac_1.py:163-204 / ab_test.py:72-85). Embeddings
    are written as an (id, features) Parquet factor frame, read back,
    and reduced to per-row L2 norms — compared against norms computed
    on the ORIGINAL table, proving the Parquet round trip is exact."""
    emb = _t(spark, sf_dir, "embeddings")
    factors = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("features")
    )
    path = _out_dir("parquet", sf_dir)
    write_factors(factors, path)
    back = read_factors(spark, path)
    return back.select(
        F.col("id").alias("vec_id"),
        F.round(l2_norm(F.col("features").cast("array<double>")), 5).alias("l2"),
    )


@register(
    "s_partitioned_scan",
    """
    SELECT source, doc_id, n_chars
    FROM documents
    WHERE source IN ('src3', 'src7')
    """,
)
def s_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink → partition-pruned source (the lakehouse
    layout pattern a 100 TB corpus lives in): documents are written
    ONCE partitioned by ``source`` (one directory per value), and the
    filtered read-back touches only the matching directories —
    `.explain` shows the predicate as a partition filter with the
    other sources never scanned. The oracle is the same filter on the
    original table, proving pruning loses no rows."""
    path = _out_dir("part", sf_dir)
    if not cache_ready(path):
        docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
        docs.write.mode("overwrite").partitionBy("source").parquet(path)
    back = spark.read.parquet(path).filter(F.col("source").isin("src3", "src7"))
    return back.select("source", "doc_id", "n_chars")


_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("sum_value", T.DoubleType(), False),
    ]
)


@register(
    "s_csv_roundtrip",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def s_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S1: CSV sink → declared-schema CSV source round trip
    (reference to_csv/read_csv, ab_test.py:234 / functions.py:20). The
    experiment-log-shaped aggregate is written as a single header CSV
    (pandas-like), read back with the declared schema (inference off),
    and must hash-match the aggregate computed directly."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    path = _out_dir("csv", sf_dir)
    write_csv(agg, path, single_file=True)
    return spark.read.schema(_CSV_SCHEMA).option("header", True).csv(path)


_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)


@register(
    "s_json_roundtrip",
    """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE user_id < 50
    """,
)
def s_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → declared-schema JSON source round trip (the
    third source format next to CSV and Parquet — the interchange
    format event collectors actually emit). Doubles survive because
    Spark serialises them with round-trip precision (17 significant
    digits) and the declared-schema read (inference off) parses them
    back to the identical IEEE value — the oracle runs on the ORIGINAL
    table, so a hash match proves losslessness."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _out_dir("json", sf_dir)
    ev.write.mode("overwrite").json(path)
    return spark.read.schema(_JSON_SCHEMA).json(path)


@register(
    "s_orc_roundtrip",
    """
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE n_chars >= 200
    """,
)
def s_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source round trip (fourth format: the columnar
    format Hive/Trino warehouses standardise on). The filtered
    projection is written as ORC, read back, and hash-compared against
    the ORIGINAL parquet table — DuckDB never reads the ORC file, so a
    match proves Spark's ORC sink+source compose to identity on these
    types (long, string)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200).select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = _out_dir("orc", sf_dir)
    docs.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "j_dpp_join",
    """
    SELECT d.source, d.doc_id, d.n_chars
    FROM documents d
    JOIN (SELECT DISTINCT source FROM documents WHERE n_chars > 540) s
      ON s.source = d.source
    """,
)
def j_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the
    source-partitioned lakehouse layout (s_partitioned_scan's sink)
    and the dim side is a runtime-computed source list — Spark injects
    a `dynamicpruning` subquery so only the qualifying partition
    DIRECTORIES are read, even though the filter value isn't known
    until runtime (static pruning, s_partitioned_scan, needs the
    literal up front). At 100 TB this is the difference between
    scanning 5 sources and scanning 200.

    The oracle replays the same semi-join on the ORIGINAL table, so
    the hash match proves pruning loses no rows; the plan-shape test
    asserts the pruning subquery is actually in the physical plan."""
    path = _out_dir("part", sf_dir)
    if not cache_ready(path):
        docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
        docs.write.mode("overwrite").partitionBy("source").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        spark.read.parquet(path)
        .filter(F.col("n_chars") > 540)
        .select("source")
        .distinct()
    )
    return fact.join(dim, "source").select("source", "doc_id", "n_chars")


@register(
    "s_compact_files",
    """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE user_id < 40
    """,
)
def s_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the fragmented layout (64 shards of a
    3k-row extract — the classic streaming-sink pathology) is rewritten
    to 4 right-sized files, and the compacted read-back must equal the
    ORIGINAL table. At 100 TB, compaction is the difference between a
    NameNode/driver choking on 10⁷ file statuses and a scan with
    healthy split sizes; the op here is the rewrite job itself
    (repartition → overwrite), with row preservation proven by the
    oracle and the file-count collapse asserted by the test layer."""
    src = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "event_id", "user_id", "event_type", "value"
    )
    frag = _out_dir("frag", sf_dir)
    if not cache_ready(frag):
        src.repartition(64).write.mode("overwrite").parquet(frag)
    compact = _out_dir("compact", sf_dir)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compact
    )
    return spark.read.parquet(compact)
