"""W2 — id densification: map sparse ids to consecutive 0..N-1.

This is the reference's signature preprocessing operator
(explicit_ratings/functions.py:37-45: unique → sort → reset_index ×2 →
merge). MovieLens movieIds are sparse (max 209,170 vs 59,047 distinct),
and MLlib ALS wants dense int ids, so the operator is load-bearing.

Two physical strategies, same logical result (dense id == rank of the id
in ascending order):

- ``window``  : ``row_number() OVER (ORDER BY id)`` — simple, but the
  unpartitioned window funnels all distinct ids through ONE partition.
  Fine for dimension-sized inputs; a bottleneck at 100 TB.
- ``two_phase`` (default): range-repartition the distinct ids, rank
  within each partition, then add exclusive per-partition offsets
  (computed from a tiny per-partition count collected to the driver —
  #partitions rows, not #ids). This is the zipWithIndex pattern expressed
  in DataFrame ops; every stage is fully parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recommender_systems_spark.io import materialize


def dense_id_map(
    df: DataFrame,
    id_col: str,
    out_col: str,
    strategy: str = "two_phase",
    num_partitions: int | None = None,
    approx_rows: int | None = None,
) -> DataFrame:
    """Return a mapping DataFrame ``(id_col, out_col)`` where ``out_col``
    is the 0-based rank of ``id_col`` among the distinct values.

    ``approx_rows``: row estimate for the distinct-id table (an upper
    bound is fine); sizes the range partitioning from the data instead
    of the core count (relational.RANGE_ROWS_PER_PART)."""
    ids = df.select(id_col).distinct()
    if strategy == "window":
        w = Window.orderBy(id_col)
        return ids.withColumn(out_col, F.row_number().over(w) - F.lit(1))
    if strategy != "two_phase":
        raise ValueError(f"unknown densify strategy: {strategy}")

    from recommender_systems_spark.operators.relational import _range_partitions

    n = _range_partitions(ids, approx_rows, num_partitions)
    # localCheckpoint pins the range partitioning: the counts job below
    # and the final ranking job must see the SAME partition boundaries
    # (a re-executed repartitionByRange re-samples them), and the
    # distinct is computed once instead of twice.
    parts = (
        ids.repartitionByRange(n, F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .transform(materialize)
    )
    # Tiny driver-side exclusive scan: one row per partition.
    sizes = sorted(
        (r["__pid"], r["cnt"])
        for r in parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in sizes:
        offsets[pid] = acc
        acc += cnt
    spark = df.sparkSession
    offset_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "__pid int, __offset long"
        )
    )
    # Range partitions are assigned ascending key ranges in ascending
    # partition-id order, so (partition offset + within-partition rank)
    # equals the global ascending rank.
    w = Window.partitionBy("__pid").orderBy(id_col)
    return (
        parts.withColumn("__rn", F.row_number().over(w) - F.lit(1))
        .join(offset_df, "__pid")
        .select(
            id_col, (F.col("__offset") + F.col("__rn")).cast("long").alias(out_col)
        )
    )


def densify_ids(
    df: DataFrame,
    id_col: str,
    out_col: str | None = None,
    strategy: str = "two_phase",
) -> DataFrame:
    """Attach a densified ``{id_col}_order`` column (reference:
    functions.py:45 merge with the id_shift frame). The mapping side is
    at most #distinct-ids rows; for dimension-sized id spaces AQE turns
    the join into a broadcast hash join automatically."""
    out_col = out_col or f"{id_col}_order"
    mapping = dense_id_map(df, id_col, out_col, strategy=strategy)
    return df.join(mapping, on=id_col, how="inner")
