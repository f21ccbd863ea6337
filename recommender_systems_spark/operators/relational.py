"""Relational operator library (SURVEY §2.2-2.6).

Each function is a thin, composable DataFrame transform. Everything here
is built-in-only (zero Python UDFs) so Catalyst retains full pushdown /
pruning / join-reordering freedom and whole-stage codegen covers the hot
path.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from recommender_systems_spark.io import materialize

# Rows per range partition for the two-phase global-order operators
# (midrank / running totals / densify). Partition count derives from
# the DATA SIZE (caller-supplied row estimate from parquet footer
# metadata — zero Spark jobs), NOT from the core count: the old
# ``defaultParallelism`` choice made every range op pay a sampling
# pass, a checkpoint block count and an offsets collect that all GROW
# with cores while per-partition work shrinks — the driver's 8-vs-32
# core run measured those queries FASTER on fewer cores (scaling
# 0.68–0.69, round-13 PERF). 4M slim (value, count) rows ≈ 64–128 MB
# per shuffle partition (guide §2.2's 100 MB–1 GB band); at 100 TB the
# same rule yields tens of thousands of partitions, so no parallelism
# is lost where it matters. RangePartitioner skips its sampling job
# outright when n == 1, so small inputs also shed the sampling pass
# that re-executed the upstream lineage. Overridable for cluster
# tuning without a code change.
RANGE_ROWS_PER_PART = int(
    os.environ.get("SPARK_GRAFT_RANGE_ROWS_PER_PART", "4000000")
)
# Ceiling on the derived count, in range partitions per core. Row
# estimates are upper bounds read from SOURCE footers (a distinct-value
# table estimated by its events table's rows): 10^12 rows would ask for
# 250k partitions and a 250k-row offsets collect for a table that may
# hold thousands of rows. Past defaultParallelism × this, partitions
# grow instead.
RANGE_PARTS_PER_CORE = 8


def _range_partitions(
    df: DataFrame, approx_rows: int | None, num_partitions: int | None
) -> int:
    if num_partitions:
        return num_partitions
    cores = df.sparkSession.sparkContext.defaultParallelism
    if approx_rows is not None:
        n = math.ceil(approx_rows / RANGE_ROWS_PER_PART)
        return max(1, min(n, cores * RANGE_PARTS_PER_CORE))
    return max(cores, 2)


def anti_join_below_threshold(
    df: DataFrame, key: str, min_count: int, count_df: DataFrame | None = None
) -> DataFrame:
    """P6+P7: drop all rows whose ``key`` has fewer than ``min_count``
    occurrences (reference: drop users with <10 ratings,
    implicit_feedback/functions.py:284-287 via value_counts + ~isin).

    Spark-first: the exclusion list is an aggregate, the NOT-IN becomes a
    left_anti join — scales to arbitrarily many excluded keys, unlike the
    reference's in-memory ``isin`` list. With AQE the small exclusion side
    is broadcast at runtime.
    """
    counts = count_df if count_df is not None else df.groupBy(key).count()
    excluded = counts.filter(F.col("count") < F.lit(min_count)).select(key)
    return df.join(excluded, on=key, how="left_anti")


def relative_frequency(df: DataFrame, key: str, freq_col: str = "freq") -> DataFrame:
    """A2: empirical distribution of ``key`` (reference: popularity
    distribution for negative sampling, prac_2.py:16-25,
    ``value_counts(normalize=True)``).

    The global total comes from a scalar subquery-style cross join of a
    1-row aggregate (broadcast, no single-partition window)."""
    counts = df.groupBy(key).count()
    total = df.select(F.count(F.lit(1)).alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn(freq_col, F.col("count") / F.col("__total"))
        .drop("__total")
    )


def global_top_k(df: DataFrame, order_by: Column | str, k: int) -> DataFrame:
    """W3: global top-k (reference: top-N recommendations,
    explicit_ratings/functions.py:634-647 ``sort_values().head(n)``).

    ``orderBy().limit(k)`` plans TakeOrderedAndProject — per-partition
    heaps + a k-row merge on the driver; no global sort materialises."""
    col = F.col(order_by) if isinstance(order_by, str) else order_by
    return df.orderBy(col.desc()).limit(k)


def group_top_k(
    df: DataFrame,
    partition_by: list[str],
    order_by: Column | str,
    k: int,
    rank_col: str = "rank",
    keep_rank: bool = False,
) -> DataFrame:
    """W4: per-group top-k (reference: per-user top-k scores for P@k/R@k,
    implicit_feedback/functions.py:233-241).

    One hash shuffle on the group keys, then an in-partition sort;
    ``row_number`` gives deterministic dedup of score ties."""
    col = F.col(order_by) if isinstance(order_by, str) else order_by
    w = Window.partitionBy(*partition_by).orderBy(col.desc())
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def cumulative_sum(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    value: str,
    out_col: str = "running_total",
) -> DataFrame:
    """A12: running total per key (reference: np.cumsum offset arrays,
    explicit_ratings/functions.py:238-242). Partitioned window — no
    global-order bottleneck."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(value).over(w))


def two_phase_midrank(
    per_value: DataFrame,
    value_col: str,
    count_col: str,
    out_col: str = "midrank",
    num_partitions: int | None = None,
    total_sums: list[str] | None = None,
    approx_rows: int | None = None,
) -> DataFrame | tuple[DataFrame, dict[str, int]]:
    """Distributed midranks over a pre-aggregated (value, count) table:
    midrank(v) = #rows<v + (count(v)+1)/2 — the rank statistic behind
    the Wilcoxon rank-sum test (E6) with scipy-style tie handling.

    Scale shape (same two-phase trick as ``densify.dense_id_map``):
    range-repartition the distinct values, cumulative counts WITHIN each
    partition (parallel windows), then add per-partition exclusive
    offsets computed from a #partitions-row driver scan. No
    single-partition global window at any size: a billion distinct
    values flow through ordinary range partitions.

    ``total_sums=[col, ...]``: also return the GRAND totals of
    ``count_col`` and each named column as exact driver integers,
    piggybacked on the per-partition offsets collect this function
    already pays — so callers needing Σcount/Σcol scalars (lift/qini
    decile tables) don't re-aggregate the returned frame, which
    re-executes the phase-2 window over the whole distinct-value table
    once per reference (round-13; guide §2.4). LONG-ONLY CONTRACT: the
    grand totals are a driver-side Python sum, exact for integral
    columns only — a double column would produce order-dependent float
    totals that diverge from an in-plan F.sum, so a non-integral column
    raises TypeError. Returns (df, totals).

    ``approx_rows``: row estimate for the ``per_value`` table (an upper
    bound is fine — e.g. the source table's footer row count); sizes
    the range partitioning from the data instead of the core count
    (see RANGE_ROWS_PER_PART)."""
    if total_sums:
        schema = dict(per_value.dtypes)
        bad = [
            c for c in total_sums
            if schema.get(c) not in ("tinyint", "smallint", "int", "bigint")
        ]
        if bad:
            raise TypeError(
                f"total_sums is exact for integral columns only, got {bad}"
            )
    n = _range_partitions(per_value, approx_rows, num_partitions)
    parts = (
        per_value.repartitionByRange(n, F.col(value_col))
        .withColumn("__pid", F.spark_partition_id())
        # The offsets collect below materialises the blocks; the
        # consumer reads the stored blocks, so boundaries stay pinned
        # across jobs and are never re-sampled.
        .transform(materialize)
    )
    extra = list(total_sums or [])
    aggs = [F.sum(count_col).alias("t")] + [
        F.sum(c).alias(f"__x{i}") for i, c in enumerate(extra)
    ]
    rows = parts.groupBy("__pid").agg(*aggs).collect()
    sizes = sorted((r["__pid"], r["t"]) for r in rows)
    totals = {
        c: sum(r[f"__x{i}"] for r in rows if r[f"__x{i}"] is not None)
        for i, c in enumerate(extra)
    }
    offsets, acc = [], 0
    for pid, total in sizes:
        offsets.append((pid, acc))
        acc += total
    totals[count_col] = acc
    offset_df = F.broadcast(
        parts.sparkSession.createDataFrame(offsets, "__pid int, __offset long")
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        parts.withColumn("__cum", F.coalesce(F.sum(count_col).over(w), F.lit(0)))
        .join(offset_df, "__pid")
        .withColumn(
            out_col,
            (F.col("__offset") + F.col("__cum")).cast("double")
            + (F.col(count_col).cast("double") + 1) / 2,
        )
        .drop("__pid", "__cum", "__offset")
    )
    if total_sums is None:
        return out
    return out, totals


def seeded_shuffle(df: DataFrame, seed: int) -> DataFrame:
    """W6: deterministic order randomisation (reference:
    np.random.shuffle(user_order) per epoch, prac_2.py:90-92)."""
    return df.orderBy(F.rand(seed))


def weighted_sample(
    df: DataFrame, weight_col: str, n: int, seed: int
) -> DataFrame:
    """M8: weighted sampling without replacement via exponential-race keys
    (Efraimidis-Spirakis): key = -ln(U)/w, take the n smallest. Fully
    distributed replacement for ``np.random.choice(p=probs)``
    (implicit_feedback/functions.py:47-58); one TakeOrderedAndProject, no
    driver-side CDF."""
    key = -F.log(F.rand(seed)) / F.col(weight_col)
    return (
        df.withColumn("__race", key)
        .orderBy(F.col("__race").asc())
        .limit(n)
        .drop("__race")
    )


def equalize_groups(
    df: DataFrame, group_col: str, unit_col: str, seed: int
) -> DataFrame:
    """E2: downsample the larger experiment arm so both groups hold the
    same number of units (reference: ab_test.py:238-265 random user
    removal loop). Set-semantics version: rank units per group by a
    seeded hash-random key and keep the first ``min(group sizes)``."""
    units = df.select(group_col, unit_col).distinct()
    sizes = units.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    target = sizes.agg(F.min("__n").alias("__target"))
    w = Window.partitionBy(group_col).orderBy(F.rand(seed), unit_col)
    keep = (
        units.withColumn("__rn", F.row_number().over(w))
        .crossJoin(F.broadcast(target))
        .filter(F.col("__rn") <= F.col("__target"))
        .select(group_col, unit_col)
    )
    return df.join(keep, on=[group_col, unit_col], how="left_semi")


def global_running_total(
    df: DataFrame,
    order_by: str,
    value: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
    approx_rows: int | None = None,
) -> DataFrame:
    """Running total over a GLOBAL ordering without a single-partition
    window (the naive ``Window.orderBy(...)`` collapses all data onto
    one task — a 100-TB deadlock).

    Same two-phase shape as ``two_phase_midrank``/``densify``:
    range-repartition on the order key (Spark's sampled range
    partitioner keeps partitions balanced), cumulative-sum WITHIN each
    partition in parallel, then add per-partition exclusive offsets from
    a #partitions-row driver scan. The inclusive running total is exact
    and identical to ``SUM(value) OVER (ORDER BY order_by)``."""
    return global_running_totals(
        df, order_by, [(value, out_col)], num_partitions=num_partitions,
        approx_rows=approx_rows,
    )


def global_running_totals(
    df: DataFrame,
    order_by: str,
    value_out: list[tuple[str, str]],
    num_partitions: int | None = None,
    approx_rows: int | None = None,
) -> DataFrame:
    """Multi-column variant of :func:`global_running_total`: inclusive
    running totals for SEVERAL integer value columns over one shared
    global ordering, in a single range-repartition + one per-partition
    window pass (the KS statistic needs two group ECDFs cumulated over
    the same pooled value order — doing them in one pass halves the
    shuffles and guarantees both see identical partition boundaries).

    ``approx_rows`` sizes the range partitioning from the data instead
    of the core count (see RANGE_ROWS_PER_PART)."""
    n = _range_partitions(df, approx_rows, num_partitions)
    parts = (
        df.repartitionByRange(n, F.col(order_by))
        .withColumn("__pid", F.spark_partition_id())
        # The per-partition sums collect below materialises the
        # blocks; callers that re-aggregate the returned frame for
        # grand totals read the stored blocks.
        .transform(materialize)
    )
    sums = {
        r["__pid"]: r
        for r in parts.groupBy("__pid")
        .agg(*(F.sum(v).alias(f"__t_{i}") for i, (v, _) in enumerate(value_out)))
        .collect()
    }
    acc = [0] * len(value_out)
    offsets = []
    for pid in sorted(sums):
        offsets.append((pid, *acc))
        for i in range(len(value_out)):
            acc[i] += int(sums[pid][f"__t_{i}"] or 0)
    schema = "__pid int, " + ", ".join(
        f"__off_{i} long" for i in range(len(value_out))
    )
    offset_df = F.broadcast(df.sparkSession.createDataFrame(offsets, schema))
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = parts
    for i, (v, _) in enumerate(value_out):
        out = out.withColumn(f"__cum_{i}", F.sum(v).over(w))
    out = out.join(offset_df, "__pid")
    for i, (_, oc) in enumerate(value_out):
        out = out.withColumn(oc, F.col(f"__off_{i}") + F.col(f"__cum_{i}"))
    drop = ["__pid"] + [f"__cum_{i}" for i in range(len(value_out))] + [
        f"__off_{i}" for i in range(len(value_out))
    ]
    return out.drop(*drop)
