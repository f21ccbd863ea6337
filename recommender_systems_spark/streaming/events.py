"""Structured Streaming twin of the batch event-time window aggregate
(``queries.stats.s_window_agg``): same ``F.window`` call, same results;
the stream adds a watermark for late data and runs incrementally.

Execution contract: ``readStream`` over a parquet directory (the file
source lists new files per micro-batch — at scale this is the standard
lakehouse ingestion tail), event-time tumbling windows with a 1-hour
watermark bounding state, aggregation state in the state store. The
``availableNow`` trigger drains everything currently in the source and
terminates — which is what makes the streaming path deterministic and
oracle-comparable against the batch plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recommender_systems_spark.io import materialize_now

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_window_agg(
    stream: DataFrame, watermark: str = "1 hour", window: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time windows per event_type over a streaming
    DataFrame: count + sum(value). Watermark bounds the state store —
    windows older than max(event time) − watermark are finalised and
    evicted."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over an events parquet directory with the
    declared schema (inference is unavailable — and undesirable — for
    streaming sources)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)


def stream_enrich_agg(
    stream: DataFrame,
    dim: DataFrame,
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Stream-static join + windowed aggregate — the standard streaming
    enrichment shape: each micro-batch of the fact stream hash-joins
    the STATIC dimension (planned as a broadcast; the dimension is read
    once, not per batch in the state store), then rolls up into
    event-time tumbling windows per enrichment attribute. The join adds
    NO streaming state — only the window aggregation is stateful, and
    the watermark bounds it exactly as in ``stream_window_agg``."""
    enriched = stream.join(
        F.broadcast(dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")),
        "user_id",
    )
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n",
            "sum_value",
        )
    )


def run_enrich_available_now(
    spark: SparkSession, source_dir: str, dim: DataFrame, query_name: str
) -> DataFrame:
    """Drain the enrichment pipeline with an availableNow trigger into a
    memory sink (same contract as ``run_available_now``)."""
    agg = stream_enrich_agg(read_events_stream(spark, source_dir), dim)
    return _drain_to_memory(agg, query_name, "complete")


def _drain_to_memory(df: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Shared availableNow drain: run ``df`` to completion into a memory
    sink (test/CI sink; production writes parquet/Kafka with
    checkpointing) and return the result table."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(query_name)


def stream_dedup_keys(stream: DataFrame, keys: list[str]) -> DataFrame:
    """Stateful streaming exact-dedup on a key projection: the first
    arrival of each key passes, every later duplicate is dropped against
    the state store. Projecting to the keys FIRST makes the emitted set
    deterministic (arrival order decides which full row would survive,
    but not which key set does) — that is what lets a streaming dedup
    carry a value-hash oracle at all.

    State is one entry per distinct key — inherent to EXACT dedup. At
    100 TB with a bounded re-delivery horizon, switch to
    ``dropDuplicatesWithinWatermark`` (state evicted past the horizon);
    it is not used here because duplicates farther apart than the
    watermark would re-emit and the result would stop being DISTINCT."""
    return stream.select(*keys).dropDuplicates(keys)


def run_dedup_available_now(
    spark: SparkSession, source_dir: str, query_name: str
) -> DataFrame:
    """Drain the dedup stream (append mode — each key emits exactly once,
    when first seen) into a memory sink and return the result table."""
    dd = stream_dedup_keys(
        read_events_stream(spark, source_dir), ["user_id", "event_type"]
    )
    return _drain_to_memory(dd, query_name, "append")


def run_available_now(
    spark: SparkSession, source_dir: str, query_name: str
) -> DataFrame:
    """Drain the source with an availableNow trigger into a memory sink
    (test/CI sink; production would write parquet/Kafka with
    checkpointing) and return the final result table."""
    agg = stream_window_agg(read_events_stream(spark, source_dir))
    return _drain_to_memory(agg, query_name, "complete")


def stream_stream_join(
    views: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    each purchase joins the same user's views from the preceding
    ``horizon`` — the attribution shape (view → purchase conversion
    pairing) and the fourth core streaming pattern after windowed
    aggregation, stream-static enrichment, and stateful dedup.

    Both sides are watermarked; the time-range predicate is what lets
    the state store EVICT: a buffered view older than
    max(event time) − watermark − horizon can never match a future
    purchase, so state is bounded by (rate × horizon) per side rather
    than growing with the stream. Append mode emits each matched pair
    exactly once, which makes the drained result equal to the batch
    join — the oracle's parity proof."""
    v = views.withWatermark("ts", horizon).select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", horizon).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = v.join(
        p,
        (v["user_id"] == p["p_user"])
        & (p["purchase_ts"] > v["view_ts"])
        & (p["purchase_ts"] <= v["view_ts"] + F.expr(f"interval {horizon}")),
    )
    return joined.select(
        "user_id",
        "view_id",
        "view_ts",
        "purchase_ts",
        F.round("purchase_value", 2).alias("purchase_value"),
        (
            (F.unix_micros("purchase_ts") - F.unix_micros("view_ts"))
            / F.lit(60_000_000)
        ).cast("long").alias("delay_min"),
    )


def run_stream_join_available_now(
    spark: SparkSession, source_dir: str, query_name: str
) -> DataFrame:
    """Drain the view⋈purchase attribution join (append mode — inner
    stream-stream joins emit once per match) into a memory sink.

    Overhead trim (the cost here is per-micro-batch state machinery,
    not data): a stream-stream join instantiates FOUR state stores per
    shuffle partition per micro-batch, so the drain runs with a
    reduced transient ``spark.sql.shuffle.partitions`` (state-store
    count is fixed at the query's FIRST batch from this conf) and with
    no-data micro-batches disabled — the availableNow drain emits
    every inner-join match in its data batches, and the trailing
    no-data batch exists only to advance the watermark and evict
    state, which a drain-and-stop query never benefits from. Both
    confs are restored after the drain; a long-lived production query
    keeps no-data batches ON (eviction matters there) and sizes
    partitions to rate × horizon state instead."""
    shuffle_key = "spark.sql.shuffle.partitions"
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_shuffle = spark.conf.get(shuffle_key)
    old_nodata = spark.conf.get(nodata_key, "true")
    spark.conf.set(shuffle_key, "8")
    spark.conf.set(nodata_key, "false")
    try:
        src = read_events_stream(spark, source_dir)
        joined = stream_stream_join(
            src.filter(F.col("event_type") == "view"),
            src.filter(F.col("event_type") == "purchase"),
        )
        return _drain_to_memory(joined, query_name, "append")
    finally:
        spark.conf.set(shuffle_key, old_shuffle)
        spark.conf.set(nodata_key, old_nodata)


def _cdc_reduce(df: DataFrame) -> DataFrame:
    """Per-key reduction of a change set: latest change by the total
    (ts desc, event_id desc) order plus the change count — the
    associative summary that makes incremental CDC apply independent
    of micro-batch boundaries (argmax and count both merge)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("nc", F.sum("n_changes").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            "value",
            F.col("nc").alias("n_changes"),
        )
    )


def _cdc_bucket(key: Column, n_buckets: int) -> Column:
    """Stable state-table bucket for a key: pmod(xxhash64(key), B).
    xxhash64 is deterministic across sessions/executors, so the same
    key always lands in the same directory partition."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def cdc_apply_batch(
    batch_df: DataFrame,
    state_root: str,
    n_buckets: int = 16,
    batch_id: int | None = None,
) -> list[int]:
    """MERGE one change micro-batch into the hash-bucketed CDC state
    table at ``state_root`` (directory partitions ``bucket=0..B-1``),
    rewriting ONLY the buckets containing touched keys. Returns the
    sorted touched-bucket list (for observability/tests).

    Idempotent under at-least-once redelivery of FULLY-COMMITTED
    batches: when ``batch_id`` is given (foreachBatch passes it), a
    ``_last_batch`` marker persisted NEXT TO the state records the
    highest applied id, and a replayed batch (id ≤ marker) is skipped
    — latest-wins is naturally idempotent but the additive
    ``n_changes`` count is not, so without the marker a post-failure
    replay would double-count. CAVEAT: the marker is written AFTER
    the bucket overwrite, so a crash in the window between the parquet
    commit and the marker ``os.replace`` leaves the marker stale and
    a redelivery of THAT batch re-applies it, double-counting
    ``n_changes`` for its keys (latest-wins columns stay correct).
    Closing that window needs the dedup inside the transactional
    commit itself — e.g. a max-applied ``batch_id`` column per key in
    the state rows, or a Delta/Iceberg MERGE whose txn id is the batch
    id (the production shape); the side-car marker is the stand-in at
    the same granularity a production MERGE INTO keys on.

    Scale shape: per-batch work is O(batch) + O(state in touched
    buckets) — NOT O(total keys). A batch touching k of B buckets
    reads k partitions (partition pruning on the ``bucket`` filter)
    and dynamic partition overwrite rewrites exactly those k
    directories; the other B−k buckets' files are left physically
    untouched (byte-identical — asserted in
    tests/test_streaming_sessions.py). At billions of keys, size B so
    a bucket fits an executor; production swaps the dynamic-overwrite
    parquet commit for MERGE INTO a Delta/Iceberg table with the same
    bucketing. ``localCheckpoint`` breaks the read→overwrite lineage
    on the same path (the stand-in for the transactional commit)."""
    import os

    from pyspark.sql import functions as F

    marker = os.path.join(state_root, "_last_batch")
    if batch_id is not None and os.path.exists(marker):
        with open(marker) as fh:
            applied = int(fh.read().strip() or "-1")
        if batch_id <= applied:
            return []  # at-least-once replay of an applied batch — skip
    reduced = _cdc_reduce(
        batch_df.withColumn("n_changes", F.lit(1).cast("long"))
    ).withColumn("bucket", _cdc_bucket(F.col("user_id"), n_buckets))
    touched = sorted(
        r["bucket"] for r in reduced.select("bucket").distinct().collect()
    )
    has_state = any(
        d.startswith("bucket=") for d in os.listdir(state_root)
    )
    if has_state:
        cur = (
            batch_df.sparkSession.read.parquet(state_root)
            # Partition pruning: only the touched bucket directories
            # are listed/read.
            .filter(F.col("bucket").isin(touched))
            .drop("bucket")
        )
        reduced = _cdc_reduce(
            cur.unionByName(reduced.drop("bucket"))
        ).withColumn("bucket", _cdc_bucket(F.col("user_id"), n_buckets))
    merged = materialize_now(reduced)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(state_root)
    )
    if batch_id is not None:
        # Write-then-rename so a crash mid-write leaves the old marker.
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(batch_id))
        os.replace(tmp, marker)
    return touched


def cdc_state_snapshot(spark: SparkSession, state_root: str) -> DataFrame:
    """Final CDC snapshot from the bucketed state table: drop
    tombstoned keys ('error' = delete marker — the s_cdc_snapshot
    contract) and project the oracle columns."""
    from pyspark.sql import functions as F

    final = spark.read.parquet(state_root)
    return final.filter(F.col("event_type") != "error").select(
        "user_id",
        F.col("n_changes").cast("long").alias("n_changes"),
        F.round("value", 5).alias("last_value"),
    )


def run_cdc_apply_available_now(
    spark: SparkSession,
    source_dir: str,
    query_name: str,
    state_root: str,
    n_buckets: int = 16,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming CDC apply via foreachBatch: each micro-batch reduces
    to its per-key summary (latest change + count) and MERGEs into the
    hash-bucketed parquet state table (latest-wins on the same total
    order, counts additive — ``cdc_apply_batch``), and the final
    snapshot drops tombstoned keys. Because the per-batch summary is
    ASSOCIATIVE, the final state is identical for any micro-batch
    split — which is what lets a streaming apply carry the batch
    compaction's value-hash oracle. Per-batch cost is bounded by the
    touched buckets, not the total key count (see cdc_apply_batch)."""
    stream = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        stream.parquet(source_dir)
        .writeStream.foreachBatch(
            lambda batch_df, bid: cdc_apply_batch(
                batch_df, state_root, n_buckets, batch_id=bid
            )
        )
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return cdc_state_snapshot(spark, state_root)


def run_stream_left_join_available_now(
    spark: SparkSession, source_dir: str, query_name: str
) -> DataFrame:
    """Drain the view⟕purchase LEFT OUTER stream-stream join. Unlike
    the inner join, outer results need WATERMARK ADVANCEMENT: an
    unmatched view row may only emit once the watermark proves no
    future purchase can match it (state eviction time
    view_ts + horizon), so this runner KEEPS no-data micro-batches ON
    — the trailing no-data batch is what flushes the evictable
    unmatched rows. The availableNow drain therefore emits exactly:
    all matched pairs + the unmatched views with
    view_ts + horizon < final watermark. With the default
    multipleWatermarkPolicy=min the final watermark is
    least(max view ts, max purchase ts) − delay — each withWatermark
    operator tracks the max event time of its OWN post-filter stream,
    and the global watermark is the minimum of the two (clicks and
    signups never advance it) — the closed-form contract the batch
    oracle replays (verified empirically at sf0.001/0.01/0.1). The
    still-unevictable tail (views within 2·horizon of the stream's
    end) stays buffered — exactly what a production query would hold
    as state for the next batch of data.

    The shuffle-partition trim from the inner-join runner applies here
    too (4 state stores per partition per batch)."""
    shuffle_key = "spark.sql.shuffle.partitions"
    old_shuffle = spark.conf.get(shuffle_key)
    spark.conf.set(shuffle_key, "8")
    try:
        src = read_events_stream(spark, source_dir)
        horizon = "1 hour"
        v = (
            src.filter(F.col("event_type") == "view")
            .withWatermark("ts", horizon)
            .select(
                "user_id",
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
            )
        )
        p = (
            src.filter(F.col("event_type") == "purchase")
            .withWatermark("ts", horizon)
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value"),
            )
        )
        joined = v.join(
            p,
            (v["user_id"] == p["p_user"])
            & (p["purchase_ts"] > v["view_ts"])
            & (p["purchase_ts"] <= v["view_ts"] + F.expr(f"interval {horizon}")),
            "left_outer",
        ).select(
            "user_id",
            "view_id",
            "view_ts",
            "purchase_ts",
            F.round("purchase_value", 2).alias("purchase_value"),
        )
        return _drain_to_memory(joined, query_name, "append")
    finally:
        spark.conf.set(shuffle_key, old_shuffle)
