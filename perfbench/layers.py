"""Per-layer metrics of the traced run.

Layers are the engine's modules. Metrics of the timed window are per
pass (the four fits and the serving of one pass, or one pass over the
analytics queries); the session start and package ship, which only run
during set-up, are set-up totals. Every traced run reports every name in ``NAMES``; a
layer a workload never reaches reads 0 (see README.md for which).
"""

from __future__ import annotations

import eventlog

QUERY_FAMILIES = [
    "abtest", "analytics", "core", "dedup", "genre", "graph", "io_roundtrip", "ml",
    "multimodal", "neardup", "sampling", "scale", "sessions", "similarity", "sketch",
    "splits", "stats", "stream", "textops",
]
# Workload-level figures that exist on one workload only, reported here
# so the traced record carries them next to the layers that explain them.
WORKLOAD_KEYS = {
    "als_fit_s": "s", "genre_als_fit_s": "s", "bpr_fit_s": "s", "ials_fit_s": "s",
    "train_pass_s": "s", "als_final_rmse": "1", "bpr_p_at_20": "1",
    "serve_p50_ms": "ms", "serve_tail_ms": "ms", "ab_simulation_s": "s",
    "peak_rss_mb": "MB",
}
SPARK_KEYS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_only_s": "s", "spark.task_wait_s": "s", "spark.executor_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.broadcast_s": "s", "spark.scan_s": "s", "python.boot_s": "s",
    "python.init_s": "s", "python.run_s": "s", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
}
NAMES: dict[str, str] = {
    "session.get_spark_s": "s",
    "deploy.ensure_shipped_s": "s",
    "io.load_table_calls": "count",
    "io.load_table_s": "s",
    "io.cache_hit_ratio": "ratio",
    "io.factors_write_s": "s",
    "io.factors_read_s": "s",
    "spark.local_checkpoints_eager": "count",
    "spark.local_checkpoints_lazy": "count",
    "operators.calls": "count",
    "operators.s": "s",
    "ml.als.half_sweeps": "count",
    "ml.als.half_sweep_s": "s",
    "ml.als.monitor_s": "s",
    "ml.genre_als.stats_s": "s",
    "ml.bpr.pool_s": "s",
    "ml.bpr.eval_s": "s",
    "ml.bpr.self_s": "s",
    "ml.ials.self_s": "s",
    "ml.foldin.fold_in_s": "s",
    "ml.foldin.top_n_s": "s",
    **{f"queries.{f}_s": "s" for f in QUERY_FAMILIES},
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows_peak": "count",
    **SPARK_KEYS,
    "spark.failed_task_ratio": "ratio",
    **WORKLOAD_KEYS,
}


def per_layer(tracer, stream, res, log_dir: str) -> dict:
    """Reduce spans, the streaming listener and the event log to
    ``{name: (value, unit)}``."""
    n_pass = max(1, len(res.passes))
    t0 = res.windows[0][1] if res.windows else 0.0
    out: dict[str, float] = {}

    def per_pass(span: str) -> float:
        return tracer.total(span, since=t0)[1] / n_pass

    out["session.get_spark_s"] = tracer.total("session.get_spark", until=t0)[1]
    out["deploy.ensure_shipped_s"] = tracer.total("deploy.ensure_shipped", until=t0)[1]
    out["io.factors_write_s"] = per_pass("io.factors_write")
    out["io.factors_read_s"] = per_pass("io.factors_read")
    calls, secs = tracer.total("io.load_table", since=t0)
    out["io.load_table_calls"] = calls / n_pass
    out["io.load_table_s"] = secs / n_pass
    ready_calls = tracer.total("io.cache_ready")[0]
    out["io.cache_hit_ratio"] = (
        tracer.counted("io.cache_ready_true") / ready_calls if ready_calls else 0.0
    )
    for kind in ("eager", "lazy"):
        key = f"spark.local_checkpoints_{kind}"
        out[key] = tracer.counted(key, since=t0) / n_pass
    calls, secs = tracer.total("operators", since=t0)
    out["operators.calls"] = calls / n_pass
    out["operators.s"] = secs / n_pass
    out["ml.als.half_sweeps"] = tracer.total("ml.als.half_sweep", since=t0)[0] / n_pass
    out["ml.als.half_sweep_s"] = per_pass("ml.als.half_sweep")
    out["ml.als.monitor_s"] = per_pass("ml.als.monitor")
    out["ml.genre_als.stats_s"] = per_pass("ml.genre_als.stats")
    out["ml.bpr.pool_s"] = per_pass("ml.bpr.pool")
    out["ml.bpr.eval_s"] = per_pass("ml.bpr.eval")
    out["ml.bpr.self_s"] = tracer.self_time("ml.bpr.train", since=t0) / n_pass
    out["ml.ials.self_s"] = tracer.self_time("ml.ials.train", since=t0) / n_pass
    out["ml.foldin.fold_in_s"] = per_pass("ml.foldin.fold_in")
    out["ml.foldin.top_n_s"] = per_pass("ml.foldin.top_n")
    for fam in QUERY_FAMILIES:
        out[f"queries.{fam}_s"] = per_pass(f"queries.{fam}")
    out["streaming.batches"] = stream.batches / n_pass
    out["streaming.input_rows"] = stream.input_rows / n_pass
    out["streaming.state_rows_peak"] = float(stream.state_rows_peak)

    ops = [eventlog.Op(g, a, b) for g, a, b in res.windows]
    eventlog.attribute(log_dir, ops)
    for key in SPARK_KEYS:
        out[key] = sum(op.metrics.get(key, 0.0) for op in ops) / n_pass
    tasks = sum(op.metrics["spark.tasks"] for op in ops)
    failed = sum(op.metrics["spark.failed_tasks"] for op in ops)
    out["spark.failed_task_ratio"] = failed / tasks if tasks else 0.0
    return {k: (float(v), NAMES[k]) for k, v in out.items()}


def complete(metrics: dict) -> dict:
    """Every name in NAMES, in NAMES order; absent layers read 0."""
    return {k: metrics.get(k, (0.0, unit)) for k, unit in NAMES.items()}
