"""Spark-free tests of the tools/ scripts' pure helpers."""

from __future__ import annotations

import importlib.util
import pathlib

_TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, _TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_normalise_plan_drops_session_counters_and_root():
    """Two captures of one plan differ only in session-global counters
    (an exchange's plan_id, an existing RDD's id, expression ids) and
    the checkout's path; the normalised copies are equal."""
    normalise_plan = _load("capture_plans").normalise_plan

    def capture(root, plan_id, rdd, expr):
        return (
            f"(4) Project\nOutput [1]: [aggregate(v#{expr}, 0.0, lambdafunction("
            f"(lambda x_{expr}# + lambda y_{expr + 1}#), lambda x_{expr}#, "
            f"lambda y_{expr + 1}#, false)) AS n#{expr + 2}]\n"
            f"(3) Exchange\n"
            f"Arguments: hashpartitioning(user#{expr}L, 8), "
            f"ENSURE_REQUIREMENTS, [plan_id={plan_id}]\n"
            f"(1) Scan ExistingRDD [codegen id : 1]\n"
            f"Arguments: [user#{expr}L], MapPartitionsRDD[{rdd}] at "
            f"applySchemaToPythonRDD\n"
            f"(2) Scan parquet\nLocation: InMemoryFileIndex "
            f"[file:{root}/.data_cache/ivf_index_md5c40_ab12]\n"
        )

    a = capture("/src/one", 565, 86, 12)
    b = capture("/elsewhere/two", 545, 78, 3407)
    assert a != b
    assert normalise_plan(a, "/src/one") == normalise_plan(b, "/elsewhere/two")
    norm = normalise_plan(a, "/src/one")
    assert "plan_id=]" in norm and "MapPartitionsRDD[]" in norm
    assert "(lambda x_# + lambda y_#)" in norm
    assert "file:<root>/.data_cache/ivf_index_md5c40_ab12" in norm
    # A genuine plan change survives normalisation.
    assert normalise_plan(a.replace("hashpartitioning", "rangepartitioning"),
                          "/src/one") != norm


def test_bench_ab_alternates_which_tree_runs_first():
    """Neither tree may always run first in a rep: the order is H,P in
    even reps and P,H in odd ones, and each rep runs both trees once."""
    rep_order = _load("bench_ab").rep_order
    orders = [rep_order(rep) for rep in range(6)]
    assert all(sorted(o) == ["head", "pinned"] for o in orders)
    assert [o[0] for o in orders] == ["head", "pinned"] * 3


def test_layer_records_attribute_jobs_by_group_and_window(tmp_path):
    """A grouped job goes to its query, a group-less (background-thread)
    job to the query whose window holds its submission, and a job
    outside every window to none; the log directory is deleted once
    parsed."""
    import json

    layer_records = _load("harness").layer_records
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000500,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "q1"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000600}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Launch Time": 1000700},
         "Task Metrics": {
             "Executor Run Time": 200, "Executor CPU Time": 150_000_000,
             "JVM GC Time": 10,
             "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
             "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
             "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Accumulables": []}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1001500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1003000,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1003250},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1010000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1010100},
    ]
    log_dir = tmp_path / "log"
    (log_dir / "eventlog_v2_app").mkdir(parents=True)
    (log_dir / "eventlog_v2_app" / "events_1_app").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n"
    )
    rec = layer_records(str(log_dir), {"q1": (1000.0, 1002.0), "q2": (1002.5, 1004.0)})
    assert not log_dir.exists()
    assert rec["q1"] == {
        "wall": 2.0, "driver_only_s": 1.0, "n_jobs": 1, "n_stages": 1,
        "n_tasks": 1, "task_cpu_s": 0.15, "gc_s": 0.01,
        "shuffle_write_bytes": 100, "shuffle_read_bytes": 12, "spill_bytes": 3,
        "broadcast_s": 0.0, "scan_s": 0.0, "job_s": [1.0],
    }
    assert (rec["q2"]["n_jobs"], rec["q2"]["job_s"], rec["q2"]["driver_only_s"]) == (
        1, [0.25], 1.25,
    )
