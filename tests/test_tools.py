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
