#!/usr/bin/env python
"""Capture `.explain("formatted")` for named registry queries.

Usage: python tools/capture_plans.py OUTDIR SUFFIX name [name ...]

Writes OUTDIR/<name>_<SUFFIX>.txt for each query, built against
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data), plus a normalised
copy OUTDIR/<name>_<SUFFIX>.norm.txt (see ``normalise_plan``) that two
captures can be diffed on.  Run from the repo whose plans you want
(HEAD or a pinned checkout) — the file records the physical plan an
optimisation claim is checked against.
"""

from __future__ import annotations

import os
import re
import sys

_SESSION_COUNTERS = (
    (re.compile(r"(lambda [A-Za-z]\w*?)_\d+#"), r"\1_#"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
)


def normalise_plan(text: str, root: str) -> str:
    """``text`` without what varies between captures of the same plan:
    expression ids (``#123``), lambda variable suffixes (``x_12``),
    exchange ``plan_id=N`` and ``RDD[N]`` counters are session-global
    and move with the order a query builds its frames in, and ``root``
    (the checkout's directory) appears in every cache-artifact scan
    path."""
    text = text.replace(root.rstrip("/") + "/", "<root>/")
    for pattern, repl in _SESSION_COUNTERS:
        text = pattern.sub(repl, text)
    return text


def explain_formatted(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    try:
        return jvm.PythonSQLUtils.explainString(jdf.queryExecution(), "formatted")
    except Exception:
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return jdf.queryExecution().explainString(mode)


def main() -> None:
    # Resolve the package from the CURRENT working directory first, so
    # the same tool file can capture a pinned checkout's plans when run
    # with cwd inside that checkout (cwd beats this file's own repo).
    sys.path.insert(0, os.getcwd())
    from recommender_systems_spark import registry
    from recommender_systems_spark.session import get_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture_plans")
    for name in names:
        spark.sparkContext.setJobDescription(f"capture_plans: {name}")
        df = registry.QUERIES[name](spark, sf_dir)
        plan = explain_formatted(df)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        with open(path[: -len(".txt")] + ".norm.txt", "w") as fh:
            fh.write(normalise_plan(plan, root))
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
