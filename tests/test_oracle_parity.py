"""Driver-gate replica: every queries() entry with an oracle must
hash-match DuckDB at sf0.01 (same comparison the driver runs)."""

from __future__ import annotations

import pytest

from recommender_systems_spark import registry
from tests.conftest import SF_MED
from tests.oracle_harness import compare_query


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(spark, name):
    ok, msg = compare_query(
        spark, name, registry.QUERIES[name], registry.ORACLE.get(name), SF_MED
    )
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


def test_all_oracles_have_queries():
    assert set(registry.ORACLE) <= set(registry.QUERIES)


# Queries whose checkpoints used a per-site scale threshold before
# io.materialize took the decision; their eager branches only run past
# io.SCALE_ROWS, which no test data set reaches.
_SCALE_POINT_QUERIES = (
    "e_calibration",
    "g_jaccard_neighbors",
    "a_theil_sen",
    "v_pq_codes",
    "t_bleu_pairs",
    "e_aa_calibration",
)


@pytest.mark.parametrize("name", _SCALE_POINT_QUERIES)
def test_eager_branch_matches_oracle(spark, monkeypatch, name):
    """The past-the-scale-point (eager) checkpoints give the oracle's
    values too."""
    from recommender_systems_spark import io

    monkeypatch.setattr(io, "SCALE_ROWS", 0)
    ok, msg = compare_query(
        spark, name, registry.QUERIES[name], registry.ORACLE.get(name), SF_MED
    )
    assert ok, f"{name}: {msg}"


def test_eager_branch_ab_simulation_rows_unchanged(spark, monkeypatch):
    """Rows-only e_ab_simulation returns the same rows with its
    checkpoints eager as with them lazy."""
    from recommender_systems_spark import io

    q = registry.QUERIES["e_ab_simulation"]
    lazy = sorted(map(tuple, q(spark, SF_MED).collect()))
    monkeypatch.setattr(io, "SCALE_ROWS", 0)
    eager = sorted(map(tuple, q(spark, SF_MED).collect()))
    assert eager == lazy
