"""Golden values for the pure-Python distribution CDFs in ml.abtest
(known quantiles from standard statistical tables) and the probit
approximation used by e_shapiro_francia."""

from __future__ import annotations

import math

import pytest

from recommender_systems_spark.ml.abtest import (
    betainc_reg,
    f_sf,
    normal_sf,
    rank_sum_pvalues,
    t_sf,
    t_test_pvalues,
)


def test_normal_tail():
    assert normal_sf(1.959963985) == pytest.approx(0.025, abs=1e-6)
    assert normal_sf(0.0) == pytest.approx(0.5, abs=1e-12)
    assert normal_sf(-1.644853627) == pytest.approx(0.95, abs=1e-6)


def test_betainc_symmetry_and_bounds():
    assert betainc_reg(3.0, 3.0, 0.5) == pytest.approx(0.5, abs=1e-12)
    assert betainc_reg(2.0, 5.0, 0.0) == 0.0
    assert betainc_reg(2.0, 5.0, 1.0) == 1.0
    # I_x(1,1) = x (uniform)
    for x in (0.1, 0.42, 0.9):
        assert betainc_reg(1.0, 1.0, x) == pytest.approx(x, abs=1e-12)


def test_t_tail_known_quantiles():
    # 97.5% quantile of t_10 is 2.228139; of t_1 (Cauchy) is 12.7062
    assert t_sf(2.228139, 10) == pytest.approx(0.025, abs=1e-5)
    assert t_sf(12.7062, 1) == pytest.approx(0.025, abs=1e-5)
    assert t_sf(0.0, 7) == pytest.approx(0.5, abs=1e-12)
    # symmetry
    assert t_sf(-2.0, 9) == pytest.approx(1.0 - t_sf(2.0, 9), abs=1e-12)


def test_f_tail_known_quantile():
    # 95% quantile of F(1, 20) is 4.3512
    assert f_sf(4.3512, 1, 20) == pytest.approx(0.05, abs=1e-4)
    # F(1, n) = T(n)^2:  P(F > t^2) = 2 P(T > t)
    t = 2.086  # t_20 97.5% quantile
    assert f_sf(t * t, 1, 20) == pytest.approx(2 * t_sf(t, 20), abs=1e-9)


def test_pvalue_shapes():
    p = t_test_pvalues(2.0, 10)
    assert p["two_sided"] == pytest.approx(2 * p["greater"], abs=1e-12)
    assert p["greater"] + p["less"] == pytest.approx(1.0, abs=1e-12)
    rp = rank_sum_pvalues(-1.0)
    assert rp["less"] < 0.5 < rp["greater"]


def test_probit_matches_normal_sf():
    """probit must invert the normal CDF to ~1e-8 over the full range
    (Acklam's stated accuracy is 1.15e-9 relative)."""
    from pyspark.sql import functions as F  # noqa: F401 (import guard)

    # Evaluate the Python-side mirror of the Horner chains directly.
    from recommender_systems_spark.functions.probit import _A, _B, _C, _D, P_LOW

    def horner(coeffs, x):
        out = coeffs[0]
        for c in coeffs[1:]:
            out = out * x + c
        return out

    def probit(p):
        if p < P_LOW:
            q = math.sqrt(-2 * math.log(p))
            return horner(_C, q) / (horner(_D, q) * q + 1)
        if p > 1 - P_LOW:
            q = math.sqrt(-2 * math.log(1 - p))
            return -(horner(_C, q) / (horner(_D, q) * q + 1))
        q = p - 0.5
        r = q * q
        return horner(_A, r) * q / (horner(_B, r) * r + 1)

    for p in (0.001, 0.01, 0.025, 0.2, 0.5, 0.8, 0.975, 0.99, 0.999):
        z = probit(p)
        assert 1.0 - normal_sf(z) == pytest.approx(p, abs=1e-8)


def test_ab_simulation_log_shape(spark):
    """e_ab_simulation reproduces the AB_test_with_bias.csv artifact:
    the reference log schema, exactly top-20 rows per simulated user,
    both arms present and arm-consistent per user, scores non-increasing
    in rank within a user."""
    from recommender_systems_spark.queries.abtest import e_ab_simulation

    log = e_ab_simulation(spark, "/root/testdata/sf0.001").collect()
    assert {r["grp"] for r in log} == {"A", "B"}
    assert [f for f in log[0].asDict()] == [
        "user_id", "genre_1_name", "genre_2_name", "item_id",
        "item_title", "score", "grp", "rank",
    ]
    by_user: dict[int, list] = {}
    for r in log:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(log) == 20 * len(by_user)
    from recommender_systems_spark.queries.genre import GENRE_WORDS

    for u, rows in by_user.items():
        assert len(rows) == 20, u
        assert len({r["grp"] for r in rows}) == 1, u
        assert len({r["item_id"] for r in rows}) == 20, u
        rows.sort(key=lambda r: r["rank"])
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True), u
        assert rows[0]["genre_1_name"] in GENRE_WORDS
        assert rows[0]["genre_1_name"] != rows[0]["genre_2_name"], u


def test_ab_simulation_blocked_serving_parity(spark):
    """Forcing catalog_broadcast_threshold=0 routes the top-20 stage
    through the blocked tile cogroup (_topk_blocked); the log must be
    IDENTICAL to the broadcast-kernel path — same float64 dot products,
    same (score desc, item asc) tie order, so bit-identical rows."""
    from recommender_systems_spark.queries.abtest import e_ab_simulation

    sf = "/root/testdata/sf0.001"
    key = lambda r: (r["user_id"], r["rank"])  # noqa: E731
    base = sorted(e_ab_simulation(spark, sf).collect(), key=key)
    blocked = sorted(
        e_ab_simulation(spark, sf, catalog_broadcast_threshold=0).collect(),
        key=key,
    )
    assert len(base) == len(blocked) and len(base) > 0
    for a, b in zip(base, blocked):
        assert a.asDict() == b.asDict()
