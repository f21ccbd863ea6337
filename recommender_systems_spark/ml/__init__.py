"""ML layer — the reference's reason to exist, re-expressed Spark-first.

- ``als``    : bias-augmented alternating least squares (M2-M4, M6),
               RMSE (A9), convergence monitoring (E8), plus an MLlib
               ``ALS`` wrapper.
- ``foldin`` : cold-start fold-in of bias and trait vector (M11-M12) and
               full-catalog top-N serving (M13).
- ``bpr``    : Bayesian Personalised Ranking on implicit feedback
               (M7-M9) with distributed triplet sampling and
               ``applyInPandas`` partition-parallel SGD.
- ``abtest`` : driver-side p-values (normal/t/F CDFs in pure Python —
               no SciPy dependency) completing the distributed test
               statistics in ``queries.stats`` (E3-E6) and the
               Shapiro-Francia normality statistic (E4).
"""
