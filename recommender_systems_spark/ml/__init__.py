"""ML layer — the reference's reason to exist, re-expressed Spark-first.

- ``als``    : bias-augmented alternating least squares (M2-M4, M6),
               RMSE (A9), convergence monitoring (E8), plus an MLlib
               ``ALS`` wrapper. Each model step is written once here:
               ``ridge_sums`` and ``bias_ridge_step`` (one entity's
               update), ``spd_solve`` (the one solve), ``bias_update``
               (the bias as a Spark aggregate) and ``bias_sweep`` (the
               M4 frozen-vector sweep). Training, fold-in and the
               registry queries all call them.
- ``foldin`` : cold-start fold-in of bias and trait vector (M11-M12:
               the zero-prior ALS user update) and full-catalog top-N
               serving (M13).
- ``bpr``    : Bayesian Personalised Ranking on implicit feedback
               (M7-M9) with distributed triplet sampling and
               ``applyInPandas`` partition-parallel SGD.
- ``abtest`` : driver-side p-values (normal/t/F CDFs in pure Python —
               no SciPy dependency) completing the distributed test
               statistics in ``queries.stats`` (E3-E6) and the
               Shapiro-Francia normality statistic (E4).
"""
