"""Parametric bootstrap for MSPE (reference C3/C4,
``Method_code.Rmd:557-757``).

Per replicate b (driver loop, each step internally distributed — the
reference's strictly-sequential ``lapply(1:B, boot_func)``, SURVEY.md §3.3):

1. simulate the small survey's outcome from the fitted model:
   v_b ~ N(0, σ̂) per (rep, area) — hash-seeded per (rep, area), fixing the
   reference's seed bug where every state and every replicate draws the SAME
   noise (``set.seed`` inside ``state_func``, ``Rmd:569-571``; SURVEY.md
   §5.3) — then demvote* ~ Bern(expit(xβ̂ + v_b)) per unit;
2. re-run the full EM loop on the simulated small survey (``Rmd:612-657``);
3. EBP-score the big survey with the re-fitted β (synthetic fixed-effects
   predictor, v=0 — exactly the reference's Step 4-5, ``Rmd:660-682``);
4. simulate the big survey's outcome under the SAME v_b ("model is true",
   ``Rmd:687-696``) → per-area weighted "true" value;

Results accumulate as ONE long (rep, state, est, true) DataFrame (not the
reference's wide cbind-of-reps) → A6 sqrt-MSPE per area (``Rmd:744-757``).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_spark.functions.math import expit
from data_integration_spark.functions.rng import bernoulli, seeded_normal
from data_integration_spark.functions.stats import mspe_by_group
from data_integration_spark.operators.joins import union_all_by_name
from data_integration_spark.stats.design import prep_design, x_beta_col
from data_integration_spark.stats.em import EMEstimator


def simulate_outcome(
    survey: DataFrame,
    beta: Sequence[float],
    sigma: float,
    rep: int,
    id_col: str = "ID",
    seed: int = 99,
    survey_tag: str = "",
) -> DataFrame:
    """Attach a simulated Bernoulli outcome under the fitted GLMM: distinct
    v_b per (rep, area), distinct Bernoulli draw per (rep, unit).

    ``survey_tag`` enters the Bernoulli hash key so the SMALL and BIG surveys
    draw independent unit-level noise even when they share ID values — only
    the area effect v_b (keyed by (state, rep) alone) is intentionally shared
    between the two, matching the reference's independent ``rbinom`` calls
    under a common v_b (``Rmd:569-579, 687-696``)."""
    prepped = prep_design(survey, with_outcome=False)
    v_b = seeded_normal("state", F.lit(rep), mean=0.0, sd=float(sigma), salt=seed)
    theta = expit(x_beta_col(beta) + v_b)
    return prepped.withColumn(
        "demvote",
        bernoulli(
            theta, F.lit(survey_tag), F.col(id_col), F.lit(rep), salt=seed + 1
        ),
    )


def _area_weighted_mean(df: DataFrame, value_col: str, alias: str) -> DataFrame:
    return df.groupBy("state").agg(
        (F.lit(100.0) * F.sum(F.col(value_col) * F.col("weight")) / F.sum("weight"))
        .alias(alias)
    )


def parametric_bootstrap(
    small_survey: DataFrame,
    big_survey: DataFrame,
    beta_fit: Sequence[float],
    sigma_fit: float,
    n_reps: int = 10,
    em: EMEstimator | None = None,
    seed: int = 99,
) -> tuple[DataFrame, pd.DataFrame]:
    """Returns (long (rep, state, est, true) DataFrame, per-rep EM estimates
    frame — the reference stores both, ``Rmd:700-718``).

    Reps run strictly in sequence, like the reference's ``lapply``
    (``Rmd:732``), and share one estimator: ``EMEstimator.fit`` rebuilds its
    per-fit scratch on every call."""
    em = em or EMEstimator(n_reps=200, max_iter=50)

    def run_rep(b: int) -> tuple[DataFrame, dict]:
        sim_small = simulate_outcome(
            small_survey, beta_fit, sigma_fit, b, seed=seed, survey_tag="small"
        )
        fit_b = em.fit(sim_small)
        em_row = {
            "rep": b,
            "sigma": fit_b.sigma_hat,
            **{f"beta{k}": fit_b.beta_hat[k] for k in range(len(fit_b.beta_hat))},
        }
        # step 3: EBP with re-fitted β, v=0 (Rmd:660-682)
        scored = prep_design(big_survey, with_outcome=False).withColumn(
            "y_ebp", expit(x_beta_col(fit_b.beta_hat))
        )
        est_b = _area_weighted_mean(scored, "y_ebp", "est")
        # step 4: simulated truth under the same v_b (Rmd:687-696)
        sim_big = simulate_outcome(
            big_survey, beta_fit, sigma_fit, b, seed=seed, survey_tag="big"
        )
        true_b = _area_weighted_mean(sim_big, "demvote", "true")
        return est_b.join(true_b, "state").withColumn("rep", F.lit(b)), em_row

    results = [run_rep(b) for b in range(1, n_reps + 1)]
    parts = [r[0] for r in results]
    em_rows = [r[1] for r in results]
    long_df = union_all_by_name(parts).select("rep", "state", "est", "true")
    return long_df, pd.DataFrame(em_rows)


def mspe_table(boot_long: DataFrame) -> DataFrame:
    """C4: per-area sqrt(mean_rep (est−true)²) (``Rmd:740-757``)."""
    return mspe_by_group(
        boot_long, group="state", est="est", truth="true", alias="sqrt_MSPE"
    )
