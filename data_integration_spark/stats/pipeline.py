"""End-to-end estimation pipeline — the reference's full program
(``Method_code.Rmd``, README pipeline steps) as one orchestrated flow:

load → prep → GLM baseline → EM (adjusted ML) → EBP of area proportions on
the big survey → direct survey-weighted estimates → comparison vs actuals
(ASD/RASD/AAD) → parametric-bootstrap MSPE → final SQL report.

Driver-side Python orchestrates; every data-touching step is a Spark plan.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.functions.rng import seeded_normal
from data_integration_spark.stats.bootstrap import mspe_table, parametric_bootstrap
from data_integration_spark.stats.ebp import (
    comparison_table,
    direct_estimates,
    ebp_estimates,
    error_summary,
    final_report,
)
from data_integration_spark.stats.em import EMEstimator, EMResult
from data_integration_spark.stats.glmm import FixedEffectsGLM


@dataclass
class PipelineResult:
    glm_beta: list
    em: EMResult
    comparison: DataFrame
    errors: pd.DataFrame
    report: DataFrame


def run_pipeline(
    spark: SparkSession,
    survey_small: DataFrame,
    survey_big: DataFrame,
    actuals: DataFrame,
    em: EMEstimator | None = None,
    ebp_draws: int = 100,
    bootstrap_reps: int = 0,
    bootstrap_em: EMEstimator | None = None,
    seed: int = 7,
) -> PipelineResult:
    em = em or EMEstimator()
    # 1. fixed-effects baseline (reference glmer step, Rmd:68-80)
    glm = FixedEffectsGLM().fit(survey_small)
    # 2. EM with random intercepts, initialized like the reference loop
    fit = em.fit(survey_small)
    # 3. EBP draw table: v_tilde ~ N(v̂, τ̂) per (r, area) (Rmd:415: R=100)
    v_hat_df = fit.v_hat_df(spark)
    v_draws = (
        v_hat_df.select(
            "state",
            "v_hat",
            "tau_hat_sq",
            F.explode(F.sequence(F.lit(1), F.lit(ebp_draws))).alias("r"),
        )
        .withColumn(
            "v_tilde",
            F.col("v_hat")
            + F.sqrt("tau_hat_sq") * seeded_normal("state", "r", salt=seed),
        )
        .select("state", "r", "v_tilde")
    )
    ebp = ebp_estimates(survey_big, fit.beta_hat, v_draws, est_alias="EM_est")
    # 4. direct estimates (Rmd:456-473)
    direct = direct_estimates(survey_small)
    # 5. comparison vs actuals (full-outer fold, Rmd:466-472)
    comp = comparison_table(actuals, [direct, ebp]).cache()
    errors = error_summary(comp, "actual", ["direct", "EM_est"])
    # 6. bootstrap MSPE (Rmd:557-757) + final report (Rmd:763-772)
    if bootstrap_reps > 0:
        boot_long, _ = parametric_bootstrap(
            survey_small,
            survey_big,
            fit.beta_hat,
            fit.sigma_hat,
            n_reps=bootstrap_reps,
            em=bootstrap_em,
            seed=seed + 100,
        )
        mspe = mspe_table(boot_long)
    else:
        mspe = v_hat_df.select(
            "state", F.lit(None).cast("double").alias("sqrt_MSPE")
        )
    report = final_report(spark, comp, mspe)
    return PipelineResult(
        glm_beta=list(glm.beta_), em=fit, comparison=comp, errors=errors,
        report=report,
    )
