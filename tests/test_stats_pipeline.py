"""Golden end-to-end pipeline test (SURVEY.md §5.2.5): load → EM → EBP →
direct → comparison → bootstrap MSPE → final report, on the FIXTURES.md
synthetic surveys."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_spark.stats.em import EMEstimator
from data_integration_spark.stats.fixtures import make_fixtures
from data_integration_spark.stats.pipeline import run_pipeline


@pytest.fixture(scope="module")
def fx():
    return make_fixtures()


@pytest.fixture(scope="module")
def result(spark, fx, tmp_path_factory):
    # round-trip the fixtures through parquet so the pipeline runs off
    # files exactly as the reference reads its survey inputs (load step
    # included in the golden path, VERDICT r1 item 7)
    base = tmp_path_factory.mktemp("pipeline_fixtures")
    frames = {}
    for name in ("survey_small", "survey_big", "actual_result"):
        spark.createDataFrame(fx[name]).write.mode("overwrite").parquet(
            f"{base}/{name}"
        )
        frames[name] = spark.read.parquet(f"{base}/{name}").cache()
    return (
        run_pipeline(
            spark,
            frames["survey_small"],
            frames["survey_big"],
            frames["actual_result"],
            em=EMEstimator(n_reps=300, tol=0.01, max_iter=60, seed=42),
            ebp_draws=100,
            bootstrap_reps=2,
            bootstrap_em=EMEstimator(n_reps=100, tol=0.05, max_iter=15, seed=43),
        ),
        fx,
    )


def test_report_covers_all_areas(result):
    res, fx = result
    rows = res.report.collect()
    assert len(rows) == 51  # every area, including the 2 absent from small


def test_absent_area_semantics(result):
    """FIXTURES.md acceptance: areas missing from the small survey get a
    non-null EBP (v=0 path) and a NULL direct estimate (full-outer join)."""
    res, fx = result
    absent = fx["truth"]["absent_states"]
    rows = {r.state: r for r in res.report.collect()}
    for s in absent:
        assert rows[s].EBP_est is not None
        assert rows[s].direct_est is None
    # modeled areas have both
    modeled = [s for s in rows if s not in absent]
    assert all(rows[s].direct_est is not None for s in modeled)


def test_ebp_beats_direct(result):
    """The paper's headline claim (Rmd:490-507 shape): model-based EBP has
    lower RASD than the direct estimator on area-effect data."""
    res, _ = result
    err = res.errors.set_index("estimator")
    assert err.loc["EM_est", "rasd"] < err.loc["direct", "rasd"]
    assert err.loc["EM_est", "aad"] < err.loc["direct", "aad"]


def test_estimates_in_percentage_range(result):
    res, _ = result
    rows = res.report.collect()
    for r in rows:
        assert 0.0 <= r.EBP_est <= 100.0
        if r.direct_est is not None:
            assert 0.0 <= r.direct_est <= 100.0


def test_mspe_present_and_positive(result):
    res, _ = result
    rows = res.report.collect()
    n_with_se = sum(1 for r in rows if r.EBP_SE is not None and r.EBP_SE >= 0)
    assert n_with_se == 51


def test_report_reproducible(spark, result):
    """Same inputs + same seeds → identical report (deterministic hash RNG
    end-to-end; SURVEY.md §4.3.4). With the bootstrap off, ``EBP_SE`` is
    NULL for every area, the 2 absent from the small survey included."""
    res, fx = result
    small = spark.createDataFrame(fx["survey_small"])
    big = spark.createDataFrame(fx["survey_big"])
    actuals = spark.createDataFrame(fx["actual_result"])
    res2 = run_pipeline(
        spark, small, big, actuals,
        em=EMEstimator(n_reps=300, tol=0.01, max_iter=60, seed=42),
        ebp_draws=100, bootstrap_reps=0,
    )
    a = {r.state: (r.actual_val, r.direct_est, r.EBP_est) for r in res.report.collect()}
    rows2 = res2.report.collect()
    b = {r.state: (r.actual_val, r.direct_est, r.EBP_est) for r in rows2}
    assert a == b
    assert len(rows2) == 51
    assert all(r.EBP_SE is None for r in rows2)
    assert set(fx["truth"]["absent_states"]) <= {r.state for r in rows2}


# Golden values for the fully deterministic pipeline (seed-42 fixtures,
# hash-seeded draws, fixed EM settings). Regenerate by running the pipeline
# and printing em.beta_hat / em.sigma_hat / the report — any drift signals a
# semantic change in design prep, EM, EBP, direct estimation, or bootstrap.
GOLDEN_BETA = [
    -0.11709332, 0.17105169, 0.31460497, 1.51071348,
    0.61277735, 0.15000813, 0.27272925, 0.88053607,
]
GOLDEN_SIGMA = 0.15557864
GOLDEN_GLM_BETA = [
    -0.12122486, 0.17277944, 0.31473955, 1.50264445,
    0.61822322, 0.13681364, 0.26761407, 0.8762795,
]
# state -> (actual_val, direct_est, EBP_est, direct_SE, EBP_SE); report is
# rounded to 2dp, so 0.02 tolerance allows one half-ulp rounding flip
GOLDEN_REPORT = {
    "S00": (88.29, 91.24, 85.60, 3.12, 1.11),
    "S01": (65.56, 61.10, 73.11, 10.35, 3.12),
    "S02": (45.19, 40.78, 45.20, 6.21, 7.33),
    "S03": (88.92, 94.55, 90.26, 2.36, 2.16),
    "S04": (76.80, None, 79.81, None, 3.93),
    "S05": (81.74, 76.26, 82.20, 14.02, 1.99),
    "S06": (62.93, 51.22, 49.85, 10.70, 5.34),
    "S07": (59.30, 56.27, 62.57, 7.53, 2.75),
}


def test_golden_em_and_glm_parameters(result):
    """Parameter-level golden: the EM and GLM fits on the fixture surveys
    are pinned (the closest this env can get to the reference's printed
    glmer coefficients, Method_code.Rmd:68-80 — no R/statsmodels here)."""
    res, _ = result
    for got, want in zip(res.em.beta_hat, GOLDEN_BETA):
        assert abs(float(got) - want) < 1e-4
    assert abs(float(res.em.sigma_hat) - GOLDEN_SIGMA) < 1e-4
    for got, want in zip(res.glm_beta, GOLDEN_GLM_BETA):
        assert abs(float(got) - want) < 1e-4


def test_golden_report_values(result):
    """Report-level golden with per-column tolerances: every pipeline stage
    feeds these numbers, so any silent semantic drift fails here."""
    res, _ = result
    rows = {r.state: r for r in res.report.collect()}
    for state, (actual, direct, ebp, dse, ese) in GOLDEN_REPORT.items():
        r = rows[state]
        assert abs(r.actual_val - actual) < 0.02, (state, "actual")
        assert abs(r.EBP_est - ebp) < 0.02, (state, "ebp")
        assert abs(r.EBP_SE - ese) < 0.02, (state, "ebp_se")
        if direct is None:
            assert r.direct_est is None and r.direct_SE is None, state
        else:
            assert abs(r.direct_est - direct) < 0.02, (state, "direct")
            assert abs(r.direct_SE - dse) < 0.02, (state, "direct_se")
