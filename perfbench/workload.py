"""One benchmark run of one workload, in its own process.

``run.py`` starts this file with the session settings in the environment;
it writes its result to ``--out`` as JSON. Set-up (session start, input
load and warm-up) is timed, then operations run one after another in a
closed loop until ``--seconds`` have passed, then the outputs of the last
operation are checked, outside the timed region.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

import procstat
from spans import Tracer, attribute, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

RELATIONAL = [  # bench.py's headline set
    "q_report_final", "q_weighted_mean_by_group", "q_survey_mean_se",
    "q_groupby_count", "q_bind_via_join", "q_broadcast_lookup", "q_rank_window",
    "q_window_tumbling", "q_asof_join", "q_mspe_by_group", "q_dedup_exact",
    "q_token_count", "q_ngram_jaccard", "q_cosine_pairs", "q_ann_topk",
]
LLM_OPS = [
    # cross into Python workers
    "q_unigram_train", "q_ann_pq", "q_ann_opq", "q_ann_ivfpq_self_join",
    "q_image_dedup_phash", "q_audio_spectral_fingerprint", "q_crossmodal_dedup",
    "q_semdedup",
    # Catalyst-native
    "q_dedup_minhash", "q_bpe_train", "q_linkage_certificate", "q_substring_dedup",
]
#: the query workload runs on one of this many generated datasets,
#: ``seed % DATA_VARIANTS``, whose oracle answers are in expected.json
DATA_VARIANTS = 4


# ------------------------------------------------------------ survey pipeline
class SurveyPipeline:
    """``run_pipeline`` at the reference's Monte Carlo size (EM R=1000, 100
    EBP draws) with ``BOOTSTRAP_REPS`` bootstrap reps, then ``collect()`` of
    its report.

    The input is the engine's canonical fixture, ``make_fixtures()``, for
    every seed; the seed drives the Monte Carlo: the EM draws, the EBP draws
    and the bootstrap. Fixtures from other seeds take the EM 11-13
    iterations to converge instead of 4, and 40-124 bootstrap iterations, so
    the operation's time would follow the fixture seed by up to ±20%."""

    #: the reference runs B=10; at 2 an operation takes about a third of
    #: that, so a run fits a warm-up and several timed operations
    BOOTSTRAP_REPS = 2

    def __init__(self, seed: int):
        self.seed = seed

    def load(self, spark) -> None:
        from data_integration_spark.stats.fixtures import make_fixtures

        fx = make_fixtures()
        self.small, self.big, self.actual = (
            spark.createDataFrame(fx[k]).cache()
            for k in ("survey_small", "survey_big", "actual_result")
        )
        for df in (self.small, self.big, self.actual):
            df.count()

    def warm_up(self, spark) -> None:
        """One untimed operation, so the timed ones find their code
        compiled, the Python workers started and the JVM heap grown."""
        self.op(spark, Tracer())

    def op(self, spark, tracer: Tracer):
        from data_integration_spark.stats import em as em_mod
        from data_integration_spark.stats import glmm, pipeline

        em = em_mod.EMEstimator(n_reps=1000, seed=self.seed)
        try:
            with (
                tracer.patched(glmm.FixedEffectsGLM, "fit", "stats.glmm.fit"),
                tracer.patched(em_mod.EMEstimator, "fit", "stats.em.fit",
                               count=lambda r: {"iters": r.n_iter}),
                tracer.patched(pipeline, "error_summary", "stats.ebp.compare"),
                tracer.patched(pipeline, "parametric_bootstrap", "stats.bootstrap.run"),
                tracer.patched(pipeline, "final_report", "stats.ebp.report"),
            ):
                res = pipeline.run_pipeline(
                    spark, self.small, self.big, self.actual, em=em, ebp_draws=100,
                    bootstrap_reps=self.BOOTSTRAP_REPS, seed=self.seed,
                )
            with tracer.span("stats.ebp.report"):
                report = res.report.collect()
        except Exception as exc:  # noqa: BLE001 — counted as failed
            return 1, exc
        return 1, (res, report, em)

    def raised(self, out) -> int:
        return int(isinstance(out, Exception))

    def check(self, out, tracer: Tracer) -> tuple[int, list[str]]:
        """The q_survey_pipeline_certificate invariants, and the
        stationarity certificate of the EM fit, which runs the distributed
        EM building blocks once: the ``applyInPandas`` E-step, and the σ
        moment and the score as Spark aggregations. Returns the failed
        operations and what failed.

        The certificate's residuals round to 0.0 only for a fit to a tight
        tolerance (1e-4, as q_em_convergence uses). The pipeline fits to the
        reference's 0.01, where the σ residual is one more EM step:
        |σ₊² − σ̂²| < tol·(2σ̂ + tol) when the step contracts. The score
        residual still rounds to 0.0."""
        from pyspark.sql import functions as F

        from data_integration_spark.stats import em as em_mod

        if isinstance(out, Exception):
            return 1, [f"{type(out).__name__}: {out}"]
        res, report, em = out
        tol = em.tol
        try:
            with tracer.span("stats.em.certificate"):
                cert = em_mod.em_stationarity_certificate(self.small, res.em, em)
        except Exception as exc:  # noqa: BLE001 — counted as failed
            return 1, [f"certificate: {type(exc).__name__}: {exc}"]
        sigma = res.em.sigma_hat
        c = res.comparison.agg(
            F.count("*").alias("n"),
            F.sum(F.col("direct").isNull().cast("long")).alias("absent"),
            F.sum(F.col("EM_est").isNotNull().cast("long")).alias("ebp"),
            F.sum((~F.col("EM_est").between(0.0, 100.0)
                   | ~F.coalesce("direct", F.lit(50.0)).between(0.0, 100.0))
                  .cast("long")).alias("range"),
        ).collect()[0]
        err = res.errors.set_index("estimator")
        facts = {
            "n_areas == 51": c["n"] == 51 and len(report) == 51,
            "absent from direct == 2": c["absent"] == 2,
            "EBP for every area": c["ebp"] == 51,
            "EBP beats direct on ASD": err.loc["EM_est", "asd"] < err.loc["direct", "asd"],
            "EBP beats direct on AAD": err.loc["EM_est", "aad"] < err.loc["direct", "aad"],
            "no range violations": c["range"] == 0,
            "sqrt_MSPE >= 0 everywhere": all(
                r["EBP_SE"] is not None and r["EBP_SE"] >= 0 for r in report
            ),
            f"EM fit is stationary ({cert})": cert["converged"] == 1
            and round(cert["beta_score_inf_norm"], 2) == 0.0
            and cert["sigma_fixed_point_resid"] < tol * (2 * sigma + tol),
        }
        failures = [k for k, ok in facts.items() if not ok]
        return int(bool(failures)), failures


# ----------------------------------------------------------------- query sets
def canonical_digest(columns: list[str], rows) -> str:
    """Digest of a result as ``oracle_harness.compare`` sees it: columns by
    lower-cased name, cells normalized by its ``_norm_cell`` (floats to 9
    places), rows as a sorted multiset. Values that compare equal there get
    equal text here."""
    from decimal import Decimal

    import oracle_harness

    def text(v):
        if isinstance(v, tuple):
            return "(" + ",".join(text(x) for x in v) + ")"
        if isinstance(v, float):
            return repr(v + 0.0)  # + 0.0 folds -0.0 into 0.0
        if isinstance(v, Decimal):
            return format(v.normalize(), "f")
        if isinstance(v, int) and not isinstance(v, bool):
            return str(v)  # equal to the same-valued DECIMAL(38,0)
        return f"{type(v).__name__}:{v!r}"

    norm = oracle_harness._norm_cell

    def cell(v):  # text(norm(v)), with the two commonest types inlined
        t = type(v)
        if t is int:
            return str(v)
        if t is str:
            return "str:" + repr(v)
        return text(norm(v))

    cols = [c.lower() for c in columns]
    values = list(zip(*rows))
    texts = [list(map(cell, values[cols.index(c)])) if values else []
             for c in sorted(cols)]
    lines = ["(" + ",".join(parts) + ")" for parts in zip(*texts)]
    h = hashlib.sha256("\x1f".join(sorted(cols)).encode())
    h.update("".join(line + "\n" for line in sorted(lines)).encode())
    return h.hexdigest()


class QuerySet:
    """One pass over the relational and LLM-ops queries on generated
    tables; each result is materialized at the client as Arrow."""

    names = RELATIONAL + LLM_OPS

    def __init__(self, seed: int, work: str):
        self.variant = seed % DATA_VARIANTS
        self.data = os.path.join(work, "data")
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)[str(self.variant)]

    def generate(self) -> None:
        import datagen

        datagen.generate(self.data, seed=self.variant)

    def load(self, spark) -> None:
        from data_integration_spark.queries import load_all
        from data_integration_spark.sources.catalog import TPCH_TABLES, load_table

        load_all()
        for t in TPCH_TABLES:
            load_table(spark, self.data, t)

    def warm_up(self, spark) -> None:
        """None: a warm-up pass would cost as much as the pass itself."""

    def op(self, spark, tracer: Tracer):
        from data_integration_spark.queries import QUERIES

        results = {}
        for name in self.names:
            with tracer.span(f"q.{name}"):
                try:
                    df = QUERIES[name](spark, self.data)
                    results[name] = (df.dtypes, df.toArrow())
                except Exception as exc:  # noqa: BLE001 — counted as failed
                    results[name] = exc
        return len(self.names), results

    def raised(self, results) -> int:
        return sum(isinstance(got, Exception) for got in results.values())

    def check(self, results, tracer: Tracer) -> tuple[int, list[str]]:
        bad = []
        for name, got in results.items():
            want = self.expected[name]
            if isinstance(got, Exception):
                bad.append(f"{name}: {type(got).__name__}: {got}")
                continue
            dtypes, table = got
            if [list(d) for d in dtypes] != want["dtypes"]:
                bad.append(f"{name}: schema {dtypes}")
            elif "digest" in want:
                digest = canonical_digest(table.column_names, naive_arrow_rows(table))
                if digest != want["digest"]:
                    bad.append(f"{name}: result differs from the DuckDB oracle")
            elif table.num_rows != want["rows"]:
                bad.append(f"{name}: {table.num_rows} rows, expected {want['rows']}")
        return len(bad), bad


def naive_arrow_rows(table) -> list[tuple]:
    """Rows of an Arrow table as tuples, UTC timestamps made naive the way
    ``collect()`` and DuckDB return them."""
    import pyarrow as pa

    schema = pa.schema([
        f.with_type(pa.timestamp(f.type.unit))
        if pa.types.is_timestamp(f.type) and f.type.tz else f
        for f in table.schema
    ])
    return list(zip(*(c.to_pylist() for c in table.cast(schema).columns)))


# ---------------------------------------------------------------------- main
def last_op_spans(spans: list[dict]) -> list[dict]:
    """The spans of the last operation, and those outside every operation
    (the checks), so per-layer counters describe one operation whatever the
    number of operations a run fits."""
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    last = [s for s in spans if s["name"] == "op"][-1]
    return [s for s in spans if root(s)["name"] != "op" or root(s) is last]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    if a.workload == "survey_pipeline":
        wl = SurveyPipeline(a.seed)
        datagen_s = 0.0
    else:
        wl = QuerySet(a.seed, a.work)
        t = time.perf_counter()
        wl.generate()
        datagen_s = time.perf_counter() - t

    from data_integration_spark.session import get_spark
    from data_integration_spark.sources import catalog

    eventlog = os.path.join(a.work, "eventlog")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if a.trace:
        os.makedirs(eventlog, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{a.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    # Python workers import the package from PYTHONPATH (set by run.py), so
    # the catalog need not build and ship a package zip under <repo>/.scratch
    catalog._PYFILE_SHIPPED.add(spark.sparkContext.applicationId)
    wl.load(spark)
    wl.warm_up(spark)
    setup_s = time.perf_counter() - t0

    tracer = Tracer(spark.sparkContext if a.trace else None)
    walls, cpus, attempted, raised = [], [], 0, 0
    out = None
    start = time.perf_counter()
    while not walls or time.perf_counter() - start < a.seconds:
        # the last operation's outputs are checked; earlier ones fail only
        # if they raised
        if out is not None:
            raised += wl.raised(out)
        cpu0, t = procstat.tree_cpu_s(os.getpid()), time.perf_counter()
        with tracer.span("op"):
            n, out = wl.op(spark, tracer)
        walls.append(time.perf_counter() - t)
        cpus.append(procstat.tree_cpu_s(os.getpid()) - cpu0)
        attempted += n
    peak_rss_mb = procstat.tree_peak_rss_mb(os.getpid())
    t = time.perf_counter()
    failed, failures = wl.check(out, tracer)
    if raised:
        failed += raised
        failures.append(f"{raised} operations before the last one raised")
    check_s = time.perf_counter() - t
    spark.stop()

    result = {
        "workload": a.workload,
        "seed": a.seed,
        "datagen_s": datagen_s,
        "session_s": session_s,
        "check_s": check_s,
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": peak_rss_mb,
        "ops": len(walls),
        "op_walls_s": [round(w, 3) for w in walls],
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
    }
    if a.trace:
        # one application, one uncompressed, non-rolling log file
        groups = read_event_log(os.path.join(eventlog, os.listdir(eventlog)[0]))
        attribute(tracer.spans, groups)
        result["spans"] = last_op_spans(tracer.spans)
        result["job_groups"] = groups
    with open(a.out, "w") as fh:
        json.dump(result, fh, default=str)


if __name__ == "__main__":
    main()
