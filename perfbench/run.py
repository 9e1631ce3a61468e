"""The engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It sizes the Spark session to the machine,
keeps every file it writes under ``perfbench/.work/``, runs the workload in a
child process (``workload.py``) and prints, as the last line of standard
output, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run is traced and reports the per-layer ones. See
README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import procstat
from workload import LLM_OPS, RELATIONAL

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("survey_pipeline", "queries_sf0.1")
QUERY_GROUPS = {"relational": RELATIONAL, "llm_ops": LLM_OPS}
STATS_SPANS = (
    "stats.glmm.fit", "stats.em.fit", "stats.ebp.compare", "stats.bootstrap.run",
    "stats.ebp.report", "stats.em.certificate",
)
SPAN_COUNTERS = ("wall_s", "self_s", "jobs", "tasks", "cpu_s", "shuffle_bytes",
                 "python_s")
QUERY_COUNTERS = ("cpu_s", "shuffle_bytes", "spill_bytes", "python_s",
                  "python_bytes", "tasks")
#: a traced run whose spans leave more than this share of the operation's
#: wall time unattributed is reported as not reconciled
UNATTRIBUTED_BOUND = 0.10
RUN_DEADLINE_S = 170
END_TO_END = ("setup_s", "wall_s", "cpu_s")


def unit(name: str) -> str:
    for suffix, u in (("_s", "s"), ("_bytes", "bytes"), ("_mb", "MiB")):
        if name.endswith(suffix):
            return u
    return "count"


def per_layer_names() -> list[str]:
    names = ["session.start.wall_s"]
    names += [f"{s}.{c}" for s in STATS_SPANS for c in SPAN_COUNTERS]
    names += ["stats.em.fit.iters", "stats.bootstrap.run.em_iters"]
    names += [f"q.{q}.{c}" for q in RELATIONAL + LLM_OPS for c in ("wall_s", "jobs")]
    names += [f"queries.{g}.{c}" for g in QUERY_GROUPS for c in QUERY_COUNTERS]
    return names + ["process.peak_rss_mb", "trace.wall_s", "trace.unattributed_s"]


def settings() -> dict[str, str]:
    """Session settings taken from the machine: one task slot per usable
    core, and a driver heap of a quarter of physical memory, at most 4 GiB."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {"SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": f"{min(ram_mb // 4, 4096)}m"}


def prepare_environment() -> str:
    """Create this run's work directory and point every Spark, JVM and
    Python scratch path into it. Returns the directory."""
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(settings())
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        # no hsperfdata file under the system's /tmp, from the launcher's
        # JVM or the driver's
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the same string hashes in every run, so set and dict order, and
        # any plan built from them, repeat
        "PYTHONHASHSEED": "0",
        # Python workers started by the JVM import the package from here
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        ),
    })
    for k in ("SPARK_MASTER", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(k, None)
    return work


def recorded_settings() -> dict[str, str]:
    keys = (*settings(), "SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE", "TMPDIR",
            "PYTHONHASHSEED", "PYTHONPATH")
    return {k: os.environ[k] for k in keys}


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = procstat._stat(int(name))
            if st is not None and int(st[2]) == pgid and st[0] != "Z":
                return True
    return False


def run_child(a, work: str, trace: int, deadline: float) -> dict:
    """Run workload.py in its own process group and wait until every process
    of that group (the JVM and its Python workers too) has ended."""
    out = os.path.join(work, f"result-{trace}.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(trace),
           "--work", os.path.join(work, f"child-{trace}"), "--out", out]
    # the child's own output goes to stderr: stdout ends with the result line
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        stop_by = time.monotonic() + 20
        while _group_alive(proc.pid):
            if time.monotonic() > stop_by:
                os.killpg(proc.pid, signal.SIGKILL)
            time.sleep(0.1)
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"workload process failed with code {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def layer_metrics(traced: dict) -> tuple[dict[str, float], dict]:
    spans = traced["spans"]
    values = dict.fromkeys(per_layer_names(), 0.0)
    values["session.start.wall_s"] = traced["session_s"]
    values["process.peak_rss_mb"] = traced["peak_rss_mb"]
    by_id = {s["id"]: s for s in spans}

    def under(s, name):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == name:
                return True
        return False

    for s in spans:
        name = s["name"]
        if name in STATS_SPANS:
            for c in SPAN_COUNTERS:
                values[f"{name}.{c}"] += s[c]
        if name == "stats.em.fit":
            values["stats.em.fit.iters"] += s["counts"]["iters"]
            if under(s, "stats.bootstrap.run"):
                values["stats.bootstrap.run.em_iters"] += s["counts"]["iters"]
        if name.startswith("q."):
            values[f"{name}.wall_s"] += s["wall_s"]
            values[f"{name}.jobs"] += s["jobs"]
            group = next(g for g, qs in QUERY_GROUPS.items() if name[2:] in qs)
            for c in QUERY_COUNTERS:
                values[f"queries.{group}.{c}"] += s[c]
        if name == "op":
            values["trace.unattributed_s"] += s["self_s"]
    values["trace.wall_s"] = traced["wall_s"]
    op_wall = sum(s["wall_s"] for s in spans if s["name"] == "op")
    t0 = spans[0]["start"]
    record = {
        "workload": traced["workload"],
        "seed": traced["seed"],
        "settings": recorded_settings(),
        "wall_s": traced["wall_s"],
        "unattributed_s": values["trace.unattributed_s"],
        "unattributed_bound": UNATTRIBUTED_BOUND,
        "reconciled": values["trace.unattributed_s"] <= UNATTRIBUTED_BOUND * op_wall,
        "spans": [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in spans],
        "job_groups": traced["job_groups"],
    }
    return values, record


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    missing = [p for p in ("data_integration_spark/__init__.py", "tests/oracle_harness.py")
               if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        sys.exit(f"perfbench: {', '.join(missing)} not found next to perfbench/; "
                 "run it from a checkout of the repository")

    deadline = time.monotonic() + RUN_DEADLINE_S
    work = prepare_environment()
    try:
        res = run_child(a, work, a.trace, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = {"settings": recorded_settings(), "datagen_s": res["datagen_s"],
            "session_s": res["session_s"], "check_s": res["check_s"],
            "ops": res["ops"], "op_walls_s": res["op_walls_s"]}
    if a.trace:
        values, record = layer_metrics(res)
        path = os.path.join(HERE, ".work", f"trace-{a.workload}-{a.seed}.json")
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1)
        info.update(trace_record=os.path.relpath(path, REPO),
                    reconciled=record["reconciled"])
    else:
        values = {k: res[k] for k in END_TO_END}
    print("perfbench " + json.dumps(info))
    for f in res["failures"]:
        print(f"perfbench check failed: {f}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in values.items()},
    }))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
