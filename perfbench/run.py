"""Benchmark launcher for the CxC pipeline, its report sinks, its dashboard
and the registry queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload dashboard_erp --seed 1 --seconds 10 --trace 0

Generates the workload's inputs under ``.bench_run/``, runs the workload
against the package in this checkout, checks its outputs outside the timed
interval and prints one JSON object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` makes one
untimed warm-up pass and then four passes with the same seed, untraced,
traced, traced, untraced, and reports the per-layer metrics of the traced
passes and the tracing overhead (traced wall time minus untraced wall
time).  The line before the result stamps the run's environment (cores,
Spark settings, versions, input directory).  Workloads and metrics are
described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".bench_run")
PACKAGE = "prac_data_pipelines_spark"

sys.path.insert(0, HERE)

import datagen  # noqa: E402
from common import LAYER_UNITS, metric, retained_mb, start_session, stop_session  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = ("dashboard_erp", "query_mix")
# The tables are one small company's ERP data, the same in every run and
# for both workloads: TPC-H scale factor 0.001 (150 customers, 1,500
# orders, 6,000 line items, a 7,500-row CxC master; 1,000 events; 500
# documents and embeddings).  The run's seed drives what the workload does
# with them (the dashboard's requests, the order of the queries).  With
# tables drawn per seed, the cost of the same request schedule moved by
# 30-40 % from seed to seed, more than a run's requests average out.
SF = 0.001
TABLES_SEED = 0


def _environment() -> None:
    """Point Spark, its Python workers and every temporary file at this
    checkout.  Must run before the SparkSession (and its JVM) starts:
    executors' Python workers inherit ``PYTHONPATH`` from the JVM's
    environment, and without the checkout on it a worker cannot import the
    package when the benchmark runs outside the repository root."""
    tmp = os.path.join(RUN_DIR, "tmp")
    local = os.path.join(RUN_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(RUN_DIR)


def _stamp(spark, workload, data_dir: str) -> dict:
    import pyspark
    return {
        "workload": workload.__name__,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.master": spark.sparkContext.master,
        "spark.sql.shuffle.partitions":
            spark.conf.get("spark.sql.shuffle.partitions"),
        "sf": SF,
        "sf_dir": os.path.relpath(data_dir, ROOT),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
    }


def timed_phase(workload, state, seed: int, seconds: float, tracer,
                passes: int | None = None) -> dict:
    """Whole passes over the workload's operation cycle, until ``seconds``
    have elapsed (at least one), or exactly ``passes`` of them."""
    rng = random.Random(seed)
    log: list[dict] = []
    pass_s: list[float] = []
    t0 = time.perf_counter()
    while (len(pass_s) < passes if passes is not None
           else not pass_s or time.perf_counter() - t0 < seconds):
        t = time.perf_counter()
        workload.one_pass(state, rng, tracer, log)
        pass_s.append(time.perf_counter() - t)
    return {"log": log, "pass_s": pass_s, "t0": t0,
            "wall_s": time.perf_counter() - t0}


def traced_phases(workload, state, seed: int, tracer) -> dict:
    """One untimed warm-up pass, then single passes untraced, traced,
    traced, untraced.  The symmetric order cancels the steady speed-up of
    a process that is still warming, so the traced passes' wall time less
    the untraced ones' is the tracing overhead."""
    def one(t):
        return timed_phase(workload, state, seed, 0, t, passes=1)

    warm_up = one(None)
    u1, t1, t2, u2 = one(None), one(tracer), one(tracer), one(None)
    tracer.count_stages()

    def merged(a: dict, b: dict) -> dict:
        return {"log": a["log"] + b["log"], "pass_s": a["pass_s"] + b["pass_s"],
                "t0": a["t0"], "wall_s": a["wall_s"] + b["wall_s"]}

    return {"warm-up": warm_up, "untraced": merged(u1, u2),
            "traced": merged(t1, t2)}


def _layer_metrics(workload, tracer, untraced: dict, traced: dict,
                   session_s: float) -> dict:
    """Every per-layer metric; a layer the workload does not call reads 0.
    Job and stage counts are per pass of the traced phase, except those of
    ``run_pipeline``, which runs once in set-up."""
    layers = dict.fromkeys(LAYER_UNITS, 0.0)
    layers.update(workload.layers(tracer, traced["log"]))
    passes = len(traced["pass_s"])
    for name, unit in LAYER_UNITS.items():
        if unit == "count":
            span, field = name.rsplit(".", 1)
            if span == "pipeline.run_pipeline":
                layers[name] = tracer.total(span, field)
            else:
                layers[name] = tracer.total(span, field, traced["t0"]) / passes
    top = tracer.top_level_s(since=traced["t0"])
    layers.update({
        "session.get_spark_s": session_s,
        "trace.wall_s": traced["wall_s"],
        "trace.untraced_wall_s": untraced["wall_s"],
        "trace.overhead_s": traced["wall_s"] - untraced["wall_s"],
        "trace.top_spans_s": top,
        "trace.unaccounted_s": untraced["wall_s"] - top,
    })
    unknown = set(layers) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"per-layer metrics missing from LAYER_UNITS: {unknown}")
    return {k: metric(v, LAYER_UNITS[k]) for k, v in layers.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2

    os.makedirs(RUN_DIR, exist_ok=True)
    _environment()
    workload = importlib.import_module(args.workload)
    data_dir = datagen.ensure(
        os.path.join(RUN_DIR, "data", f"sf{SF}-seed{TABLES_SEED}"),
        TABLES_SEED, SF)
    out_dir = os.path.join(RUN_DIR, "out", args.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    t_setup = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t_setup
    tracer = Tracer(spark) if args.trace else None
    try:
        state = workload.setup(spark, data_dir, out_dir, tracer)
        setup_s = time.perf_counter() - t_setup
        try:
            if tracer is None:
                phases = {"untraced": timed_phase(
                    workload, state, args.seed, args.seconds, None)}
            else:
                phases = traced_phases(workload, state, args.seed, tracer)
            mem = retained_mb(spark)
        finally:
            workload.close(state)
        log = [e for p in phases.values() for e in p["log"]]
        failed = workload.check(state, log)
        stamp = _stamp(spark, workload, data_dir)
    finally:
        stop_session(spark)

    if tracer is not None:
        metrics = _layer_metrics(workload, tracer, phases["untraced"],
                                 phases["traced"], session_s)
    else:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "pass_s": metric(statistics.median(phases["untraced"]["pass_s"]),
                             "s"),
            "retained_mb": metric(sum(mem.values()), "MB"),
        }
    result = {"correct": failed == 0, "attempted": len(log), "failed": failed,
              "metrics": metrics}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if tracer is not None:
        tracer.write(os.path.join(RUN_DIR, f"spans-{name}.json"))
    with open(os.path.join(RUN_DIR, f"result-{name}.json"), "w") as f:
        json.dump({"stamp": stamp, **result, "setup_s": setup_s,
                   "retained_mb": mem,
                   "pass_s": {k: p["pass_s"] for k, p in phases.items()},
                   "ops": [{"op": e["op"], "ms": e["ms"]} for e in log]},
                  f, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
