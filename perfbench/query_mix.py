"""Workload ``query_mix``: registry queries from every ``queries`` module.

A pass runs each query in ``QUERIES`` once, in an order the seed shuffles,
and delivers its result to the driver (``toPandas``), as a client of the
registry would.  Nothing is cached between queries: each one scans its
tables again.  Set-up is the session start only, so the timed pass is
cold, as a batch job in a fresh process sees it: it pays class loading,
code generation and the start of the Pandas-UDF workers.  (Timing a warm
pass after an untimed cold one cost 15 s more a run and was no steadier.)

One query per module, and among a module's queries a cheap one: every
module and the ``operators/*`` it calls stay measured while a run fits the
benchmark's time budget.  ``multimodal_features`` runs ``mapInPandas`` in
Spark's Python workers, so a worker that cannot import the package fails
the run.  ``cxc_saldo_cliente`` runs the CxC plans (``plans.*``) from the
raw tables.

Checks: each result equals its DuckDB oracle twin on the same tables
(``prac_data_pipelines_spark.testing.compare_frames``: same columns, row
count and values, order-insensitive), and its row count equals the one
recorded from the seed code in ``expected/query_mix.json``.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

from tracing import span

from prac_data_pipelines_spark.queries import all_oracles, all_queries
from prac_data_pipelines_spark.testing import compare_frames, duck_connect

HERE = os.path.dirname(os.path.abspath(__file__))
QUERIES = ("running_balance", "waiting_suppliers", "asof_latest_order",
           "events_sessionize", "doc_minhash_pairs", "tfidf_top_terms",
           "knn_brute", "multimodal_features", "cxc_saldo_cliente")
EXPECTED_ROWS = os.path.join(HERE, "expected", "query_mix.json")


def module_of(fn) -> str:
    """``queries.<module>`` name of a registered query function."""
    return fn.__module__.rsplit(".", 1)[1]


def setup(spark, data_dir: str, out_dir: str, tracer) -> dict:
    registry = all_queries()
    return {"spark": spark, "data_dir": data_dir,
            "fns": {q: registry[q] for q in QUERIES}}


def close(state: dict) -> None:
    pass


def one_pass(state: dict, rng: random.Random, tracer, log: list[dict]) -> None:
    order = list(QUERIES)
    rng.shuffle(order)
    for q in order:
        fn = state["fns"][q]
        entry = {"op": q}
        t = time.perf_counter()
        try:
            with span(tracer, f"queries.{module_of(fn)}", query=q):
                entry["result"] = fn(state["spark"], state["data_dir"]).toPandas()
        except Exception as e:  # noqa: BLE001 - a failed query is counted
            entry["error"] = f"{q}: {e!r}"
        entry["ms"] = (time.perf_counter() - t) * 1000.0
        log.append(entry)


def check(state: dict, log: list[dict]) -> int:
    with open(EXPECTED_ROWS) as f:
        expected = json.load(f)
    con = duck_connect(state["data_dir"])
    sql = all_oracles()
    oracle = {q: con.execute(sql[q]).df() for q in QUERIES}
    failed = 0
    for entry in log:
        q = entry["op"]
        errors = [entry["error"]] if "error" in entry else []
        if not errors:
            errors = compare_frames(entry["result"], oracle[q])
            if len(entry["result"]) != expected[q]:
                errors.append(f"{len(entry['result'])} rows, recorded "
                              f"{expected[q]}")
        if errors:
            failed += 1
            print(f"query_mix check {q}: {'; '.join(errors)}", file=sys.stderr)
    return failed


def layers(tracer, log: list[dict]) -> dict[str, float]:
    """Per-pass time of each module's query."""
    passes = len(log) / len(QUERIES)
    return {f"queries.{module_of(fn)}_s": tracer.total(f"queries.{module_of(fn)}")
            / passes for fn in (all_queries()[q] for q in QUERIES)}
