"""Helpers shared by the workloads: session start and stop, memory, metric
units."""

from __future__ import annotations

import os


def start_session():
    """The program's own SparkSession factory, as its CLI uses it."""
    from prac_data_pipelines_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit.  The JVM ends
    itself when its standard input closes (pyspark's launcher contract)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def retained_mb(spark) -> dict[str, float]:
    """Memory the driver holds after the timed phase, in MB: ``cached``, the
    blocks Spark keeps for cached DataFrames (memory and disk), and ``rss``,
    this Python process's resident set (the dashboard's result cache lives
    there).  Both repeat from run to run, unlike the JVM heap in use, which
    depends on when the collector last ran."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() + i.diskSize() for i in infos)
    with open("/proc/self/statm") as f:
        rss = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    return {"cached": cached / 2**20, "rss": rss / 2**20}


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


QUERY_MODULES = ("core", "tpch", "extras", "events", "text", "corpus",
                 "vector", "media", "cxc")

# Per-layer metrics of a traced run, with their units.  ``<span>.spark_jobs``
# and ``<span>.spark_stages`` count the Spark jobs and stages launched while
# the span was open.
_COUNTED_SPANS = (["pipeline.run_pipeline", "sinks.dashboard.request",
                   "sinks.report.export_views", "sinks.pdf.export_pdf_report"]
                  + [f"queries.{m}" for m in QUERY_MODULES])
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "pipeline.run_pipeline_s": "s",
    **{f"sinks.dashboard.page_{p}_p50_ms": "ms"
       for p in ("resumen", "cartera", "clientes", "kpis", "auditoria")},
    "sinks.dashboard.jobs_per_request": "ratio",
    "sinks.dashboard.cache_hit_ratio": "ratio",
    "sinks.dashboard.html_bytes": "bytes",
    "sinks.report.export_views_s": "s",
    "sinks.report.jobs_per_view": "ratio",
    "sinks.report.bytes_written": "bytes",
    "sinks.xlsx.write_styled_workbook_s": "s",
    "sinks.pdf.export_pdf_report_s": "s",
    **{f"queries.{m}_s": "s" for m in QUERY_MODULES},
    **{f"{s}.{c}": "count" for s in _COUNTED_SPANS
       for c in ("spark_jobs", "spark_stages")},
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.top_spans_s": "s",
    "trace.unaccounted_s": "s",
}
