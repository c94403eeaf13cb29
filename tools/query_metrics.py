"""Measured execution metrics per query: bytes scanned, shuffle
write volume, and spill, from the SQL execution REST endpoint (the exact
per-node metrics the Spark UI's SQL tab shows — the stage-level
``inputBytes`` counter is NOT wired for the vectorized parquet reader and
under-reports by orders of magnitude, so per-node is the only honest
source).

This is the evidence layer behind the plan report: `docs/PLANS.md` counts
exchanges in the plan; this tool measures what those exchanges MOVE. A
query whose shuffle volume approaches its scan volume is carrying fact
rows through a shuffle (the 100 TB red flag); the healthy pattern is
scan >> shuffle (map-side partial aggregation, broadcast dims, pruned
scans). Exceptions are documented per family in docs/METRICS.md.

Usage: python tools/query_metrics.py SF_DIR OUT_MD QUERY [QUERY ...]
"""

from __future__ import annotations

import json
import re
import sys
import time
import urllib.request

sys.path.insert(0, ".")

from prac_data_pipelines_spark.queries import all_queries  # noqa: E402
from prac_data_pipelines_spark.session import get_spark  # noqa: E402

_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def _parse_size(value: str) -> int:
    """First 'N UNIT' occurrence in a metric value string ('10.3 MiB',
    'total (min, med, max): 1.2 MiB (...)' -> leading total)."""
    m = _SIZE.search(value)
    return int(float(m.group(1)) * _UNIT[m.group(2)]) if m else 0


def _executions(spark) -> list[dict]:
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = (f"{ui}/api/v1/applications/{app}/sql"
           f"?details=true&planDescription=false&offset=0&length=100000")
    with urllib.request.urlopen(url, timeout=20) as r:
        return json.load(r)


def _metrics_since(spark, last_id: int) -> tuple[dict[str, int], int]:
    """Sum scan/shuffle/spill over all executions with id > last_id."""
    for _ in range(20):  # status store updates async; wait for COMPLETED
        exs = [e for e in _executions(spark) if e["id"] > last_id]
        if exs and all(e["status"] != "RUNNING" for e in exs):
            break
        time.sleep(0.25)
    total = {"scan": 0, "shuffle": 0, "spill": 0}
    max_id = last_id
    for ex in exs:
        max_id = max(max_id, ex["id"])
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                n = m["name"]
                if n == "size of files read":
                    total["scan"] += _parse_size(m["value"])
                elif n == "shuffle bytes written":
                    total["shuffle"] += _parse_size(m["value"])
                elif n == "spill size":
                    total["spill"] += _parse_size(m["value"])
    return total, max_id


def _fmt(b: int) -> str:
    if b >= 1 << 30:
        return f"{b / (1 << 30):.2f} GiB"
    if b >= 1 << 20:
        return f"{b / (1 << 20):.1f} MiB"
    if b >= 1 << 10:
        return f"{b / (1 << 10):.0f} KiB"
    return f"{b} B"


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__.rsplit("Usage: ", 1)[1])
    sf_dir, out_md, *names = sys.argv[1:]
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # The engine session disables the UI; metrics need it. Build first so
    # get_spark's getOrCreate reuses this session (runtime confs are then
    # applied by ensure_session_confs at every load_table call).
    from pyspark.sql import SparkSession
    (SparkSession.builder.master("local[32]")
     .config("spark.ui.enabled", "true")
     .config("spark.sql.session.timeZone", "UTC")
     .getOrCreate())
    spark = get_spark("query-metrics")
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.sparkContext.uiWebUrl, "Spark UI must be enabled for metrics"

    rows = []
    _, last_id = _metrics_since(spark, -1)
    for name in names:
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        got, last_id = _metrics_since(spark, last_id)
        rows.append((name, got["scan"], got["shuffle"], got["spill"]))

    lines = [
        "# Measured query metrics",
        "",
        f"Per-query SQL-execution node metrics at `{sf_dir}` (one cold run",
        "each — volumes, not times; source: SQL REST endpoint, the same",
        "numbers as the UI's SQL tab).",
        "",
        "`shuffle/scan` is the scale-health ratio. Far below 1 = partial",
        "aggregation, broadcast dims, pruned scans. Near/above 1 is",
        "EXPECTED for: (a) window/sessionization families, whose semantics",
        "require one full keyed redistribution of the (narrow, projected)",
        "fact; (b) pair/dedup families, whose shuffles carry derived",
        "candidate keys, not source rows; (c) queries over tiny inputs,",
        "where the ratio is dominated by fixed per-row shuffle framing.",
        "What must NEVER happen is shuffle >> scan on a plain filtered",
        "aggregate — that is the lost-pushdown / lost-broadcast signature",
        "this table exists to catch.",
        "",
        "| query | scanned | shuffle write | spill | shuffle/scan |",
        "|---|---|---|---|---|",
    ]
    for name, scan, shw, spl in rows:
        ratio = f"{shw / scan:.2f}" if scan else "—"
        lines.append(f"| {name} | {_fmt(scan)} | {_fmt(shw)} | "
                     f"{_fmt(spl)} | {ratio} |")
    text = "\n".join(lines) + "\n"
    with open(out_md, "w") as f:
        f.write(text)
    print(text)


if __name__ == "__main__":
    main()
