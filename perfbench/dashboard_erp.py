"""Workload ``dashboard_erp``: one analyst browsing the CxC dashboard and
exporting the report.

Set-up builds the views with ``pipeline.run_pipeline``, starts
``sinks.dashboard.serve_dashboard`` on an ephemeral localhost port and
requests the landing page without filters.  The timed phase is a
closed loop with one client: it starts the next operation only after the
previous one has finished, in whole cycles (passes) until ``seconds`` have
elapsed.

A cycle requests each page once with new filters, repeats one of those
(page, filters) pairs, which the dashboard's result cache answers without a
Spark job, exports the report on ``REPORT_VIEWS`` (``sinks.report.export_views``
writing the workbooks with ``sinks.xlsx``, then
``sinks.pdf.export_pdf_report``) into a fresh directory, and ends with
``/refresh``, which empties the cache.  Each page always gets the same
filter kinds (cliente, vendedor, buscar, mora, solo_saldo, alone or in
pairs); the seed draws their values from the views' distinct values, read
from the filter form of the landing page, and the pair each cycle
repeats.  The export runs in the client's process on the same views the
dashboard serves, unfiltered, so it is the same work in every cycle.

One client only: ``Dashboard.render`` keeps each request's filters on the
shared instance and ``ThreadingHTTPServer`` serves requests on concurrent
threads, so concurrent clients can receive pages built with another
request's filters (see README.md).
"""

from __future__ import annotations

import hashlib
import html
import http.client
import json
import os
import random
import re
import statistics
import sys
import time
import urllib.parse
import zipfile

from tracing import span

import prac_data_pipelines_spark.sinks.report as report
from prac_data_pipelines_spark.pipeline import run_pipeline
from prac_data_pipelines_spark.sinks.dashboard import PAGES, serve_dashboard
from prac_data_pipelines_spark.sinks.pdf import export_pdf_report

HERE = os.path.dirname(os.path.abspath(__file__))
PAGE_NAMES = [p for p, _ in PAGES]
# The page the analyst opens first, in set-up; its filter form lists the
# filter values the cycles draw from.
LANDING_PAGE = "resumen"
# Views the cycle's report export writes: the KPI summary and the ABC
# concentration, aging and overdue-versus-current portfolio views the
# dashboard's pages show (sheets of 02_analisis_cxc.xlsx; a PDF page of each
# chart kind), and the audit list of active rows without a salesperson
# (00_auditoria_cxc.xlsx, the export's row-heavy sheet; a PDF table page).
REPORT_VIEWS = ("kpis_resumen", "kpis_concentracion_mxn",
                "antiguedad_cartera_mxn", "cartera_vencida_vs_vigente_mxn",
                "sin_vendedor")
PDF_NAME = "cxc_dashboard.pdf"
# The report manifest (file, sheet names and row counts, PDF pages) the
# seed code writes from the generated tables.
EXPECTED_REPORT = os.path.join(HERE, "expected", "dashboard_report.json")
VENDEDORES = [f"VEND-{i}" for i in range(5)]
# Filter kinds each page gets in every cycle, so that every cycle (and so
# every run, whether one or more cycles fit in it) has the same make-up.
FILTER_KINDS = {
    "resumen": ("cliente",),
    "cartera": ("mora",),
    "clientes": ("buscar", "solo_saldo"),
    "kpis": ("vendedor",),
    "auditoria": ("vendedor", "mora"),
}


def _get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _path(page: str, filters: dict[str, list[str]]) -> str:
    query = urllib.parse.urlencode(filters, doseq=True)
    return f"/{page}?{query}" if query else f"/{page}"


def filter_domains(pages_html: list[str]) -> tuple[list[str], list[str]]:
    """Client names and aging categories offered by the filter form."""
    clientes, moras = set(), set()
    for body in pages_html:
        for dl in re.findall(r'<datalist id="dl_clientes">(.*?)</datalist>', body):
            clientes.update(re.findall(r'<option value="([^"]*)"', dl))
        for sel in re.findall(r'<select name="mora"[^>]*>(.*?)</select>', body):
            moras.update(re.findall(r'<option value="([^"]*)"', sel))
    return (sorted(html.unescape(c) for c in clientes),
            sorted(html.unescape(m) for m in moras))


def _filters(rng: random.Random, kinds: tuple[str, ...], clientes: list[str],
             moras: list[str]) -> dict[str, list[str]]:
    filters: dict[str, list[str]] = {}
    for kind in kinds:
        if kind == "cliente":
            filters["cliente"] = [rng.choice(clientes)]
        elif kind == "vendedor":
            filters["vendedor"] = [rng.choice(VENDEDORES)]
        elif kind == "buscar":
            filters["buscar"] = [rng.choice(clientes)[-3:].lower()]
        elif kind == "mora" and moras:
            filters["mora"] = [rng.choice(moras)]
        elif kind == "solo_saldo":
            filters["solo_saldo"] = ["1"]
    return filters


def request_cycle(rng: random.Random, clientes: list[str],
                  moras: list[str]) -> list[tuple[str, dict | None]]:
    """One cycle of operations: each page once with new filters of the kinds
    ``FILTER_KINDS`` gives it, a repeat of one of them, the report export,
    then ``/refresh``.  The seed draws the filter values and the repeated
    pair."""
    new = [(page, _filters(rng, FILTER_KINDS[page], clientes, moras))
           for page in PAGE_NAMES]
    return new + [rng.choice(new), ("report", None), ("refresh", None)]


def _form_state(body: str) -> dict:
    form = re.search(r'<form method="get" [^>]*class="filters">(.*?)</form>', body)
    if form is None:
        return {}
    f = form.group(1)

    def value(name: str) -> str:
        m = re.search(rf'<input name="{name}" value="([^"]*)"', f)
        return html.unescape(m.group(1)) if m else None

    return {
        "buscar": value("buscar"), "cliente": value("cliente"),
        "vendedor": value("vendedor"),
        "solo_saldo": bool(re.search(r'name="solo_saldo" value="1" checked', f)),
        "mora": sorted(html.unescape(v) for v in
                       re.findall(r'<option value="([^"]*)" selected>', f)),
    }


def echo_errors(filters: dict[str, list[str]], body: str) -> list[str]:
    """Differences between the request's filters and the form it got back."""
    want = {
        "buscar": (filters.get("buscar") or [""])[0],
        "cliente": (filters.get("cliente") or [""])[0],
        "vendedor": (filters.get("vendedor") or [""])[0],
        "solo_saldo": bool(filters.get("solo_saldo")),
        "mora": sorted(filters.get("mora") or []),
    }
    got = _form_state(body)
    return [f"{k}: sent {v!r}, form shows {got.get(k)!r}"
            for k, v in want.items() if got.get(k) != v]


def report_manifest(out_dir: str) -> dict:
    """file -> [[sheet, data rows], ...] read back from each workbook, and
    the PDF's page count."""
    manifest: dict = {}
    for fname in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, fname)
        if fname.endswith(".pdf"):
            with open(path, "rb") as f:
                manifest[fname] = f.read().count(b"/Type /Page /Parent")
            continue
        with zipfile.ZipFile(path) as zf:
            book = zf.read("xl/workbook.xml").decode()
            manifest[fname] = [
                [html.unescape(name),
                 zf.read(f"xl/worksheets/sheet{i}.xml").decode().count("<row ") - 1]
                for i, name in enumerate(
                    re.findall(r'<sheet name="([^"]*)"', book), 1)]
    return manifest


def setup(spark, data_dir: str, out_dir: str, tracer) -> dict:
    with span(tracer, "pipeline.run_pipeline"):
        views = run_pipeline(spark, data_dir)
    server, port = serve_dashboard(views, 0)
    status, body = _get(port, f"/{LANDING_PAGE}")
    if status != 200:
        close({"server": server})
        raise RuntimeError(f"set-up request /{LANDING_PAGE} returned {status}")
    clientes, moras = filter_domains([body.decode()])
    return {"server": server, "port": port, "clientes": clientes,
            "moras": moras, "out_dir": out_dir, "exports": 0,
            "report_views": {n: views[n] for n in REPORT_VIEWS}}


def close(state: dict) -> None:
    state["server"].shutdown()
    state["server"].server_close()


def _export(state: dict, tracer) -> str:
    out = os.path.join(state["out_dir"], f"report{state['exports']}")
    state["exports"] += 1
    write = report.write_styled_workbook
    if tracer is not None:
        report.write_styled_workbook = tracer.wrap(
            "sinks.xlsx.write_styled_workbook", write)
    try:
        with span(tracer, "sinks.report.export_views"):
            report.export_views(state["report_views"], out)
    finally:
        report.write_styled_workbook = write
    with span(tracer, "sinks.pdf.export_pdf_report"):
        export_pdf_report(state["report_views"], os.path.join(out, PDF_NAME))
    return out


def one_pass(state: dict, rng: random.Random, tracer, log: list[dict]) -> None:
    for page, filters in request_cycle(rng, state["clientes"], state["moras"]):
        entry = {"op": page, "page": page, "filters": filters}
        t = time.perf_counter()
        try:
            if page == "report":
                entry["dir"] = _export(state, tracer)
            else:
                entry["path"] = ("/refresh" if page == "refresh"
                                 else _path(page, filters))
                with span(tracer, "sinks.dashboard.request", page=page):
                    entry["status"], entry["body"] = _get(state["port"],
                                                          entry["path"])
        except Exception as e:  # noqa: BLE001 - a failed operation is counted
            entry["error"] = f"{page}: {e!r}"
        entry["ms"] = (time.perf_counter() - t) * 1000.0
        log.append(entry)


def check(state: dict, log: list[dict]) -> int:
    """Count failed operations: a page with a wrong status, a filter form
    that does not echo the request's own filters, or a repeated request
    whose HTML differs; a report whose manifest differs from the recorded
    one."""
    with open(EXPECTED_REPORT) as f:
        expected = json.load(f)
    failed = 0
    first_body: dict[str, str] = {}
    for entry in log:
        errors = []
        if entry.get("error"):
            errors.append(entry["error"])
        elif entry["page"] == "report":
            got = report_manifest(entry["dir"])
            if got != expected:
                errors.append(f"report manifest {got} != recorded {expected}")
        elif entry["page"] == "refresh":
            if entry["status"] != 303:
                errors.append(f"/refresh returned {entry['status']}")
        elif entry["status"] != 200:
            errors.append(f"{entry['path']} returned {entry['status']}")
        else:
            body = entry["body"].decode()
            errors += echo_errors(entry["filters"], body)
            digest = hashlib.sha256(entry["body"]).hexdigest()
            if first_body.setdefault(entry["path"], digest) != digest:
                errors.append(f"{entry['path']}: repeated request returned "
                              "different HTML")
        if errors:
            failed += 1
            print(f"dashboard_erp check: {'; '.join(errors)}", file=sys.stderr)
    return failed


def layers(tracer, log: list[dict]) -> dict[str, float]:
    spans = [s for s in tracer.named("sinks.dashboard.request")
             if s["page"] != "refresh"]
    pages = [e for e in log if e["page"] in PAGE_NAMES and "error" not in e]
    exports = [e for e in log if e["page"] == "report" and "error" not in e]
    n = len(exports)
    out = {
        "pipeline.run_pipeline_s": tracer.total("pipeline.run_pipeline"),
        "sinks.dashboard.jobs_per_request":
            sum(s["spark_jobs"] for s in spans) / len(spans),
        "sinks.dashboard.cache_hit_ratio":
            sum(s["spark_jobs"] == 0 for s in spans) / len(spans),
        "sinks.dashboard.html_bytes":
            statistics.fmean(len(e["body"]) for e in pages),
        "sinks.report.export_views_s":
            tracer.total("sinks.report.export_views") / n,
        "sinks.report.jobs_per_view":
            tracer.total("sinks.report.export_views", "spark_jobs")
            / (n * len(REPORT_VIEWS)),
        "sinks.report.bytes_written": statistics.median(
            sum(os.path.getsize(os.path.join(e["dir"], f))
                for f in os.listdir(e["dir"]) if f != PDF_NAME)
            for e in exports),
        "sinks.xlsx.write_styled_workbook_s":
            tracer.total("sinks.xlsx.write_styled_workbook") / n,
        "sinks.pdf.export_pdf_report_s":
            tracer.total("sinks.pdf.export_pdf_report") / n,
    }
    for page in PAGE_NAMES:
        ms = [(s["end"] - s["start"]) * 1000.0 for s in spans
              if s["page"] == page]
        out[f"sinks.dashboard.page_{page}_p50_ms"] = statistics.median(ms)
    return out
