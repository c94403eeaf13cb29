"""End-to-end pipeline: the full view dictionary materializes with sane
shapes, and the export sink writes an artifact per view."""

from __future__ import annotations

import os
import tempfile

EXPECTED_VIEWS = {
    "reporte_cxc", "movimientos_abiertos_cxc", "movimientos_cerrados_cxc",
    "movimientos_abiertos_con_pagos", "movimientos_cerrados_con_pagos",
    "por_acreditar", "registros_cancelados_cxc", "registros_totales_cxc",
    "sin_tipo_cliente", "sin_vendedor", "saldos_cliente",
    "movimientos_totales_cxc",
    "antiguedad_cartera_mxn", "antiguedad_cartera_usd",
    "antiguedad_por_cliente_mxn", "antiguedad_por_cliente_usd",
    "cartera_vencida_vs_vigente_mxn", "cartera_vencida_vs_vigente_usd",
    "resumen_concepto_cxc_mxn", "resumen_concepto_cxc_usd",
    "resumen_cancelados_cxc_mxn", "resumen_cancelados_cxc_usd",
    "resumen_ajustes_cxc_mxn", "resumen_ajustes_cxc_usd",
    "kpis_resumen", "kpis_concentracion_mxn", "kpis_concentracion_usd",
    "kpis_limite_credito_mxn", "kpis_limite_credito_usd",
    "kpis_morosidad_cliente_mxn", "kpis_morosidad_cliente_usd",
    "auditoria_nulos", "importes_atipicos", "recaudos_atipicos",
    "moras_atipicas", "resumen_auditoria", "calidad_datos",
}


def test_pipeline_views(spark, sf_dir):
    from prac_data_pipelines_spark.pipeline import run_pipeline

    views = run_pipeline(spark, sf_dir)
    assert set(views) == EXPECTED_VIEWS
    counts = {name: df.count() for name, df in views.items()}
    # z-outlier audits are legitimately empty on near-uniform synthetic data
    # (a bounded distribution caps |z| below the 3.0 threshold)
    may_be_empty = {"importes_atipicos", "recaudos_atipicos"}
    empty = {k: v for k, v in counts.items() if v == 0 and k not in may_be_empty}
    assert not empty, empty
    # balance identity: open + closed = all charges
    assert (counts["movimientos_abiertos_cxc"] + counts["movimientos_cerrados_cxc"]
            == counts["reporte_cxc"])
    # KPI summary: 3 KPIs × 2 currencies
    assert counts["kpis_resumen"] == 6


def test_pipeline_export(spark, sf_dir):
    from prac_data_pipelines_spark.pipeline import run_pipeline
    from prac_data_pipelines_spark.sinks.report import export_views

    views = run_pipeline(spark, sf_dir)
    subset = {k: views[k] for k in ("antiguedad_cartera_mxn", "kpis_resumen",
                                    "calidad_datos", "saldos_cliente")}
    with tempfile.TemporaryDirectory() as d:
        written = export_views(subset, d)
        # three-workbook reference layout: the two analysis views share
        # 02_analisis, calidad_datos goes to 00_auditoria, and the view
        # outside the reference layout lands in the catch-all workbook
        names = sorted(os.path.basename(p) for p in written)
        assert names == ["00_auditoria_cxc.xlsx", "02_analisis_cxc.xlsx",
                         "99_vistas_cxc.xlsx"]
        for p in written:
            assert os.path.exists(p) and os.path.getsize(p) > 0

        import xml.etree.ElementTree as ET
        import zipfile
        ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
        with zipfile.ZipFile(os.path.join(d, "02_analisis_cxc.xlsx")) as zf:
            root = ET.fromstring(zf.read("xl/workbook.xml"))
        sheets = [s.get("name") for s in root.findall(".//m:sheet", ns)]
        assert sheets == ["antiguedad_cartera_mxn", "kpis_resumen"]


def test_export_writes_oversized_view_as_parquet(spark, monkeypatch):
    import xml.etree.ElementTree as ET
    import zipfile

    from prac_data_pipelines_spark.sinks import report

    monkeypatch.setattr(report, "COLLECT_LIMIT", 2)
    schema = "NOMBRE string, VALOR double"
    views = {  # 2 rows fit, 3 do not
        "calidad_datos": spark.createDataFrame([("a", 1.0), ("b", 2.0)],
                                               schema),
        "kpis_resumen": spark.createDataFrame(
            [("k", float(i)) for i in range(3)], schema),
        "kpis_concentracion_mxn": spark.createDataFrame([("c", 1.0)], schema),
    }
    with tempfile.TemporaryDirectory() as d:
        written = report.export_views(views, d)
        names = sorted(os.path.basename(p) for p in written)
        assert names == ["00_auditoria_cxc.xlsx", "02_analisis_cxc.xlsx",
                         "kpis_resumen.parquet"]
        # the Parquet copy is the whole view, not the bounded collect
        full = spark.read.parquet(os.path.join(d, "kpis_resumen.parquet"))
        assert full.count() == 3
        ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
        with zipfile.ZipFile(os.path.join(d, "02_analisis_cxc.xlsx")) as zf:
            root = ET.fromstring(zf.read("xl/workbook.xml"))
        sheets = [s.get("name") for s in root.findall(".//m:sheet", ns)]
        assert sheets == ["kpis_concentracion_mxn"]
