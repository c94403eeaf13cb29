"""Driver-side report sinks.

Excel/PDF are inherently single-machine artifacts: views are collected
(after the distributed computation has reduced them to report size) and
written with plain Python. Styled multi-sheet workbooks are produced by
the vendored ``sinks.xlsx`` writer (stdlib zipfile + XML — no openpyxl
dependency), mirroring the reference's three-file export
(``/root/reference/main.py:423-508``): ``00_auditoria_cxc``,
``01_reporte_cxc``, ``02_analisis_cxc``, each with a fixed sheet order.
Large row-level views are exported as Parquet, never collected.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .xlsx import write_styled_workbook

# Views small enough to collect into a workbook; everything else → Parquet.
COLLECT_LIMIT = 100_000

# Reference main.py:439-446 (01_cxc workbook), with this repo's view names.
CXC_SHEET_ORDER = [
    "movimientos_abiertos_cxc",
    "movimientos_cerrados_cxc",
    "movimientos_totales_cxc",
    "por_acreditar",
    "registros_cancelados_cxc",
    "registros_totales_cxc",
]
# Reference main.py:468-489 (02_analisis workbook, KPI sheets merged in).
ANALISIS_SHEET_ORDER = [
    "cartera_vencida_vs_vigente_mxn",
    "cartera_vencida_vs_vigente_usd",
    "antiguedad_cartera_mxn",
    "antiguedad_cartera_usd",
    "antiguedad_por_cliente_mxn",
    "antiguedad_por_cliente_usd",
    "resumen_concepto_cxc_mxn",
    "resumen_concepto_cxc_usd",
    "resumen_cancelados_cxc_mxn",
    "resumen_cancelados_cxc_usd",
    "resumen_ajustes_cxc_mxn",
    "resumen_ajustes_cxc_usd",
    "kpis_resumen",
    "kpis_concentracion_mxn",
    "kpis_concentracion_usd",
    "kpis_limite_credito_mxn",
    "kpis_limite_credito_usd",
    "kpis_morosidad_cliente_mxn",
    "kpis_morosidad_cliente_usd",
]
# Reference main.py:498-505 (00_auditoria workbook).
AUDITORIA_SHEET_ORDER = [
    "calidad_datos",
    "importes_atipicos",
    "recaudos_atipicos",
    "moras_atipicas",
    "sin_tipo_cliente",
    "sin_vendedor",
]
WORKBOOKS = [
    ("00_auditoria_cxc.xlsx", AUDITORIA_SHEET_ORDER),
    ("01_reporte_cxc.xlsx", CXC_SHEET_ORDER),
    ("02_analisis_cxc.xlsx", ANALISIS_SHEET_ORDER),
]
# Reference PESTANAS_PROTEGIDAS (main.py:103) + COLUMNAS_CALCULADAS_CXC
# (main.py:140-145), mapped to this repo's z-score column names.
PROTECTED_SHEETS = {"registros_totales_cxc"}
CALC_COLS_CXC = {
    "SALDO_FACTURA", "SALDO_CLIENTE",
    "DELTA_RECAUDO", "Z_RECAUDO", "ES_ATIPICO_RECAUDO",
    "DELTA_MORA", "Z_MORA", "ES_ATIPICO_MORA",
    "Z_IMPORTE", "ES_ATIPICO_IMPORTE",
}
CALC_COLS_BY_SHEET = {"movimientos_totales_cxc": CALC_COLS_CXC}


def export_views(views: dict[str, DataFrame], out_dir: str) -> list[str]:
    """Export a view dictionary: report-sized views into the reference's
    three styled workbooks (plus one catch-all workbook for views outside
    the reference layout), oversized views as Parquet.

    Each view is collected once, bounded at ``COLLECT_LIMIT + 1`` rows; a
    view over the limit is written as Parquet instead of a sheet. Views
    are collected one workbook at a time, so at most one workbook's frames
    are in memory at once."""
    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []

    def collect_sheets(names) -> list[tuple[str, object]]:
        sheets = []
        for name in names:
            df = views[name]
            pdf = df.limit(COLLECT_LIMIT + 1).toPandas()
            if len(pdf) > COLLECT_LIMIT:
                path = os.path.join(out_dir, f"{name}.parquet")
                df.write.mode("overwrite").parquet(path)
                written.append(path)
            else:
                sheets.append((name, pdf))
        return sheets

    for fname, order in WORKBOOKS:
        sheets = collect_sheets(n for n in order if n in views)
        if not sheets:
            continue
        path = os.path.join(out_dir, fname)
        write_styled_workbook(path, sheets,
                              protected_sheets=PROTECTED_SHEETS,
                              calc_cols_by_sheet=CALC_COLS_BY_SHEET)
        written.append(path)

    assigned = {n for _, order in WORKBOOKS for n in order}
    rest = collect_sheets(n for n in views if n not in assigned)
    rest = [(n, pdf) for n, pdf in rest if not pdf.empty]
    if rest:
        path = os.path.join(out_dir, "99_vistas_cxc.xlsx")
        write_styled_workbook(path, rest)
        written.append(path)
    return written
