"""Driver-side Excel writer — the reference's actual user artifact.

The reference's output surface is a styled multi-sheet workbook
(``save_report``, /root/reference/main.py:3137-4134) and in-place price
cell writes that preserve the master file's formatting
(main.py:7007-7244).  ``build_report`` (sinks/report.py) produces the
sheet DataFrames; this module is the thin driver-side shim that turns
them into an ``.xlsx`` file:

- ``write_report_xlsx``: collects the sheets concurrently, one Spark
  action per sheet (reports are small aggregates by construction — a
  hard row-cap guards the Excel format limit), and writes one workbook
  with the reference's Russian sheet names.  Uses openpyxl when
  installed; otherwise falls back to a dependency-free stdlib writer (an
  xlsx is a zip of XML parts), so the file surface works even in
  minimal environments.
- ``update_prices_inplace``: S12's formatting-preserving point writes
  into an EXISTING workbook.  Rewriting arbitrary styled workbooks
  safely requires openpyxl, so this one is environment-gated.

Everything distributed (joins, merges, audits) happens upstream in
Spark; only the final, inherently single-file serialization runs on the
driver.
"""

from __future__ import annotations

import datetime
import zipfile
from typing import Mapping
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

from mistocksync_spark.sinks.layout import parallel_actions

# reference sheet names in reference order (main.py:3137-4089)
SHEET_NAMES: dict[str, str] = {
    "summary": "Сводка",
    "matches": "Совпадения",
    "price_changes": "Изменения цен",
    "new_items": "Новые товары",
    "code_matches": "Совпадения по кодам",
    "bracket_matches": "Совпадения по кодам в скобках",
    "warnings": "Предупреждения",
    "article_changes": "Изменения артикулов",
    "price_updates": "Обновленные цены",
}

EXCEL_MAX_ROWS = 1_048_576  # xlsx sheet hard limit (incl. header)


def _col_letter(i: int) -> str:
    """1-based column index → A, B, …, Z, AA, …"""
    out = ""
    while i > 0:
        i, rem = divmod(i - 1, 26)
        out = chr(65 + rem) + out
    return out


def _cell_xml(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    if isinstance(value, (datetime.datetime, datetime.date)):
        value = value.isoformat(sep=" ") if isinstance(value, datetime.datetime) else value.isoformat()
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(str(value))}</t></is></c>'


def _sheet_xml(header: list[str], rows: list[tuple]) -> str:
    parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>']
    parts.append(
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
    )
    cells = "".join(_cell_xml(f"{_col_letter(c + 1)}1", h) for c, h in enumerate(header))
    parts.append(f'<row r="1">{cells}</row>')
    for r, row in enumerate(rows, start=2):
        cells = "".join(_cell_xml(f"{_col_letter(c + 1)}{r}", v) for c, v in enumerate(row))
        parts.append(f'<row r="{r}">{cells}</row>')
    parts.append("</sheetData></worksheet>")
    return "".join(parts)


def _write_xlsx_stdlib(path: str, sheets: list[tuple[str, list[str], list[tuple]]]) -> None:
    """Dependency-free xlsx serialization: the OPC zip with minimal parts,
    inline strings (no shared-string table), no styling."""
    n = len(sheets)
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(n)
        )
        + "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    wb_sheets = "".join(
        f'<sheet name="{escape(name)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _, _) in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(n)
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, (_, header, rows) in enumerate(sheets):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", _sheet_xml(header, rows))


def _write_xlsx_openpyxl(path: str, sheets: list[tuple[str, list[str], list[tuple]]]) -> None:
    import openpyxl
    from openpyxl.styles import Font

    wb = openpyxl.Workbook()
    wb.remove(wb.active)
    bold = Font(bold=True)
    for name, header, rows in sheets:
        ws = wb.create_sheet(title=name[:31])
        ws.append(header)
        for c in ws[1]:
            c.font = bold
        for row in rows:
            ws.append(
                tuple(
                    v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v for v in row
                )
            )
    wb.save(path)


def write_report_xlsx(
    sheets: Mapping[str, DataFrame],
    path: str,
    row_cap: int = EXCEL_MAX_ROWS - 1,
) -> str:
    """Serialize the ``build_report`` sheet dict (plus optional
    ``article_changes`` / ``price_updates`` entries) to one workbook with
    the reference's sheet names.

    Collect happens here by design: a report is a human-facing aggregate.
    Unknown keys are rejected before any job runs; the sheets are then
    collected concurrently (``parallel_actions``, one action per sheet) and
    written in ``SHEET_NAMES`` order.  ``row_cap`` fails loudly if a sheet
    exceeds the xlsx row limit — at 100 TB the fix is upstream (aggregate
    or limit the sheet query), not a bigger spreadsheet.
    """
    unknown = set(sheets) - set(SHEET_NAMES)
    if unknown:
        raise ValueError(f"unknown sheet keys: {sorted(unknown)}; expected {list(SHEET_NAMES)}")
    keys = [key for key in SHEET_NAMES if key in sheets]
    collected: dict[str, list] = {}

    def _collect(key: str):
        def run():
            collected[key] = sheets[key].limit(row_cap + 1).collect()

        return run

    parallel_actions(*(_collect(key) for key in keys))
    ordered = []
    for key in keys:
        rows = collected[key]
        if len(rows) > row_cap:
            raise ValueError(
                f"sheet {key!r} exceeds {row_cap} rows — xlsx cannot hold it; "
                "aggregate or limit the sheet query upstream"
            )
        ordered.append((SHEET_NAMES[key], list(sheets[key].columns), [tuple(r) for r in rows]))
    try:
        _write_xlsx_openpyxl(path, ordered)
    except ImportError:
        _write_xlsx_stdlib(path, ordered)
    return path


def write_duplicates_xlsx(audit: DataFrame, path: str, row_cap: int = EXCEL_MAX_ROWS - 1) -> str:
    """The reference's standalone duplicate-audit export: one workbook with
    the single sheet «Дубликаты артикулов» (main.py:8240), fed by the
    ``duplicate_audit`` operator's output."""
    rows = audit.limit(row_cap + 1).collect()
    if len(rows) > row_cap:
        raise ValueError(f"duplicate audit exceeds {row_cap} rows — xlsx cannot hold it")
    sheets = [("Дубликаты артикулов", list(audit.columns), [tuple(r) for r in rows])]
    try:
        _write_xlsx_openpyxl(path, sheets)
    except ImportError:
        _write_xlsx_stdlib(path, sheets)
    return path


def update_prices_inplace(
    path: str,
    updates: DataFrame,
    price_header: str,
    row_col: str = "row_id",
    price_col: str = "price_vitya_usd",
    header_rows: int = 1,
) -> int:
    """S12 file surface: point-write updated prices into an existing
    workbook's first sheet, preserving every other cell and all styling
    (ref main.py:7007-7244; data row = ``row_id`` + ``header_rows`` + 1).

    Requires openpyxl — rewriting arbitrary styled workbooks without it is
    not safe, so this raises ``NotImplementedError`` when absent (same
    environment-gating pattern as the media decode stub).  Returns the
    number of cells written.
    """
    try:
        import openpyxl
    except ImportError as exc:
        raise NotImplementedError(
            "update_prices_inplace requires openpyxl (not installed); "
            "use price_merge + write_report_xlsx for the dataframe surface"
        ) from exc

    rows = updates.select(row_col, price_col).collect()
    wb = openpyxl.load_workbook(path)
    ws = wb.worksheets[0]
    col_idx = None
    for c in ws[header_rows]:
        if str(c.value).strip() == price_header:
            col_idx = c.column
            break
    if col_idx is None:
        raise ValueError(f"header {price_header!r} not found in row {header_rows} of {path}")
    for r in rows:
        ws.cell(row=int(r[row_col]) + header_rows + 1, column=col_idx, value=float(r[price_col]))
    wb.save(path)
    return len(rows)
