"""Excel writer shim (S11/S12 file surface)."""

import zipfile

import pytest

try:
    import openpyxl  # noqa: F401

    HAVE_OPENPYXL = True
except ImportError:
    HAVE_OPENPYXL = False


def _report_sheets(spark):
    """Tiny stand-ins with the real sheet keys — sheet assembly itself is
    oracle-checked via the report_*_sheet queries; this exercises the file
    serialization."""
    mk = spark.createDataFrame
    return {
        "summary": mk([(10, 7, 3, 70.0)], "supplier_total long, matches long, new_items long, match_rate double"),
        "matches": mk([("A1", "Phone X", 10.0, 9.0)], "article string, name string, supplier_price double, base_price double"),
        "price_changes": mk([("A1", 11.1)], "article string, price_change_percent double"),
        "new_items": mk([("B2", 5.0, "Gadget <& > 'quote'")], "article string, price double, name string"),
        "code_matches": mk([("C3", "n1", "n2")], "code string, supplier_name string, base_name string"),
        "bracket_matches": mk([("D4", "m1", "m2")], "code string, supplier_name string, base_name string"),
        "warnings": mk([("A1", 25.5)], "article string, price_change_percent double"),
        "article_changes": mk([(3, "article_dimi", None, "X9", "added")], "base_row long, column string, old_value string, new_value string, action string"),
        "price_updates": mk([("A1", 2)], "article string, base_row long"),
    }


def test_write_report_xlsx_nine_sheets(spark, tmp_path):
    from mistocksync_spark.sinks.excel import SHEET_NAMES, write_report_xlsx

    path = str(tmp_path / "report.xlsx")
    write_report_xlsx(_report_sheets(spark), path)

    with zipfile.ZipFile(path) as z:
        wb = z.read("xl/workbook.xml").decode("utf-8")
        for title in SHEET_NAMES.values():
            assert f'name="{title}"' in wb
        # Сводка is sheet1: spot-check header + the numeric summary row
        s1 = z.read("xl/worksheets/sheet1.xml").decode("utf-8")
        assert "supplier_total" in s1 and "<v>10</v>" in s1 and "<v>70.0</v>" in s1
        # Новые товары is sheet4: XML-escaped string cell round-trips
        s4 = z.read("xl/worksheets/sheet4.xml").decode("utf-8")
        assert "Gadget &lt;&amp; &gt; 'quote'" in s4


def test_write_report_xlsx_end_to_end_from_cascade(spark, sf_dir, tmp_path):
    """Full pipeline to file: cascade -> build_report -> workbook; sheet
    row counts in the XML match the DataFrames."""
    import re

    from mistocksync_spark.plans.queries import _cascade, _preprocess_vitya, base_feed, supplier_feed
    from mistocksync_spark.sinks.excel import write_report_xlsx
    from mistocksync_spark.sinks.report import build_report

    sheets = build_report(
        _cascade(spark, sf_dir),
        base_feed(spark, sf_dir),
        _preprocess_vitya(supplier_feed(spark, sf_dir)),
        supplier_article="article_vitya",
    )
    path = str(tmp_path / "report.xlsx")
    write_report_xlsx(sheets, path)

    with zipfile.ZipFile(path) as z:
        wb = z.read("xl/workbook.xml").decode("utf-8")
        order = re.findall(r'name="([^"]+)" sheetId="(\d+)"', wb)
        names = {n: int(i) for n, i in order}
        assert "Сводка" in names and "Совпадения" in names
        matches_rows = sheets["matches"].count()
        sheet_xml = z.read(f"xl/worksheets/sheet{names['Совпадения']}.xml").decode("utf-8")
        assert sheet_xml.count("<row ") == matches_rows + 1  # + header


def test_write_report_xlsx_rejects_unknown_and_oversize(spark, tmp_path, job_group):
    from mistocksync_spark.sinks.excel import write_report_xlsx

    mk = spark.createDataFrame
    # an unknown key is rejected before any sheet job runs
    sheets = {"summary": mk([(1,)], "x long"), "bogus": mk([(1,)], "x long")}
    with job_group("report:unknown") as ids:
        with pytest.raises(ValueError, match="unknown sheet keys"):
            write_report_xlsx(sheets, str(tmp_path / "a.xlsx"))
    assert ids == []
    assert not (tmp_path / "a.xlsx").exists()
    with pytest.raises(ValueError, match="exceeds"):
        write_report_xlsx(
            {"summary": mk([(i,) for i in range(5)], "x long")},
            str(tmp_path / "b.xlsx"),
            row_cap=3,
        )


def test_write_report_xlsx_failed_sheets_raise_in_sheet_order(spark, tmp_path, job_group):
    """Two sheets fail at collect while the others succeed: the first
    failing sheet in ``SHEET_NAMES`` order raises, the other failure rides
    along as a note, no job is left running and no file is written."""
    from pyspark.sql import functions as F

    from mistocksync_spark.sinks.excel import write_report_xlsx

    def failing(tag):
        return spark.range(5).select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit(f"{tag} sheet failed"))).alias("x")
        )

    sheets = _report_sheets(spark)
    sheets["warnings"] = failing("warnings")
    sheets["matches"] = failing("matches")
    path = tmp_path / "failed.xlsx"
    with job_group("report:failed") as ids:
        with pytest.raises(Exception, match="matches sheet failed") as err:
            write_report_xlsx(sheets, str(path))
    assert any("warnings sheet failed" in note for note in err.value.__notes__)
    assert len(ids) >= len(sheets)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert not path.exists()


def test_write_report_xlsx_concurrent_collect_matches_sequential(spark, sf_dir, tmp_path):
    """Sheets built straight from a fresh cascade share its lazy
    checkpoints, which nothing has materialized yet; collected
    concurrently they give the rows a sequential collect of a second,
    independent cascade gives."""
    from collections import Counter

    from mistocksync_spark.operators.cascade import perform_comparison
    from mistocksync_spark.plans.queries import _preprocess_vitya, base_feed, supplier_feed
    from mistocksync_spark.sinks.excel import SHEET_NAMES, write_report_xlsx
    from mistocksync_spark.sinks.report import build_report
    from mistocksync_spark.sources.reader import _read_xlsx_stdlib

    def report():
        sup = _preprocess_vitya(supplier_feed(spark, sf_dir))
        base = base_feed(spark, sf_dir)
        result = perform_comparison(
            sup,
            base,
            supplier_article="article_vitya",
            supplier_price="price_usd",
            base_article="article_vitya",
            base_price="price_vitya_usd",
        )
        return build_report(result, base, sup, supplier_article="article_vitya")

    path = str(tmp_path / "report.xlsx")
    write_report_xlsx(report(), path)
    expected = {key: df.collect() for key, df in report().items()}
    for i, key in enumerate(k for k in SHEET_NAMES if k in expected):
        header, *rows = _read_xlsx_stdlib(path, sheet=i)
        got = Counter(tuple((r + [None] * len(header))[: len(header)]) for r in rows)
        assert got == Counter(tuple(r) for r in expected[key]), key


def test_write_duplicates_xlsx(spark, tmp_path):
    from mistocksync_spark.sinks.excel import write_duplicates_xlsx

    audit = spark.createDataFrame(
        [("100", 2, 3, 7)], "value string, occurrences long, first_row long, last_row long"
    )
    path = str(tmp_path / "dups.xlsx")
    write_duplicates_xlsx(audit, path)
    with zipfile.ZipFile(path) as z:
        assert 'name="Дубликаты артикулов"' in z.read("xl/workbook.xml").decode("utf-8")
        s1 = z.read("xl/worksheets/sheet1.xml").decode("utf-8")
        assert "occurrences" in s1 and "<v>2</v>" in s1


@pytest.mark.skipif(HAVE_OPENPYXL, reason="openpyxl installed — gate inactive")
def test_update_prices_inplace_gated_without_openpyxl(spark, tmp_path):
    from mistocksync_spark.sinks.excel import update_prices_inplace

    df = spark.createDataFrame([(1, 9.99)], "row_id long, price_vitya_usd double")
    with pytest.raises(NotImplementedError, match="openpyxl"):
        update_prices_inplace(str(tmp_path / "x.xlsx"), df, "price")


@pytest.mark.skipif(not HAVE_OPENPYXL, reason="openpyxl not installed")
def test_update_prices_inplace_writes_cells(spark, tmp_path):
    import openpyxl

    from mistocksync_spark.sinks.excel import update_prices_inplace

    path = str(tmp_path / "master.xlsx")
    wb = openpyxl.Workbook()
    ws = wb.active
    ws.append(["name", "price_vitya_usd"])
    ws.append(["item-0", 1.0])
    ws.append(["item-1", 2.0])
    wb.save(path)

    df = spark.createDataFrame([(1, 9.99)], "row_id long, price_vitya_usd double")
    n = update_prices_inplace(path, df, "price_vitya_usd")
    assert n == 1
    ws2 = openpyxl.load_workbook(path).active
    assert ws2.cell(row=3, column=2).value == 9.99  # row_id 1 -> data row 3
    assert ws2.cell(row=2, column=2).value == 1.0  # untouched
