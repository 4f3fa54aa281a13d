"""Tests for the config-driven reader (S1-S9), mutation sinks (S10, S12-S15),
report assembly (S11/J6), and the C11 supplier→base mapping."""

import json
import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- reader
@pytest.fixture()
def cfg_dir(tmp_path):
    cfg = {
        "column_mapping": {"Артикул": "article", "Цена": "price", "Unnamed: 3": "price_usd"},
        "ignore_columns": ["junk", "Номер"],
        "data_types": {"article": "int", "price": "float", "name": "string"},
        "validation": {"required_columns": ["article", "price"], "price_range": {"price": {"min": 0.1, "max": 1000}}},
        "settings": {"skip_empty_rows": True},
    }
    with open(tmp_path / "custom_config.json", "w", encoding="utf-8") as f:
        json.dump(cfg, f, ensure_ascii=False)
    return str(tmp_path)


def test_reader_apply_config_pipeline(spark, cfg_dir):
    from mistocksync_spark.sources.reader import SourceConfig, apply_config

    cfg = SourceConfig.load("custom", config_dir=cfg_dir)
    df = spark.createDataFrame(
        [
            ("1", "10.5", "x", "drop-me"),
            ("007", "bad", "y", "drop"),
            (None, None, None, None),
        ],
        ["Артикул", "Цена", "name", "my_junk_col"],
    )
    out = apply_config(df, cfg)
    assert set(out.columns) == {"article", "price", "name"}  # mapped + junk dropped
    rows = {r.article: r for r in out.collect()}
    # cast coercion: "007" -> 7, "bad" -> null; all-null row dropped
    assert set(rows) == {1, 7}
    assert rows[1].price == 10.5
    assert rows[7].price is None
    assert dict(out.dtypes)["article"] == "bigint"


def test_reader_required_column_failure(spark, cfg_dir):
    from mistocksync_spark.sources.reader import SourceConfig, apply_config

    cfg = SourceConfig.load("custom", config_dir=cfg_dir)
    df = spark.createDataFrame([("x",)], ["name"])
    with pytest.raises(ValueError, match="required"):
        apply_config(df, cfg)


def test_apply_config_submits_no_job(spark, cfg_dir, job_group):
    """The required-column check reads only the schema: ``apply_config``
    runs no Spark action, and a missing column still fails the read."""
    from mistocksync_spark.sources.reader import SourceConfig, apply_config

    cfg = SourceConfig.load("custom", config_dir=cfg_dir)
    df = spark.createDataFrame([("1", "10.5", "x")], ["Артикул", "Цена", "name"])
    missing = spark.createDataFrame([("x",)], ["name"])
    with job_group("apply_config") as ids:
        apply_config(df, cfg)
        with pytest.raises(ValueError, match="required"):
            apply_config(missing, cfg)
    assert ids == []


def test_validate_counts_out_of_range_prices(spark):
    """S6 on demand: ``validate`` counts non-null prices outside
    [price_min, price_max] per ``price*`` column and omits clean columns."""
    from mistocksync_spark.sources.reader import SourceConfig, validate

    cfg = SourceConfig(name="t", required_columns=["article"], price_min=0.1, price_max=1000.0)
    df = spark.createDataFrame(
        [(1, -1.0, 0.5, 1.0), (2, 5.0, 0.05, 2.0), (3, 2000.0, None, 3.0), (4, None, 1000.0, 4.0)],
        "article long, price double, price_usd double, price_rub double",
    )
    assert validate(df, cfg) == {
        "ok": True,
        "price_range_warnings": {"price": 2, "price_usd": 1},
    }
    with pytest.raises(ValueError, match="required"):
        validate(df.drop("article"), cfg)


def test_read_excel_stdlib_plans_a_local_relation(spark, cfg_dir, tmp_path, monkeypatch):
    """The stdlib branch hands Spark an Arrow table, so every leaf of the
    analyzed plan is a ``LocalRelation``: recomputing the list starts no
    Python worker (a list of tuples plans as a pickled ``LogicalRDD``)."""
    import sys

    from mistocksync_spark.sinks.excel import _write_xlsx_stdlib
    from mistocksync_spark.sources.reader import SourceConfig, read_excel

    monkeypatch.setitem(sys.modules, "openpyxl", None)  # force the stdlib branch
    path = str(tmp_path / "list.xlsx")
    _write_xlsx_stdlib(
        path,
        [("Лист1", ["Артикул", "Цена", "name", "flag"], [(1, 10.5, "Повербанк", True), (7, 20, None, False)])],
    )
    out = read_excel(spark, path, SourceConfig.load("custom", config_dir=cfg_dir))
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    names = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
    assert names == {"LocalRelation"}
    assert dict(out.dtypes) == {"article": "bigint", "price": "double", "name": "string", "flag": "boolean"}
    assert sorted(tuple(r) for r in out.collect()) == [(1, 10.5, "Повербанк", True), (7, 20.0, None, False)]


def test_read_excel_stdlib_roundtrip(spark, cfg_dir, tmp_path):
    """Writer → reader round trip with no openpyxl: the stdlib xlsx writer
    (sinks/excel.py) produces a file the stdlib reader path parses."""
    from mistocksync_spark.sinks.excel import _write_xlsx_stdlib
    from mistocksync_spark.sources.reader import SourceConfig, read_excel

    path = str(tmp_path / "feed.xlsx")
    _write_xlsx_stdlib(
        path,
        [
            (
                "Лист1",
                ["Артикул", "Цена", "name"],
                [(1, 10.5, "Повербанк"), (7, 20.0, "Кабель")],
            )
        ],
    )
    cfg = SourceConfig.load("custom", config_dir=cfg_dir)
    out = {r.article: r for r in read_excel(spark, path, cfg).collect()}
    assert set(out) == {1, 7}
    assert out[1].price == 10.5 and out[1].name == "Повербанк"


def test_read_excel_stdlib_repeated_and_blank_headers(spark, tmp_path):
    """A header row that repeats a name and has an empty cell reads like
    pandas reads it: ``a, a.1`` for the repeat, ``col_{i}`` for the empty
    cell.
    Repeated names used to make ``drop_empty_rows`` fail with
    AMBIGUOUS_REFERENCE."""
    from mistocksync_spark.sinks.excel import _write_xlsx_stdlib
    from mistocksync_spark.sources.reader import SourceConfig, read_excel

    with open(tmp_path / "dups_config.json", "w", encoding="utf-8") as f:
        json.dump({"settings": {"skip_empty_rows": True}}, f)
    path = str(tmp_path / "dups.xlsx")
    rows = [(1, 2, "x", 3.5, "p"), (4, 5, "y", 6.5, "q"), (7, None, None, None, "r")]
    _write_xlsx_stdlib(path, [("Лист1", ["a", "a", "", "b", "c"], rows)])
    out = read_excel(spark, path, SourceConfig.load("dups", config_dir=str(tmp_path)))
    assert out.columns == ["a", "a.1", "col_2", "b", "c"]
    assert sorted(tuple(r) for r in out.collect()) == sorted(rows)
    # a whitespace header is a name, as pandas reads it (dimi_config maps " ")
    _write_xlsx_stdlib(path, [("Лист1", [" ", "x"], [("k", 1)])])
    out = read_excel(spark, path, SourceConfig.load("dups", config_dir=str(tmp_path)))
    assert out.columns == [" ", "x"]


def test_read_json_source(spark, cfg_dir, tmp_path):
    from mistocksync_spark.sources.reader import SourceConfig, read_json

    path = str(tmp_path / "feed.json")
    with open(path, "w", encoding="utf-8") as f:
        f.write('{"Артикул": "1", "Цена": "10.5", "name": "x"}\n')
        f.write('{"Артикул": "007", "Цена": "bad", "name": "y"}\n')
    cfg = SourceConfig.load("custom", config_dir=cfg_dir)
    out = {r.article: r for r in read_json(spark, path, cfg).collect()}
    assert set(out) == {1, 7} and out[7].price is None


def test_reader_detect_config_by_filename():
    from mistocksync_spark.sources.reader import detect_config_by_filename

    assert detect_config_by_filename("/a/JHT_Xiaomi_31.07.xlsx") == "vitya"
    assert detect_config_by_filename("DiMi_Opt_Price.xlsx") == "dimi"
    assert detect_config_by_filename("base_ОСНОВА 30.07.xlsx") == "base"
    assert detect_config_by_filename("something.xlsx") == "auto"


def test_reader_largest_file(spark, tmp_path, cfg_dir):
    from mistocksync_spark.sources.reader import SourceConfig, load_largest_file

    cfg = SourceConfig(name="custom")
    small = spark.createDataFrame([(1, "a")], ["article", "name"])
    big = spark.createDataFrame([(i, f"n{i}") for i in range(500)], ["article", "name"])
    small.toPandas().to_csv(tmp_path / "small.csv", index=False)
    big.toPandas().to_csv(tmp_path / "big.csv", index=False)
    df, path = load_largest_file(spark, str(tmp_path), cfg)
    assert os.path.basename(path) == "big.csv"
    assert df.count() == 500


# ---------------------------------------------------------------- C11
def test_map_supplier_to_base_slots(spark):
    from mistocksync_spark.functions.mapping import map_supplier_to_base

    df = spark.createDataFrame([("Cable", "123", 9.5)], ["name", "article", "price"])
    out = map_supplier_to_base(df, "dimi").collect()[0]
    assert out.article == "123" and out.article_dimi == "123"
    assert out.price == 9.5 and out.price_dimi_usd == 9.5
    assert out.supplier == "Дима" and out.quantity == 0
    vit = map_supplier_to_base(df, "vitya").columns
    assert "article_vitya" in vit and "price_vitya_usd" in vit


# ---------------------------------------------------------------- sinks
def _base(spark):
    return spark.createDataFrame(
        [(1, 1, "a", 10.0, "100"), (2, 2, "b", 20.0, None), (3, 3, "c", 0.0, "nan")],
        "row_id long, article long, name string, price_vitya_usd double, article_vitya string",
    )


def test_price_merge_epsilon_and_null_old(spark):
    from mistocksync_spark.sinks.mutate import price_merge

    updates = spark.createDataFrame(
        [("1", 10.0005), ("2", 21.0), ("9", 5.0)], "article string, new_price double"
    )
    out = {r.row_id: r for r in price_merge(_base(spark), updates, base_article="article").collect()}
    assert out[1].price_vitya_usd == 10.0 and not out[1].updated  # |Δ| < 0.001 skipped
    assert out[2].price_vitya_usd == 21.0 and out[2].updated  # null old read as 0.0? no: old=20
    assert out[3].price_vitya_usd == 0.0 and not out[3].updated  # no update row


def test_snapshot_diff_change_kinds(spark):
    from mistocksync_spark.sinks.mutate import snapshot_diff

    before = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "row_id long, name string, price double",
    )
    after = spark.createDataFrame(
        [(1, "a", 11.0), (2, "b", 20.0), (4, "d", 40.0)],
        "row_id long, name string, price double",
    )
    got = {(r.row_id, r.column): (r.old_value, r.new_value, r.change)
           for r in snapshot_diff(before, after).collect()}
    assert got[(1, "price")] == ("10.0", "11.0", "changed")
    assert got[(3, "name")] == ("c", None, "removed")
    assert got[(4, "price")] == (None, "40.0", "added")
    assert (2, "price") not in got and (2, "name") not in got  # unchanged


def test_price_merge_approved_keys_restrict(spark):
    from mistocksync_spark.sinks.mutate import price_merge

    updates = spark.createDataFrame(
        [("1", 99.0), ("2", 21.0)], "article string, new_price double"
    )
    out = {
        r.row_id: r
        for r in price_merge(
            _base(spark), updates, base_article="article", approved=["2"]
        ).collect()
    }
    assert not out[1].updated and out[1].price_vitya_usd == 10.0  # not approved
    assert out[2].updated and out[2].price_vitya_usd == 21.0

    approved_df = spark.createDataFrame([("1",)], ["article"])
    out2 = {
        r.row_id: r
        for r in price_merge(
            _base(spark), updates, base_article="article", approved=approved_df
        ).collect()
    }
    assert out2[1].updated and not out2[2].updated


def test_article_writeback_actions(spark):
    from mistocksync_spark.sinks.mutate import article_writeback

    matches = spark.createDataFrame(
        [(1, "100"), (2, "222"), (3, "333")], "base_index long, supplier_article string"
    )
    r = article_writeback(_base(spark), matches, article_slot="article_vitya")
    audit = {a.base_row: a.action for a in r["audit"].collect()}
    # row 1 occupied with same value -> noop; row 2 empty(null) -> added;
    # row 3 'nan' sentinel counts as empty -> added
    assert audit == {1: "noop", 2: "added", 3: "added"}
    upd = {u.row_id: u.article_vitya for u in r["updated"].collect()}
    assert upd == {1: "100", 2: "222", 3: "333"}


def test_article_writeback_skip_occupied(spark):
    from mistocksync_spark.sinks.mutate import article_writeback

    matches = spark.createDataFrame([(1, "999")], "base_index long, supplier_article string")
    r = article_writeback(_base(spark), matches, article_slot="article_vitya")
    audit = r["audit"].collect()
    assert audit[0].action == "skipped_occupied"
    upd = {u.row_id: u.article_vitya for u in r["updated"].collect()}
    assert upd[1] == "100"  # unchanged


def test_row_insert_autonumber_sequence(spark):
    from mistocksync_spark.sinks.mutate import row_insert_autonumber

    new = spark.createDataFrame(
        [(30, "z"), (10, "x"), (20, "y")], "supplier_index long, name string"
    )
    out = {r.name: r.new_article for r in row_insert_autonumber(_base(spark), new).collect()}
    # max(article)=3; numbering follows supplier_index order
    assert out == {"x": 4, "y": 5, "z": 6}


def test_global_dense_index_matches_sorted_enumeration(spark):
    import random

    from mistocksync_spark.operators.ordering import global_dense_index

    rng = random.Random(3)
    rows = [(i, rng.randint(0, 1000)) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(7)
    out = global_dense_index(df, [F.col("v").asc(), F.col("id").asc()], num_partitions=5)
    got = [(r["id"], r["order_key"]) for r in out.collect()]
    want = {
        id_: k + 1
        for k, (id_, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert dict(got) == want
    # the plan must not collapse to one partition anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_insert_rows_positions(spark):
    from mistocksync_spark.sinks.mutate import insert_rows

    new = spark.createDataFrame([("n1", 1), ("n2", 2)], "name string, insert_after_row long")
    merged = insert_rows(_base(spark), new).orderBy("order_key").collect()
    names = [r.name for r in merged]
    assert names == ["a", "n1", "b", "n2", "c"]


def test_snapshot_and_save(spark, tmp_path):
    from mistocksync_spark.sinks.mutate import save_processed, snapshot

    base = _base(spark)
    p = snapshot(base, str(tmp_path / "snap"))
    assert spark.read.parquet(p).count() == 3
    p2 = save_processed(base, str(tmp_path / "out_csv"), fmt="csv", single_file=True)
    back = spark.read.option("header", True).csv(p2)
    assert back.count() == 3


def test_build_report_sheets(spark, sf_dir):
    from mistocksync_spark.plans.feeds import base_feed, supplier_feed
    from mistocksync_spark.plans.queries import _cascade, _preprocess_vitya
    from mistocksync_spark.sinks.report import build_report

    r = _cascade(spark, sf_dir)
    sheets = build_report(
        r, base_feed(spark, sf_dir), _preprocess_vitya(supplier_feed(spark, sf_dir)), "article_vitya"
    )
    assert set(sheets) == {
        "summary", "matches", "price_changes", "new_items",
        "code_matches", "bracket_matches", "warnings",
    }
    assert sheets["summary"].count() == 1
    m = sheets["matches"]
    assert "base_color" in m.columns and m.count() > 0
    w = sheets["warnings"].select(F.min(F.abs(F.col("price_change_percent"))).alias("m")).collect()[0]
    assert w.m is None or w.m > 20.0


def test_snapshot_diff_all_null_added_removed_rows(spark):
    """An added/removed key whose compared columns are ALL NULL must still
    emit its audit rows — the side miss is the fact (round-2 advisory: the
    old value-inequality filter silently dropped such keys)."""
    from mistocksync_spark.sinks.mutate import snapshot_diff

    before = spark.createDataFrame(
        [(1, "a", 10.0), (3, None, None)], "row_id long, name string, price double"
    )
    after = spark.createDataFrame(
        [(1, "a", 10.0), (4, None, None)], "row_id long, name string, price double"
    )
    got = {(r.row_id, r.column): r.change for r in snapshot_diff(before, after).collect()}
    assert got[(3, "name")] == "removed" and got[(3, "price")] == "removed"
    assert got[(4, "name")] == "added" and got[(4, "price")] == "added"
    assert not any(k for k, _ in got if k == 1)  # unchanged key emits nothing


def test_read_xlsx_stdlib_sheet_order_numeric(tmp_path):
    """sheet10.xml must NOT sort before sheet2.xml: with 10+ sheets the
    worksheet index must follow the numeric suffix (round-2 advisory)."""
    from mistocksync_spark.sinks.excel import _write_xlsx_stdlib
    from mistocksync_spark.sources.reader import _read_xlsx_stdlib

    path = str(tmp_path / "many.xlsx")
    sheets = [(f"S{i}", ["v"], [(f"sheet-{i}",)]) for i in range(12)]
    _write_xlsx_stdlib(path, sheets)
    for idx in (0, 1, 2, 9, 10, 11):
        cells = _read_xlsx_stdlib(path, sheet=idx)
        assert cells[1][0] == f"sheet-{idx}", (idx, cells)


def test_read_excel_stdlib_fallback_typed_schema(spark, cfg_dir, tmp_path):
    """The no-openpyxl fallback must infer bigint/double/string per column
    (round-2 advisory: an all-string fallback schema made results differ by
    environment for columns the SourceConfig did not cast)."""
    from mistocksync_spark.sinks.excel import _write_xlsx_stdlib
    from mistocksync_spark.sources.reader import SourceConfig, read_excel

    path = str(tmp_path / "typed.xlsx")
    _write_xlsx_stdlib(
        path,
        [
            (
                "Лист1",
                ["Артикул", "Цена", "name", "extra_int", "extra_mixed"],
                [
                    (1, 10.5, "Повербанк", 7, 1),
                    (7, 20.0, "Кабель", None, "x"),
                ],
            )
        ],
    )
    cfg = SourceConfig.load("custom", config_dir=cfg_dir)
    out = read_excel(spark, path, cfg)
    dtypes = dict(out.dtypes)
    assert dtypes["extra_int"] == "bigint"  # not string
    assert dtypes["extra_mixed"] == "string"  # mixed -> string
    rows = {r.article: r for r in out.collect()}
    assert rows[1].extra_int == 7 and rows[7].extra_int is None
