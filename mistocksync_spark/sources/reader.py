"""Config-driven ingest (reference parity: S1–S9).

The reference loads Excel with pandas and applies a JSON config:
drop ignored columns → rename per mapping → cast types → drop all-null rows
→ validate (loader.py:439-487).  Here the same config drives a declarative
DataFrame pipeline, so Catalyst prunes columns at the scan and the casts
ride inside whole-stage codegen.  Every read checks the required columns,
which needs only the schema and so runs no Spark job; the S6 out-of-range
price counts are warn-only and on demand through ``validate``.

Sources: parquet/CSV natively via ``spark.read`` (the scale path); ``.xlsx``
via a driver-side openpyxl/pandas bridge, gated behind an import-try since
Excel is inherently a single-file, driver-side surface (a 100 TB deployment
replaces it with a catalog table — see sinks/merge.py).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONFIG_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "configs")

# Declared type vocabulary → Spark casts.  ``cast`` returns null on failure,
# matching pandas ``to_numeric(errors="coerce")``; ``int`` maps to a nullable
# LongType, matching the reference's nullable Int64 (loader.py:265-278).
_TYPE_MAP = {"float": "double", "int": "long", "string": "string"}


@dataclass
class SourceConfig:
    name: str
    column_mapping: dict[str, str] = field(default_factory=dict)
    ignore_columns: list[str] = field(default_factory=list)
    data_types: dict[str, str] = field(default_factory=dict)
    required_columns: list[str] = field(default_factory=list)
    price_min: float = 0.0
    price_max: float = float("inf")
    skip_empty_rows: bool = True

    @classmethod
    def load(cls, name: str, config_dir: str = CONFIG_DIR) -> "SourceConfig":
        with open(os.path.join(config_dir, f"{name}_config.json"), encoding="utf-8") as f:
            raw = json.load(f)
        val = raw.get("validation", {})
        return cls(
            name=name,
            column_mapping=raw.get("column_mapping", {}),
            ignore_columns=raw.get("ignore_columns", []),
            data_types=raw.get("data_types", {}),
            required_columns=val.get("required_columns", []),
            price_min=val.get("price_min", 0.0),
            price_max=val.get("price_max", float("inf")),
            skip_empty_rows=raw.get("settings", {}).get("skip_empty_rows", True),
        )


def detect_config_by_filename(file_path: str) -> str:
    """S9: filename convention → config name (ref main.py:1565-1589)."""
    filename = os.path.basename(file_path).upper()
    if "JHT" in filename:
        return "vitya"
    if "DIMI" in filename or "DIMA" in filename:
        return "dimi"
    if "BASE" in filename or "БАЗА" in filename:
        return "base"
    return "auto"


def remove_ignored_columns(df: DataFrame, config: SourceConfig) -> DataFrame:
    """S3: case-insensitive **substring** match drop (loader.py:188-221)."""
    patterns = [p.lower() for p in config.ignore_columns]
    drop = [c for c in df.columns if any(p in c.lower() for p in patterns)]
    return df.drop(*drop) if drop else df


def apply_column_mapping(df: DataFrame, config: SourceConfig) -> DataFrame:
    """S2: case-insensitive exact header → canonical rename (loader.py:154-186)."""
    lookup = {k.lower(): v for k, v in config.column_mapping.items()}
    renames = {c: lookup[c.lower()] for c in df.columns if c.lower() in lookup}
    return df.withColumnsRenamed(renames) if renames else df


def apply_data_types(df: DataFrame, config: SourceConfig) -> DataFrame:
    """S5: per-config casts; failed numeric parses become null, matching
    ``pd.to_numeric(errors="coerce")`` (loader.py:249-286)."""
    casts = {
        c: F.col(_quoted(c)).try_cast(_TYPE_MAP[t])
        for c, t in config.data_types.items()
        if c in df.columns and t in _TYPE_MAP
    }
    return df.withColumns(casts) if casts else df


def _quoted(name: str) -> str:
    """``name`` as a quoted identifier: a header such as ``a.1`` names one
    column, not field ``1`` of column ``a``."""
    return "`" + name.replace("`", "``") + "`"


def drop_empty_rows(df: DataFrame, config: SourceConfig) -> DataFrame:
    """S1/F5: drop all-null rows when skip_empty_rows (loader.py:464-465)."""
    if not config.skip_empty_rows:
        return df
    return df.na.drop(how="all", subset=[_quoted(c) for c in df.columns])


def _check_required_columns(df: DataFrame, config: SourceConfig) -> None:
    missing = [c for c in config.required_columns if c not in df.columns]
    if missing:
        raise ValueError(f"missing required columns: {missing}")


def validate(df: DataFrame, config: SourceConfig) -> dict:
    """S6: required columns hard-fail; out-of-range prices are warn-only
    counts (loader.py:288-344).  The counts cost one aggregate action, so
    they are computed only when a caller asks for them."""
    _check_required_columns(df, config)
    warnings = {}
    price_cols = [c for c in df.columns if c.startswith("price")]
    if price_cols:
        aggs = [
            F.sum(
                (
                    F.col(c).isNotNull()
                    & ((F.col(c) < config.price_min) | (F.col(c) > config.price_max))
                ).cast("long")
            ).alias(c)
            for c in price_cols
        ]
        row = df.agg(*aggs).collect()[0]
        warnings = {c: row[c] for c in price_cols if row[c]}
    return {"ok": True, "price_range_warnings": warnings}


def apply_config(df: DataFrame, config: SourceConfig, check: bool = True) -> DataFrame:
    """S1 pipeline: drop-ignored → rename → cast → drop-empty → required
    columns, in the reference's order (loader.py:442-469).  The required-
    column check reads only the schema, so this submits no Spark job; the
    S6 price-range warnings are on demand through ``validate``."""
    df = remove_ignored_columns(df, config)
    df = apply_column_mapping(df, config)
    df = apply_data_types(df, config)
    df = drop_empty_rows(df, config)
    if check:
        _check_required_columns(df, config)
    return df


def read_csv(spark: SparkSession, path: str, config: SourceConfig) -> DataFrame:
    raw = spark.read.option("header", "true").csv(path)
    return apply_config(raw, config)


def read_parquet(spark: SparkSession, path: str, config: SourceConfig) -> DataFrame:
    return apply_config(spark.read.parquet(path), config)


def read_json(spark: SparkSession, path: str, config: SourceConfig) -> DataFrame:
    """S1 JSON surface: JSON-lines first (the scale-path layout — splittable,
    parallel scan); a multiline array/object file shows up as corrupt
    records and falls back to the driver-friendlier multiLine parse."""
    raw = spark.read.json(path)
    if "_corrupt_record" in raw.columns or not raw.columns:
        raw = spark.read.option("multiLine", "true").json(path)
    return apply_config(raw, config)


def _read_xlsx_stdlib(path: str, sheet: int = 0) -> "list[list]":
    """Dependency-free xlsx cell extraction: parse the OPC zip's sheet XML
    (shared strings, inline strings, numbers, booleans).  No styles/dates —
    numeric date serials come through as numbers; the config's type casts
    handle the columns the pipeline uses.  Mirror of sinks/excel.py's
    stdlib writer."""
    import re
    import zipfile
    from xml.etree import ElementTree as ET

    NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{NS}t")))
        # numeric-suffix order, NOT lexicographic: with 10+ sheets,
        # "sheet10.xml" sorts before "sheet2.xml" lexicographically and a
        # nonzero sheet index would select the wrong worksheet
        sheet_names = sorted(
            (n for n in z.namelist() if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
            key=lambda n: int(re.search(r"\d+", n).group()),
        )
        root = ET.fromstring(z.read(sheet_names[sheet]))
        rows: list[list] = []
        for row in root.iter(f"{NS}row"):
            out: dict[int, object] = {}
            for c in row.findall(f"{NS}c"):
                ref = c.get("r", "A1")
                col = 0
                for ch in ref:
                    if ch.isalpha():
                        col = col * 26 + (ord(ch.upper()) - 64)
                    else:
                        break
                t = c.get("t", "n")
                v = c.find(f"{NS}v")
                is_ = c.find(f"{NS}is")
                if t == "inlineStr" and is_ is not None:
                    out[col - 1] = "".join(x.text or "" for x in is_.iter(f"{NS}t"))
                elif v is None or v.text is None:
                    continue
                elif t == "s":
                    out[col - 1] = shared[int(v.text)]
                elif t == "b":
                    out[col - 1] = v.text == "1"
                elif t == "str":
                    out[col - 1] = v.text
                else:
                    f = float(v.text)
                    out[col - 1] = int(f) if f.is_integer() else f
            width = max(out) + 1 if out else 0
            rows.append([out.get(i) for i in range(width)])
        return rows


def _header_names(cells: list) -> list[str]:
    """Unique column names from a sheet's header row: a repeated name gets
    a ``.1``, ``.2``, ... suffix the way pandas renames it (``a, a`` ->
    ``a, a.1``), and an empty or missing header becomes ``col_{i}``.  A
    whitespace header is a name: the Dimi layout maps ``" "`` to its
    article column.
    Spark resolves columns by name, so a repeated name would make every
    later by-name step (``na.drop``, the config's renames) ambiguous."""
    names: list[str] = []
    for i, h in enumerate(cells):
        base = f"col_{i}" if h is None or str(h) == "" else str(h)
        name, k = base, 0
        while name in names:
            k += 1
            name = f"{base}.{k}"
        names.append(name)
    return names


def read_excel(spark: SparkSession, path: str, config: SourceConfig, sheet: int = 0) -> DataFrame:
    """S1 Excel surface: driver-side bridge (Excel files are small by
    construction — the reference's workload is 10²-10⁴ rows).  Uses
    pandas/openpyxl when installed; otherwise a dependency-free stdlib
    parser (shared/inline strings, numbers, booleans — no style-based
    date decoding)."""
    try:
        import openpyxl  # noqa: F401
        import pandas as pd

        pdf = pd.read_excel(path, sheet_name=sheet)
        raw = spark.createDataFrame(pdf.astype("object").where(pdf.notna(), None))
    except ImportError:
        import pyarrow as pa

        cells = _read_xlsx_stdlib(path, sheet=sheet)
        if not cells:
            raise ValueError(f"empty worksheet in {path}")
        header = _header_names(cells[0])
        width = len(header)
        data = [tuple((r + [None] * width)[:width]) for r in cells[1:]]

        # per-column type inference so the fallback yields the same typed
        # schema as the pandas path (an all-string fallback schema made
        # results differ by environment for columns the SourceConfig did
        # not cast)
        def _col_type(i: int):
            vals = [r[i] for r in data if r[i] is not None]
            if vals and all(isinstance(v, bool) for v in vals):
                return pa.bool_(), bool
            if vals and all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
                return pa.int64(), int
            if vals and all(
                isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
            ):
                return pa.float64(), float
            return pa.string(), str

        # an Arrow table plans as a LocalRelation: recomputing the list
        # starts no Python worker, unlike a list of tuples (a pickled RDD)
        columns = []
        for i in range(width):
            arrow_type, conv = _col_type(i)
            values = [conv(r[i]) if r[i] is not None else None for r in data]
            columns.append(pa.array(values, type=arrow_type))
        raw = spark.createDataFrame(pa.Table.from_arrays(columns, names=header))
    return apply_config(raw, config)


def load_largest_file(spark: SparkSession, directory: str, config: SourceConfig, glob_exts=(".xlsx", ".xls", ".csv", ".parquet", ".json")):
    """S7: pick the largest matching file in a directory (loader.py:489-551).
    In a real deployment the 'database' is a catalog table; this preserves
    the reference's file-surface behavior for parity."""
    candidates = [
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if f.lower().endswith(glob_exts) and not f.startswith("~")
    ]
    if not candidates:
        return None, None
    path = max(candidates, key=os.path.getsize)
    if path.endswith(".csv"):
        return read_csv(spark, path, config), path
    if path.endswith(".parquet"):
        return read_parquet(spark, path, config), path
    if path.endswith(".json"):
        return read_json(spark, path, config), path
    return read_excel(spark, path, config), path
