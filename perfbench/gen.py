"""Seeded input generator for the benchmark.

Writes, under one work directory, everything a run needs and nothing the
program computes:

- ``tables/part.parquet``, ``tables/documents.parquet``,
  ``tables/embeddings.parquet``: the star-schema tables the program's feeds
  read, with the same schema and value shapes as the repository's test
  data (TPC-H-like ``part``; word-salad documents with planted exact and
  near duplicates; 64-d embeddings in ten Gaussian clusters).
- ``base.parquet``: the master base, the program's base feed over ``part``.
- ``lists/list_<i>.xlsx`` plus ``lists/list_<i>.parquet``: supplier price
  lists in the Vitya (integer article) or Dimi (string article) workbook
  layout, and the same rows as a table for the output check.
- ``arrivals/<kind>_<k>/``: the document and vector arrival batches of the
  keyed-state ticks.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "blue", "green", "small", "large", "shiny", "matte", "spare"]
NOUN = ["ring", "widget", "bolt", "gear", "cap", "valve", "pin", "plate"]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_W = [0.41, 0.14, 0.15, 0.15, 0.15]

# Workbook headers per layout, as the reference's price lists carry them;
# the program's source configs map them to canonical column names.
VITYA_HEADER = [
    ("row_id", "row_id"), ("Unnamed: 1", "name"), ("Unnamed: 2", "color"),
    ("Unnamed: 3", "price_usd"), ("Unnamed: 4", "price_rub"),
    ("курс", "article_num"), ("Unnamed: 6", "balance"),
    ("Unnamed: 7", "comment"), ("Unnamed: 8", "comment"),
]
DIMI_HEADER = [
    ("row_id", "row_id"), ("Unnamed: 0", "category"),
    (" ", "article_raw_dimi"), ("Unnamed: 3", "name"),
    ("Unnamed: 4", "color"), ("Unnamed: 7", "balance"),
    ("Unnamed: 8", "balance1"), ("Unnamed: 9", "price_usd"),
    ("Unnamed: 10", "price_rub"), ("Unnamed: 14", "comment"),
]


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(rng: np.random.Generator, outdir: str, n_part: int, n_doc: int, n_emb: int) -> None:
    os.makedirs(outdir, exist_ok=True)
    pk = np.arange(n_part, dtype="int64")
    _write(os.path.join(outdir, "part.parquet"), pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n_part)],
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32"), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0 + rng.integers(0, 50, n_part) / 10.0,
    }))

    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n_doc)]
    for _ in range(max(4, n_doc // 500)):
        src, dst = rng.integers(0, n_doc, 2)
        texts[dst] = texts[src]
        src2, dst2 = rng.integers(0, n_doc, 2)
        w = texts[src2].split()
        w[rng.integers(0, len(w))] = str(vocab[rng.integers(0, len(vocab))])
        texts[dst2] = " ".join(w)
    _write(os.path.join(outdir, "documents.parquet"), pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype="int64")),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_W)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }))

    centers = rng.normal(0.0, 0.15, (10, 64))
    label = rng.integers(0, 10, n_emb, dtype="int32")
    emb = (centers[label] + rng.normal(0.0, 0.08, (n_emb, 64))).clip(-0.577, 0.577).astype("float32")
    _write(os.path.join(outdir, "embeddings.parquet"), pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }))


def _col_letter(i: int) -> str:
    out = ""
    while i > 0:
        i, rem = divmod(i - 1, 26)
        out = chr(65 + rem) + out
    return out


def _cell(ref: str, v) -> str:
    if v is None:
        return ""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(str(v))}</t></is></c>'


def write_xlsx(path: str, header: list[str], rows: list[tuple]) -> None:
    """One-sheet workbook with inline strings: the minimal OPC package
    spreadsheet readers accept."""
    ns = "http://schemas.openxmlformats.org"
    body = []
    for r, row in enumerate([tuple(header)] + rows, start=1):
        cells = "".join(_cell(f"{_col_letter(c + 1)}{r}", v) for c, v in enumerate(row))
        body.append(f'<row r="{r}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{ns}/spreadsheetml/2006/main"><sheetData>'
        + "".join(body) + "</sheetData></worksheet>"
    )
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", (
            f'<?xml version="1.0" encoding="UTF-8"?><Types xmlns="{ns}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="{ct}.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="{ct}.worksheet+xml"/></Types>'
        ))
        z.writestr("_rels/.rels", (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>'
        ))
        z.writestr("xl/workbook.xml", (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}/spreadsheetml/2006/main" '
            f'xmlns:r="{ns}/officeDocument/2006/relationships">'
            '<sheets><sheet name="Прайс" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ))
        z.writestr("xl/_rels/workbook.xml.rels", (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>'
        ))
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def write_base(workdir: str) -> str:
    """The master base: the program's base feed over the generated
    ``part`` table."""
    import duckdb

    from mistocksync_spark.plans.feeds import BASE_FEED_SQL

    part = os.path.join(workdir, "tables", "part.parquet")
    base = os.path.join(workdir, "base.parquet")
    with duckdb.connect() as con:
        con.execute(f"COPY (WITH part AS (SELECT * FROM read_parquet('{part}')) {BASE_FEED_SQL}) "
                    f"TO '{base}' (FORMAT parquet)")
    return base


def write_price_list(workdir: str, seed: int, index: int, size: int, layout: str) -> dict:
    """Price list ``index``: a sample of ``size`` catalog items at a
    per-list price level, in the ``layout`` workbook layout, plus the same
    rows as a table for the output check.  Each list has its own random
    stream, so lists can be written in any order."""
    import duckdb

    from mistocksync_spark.plans.feeds import SUPPLIER_FEED_SQL

    rng = np.random.default_rng([seed, index])
    part = os.path.join(workdir, "tables", "part.parquet")
    stem = os.path.join(workdir, "lists", f"list_{index:03d}")
    os.makedirs(os.path.dirname(stem), exist_ok=True)
    with duckdb.connect() as con:
        n_part = con.execute(f"SELECT count(*) FROM read_parquet('{part}')").fetchone()[0]
        keys = np.sort(rng.choice(n_part, size=min(size, n_part), replace=False))
        con.register("keys", pa.table({"k": pa.array(keys)}))
        delta = float(rng.integers(0, 40)) / 10.0
        table = con.execute(
            "WITH part AS (SELECT p_partkey, p_name, p_retailprice + "
            f"{delta} AS p_retailprice FROM read_parquet('{part}') "
            f"WHERE p_partkey IN (SELECT k FROM keys)) SELECT * FROM ({SUPPLIER_FEED_SQL}) ORDER BY row_id"
        ).arrow()
    if hasattr(table, "read_all"):
        table = table.read_all()
    # Vitya lists carry the article as a number, as the reference's
    # workbooks do; the feed's raw article column then holds that number.
    if layout == "vitya":
        table = table.set_column(
            table.schema.get_field_index("article_raw"), "article_raw",
            table.column("article_num").cast(pa.string()),
        )
    _write(stem + ".parquet", table)
    cols = table.to_pydict()
    cols["price_rub"] = [None if p is None else int(p * 9000) / 100.0 for p in cols["price_usd"]]
    cols["comment"] = [None] * table.num_rows
    cols["category"] = ["Аксессуары"] * table.num_rows
    header = VITYA_HEADER if layout == "vitya" else DIMI_HEADER
    write_xlsx(stem + ".xlsx", [h for h, _ in header], list(zip(*(cols[src] for _, src in header))))
    return {"path": stem + ".xlsx", "table": stem + ".parquet", "layout": layout, "rows": table.num_rows}


def write_tick_inputs(workdir: str, n_batches: int) -> list[dict]:
    """Arrival batches for the keyed-state ticks: ``n_batches`` rounds of
    one document batch and one vector batch.  The arrivals are the
    program's incremental-ingest fixtures over the generated tables (near,
    exact and span duplicates of the corpus, fresh items, intra-batch
    duplicates).  Batches are equal contiguous runs of the id-sorted
    arrivals, so batch order is id order (the ticks must reproduce the
    one-shot answer) and every seed gives the same batch sizes."""
    import duckdb

    from mistocksync_spark.plans.feeds import DOCS_INCR_BATCH_SQL, EMB_INCR_CTE_DUCKDB

    tables = os.path.join(workdir, "tables")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tables}/documents.parquet')")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tables}/embeddings.parquet')")
        docs = con.execute(f"SELECT * FROM ({DOCS_INCR_BATCH_SQL}) ORDER BY doc_id").arrow()
        vecs = con.execute(
            EMB_INCR_CTE_DUCKDB + " SELECT vec_id, embedding FROM emb WHERE is_batch = 1 ORDER BY vec_id"
        ).arrow()
    finally:
        con.close()
    docs = docs.read_all() if hasattr(docs, "read_all") else docs
    vecs = vecs.read_all() if hasattr(vecs, "read_all") else vecs
    runs = {
        "corpus": (docs, "doc_id", np.array_split(np.sort(docs.column("doc_id").to_numpy()), n_batches)),
        "embedding": (vecs, "vec_id", np.array_split(np.sort(vecs.column("vec_id").to_numpy()), n_batches)),
    }
    rounds = []
    for k in range(n_batches):
        batch = {}
        for kind, (table, key, parts) in runs.items():
            ids = table.column(key).to_numpy()
            sub = table.filter(pa.array(np.isin(ids, parts[k])))
            path = os.path.join(workdir, "arrivals", f"{kind}_{k:03d}")
            os.makedirs(path, exist_ok=True)
            _write(os.path.join(path, "part-0.parquet"), sub)
            batch[kind] = {"path": path, "rows": sub.num_rows, "max_id": int(parts[k].max())}
        rounds.append(batch)
    return rounds


def ivf_centroids(workdir: str, n: int = 16) -> list[list[float]]:
    """The frozen IVF quantizer of the vector ticks: the ``n`` lowest-id
    corpus vectors, the program's deterministic centroid rule."""
    emb = pq.read_table(os.path.join(workdir, "tables", "embeddings.parquet"))
    order = np.argsort(emb.column("vec_id").to_numpy())[:n]
    vecs = emb.column("embedding").to_pylist()
    return [[float(x) for x in vecs[i]] for i in order]
