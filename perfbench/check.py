"""Output check: the program's outputs against the registered DuckDB
oracles, compared by an order-insensitive hash of the rows, plus
invariants where no oracle applies (syncs against a base that earlier
syncs already merged into).  Runs after the timed phase, on the same
generated inputs and the files the operations wrote.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import zipfile
from xml.etree import ElementTree as ET

NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_INT = re.compile(r"-?\d+")


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def table_hash(rows, columns: list[str], keep: list[str] | None = None) -> str:
    """Order-insensitive hash of ``rows`` over the ``keep`` columns (all by
    default), columns taken in name order."""
    keep = sorted(keep or columns)
    idx = [columns.index(c) for c in keep]
    lines = sorted("\x01".join(_cell(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode() + b"\n")
    return f"{len(lines)}:{h.hexdigest()[:16]}"


def read_sheets(path: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """Every sheet of a workbook as (header, rows); numbers written without
    a fraction or exponent read back as ints, all others as floats."""
    out = {}
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target = {r.get("Id"): r.get("Target") for r in rels}
        for sheet in wb.iter(f"{NS}sheet"):
            root = ET.fromstring(z.read("xl/" + target[sheet.get(f"{RNS}id")]))
            grid = []
            for row in root.iter(f"{NS}row"):
                cells = {}
                for c in row.findall(f"{NS}c"):
                    col = 0
                    for ch in c.get("r"):
                        if not ch.isalpha():
                            break
                        col = col * 26 + ord(ch.upper()) - 64
                    t, v = c.get("t", "n"), c.find(f"{NS}v")
                    if t == "inlineStr":
                        cells[col - 1] = "".join(x.text or "" for x in c.iter(f"{NS}t"))
                    elif t == "b":
                        cells[col - 1] = v.text == "1"
                    elif v is not None:
                        cells[col - 1] = int(v.text) if _INT.fullmatch(v.text) else float(v.text)
                grid.append(cells)
            header = [grid[0][i] for i in range(len(grid[0]))] if grid else []
            out[sheet.get("name")] = (header, [tuple(r.get(i) for i in range(len(header))) for r in grid[1:]])
    return out


class Oracles:
    """A DuckDB connection with the generated tables registered, running
    the program's registered oracle SQL over the benchmark's inputs."""

    def __init__(self, workdir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 4")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute(f"SET temp_directory = '{os.path.join(workdir, 'tmp', 'duckdb')}'")
        tables = os.path.join(workdir, "tables")
        for t in ("documents", "embeddings"):
            path = os.path.join(tables, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    @staticmethod
    def bind_feeds(sql: str, supplier: str, base: str) -> str:
        """Oracle SQL with its supplier and base feed CTEs bound to the
        given files instead of the feeds derived from ``part``."""
        from mistocksync_spark.plans.queries import _CTES

        if not sql.startswith(_CTES):
            raise ValueError("oracle SQL does not start with the feed CTEs")
        return (
            f"WITH supplier_feed AS (SELECT * FROM read_parquet('{supplier}')), "
            f"base_feed AS (SELECT * FROM read_parquet('{base}'))" + sql[len(_CTES):]
        )


SYNC_SHEETS = {
    # layout -> [(sheet title, oracle)]
    "vitya": [
        ("Совпадения", "exact_article_match"),
        ("Новые товары", "new_items"),
        ("Совпадения по кодам в скобках", "bracket_code_match"),
        ("Совпадения по кодам", "product_code_match"),
    ],
    "dimi": [
        ("Совпадения", "exact_article_match_dimi"),
        ("Новые товары", "new_items_dimi"),
        ("Совпадения по кодам в скобках", "bracket_code_match_dimi"),
        ("Совпадения по кодам", "product_code_match_dimi"),
    ],
}


def check_sync(workdir: str, synced: list[tuple[dict, str, str, str]]) -> list[dict]:
    """Per sync: oracle parity of the report sheets and the merged base on
    the first sync (pristine base); invariants on every sync.  A check
    that cannot run (a missing sheet or file) is a failed check."""
    ora = Oracles(workdir)
    results = []
    try:
        for k, entry in enumerate(synced):
            try:
                results.append(_check_one_sync(ora, k == 0, *entry))
            except Exception as e:  # the program's output is malformed
                results.append({"ok": False, "problems": [repr(e)], "rows_updated": None})
    finally:
        ora.close()
    return results


def _check_one_sync(ora: Oracles, pristine: bool, lst: dict, base_in: str, base_out: str, report: str) -> dict:
    from mistocksync_spark.plans import queries as q

    layout, sup = lst["layout"], lst["table"]
    b_in = base_in if base_in.endswith(".parquet") else base_in + "/*.parquet"
    b_out = base_out + "/*.parquet"
    sheets = read_sheets(report)
    problems = []
    if pristine:
        for title, oracle in SYNC_SHEETS[layout]:
            cols, rows = ora.query(ora.bind_feeds(q.ORACLES[oracle], sup, b_in))
            header, srows = sheets[title]
            keep = [c for c in header if c in cols]
            if table_hash(srows, header, keep) != table_hash(rows, cols, keep):
                problems.append(f"sheet {title} != oracle {oracle}")
        if layout == "vitya":
            cols, rows = ora.query(ora.bind_feeds(q.ORACLES["price_merge"], sup, b_in))
            mcols, mrows = ora.query(f"SELECT * FROM read_parquet('{b_out}')")
            if table_hash(mrows, mcols) != table_hash(rows, cols, mcols):
                problems.append("merged base != oracle price_merge")
    # invariants, on every sync
    j1, supd = (q._SQL_J1, "supd") if layout == "vitya" else (q._SQL_J1_DIMI, "supd_d")
    art, price = (("article_vitya", "price_vitya_usd") if layout == "vitya"
                  else ("article_dimi", "price_dimi_usd"))
    keys = ora.query(ora.bind_feeds(j1 + f" SELECT count(*) FROM {supd}", sup, b_in))[1][0][0]
    shead, srow = sheets["Сводка"]
    summary = dict(zip(shead, srow[0]))
    if not summary["supplier_total"] == summary["matches"] + summary["new_items"] == keys:
        problems.append(f"matches + new items != {keys} distinct supplier keys: {summary}")
    joined = ora.query(ora.bind_feeds(j1 + f"""
        SELECT count(*) FROM base_feed b JOIN {supd} s
          ON CAST(b.{art} AS STRING) = s.article
        WHERE abs(s.supplier_price - b.{price}) >= 0.001""", sup, b_in))[1][0][0]
    n_in, n_out, updated = ora.query(f"""
        SELECT (SELECT count(*) FROM read_parquet('{b_in}')),
               (SELECT count(*) FROM read_parquet('{b_out}')),
               (SELECT count(*) FROM read_parquet('{b_in}') a
                  JOIN read_parquet('{b_out}') b USING (row_id)
                WHERE a.{price} IS DISTINCT FROM b.{price})""")[1][0]
    if n_in != n_out:
        problems.append(f"merged base has {n_out} rows, base had {n_in}")
    if updated != joined:
        problems.append(f"{updated} rows updated, price-update join has {joined}")
    return {"ok": not problems, "problems": problems, "rows_updated": updated}


def check_dedup(workdir: str, outputs: dict) -> list[str]:
    from mistocksync_spark.plans.queries import ORACLES

    if not outputs:
        return ["no dedup pass completed"]
    ora = Oracles(workdir)
    problems = []
    try:
        for name, (cols, rows) in outputs.items():
            ocols, orows = ora.query(ORACLES[name])
            if table_hash(rows, cols) != table_hash(orows, ocols):
                problems.append(f"{name} != oracle")
    finally:
        ora.close()
    return problems


def check_ticks(workdir: str, state: str, rounds: list[dict], done: list[int]) -> list[str]:
    """The accepted sets in the keyed state after the ticks equal the
    one-shot oracle restricted to the corpus and the arrivals ingested."""
    from mistocksync_spark.plans.queries import ORACLES

    ora = Oracles(workdir)
    problems = []
    try:
        for kind, table, key, oracle in (
            ("corpus", "docs", "doc_id", "incremental_dedup_merge"),
            ("embedding", "vecs", "vec_id", "incremental_embedding_dedup"),
        ):
            last = max(rounds[i][kind]["max_id"] for i in done)
            glob = os.path.join(state, kind, table, "**", "*.parquet")
            try:
                cols, rows = ora.query(
                    f"SELECT {key}, origin FROM read_parquet('{glob}', hive_partitioning = true) WHERE accepted"
                )
            except Exception as e:  # the program's state is unreadable
                problems.append(f"{kind} state: {e!r}")
                continue
            ocols, orows = ora.query(
                f"SELECT * FROM ({ORACLES[oracle]}) WHERE origin = 'corpus' OR {key} <= {last}"
            )
            if table_hash(rows, cols) != table_hash(orows, ocols):
                problems.append(f"{kind} accepted set != oracle {oracle} over ingested arrivals")
    finally:
        ora.close()
    return problems


def verified_minhash_pairs(workdir: str, candidates: tuple[list[str], list[tuple]]) -> int:
    """How many MinHash-LSH candidate pairs have an exact 3-word-shingle
    Jaccard of at least 0.5, the corpus dedup threshold."""
    import pyarrow as pa

    from mistocksync_spark.plans.queries import _SQL_SHINGLES, _docs_cte

    cols, rows = candidates
    ora = Oracles(workdir)
    try:
        ora.con.register("cand", pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)},
                                          schema=pa.schema([(c, pa.int64()) for c in cols])))
        return ora.query(_docs_cte() + _SQL_SHINGLES + """
            , sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
            , inter AS (
                SELECT c.doc_a, c.doc_b, count(*) AS cnt FROM cand c
                JOIN sh a ON a.doc_id = c.doc_a
                JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
                GROUP BY c.doc_a, c.doc_b)
            SELECT count(*) FROM inter x
            JOIN sizes na ON na.doc_id = x.doc_a JOIN sizes nb ON nb.doc_id = x.doc_b
            WHERE CAST(x.cnt AS DOUBLE) / (na.n + nb.n - x.cnt) >= 0.5""")[1][0][0]
    finally:
        ora.close()
