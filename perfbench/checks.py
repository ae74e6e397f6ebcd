"""Output checks, all run outside the timed passes.

- Registry keys are compared with their DuckDB ``oracle_sql()`` result
  on the same generated tables: same columns, same row count, and the
  same rows as a multiset (columns sorted by name, floats equal to a
  relative 1e-9, the tolerance of tests/oracle_utils.py).
- The medallion silver and gold tables are compared row by row with a
  pure-Python reference of bronze -> silver -> gold built from the raw
  rows. For the seeds in ``expected.json`` (0-99) the gold tables'
  value hashes must also equal the committed ones, so a drift in the
  generator or the reference cannot hide behind the other. Each SQLite
  table must hold exactly the rows of its gold parquet table.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import sqlite3
from decimal import Decimal

# ------------------------------------------------------------ canonical


def canon(v):
    """One JSON-safe form per value: NULL/NaT/NaN -> None, Decimal ->
    float, DATE and midnight timestamps -> ISO date, timestamps -> ISO."""
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if hasattr(v, "tolist") and not isinstance(v, dt.datetime):
        return canon(v.tolist())  # numpy scalar or array
    if v is None or v != v:  # NULL, NaN, NaT
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.time() == dt.time(0, 0) and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _sort_key(row) -> str:
    return json.dumps(
        [f"{v:.6e}" if isinstance(v, float) else v for v in row],
        ensure_ascii=False,
        default=str,
    )


def frame_rows(columns, rows) -> dict:
    """``{"columns": sorted names, "rows": canonical rows sorted}``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[canon(r[i]) for i in order] for r in rows]
    out.sort(key=_sort_key)
    return {"columns": [columns[i] for i in order], "rows": out}


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_same_value, a, b))
    return a == b


def compare(got: dict, want: dict) -> str | None:
    """None when *got* matches *want*, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"rows {len(got['rows'])} != {len(want['rows'])}"
    for g, w in zip(got["rows"], want["rows"]):
        if not all(map(_same_value, g, w)):
            return f"row {g} != {w}"
    return None


def digest(frame: dict) -> str:
    blob = json.dumps(frame, ensure_ascii=False, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


# ---------------------------------------------------- registry oracles


def registry_oracles(star_dir: str, keys: list[str], oracle_sql: dict) -> dict:
    """Expected frame per key from DuckDB over the generated tables,
    materialized through pandas as the registry's driver does."""
    import duckdb

    conn = duckdb.connect()
    try:
        for name in sorted(os.listdir(star_dir)):
            if name.endswith(".parquet"):
                conn.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(star_dir, name)}')"
                )
        out = {}
        for key in keys:
            pdf = conn.execute(oracle_sql[key]).df()
            out[key] = frame_rows(
                list(pdf.columns), pdf.itertuples(index=False, name=None)
            )
        return out
    finally:
        conn.close()


def spark_frame(df) -> dict:
    pdf = df.toPandas()
    return frame_rows(list(pdf.columns), pdf.itertuples(index=False, name=None))


# ------------------------------------------------- medallion reference

NOT_INFORMED = "não informado"
_DEFAULTED = ["continente", "região", "local_de_assinatura", "tipo_de_acordo",
              "objetivo", "recursos", "tipo_de_documento", "parceiro"]
_TITLED = ["parceiro", "tipo_de_parceiro", "continente", "região",
           "local_de_assinatura", "tipo_de_acordo", "recursos",
           "tipo_de_documento"]
KEEP = ["parceiro", "tipo_de_parceiro", "continente", "região",
        "local_de_assinatura", "tipo_de_acordo", "título", "objetivo",
        "recursos", "tipo_de_documento", "ano"]
GOLD_TABLES = ["acordos", "hier", "pais", "org"]


def _initcap(s: str) -> str:
    """Spark ``initcap``: lower-case, then upper-case the first character
    and every character after a space (and only a space)."""
    s = s.lower()
    return "".join(
        c.upper() if i == 0 or s[i - 1] == " " else c for i, c in enumerate(s)
    )


def _year(s):
    if s is None:
        return None
    s = s.strip(" ")
    if len(s) != 10 or s[2] != "/" or s[5] != "/":
        return None
    try:
        return dt.datetime.strptime(s, "%d/%m/%Y").year
    except ValueError:
        return None


def medallion_reference(raw_path: str) -> dict:
    """Gold frames computed in plain Python from the raw parquet file."""
    import pyarrow.parquet as pq

    table = pq.read_table(raw_path)
    names = [c.lower().replace(" ", "_") for c in table.column_names]
    silver = set()
    for rec in table.to_pylist():
        r = dict(zip(names, rec.values()))
        t = r["título"]
        r["título"] = None if t is None else t.strip(" ")[:255]
        for c in _DEFAULTED:
            v = NOT_INFORMED if r[c] is None else r[c]
            r[c] = NOT_INFORMED if v == "-" else v
        for c in _TITLED:
            if r[c] is not None:
                r[c] = _initcap(r[c].strip(" "))
        r["ano"] = _year(r["data_de_celebração"])
        silver.add(tuple(r[c] for c in KEEP))
    idx = {c: i for i, c in enumerate(KEEP)}
    hier, pais, org = set(), set(), set()
    for row in silver:
        parts = [row[idx[c]] for c in
                 ("continente", "região", "local_de_assinatura")]
        local = None if None in parts else " > ".join(parts)
        ta, rc = row[idx["tipo_de_acordo"]], row[idx["recursos"]]
        acordo = None if ta is None or rc is None else f"{ta} - {rc}"
        pair = (local, acordo)
        hier.add(pair)
        kind = row[idx["tipo_de_parceiro"]]
        if kind == "País":
            pais.add(pair)
        elif kind == "Organização":
            org.add(pair)
    pair_cols = ["local_completo", "acordo_recurso"]
    return {
        "acordos": frame_rows(KEEP, silver),
        "hier": frame_rows(pair_cols, hier),
        "pais": frame_rows(pair_cols, pais),
        "org": frame_rows(pair_cols, org),
    }


def parquet_frame(path: str) -> dict:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    cols = table.column_names
    return frame_rows(cols, (tuple(r.values()) for r in table.to_pylist()))


def sqlite_frame(db_path: str, table: str) -> dict:
    conn = sqlite3.connect(db_path)
    try:
        cur = conn.execute(f'SELECT * FROM "{table}"')
        cols = [d[0] for d in cur.description]
        return frame_rows(cols, cur.fetchall())
    finally:
        conn.close()


def committed_expected(workload: str, seed: int) -> dict | None:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")
    try:
        with open(path, encoding="utf-8") as fh:
            data = json.load(fh)
    except FileNotFoundError:
        return None
    return data.get(workload, {}).get(str(seed))


def record_medallion(first: int, last: int, rows: int, cache_root: str) -> dict:
    """Reference digests of the four gold tables for seeds first..last,
    the content of ``expected.json``'s ``medallion_acordos`` entry."""
    import datagen

    out = {}
    for seed in range(first, last + 1):
        inputs = datagen.ensure(cache_root, "acordos", seed, rows)
        frames = medallion_reference(
            os.path.join(inputs["dir"], "acordos_raw.parquet"))
        out[str(seed)] = {name: digest(f) for name, f in frames.items()}
    return out


if __name__ == "__main__":
    # python3 perfbench/checks.py FIRST LAST ROWS CACHE_DIR > expected.json
    import sys

    first, last, rows = (int(a) for a in sys.argv[1:4])
    print(json.dumps({"medallion_acordos": record_medallion(
        first, last, rows, sys.argv[4])}, indent=1, sort_keys=True))
