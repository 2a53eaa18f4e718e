"""Output checks, run after the timed region.

Each entry's first result is compared with its ``oracleSql`` run by
DuckDB on the same input directory, by the rules of the catalog's
correctness gate (tools/check_oracle.py): columns sorted by name, equal
row counts, values equal or equal as strings, NaN equal to NaN. Every
repeat of an entry must return the first result's row count.
"""
import glob
import json
import math
import os

import duckdb


def _same(a, b):
    if a == b or str(a) == str(b):
        return True
    nan = lambda x: x == "NaN" or (isinstance(x, float) and math.isnan(x))  # noqa: E731
    return nan(a) and nan(b)


def compare(cols, rows, duck_cols, duck_rows):
    """None when the program's result (column names and rows) agrees with
    DuckDB's, else the reason it does not."""
    if sorted(cols) != sorted(duck_cols):
        return f"columns differ program={sorted(cols)} duckdb={sorted(duck_cols)}"
    if len(rows) != len(duck_rows):
        return f"rows program={len(rows)} duckdb={len(duck_rows)}"
    at = {c: i for i, c in enumerate(cols)}
    dat = {c: i for i, c in enumerate(duck_cols)}
    for c in sorted(cols):
        for i, (r, d) in enumerate(zip(rows, duck_rows)):
            a, b = r[at[c]], d[dat[c]]
            if not _same(a, b):
                return f"value mismatch {c}[{i}]: program={a!r} duckdb={b!r}"
    return None


def _views(con, input_dir):
    for p in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")


def catalog(input_dir, checked, oracle, ops):
    """Failures as {entry: reason}. ``checked`` maps entry -> saved first
    result, ``oracle`` entry -> SQL, ``ops`` every op record of the run."""
    fails = {}
    first_rows = {}
    for o in ops:
        e = o["entry"]
        if o["error"]:
            fails.setdefault(e, f"error: {o['error']}")
        elif e in first_rows and o["rows"] != first_rows[e]:
            fails.setdefault(e, f"repeat returned {o['rows']} rows, first {first_rows[e]}")
        first_rows.setdefault(e, o["rows"])
    con = duckdb.connect()
    _views(con, input_dir)
    for e in sorted(first_rows):
        if e in fails:
            continue
        if e not in checked or not os.path.exists(checked[e]):
            fails[e] = "no result saved"
            continue
        if e not in oracle:
            fails[e] = "no oracle SQL"
            continue
        with open(checked[e]) as f:
            res = json.load(f)
        try:
            cur = con.execute(oracle[e])
            duck_rows = cur.fetchall()
            duck_cols = [d[0] for d in cur.description]
        except Exception as ex:  # an oracle that cannot run is a failed check
            fails[e] = f"oracle error: {ex}"
            continue
        why = compare(res["columns"], res["rows"], duck_cols, duck_rows)
        if why:
            fails[e] = why
    return fails
