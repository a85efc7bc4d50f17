"""DuckDB oracle compare for the benchmark's outputs.

Each entry names an oracle SQL (from graft.SparkEntry.oracleSql), the
generated table dir it runs over, and either a Spark-written parquet
table to compare row for row ("rows": columns sorted by name, rows
sorted by value, exact equality as in dev/compare.py) or an expected
row count ("count").
"""
import glob
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents"]


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _compare(spark, duck):
    s, d = _normalize(spark), _normalize(duck)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs oracle {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs oracle {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            eq = (a.fillna(1.5e308) == b.fillna(1.5e308)) | ((a - b).abs() < 1e-30)
        else:
            eq = a.astype(str).fillna("\0") == b.astype(str).fillna("\0")
        if not eq.all():
            i = (~eq).idxmax()
            return f"value differs in {c} row {i}: {a[i]!r} vs oracle {b[i]!r}"
    return None


def check(entries):
    """Returns one {name, ok, detail, ops} result per entry."""
    results, cons = [], {}
    for e in entries:
        con = cons.get(e["data"])
        if con is None:
            con = cons[e["data"]] = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{e['data']}/{t}.parquet')")
        try:
            if e["kind"] == "count":
                n = con.execute(f"SELECT count(*) FROM ({e['sql']})").fetchone()[0]
                err = None if n == e["expect"] else f"{e['expect']} rows vs oracle {n}"
                detail = err or f"{n} rows"
            else:
                files = sorted(glob.glob(os.path.join(e["spark"], "**", "*.parquet"), recursive=True))
                spark = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
                err = _compare(spark, con.execute(e["sql"]).fetchdf())
                detail = err or f"{len(spark)} rows equal the oracle"
        except Exception as ex:  # an oracle that cannot run is a failed check
            err = detail = f"oracle error: {ex}"
        results.append({"name": e["name"], "ok": err is None, "detail": detail, "ops": e["ops"]})
    for con in cons.values():
        con.close()
    return results
