"""Check dedup entry outputs against the catalog's DuckDB oracle SQL.

The benchmark JVM writes each entry's output (from the set-up pass) as
parquet under `<outputs>/<entry>/`, the oracle SQL of the entries that
have one to `<sql_file>`, and the input tables under `<tables>`. An entry
with an oracle must match it as a multiset of rows (columns compared by
name, the way the catalog's own oracle check does); an entry without one
must have produced at least one row.
"""
import glob
import json
import os

TABLES = ["lineitem", "orders", "customer", "part", "supplier", "nation",
          "region", "events", "documents", "embeddings"]


def _canon(df):
    df = df[sorted(df.columns)]
    return sorted((tuple(_value(v) for v in rec) for rec in df.itertuples(index=False)),
                  key=repr)


def _value(v):
    """A cell as a plain, comparable Python value (arrays → tuples, nulls → None)."""
    import pandas as pd
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    return None if pd.isna(v) else v


def check_dedup(tables, outputs, sql_file):
    """Return (one message per entry whose output is wrong, entries
    compared with an oracle, entries checked by row count)."""
    try:
        import duckdb
        import pandas as pd
    except ImportError as e:
        return [f"dedup oracle unavailable: {e}"], 0, 0
    sql = json.load(open(sql_file)) if os.path.isfile(sql_file) else {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(tables, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{path}/*.parquet')")
    bad = []
    entries = sorted(d for d in os.listdir(outputs)
                     if os.path.isdir(os.path.join(outputs, d))) if os.path.isdir(outputs) else []
    if not entries:
        return ["dedup: no entry outputs to check"], 0, 0
    rows_only = 0
    for e in entries:
        files = sorted(glob.glob(os.path.join(outputs, e, "*.parquet")))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if e not in sql:
            rows_only += 1
            if len(got) == 0:
                bad.append(f"{e}: no rows (no oracle; rows-only check)")
            continue
        try:
            want = con.execute(sql[e]).fetchdf()
        except Exception as ex:  # the oracle itself failing is a finding too
            bad.append(f"{e}: oracle SQL failed: {str(ex).splitlines()[0]}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            bad.append(f"{e}: columns {sorted(got.columns)} vs oracle {sorted(want.columns)}")
        elif len(got) != len(want):
            bad.append(f"{e}: {len(got)} rows vs oracle {len(want)}")
        elif _canon(got) != _canon(want):
            bad.append(f"{e}: values differ from oracle")
    return bad, len(entries) - rows_only, rows_only
