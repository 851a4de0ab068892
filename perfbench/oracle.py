"""DuckDB oracle check of query_mix: each pool query's Spark result
(one parquet dir per query, written outside the timed region) against
its `SparkEntry.oracleSql` twin run over the same parquet tables.
Columns are sorted by name and rows by value, then compared cell by
cell; dtypes must match as well (datetime units aside)."""
import json
import os


def compare(data_dir, check_dir, pool):
    """Return one failure string per pool query that does not match."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name).replace("'", "''")
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    oracle_file = os.path.join(check_dir, "oracle.json")
    oracle = json.load(open(oracle_file)) if os.path.exists(oracle_file) else {}
    failures = []
    for name in pool:
        out = os.path.join(check_dir, name)
        if not os.path.isdir(out):
            failures.append(f"{name}: no result written")
            continue
        got = pd.read_parquet(out)
        if name not in oracle:
            if len(got) == 0:
                failures.append(f"{name}: no rows and no oracle")
            continue
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failure
            failures.append(f"{name}: oracle SQL error: {e}")
            continue
        msg = diff(got, want)
        if msg:
            failures.append(f"{name}: {msg}")
    return failures


def diff(got, want):
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"

    def kind(s):
        d = str(s.dtype)
        return "datetime64" if d.startswith("datetime64") else d

    bad = [f"{c}: {kind(got[c])} vs {kind(want[c])}" for c in got.columns
           if kind(got[c]) != kind(want[c])]
    if bad:
        return "dtype " + "; ".join(bad[:4])
    cols = list(got.columns)
    g = got.sort_values(by=cols).reset_index(drop=True)
    w = want.sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        try:
            eq = (g[c].values == w[c].values) | (g[c].isna().values & w[c].isna().values)
        except Exception:  # noqa: BLE001 - unorderable cells compare as text
            eq = g[c].astype(str).values == w[c].astype(str).values
        if not eq.all():
            i = int((~eq).argmax())
            return f"{c}[row {i}]: got {g[c].iloc[i]!r}, want {w[c].iloc[i]!r}"
    return None
