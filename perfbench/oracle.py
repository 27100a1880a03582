"""DuckDB cross-check of the registry results a run wrote.

The driver writes the first result of each registry query it ran to
`<work>/results/<name>` and reports each query's oracle SQL
(`SparkEntry.oracleSql`). Each result must equal the oracle's, after
column names are sorted and rows are sorted (the normalisation of
`tools/compare_oracle.py`).
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: None if v is None else str(v))
        elif "datetime" in str(s.dtype):
            df[c] = s.astype("datetime64[us]")
        elif str(s.dtype) in ("int8", "int16", "int32", "uint32"):
            df[c] = s.astype("int64")
        elif str(s.dtype) == "float32":
            df[c] = s.astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def check(data_dir, results_dir, oracles):
    """Names of the queries whose result differs from the oracle, each
    with a reason. Queries without oracle SQL are skipped."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = []
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        got = pd.concat([pd.read_parquet(f) for f in files],
                        ignore_index=True) if files else pd.DataFrame()
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failure
            bad.append(f"{name}: oracle SQL failed: {e}")
            continue
        g, w = _norm(got), _norm(want)
        if list(g.columns) != list(w.columns):
            bad.append(f"{name}: columns {list(g.columns)} != "
                       f"{list(w.columns)}")
        elif not (g.shape == w.shape and g.equals(w)):
            bad.append(f"{name}: {g.shape} differs from oracle {w.shape}")
    con.close()
    return bad
