"""DuckDB oracle compare for registry answers.

Each oracle-backed query's Spark answer (a parquet directory per query)
is compared with its `SparkEntry.oracleSql` run by DuckDB over the same
input tables: columns sorted by name, rows sorted, values compared
exactly."""
import os

import duckdb
import pandas as pd

from fixtures import TABLES


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            try:
                as_int = pd.to_numeric(df[c])
                if pd.api.types.is_integer_dtype(as_int):
                    df[c] = as_int
            except (ValueError, TypeError):
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare(con, sql, answer_dir):
    """None when the answer matches the oracle, else why not."""
    got = canon(con.execute(f"SELECT * FROM read_parquet('{answer_dir}/*.parquet')").df())
    want = canon(con.execute(sql).df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "value mismatch: " + " ".join(str(e).split())[:300]
    return None


def check(oracle_sql, data_dir, answers_dir, missing):
    """Compare every oracle-backed answer; returns the checked names and a
    name -> reason map of mismatches. `missing` maps queries that have no
    answer to why; each counts as a mismatch."""
    con = connect(data_dir)
    mismatches = dict(missing)
    checked = sorted(oracle_sql)
    for name in checked:
        if name in mismatches:
            continue
        try:
            why = compare(con, oracle_sql[name], os.path.join(answers_dir, name))
        except Exception as e:  # noqa: BLE001 -- any oracle failure is a mismatch
            why = f"{type(e).__name__}: {e}"[:300]
        if why:
            mismatches[name] = why
    return {"checked": checked, "mismatches": mismatches}
