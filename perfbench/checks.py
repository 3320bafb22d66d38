"""Output checks run by the python side, outside the timed region:
the ETL CSVs against their DuckDB oracle SQL.

The comparison follows scripts/check_parity.py: columns sorted by name,
rows sorted by every column, floats rounded to 6 places, everything else
compared as its printed value.
"""
import glob
import os

import duckdb
import pandas as pd


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    df = df.astype(str).replace({"nan": "", "None": "", "<NA>": "",
                                 "NaT": ""})
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _numeric_text(df):
    """CSV cells parse to numbers where they can; print them the way a
    float column prints (rounded), so 1.50 and 1.5 compare equal."""
    out = df.copy()
    for c in out.columns:
        num = pd.to_numeric(out[c], errors="coerce")
        if num.notna().all() and pd.api.types.is_float_dtype(num):
            out[c] = num.round(6)
    return out


def differs(got, want):
    """None when the frames hold the same rows, else a reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in w.columns:
        bad = g[c] != w[c]
        if bad.any():
            i = bad[bad].index[0]
            return f"col {c}: oracle={w[c][i]!r} got={g[c][i]!r}"
    return None


class Oracle:
    """DuckDB over one directory of parquet tables; results cached."""

    def __init__(self, table_dir):
        self.con = duckdb.connect()
        for p in sorted(glob.glob(f"{table_dir}/*.parquet")):
            name = os.path.basename(p)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                             f"read_parquet('{p}')")
        self.cache = {}

    def run(self, sql):
        if sql not in self.cache:
            self.cache[sql] = self.con.execute(sql).fetchdf()
        return self.cache[sql]


def check_etl(ops, oracle_sql, inputs):
    """Each job op's CSV against its job's oracle over the seed tables."""
    oracle = Oracle(inputs)
    for op in ops:
        if op["kind"] != "job" or not op["ok"]:
            continue
        try:
            want = oracle.run(oracle_sql["job_" + op["job"]])
            got = pd.read_csv(op["output"], dtype=str, keep_default_na=False)
            why = differs(_numeric_text(got), _numeric_text(
                want.astype(object).where(want.notna(), "")))
        except Exception as e:  # a check that cannot run is a failure
            why = f"check error: {e}"
        if why:
            op["ok"], op["error"] = False, why
