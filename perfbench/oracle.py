"""DuckDB oracle check of the replay outputs, canonicalised the way
tools/compare_oracle.py does it: columns sorted by name, rows sorted by
every column, cells compared as strings."""
import os

import duckdb


def compare(events_path: str, oracles: dict, out_dir: str) -> dict:
    """{query: None if it matches its oracle, else a one-line reason}."""
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
    result = {}
    for name, sql in sorted(oracles.items()):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            result[name] = "no output"
            continue
        got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
        exp = con.sql(sql).df()
        result[name] = diff(got, exp)
    con.close()
    return result


def _naive(df):
    # Spark writes timestamps as instants, the oracle computes them from the
    # table's local timestamps: compare both as UTC wall-clock
    for c in df.columns:
        tz = getattr(df[c].dtype, "tz", None)
        if tz is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def diff(got, exp):
    got = _naive(got.reindex(sorted(got.columns), axis=1))
    exp = _naive(exp.reindex(sorted(exp.columns), axis=1))
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    if len(got) == 0:
        return "no rows"
    got = got.sort_values(by=list(got.columns), ignore_index=True)
    exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
    bad = [c for c in got.columns if not (got[c].astype(str) == exp[c].astype(str)).all()]
    return f"value mismatch in {bad}" if bad else None
