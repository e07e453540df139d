"""DuckDB oracle check for the sf0.1 workloads.

Each query's untimed output (parquet) is compared with its oracle SQL run
in DuckDB over the same tables, the way the repository's correctness gate
compares them: columns sorted by name, rows sorted by value, cells compared
as strings. The tables never change, so the oracle's answers are cached
under .bench_build/oracle. A stream query whose batch twin (the batch query with the same
oracle SQL) was written too must also equal that twin's output.
"""
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def _canonical(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True).astype(str)


def _read(con, path):
    return con.sql(f"SELECT * FROM '{path}/*.parquet'").df()


def _diff(got, exp):
    """None if equal, else a one-line description."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    if not got.equals(exp):
        return f"{int((got != exp).values.sum())} of {got.size} cells differ"
    return None


def _expected(con, sql, cache):
    """The oracle's canonical answer, cached by SQL text and input generator
    (the sf0.1 tables are the same in every run)."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_inputs.py"), "rb") as fh:
        key = hashlib.sha256(fh.read() + sql.encode()).hexdigest()[:32]
    path = os.path.join(cache, f"{key}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    exp = _canonical(con.sql(sql).df())
    os.makedirs(cache, exist_ok=True)
    exp.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def check(out, data, names, cache):
    """Returns (queries that disagree with their oracle, twin failures, notes)."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    with open(os.path.join(out, "twins.json")) as fh:
        twins = json.load(fh)
    mismatched, twin_failures, notes = [], [], []
    outputs = {}
    for name in sorted(set(names) | set(twins.values())):
        path = os.path.join(out, name)
        if not os.path.isdir(path):
            outputs[name] = None
            continue
        outputs[name] = _canonical(_read(con, path))
    for name in sorted(names):
        got = outputs.get(name)
        if got is None:
            mismatched.append(name)
            notes.append(f"oracle {name}: no output")
            continue
        if name not in sql:
            mismatched.append(name)
            notes.append(f"oracle {name}: no oracle SQL")
            continue
        try:
            exp = _expected(con, sql[name], cache)
        except duckdb.Error as e:
            mismatched.append(name)
            notes.append(f"oracle {name}: {str(e).splitlines()[0]}")
            continue
        d = _diff(got, exp)
        if d:
            mismatched.append(name)
            notes.append(f"oracle {name}: {d}")
    for stream, batch in sorted(twins.items()):
        if outputs.get(stream) is None or outputs.get(batch) is None:
            twin_failures.append(f"twin {stream} = {batch}: output missing")
            continue
        d = _diff(outputs[stream], outputs[batch])
        if d:
            twin_failures.append(f"twin {stream} = {batch}: {d}")
        else:
            notes.append(f"twin {stream} = {batch}: equal")
    return mismatched, twin_failures, notes
