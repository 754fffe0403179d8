"""Output checks: floor_mix against DuckDB running each query's oracle SQL,
medallion_etl against values computed from the feed generator. (txlog_dml
is checked by `txmodel`.) Each check returns a list of error strings; an
empty list means the outputs are correct."""
import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd

import inputs
import tables


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, floats rounded to 9 digits, rows sorted — the
    normalisation `tools/check_oracle.py` applies."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, exp: pd.DataFrame):
    """None when equal after canon(), else the reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns differ: {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"row counts differ: {len(g)} vs {len(e)}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError as ex:
        return f"values differ: {str(ex)[:300]}"
    return None


def floor_oracle(results_dir: str, data_dir: str, oracle_sql: dict, names: list) -> list:
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    errors = []
    for n in names:
        files = glob.glob(os.path.join(results_dir, n, "*.parquet"))
        if not files:
            errors.append(f"{n}: no result written")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if n not in oracle_sql:
            errors.append(f"{n}: no oracle SQL")
            continue
        why = compare(got, con.execute(oracle_sql[n]).fetchdf())
        if why:
            errors.append(f"{n}: {why}")
    return errors


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-12)
    return a == b


def medallion(days: list, history: dict, record: dict) -> list:
    """days: the measured feed days (with expected facts) in order."""
    errors = []
    checks = record["workload"]["checks"]
    seen = [history] + days
    for i, c in enumerate(checks):
        exp = seen[i]["expected"]
        if c["date"] != seen[i]["date"]:
            errors.append(f"check {i}: date {c['date']} != {seen[i]['date']}")
            continue
        upto = [d["expected"] for d in seen[:i + 1]]
        if c["silver_rows"] != exp["silver_rows"]:
            errors.append(f"{c['date']}: silver rows {c['silver_rows']} != {exp['silver_rows']}")
        want_gold = {
            "fact_asteroid_approach": sum(e["silver_rows"] for e in upto),
            "dim_asteroid": sum(e["dim_asteroid"] for e in upto),
            "dim_date": sum(e["dim_date"] for e in upto),
            "dim_celestial_body": sum(e["dim_celestial_body"] for e in upto)}
        for t, n in want_gold.items():
            if c["gold_rows"][t] != n:
                errors.append(f"{c['date']}: gold {t} rows {c['gold_rows'][t]} != {n}")
        want = inputs.catalog_answers(upto)
        for a in c["answers"]:
            rows, exp_rows = a["rows"], want[a["name"]]
            if len(rows) != len(exp_rows) or not all(
                    len(r) == len(e) and all(_same(x, y) for x, y in zip(r, e))
                    for r, e in zip(rows, exp_rows)):
                errors.append(f"{c['date']}: {a['name']} {rows[:3]} != {exp_rows[:3]}")
    if len(checks) < 1:
        errors.append("no medallion checks recorded")
    return errors
