"""Correctness check, run after the timed region.

Spark's outputs are compared with DuckDB over the same inputs the way
tools/selfcheck.py compares them: columns sorted by name, rows sorted,
exact values, and float columns bitwise (so -0.0 against 0.0 fails).
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

# Keys with no oracle: their check is a non-empty output.
ROWS_ONLY = {"q_dedup_near_keep", "q_semdedup"}


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, oracle_df):
    """None when equal, else a one-line reason."""
    s, o = canon(spark_df), canon(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"SCHEMA_MISMATCH spark={list(s.columns)} oracle={list(o.columns)}"
    if len(s) != len(o):
        return f"ROWCOUNT_MISMATCH spark={len(s)} oracle={len(o)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "VALUE_MISMATCH: " + str(e).replace("\n", " | ")[:300]
    for c in s.columns:
        if s[c].dtype.kind == "f" and o[c].dtype.kind == "f":
            sv, ov = s[c].to_numpy("float64"), o[c].to_numpy("float64")
            neq = (sv.view("uint64") != ov.view("uint64")) & ~(np.isnan(sv) & np.isnan(ov))
            if neq.any():
                i = int(np.argmax(neq))
                return f"BITWISE_MISMATCH {c}[{i}]: spark={sv[i]!r} oracle={ov[i]!r}"
    return None


def _connect(tmp):
    """A DuckDB connection that spills, if it must, into tmp."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _spark_output(con, path):
    if not glob.glob(f"{path}/*.parquet"):
        return None
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def check_keys(inputs, check_dir, keys, tmp):
    """Per key: None (pass) or the failure reason."""
    con = _connect(tmp)
    for f in glob.glob(f"{inputs}/*.parquet"):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    with open(f"{check_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    out = {}
    for k in keys:
        try:
            got = _spark_output(con, f"{check_dir}/{k}")
            if got is None:
                out[k] = "NO_OUTPUT"
            elif k in oracle:
                out[k] = compare(got, con.execute(oracle[k]).df())
            elif k in ROWS_ONLY:
                out[k] = None if len(got) else "EMPTY_OUTPUT"
            else:
                out[k] = "NO_ORACLE"
        except Exception as e:  # an oracle or read error is a failed check
            out[k] = f"CHECK_ERROR: {type(e).__name__}: {str(e)[:200]}"
    return out


BARS = """SELECT user_id, CAST(ts AS DATE) AS d, arg_min(value, ts) AS open,
  arg_max(value, ts) AS close FROM store {where} GROUP BY 1, 2"""

LOOKUP_SQL = {
    "latest": "SELECT user_id, max(ts) AS latest_ts, CAST(max(ts) AS DATE) AS latest_d "
              "FROM store GROUP BY user_id",
    "history": f"""WITH bars AS ({BARS.format(where="WHERE user_id = {p}")})
SELECT user_id, d, close,
  CASE WHEN row_number() OVER w >= 5
    THEN CAST(sum(CAST(close AS DECIMAL(28,6)))
           OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) / 5 END AS sma_5,
  round((open - lag(open, 1) OVER w) / nullif(lag(open, 1) OVER w, 0) * 100, 6) AS gap_pct
FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY d)""",
    "sector": """WITH ev AS (SELECT * FROM store WHERE CAST(ts AS DATE) <= DATE '{p}'),
bars AS (SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close FROM ev GROUP BY 1, 2),
sh AS (SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS shares
  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
outst AS (SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS outstanding
  FROM ev WHERE event_type = 'signup' GROUP BY 1, 2)
SELECT b.user_id, b.d, b.close,
  round(b.close * sh.shares / nullif(outst.outstanding, 0), 6) AS calculated_price
FROM bars b
ASOF LEFT JOIN sh ON b.user_id = sh.user_id AND b.d >= sh.d
ASOF LEFT JOIN outst ON b.user_id = outst.user_id AND b.d >= outst.d
WHERE b.d = DATE '{p}'""",
    "day": "SELECT * FROM store WHERE CAST(ts AS DATE) = DATE '{p}'",
}


EVENT_COLS = "event_id, ts, user_id, event_type, value, props"


def check_serve(inputs, serve, tmp):
    """Every lookup's re-run output against DuckDB running the same lookup
    over the store state the script should have produced by then, and each
    pass's final store against the final state (every append and every
    restatement is followed by a lookup, so that is the last lookup's).
    Returns (reasons keyed by lookup op ref, reasons keyed by pass)."""
    con = _connect(tmp)
    with open(f"{inputs}/script.tsv") as f:
        script = [line.rstrip("\n").split("\t") for line in f if line.strip()]

    def expected(i):
        con.execute(f"CREATE OR REPLACE VIEW store AS SELECT * FROM "
                    f"read_parquet('{inputs}/expect/{i}.parquet')")

    lookups = {}
    for lk in serve["lookups"]:
        _, kind, param = script[lk["line"]]
        try:
            expected(lk["line"])
            want = con.execute(LOOKUP_SQL[kind].format(p=param)).df()
            lookups[lk["ref"]] = compare(_spark_output(con, lk["output"]), want)
        except Exception as e:
            lookups[lk["ref"]] = f"CHECK_ERROR: {type(e).__name__}: {str(e)[:200]}"
    finals = {}
    expected(max(i for i, x in enumerate(script) if x[0] == "lookup"))
    want = con.execute(f"SELECT {EVENT_COLS} FROM store").df()
    for p, store in serve["stores"].items():
        try:
            got = con.execute(f"SELECT {EVENT_COLS} FROM read_parquet('{store}/**/*.parquet', "
                              "hive_partitioning = false, union_by_name = true)").df()
            finals[p] = compare(got, want)
        except Exception as e:
            finals[p] = f"CHECK_ERROR: {type(e).__name__}: {str(e)[:200]}"
    return lookups, finals
