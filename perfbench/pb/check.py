"""Output checks against DuckDB, run after the timed phase.

`canon` and `frame_diff` follow `tools/oracle_check.py`: columns sorted
by name, rows sorted by every column, then row count, column names, dtype
kind and values compared. Pipeline gates and the ingest hits compare
values exactly, as the repository's oracle gate does; the SQL session
compares floating-point aggregates to a relative 1e-9, since the two
engines sum in different orders.
"""
import json
import math
import os
import re

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


PLAN_MARK = "\n-- spark physical plan --\n"
# the tables a statement reads: FROM and JOIN operands, comma lists too
# (the generated statements use no aliases)
_READS = re.compile(r"\b(?:FROM|JOIN)\s+(\w+(?:\s*,\s*\w+)*)", re.I)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def frame_diff(spark_df, duck_df):
    """None when the frames agree, else a one-line description."""
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    bad = []
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind != b.dtype.kind:
            bad.append(f"{c}(dtype spark={a.dtype} duck={b.dtype})")
            continue
        if a.dtype.kind == "f":
            eq = (a.isna() & b.isna()) | (a == b)
        else:
            av = a.astype(object).where(~a.isna(), None)
            bv = b.astype(object).where(~b.isna(), None)
            eq = pd.Series([_same(x, y) for x, y in zip(av, bv)])
        if not eq.all():
            bad.append(f"{c}(n_bad={int((~eq).sum())})")
    return "; ".join(bad) or None


def _same(x, y):
    if hasattr(x, "tolist"):
        x = x.tolist()
    if hasattr(y, "tolist"):
        y = y.tolist()
    return x == y


def _num_close(x, y):
    if isinstance(x, bool) or isinstance(y, bool):
        return x == y
    if isinstance(x, (int, float)) and isinstance(y, (int, float)):
        if isinstance(x, int) and isinstance(y, int):
            return x == y
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    return x == y


def _key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, str):
        return (1, v)
    return (2, round(float(v), 6))


def rows_match(spark_rows, duck_rows):
    """Order-free comparison of two row lists."""
    if len(spark_rows) != len(duck_rows):
        return False
    a = sorted(spark_rows, key=lambda r: [_key(v) for v in r])
    b = sorted(duck_rows, key=lambda r: [_key(v) for v in r])
    return all(len(r) == len(q) and all(_num_close(x, y) for x, y in zip(r, q))
               for r, q in zip(a, b))


def explain_problem(sql, text):
    """None when `text`, an EXPLAIN result, holds a physical plan after
    its marker that scans every table `sql` reads; else the problem.
    Only the star tables are explained, so a scan is named by the
    `<table>.parquet` directory in its `Location:` line."""
    _, mark, plan = text.partition(PLAN_MARK)
    if not mark or "== Physical Plan ==" not in plan:
        return "EXPLAIN without a physical plan"
    locations = "\n".join(l for l in plan.splitlines()
                          if l.startswith("Location:"))
    tables = {t.strip() for m in _READS.finditer(sql)
              for t in m.group(1).split(",")}
    missing = sorted(t for t in tables if f"/{t}.parquet" not in locations)
    if not tables or missing:
        return f"EXPLAIN plan scans no {missing or 'table'}"
    return None


def check_sql(run_dir, data_dir):
    """Replay the executed statement prefix in DuckDB; return the list of
    (statement index, problem) for every mismatch."""
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "results.jsonl")) as fh:
        results = [json.loads(l) for l in fh]
    with open(os.path.join(run_dir, "statements_duck.txt")) as fh:
        duck = fh.read().splitlines()
    con = connect(data_dir)
    problems = []
    for i, res in enumerate(results):
        sql = duck[i]
        if "error" in res:
            continue  # the engine raised: already counted as failed
        if sql.startswith("EXPLAIN "):
            bad = explain_problem(sql, res.get("explain", ""))
            if bad:
                problems.append((i, bad))
            continue
        try:
            got = con.execute(sql).fetchall()
        except duckdb.Error as e:
            problems.append((i, f"duckdb: {e}"))
            continue
        if "rows" in res:
            if not rows_match(res["rows"], got):
                problems.append((i, f"rows differ: engine {res['rows'][:3]} "
                                    f"duckdb {got[:3]}"))
        elif "count" in res:
            if not got or got[0][0] != res["count"]:
                problems.append((i, f"count engine={res['count']} "
                                    f"duckdb={got[0][0] if got else None}"))
    with open(os.path.join(out, "final_state.jsonl")) as fh:
        states = [json.loads(l) for l in fh]
    for st in states:
        got = con.execute(f"SELECT * FROM {st['table']}").fetchall()
        if st["rows"] is None or not rows_match(st["rows"], got):
            problems.append((st["table"], "post-DML state differs"))
    return problems


def check_frames(run_dir, data_dir, names):
    """Each `<out>/results/<name>` parquet against its oracle SQL."""
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = connect(data_dir)
    problems = []
    for name in names:
        try:
            spark_df = pq.read_table(os.path.join(out, "results", name)).to_pandas()
            duck_df = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            problems.append((name, f"{type(e).__name__}: {e}"[:300]))
            continue
        d = frame_diff(spark_df, duck_df)
        if d:
            problems.append((name, d))
    return problems
