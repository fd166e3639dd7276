"""Output checks.

Batch: each query's result (written by the harness after the timed window)
is compared with its `SparkEntry.oracleSql` text run in DuckDB over the
same generated tables: same columns, same rows in the same order, exact
values. Every timed execution must also have returned that result's row
count. Stream: the harness compares the streamed outputs with the engine's
batch run over the full event log; this module only turns its report into
counts.
"""
import json
import math
import os

import duckdb
import pandas as pd

import gen


def _same(got, exp):
    """None if the two frames are equal, else the first difference: the
    comparison `scripts/check_oracle.py` makes (that script runs on import,
    so it cannot be called from here)."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if str(g.dtype).startswith("datetime") or \
                str(e.dtype).startswith("datetime"):
            g = pd.to_datetime(g).astype("datetime64[us]")
            e = pd.to_datetime(e).astype("datetime64[us]")
        for i, (a, b) in enumerate(zip(g.tolist(), e.tolist())):
            na = a is None or (isinstance(a, float) and math.isnan(a))
            nb = b is None or (isinstance(b, float) and math.isnan(b))
            if na and nb:
                continue
            if a != b:
                return f"column {c} row {i}: {a!r} != {b!r}"
    return None


def batch(res, out, data):
    """Returns (attempted, failed, problems, wrong) for a batch run, where
    `wrong` names the queries whose output failed the check."""
    with open(os.path.join(out, "oracle.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data, t + '.parquet')}'")
    attempted = failed = 0
    problems, wrong = [], set()
    for name, ex in sorted(res["executions"].items()):
        attempted += ex["runs"]
        bad = None
        try:
            got = pd.read_parquet(os.path.join(out, "q", name))
            if oracle.get(name) is None:
                bad = "no oracle SQL"
            else:
                bad = _same(got, con.sql(oracle[name]).df())
            if bad is None and any(r != len(got) for r in ex["rows"]):
                bad = f"timed row counts {ex['rows']} vs checked {len(got)}"
        except Exception as e:  # a crash in the check is a failed check
            bad = f"check error: {str(e)[:200]}"
        if bad:
            failed += ex["runs"]
            wrong.add(name)
            problems.append(f"{name}: {bad}")
        else:
            failed += ex["failed"]
            if ex["failed"]:
                problems.append(f"{name}: {ex['failed']} executions failed")
    return attempted, failed, problems, wrong


def stream(res):
    """Returns (attempted, failed, problems) for a stream run."""
    c = res["checks"]
    return c["attempted"], c["failed"], c["problems"]
