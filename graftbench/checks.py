"""Output checks, run after the timed region.

* ``query_mix``: each query's first result (its warm-up execution)
  must equal its DuckDB twin from ``SparkEntry.oracleSql`` under
  ``tools/check_oracle.py``'s comparison (columns sorted by name, rows
  sorted by every column), floats equal within a relative 1e-9; every
  later execution must reproduce that first result's row count and digest.
* ``elt_daily``: every batch must stage exactly the rows the generator
  expects (new keys above the watermark; every review row), the analytics
  tables must hold the aggregates derived from the generator, and each
  export CSV must hold as many data rows as its analytics table.

A failed or mismatching operation counts once in ``failed``.
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check_oracle  # noqa: E402

PCT_ATOL = 0.0051   # review percentages are rounded to 2 decimals
# Spark and DuckDB sum doubles in different orders, so a rounded sum whose
# exact value is a rounding tie can round either way: with seed 15, q44's
# NATION_17 revenue is exactly 173651404.2450, DuckDB's double sum lands
# just below it and rounds to .24, the engine's to .25. A relative 1e-9
# admits that and nothing a wrong join, filter or grouping would produce.
FLOAT_RTOL = 1e-9


def compare(name, got, exp):
    """``check_oracle.compare``, with floats equal within ``FLOAT_RTOL``."""
    err = check_oracle.compare(name, got, exp)
    if err is None or "float diffs" not in err:
        return err
    g, e = check_oracle.canon(got), check_oracle.canon(exp)
    for c in g.columns:
        same = (np.allclose(g[c], e[c], rtol=FLOAT_RTOL, atol=0.0, equal_nan=True)
                if g[c].dtype.kind == "f" else not (g[c] != e[c]).any())
        if not same:
            return err
    return None


def oracle_check(tables_dir, out_dir):
    """{query: error or None} for every query in ``out_dir/oracle_sql.json``,
    its first result read from ``out_dir/<query>/*.parquet``.
    """
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    result = {}
    for name in sorted(oracle):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            result[name] = "no engine result"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as ex:  # an oracle that cannot run is a failed check
            result[name] = f"oracle SQL error: {ex}"
            continue
        result[name] = compare(name, got, exp)
    con.close()
    return result


def _table(obs):
    return [dict(zip(obs["columns"], r)) for r in obs["rows"]]


def elt_mismatch(op, exp):
    """None when a batch's observed state matches the generator, else why."""
    if op["staged"] != exp["staged"]:
        return f"staged {op['staged']} != expected {exp['staged']}"
    if op["staged_total"] != exp["staged_total"]:
        return f"staging totals {op['staged_total']} != expected {exp['staged_total']}"
    a = op["analytics"]
    for name in ("agg_monthly_orders", "agg_shipments"):
        rows = _table(a[name])
        if rows != [exp[name]]:
            return f"{name} {rows} != expected {exp[name]}"
    got = {r["product_id"]: r for r in _table(a["review_percentages"])}
    want = {r["product_id"]: r for r in exp["review_percentages"]}
    if sorted(got) != sorted(want):
        return f"review_percentages products {sorted(got)} != {sorted(want)}"
    for p, w in want.items():
        g = got[p]
        if g["tt_reviews"] != w["tt_reviews"] or g["product_name"] != w["product_name"]:
            return f"review_percentages product {p}: {g} != expected {w}"
        for k in range(1, 6):
            c = f"pct_{k}_star"
            if abs(g[c] - w[c]) > PCT_ATOL:
                return f"review_percentages product {p} {c}: {g[c]} != expected {w[c]}"
    for name, n in op["analytics_rows"].items():
        if op["export_rows"].get(name) != n:
            return f"export {name} has {op['export_rows'].get(name)} rows, analytics {n}"
        if len(a[name]["rows"]) != n:
            return f"analytics {name} reported {n} rows, holds {len(a[name]['rows'])}"
    return None


def verify(workload, rec, inputs, out_dir):
    """Count attempted and failed operations of a run's records."""
    attempted, failed, messages = 0, 0, []

    def bad(msg):
        nonlocal failed
        failed += 1
        messages.append(msg)

    if workload == "elt_daily":
        expected = {e["dt"]: e for e in inputs["expected"]}
        for op in rec["ops"]:
            attempted += 1
            where = f"pass {op['pass']} batch {op['dt']}"
            if not op["ok"]:
                bad(f"{where}: {op.get('error')}")
                continue
            err = elt_mismatch(op, expected[op["dt"]])
            if err:
                bad(f"{where}: {err}")
        return {"attempted": attempted, "failed": failed, "messages": messages}

    first = {o["name"]: (o["rows"], o["digest"])
             for o in rec["ops"] if o["pass"] == 0 and o["ok"]}
    for name, err in oracle_check(os.path.join(inputs["data"], "tables"), out_dir).items():
        if err and name in first:
            # every execution reproduces a wrong first result: all count
            first[name] = None
            messages.append(f"{name} first result vs oracle: {err}")
    for o in rec["ops"]:
        attempted += 1
        where = f"pass {o['pass']} {o['name']}"
        if not o["ok"]:
            bad(f"{where}: {o.get('error')}")
        elif o["name"] not in first:
            bad(f"{where}: no successful first result to check against")
        elif first[o["name"]] is None:
            failed += 1  # its message was recorded with the oracle result
        elif (o["rows"], o["digest"]) != first[o["name"]]:
            bad(f"{where}: {o['rows']} rows, digest {o['digest'][:12]} != first result's "
                f"{first[o['name']][0]} rows, {first[o['name']][1][:12]}")
    return {"attempted": attempted, "failed": failed, "messages": messages}
