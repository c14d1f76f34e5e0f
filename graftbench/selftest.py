#!/usr/bin/env python3
"""Self-tests of the benchmark's own code (no JVM, a few seconds):

    python3 graftbench/selftest.py

* the metric names ``run.py`` prints are exactly those in BENCHMARK.json,
* the generators are deterministic for a seed and differ across seeds,
* a corrupted result counts as a failed operation, for both workloads.
"""
import copy
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def landed_rows(landing, dt, table):
    with open(os.path.join(landing, f"dt={dt}", f"{table}.csv")) as f:
        return sum(1 for _ in f) - 1


def query_op(name, timed, digest="d0", rows=1, t=1.0, traced=False):
    return {"name": name, "pass": 1 if timed else 0, "timed": timed, "t_s": t,
            "traced": traced, "ok": True, "rows": rows, "digest": digest}


def elt_op(exp, dt, batch, t=1.0):
    """The record a correct Runner.run batch yields, built from expectations."""
    def table(rows):
        cols = sorted(rows[0])
        return {"columns": cols, "rows": [[r[c] for c in cols] for r in rows]}
    n_reviews = len(exp["review_percentages"])
    return {
        "name": "batch", "pass": 1, "batch": batch, "dt": dt, "timed": True, "t_s": t, "ok": True,
        "staged": dict(exp["staged"]), "staged_total": dict(exp["staged_total"]),
        "analytics_rows": {"agg_monthly_orders": 1, "agg_shipments": 1, "review_percentages": n_reviews},
        "export_rows": {"agg_monthly_orders": 1, "agg_shipments": 1, "review_percentages": n_reviews},
        "analytics": {"agg_monthly_orders": table([exp["agg_monthly_orders"]]),
                      "agg_shipments": table([exp["agg_shipments"]]),
                      "review_percentages": table(exp["review_percentages"])},
    }


class SelfTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.BUILD, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="selftest-", dir=run.BUILD)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_generators_are_deterministic(self):
        digests = []
        for i, seed in enumerate((5, 5, 6)):
            d = os.path.join(self.tmp, str(i))
            gen.make_tables(os.path.join(d, "tables"), seed, 0.01, 0.05)
            gen.make_landing(os.path.join(d, "landing"), seed, 2, 500)
            digests.append(tree_digest(d))
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])

    def test_landing_follows_reference_shape(self):
        d = os.path.join(self.tmp, "landing")
        exp = gen.make_landing(d, 3, 2, 2000)
        header = open(os.path.join(d, f"dt={exp[0]['dt']}", "orders.csv")).readline().strip()
        self.assertTrue(header.endswith(",total_price"))
        # re-delivered keys are filtered by the watermark; reviews append in full
        self.assertEqual(exp[1]["staged"]["orders"], 2000)
        self.assertGreater(landed_rows(d, exp[1]["dt"], "orders"), 2000)
        self.assertEqual(exp[1]["staged"]["reviews"], landed_rows(d, exp[1]["dt"], "reviews"))
        import duckdb
        ship = os.path.join(d, f"dt={exp[0]['dt']}", "shipment_deliveries.csv")
        nulls = duckdb.sql(f"SELECT avg((shipment_date IS NULL)::INT), avg((delivery_date IS NULL)::INT) "
                           f"FROM read_csv('{ship}', header=true)").fetchone()
        self.assertAlmostEqual(nulls[0], gen.NULL_SHIP, delta=0.03)
        self.assertAlmostEqual(nulls[1], gen.NULL_DELIVERY, delta=0.03)

    def test_printed_names_match_benchmark_json(self):
        q = "q1_pivot_monthly_qty"
        rec = {"setup_s": 1.0, "retained_heap_mb": 50.0, "layer": {},
               "ops": [query_op(q, False), query_op(q, True), query_op(q, True, traced=True)]}
        verdict = {"attempted": 3, "failed": 0}
        line = run.report(verdict, run.end_to_end("query_mix", rec), 0)
        self.assertEqual(list(line), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(set(line["metrics"]), {m["name"] for m in run.SPEC["end_to_end"]})
        for w in ("query_mix", "elt_daily"):
            layer = run.per_layer(w, rec, verdict)
            self.assertEqual(set(layer), {m["name"] for m in run.SPEC["per_layer"]})
            line = run.report(verdict, layer, 1)
            self.assertEqual(set(line["metrics"]), {m["name"] for m in run.SPEC["per_layer"]})
        self.assertEqual([w["name"] for w in run.SPEC["workloads"]], ["elt_daily", "query_mix"])

    def test_corrupted_query_result_counts_as_failed(self):
        tables = os.path.join(self.tmp, "data", "tables")
        gen.make_tables(tables, 1, 0.01, 0.05)
        out0 = os.path.join(self.tmp, "out0")
        os.makedirs(os.path.join(out0, "q"))
        json.dump({"q": "SELECT count(*) AS n FROM nation"}, open(os.path.join(out0, "oracle_sql.json"), "w"))

        def verdict(first_rows, digests):
            pd.DataFrame({"n": first_rows}).to_parquet(os.path.join(out0, "q", "part-0.parquet"))
            ops = [query_op("q", False)] + [query_op("q", True, digest=d) for d in digests]
            return checks.verify("query_mix", {"ops": ops}, {"data": os.path.dirname(tables)}, out0)

        ok = verdict([25], ["d0", "d0"])
        self.assertEqual((ok["attempted"], ok["failed"]), (3, 0))
        later = verdict([25], ["d0", "corrupt"])
        self.assertEqual(later["failed"], 1)
        first = verdict([24], ["d0", "d0"])
        self.assertEqual(first["failed"], 3)
        self.assertIn("oracle", first["messages"][0])

    def test_oracle_floats_agree_up_to_a_rounding_tie(self):
        exp = pd.DataFrame({"k": ["a", "b"], "x": [173651404.24, 1.5]})
        tie = pd.DataFrame({"k": ["a", "b"], "x": [173651404.25, 1.5]})
        self.assertIsNone(checks.compare("q", tie, exp))
        for wrong in ({"k": ["a", "b"], "x": [173651404.0, 1.5]},
                      {"k": ["a", "c"], "x": [173651404.25, 1.5]}):
            self.assertIsNotNone(checks.compare("q", pd.DataFrame(wrong), exp))

    def test_corrupted_batch_counts_as_failed(self):
        data = os.path.join(self.tmp, "data")
        exp = gen.make_landing(os.path.join(data, "landing"), 2, 2, 1000)
        ops = [elt_op(e, e["dt"], i) for i, e in enumerate(exp)]
        inputs = {"expected": exp, "data": data}
        self.assertEqual(checks.verify("elt_daily", {"ops": ops}, inputs, self.tmp)["failed"], 0)
        for corrupt in (
                lambda o: o["staged"].update(orders=o["staged"]["orders"] + 1),
                lambda o: o["analytics"]["agg_shipments"]["rows"][0].__setitem__(0, -1),
                lambda o: o["analytics"]["review_percentages"]["rows"][0].__setitem__(1, 99.0),
                lambda o: o["export_rows"].update(agg_shipments=0)):
            bad = copy.deepcopy(ops)
            corrupt(bad[1])
            v = checks.verify("elt_daily", {"ops": bad}, inputs, self.tmp)
            self.assertEqual((v["attempted"], v["failed"]), (2, 1), v["messages"])


if __name__ == "__main__":
    unittest.main()
