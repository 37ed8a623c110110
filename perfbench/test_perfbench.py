"""Tests for the benchmark's own logic: the percentile rule, span self
time, the input generators and the output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

import check
import gen
import report

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(report.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(report.tail(list(range(1, 1001))), (99, 990))
        for n in range(20, 400):
            xs = [float(i) for i in range(n)]
            p, v = report.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            if p < 99:  # one percentile higher would leave fewer than ten beyond
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_small_samples_fall_back_to_the_maximum(self):
        self.assertEqual(report.tail([3.0, 1.0, 2.0]), (100, 3.0))
        self.assertEqual(report.tail(list(range(19))), (100, 18))
        self.assertEqual(report.tail(list(range(20)))[0], 50)


def span(i, parent, start, end, name="x", trace=1):
    return {"id": i, "parent": parent, "trace": trace, "name": name,
            "start_ms": start, "end_ms": end, "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [
            span(1, 0, 0, 100),
            span(2, 1, 10, 30),
            span(3, 1, 20, 50),   # overlaps 2: the union 10..50 counts once
            span(4, 1, 90, 120),  # runs past its parent: only 90..100 counts
            span(5, 2, 15, 20),
        ]
        st = report.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 40 - 10)
        self.assertAlmostEqual(st[2], 20 - 5)
        self.assertAlmostEqual(st[3], 30)
        self.assertAlmostEqual(st[4], 30)
        self.assertAlmostEqual(st[5], 5)

    def test_orphans_join_the_oldest_enclosing_request(self):
        spans = [
            span(1, 0, 0, 100, "serve.request", trace=1),
            span(2, 0, 40, 140, "serve.request", trace=2),
            span(3, -1, 60, 70, "exec.job", trace=-1),
            span(4, 3, 61, 69, "exec.stage", trace=-1),
            span(5, -1, 120, 130, "catalyst.plan", trace=-1),
            span(6, -1, 500, 510, "exec.job", trace=-1),
        ]
        by = {s["id"]: s for s in report.adopt_orphans(spans)}
        self.assertEqual((by[3]["parent"], by[3]["trace"]), (1, 1))
        self.assertEqual(by[4]["trace"], 1)
        self.assertEqual((by[5]["parent"], by[5]["trace"]), (2, 2))
        self.assertEqual(by[6]["parent"], 0)


class Generators(unittest.TestCase):
    def test_taxi_csv_is_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, n) for n in "abc")
            gen.taxi_csv(a, 7, 5000)
            gen.taxi_csv(b, 7, 5000)
            gen.taxi_csv(c, 8, 5000)
            with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
                ra, rb, rc = fa.read(), fb.read(), fc.read()
            self.assertEqual(ra, rb)
            self.assertNotEqual(ra, rc)

    def test_expected_clean_count_matches_the_etl_filters(self):
        # the ETL's filters (etl/Transformations) restated in DuckDB
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "raw.csv")
            exp = gen.taxi_csv(path, 3, 20000)
            kept = duckdb.sql(f"""
                WITH t AS (SELECT *, (epoch(tpep_dropoff_datetime)
                                      - epoch(tpep_pickup_datetime)) / 60.0 AS dur
                           FROM read_csv_auto('{path}', header=true))
                SELECT count(*) FROM t
                WHERE trip_distance > 0 AND fare_amount > 0 AND total_amount > 0
                  AND passenger_count > 0 AND dur BETWEEN 1 AND 180
                  AND pickup_longitude > -75 AND pickup_longitude < -72
                  AND dropoff_longitude > -75 AND dropoff_longitude < -72
                  AND pickup_latitude > 40 AND pickup_latitude < 42
                  AND dropoff_latitude > 40 AND dropoff_latitude < 42
                  AND trip_distance / (dur / 60.0) BETWEEN 0 AND 120""").fetchone()[0]
            self.assertEqual(kept, exp["expected_clean"])
            self.assertEqual(exp["raw_rows"] - kept,
                             sum(exp["planted"][k] for k in gen.DROPPED))
            n7 = duckdb.sql(f"SELECT count(*) FROM read_csv_auto('{path}', header=true) "
                            "WHERE payment_type = 7").fetchone()[0]
            self.assertEqual(n7, exp["planted"]["keep_payment_7"])

    def test_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 1), ("b", 1), ("c", 2)):
                gen.tables(os.path.join(d, name), seed, 0.001)
            for t in check.TABLES:
                ta, tb, tc = (pq.read_table(os.path.join(d, n, f"{t}.parquet"))
                              for n in "abc")
                self.assertTrue(ta.equals(tb), t)
                if t not in ("region", "nation"):
                    self.assertFalse(ta.equals(tc), t)


class GateChecks(unittest.TestCase):
    SQL = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1 ORDER BY 1"

    def run_gate(self, corrupt=False, error=None):
        with tempfile.TemporaryDirectory() as d:
            data, out = os.path.join(d, "data"), os.path.join(d, "out")
            gen.tables(data, 1, 0.001)
            os.makedirs(os.path.join(out, "q_demo"))
            con = duckdb.connect()
            con.sql(f"CREATE VIEW nation AS SELECT * FROM '{data}/nation.parquet'")
            sql = self.SQL.replace("count(*)", "count(*) + 1") if corrupt else self.SQL
            pq.write_table(con.sql(sql).arrow(), os.path.join(out, "q_demo", "part-0.parquet"))
            oracle = check.oracle_results(data, {"q_demo": self.SQL}, out)
            res = {"warmup": [{"name": "q_demo", "error": None}],
                   "passes": [[{"name": "q_demo", "error": error}]]}
            return check.gate_ops(res, oracle)

    def test_matching_output_passes(self):
        self.assertTrue(all(o["ok"] for o in self.run_gate()))

    def test_corrupted_output_is_a_failure(self):
        ops = self.run_gate(corrupt=True)
        self.assertFalse(ops[0]["ok"])
        self.assertIn("col n", ops[0]["why"])

    def test_raising_execution_is_a_failure(self):
        self.assertFalse(self.run_gate(error="RuntimeException: boom")[0]["ok"])


class TaxiChecks(unittest.TestCase):
    def res(self, served, status=200):
        s = {"status": [200, status], "pred": [12.5, served], "which": [0, 0]}
        return {"etl": {"rows": 95, "read_back_rows": 95},
                "train": {"rmse": 2.0, "mae": 1.5},
                "serve": {"expected": [{"predict": 12.5, "fast": 12.5}],
                          "parity": s, "fast": s}}

    def test_every_request_is_checked(self):
        ops = check.taxi_ops(self.res(12.5), {"raw": {"expected_clean": 95}})
        self.assertEqual(len(ops), 2 + 4)
        self.assertTrue(all(o["ok"] for o in ops))

    def test_wrong_prediction_bad_status_and_counts_fail(self):
        ops = check.taxi_ops(self.res(12.49), {"raw": {"expected_clean": 95}})
        self.assertEqual([o["ok"] for o in ops], [True, True, True, False, True, False])
        ops = check.taxi_ops(self.res(12.5, status=500), {"raw": {"expected_clean": 96}})
        self.assertEqual([o["ok"] for o in ops], [False, True, True, False, True, False])


class Contract(unittest.TestCase):
    def test_benchmark_json_names_the_metrics_report_emits(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, report.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, report.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(report.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
