"""Tests of the benchmark's own logic. Run from the repo root:

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class Contract(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        for m in spec["per_layer"]:
            self.assertEqual(run.unit_of(m["name"]), m["unit"], m["name"])
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(run.tail(list(range(1, 31))), (20, 66, 30))
        self.assertEqual(run.tail(list(range(1, 12))), (1, 9, 11))
        self.assertEqual(run.tail(list(range(100, 0, -1))), (90, 90, 100))

    def test_undefined_below_eleven_samples(self):
        self.assertIsNone(run.tail(list(range(10))))


class LaneData(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_differs(self):
        a, b, c = (datagen.tables(s, 0.001) for s in (5, 5, 6))
        self.assertEqual(set(a), set(datagen.TABLES))
        for t in datagen.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertFalse(a["documents"].equals(c["documents"]))

    def test_near_duplicate_documents(self):
        docs = datagen.tables(1, 0.01)["documents"].column("text").to_pylist()
        self.assertTrue(any(d.endswith(" dup") for d in docs))


class LaneCheck(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.sql = "SELECT * FROM (VALUES (1, 2.5, 'x'), (2, 0.1, 'y')) t(a, b, c) ORDER BY a"
        _, self.rows, self.digest = oracle.expected(self.con, self.sql)

    def rec(self, **kw):
        r = dict(lane="q", columns=["c", "b", "a"], rows=self.rows, digest=str(self.digest),
                 oracle_sql=self.sql, error=None)
        r.update(kw)
        return r

    def test_matching_output_passes(self):
        self.assertEqual(oracle.check_lane(self.con, self.rec()), "")

    def test_wrong_lane_output_fails_the_digest_check(self):
        _, _, wrong = oracle.expected(
            self.con, "SELECT * FROM (VALUES (1, 2.5, 'x'), (2, 0.1000001, 'y')) t(a, b, c)")
        self.assertIn("digest", oracle.check_lane(self.con, self.rec(digest=str(wrong))))
        self.assertIn("rows", oracle.check_lane(self.con, self.rec(rows=1)))
        self.assertIn("columns", oracle.check_lane(self.con, self.rec(columns=["a", "b"])))
        self.assertIn("failed", oracle.check_lane(self.con, self.rec(error="boom")))

    def test_rows_only_lanes(self):
        self.con.sql("CREATE TABLE documents AS SELECT 1 AS doc_id UNION ALL SELECT 2")
        self.assertEqual(oracle.check_lane(self.con, self.rec(lane="q23_compress", oracle_sql=None, rows=2)), "")
        self.assertIn("expected", oracle.check_lane(
            self.con, self.rec(lane="q23_compress", oracle_sql=None, rows=3)))
        self.assertIn("no rows", oracle.check_lane(
            self.con, self.rec(lane="q25_kmeans", oracle_sql=None, rows=0)))

    def test_canonical_text_matches_the_sink(self):
        # the same literal is pinned in DigestSinkSpec for DigestSink.canonRow
        cols = ["z_date", "b_dbl", "a_long", "c_str", "d_null", "e_ts", "f_int_dbl"]
        row = [dt.date(1970, 1, 2), 2.5, 1, "hé", None, dt.datetime(1970, 1, 1, 0, 0, 1), 3.0]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        self.assertEqual("|".join(oracle.canon(row[i]) for i in order),
                         "i1|d4004000000000000|s2:hé|N|t1000000|i3|t86400000000")


class ExactCasts(unittest.TestCase):
    def test_rewrites_casts_to_double_only(self):
        self.assertEqual(
            oracle.exact_casts("SELECT CAST( CAST(a AS DECIMAL(38,0)) * b AS double ) x, "
                               "TRY_CAST(c AS DOUBLE), CAST(')(' AS VARCHAR), cast(d as BIGINT)"),
            "SELECT exact_double( CAST(a AS DECIMAL(38,0)) * b) x, "
            "TRY_CAST(c AS DOUBLE), CAST(')(' AS VARCHAR), cast(d as BIGINT)")

    def test_decimal_above_53_bits_rounds_once(self):
        con = duckdb.connect()
        con.execute(oracle.EXACT_DOUBLE)
        sql = ("SELECT CAST(CAST('54294458925.22' AS DECIMAL(38,12)) AS DOUBLE), "
               "CAST(CAST(0.1 AS REAL) AS DOUBLE), CAST(7 AS DOUBLE)")
        plain = con.sql(sql).fetchone()  # DuckDB 1.0 gives 54294458925.21999 first
        self.assertEqual(con.sql(oracle.exact_casts(sql)).fetchone(),
                         (54294458925.22, plain[1], 7.0))


class LaneCheckOrder(unittest.TestCase):
    def test_no_check_overlaps_a_timed_lane(self):
        with tempfile.TemporaryDirectory() as d:
            datagen.write(1, 0.001, d)
            path = os.path.join(d, "lanes.jsonl")
            checks = run.LaneChecks(path, d)
            rec = dict(lane="a", fixed=True, error=None, oracle_sql=None, rows=1)
            census = json.dumps(dict(rec, lane="b", fixed=False, error="boom")) + "\n"
            with open(path, "w") as fh:
                fh.write(json.dumps(rec) + "\n" + census[:9])
            self.assertFalse(checks.step())  # only the fixed set, and half a line
            with open(path, "a") as fh:
                fh.write(census[9:])
            self.assertTrue(checks.step())
            self.assertTrue(checks.step())
            self.assertFalse(checks.step())
            self.assertEqual(checks.finish(), {"b": "failed: boom"})

    def test_finish_checks_a_run_without_census_lanes(self):
        with tempfile.TemporaryDirectory() as d:
            datagen.write(1, 0.001, d)
            path = os.path.join(d, "lanes.jsonl")
            checks = run.LaneChecks(path, d)
            with open(path, "w") as fh:
                fh.write(json.dumps(dict(lane="a", fixed=True, error=None, oracle_sql=None, rows=0)) + "\n")
            self.assertFalse(checks.step())
            self.assertEqual(checks.finish(), {"a": "rows-only lane returned no rows"})


if __name__ == "__main__":
    unittest.main()
