"""Self-tests of the benchmark's own logic (no engine needed):

    python3 perfbench/test_perfbench.py
"""
import datetime as dt
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(M.tail_percentile(list(range(1, 101)), 0.9), 90)
        self.assertIsNone(M.tail_percentile(list(range(1, 100)), 0.9))
        self.assertIsNone(M.tail_percentile(list(range(1, 21)), 0.9))

    def test_ties_at_the_tail_count_as_not_beyond(self):
        values = list(range(1, 91)) + [500] * 10
        # p90 is 90; exactly ten samples (the 500s) lie beyond it.
        self.assertEqual(M.tail_percentile(values, 0.9), 90)
        values = list(range(1, 90)) + [500] * 11
        # p90 is now one of the 500s: nothing lies beyond it.
        self.assertIsNone(M.tail_percentile(values, 0.9))

    def test_order_does_not_matter(self):
        values = [float(v) for v in range(200, 0, -1)]
        self.assertEqual(M.tail_percentile(values, 0.9), 180.0)

    def test_empty(self):
        self.assertIsNone(M.tail_percentile([], 0.9))
        self.assertIsNone(M.median([]))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(M.self_time(10.0, 20.0, []), 10.0)

    def test_disjoint_children(self):
        self.assertEqual(M.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]), 7.0)

    def test_overlapping_children_count_once(self):
        self.assertEqual(M.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]), 5.0)
        self.assertEqual(M.self_time(0.0, 10.0, [(1.0, 9.0), (2.0, 3.0)]), 2.0)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(M.self_time(5.0, 10.0, [(0.0, 6.0), (9.0, 12.0)]), 3.0)
        self.assertEqual(M.self_time(5.0, 10.0, [(0.0, 4.0)]), 5.0)

    def test_span_tree(self):
        ops = [{"id": 1, "name": "q", "traced": True, "start": 0.0,
                "end": 100.0,
                "phases": [{"name": "build", "start": 0.0, "end": 20.0},
                           {"name": "exec", "start": 20.0, "end": 90.0},
                           {"name": "drain", "start": 90.0, "end": 95.0}]},
               {"id": 2, "name": "untraced", "traced": False, "start": 100.0,
                "end": 200.0, "phases": []}]
        jobs = [{"id": 7, "op": "1", "start": 25.0, "end": 80.0, "stages": [3]},
                {"id": 8, "op": "1", "start": 5.0, "end": 10.0, "stages": [4]}]
        stages = [{"id": 3, "attempt": 0, "op": "1", "job": 7, "start": 30.0,
                   "end": 70.0},
                  {"id": 4, "attempt": 0, "op": "1", "job": 8, "start": 6.0,
                   "end": 9.0}]
        spans = M.build_spans(ops, jobs, stages)
        by_name = {s["name"]: s for s in spans}
        self.assertEqual({s["op"] for s in spans}, {"1"})
        self.assertEqual(by_name["job 7"]["parent"], by_name["exec"]["id"])
        self.assertEqual(by_name["job 8"]["parent"], by_name["build"]["id"])
        self.assertEqual(by_name["stage 3.0"]["parent"], by_name["job 7"]["id"])
        self.assertEqual(by_name["q"]["self"], 5.0)        # 95..100 uncovered
        self.assertEqual(by_name["exec"]["self"], 15.0)    # 70 - 55
        self.assertEqual(by_name["build"]["self"], 15.0)
        self.assertEqual(by_name["job 7"]["self"], 15.0)
        # Self times of the tree add up to the operation's wall time.
        self.assertAlmostEqual(sum(s["self"] for s in spans), 100.0)


class GeneratorDeterminism(unittest.TestCase):
    NOW = dt.datetime(2026, 1, 5, 6, 0, 0)

    def _digests(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.gen_tables(d, seed, 600)
            gen.gen_corpus(d, seed, 120, 0.25, 0.05)
            gen.gen_jobs(os.path.join(d, "jobs_0.json"), seed, 0, 80, 20,
                         0.15, self.NOW, 40)
            out = {}
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    out[f] = hashlib.sha256(fh.read()).hexdigest()
            return out

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = self._digests(5), self._digests(5), self._digests(6)
        self.assertEqual(a, b)
        self.assertEqual(set(a), set(c))
        for f in a:
            if f not in ("region.parquet", "nation.parquet"):  # fixed tables
                self.assertNotEqual(a[f], c[f], f)

    def test_near_duplicates_are_not_byte_identical(self):
        with tempfile.TemporaryDirectory() as d:
            sizes = gen.gen_corpus(d, 3, 400, 0.25, 0.0)
            import pyarrow.parquet as pq
            texts = pq.read_table(os.path.join(d, "documents.parquet"))[
                "text"].to_pylist()
        self.assertGreater(sizes["near_dups"], 50)
        self.assertEqual(sizes["exact_dups"], 0)
        self.assertLess(len(texts) - len(set(texts)), 5)

    def test_expected_star_uses_the_substring_rule(self):
        row = {"job_title": "Data Engineer", "employer_name": " acme ",
               "job_publisher": "linkedin", "job_employment_type": "FULLTIME",
               "job_description": "We use MongoDB and Spark daily",
               "job_posted_at": "5 hours ago",
               "job_posted_at_datetime_utc": None, "job_location": "X, Y"}
        exp = gen.expected_star([row, dict(row)], self.NOW)
        # mongodb also contains "go"; spark; two identical rows re-post.
        self.assertEqual(exp["bridge_job_skill"], 6)
        self.assertEqual(exp["dim_skill"], 3)
        self.assertEqual(exp["fact_job_postings"], 2)
        self.assertEqual(exp["dim_job_details"], 1)
        self.assertEqual(exp["dim_date"], 1)
        self.assertEqual(gen.posted_date(row, self.NOW), "2026-01-05")
        self.assertEqual(exp["null_date_facts"], 0)

    def test_yesterday_without_utc_has_no_date(self):
        row = {"job_title": "Data Engineer", "employer_name": "acme",
               "job_publisher": "indeed", "job_employment_type": "Full\u2013time",
               "job_description": "sql", "job_posted_at": "yesterday",
               "job_posted_at_datetime_utc": None, "job_location": "X, Y"}
        dated = dict(row, job_posted_at="3 days ago")
        self.assertIsNone(gen.posted_date(row, self.NOW))
        self.assertEqual(gen.posted_date(dated, self.NOW), "2026-01-02")
        exp = gen.expected_star([row, dated], self.NOW)
        self.assertEqual(exp["dim_date"], 1)
        self.assertEqual(exp["null_date_facts"], 1)
        self.assertEqual(exp["dim_employment_type"], 1)


if __name__ == "__main__":
    unittest.main()
