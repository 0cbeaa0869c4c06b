"""Tests of the benchmark's own checks: each comparison is fed one perturbed
reference value and must report a mismatch, and passes on the unperturbed
one. Run: python3 -m pytest perfbench  (or python3 perfbench/test_checks.py)
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

TINY_STREAM = dict(users=20, events=600, days=1, steps=2,
                   dup_share=0.05, sentinels=True)
TINY_TABLES = dict(customer=50, orders=200, lines_per_order=2, events=300,
                   event_users=10, documents=60, embeddings=20)


def _bump(rows, i, col, delta):
    rows = [list(r) for r in rows]
    rows[i][col] += delta
    return [tuple(r) for r in rows]


class StreamChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        gen.gen_stream(cls.tmp.name, 7, 1, **TINY_STREAM)
        cls.con = checks.connect()
        checks.events_view(cls.con, cls.tmp.name)

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        cls.tmp.cleanup()

    def test_count(self):
        exp = checks.expected_counts(self.con)
        self.assertEqual(checks.compare("c", exp, list(exp)), [])
        self.assertTrue(checks.compare("c", _bump(exp, 0, 2, 1), exp))

    def test_ewma(self):
        exp = checks.expected_ewma(self.con)
        self.assertEqual(checks.compare("e", exp, list(exp)), [])
        self.assertTrue(checks.compare("e", _bump(exp, 3, 2, 1e-6), exp))

    def test_session(self):
        for exp in (checks.expected_closed_sessions(self.con),
                    checks.expected_session_windows(self.con)):
            self.assertTrue(exp)
            self.assertEqual(checks.compare("s", exp, list(exp)), [])
            self.assertTrue(checks.compare("s", _bump(exp, 0, 2, 1), exp))
            self.assertTrue(checks.compare("s", exp[1:], exp))

    def test_join_dedup_gapfill(self):
        for exp in (checks.expected_join(self.con),
                    checks.expected_dedup(self.con),
                    checks.expected_gapfill(self.con)):
            self.assertTrue(exp)
            self.assertTrue(checks.compare("x", _bump(exp, 0, -1, 1), exp))

    def test_dedup_sees_planted_duplicates(self):
        n = self.con.execute("SELECT count(*) FROM ev").fetchone()[0]
        self.assertLess(len(checks.expected_dedup(self.con)), n)

    def test_rows_read_per_batch(self):
        rows = checks.file_rows(self.con, self.tmp.name)
        sentinel = [False] * (len(rows) - 2) + [True, True]
        jvm = {"errors": [], "rows_dropped_by_watermark": 0,
               "pipelines": {p: {"source_rows": checks.expected_source_rows(
                                     p, rows, sentinel),
                                 "batch_ids": list(range(len(rows)))}
                             for p in checks.KEYED + checks.EVICTING}}
        self.assertEqual(jvm["pipelines"]["join"]["source_rows"][0],
                         [2 * rows[0]])
        self.assertEqual(checks.check_stream_common(self.con, jvm,
                                                    self.tmp.name), [])
        jvm["pipelines"]["dedup"]["source_rows"][1][0] -= 1
        self.assertTrue(checks.check_stream_common(self.con, jvm,
                                                   self.tmp.name))
        jvm["pipelines"]["dedup"]["source_rows"][1][0] += 1
        del jvm["pipelines"]["join"]
        self.assertTrue(checks.check_stream_common(self.con, jvm,
                                                   self.tmp.name))

    def test_monotonic(self):
        rows = [(1, "click", 0, 1), (1, "click", 1, 3), (2, "view", 0, 2)]
        self.assertEqual(checks.monotonic_violations("m", rows), [])
        self.assertTrue(checks.monotonic_violations(
            "m", rows + [(1, "click", 2, 2)]))

    def test_final_by_key(self):
        rows = [(1, "all", 1, 10), (1, "all", 3, 30), (2, "all", 2, 5)]
        self.assertEqual(sorted(checks.final_by_key(rows, 1, 2)),
                         [(1, "all", 3, 30), (2, "all", 2, 5)])


class QueryChecks(unittest.TestCase):
    def test_query_row(self):
        with tempfile.TemporaryDirectory() as d:
            gen.gen_tables(d, 7, 2, **TINY_TABLES)
            con = checks.connect()
            checks.tables_views(con, d)
            exp = con.execute(
                checks.local_sql("q2_join_agg_nation")).fetchall()
            self.assertEqual(checks.compare("q", exp, list(exp)), [])
            self.assertTrue(checks.compare("q", _bump(exp, 0, 1, 1), exp))
            con.close()


class Inputs(unittest.TestCase):
    def _digest(self, d):
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen.gen_stream(a, 3, 1, **TINY_STREAM)
            gen.gen_stream(b, 3, 1, **TINY_STREAM)
            self.assertEqual(self._digest(a), self._digest(b))

    def test_batch_sizes_do_not_depend_on_seed(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            self.assertEqual(gen.gen_stream(a, 3, 1, **TINY_STREAM),
                             gen.gen_stream(b, 4, 1, **TINY_STREAM))


if __name__ == "__main__":
    unittest.main()
