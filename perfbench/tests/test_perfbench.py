"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pb import analysis, check, gen, layers, sqlgen  # noqa: E402


class CheckerTest(unittest.TestCase):
    def test_frame_diff_flags_perturbed_value(self):
        a = pd.DataFrame({"id": [1, 2, 3], "x": [0.5, 1.5, 2.5]})
        self.assertIsNone(check.frame_diff(a, a.iloc[::-1].copy()))
        b = a.copy()
        b.loc[1, "x"] = 1.5000001
        self.assertIn("x", check.frame_diff(a, b))
        self.assertIn("rows", check.frame_diff(a, a.iloc[:2]))
        self.assertIn("dtype", check.frame_diff(a, a.astype({"id": float})))

    def test_rows_match_is_order_free_and_flags_changes(self):
        rows = [[1, "a", None], [2, "b", 3.25]]
        self.assertTrue(check.rows_match(rows, [(2, "b", 3.25), (1, "a", None)]))
        self.assertTrue(check.rows_match([[1, 10.0]], [(1, 10)]))
        self.assertFalse(check.rows_match(rows, [(2, "b", 3.5), (1, "a", None)]))
        self.assertFalse(check.rows_match(rows, [(1, "a", None)]))
        self.assertFalse(check.rows_match(rows, [(2, "b", 3.25), (1, "z", None)]))

    def test_explain_check_flags_perturbed_plan(self):
        sql = ("EXPLAIN SELECT o_orderkey, c_name FROM orders, customer "
               "WHERE o_custkey = c_custkey")

        def plan(*tables):
            return ("(query ...)" + check.PLAN_MARK + "== Physical Plan ==\n"
                    + "".join(f"(1) Scan parquet\nLocation: InMemoryFileIndex "
                              f"[file:/run/data/{t}.parquet]\n" for t in tables))
        self.assertIsNone(check.explain_problem(sql, plan("customer", "orders")))
        self.assertIn("orders", check.explain_problem(sql, plan("customer")))
        self.assertIn("orders",
                      check.explain_problem(sql, plan("customer", "lineitem")))
        self.assertIsNotNone(check.explain_problem(sql, "(query ...)"))
        self.assertIsNotNone(check.explain_problem(sql, plan()))
        sub = ("EXPLAIN SELECT n_name, (SELECT count(*) FROM customer WHERE "
               "c_nationkey = n_nationkey) AS n FROM nation")
        self.assertIsNone(check.explain_problem(sub, plan("nation", "customer")))
        self.assertIn("customer", check.explain_problem(sub, plan("nation")))

    def test_check_frames_against_duckdb(self):
        with tempfile.TemporaryDirectory() as d:
            data = os.path.join(d, "data")
            gen.write_dataset(data, 3, 0.001, 50, 20)
            sql = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"
            run = os.path.join(d, "run")
            os.makedirs(os.path.join(run, "out", "results"))
            with open(os.path.join(run, "out", "oracle_sql.json"), "w") as fh:
                json.dump({"g": sql}, fh)
            good = check.connect(data).execute(sql).df()
            good.to_parquet(os.path.join(run, "out", "results", "g"))
            self.assertEqual(check.check_frames(run, data, ["g"]), [])
            good.loc[0, "n"] += 1
            good.to_parquet(os.path.join(run, "out", "results", "g"))
            self.assertEqual(len(check.check_frames(run, data, ["g"])), 1)

    def test_sql_stream_runs_in_duckdb(self):
        """Every generated statement is valid DuckDB over generated
        tables, so a mismatch can only come from the engine."""
        with tempfile.TemporaryDirectory() as d:
            gen.write_dataset(d, 5, 0.001, 50, 20)
            con = check.connect(d)
            for _, duck in sqlgen.stream(5, 0.001, 60):
                if not duck.startswith("EXPLAIN"):
                    con.execute(duck).fetchall()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        import numpy as np
        a = gen.corpus(np.random.default_rng(9), 300)
        b = gen.corpus(np.random.default_rng(9), 300)
        c = gen.corpus(np.random.default_rng(10), 300)
        self.assertTrue(a.equals(b))
        self.assertFalse(a.equals(c))
        self.assertEqual(sqlgen.stream(4, 0.1, 50), sqlgen.stream(4, 0.1, 50))

    def test_shards_follow_sizes_in_id_order(self):
        import numpy as np
        import pyarrow.parquet as pq
        docs = gen.corpus(np.random.default_rng(2), 60)
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(gen.write_shards(docs, d, [25, 25, 10]), 3)
            ids = [pq.read_table(os.path.join(d, f))["doc_id"].to_pylist()
                   for f in sorted(os.listdir(d))]
        self.assertEqual([len(x) for x in ids], [25, 25, 10])
        self.assertEqual(sum(ids, []), list(range(60)))

    def test_duplicates_point_backwards(self):
        import numpy as np
        docs = gen.corpus(np.random.default_rng(1), 2000).to_pydict()
        first = {}
        exact = 0
        for i, t in zip(docs["doc_id"], docs["text"]):
            if t in first:
                exact += 1
                self.assertLess(first[t], i)
            first.setdefault(t, i)
        self.assertGreater(exact, 10)


class IngestLatencyTest(unittest.TestCase):
    """A synthetic checkpoint with a known schedule: three shards, the
    first two consumed by batch 0, the third by batch 1 (listed in a
    compacted log), a fourth never committed."""

    def test_file_to_batch_latency(self):
        with tempfile.TemporaryDirectory() as ck:
            src = os.path.join(ck, "sources", "0")
            os.makedirs(src)
            os.makedirs(os.path.join(ck, "commits"))

            def entry(f, b):
                return json.dumps({"path": f"file:///land/{f}",
                                   "timestamp": 1, "batchId": b})
            with open(os.path.join(src, "0"), "w") as fh:
                fh.write("v1\n" + entry("s0", 0) + "\n" + entry("s1", 0) + "\n")
            with open(os.path.join(src, "1.compact"), "w") as fh:
                fh.write("v1\n" + "\n".join(entry(f, b) for f, b in
                                             [("s0", 0), ("s1", 0), ("s2", 1)]))
            with open(os.path.join(src, "2"), "w") as fh:
                fh.write("v1\n" + entry("s3", 2) + "\n")
            base = 1_700_000_000_000_000
            for b, t in [(0, base + 900_000), (1, base + 2_100_000)]:
                p = os.path.join(ck, "commits", str(b))
                open(p, "w").close()
                os.utime(p, ns=(t * 1000, t * 1000))
            sched = [{"file": f"s{i}", "due": base + i * 500_000,
                      "moved": base + i * 500_000 + 100} for i in range(4)]
            lat = analysis.shard_latencies(ck, sched)
            self.assertEqual(lat, [900_000, 400_000, 1_100_000, None])
            # at s1's arrival s0 and s1 wait; at s3's arrival s2 and s3 do
            self.assertEqual(analysis.backlog_max(ck, sched), 2)


class SelfTimeTest(unittest.TestCase):
    def test_known_split(self):
        spans = [
            {"id": 1, "parent": -1, "name": "outer", "start": 10, "end": 90},
            {"id": 2, "parent": 1, "name": "inner", "start": 20, "end": 60},
        ]
        jobs = [(30, 40), (35, 50), (70, 80), (95, 99)]
        sh = analysis.self_times(0, 100, spans, jobs)
        self.assertEqual(sh[("unspanned", None)], 10 + 5 + 1)
        self.assertEqual(sh[("job", None)], 4)
        self.assertEqual(sh[("self", "outer")], 10 + 10 + 10)
        self.assertEqual(sh[("job", "outer")], 10)
        self.assertEqual(sh[("self", "inner")], 10 + 10)
        self.assertEqual(sh[("job", "inner")], 20)
        self.assertEqual(sum(sh.values()), 100)

    def test_shares_always_sum_to_wall(self):
        rnd = random.Random(7)
        for _ in range(200):
            start, end = 0, rnd.randint(50, 500)
            spans, nid = [], 0

            def nest(lo, hi, parent, depth):
                nonlocal nid
                t = lo
                while depth < 3 and t < hi - 2 and rnd.random() < 0.7:
                    a = rnd.randint(t, hi - 2)
                    b = rnd.randint(a + 1, hi)
                    nid += 1
                    me = nid
                    spans.append({"id": me, "parent": parent, "name": f"s{depth}",
                                  "start": a, "end": b})
                    nest(a, b, me, depth + 1)
                    t = b
            nest(start, end, -1, 0)
            jobs = [tuple(sorted((rnd.randint(-20, end + 20),
                                  rnd.randint(-20, end + 20))))
                    for _ in range(rnd.randint(0, 6))]
            sh = analysis.self_times(start, end, spans, jobs)
            self.assertEqual(sum(sh.values()), end - start)

    def test_streaming_phases_fit_their_batch(self):
        prog = [{"batchId": 3, "timestamp": "2026-01-01T00:00:01.250Z",
                 "durationMs": {"triggerExecution": 500, "latestOffset": 20,
                                "walCommit": 30, "getBatch": 10,
                                "queryPlanning": 40, "addBatch": 300,
                                "commitOffsets": 50}}]
        ops, spans = layers.ingest_ops(prog)
        self.assertEqual(ops[0]["end"] - ops[0]["start"], 500_000)
        sh = analysis.self_times(ops[0]["start"], ops[0]["end"], spans, [])
        self.assertEqual(sh[("self", "streaming.addBatch")], 300_000)
        self.assertEqual(sh[("unspanned", None)], 50_000)
        self.assertEqual(sum(sh.values()), 500_000)


class PercentileTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_beyond(self):
        self.assertEqual(analysis.tail_percentile(200), 95)
        self.assertEqual(analysis.tail_percentile(100), 90)
        self.assertEqual(analysis.tail_percentile(60), 75)
        self.assertEqual(analysis.tail_percentile(9), 50)


if __name__ == "__main__":
    unittest.main()
