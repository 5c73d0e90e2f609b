"""Unit tests of the benchmark's metric arithmetic and input generator.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import gen  # noqa: E402
import metrics  # noqa: E402


def execution(query, pass_, wall, build=0.0, traced=False, **layers):
    return {"query": query, "pass": pass_, "traced": traced,
            "phase": "setup" if pass_ < 0 else "warm",
            "build_s": build, "exec_s": wall - build, "wall_s": wall,
            "error": None, "layers": layers}


class TailPercentile(unittest.TestCase):
    def test_leaves_ten_samples_above(self):
        for n in (11, 12, 20, 24, 37, 100, 1000):
            p = metrics.tail_percentile(n)
            walls = list(range(n))
            above = [w for w in walls if w > metrics.percentile(walls, p)]
            self.assertGreaterEqual(len(above), 10, n)
            # one percentile higher would leave fewer than ten
            higher = [w for w in walls
                      if w > metrics.percentile(walls, p + 1)]
            self.assertLess(len(higher), 10, n)

    def test_known_values(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(11), 9)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile(10)
        self.assertIsNone(metrics.query_tail([1.0] * 10))

    def test_query_tail(self):
        walls = [float(i) for i in range(1, 41)]   # 40 samples
        self.assertEqual(metrics.query_tail(walls), (75, 30.0))

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([3, 1, 2, 4], 50), 2)
        self.assertEqual(metrics.percentile([3, 1, 2, 4], 51), 3)
        self.assertEqual(metrics.percentile([5], 99), 5)


class Fractions(unittest.TestCase):
    def test_busy_frac(self):
        # 6 task-seconds in 2 wall seconds on 4 cores: 75% busy
        self.assertAlmostEqual(metrics.busy_frac(6.0, 2.0, 4), 0.75)
        self.assertAlmostEqual(metrics.busy_frac(0.0, 2.0, 4), 0.0)

    def test_failed_frac(self):
        self.assertEqual(metrics.failed_frac(0, 40), 0.0)
        self.assertAlmostEqual(metrics.failed_frac(3, 40), 0.075)


class RunMetrics(unittest.TestCase):
    def raw(self):
        execs = [execution("a", -1, 9.0), execution("b", -1, 9.0)]
        for p, (a, b) in enumerate([(1.0, 2.0), (1.5, 2.5), (1.0, 4.0)]):
            execs += [execution("a", p, a, build=0.5, traced=p == 1,
                                jobs_build=2, jobs_exec=1, task_s=3.0),
                      execution("b", p, b, build=1.0, traced=p == 1,
                                jobs_exec=4, task_s=5.0)]
        return {"executions": execs, "setup_s": [10.0, 4.0, 5.0],
                "heap_mb": 100.0, "cores": 4, "code_cache_mb": 50.0,
                "setup_codegen": {"classes": 7, "compile_s": 0.5,
                                  "bytes": 1024}}

    def test_end_to_end(self):
        m = metrics.end_to_end(self.raw())
        self.assertEqual(m["setup_s"], 5.0)
        self.assertEqual(m["pass_s"], 4.0)   # passes 3.0, 4.0, 5.0
        # per-query medians 1.0 and 2.5
        self.assertAlmostEqual(m["query_geomean_s"], 2.5 ** 0.5)
        self.assertEqual(m["retained_heap_mb"], 100.0)

    def test_per_layer(self):
        m = metrics.per_layer(self.raw(), {"a": "ml", "b": "text"})
        self.assertEqual(m["ml.build_s"], 0.5)
        self.assertEqual(m["text.exec_s"], 1.5)
        self.assertEqual(m["ml.jobs"], 3)
        self.assertEqual(m["streaming.jobs"], 0)
        self.assertEqual(m["build.jobs"], 2)
        self.assertEqual(m["exec.jobs"], 7)
        self.assertAlmostEqual(m["build.share"], 1.5 / 4.0)
        # 8 task-seconds over a 4-second traced pass on 4 cores
        self.assertAlmostEqual(m["exec.busy_frac"], 0.5)
        self.assertEqual(m["codegen.classes_setup"], 7.0)
        # traced pass 4.0 s against the untraced median 4.0 s
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.0)


class Fingerprint(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute("""CREATE TABLE t AS SELECT i AS id,
            i * 0.1 AS x, 'v' || (i % 7) AS s, [i * 0.5, 1.0] AS v,
            CASE WHEN i % 5 = 0 THEN NULL ELSE i END AS n
            FROM range(1000) r(i)""")

    def fp(self, sql):
        return metrics.fingerprint(self.con, f"({sql})")

    def test_row_and_column_order_do_not_matter(self):
        base = self.fp("SELECT * FROM t")
        self.assertEqual(base, self.fp("SELECT * FROM t ORDER BY random()"))
        self.assertEqual(base, self.fp(
            "SELECT n, v, s, x, id FROM t ORDER BY s DESC, id"))
        self.assertTrue(base.startswith("1000:"))

    def test_values_matter(self):
        base = self.fp("SELECT * FROM t")
        self.assertNotEqual(base, self.fp(
            "SELECT id, CASE WHEN id = 3 THEN x + 1 ELSE x END AS x, s, v, n "
            "FROM t"))
        self.assertNotEqual(base, self.fp("SELECT * FROM t WHERE id > 0"))
        # a duplicated row changes the multiset, not just the set
        self.assertNotEqual(base, self.fp(
            "SELECT * FROM t UNION ALL SELECT * FROM t WHERE id = 0"))

    def test_last_binary_digit_does_not_matter(self):
        self.assertEqual(
            self.fp("SELECT 904482138.3522277::DOUBLE AS var"),
            self.fp("SELECT 904482138.3522283::DOUBLE AS var"))
        self.assertNotEqual(
            self.fp("SELECT 904482138.3522277::DOUBLE AS var"),
            self.fp("SELECT 904482138.4522277::DOUBLE AS var"))


class Generator(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 7, 0.002, 2)
            b = gen.generate(os.path.join(d, "b"), 7, 0.002, 2)
            c = gen.generate(os.path.join(d, "c"), 8, 0.002, 2)
        self.assertEqual(a["tables"], b["tables"])
        self.assertNotEqual(a["tables"]["lineitem"]["sha256"],
                            c["tables"]["lineitem"]["sha256"])

    def test_grow_replicas(self):
        t = gen.rung(3, 0.002, 3)
        self.assertEqual(t["lineitem"].num_rows, 3 * 12000)
        self.assertEqual(t["region"].num_rows, 5)
        ids = t["documents"].column("doc_id").to_pylist()
        self.assertEqual(len(ids), len(set(ids)))
        self.assertEqual(max(ids) // gen.OFF, 2)
        # one in eight replica documents copies an earlier replica
        texts = t["documents"].column("text").to_pylist()
        n = len(texts) // 3
        self.assertTrue(set(texts[2 * n:]) & set(texts[:2 * n]))


if __name__ == "__main__":
    unittest.main()
