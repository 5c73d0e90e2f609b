#!/usr/bin/env python3
"""Pins the DuckDB behaviour behind `Tables.scaledLongSumSql`.

The oracle twin of `Tables.scaledLongSum` sums BIGINT terms (DuckDB
accumulates them in an exact HUGEINT) and converts the sum to DOUBLE
through VARCHAR. The Spark side converts the same exact integer with a
correctly rounded DECIMAL->DOUBLE, so the twin is only exact if DuckDB's
VARCHAR->DOUBLE parse of the sum is correctly rounded too. This test
checks that against Python's float(int), which is correctly rounded,
over sums of both signs in [2^53, 2^63] and [2^64, 2^70] (where DuckDB
1.0's direct HUGEINT->DOUBLE cast can miss by an ulp).

Run: python3 -m unittest tools/test_scaled_sum_sql.py
"""
import random
import unittest

import duckdb

PART = 1 << 62
RANGES = [(1 << 53, 1 << 63), (-(1 << 63), -(1 << 53)),
          (1 << 64, 1 << 70), (-(1 << 70), -(1 << 64))]
PER_RANGE = 1500


class ScaledSumSqlTest(unittest.TestCase):
    def test_varchar_route_is_correctly_rounded(self):
        rng = random.Random(20240611)
        vals = [rng.randint(lo, hi) for lo, hi in RANGES
                for _ in range(PER_RANGE)]
        con = duckdb.connect()
        con.execute("CREATE TABLE v(g INTEGER, sgn BIGINT, q BIGINT, r BIGINT)")
        # each value v = sgn * (q * 2^62 + r): q BIGINT rows of 2^62 plus
        # one of r, so SUM(BIGINT) has to build the HUGEINT itself
        con.executemany("INSERT INTO v VALUES (?, ?, ?, ?)",
                        [(g, -1 if x < 0 else 1, abs(x) // PART, abs(x) % PART)
                         for g, x in enumerate(vals)])
        rows = con.execute(f"""
            WITH terms AS (
              SELECT g, sgn * {PART} AS x
              FROM v JOIN range({1 << 8}) t(i) ON t.i < v.q
              UNION ALL SELECT g, sgn * r AS x FROM v)
            SELECT g, CAST(SUM(x) AS VARCHAR),
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE),
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) / 1e12
            FROM terms GROUP BY g ORDER BY g""").fetchall()
        self.assertEqual(len(rows), len(vals))
        wrong = [(vals[g], got) for g, text, got, scaled in rows
                 if int(text) != vals[g] or got != float(vals[g])
                 or scaled != float(vals[g]) / 1e12]
        self.assertEqual(wrong, [], f"{len(wrong)} of {len(vals)} sums differ")


if __name__ == "__main__":
    unittest.main()
