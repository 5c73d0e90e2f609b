#!/usr/bin/env python3
"""Bit-level diff of two graft.Verify output dirs, query by query.

For each query dumped in both dirs (or only the queries named in the
optional comma list) it compares:
  - the schema: column names, types and nullability (the parquet
    required/optional flag Spark writes from the DataFrame's schema),
    plus Spark's own row-metadata JSON;
  - the rows: every double by its raw IEEE-754 bits (so -0.0 vs 0.0 and
    NaN payloads count), every other value by equality. Rows are
    compared as sorted multisets, so a plan that emits the same rows in
    another order still matches.

Usage: python3 tools/bitdiff.py <outA> <outB> [q1,q2,...]
Exit status 0 when every compared query is identical, 1 otherwise.
"""
import os
import struct
import sys

import pyarrow.parquet as pq

SPARK_META = b"org.apache.spark.sql.parquet.row.metadata"


def queries(out_dir):
    return {q for q in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, q))}


def bits(v):
    """A sortable, bit-exact key for one value."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, struct.pack(">d", v).hex())
    if isinstance(v, (list, tuple)):
        return (2, tuple(bits(x) for x in v))
    if isinstance(v, dict):
        return (3, tuple((k, bits(x)) for k, x in sorted(v.items())))
    return (4, repr(v))


def diff(a_dir, b_dir, q):
    """Returns a list of difference lines for query q (empty = same)."""
    ta = pq.read_table(os.path.join(a_dir, q))
    tb = pq.read_table(os.path.join(b_dir, q))
    out = []
    if not ta.schema.equals(tb.schema, check_metadata=False):
        out.append(f"schema: {ta.schema.to_string(show_schema_metadata=False)}"
                   f"  vs  {tb.schema.to_string(show_schema_metadata=False)}")
    ma = (ta.schema.metadata or {}).get(SPARK_META)
    mb = (tb.schema.metadata or {}).get(SPARK_META)
    if ma != mb:
        out.append(f"spark schema: {ma!r}  vs  {mb!r}")
    if ta.num_rows != tb.num_rows:
        out.append(f"rows: {ta.num_rows} vs {tb.num_rows}")
        return out
    ra = sorted(tuple(bits(v) for v in r.values()) for r in ta.to_pylist())
    rb = sorted(tuple(bits(v) for v in r.values()) for r in tb.to_pylist())
    bad = [(x, y) for x, y in zip(ra, rb) if x != y]
    for x, y in bad[:5]:
        out.append(f"row: {x}  vs  {y}")
    if len(bad) > 5:
        out.append(f"... {len(bad)} differing rows in all")
    return out


def main(a_dir, b_dir, only=None):
    qa, qb = queries(a_dir), queries(b_dir)
    names = sorted(only.split(",")) if only else sorted(qa | qb)
    n_same = n_diff = 0
    for q in names:
        if q not in qa or q not in qb:
            print(f"[bitdiff] {q}: missing in "
                  f"{a_dir if q not in qa else b_dir}")
            n_diff += 1
            continue
        lines = diff(a_dir, b_dir, q)
        if lines:
            n_diff += 1
            print(f"[bitdiff] {q}: DIFFERS")
            for line in lines:
                print(f"  {line}")
        else:
            n_same += 1
            print(f"[bitdiff] {q}: identical")
    print(f"{n_same} identical, {n_diff} differ")
    return 0 if n_diff == 0 else 1


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
