#!/usr/bin/env python3
"""Compare two graft.Verify output dirs: the gate for a change that must not
move any query's output.

Usage: same_outputs.py PARENT_OUT CHANGE_OUT

Each query dir's parquet must match in schema and in rows, in order
(pyarrow Table.equals), and both oracle_sql.json files must parse to the
same JSON. Prints each differing query and exits 1 on any difference,
0 when every query is equal.
"""
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def query_dirs(out):
    return sorted(d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d)))


def table(out, name):
    # part files in name order are the rows in the written order
    d = os.path.join(out, name)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    return pa.concat_tables(pq.read_table(os.path.join(d, f)) for f in files)


def main(parent, change):
    diffs = {}
    a, b = set(query_dirs(parent)), set(query_dirs(change))
    for name in sorted(a ^ b):
        diffs[name] = f"only in {parent if name in a else change}"
    for name in sorted(a & b):
        ta, tb = table(parent, name), table(change, name)
        if not ta.schema.equals(tb.schema):
            diffs[name] = f"schema {ta.schema} vs {tb.schema}"
        elif not ta.equals(tb):
            diffs[name] = f"rows differ ({ta.num_rows} vs {tb.num_rows} rows)"
    oa = json.load(open(os.path.join(parent, "oracle_sql.json")))
    ob = json.load(open(os.path.join(change, "oracle_sql.json")))
    for name in sorted(set(oa) | set(ob)):
        if oa.get(name) != ob.get(name):
            diffs[name] = diffs.get(name, "") + " oracle_sql.json entry differs"
    for name in sorted(diffs):
        print(f"DIFF {name}: {diffs[name].strip()}")
    print(f"{len(a | b) - len(diffs)}/{len(a | b)} queries equal; {len(diffs)} differ")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
