"""Correctness gate: hash-match Spark outputs against DuckDB.

Usage: python3 perfbench/oracle.py < entries.jsonl

The harness streams one JSON entry per line while its gate runs, and
each is checked as it arrives. An entry names a Spark output directory
(`out`, parquet) and either the DuckDB SQL that must produce the same
rows (`sql`, run over views named like the tables in `data`) or an
earlier entry whose output it must equal (`equals`).

Rows are compared as a multiset of typed values with columns sorted by
name: the same rule the repository's oracle uses (exact values, and a
BIGINT on one side never equals a DOUBLE on the other). DuckDB reduces
each side to its column types, row count and the sum of its row hashes,
so a check costs one parallel scan; only a mismatch is compared row by
row in Python, to print what differed. Exits 1 if any entry failed.
"""
import glob
import json
import os
import sys
import time

import duckdb


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def canonical(rel):
    """(column types by name, sorted typed rows) of a DuckDB relation."""
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple((type(r[i]).__name__, _norm(r[i])) for i in order))
                  for r in rel.fetchall())
    return [(cols[i], types[i]) for i in order], rows


def digest(rel):
    """(column types by name, row count, sum of row hashes) of a DuckDB
    relation: equal for equal multisets of rows, whatever their order."""
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = ", ".join('"' + cols[i].replace('"', '""') + '"' for i in order)
    n, h = rel.aggregate(f"count(*), coalesce(sum(hash({names})), 0)").fetchone()
    return [(cols[i], types[i]) for i in order], n, h


def _parquet(path):
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for entry in sorted(os.listdir(data_dir)):
        if entry.endswith(".parquet"):
            files = _parquet(os.path.join(data_dir, entry))
            con.execute(f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet({files!r})")
    return con


def explain(name, a, b):
    if a[0] != b[0]:
        print(f"  {name}: columns/types spark={a[0]} oracle={b[0]}", file=sys.stderr)
    elif len(a[1]) != len(b[1]):
        print(f"  {name}: rows spark={len(a[1])} oracle={len(b[1])}", file=sys.stderr)
    else:
        diff = [(x, y) for x, y in zip(a[1], b[1]) if x != y][:3]
        for x, y in diff:
            print(f"  {name}: spark {x[:200]} != oracle {y[:200]}", file=sys.stderr)


def check(entries):
    cons, outs, failed = {}, {}, 0
    for entry in entries:
        t0 = time.time()
        name = entry["name"]
        data = entry["data"]
        if data not in cons:
            cons[data] = connect(data)
        con = cons[data]
        spark = con.sql(f"SELECT * FROM read_parquet({_parquet(entry['out'])!r})")
        outs[name] = spark
        if "sql" in entry:
            expected = con.sql(entry["sql"])
        elif "equals" in entry:
            expected = outs[entry["equals"]]
        else:
            failed += 1
            print(f"[oracle] FAIL {name}: no oracle to check it against", file=sys.stderr)
            continue
        got = digest(spark)
        if got == digest(expected):
            print(f"[oracle] PASS {name}: {got[1]} rows in {time.time() - t0:.2f} s",
                  file=sys.stderr)
        else:
            failed += 1
            print(f"[oracle] FAIL {name}", file=sys.stderr)
            explain(name, canonical(spark), canonical(expected))
    return failed


if __name__ == "__main__":
    sys.exit(1 if check(json.loads(line) for line in sys.stdin if line.strip()) else 0)
