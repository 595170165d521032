#!/usr/bin/env python3
"""Expected output of the neardup_clusters workload, computed by DuckDB.

Usage: oracle.py <input dir> <oracle sql json>

Reads the registry's oracle SQL of the workload's queries (SparkEntry.oracleSql,
dumped at build time by perfbench/build.py), runs each in DuckDB over <dir>/documents.parquet and writes
<dir>/expected.json with the same order-insensitive fingerprint that
perfbench's Gate.md5Rows computes on the Spark side: the row count and the
sum over rows of the first 15 hex digits of md5(values joined by tabs).
Query fingerprints are joined with '-' in file order; row counts add up.
"""
import hashlib
import json
import os
import sys

import duckdb


def render(v):
    return "NULL" if v is None else str(v)


def components(edges):
    """(node, component) for every endpoint: component = smallest node id
    reachable from node, by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in sorted(parent)]


def rows_of(con, name, sql):
    """The query's rows. q34's oracle closes the pair graph with a recursive
    CTE that DuckDB does not finish in a benchmark run's time (40 s at 3000
    documents); its LSH pair part runs in DuckDB as written and the closure
    is a union-find here, which gives the same (node, min reachable id) rows."""
    if name == "q34_dup_clusters":
        cut = sql.index("edges0 AS")
        pairs = sql[:cut] + "unused AS (SELECT 1) SELECT a, b FROM dup_pairs WHERE jaccard >= 0.5"
        return components(con.sql(pairs).fetchall())
    return con.sql(sql).fetchall()


def main(d, spec_path):
    with open(spec_path) as f:
        spec = json.load(f)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')")
    rows, hashes = 0, []
    for name, sql in spec.items():
        total = 0
        res = rows_of(con, name, sql)
        for r in res:
            s = "\t".join(render(v) for v in r)
            total += int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        rows += len(res)
        hashes.append(str(total))
    with open(os.path.join(d, "expected.json"), "w") as f:
        f.write(json.dumps({"rows": rows, "hash": "-".join(hashes)}, separators=(",", ":")))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
