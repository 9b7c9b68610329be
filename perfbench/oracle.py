#!/usr/bin/env python3
"""Reference answers from DuckDB for the curate workload.

    python3 oracle.py <docs_dir> <queries.json> <answers.json>

Registers <docs_dir>/documents.parquet (a Spark-written directory) as the
`documents` view, runs every {name: sql} of queries.json and writes
{name: {"cols": [...], "rows": [[...], ...]}} to answers.json.
"""
import decimal
import json
import sys

import duckdb


def plain(v):
    """JSON form of the non-JSON values DuckDB returns"""
    if isinstance(v, decimal.Decimal):
        return float(v)
    return str(v)


def main():
    docs_dir, queries_path, out_path = sys.argv[1:4]
    with open(queries_path) as f:
        queries = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs_dir}/documents.parquet/*.parquet')")
    out = {}
    for name, sql in queries.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = {"cols": cols, "rows": [list(r) for r in cur.fetchall()]}
    with open(out_path, "w") as f:
        json.dump(out, f, default=plain)


if __name__ == "__main__":
    main()
