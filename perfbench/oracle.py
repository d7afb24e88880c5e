#!/usr/bin/env python3
"""DuckDB oracle for the benchmark's output checks.

Usage: python3 oracle.py <request.json> <reply.tsv>

The request names parquet views, setup statements and checks. Each check
is reduced to (row count, hash sum) with the same per-row hash the Spark
side computes (perfbench/src/main/scala/perfbench/Check.scala); grouped
checks reduce once per group value. The reply has one line per row:
key, group, count, hash, tab-separated.
"""
import json
import os
import sys
import time

import duckdb


def ints_hash(exprs, mult, mod):
    acc = "CAST(17 AS BIGINT)"
    for e in exprs:
        acc = f"((({acc}) * {mult} + COALESCE(CAST({e} AS BIGINT), -1) + 2) % {mod})"
    return acc


def all_columns_hash(con, table, skip):
    parts = []
    for name, typ, *_ in sorted(con.execute(f"DESCRIBE {table}").fetchall(), key=lambda c: c[0]):
        if name == skip:
            continue
        q = '"' + name.replace('"', '""') + '"'
        t = str(typ).upper()
        if t in ("DOUBLE", "FLOAT"):
            txt = f"CAST(CAST(round({q} * 1000000.0) AS BIGINT) AS VARCHAR)"
        elif t == "VARCHAR":
            txt = q
        else:
            txt = f"CAST({q} AS VARCHAR)"
        parts.append(f"COALESCE({txt}, '~')")
    return ("CAST(('0x' || substr(md5(concat_ws('|', " + ", ".join(parts)
            + ")), 1, 8)) AS BIGINT)")


def main():
    req_path, out_path = sys.argv[1], sys.argv[2]
    spill = os.path.join(os.path.dirname(os.path.abspath(out_path)), "duckdb_spill")
    with open(req_path) as f:
        req = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '3GB'")
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute("SET preserve_insertion_order = false")
    for name, src in req["views"].items():
        con.execute(f"CREATE VIEW {name} AS {src}")
    t0 = time.time()
    for stmt in req["setup"]:
        con.execute(stmt)
    print(f"oracle: setup {time.time() - t0:.2f} s", file=sys.stderr)
    lines = []
    for c in req["checks"]:
        t0 = time.time()
        group = c["group"]
        # materialized once: the column types come from the table, so the
        # check's SQL is planned a single time
        con.execute(f"CREATE OR REPLACE TEMP TABLE chk AS {c['sql']}")
        if c["digest"] == "ints":
            h = ints_hash(c["exprs"], req["multiplier"], req["modulus"])
        else:
            h = all_columns_hash(con, "chk", group)
        g = f'CAST("{group}" AS VARCHAR)' if group else "''"
        rows = con.execute(
            f"SELECT {g} AS g, count(*), CAST(coalesce(sum({h}), 0) AS BIGINT) "
            "FROM chk GROUP BY ALL").fetchall()
        if not rows:
            rows = [("", 0, 0)]
        print(f"oracle: {c['key']} {time.time() - t0:.2f} s", file=sys.stderr)
        for grp, n, hs in rows:
            lines.append(f"{c['key']}\t{grp}\t{n}\t{hs}")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
