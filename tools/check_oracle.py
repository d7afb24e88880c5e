#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB-oracle gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Registers each testdata parquet as a DuckDB view named after the table,
runs every oracle_sql.json entry, and compares against the Spark result
parquet written by graft.Verify: same row count, same column names, and
identical multiset of rows (values canonicalized column-name-sorted).
A passing query whose result is empty on both engines prints EMPTY
instead of OK (its hash check compares two empty sets), and a closing
line counts them; EMPTY lines pass like OK lines.
"""
import sys, json, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)

def canon(v):
    if isinstance(v, float):
        return round(v, 6)
    return v

fails = []
empty = 0
for name, sql in sorted(oracles.items()):
    spark_path = os.path.join(out_dir, name)
    if not os.path.isdir(spark_path):
        fails.append((name, "no spark output dir"))
        continue
    try:
        odf = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        continue
    sdf = con.execute(
        f"SELECT * FROM read_parquet('{spark_path}/*.parquet')").fetch_arrow_table()
    ocols, scols = sorted(odf.column_names), sorted(sdf.column_names)
    if ocols != scols:
        fails.append((name, f"schema mismatch: oracle={ocols} spark={scols}"))
        continue
    orows = sorted([tuple(canon(r[c]) for c in ocols) for r in odf.to_pylist()], key=repr)
    srows = sorted([tuple(canon(r[c]) for c in scols) for r in sdf.to_pylist()], key=repr)
    if len(orows) != len(srows):
        fails.append((name, f"row count: oracle={len(orows)} spark={len(srows)}"))
        continue
    if orows != srows:
        diff = [(a, b) for a, b in zip(orows, srows) if a != b][:3]
        fails.append((name, f"value mismatch, first diffs: {diff}"))
        continue
    if srows:
        print(f"OK   {name}  rows={len(srows)}")
    else:
        empty += 1
        print(f"EMPTY {name}  rows=0 on both engines")

for name, why in fails:
    print(f"FAIL {name}: {why}")
print(f"{empty} passing queries compare empty results on both engines")
sys.exit(1 if fails else 0)
