#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads each Verify output parquet dir plus oracle_sql.json, runs the
oracle SQL in DuckDB against the same sf dir, and compares: row count,
schema (column names), and value hash over rows sorted by all columns
with columns sorted by name. Floats are compared with rounding to 9
significant-ish decimals to mirror grid-point parity.

With a third argument, also writes {query: sha256} as JSON to that
path: the hash of each query's canonical Spark rows (sorted column
names, then the rows as compared above), so two Verify outputs, say of
two commits, compare with one `diff` of their hash files.

Usage: check_parity.py <sfDir> <outDir> [hashesJson]
"""
import sys, os, json, math, hashlib
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
hashes_path = sys.argv[3] if len(sys.argv) > 3 else None
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

con = duckdb.connect()
for t in TABLES:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.9g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)

fails = 0
hashes = {}
for name in sorted(oracle):
    sql = oracle[name]
    qdir = f"{out_dir}/{name}"
    if not os.path.isdir(qdir):
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        mine = con.execute(f"SELECT * FROM '{qdir}/*.parquet'")
        mrows, mcols = mine.fetchall(), [d[0] for d in mine.description]
        a = canon(mrows, mcols)
        hashes[name] = hashlib.sha256(
            "\n".join(["|".join(sorted(mcols))] + a).encode()).hexdigest()
        orc = con.execute(sql).arrow()
        orows = [tuple(c[i].as_py() for c in orc.columns) for i in range(orc.num_rows)]
        ocols = orc.schema.names
        # The driver converts oracle results through pandas/arrow, where
        # DuckDB HUGEINT (uncast integer sums) becomes decimal128 and
        # hash-mismatches Spark's int64 even though fetchall agrees.
        dec = [f.name for f in orc.schema if str(f.type).startswith("decimal")]
        if dec:
            print(f"FAIL {name}: oracle cols {dec} are DECIMAL/HUGEINT "
                  f"(cast sums to BIGINT)"); fails += 1; continue
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1; continue
    if sorted(mcols) != sorted(ocols):
        print(f"FAIL {name}: cols {sorted(mcols)} vs {sorted(ocols)}"); fails += 1; continue
    if len(mrows) != len(orows):
        print(f"FAIL {name}: rows {len(mrows)} vs {len(orows)}"); fails += 1; continue
    b = canon(orows, ocols)
    if a != b:
        bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
        print(f"FAIL {name}: value mismatch, e.g. {bad}"); fails += 1; continue
    print(f"OK   {name} ({len(mrows)} rows)")
if hashes_path:
    with open(hashes_path, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
