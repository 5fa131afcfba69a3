"""Canonical result digests, the same canonicalisation as
``tools/check_parity.py``: columns sorted by name, every value as its
string with floats at nine significant digits, rows sorted.  Two
results with equal digests match under the repository's parity rule.
"""
import hashlib
import math
import os


def canon(rows, cols):
    """Sorted canonical row strings of ``rows`` (tuples in ``cols`` order)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.9g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def digest(rows, cols):
    """SHA-256 over the sorted column names and the canonical rows."""
    h = hashlib.sha256()
    h.update(("|".join(sorted(cols)) + "\n").encode())
    for line in canon(rows, cols):
        h.update((line + "\n").encode())
    return h.hexdigest()


def oracle_rows(con, sql):
    """Rows and columns of an oracle query, read through Arrow as the
    parity gate reads them."""
    tbl = con.execute(sql).arrow()
    rows = [tuple(c[i].as_py() for c in tbl.columns) for i in range(tbl.num_rows)]
    return rows, tbl.schema.names


def engine_rows(con, result_dir):
    """Rows and columns of an engine result written as parquet."""
    cur = con.execute(f"SELECT * FROM '{result_dir}/*.parquet'")
    return cur.fetchall(), [d[0] for d in cur.description]


def fixture_connection(fixture_dir, tables):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        p = os.path.join(fixture_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con
