#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs DuckDB over the oracle_sql.json produced by graft.Verify and compares
each result against the Spark-written parquet under the verify out dir:
column names (sorted), row count, and a hash of the canonicalized rows.

With --compare, checks two graft.Verify out dirs against each other instead
(no DuckDB twin involved): every query dir must exist in both, with the same
sorted column names, row count and canonical row hash.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
       python3 tools/check_oracle.py --compare <verifyOutA> <verifyOutB>
"""
import sys, os, json, glob, hashlib
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(con, rel_sql, label):
    """Return (sorted_cols, nrows, digest) for a duckdb relation query."""
    rel = con.sql(rel_sql)
    cols = sorted(rel.columns)
    # select columns in sorted order, stringify, sort rows, hash
    sel = ", ".join(f'"{c}"' for c in cols)
    rows = con.sql(f"SELECT {sel} FROM ({rel_sql})").fetchall()

    def norm(v):
        if isinstance(v, float):
            return f"{v!r}"
        return str(v)

    lines = sorted("\x01".join(norm(v) for v in r) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return cols, len(rows), h


def spark_sql(files):
    return f"SELECT * FROM parquet_scan({files!r})"


def result_files(out_dir):
    """{query name: its parquet files} for every result dir of a Verify dump."""
    found = {}
    for name in sorted(os.listdir(out_dir)):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if files:
            found[name] = files
    return found


def compare(out_a, out_b):
    con = duckdb.connect()
    a, b = result_files(out_a), result_files(out_b)
    n_pass = n_fail = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"FAIL {name}: only in {out_a if name in a else out_b}")
            n_fail += 1
            continue
        try:
            ca = canon(con, spark_sql(a[name]), "a")
            cb = canon(con, spark_sql(b[name]), "b")
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if ca == cb:
            print(f"PASS {name}: {ca[1]} rows hash={ca[2]}")
            n_pass += 1
        else:
            print(f"FAIL {name}: a cols={ca[0]} rows={ca[1]} hash={ca[2]}"
                  f" | b cols={cb[0]} rows={cb[1]} hash={cb[2]}")
            n_fail += 1
    print(f"\n{n_pass} identical, {n_fail} differ")
    return 1 if n_fail or not n_pass else 0


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output at {spark_dir}")
            n_fail += 1
            continue
        try:
            scols, snrows, shash = canon(con, spark_sql(files), "spark")
            ocols, onrows, ohash = canon(con, oracle[name], "oracle")
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        ok = (scols == ocols) and (snrows == onrows) and (shash == ohash)
        if ok:
            print(f"PASS {name}: {snrows} rows")
            n_pass += 1
        else:
            print(f"FAIL {name}: spark cols={scols} rows={snrows} hash={shash}"
                  f" | oracle cols={ocols} rows={onrows} hash={ohash}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--compare":
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
