#!/usr/bin/env python3
"""Dev-only local replica of the driver's DuckDB correctness compare.

NOT part of the library. Strictness rule learned in round 2: the compare
must NOT coerce types — DuckDB returns HUGEINT for SUM(BIGINT), and a
local loop that casts everything to int64/float64 before hashing hides
exactly the mismatch the driver's hash compare catches. Here both sides
are fetched as Arrow and the *Arrow types* must match after sorting
columns by name (int128/HUGEINT on the oracle side is a FAIL even when
values are equal).

usage: python3 scripts/localcheck.py /root/testdata/sf0.01 /tmp/verify_r3
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_type(t):
    # timestamp unit/padding differences are not what we hunt; integer
    # width and decimal-vs-float absolutely are
    s = str(t)
    if s.startswith("timestamp"):
        return "timestamp"
    if s == "large_string":
        return "string"
    return s


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # Verify's per-query outcome; a query that threw has no directory, so
    # without this file its failure would drop out of every count
    status_path = os.path.join(out_dir, "verify_status.json")
    status = json.load(open(status_path)) if os.path.exists(status_path) else {}
    names = {os.path.basename(d) for d in glob.glob(os.path.join(out_dir, "q*"))}
    n_pass = n_fail = n_noor = 0
    for name in sorted(names | set(status)):
        qdir = os.path.join(out_dir, name)
        if name not in oracles:
            n_noor += 1
            continue
        if status.get(name, "ok") != "ok":
            print(f"FAIL {name}: verify failed: {status[name]}")
            n_fail += 1
            continue
        spark_tbl = con.execute(
            f"SELECT * FROM read_parquet('{qdir}/*.parquet')").arrow()
        try:
            ora_tbl = con.execute(oracles[name]).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        s_cols = sorted(spark_tbl.column_names)
        o_cols = sorted(ora_tbl.column_names)
        if s_cols != o_cols:
            print(f"FAIL {name}: columns spark={s_cols} oracle={o_cols}")
            n_fail += 1
            continue
        s_types = {c: norm_type(spark_tbl.schema.field(c).type) for c in s_cols}
        o_types = {c: norm_type(ora_tbl.schema.field(c).type) for c in o_cols}
        if s_types != o_types:
            diff = {c: (s_types[c], o_types[c]) for c in s_cols
                    if s_types[c] != o_types[c]}
            print(f"FAIL {name}: dtype mismatch {diff}")
            n_fail += 1
            continue
        if spark_tbl.num_rows != ora_tbl.num_rows:
            print(f"FAIL {name}: rows spark={spark_tbl.num_rows} "
                  f"oracle={ora_tbl.num_rows}")
            n_fail += 1
            continue
        # order-insensitive value compare on name-sorted columns
        def rows(tbl):
            cols = [tbl.column(c).to_pylist() for c in s_cols]
            return sorted(zip(*cols), key=repr) if cols else []
        sr, orr = rows(spark_tbl), rows(ora_tbl)
        if sr != orr:
            bad = next((i, a, b) for i, (a, b) in enumerate(zip(sr, orr)) if a != b)
            print(f"FAIL {name}: value mismatch at sorted row {bad[0]}:\n"
                  f"  spark ={bad[1]}\n  oracle={bad[2]}")
            n_fail += 1
            continue
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noor} no-oracle")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
