"""Result digests for the operator_sweep output check.

A query's Spark result (parquet written by the harness) and its DuckDB
oracle are reduced to one digest each, under the rules of the
repository's scripts/localcheck.py (its table list and type normalisation
are imported from there): columns sorted by name, Arrow types compared
without coercion, rows compared as an order-insensitive multiset. Oracle digests depend only on the input
tables and the SQL text, so they are cached next to the inputs.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from localcheck import TABLES, norm_type  # noqa: E402


def table_digest(tbl):
    cols = sorted(tbl.column_names)
    types = [norm_type(tbl.schema.field(c).type) for c in cols]
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted((repr(r) for r in zip(*data)) if cols else [])
    h = hashlib.sha256(json.dumps([cols, types]).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return "%s:%d" % (h.hexdigest()[:32], len(rows))


def _connect(input_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(input_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, p))
    return con


def compare(input_dir, results_dir):
    """{query: None if its result matches its oracle, else a reason} for
    every query the harness wrote a result and an oracle for."""
    sql = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    cache_path = os.path.join(input_dir, "oracle_digests.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = _connect(input_dir)
    out = {}
    dirty = False
    for q, text in sorted(sql.items()):
        key = hashlib.sha256(text.encode()).hexdigest()
        if key not in cache:
            try:
                cache[key] = table_digest(con.execute(text).arrow())
            except Exception as e:  # an oracle that cannot run is a mismatch
                cache[key] = "error: %s" % str(e).splitlines()[0]
            dirty = True
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        if not files:
            out[q] = "no result"
            continue
        got = table_digest(con.execute(
            "SELECT * FROM read_parquet('%s/*.parquet')"
            % os.path.join(results_dir, q)).arrow())
        out[q] = None if got == cache[key] else \
            "digest %s, oracle %s" % (got, cache[key])
    con.close()
    if dirty:
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out
