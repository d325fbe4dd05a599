"""DuckDB oracle for the gate mix: run each gate's `SparkEntry.oracleSql`
over the same parquet tables and compare canonical rows (columns
sorted by name, rows sorted, floats to six significant digits) with the
gate's output written by the cold pass."""
import json
import math
import os

import duckdb


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else "%.6g" % v
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]


def compare(sf_dir, out_dir, gates):
    """Names of the gates whose output differs from the oracle, is
    missing, or has no oracle SQL."""
    con = duckdb.connect()
    for d in os.listdir(sf_dir):
        if d.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s/*.parquet')"
                        % (d[:-len(".parquet")], sf_dir, d))
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    bad = []
    for g in gates:
        try:
            got = con.execute("SELECT * FROM read_parquet('%s/%s/*.parquet')" % (out_dir, g))
            got_c = canon(got.fetchall(), [c[0] for c in got.description])
            exp = con.execute(sql[g])
            exp_c = canon(exp.fetchall(), [c[0] for c in exp.description])
            ok = got_c == exp_c and len(got_c[0]) > 0
        except Exception as e:  # a gate without output or oracle fails the check
            print("  oracle %s: %s" % (g, str(e)[:200]))
            ok = False
        if not ok:
            bad.append(g)
    return bad
