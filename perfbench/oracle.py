"""DuckDB oracle check for the query_mix outputs.

Same comparison convention as tools/parity.py: columns sorted by name,
every value compared through repr() (NaN as "NaN"), rows in the order each
side returns them (every declared query ends in ORDER BY on a unique key).
Each query's oracle runs once; every round's output is compared with it.
"""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i])
                         else repr(r[i]) for i in order))
    return [cols[i] for i in order], out


def check(sf_dir, qout_dir, runs):
    """runs: [{"query", "round", "error"}]; round r of a query wrote
    qout_dir/r<r>/<query>. Returns the list of mismatches, one
    (query, round, reason) per run whose output differs from the oracle or
    that raised."""
    with open(os.path.join(qout_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = {}
    bad = []
    for r in runs:
        name, rnd = r["query"], r["round"]
        if r.get("error"):
            bad.append((name, rnd, "raised: " + r["error"]))
            continue
        if name not in want:
            e = con.sql(oracle[name])
            want[name] = canon(e.fetchall(), e.columns)
        ec, er = want[name]
        got = con.sql(f"SELECT * FROM '{qout_dir}/r{rnd}/{name}/*.parquet'")
        gc, gr = canon(got.fetchall(), got.columns)
        if gc != ec:
            bad.append((name, rnd, f"columns {gc} != {ec}"))
        elif len(gr) != len(er):
            bad.append((name, rnd, f"rows {len(gr)} != {len(er)}"))
        elif gr != er:
            i = next(i for i in range(len(gr)) if gr[i] != er[i])
            bad.append((name, rnd, f"row {i}: {gr[i]} != {er[i]}"))
    return bad
