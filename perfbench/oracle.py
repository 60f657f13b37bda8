"""DuckDB comparison of the batch workload's query results.

The rules are those graft's correctness gate applies: columns compared
by name in sorted order, rows sorted, values compared exactly by their
Python repr (NaN spelled out), and each column's result type must land
in the same type class on both sides. A query with no oracle SQL gets a
rows-only check: its result must exist.
"""
import glob
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def type_class(t):
    if pa.types.is_decimal(t):
        return "decimal"
    if (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t) or pa.types.is_struct(t)
            or pa.types.is_map(t)):
        return "nested"
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    return str(t)


def type_problems(result_dir, oracle_schema):
    parts = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not parts:
        return ["no parquet part files"]
    want = {f.name: type_class(f.type) for f in oracle_schema}
    got = {f.name: type_class(f.type) for f in pq.read_schema(parts[0])}
    probs = []
    for col in sorted(set(want) | set(got)):
        w, g = want.get(col), got.get(col)
        for side, cls in (("oracle", w), ("spark", g)):
            if cls in ("decimal", "nested"):
                probs.append(f"{col}: {side} result is {cls}-typed")
        if w and g and w != g and "decimal" not in (w, g) and "nested" not in (w, g):
            probs.append(f"{col}: spark={g} vs oracle={w}")
    return probs


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            rr.append(repr(v))
        out.append(tuple(rr))
    out.sort()
    return [cols[i] for i in order], out


def compare(out_dir, data_dir, names):
    """Check each query in `names` whose result is under `out_dir`.
    Returns the list of failures, one line each."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = []
    for name in names:
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            failures.append(f"{name}: no result")
            continue
        res = con.execute(f"SELECT * FROM '{d}/*.parquet'")
        got_cols = [c[0] for c in res.description]
        got = res.fetchall()
        if name not in oracles:
            continue
        try:
            otab = con.execute(oracles[name]).arrow()
        except Exception as e:  # a broken oracle fails its query only
            failures.append(f"{name}: oracle error {type(e).__name__}: "
                            f"{str(e).splitlines()[0][:160]}")
            continue
        want_cols = otab.schema.names
        want = [tuple(r[c] for c in want_cols) for r in otab.to_pylist()]
        gc, g = canon(got, got_cols)
        wc, w = canon(want, want_cols)
        probs = type_problems(d, otab.schema)
        if probs:
            failures.append(f"{name}: type parity: {'; '.join(probs)}")
        elif gc != wc:
            failures.append(f"{name}: columns {gc} != {wc}")
        elif g != w:
            diff = next(((a, b) for a, b in zip(g, w) if a != b), None)
            failures.append(f"{name}: values differ ({len(g)} vs {len(w)} rows), "
                            f"first: got {diff[0] if diff else None} want {diff[1] if diff else None}")
    return failures
