"""Correctness checks a run must pass, made outside the program.

- lake_read / fixture_batch: each query's first result against its
  DuckDB oracle (`SparkEntry.oracleSql`) over the run's own fixtures. The
  harness already checked every later repetition against that first
  result's fingerprint.
- lake_write: both final tables against an independent DuckDB replay of
  the statements the run executed.
- cdc_stream: the final table against the last-writer-wins state of every
  change file the run landed.

`fault` corrupts one value of the program's output before the compare,
to prove a wrong result fails the run.
"""
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _canon(cols, rows):
    """Columns sorted by name, rows sorted: an order-insensitive form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=lambda r: tuple(
        (v is None, str(type(v)), v if not isinstance(v, (list, dict)) else str(v)) for v in r))


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return a == b


def _compare(name, got, want):
    """None when equal, else a one-line description of the first difference."""
    gc, gr = _canon(*got)
    wc, wr = _canon(*want)
    if gc != wc:
        return f"{name}: columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{name}: {len(gr)} rows, expected {len(wr)}"
    for i, (x, y) in enumerate(zip(gr, wr)):
        for c, u, v in zip(gc, x, y):
            if not _same(u, v):
                return f"{name}: row {i} column {c}: {u!r} != expected {v!r}"
    return None


def _corrupt(cols, rows):
    """Flips the lowest bit of the first integer or float cell."""
    rows = [list(r) for r in rows]
    for r in rows:
        for j, v in enumerate(r):
            if isinstance(v, bool) or v is None:
                continue
            if isinstance(v, int):
                r[j] = v ^ 1
                return cols, [tuple(x) for x in rows]
            if isinstance(v, float):
                r[j] = -v if v != 0 else 1.0
                return cols, [tuple(x) for x in rows]
    return cols, [tuple(x) for x in rows]


def _dump(con, path):
    return _rows(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


def oracle(raw, fault):
    con = duckdb.connect()
    fx = raw["oracle_fixtures"]
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')")
    errors = []
    for i, (name, path) in enumerate(sorted(raw["oracle_dumps"].items())):
        got = _dump(con, path)
        if fault == "oracle" and i == 0:
            got = _corrupt(*got)
        try:
            want = _rows(con, raw["oracle_sql"][name])
        except duckdb.Error as e:
            errors.append(f"{name}: oracle failed: {e}")
            continue
        diff = _compare(name, got, want)
        if diff:
            errors.append(diff)
    return {"errors": errors, "wrong": len(errors), "checked": len(raw["oracle_dumps"])}


def replay(raw, inputs, fault):
    """Replays the executed statements in DuckDB; counts rows touched."""
    ops = json.load(open(os.path.join(inputs, "write_ops.json")))[: raw["statements_executed"]]
    con = duckdb.connect()
    orders = os.path.join(inputs, "fixtures", "orders.parquet")
    for t in ("ord_mor", "ord_cow"):
        con.execute(f"CREATE TABLE {t} AS SELECT o_orderkey, o_custkey, o_orderstatus, "
                    f"o_totalprice FROM read_parquet('{orders}')")
    touched = 0
    for op in ops:
        t = op["table"]
        k = op["kind"]
        if k == "insert":
            con.executemany(f"INSERT INTO {t} VALUES (?, ?, ?, ?)", [tuple(r) for r in op["rows"]])
            touched += len(op["rows"])
        elif k == "delete":
            touched += con.execute(f"SELECT count(*) FROM {t} WHERE o_orderkey >= ? AND o_orderkey < ?",
                                   [op["lo"], op["hi"]]).fetchone()[0]
            con.execute(f"DELETE FROM {t} WHERE o_orderkey >= ? AND o_orderkey < ?", [op["lo"], op["hi"]])
        elif k == "update":
            ks = ", ".join(map(str, op["keys"]))
            touched += con.execute(f"SELECT count(*) FROM {t} WHERE o_orderkey IN ({ks})").fetchone()[0]
            con.execute(f"UPDATE {t} SET o_totalprice = o_totalprice + ?, o_orderstatus = 'U' "
                        f"WHERE o_orderkey IN ({ks})", [op["bump"]])
        elif k == "merge":
            for mk, np_ in op["src"]:
                n = con.execute(f"SELECT count(*) FROM {t} WHERE o_orderkey = ?", [mk]).fetchone()[0]
                if n:
                    con.execute(f"UPDATE {t} SET o_totalprice = ? WHERE o_orderkey = ?", [np_, mk])
                else:
                    con.execute(f"INSERT INTO {t} VALUES (?, 7, 'M', ?)", [mk, np_])
                touched += max(n, 1)
    errors = []
    for i, (t, path) in enumerate(sorted(raw["final_dumps"].items())):
        got = _dump(con, path)
        if fault == "state" and i == 0:
            got = _corrupt(*got)
        diff = _compare(t, got, _rows(con, f"SELECT * FROM {t}"))
        if diff:
            errors.append(diff)
    return {"errors": errors, "wrong": len(errors), "rows_touched": touched}


def last_writer_wins(raw, inputs, fault):
    """The table the landed change files imply: base rows, then every
    event in `seq` order (upsert sets the row, delete removes it)."""
    cdc = os.path.join(inputs, "cdc")
    state = {r["k"]: (r["v"], r["amount"]) for r in pq.read_table(os.path.join(cdc, "base.parquet")).to_pylist()}
    events = []
    for f in raw["landed_files"]:
        events += pq.read_table(os.path.join(cdc, "src", f)).to_pylist()
    for e in sorted(events, key=lambda e: e["seq"]):
        if e["op"] == "delete":
            state.pop(e["k"], None)
        else:
            state[e["k"]] = (e["v"], round(e["amount"], 2))
    want = (["k", "v", "amount"], [(k, v, a) for k, (v, a) in state.items()])
    con = duckdb.connect()
    got = _dump(con, raw["final_dumps"]["cdc_table"])
    if fault == "state":
        got = _corrupt(*got)
    diff = _compare("cdc_table", got, want)
    return {"errors": [diff] if diff else [], "wrong": 1 if diff else 0}


def check(workload, raw, inputs, fault):
    if workload in ("lake_read", "fixture_batch"):
        return oracle(raw, fault)
    if workload == "lake_write":
        return replay(raw, inputs, fault)
    return last_writer_wins(raw, inputs, fault)
