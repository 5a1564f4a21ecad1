"""Seeded input generator for the benchmark.

Every input a workload feeds the program is made here from the seed: the
fixture tables (the schemas and value domains FIXTURES.md describes, at a
benchmark-sized scale), the lake_write SQL statement
stream and the cdc_stream change batches. The same seed gives
byte-identical files (checked by `selftest.py`). `run.py` calls
`generate` for every run.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: the row counts of the repository's own fixtures
# (TESTDATA.md, FIXTURES.md). "bench" is sf0.01, the scale the oracle
# checks use; "smoke" is sf0.001. Both have 500 documents and 500
# embeddings, as the fixtures do at those scales.
SCALES = {
    "bench": dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, users=150, documents=500,
                  embeddings=500),
    "smoke": dict(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=1000, users=15, documents=500,
                  embeddings=500),
}

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_WORDS = ["small", "red", "hot", "old", "blue"], ["ring", "widget", "plate",
                                                    "rod", "bolt"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_SHARE = [0.14, 0.44, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000


def _write(table, path):
    # fixed writer settings: no statistics timestamps or random ids, so
    # the bytes depend on the data alone
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts(values_us):
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _pick(choices, idx):
    """String column of `choices[idx]`, vectorized."""
    return pa.array(np.asarray(choices)[idx])


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def fixtures(seed, out, scale="bench"):
    """The ten fixture tables as `<out>/<name>.parquet`."""
    n = SCALES[scale]
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, nc))})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns)})
    npt = n["part"]
    a, b = PART_WORDS
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npt), pa.int64()),
        "p_name": [f"{a[i]} {b[j]}" for i, j in
                   zip(rng.integers(0, 5, npt), rng.integers(0, 5, npt))],
        "p_brand": _pick([f"Brand#{i}" for i in range(26)], rng.integers(1, 26, npt)),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, npt)),
        "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npt) % 1000) / 10.0, 2)})
    no = n["orders"]
    d0 = np.datetime64("1995-01-01", "us").astype("int64")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(STATUSES, rng.integers(0, 3, no)),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(d0 + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, no))})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npt, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, nl)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, nl)),
        "l_shipdate": _ts(d0 + DAY_US + rng.integers(0, 2499, nl) * DAY_US)})
    ne = n["events"]
    e0 = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.integers(0, 29 * DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(e0 + ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, ne)),
        "value": _cents(rng, 0.01, 490.0, ne),
        "props": _pick([f'{{"k": {i}}}' for i in range(100)], rng.integers(0, 100, ne))})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, table in t.items():
        _write(table, os.path.join(out, f"{name}.parquet"))


def _documents(rng, nd):
    """Word soup from the fixture vocabulary, shaped like the fixtures:
    10-99 words a document, 44% `en`, and one document in twenty a near
    duplicate (another document's text plus the word `dup`), with no two
    texts equal."""
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
             for _ in range(nd)]
    picks = rng.choice(nd, 2 * (nd // 20), replace=False)
    for i, j in zip(picks[::2], picks[1::2]):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(LANGS, rng.choice(len(LANGS), nd, p=LANG_SHARE)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def _embeddings(rng, nv):
    """64-dim unit vectors around ten cluster centres (label = cluster)."""
    centres = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, nv)
    x = centres[label] * 0.15 + rng.normal(0, 1, (nv, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


# --- lake_write: seeded SQL statement stream ---------------------------

STRIPE = 40            # rows per INSERT stripe
STRIPE_BASE = 1_000_000
LIVE_STRIPES = 6       # a stripe is deleted once this many newer ones exist
MAINT_EVERY = 12       # compact + expire_versions after every K statements
TABLES = ("ord_mor", "ord_cow")
WRITE_OPS = 1500       # more than any run can execute


def write_ops(seed, n_orders):
    """The statement stream as abstract ops. `run.py` replays the same
    list in DuckDB; the harness runs the `sql` text (catalog `{cat}`).

    Stripe s owns keys [STRIPE_BASE + 2*s*STRIPE, +2*STRIPE): INSERT fills
    the lower half, MERGE inserts land in the upper half of the newest
    stripe, and one DELETE by key range retires the whole stripe."""
    rng = np.random.default_rng([seed, 2])
    ops = []
    nxt = {t: 0 for t in TABLES}       # next stripe per table
    oldest = {t: 0 for t in TABLES}    # oldest live stripe per table

    def lo_of(s):
        return STRIPE_BASE + 2 * s * STRIPE

    def price():
        return float(rng.integers(100000, 50000000)) / 100.0

    for i in range(WRITE_OPS):
        if i and i % MAINT_EVERY == 0:
            t = TABLES[(i // MAINT_EVERY) % 2]
            ops.append({"kind": "compact", "table": t, "sql":
                        f"CALL {{cat}}.system.compact(table => '{t}', retain_versions => 2)"})
            ops.append({"kind": "expire", "table": t, "sql":
                        f"CALL {{cat}}.system.expire_versions(table => '{t}', retain_versions => 2)"})
        t = TABLES[int(rng.integers(0, 2))]
        r = rng.random()
        if nxt[t] - oldest[t] >= LIVE_STRIPES or (r < 0.25 and nxt[t] - oldest[t] > 1):
            lo = lo_of(oldest[t])
            oldest[t] += 1
            ops.append({"kind": "delete", "table": t, "lo": lo, "hi": lo + 2 * STRIPE,
                        "sql": f"DELETE FROM {{cat}}.{t} WHERE o_orderkey >= {lo} "
                               f"AND o_orderkey < {lo + 2 * STRIPE}"})
        elif r < 0.55 or nxt[t] == oldest[t]:
            lo = lo_of(nxt[t])
            nxt[t] += 1
            rows = [(lo + j, int(rng.integers(0, 1500)), STATUSES[int(rng.integers(0, 3))],
                     price()) for j in range(STRIPE)]
            vals = ", ".join(f"({k}, {c}, '{s}', {p!r}D)" for k, c, s, p in rows)
            ops.append({"kind": "insert", "table": t, "rows": rows,
                        "sql": f"INSERT INTO {{cat}}.{t} VALUES {vals}"})
        elif r < 0.8:
            keys = sorted({int(k) for k in rng.integers(0, n_orders, 25)})
            bump = float(rng.integers(1, 1000)) / 100.0
            ks = ", ".join(map(str, keys))
            ops.append({"kind": "update", "table": t, "keys": keys, "bump": bump,
                        "sql": f"UPDATE {{cat}}.{t} SET o_totalprice = o_totalprice + {bump!r}D, "
                               f"o_orderstatus = 'U' WHERE o_orderkey IN ({ks})"})
        else:
            old = sorted({int(k) for k in rng.integers(0, n_orders, 10)})
            hi = lo_of(nxt[t] - 1) + STRIPE
            new = sorted({hi + int(j) for j in rng.integers(0, STRIPE, 5)})
            src = [(k, price()) for k in old + new]
            sel = " UNION ALL ".join(f"SELECT CAST({k} AS BIGINT) AS mk, {p!r}D AS np"
                                     for k, p in src)
            ops.append({"kind": "merge", "table": t, "src": src,
                        "sql": f"MERGE INTO {{cat}}.{t} t USING ({sel}) s ON t.o_orderkey = s.mk "
                               "WHEN MATCHED THEN UPDATE SET o_totalprice = s.np "
                               "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, "
                               "o_orderstatus, o_totalprice) VALUES (s.mk, 7, 'M', s.np)"})
    return ops


# --- cdc_stream: seeded change batches ----------------------------------
#
# The base table has one row per sf0.01 `orders` key; a quarter more keys
# exist only in the change feed and arrive as inserts. Keys are
# Zipf-skewed (s = 1.2) through a fixed rank -> key permutation, so a few
# hot keys get several ops in one file. A fifth of the ops are deletes.
# The open loop offers CDC_FILES_PER_SEC x CDC_EVENTS_PER_FILE = 180
# events/s, in files small enough that a 10 s window lands 100 of them
# (one latency sample each). The backlog drains in full micro-batches of
# CDC_MAX_FILES_PER_TRIGGER files.

CDC_BASE_KEYS = 15000
CDC_KEY_SPACE = 18750
CDC_EVENTS_PER_FILE = 18
CDC_DELETE_SHARE = 0.2
CDC_ZIPF = 1.2
CDC_FILES_PER_SEC = 10.0
CDC_WARM_FILES = 2
CDC_MAX_FILES_PER_TRIGGER = 32
CDC_BACKLOG_FILES = 8 * CDC_MAX_FILES_PER_TRIGGER


def cdc_inputs(seed, out, files):
    """`base.parquet` (the table's starting rows) and `src/fNNNNN.parquet`,
    one change batch per file. Keys are Zipf-skewed, so a hot key gets
    several ops in one file; `seq` is the global event order."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(os.path.join(out, "src"), exist_ok=True)
    k = np.arange(CDC_BASE_KEYS)
    _write(pa.table({"k": pa.array(k, pa.int64()),
                     "v": [f"base{i}" for i in k],
                     "amount": np.round(k * 0.25, 2)}),
           os.path.join(out, "base.parquet"))
    # rank -> key permutation, so hot keys are spread over the key space
    perm = rng.permutation(CDC_KEY_SPACE)
    seq = 0
    for f in range(files):
        ranks = np.minimum(rng.zipf(CDC_ZIPF, CDC_EVENTS_PER_FILE), CDC_KEY_SPACE) - 1
        keys = perm[ranks]
        ops = np.where(rng.random(CDC_EVENTS_PER_FILE) < CDC_DELETE_SHARE, "delete", "upsert")
        seqs = np.arange(seq, seq + CDC_EVENTS_PER_FILE)
        seq += CDC_EVENTS_PER_FILE
        _write(pa.table({
            "k": pa.array(keys, pa.int64()),
            "v": [f"f{f}e{s}" for s in seqs],
            "amount": np.round(rng.integers(0, 100000, CDC_EVENTS_PER_FILE) / 100.0, 2),
            "op": ops.tolist(),
            "seq": pa.array(seqs, pa.int64())}),
            os.path.join(out, "src", f"f{f:05d}.parquet"))


def cdc_open_files(seconds):
    """Change files the open loop of a `seconds` run lands."""
    return max(1, int(seconds * CDC_FILES_PER_SEC))


def cdc_files_for(seconds):
    """Every change file of a cdc_stream run: the warm-up files, the open
    loop's, then the backlog."""
    return CDC_WARM_FILES + cdc_open_files(seconds) + CDC_BACKLOG_FILES


def generate(workload, seed, out, scale="bench", cdc_files=0):
    if workload != "cdc_stream":
        fixtures(seed, os.path.join(out, "fixtures"), scale)
    if workload == "lake_write":
        ops = write_ops(seed, SCALES[scale]["orders"])
        with open(os.path.join(out, "write_ops.json"), "w") as fh:
            json.dump(ops, fh)
        # the harness reads one "kind<TAB>sql" line per statement
        with open(os.path.join(out, "write_sql.tsv"), "w") as fh:
            fh.writelines(f"{op['kind']}\t{op['sql']}\n" for op in ops)
    if workload == "cdc_stream":
        cdc_inputs(seed, os.path.join(out, "cdc"), cdc_files)
