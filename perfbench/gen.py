"""Seeded input generator for the benchmark.

Every workload's inputs are made here from `--seed`; the program under test
sees only the parquet files written below. Alongside the files, each
generator returns the Python values it wrote, so the output checks can
re-render them by the reference's rules without reading anything the
program produced.

Sizes are fixed per workload (see README.md); only the values depend on the
seed. The one exception is `u64_nested_template`, which is the same for
every seed: it carries u64 values inside a list and a map, which the program
renders wrongly today, and a failure that is always the same must not move
with the seed.
"""
import datetime as dt
import decimal
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- convert_flat ---------------------------------------------------------

FLAT_ROWS = 60_000

EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _days(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def lineitem_arrays(rng, n, n_orders, n_parts, n_supps):
    """The harness's lineitem shape: 11 flat columns, TPC-H-like values."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    price_cents = rng.integers(90_182, 10_499_789, n)
    ship_days = rng.integers(_days(1995, 1, 2), _days(2001, 11, 5), n)
    return {
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supps, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price_cents / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": (ship_days * 86_400_000_000).astype("datetime64[us]"),
    }


def lineitem_table(arrays):
    return pa.table({k: pa.array(v) for k, v in arrays.items()})


def write_flat(rng, out_dir):
    """One file, one row group: the reference's main path."""
    path = os.path.join(out_dir, "lineitem.parquet")
    t = lineitem_table(lineitem_arrays(rng, FLAT_ROWS, 150_000, 20_000, 1_000))
    pq.write_table(t, path, row_group_size=FLAT_ROWS)
    return {"path": path, "rows": FLAT_ROWS}


# ---- nested values (the nested small files) ------------------------------

WORDS = ["alpha", "beta", "gamma", "delta", "käse", "naïve", "日本", "😀x",
         'quo"te', "back\\slash", "tab\there", "comma,sep", "", "zeta"]
MAP_KEYS = ["k", "key", "Key", "éa", "z", "a1", "a10", "a2", "日", "😀", "b"]

NESTED_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("name", pa.string()),
    ("flag", pa.bool_()),
    ("score", pa.float64()),
    ("ratio", pa.float32()),
    ("price", pa.decimal128(12, 3)),
    ("blob", pa.binary()),
    ("day", pa.date32()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("u", pa.uint64()),
    ("tags", pa.list_(pa.string())),
    ("nums", pa.list_(pa.int32())),
    ("attrs", pa.map_(pa.string(), pa.int64())),
    ("codes", pa.map_(pa.int32(), pa.string())),
    ("point", pa.struct([("x", pa.float64()), ("y", pa.float64()),
                         ("label", pa.string())])),
    ("items", pa.list_(pa.struct([("k", pa.string()), ("v", pa.float64())]))),
])

def _maybe(rng, p_null, v):
    return None if rng.random() < p_null else v


def _double(rng):
    r = rng.random()
    if r < 0.03:
        return float("nan")
    if r < 0.05:
        return float("inf")
    if r < 0.07:
        return float("-inf")
    if r < 0.12:
        return None
    return float(rng.normal() * 10 ** int(rng.integers(-3, 8)))


def nested_row(rng, rid):
    """One row of NESTED_SCHEMA as plain Python values."""
    n_tags = int(rng.integers(0, 4))
    n_attrs = int(rng.integers(0, 4))
    n_codes = int(rng.integers(0, 3))
    n_items = int(rng.integers(0, 3))
    ms = int(rng.integers(-86_400_000, 1_900_000_000_000))
    micros = ms * 1000 + int(rng.integers(0, 1000))
    price = decimal.Decimal(int(rng.integers(-10**9, 10**9))).scaleb(-3)
    point = None
    pr = rng.random()
    if pr < 0.7:
        point = {"x": _double(rng), "y": _double(rng),
                 "label": _maybe(rng, 0.3, str(rng.choice(WORDS)))}
    elif pr < 0.8:
        point = {"x": None, "y": None, "label": None}   # an all-null bag
    return {
        "id": rid,
        "name": _maybe(rng, 0.1, " ".join(rng.choice(WORDS, int(rng.integers(1, 4))))),
        "flag": _maybe(rng, 0.1, bool(rng.integers(0, 2))),
        "score": _double(rng),
        "ratio": _maybe(rng, 0.1, float(np.float32(rng.normal()))),
        "price": _maybe(rng, 0.1, price),
        "blob": _maybe(rng, 0.1, bytes(rng.integers(0, 256, int(rng.integers(1, 6))).tolist())),
        "day": _maybe(rng, 0.1, dt.date(1970, 1, 1) + dt.timedelta(days=int(rng.integers(0, 25_000)))),
        "ts": _maybe(rng, 0.1, EPOCH + dt.timedelta(microseconds=micros)),
        "u": _maybe(rng, 0.1, int(rng.integers(0, 2**63)) * 2 + int(rng.integers(0, 2))),
        "tags": _maybe(rng, 0.1, [_maybe(rng, 0.1, str(rng.choice(WORDS))) for _ in range(n_tags)]),
        "nums": _maybe(rng, 0.1, [int(x) for x in rng.integers(-2**31, 2**31, n_tags)]),
        "attrs": _maybe(rng, 0.1, list({str(k): _maybe(rng, 0.2, int(rng.integers(-2**62, 2**62)))
                                        for k in rng.choice(MAP_KEYS, n_attrs, replace=False)}.items())),
        "codes": _maybe(rng, 0.1, list({int(k): str(rng.choice(WORDS))
                                        for k in rng.integers(-20, 200, n_codes)}.items())),
        "point": point,
        "items": _maybe(rng, 0.1, [{"k": str(rng.choice(WORDS)), "v": _double(rng)}
                                   for _ in range(n_items)]),
    }


def nested_rows(rng, start, n):
    return [nested_row(rng, start + i) for i in range(n)]


def write_rows(rows, schema, path, row_group_size):
    cols = {f.name: pa.array([r[f.name] for r in rows], type=f.type) for f in schema}
    pq.write_table(pa.table(cols, schema=schema), path, row_group_size=row_group_size)


# ---- convert_small_files --------------------------------------------------

# (rows, schema kind, output mode); one file per entry in each pass. Modes:
# "json" is the default JSONL, "pruned" is JSONL with `--prune -t ticks`,
# "csv" is `--csv --columns [...]`.
SMALL_TEMPLATES = [
    (300, "flat", "json"), (1500, "flat", "csv"), (800, "nested", "pruned"),
    (2500, "flat", "pruned"), (600, "nested", "csv"), (1200, "flat", "csv"),
    (400, "nested", "json"), (3000, "flat", "json"), (900, "nested", "csv"),
    (2000, "flat", "csv"), (1500, "nested", "pruned"),
]
# Requested CSV columns: one is absent from every schema, so its slot is
# empty on every line.
CSV_COLUMNS = {
    "flat": ["l_orderkey", "l_comment", "l_returnflag", "l_extendedprice", "l_shipdate"],
    "nested": ["id", "name", "no_such_column", "price", "attrs", "ts"],
}
U64_ROWS = 64


def u64_nested_template():
    """list<uint64> and map<string,uint64> values above i64::MAX. The same
    for every seed (see the module docstring)."""
    schema = pa.schema([("id", pa.int64()), ("u", pa.uint64()),
                        ("us", pa.list_(pa.uint64())),
                        ("um", pa.map_(pa.string(), pa.uint64()))])
    rows = []
    for i in range(U64_ROWS):
        big = 2**63 + i * 7919
        rows.append({"id": i, "u": big, "us": [big, i, 2**64 - 1 - i],
                     "um": [("hi", big + 1), ("lo", i)]})
    return schema, rows


def write_small(rng, out_dir):
    d = os.path.join(out_dir, "small")
    os.makedirs(d)
    templates = []
    for i, (n, kind, mode) in enumerate(SMALL_TEMPLATES):
        path = os.path.join(d, f"tpl-{i:02d}.parquet")
        if kind == "flat":
            arrays = lineitem_arrays(rng, n, 15_000, 2_000, 100)
            table = lineitem_table(arrays)
            pq.write_table(table, path)
            schema = table.schema
            values = [{k: arrays[k][j] for k in arrays} for j in range(n)]
        else:
            schema = NESTED_SCHEMA
            values = nested_rows(rng, 0, n)
            write_rows(values, schema, path, n)
        templates.append({"path": path, "rows": n, "kind": kind, "mode": mode,
                          "values": values, "schema": schema,
                          "columns": CSV_COLUMNS[kind] if mode == "csv" else None})
    schema, values = u64_nested_template()
    path = os.path.join(d, f"tpl-{len(templates):02d}.parquet")
    write_rows(values, schema, path, U64_ROWS)
    templates.append({"path": path, "rows": U64_ROWS, "kind": "u64", "mode": "json",
                      "values": values, "schema": schema, "columns": None})
    return {"templates": templates}


# ---- query_mix: the harness tables at a small scale -----------------------

QUERY_SCALE = {"customer": 1_500, "supplier": 100, "part": 2_000,
               "orders": 15_000, "lineitem": 60_000, "events": 10_000,
               "documents": 500, "embeddings": 500}
DOC_WORDS = ["dup", "vector", "batch", "part", "value", "a", "slow", "scan",
             "merge", "sort", "hash", "table", "join", "fast", "column", "key",
             "spark", "agg", "the", "line", "order", "data", "small",
             "customer", "query", "window", "big", "stream", "group", "row",
             "filter"]


def write_tables(rng, out_dir):
    """region..embeddings with the harness's column names and types."""
    d = os.path.join(out_dir, "tables")
    os.makedirs(d)
    s = QUERY_SCALE

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    nc = s["customer"]
    put("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": rng.integers(-99_999, 1_000_000, nc) / 100.0,
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, nc)]})
    ns = s["supplier"]
    put("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": rng.integers(-99_999, 1_000_000, ns) / 100.0})
    npart = s["part"]
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "new"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"])
    put("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 7, npart)], " "),
                              noun[rng.integers(0, 7, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                            "PROMO"])[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0})
    no = s["orders"]
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": rng.integers(101_370, 49_997_860, no) / 100.0,
        "o_orderdate": (rng.integers(_days(1995, 1, 1), _days(2001, 8, 2), no)
                        * 86_400_000_000).astype("datetime64[us]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, no)]})
    put("lineitem", lineitem_table(lineitem_arrays(rng, s["lineitem"], no, npart, ns)))
    ne = s["events"]
    t0 = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, ne))
    put("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": np.array(["click", "signup", "error", "view",
                                "purchase"])[rng.integers(0, 5, ne)],
        "value": np.maximum(1, np.round(rng.exponential(3000, ne))) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = s["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.1:   # near-duplicates of earlier docs
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = str(rng.choice(DOC_WORDS))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(8, 90)))))
    put("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "de", "fr", "es"])[rng.integers(0, 7, nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = s["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    v = centers[labels] * 0.5 + rng.normal(size=(nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return {"path": d, "rows": {**s, "region": 5, "nation": 25}}


GENERATORS = {
    "convert_flat": write_flat,
    "convert_small_files": write_small,
    "query_mix": write_tables,
}


def generate(workload, seed, out_dir):
    rng = np.random.default_rng(seed)
    return GENERATORS[workload](rng, out_dir)


def main(argv):
    """python3 perfbench/gen.py WORKLOAD SEED OUT_DIR

    Writes the workload's inputs for SEED under OUT_DIR and, for the
    conversion workloads whose checks use the generator's values, the
    expected rows by the reference's rules as `expected*.jsonl` (one JSON
    value per line; numbers compare by value)."""
    import json
    import checks
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    os.makedirs(out, exist_ok=True)
    info = generate(workload, seed, out)
    sets = []
    if workload == "convert_small_files":
        sets = [(f"expected-tpl-{i:02d}.jsonl", t["values"], t["schema"], checks.rules_for(t["mode"]))
                for i, t in enumerate(info["templates"])]
    for name, values, schema, rules in sets:
        with open(os.path.join(out, name), "w") as f:
            for v in values:
                f.write(json.dumps(checks.plain(rules.row(v, schema)), ensure_ascii=False) + "\n")
    print(json.dumps({k: v for k, v in info.items() if k in ("path", "rows")}))


if __name__ == "__main__":
    import sys
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main(sys.argv[1:])
