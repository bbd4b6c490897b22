"""Output checks made apart from the program.

Each check re-derives what the program should have printed from the
generator's own values, from pyarrow or from DuckDB, by the reference's
rendering rules (pq2json's `converter.rs`):

- object keys sorted by their UTF-8 bytes (serde_json's BTreeMap);
- doubles: NaN and ±Inf become null, others must round-trip exactly;
  float32 widens to double first;
- decimals print as plain strings padded to their scale;
- binary becomes an array of byte values;
- dates are `yyyy-MM-dd`; timestamps are truncated to milliseconds and
  print as ISO `...ss.SSS000Z`, as .NET ticks
  (`ms * 10000 + 621355968000000000`) or null before 1970;
- map keys are stringified; u64 prints as a bare unsigned number, at the top
  level and inside lists and maps;
- `--prune` omits null fields and map values, and turns empty objects and
  empty lists into nulls (omitted in turn); an empty top-level row is `{}`.

Each function returns a list of problems; an empty list means the output
passed.
"""
import csv
import datetime as dt
import decimal
import glob
import io
import json
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TICKS_TILL_UNIX = 621355968000000000
EPOCH = dt.datetime(1970, 1, 1)
INF = float("inf")


def epoch_micros(v):
    """Microseconds since 1970 of a generator or pyarrow timestamp value."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (v - EPOCH) // dt.timedelta(microseconds=1)
    return int(v.astype("datetime64[us]").astype("int64"))


class Obj(list):
    """A JSON object as its ordered (key, value) pairs."""


def plain(v):
    """Obj -> dict, recursively, for writing as JSON."""
    if isinstance(v, Obj):
        return {k: plain(x) for k, x in v}
    if isinstance(v, list):
        return [plain(x) for x in v]
    return v


def parse(line):
    return json.loads(line, object_pairs_hook=Obj)


def utf8_sorted(keys):
    return sorted(keys, key=lambda k: k.encode("utf-8"))


def same(a, b):
    """Equality that also tells 1, 1.0, True and "1" apart."""
    if type(a) is not type(b):
        return False
    if isinstance(a, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


class Rules:
    """The reference's rendering, compiled once per arrow type into a
    function of the value."""

    def __init__(self, prune=False, ts_mode="isostr"):
        self.prune = prune
        self.ts_mode = ts_mode
        self._compiled = {}

    def value(self, v, t):
        """The rendering of value `v` of arrow type `t`."""
        f = self._compiled.get(t)
        if f is None:
            f = self._compiled[t] = self.compile(t)
        return f(v)

    def compile(self, t):
        f = self._compile(t)
        return lambda v: None if v is None else f(v)

    def _compile(self, t):
        if pa.types.is_boolean(t):
            return bool
        if pa.types.is_integer(t):
            return int
        if pa.types.is_floating(t):
            def double(v):
                d = float(v)
                return None if d != d or d in (INF, -INF) else d
            return double
        if pa.types.is_decimal(t):
            q = decimal.Decimal(1).scaleb(-t.scale)
            return lambda v: format(decimal.Decimal(v).quantize(q), "f")
        if pa.types.is_string(t):
            return str
        if pa.types.is_binary(t):
            return list
        if pa.types.is_date(t):
            return lambda v: v.isoformat()
        if pa.types.is_timestamp(t):
            return self._timestamp
        if pa.types.is_list(t):
            elem = self.compile(t.value_type)

            def lst(v):
                out = [elem(x) for x in v]
                return None if self.prune and not out else out
            return lst
        if pa.types.is_map(t):
            val = self.compile(t.item_type)

            def mp(v):
                m = {}
                for k, x in v:
                    m[("true" if k else "false") if isinstance(k, bool) else str(k)] = val(x)
                return self.bag([(k, m[k]) for k in utf8_sorted(m)])
            return mp
        if pa.types.is_struct(t):
            fields = [(f.name, self.compile(f.type))
                      for f in sorted(t, key=lambda f: f.name.encode("utf-8"))]
            return lambda v: self.bag([(n, f(v[n])) for n, f in fields])
        raise ValueError(f"no rule for {t}")

    def _timestamp(self, v):
        ms = epoch_micros(v) // 1000
        if ms < 0:
            return None
        if self.ts_mode == "ticks":
            return ms * 10000 + TICKS_TILL_UNIX
        if self.ts_mode == "unixms":
            return ms
        return (EPOCH + dt.timedelta(seconds=ms // 1000)).strftime(
            "%Y-%m-%dT%H:%M:%S") + f".{ms % 1000:03d}000Z"

    def bag(self, pairs):
        if self.prune:
            pairs = [(k, x) for k, x in pairs if x is not None]
            if not pairs:
                return None
        return Obj(pairs)

    def row(self, values, schema):
        """A top-level row: an empty (pruned) row prints as `{}`."""
        f = self._compiled.get(id(schema))
        if f is None:
            f = self._compiled[id(schema)] = self.compile(pa.struct(list(schema)))
        o = f(values)
        return Obj() if o is None else o


def first_difference(got, want):
    if same(got, want):
        return None
    return f"got {json.dumps(got, ensure_ascii=False)[:300]} want {json.dumps(want, ensure_ascii=False)[:300]}"


# ---- convert_flat ---------------------------------------------------------

def check_flat(out_file, parquet_path, seed, sample=2000):
    problems = []
    meta = pq.ParquetFile(parquet_path).metadata
    with open(out_file, "rb") as f:
        data = f.read()
    lines = data.split(b"\n")
    if lines[-1] != b"":
        problems.append("output does not end with a newline")
    lines = lines[:-1]
    if len(lines) != meta.num_rows:
        return [f"{len(lines)} lines for {meta.num_rows} footer rows"]
    table = pq.read_table(parquet_path)
    names = table.column_names
    keys = utf8_sorted(names)
    sums = {n: decimal.Decimal(0) for n in names if n not in ("l_returnflag", "l_linestatus", "l_shipdate")}
    parsed = []
    for i, line in enumerate(lines):
        try:
            o = json.loads(line, object_pairs_hook=Obj, parse_float=decimal.Decimal)
        except ValueError as e:
            return problems + [f"line {i} is not JSON: {e}"]
        if [k for k, _ in o] != keys:
            return problems + [f"line {i} keys {[k for k, _ in o]} not in sorted order {keys}"]
        d = dict(o)
        for n in sums:
            sums[n] += d[n]
        parsed.append(d)
    rules = Rules()
    rng = random.Random(seed)
    cols = {n: table.column(n) for n in names}
    for i in sorted(rng.sample(range(len(lines)), min(sample, len(lines)))):
        for n in names:
            t = cols[n].type
            want = rules.value(cols[n][i].as_py(), t)
            got = parsed[i][n]
            if pa.types.is_floating(t):
                ok = isinstance(got, decimal.Decimal) and float(got) == want
            else:
                ok = same(got, want)
            if not ok:
                problems.append(f"row {i} {n}: got {got!r} want {want!r}")
                if len(problems) > 5:
                    return problems
    con = duckdb.connect()
    for n in sums:
        t = cols[n].type
        expr = f"SUM(CAST({n} AS DECIMAL(38,2)))" if pa.types.is_floating(t) else f"SUM({n})"
        want = con.sql(f"SELECT {expr} FROM read_parquet('{parquet_path}')").fetchone()[0]
        if decimal.Decimal(want) != sums[n]:
            problems.append(f"sum of {n}: {sums[n]} from the output, {want} from DuckDB")
    return problems


# ---- convert_small_files --------------------------------------------------

def rules_for(mode):
    """The rendering options of a small-file template's output mode."""
    return Rules(prune=True, ts_mode="ticks") if mode == "pruned" else Rules()


def check_json_rows(lines, values, schema, rules, limit=5):
    """Line i must equal generator row i re-rendered by `rules`."""
    problems = []
    for i, (line, v) in enumerate(zip(lines, values)):
        try:
            got = parse(line)
        except ValueError as e:
            return problems + [f"line {i} is not JSON: {e}"]
        diff = first_difference(got, rules.row(v, schema))
        if diff:
            problems.append(f"line {i}: {diff}")
            if len(problems) >= limit:
                break
    return problems


def nested_u64_as_strings(row):
    """`row` as the known nested-u64 fault renders it: the values of the
    `us` list and of the `um` map as quoted decimal strings, every other
    field as the reference prints it."""
    def q(v):
        return str(v) if type(v) is int else v
    out = Obj()
    for k, v in row:
        if k == "us" and isinstance(v, list):
            v = [q(x) for x in v]
        elif k == "um" and isinstance(v, Obj):
            v = Obj((mk, q(mv)) for mk, mv in v)
        out.append((k, v))
    return out


def check_u64(out_file, tpl, limit=5):
    """The fixed u64 file: every line must be the reference's rendering or,
    exactly, the known nested-u64 fault's (`nested_u64_as_strings`).
    Returns (problems, lines that show the known fault)."""
    with open(out_file, "rb") as f:
        lines = f.read().decode("utf-8").split("\n")
    if lines[-1] != "":
        return ["output does not end with a newline"], 0
    lines = lines[:-1]
    if len(lines) != tpl["rows"]:
        return [f"{len(lines)} lines for {tpl['rows']} rows"], 0
    rules = rules_for(tpl["mode"])
    problems, faulty = [], 0
    for i, (line, v) in enumerate(zip(lines, tpl["values"])):
        try:
            got = parse(line)
        except ValueError as e:
            return problems + [f"line {i} is not JSON: {e}"], faulty
        want = rules.row(v, tpl["schema"])
        if same(got, want):
            continue
        if same(got, nested_u64_as_strings(want)):
            faulty += 1
            continue
        problems.append(f"line {i}: {first_difference(got, want)}")
        if len(problems) >= limit:
            break
    return problems, faulty


def check_small(out_file, tpl):
    schema = tpl["schema"]
    with open(out_file, "rb") as f:
        data = f.read().decode("utf-8")
    if tpl["mode"] != "csv":
        lines = data.split("\n")
        if lines[-1] != "":
            return ["output does not end with a newline"]
        lines = lines[:-1]
        if len(lines) != tpl["rows"]:
            return [f"{len(lines)} lines for {tpl['rows']} rows"]
        return check_json_rows(lines, tpl["values"], schema, rules_for(tpl["mode"]))
    # CSV: \r\n records, the requested columns in their requested order,
    # an empty slot for a requested column the file does not have
    recs = data.split("\r\n")
    if recs[-1] != "":
        return ["output does not end with \\r\\n"]
    recs = recs[:-1]
    if len(recs) != tpl["rows"]:
        return [f"{len(recs)} records for {tpl['rows']} rows"]
    cols = tpl["columns"]
    types = {f.name: f.type for f in schema}
    rules = Rules()
    problems = []
    for i, (rec, v) in enumerate(zip(recs, tpl["values"])):
        fields = next(csv.reader(io.StringIO(rec)))
        if len(fields) != len(cols):
            problems.append(f"record {i}: {len(fields)} fields for {len(cols)} columns")
        else:
            for c, got in zip(cols, fields):
                if c not in types:
                    ok, want = got == "", ""
                else:
                    want = rules.value(v[c], types[c])
                    ok = csv_field_matches(got, want, types[c])
                if not ok:
                    problems.append(f"record {i} {c}: got {got!r} want {want!r}")
        if len(problems) >= 5:
            break
    return problems


def csv_field_matches(got, want, t):
    if want is None:
        return got == ""
    if pa.types.is_floating(t):
        return float(got) == want
    if isinstance(want, (list, Obj)):
        return same(parse(got), want)
    return got == str(want)


# ---- query_mix ------------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """Columns sorted by name, values stringified, rows sorted."""
    df = df[sorted(df.columns)].astype(str)
    if len(df) == 0:
        return df.reset_index(drop=True)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_queries(art_dir, tables_dir, oracle):
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    problems = []
    for name, sql in oracle.items():
        files = sorted(glob.glob(os.path.join(art_dir, name, "*.parquet")))
        if not files:
            problems.append(f"{name}: no result written")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        want = con.sql(sql.replace("{SF_DIR}", tables_dir)).df()
        if len(want) == 0:
            problems.append(f"{name}: the oracle returns no rows, so the check shows nothing")
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            problems.append(f"{name}: columns {list(g.columns)} vs {list(w.columns)}")
        elif len(g) != len(w):
            problems.append(f"{name}: {len(g)} rows vs {len(w)} from the oracle")
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_exact=True)
            except AssertionError as e:
                problems.append(f"{name}: {str(e)[:300]}")
    return problems
