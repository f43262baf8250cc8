"""Result checks, run after the timed region.

Ops workloads: every attempt's row count and order-insensitive content
digest must equal those of the query's DuckDB oracle (`SparkEntry.oracleSql`)
over the same tables, encoded as `graftbench.Digest` encodes Spark rows.

hub-events: against the generator's ground truth (see `hubgen.py`).
"""
import calendar
import datetime as dt
import hashlib
import json
import math
import struct
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import hubgen

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
CANONICAL_NAN = struct.pack(">q", 0x7FF8000000000000)


def _double(v):
    v = float(v)
    if math.isnan(v):
        return b"f" + CANONICAL_NAN
    return b"f" + struct.pack(">d", 0.0 if v == 0.0 else v)


def _micros(v):
    if v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond


def _encode(t, v):
    if v is None:
        return b"n"
    if pa.types.is_integer(t):
        return b"i" + struct.pack(">q", v)
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return _double(v)
    if pa.types.is_boolean(t):
        return b"b" + (b"\x01" if v else b"\x00")
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        b = v.encode("utf-8")
        return b"s" + struct.pack(">i", len(b)) + b
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return b"x" + struct.pack(">i", len(v)) + v
    if pa.types.is_date(t):
        return b"d" + struct.pack(">q", (v - dt.date(1970, 1, 1)).days)
    if pa.types.is_timestamp(t):
        return b"t" + struct.pack(">q", _micros(v))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return b"l" + struct.pack(">i", len(v)) + b"".join(_encode(t.value_type, x) for x in v)
    if pa.types.is_struct(t):
        return b"r" + struct.pack(">i", t.num_fields) + b"".join(
            _encode(t.field(i).type, v[t.field(i).name]) for i in range(t.num_fields))
    if pa.types.is_map(t):
        entries = sorted((_encode(t.key_type, k) + _encode(t.item_type, x) for k, x in v),
                         key=lambda b: b.hex())
        return b"m" + struct.pack(">i", len(entries)) + b"".join(entries)
    raise ValueError(f"no digest encoding for {t}")


def digest(table: pa.Table) -> str:
    """Mirror of `graftbench.Digest.of` for an Arrow table."""
    names = sorted(table.column_names)
    cols = [(table.schema.field(n).type, table.column(n).to_pylist()) for n in names]
    hashes = []
    for i in range(table.num_rows):
        row = b"".join(_encode(t, vals[i]) for t, vals in cols)
        hashes.append(hashlib.sha256(row).hexdigest()[:32])
    return hashlib.sha256("".join(sorted(hashes)).encode()).hexdigest()[:32]


def oracle_expectations(data_dir, oracle_sql, cache_path: Path):
    """query -> (rows, digest) from DuckDB, cached by SQL text and data dir."""
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    todo = {}
    for name, sql in oracle_sql.items():
        key = hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()
        if key not in cache:
            todo[key] = sql
    if todo:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            p = Path(data_dir) / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for key, sql in todo.items():
            tbl = con.execute(sql).fetch_arrow_table()
            cache[key] = [tbl.num_rows, digest(tbl)]
        con.close()
        cache_path.write_text(json.dumps(cache))
    return {name: tuple(cache[hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()])
            for name, sql in oracle_sql.items()}


def _wrong(o, msg):
    o["fail"] = msg
    o["wrong"] = True


def check_ops(ops, expected):
    """Sets `fail` on every query attempt that threw or whose rows differ
    from the oracle's."""
    for o in ops:
        rows, dig = expected[o["name"]]
        if "error" in o:
            o["fail"] = o["error"]
        elif o["rows"] != rows:
            _wrong(o, f"rows {o['rows']} != oracle {rows}")
        elif o["digest"] != dig:
            _wrong(o, f"digest {o['digest']} != oracle {dig}")


def _output_ok(path: Path, truth):
    if not path.exists():
        return "output missing"
    tbl = pq.read_table(path)
    got = [(f.name, str(f.type)) for f in tbl.schema]
    if got != hubgen.OUTPUT_SCHEMA:
        return f"schema {got}"
    if tbl.num_rows != truth["rows"]:
        return f"rows {tbl.num_rows} != {truth['rows']}"
    nulls = sum(c.null_count for c in tbl.columns)
    if nulls != truth["nulls"]:
        return f"nulls {nulls} != planted {truth['nulls']}"
    return None


def _check_backfill(o, truth):
    actions = {Path(r["key"]).name: r["action"] for r in o["results"]}
    for key, f in truth["files"].items():
        problem = "not added" if actions.get(Path(key).name) != "add" else \
            _output_ok(Path(o["dir"]) / (Path(key).stem + ".parquet"), f)
        if problem:
            return f"{key}: {problem}"
    for key in truth["unsupported"]:
        if actions.get(Path(key).name) != "skip":
            return f"{key}: not skipped"
    return None


def check_hub(ops, truth, out_dir: Path):
    """Sets `fail` on every hub operation that threw or disagrees with the
    generator's ground truth."""
    state = {}
    for o in ops:
        if "error" in o:
            o["fail"] = o["error"]
        elif o["kind"] == "event":
            if o["action"] != o["expect"]:
                _wrong(o, f"action {o['action']} != {o['expect']} ({o.get('message')})")
            elif o["action"] in ("add", "delete"):
                state[o["name"]] = o
        elif o["kind"] == "scan":
            want = hubgen.expected_groups(truth["files"], o["scan"])
            got = {(g["model_id"], g["round_id"]): {k: g[k] for k in
                   ("n", "n_value", "sum_value", "n_output_type_id")} for g in o["groups"]}
            if got != want:
                diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))[:2]
                _wrong(o, f"aggregates differ from ground truth at {diff}")
        elif o["kind"] == "backfill":
            problem = _check_backfill(o, truth)
            if problem:
                _wrong(o, problem)
    # the final state the events leave: added files present and correct,
    # removed files absent; a failure is charged to the file's last event
    for key, last in state.items():
        out = out_dir / (Path(key).stem + ".parquet")
        problem = _output_ok(out, truth["files"][key]) if last["action"] == "add" else \
            ("output still present after remove" if out.exists() else None)
        if problem:
            _wrong(last, f"{key}: {problem}")
