"""Output check: each captured operation output against its reference.

An output matches when its row count and an order-independent content
hash agree with the reference's. Values are put in the engine-neutral form
of perfbench/scala/Canon.scala first, so Spark's rows and DuckDB's rows
hash alike. References:

- oracle: SparkEntry.oracleSql of the operation's query (or its q-twin),
  run by DuckDB over the same tables, as tools/check.py does;
- fold: a DuckDB fold of the staged upsert batches 0..i over the staged
  target (update wins column by column, is_deleted drops the row,
  unmatched rows insert);
- frame: reference rows graft computed another way in the same run.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def number(d: decimal.Decimal) -> str:
    if d.is_nan():
        return "n:NaN"
    if d.is_infinite():
        return "n:Infinity" if d > 0 else "n:-Infinity"
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "n:0" if s in ("", "-0", "0") else "n:" + s


def canon(v):
    """DuckDB value -> the form Canon.value gives the same Spark value."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, int):
        return "n:%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "n:NaN"
        if math.isinf(v):
            return "n:Infinity" if v > 0 else "n:-Infinity"
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - EPOCH
        return "t:%d" % ((delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return "D:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b:" + bytes(v).hex()
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return "?:" + str(v)


def digest(rows) -> tuple:
    """(row count, order-independent sha256) of canonical row dicts."""
    lines = sorted(json.dumps(r, sort_keys=True, separators=(",", ":")) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def connect(tables_dir: str):
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(path):
            glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    return con


def query_rows(con, sql: str) -> list:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [{c: canon(v) for c, v in zip(cols, row)} for row in cur.fetchall()]


def fold_states(inputs_dir: str) -> list:
    """State of the MERGE target after each staged upsert batch."""
    wb = os.path.join(inputs_dir, "writeback")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE state AS SELECT * FROM read_parquet('{wb}/target.parquet')")
    states = []
    i = 0
    while os.path.exists(f"{wb}/batch-{i}.parquet"):
        con.execute(f"""
            CREATE OR REPLACE TABLE state AS
            SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
                   COALESCE(u.segment, t.segment) AS segment,
                   COALESCE(u.acctbal_cents, t.acctbal_cents) AS acctbal_cents
            FROM state t
            FULL OUTER JOIN read_parquet('{wb}/batch-{i}.parquet') u
              ON t.c_custkey = u.c_custkey
            WHERE NOT COALESCE(u.is_deleted, false)""")
        states.append(query_rows(con, "SELECT * FROM state"))
        i += 1
    return states


def check(outputs_path: str, inputs_dir: str) -> dict:
    """op name -> None when its output matches, else a one-line reason.
    Operations without an output of their own map to ('through', [names])."""
    verdicts = {}
    states = None
    with open(outputs_path) as f:
        records = [json.loads(line) for line in f]
    for rec in records:
        name = rec["op"]
        if "error" in rec:
            verdicts[name] = "threw: " + rec["error"]
            continue
        ref = rec["ref"]
        if "through" in ref:
            verdicts[name] = ("through", ref["through"])
            continue
        got = rec["rows"]
        try:
            if "oracle" in ref:
                con = connect(ref["dir"])
                want = query_rows(con, ref["sql"])
                con.close()
            elif "fold" in ref:
                states = states if states is not None else fold_states(inputs_dir)
                want = states[ref["fold"]]
            elif "frame" in ref:
                want = rec["ref_rows"]
            else:
                verdicts[name] = f"unknown reference {ref}"
                continue
        except Exception as exc:  # a failing reference is a failed check, never a pass
            verdicts[name] = f"reference failed: {str(exc)[:200]}"
            continue
        (gn, gh), (wn, wh) = digest(got), digest(want)
        if gn != wn:
            verdicts[name] = f"{gn} rows, want {wn}"
        elif gh != wh:
            verdicts[name] = f"content hash differs ({gn} rows)"
        else:
            verdicts[name] = None
    return verdicts
