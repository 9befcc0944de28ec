"""Answer fingerprints: the program's landed parquet and the DuckDB oracle.

The comparison rules are those of the project's local oracle check
(tools/verify_local.py): columns sorted by name, row order ignored,
values compared exactly. Here both sides are reduced to a fingerprint:
every value is put in a canonical form (numbers as exact decimals, so an
INT and a DECIMAL and a DOUBLE that are equal agree, as they do under
Python's ==), rows are sorted, and the result is hashed.

Oracle fingerprints are memoized by query, oracle SQL and the content
keys of the input tables. perfbench/fingerprints.json holds them for the
fixed generated inputs; the ones for refresh versions land in the
benchmark's work directory as runs compute them.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
from pathlib import Path

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
STORE = Path(__file__).resolve().parent / "fingerprints.json"
# queries with no exact oracle (an HLL estimate): the answer check is the
# row count of the exact group set instead of a fingerprint
ROW_COUNT_ONLY = {
    "q_agg_approx_distinct": "SELECT count(DISTINCT event_type) FROM events",
}


def _num(d):
    if d == 0:
        return "0"
    return format(d.normalize(), "f")


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return _num(decimal.Decimal(int(v)))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return _num(decimal.Decimal(v))
    if isinstance(v, (int, decimal.Decimal)):
        return _num(decimal.Decimal(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, dt.timedelta):
        return str(v // dt.timedelta(microseconds=1))
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return sorted([str(k), canon(x)] for k, x in v.items())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def fingerprint(table):
    """Fingerprint and row count of an arrow table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(json.dumps([canon(v) for v in row]) for row in zip(*data))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"fp": h.hexdigest(), "rows": len(rows)}


def same_rows(a, b):
    """True when two arrow tables hold the same rows, compared as sorted
    typed columns. It answers only the exact case: False also means
    "not decided here" (other column types, NaN), and the caller then
    compares fingerprints, which is exact but slower on whole tables."""
    cols = sorted(a.column_names)
    if cols != sorted(b.column_names) or a.num_rows != b.num_rows:
        return False
    order = [(c, "ascending") for c in cols]
    try:
        b = b.select(cols)
        a = a.select(cols).cast(b.schema)
        return a.sort_by(order).equals(b.sort_by(order))
    except (pa.ArrowException, TypeError, ValueError):
        return False


def read_output(path):
    """The program's landed answer: one parquet file or a directory of them."""
    p = Path(path)
    glob = f"{p}/*.parquet" if p.is_dir() else str(p)
    return duckdb.connect().execute(f"SELECT * FROM read_parquet('{glob}')").fetch_arrow_table()


def file_key(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


class Oracle:
    """Expected answers for queries over one mapping of table -> parquet file,
    each file known by a content key."""

    def __init__(self, memo_path):
        self.memo_path = Path(memo_path)
        self.store = json.loads(STORE.read_text()) if STORE.exists() else {}
        self.memo = json.loads(self.memo_path.read_text()) if self.memo_path.exists() else {}
        self.dirty = False

    def key(self, name, sql, inputs):
        parts = [name, sql] + [f"{t}={inputs[t][1]}" for t in TABLES]
        return hashlib.sha256("\n".join(parts).encode()).hexdigest()

    def expected(self, name, sql, inputs):
        """inputs: table -> (file path, content key)."""
        sql = ROW_COUNT_ONLY.get(name, sql)
        k = self.key(name, sql, inputs)
        hit = self.store.get(k) or self.memo.get(k)
        if hit is not None:
            return hit
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs[t][0]}')")
        if name in ROW_COUNT_ONLY:
            out = {"fp": None, "rows": con.execute(sql).fetchone()[0]}
        else:
            out = fingerprint(con.execute(sql).fetch_arrow_table())
        self.memo[k] = out
        self.dirty = True
        return out

    def save(self):
        if self.dirty:
            tmp = self.memo_path.with_suffix(f".tmp{os.getpid()}")
            tmp.write_text(json.dumps(self.memo, sort_keys=True))
            tmp.replace(self.memo_path)
            self.dirty = False


def matches(name, got, exp):
    if name in ROW_COUNT_ONLY:
        return got["rows"] == exp["rows"]
    return (got["fp"], got["rows"]) == (exp["fp"], exp["rows"])


def main(results):
    """Store the oracle fingerprints, on the generated inputs, of every
    query the given result.json files ran (not refresh versions)."""
    import run
    inputs = run.base_inputs(run.inputs())
    orc = Oracle(run.WORK / "oracle_memo.json")
    store = {}
    for path in results:
        res = json.loads(Path(path).read_text())
        for name in {op["name"] for op in res["ops"] if op["kind"] != "refresh"}:
            sql = res["oracle_sql"].get(name)
            store[orc.key(name, ROW_COUNT_ONLY.get(name, sql), inputs)] = \
                {"query": name, **orc.expected(name, sql, inputs)}
    merged = {**orc.store, **store}
    STORE.write_text(json.dumps(merged, indent=0, sort_keys=True) + "\n")
    print(f"{len(store)} fingerprints from {len(results)} results; {len(merged)} stored")


if __name__ == "__main__":
    import sys
    main(sys.argv[1:])
