"""Output checks, run after the timed window and untimed.

- SQL-template reads are compared with DuckDB's answer to the same text
  over the same parquet: columns by name, rows in emitted order, values
  by the type-tagged canonical form of scripts/check.py.
- GraphQL and NL reads, and each batch key's output digest, are compared
  with digests recorded with the benchmark (expected/answers.json).
- A read after a registration must count the registered table's rows;
  a read after an unregistration must be refused as an unknown table.
"""
import hashlib
import json
import math
from decimal import Decimal
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ANSWERS = HERE / "expected" / "answers.json"
MAX_ROWS = 1000  # the server's default response cap
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return f"Decimal({v})"
    if isinstance(v, bool):
        return f"bool({v})"
    if isinstance(v, int):
        return f"int({v})"
    return repr(v)


def _rounded(v):
    """Doubles to nine significant digits: a sum of doubles may differ in
    its last bits with the order partitions are merged in."""
    if isinstance(v, float):
        return float(f"{v:.9g}") if math.isfinite(v) else repr(v)
    if isinstance(v, list):
        return [_rounded(x) for x in v]
    if isinstance(v, dict):
        return {k: _rounded(x) for k, x in v.items()}
    return v


def digest_rows(rows):
    """Order-independent digest of JSON rows (dicts)."""
    lines = sorted(json.dumps(_rounded(r), sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def digest_response(body):
    """Digest of a served response, or None when it is an error."""
    r = json.loads(body)
    if "error" in r:
        return None
    head = json.dumps([r["columns"], r["rowCount"], r["truncated"]])
    return hashlib.sha256((head + digest_rows(r["rows"])).encode()).hexdigest()


def answer_key(dialect, label, query):
    return f"{dialect}|{label}|{query}"


def load_answers():
    return json.loads(ANSWERS.read_text()) if ANSWERS.is_file() else {}


class Duck:
    """One DuckDB connection per fixture directory, views over its tables."""

    def __init__(self, dirs):
        self.dirs = dirs
        self.cons = {}

    def con(self, label):
        if label not in self.cons:
            c = duckdb.connect()
            for t in TABLES:
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                          f"read_parquet('{self.dirs[label]}/{t}.parquet')")
            self.cons[label] = c
        return self.cons[label]

    def close(self):
        for c in self.cons.values():
            c.close()


def compare_sql(duck, op, body):
    """None when the served response equals DuckDB's answer, else why not."""
    r = json.loads(body)
    if "error" in r:
        return f"error: {r['error'][:200]}"
    rel = duck.con(op["dir_label"]).execute(op["query"])
    names = [d[0] for d in rel.description]
    rows = rel.fetchall()
    if sorted(r["columns"]) != sorted(names):
        return f"columns {r['columns']} vs {names}"
    if r["truncated"] != (len(rows) > MAX_ROWS) or r["rowCount"] != min(len(rows), MAX_ROWS):
        return f"rowCount {r['rowCount']} truncated {r['truncated']} vs {len(rows)} rows"
    order = sorted(names)
    for i, (got, want) in enumerate(zip(r["rows"], rows[:MAX_ROWS])):
        g = [canon(got.get(c)) for c in order]
        w = [canon(dict(zip(names, want))[c]) for c in order]
        if g != w:
            return f"row {i}: {g} vs {w}"
    return None


def check_read(duck, answers, op, body):
    """Returns (outcome, problem): outcome is ok, expected_reject or
    failed; problem is None unless the response is wrong."""
    r = json.loads(body)
    if op["expect"] == "unknown":
        err = r.get("error", "")
        if "unknown table" in err:
            return "expected_reject", None
        return "failed", f"read after unregister answered {body[:200]}"
    if op["expect"] == "visible":
        if "error" in r:
            return "failed", f"registered dataset not readable: {r['error'][:200]}"
        want = duck.con(op["dir_label"]).execute(
            f"SELECT count(*) FROM read_parquet('{op['path']}')").fetchone()[0]
        got = r["rows"][0]["n"] if r["rows"] else None
        return ("ok", None) if got == want else ("failed", f"count {got} vs {want}")
    if "error" in r:
        return "failed", f"error: {r['error'][:200]}"
    if op["dialect"] == "sql":
        why = compare_sql(duck, op, body)
        return ("ok", None) if why is None else ("failed", why)
    key = answer_key(op["dialect"], op["dir_label"], op["query"])
    if key not in answers:
        return "failed", f"no recorded answer for {key}"
    if digest_response(body) != answers[key]:
        return "failed", f"answer differs from the recorded one for {key}"
    return "ok", None


def check_write(op, status, body):
    r = json.loads(body)
    if status == 200 and "error" not in r:
        return "ok", None
    return "failed", f"{op['kind']} {op['name']}: {status} {body[:200]}"


def check_key(answers, key, digest):
    """Compare a batch key's output digest with the recorded one."""
    want = answers.get(f"batch|{key}")
    if want is None:
        return f"no recorded answer for batch key {key}"
    return None if digest == want else f"rows of {key} differ from the recorded ones"
