"""Expected results, computed with DuckDB outside the timed window, and
the order-insensitive checksum both sides are reduced to.

A result is summarised as (row count, per-column checksum). A column's
checksum is the sum of its numeric cells (booleans count 0/1) plus, for
every other cell, a CRC32 of its canonical text, plus its NULL count.
Canonical text irons out the renderings that differ between DuckDB's
Python values, the PG text format and ClickHouse TabSeparated while
meaning the same value: timestamps compare at whole seconds (the CH
format drops fractions) and a midnight timestamp equals its date, lists
and structs compare by their elements.
"""
import datetime
import decimal
import json
import math
import os
import zlib

import duckdb

import fixture

REL_TOL = 1e-6


def _canon_text(s):
    if len(s) >= 19 and s[4:5] == "-" and s[10:11] in (" ", "T") and s[13:14] == ":":
        # a midnight timestamp equals the date (as in tools/compare.py)
        return s[:10] if s[11:19] == "00:00:00" else s[:10] + " " + s[11:19]
    return s


def canon(v):
    """Canonical value: float for numbers/booleans, str otherwise, None
    for NULL."""
    if v is None:
        return None
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return _canon_text(v.strftime("%Y-%m-%d %H:%M:%S"))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        return str(v.total_seconds())
    if isinstance(v, (list, tuple)):
        return "{" + ",".join(_elem(e) for e in v) + "}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_elem(x)}" for k, x in v.items()) + "}"
    return canon_text(str(v).encode())


def _elem(e):
    c = canon(e)
    if c is None:
        return "NULL"
    if isinstance(c, float):
        return repr(round(c, 6))
    return c


def canon_text(cell, ch=False):
    """Canonical value of one wire text cell (bytes or None)."""
    if cell is None:
        return None
    s = cell.decode("utf-8", "replace")
    if ch:
        if s == "\\N":
            return None
        if "\\" in s:
            s = s.replace("\\t", "\t").replace("\\n", "\n").replace("\\\\", "\\")
    if s in ("t", "true"):
        return 1.0
    if s in ("f", "false"):
        return 0.0
    if s[:1] == "{" and s[-1:] == "}":
        return "{" + ",".join(_list_elem(x) for x in _split_list(s[1:-1])) + "}"
    try:
        f = float(s)
        return f if s.strip() == s else s
    except ValueError:
        return _canon_text(s)


def _split_list(body):
    if not body:
        return []
    out, depth, cur, quoted = [], 0, [], False
    for ch in body:
        if ch == '"':
            quoted = not quoted
        elif not quoted and ch in "{[(":
            depth += 1
        elif not quoted and ch in "}])":
            depth -= 1
        if ch == "," and depth == 0 and not quoted:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


def _list_elem(x):
    x = x.strip().strip('"')
    if x == "NULL":
        return x
    if x[:1] == "{" and x[-1:] == "}":
        return "{" + ",".join(_list_elem(y) for y in _split_list(x[1:-1])) + "}"
    if x in ("t", "true"):
        return repr(1.0)
    if x in ("f", "false"):
        return repr(0.0)
    try:
        return repr(round(float(x), 6))
    except ValueError:
        return _canon_text(x)


class Digest:
    """Order-insensitive per-column checksum of a result."""

    def __init__(self):
        self.rows = 0
        self.cols = None

    def add(self, values):
        if self.cols is None:
            self.cols = [[0.0, 0, 0] for _ in values]
        self.rows += 1
        for acc, v in zip(self.cols, values):
            if v is None:
                acc[2] += 1
            elif isinstance(v, float):
                if math.isfinite(v):
                    acc[0] += v
            else:
                acc[1] = (acc[1] + zlib.crc32(v.encode())) & 0xFFFFFFFF

    def to_json(self):
        return {"rows": self.rows, "cols": self.cols or []}


def matches(got, want):
    """True when two digests (as JSON dicts) describe the same result."""
    if got["rows"] != want["rows"]:
        return False
    if got["rows"] == 0:
        return True
    if len(got["cols"]) != len(want["cols"]):
        return False
    for (gs, gh, gn), (ws, wh, wn) in zip(got["cols"], want["cols"]):
        if gh != wh or gn != wn:
            return False
        if abs(gs - ws) > REL_TOL * max(1.0, abs(ws)):
            return False
    return True


def _views(con, fixture_dir):
    for t in fixture.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")


def compute(fixture_dir, oracle, names, out_path):
    """DuckDB digests for the named oracle statements plus the fixture
    facts the light and bulk workloads check against."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _views(con, fixture_dir)
    digests = {}
    for name in names:
        d = Digest()
        cur = con.execute(oracle[name])
        while True:
            batch = cur.fetchmany(4096)
            if not batch:
                break
            for row in batch:
                d.add([canon(v) for v in row])
        digests[name] = d.to_json()
    facts = {}
    for name, sql in [("orders", "SELECT count(*), sum(o_orderkey) FROM orders")] + [
            (f"lineitem/{q}", f"SELECT count(*), sum(l_orderkey) FROM lineitem "
                              f"WHERE l_orderkey % 4 = {q}") for q in range(4)]:
        n, s = con.execute(sql).fetchone()
        facts[name] = {"rows": int(n), "key_sum": int(s)}
    lookups = {}
    for t, cols in (("customer", "c_custkey, c_name, c_acctbal"),
                    ("orders", "o_orderkey, o_orderstatus, o_totalprice"),
                    ("part", "p_partkey, p_name, p_retailprice")):
        lookups[t] = {str(r[0]): [r[1], r[2]]
                      for r in con.execute(f"SELECT {cols} FROM {t}").fetchall()}
    con.close()
    out = {"names": list(names), "version": 2, "digests": digests, "tables": facts,
           "lookups": lookups}
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, out_path)
    return out
