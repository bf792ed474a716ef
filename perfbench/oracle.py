"""DuckDB oracle for the wire benchmark.

Runs after the timed loop, untimed. Reads are checked against the same
seeded parquet the engine served; writes are replayed in statement order on
DuckDB tables (MERGE as UPDATE + INSERT, a dynamic-table refresh as a
recomputation from its definition, a stream consume as the multiset
difference since the last consume), so every checked read and the end
state of every table are compared with what the engine returned.
"""

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb

EPOCH = dt.datetime(1970, 1, 1)
LAKE_TABLES = ("customer", "orders", "lineitem", "events")


def _canon(v):
    """A DuckDB value in the form the wire client reports it."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return (v - EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _cell_str(v):
    """Canonical text of one cell for result digests (see WireClient.digest)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return str(math.floor(v * 100 + 0.5))
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, dt.datetime):
        return str((v - EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def digest(rows):
    total = 0
    for r in rows:
        h = hashlib.md5("|".join(_cell_str(v) for v in r).encode()).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
    return {"rows": len(rows), "hash": str(total)}


def _sort_key(row):
    key = []
    for v in row:
        if v is None:
            key.append((2, ""))
        elif isinstance(v, (bool, int, float)):
            key.append((0, f"{float(v):.6g}"))
        else:
            key.append((1, str(v)))
    return key


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    return a == b


def compare_rows(expected, actual):
    """Multiset comparison with a relative tolerance on numbers; returns a
    reason string, or None when the results agree."""
    if len(expected) != len(actual):
        return f"row count {len(actual)} != expected {len(expected)}"
    for e, a in zip(sorted(expected, key=_sort_key), sorted(actual, key=_sort_key)):
        if len(e) != len(a) or not all(_same(x, y) for x, y in zip(e, a)):
            return f"row {a} != expected {e}"
    return None


class Oracle:
    def __init__(self, plan, lake):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute("SET TimeZone = 'UTC'")
        for t in LAKE_TABLES:
            path = os.path.join(lake, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q in plan["oracle_setup"]:
            self.con.execute(q)
        self.static = not plan["fixed"]
        self.memo = {}

    def query(self, sql):
        if self.static and sql in self.memo:
            return self.memo[sql]
        rows = self.con.execute(sql).fetchall()
        if self.static:
            self.memo[sql] = rows
        return rows

    def apply(self, st):
        """Replay a write; return the rows it changed in its target table."""
        changed = 0
        target = st.get("table", "").lower()
        for q in st["duck"]:
            res = self.con.execute(q).fetchall()
            words = q.split()
            head = " ".join(words[:3]).lower()
            if res and isinstance(res[0][0], int) and target and (
                    head.startswith(f"insert into {target}")
                    or head.startswith(f"delete from {target}")
                    or " ".join(words[:2]).lower() == f"update {target}"):
                changed += res[0][0]
        return changed

    def verdict(self, st, rec):
        """None when the engine's result for `st` agrees with the oracle."""
        cmp = st["cmp"]
        if cmp == "ok":
            return None
        got = rec.get("result")
        if cmp == "describe":
            names = [str(r[0]).lower() for r in got]
            return None if names == st["cols"] else f"columns {names} != {st['cols']}"
        if cmp == "show":
            cells = {str(c).upper() for r in got for c in r if isinstance(c, str)}
            missing = [n for n in st["names"] if n not in cells]
            return None if not missing else f"SHOW TABLES lacks {missing}"
        rows = self.query(st["duck"])
        if cmp == "hash":
            want = digest(rows)
            return None if got == want else f"digest {got} != expected {want}"
        return compare_rows([[_canon(v) for v in r] for r in rows], got)


def check(plan, raw, lake):
    """Check every statement the run executed, in statement order."""
    by_sid = {st["sid"]: st for group in (plan["warmup"], plan["sessions"])
              for stream in group for st in stream}
    by_sid.update({st["sid"]: st for st in plan["checks"]})
    recs = [r for part in ("warmup", "http") for r in raw.get(part, {}).get("stmts", [])]
    recs.sort(key=lambda r: r["sid"])
    recs += raw.get("checks", [])
    oracle = Oracle(plan, lake)
    mismatches, changed = [], {}
    for rec in recs:
        st = by_sid[rec["sid"]]
        if not rec["ok"]:
            mismatches.append({"sid": rec["sid"], "sql": st["sql"][:300],
                               "error": rec.get("err", "")[:500]})
            continue
        try:
            if st["kind"] == "write":
                changed[rec["sid"]] = oracle.apply(st)
                continue
            reason = oracle.verdict(st, rec)
        except duckdb.Error as e:
            reason = f"oracle could not check it: {e}"
        if reason:
            mismatches.append({"sid": rec["sid"], "sql": st["sql"][:300],
                               "mismatch": reason[:500]})
    bad = {m["sid"] for m in mismatches}
    return {"summary": {"checked": len(recs), "errors": sum("error" in m for m in mismatches),
                        "mismatches": sum("mismatch" in m for m in mismatches)},
            "mismatches": mismatches, "bad_sids": bad, "rows_changed": changed}
