"""Seeded inputs for the wire benchmark: lake data and statement streams.

Everything here is a pure function of (workload, seed, scale): the same
arguments give byte-identical parquet content and the same statement
stream. Each statement carries its Snowflake-dialect text (what the client
sends over the wire) and the DuckDB text the oracle runs to check it.
"""

import datetime as dt
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_DAY0 = dt.date(1992, 1, 1)
ORDER_DAYS = 2405
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SOURCES = ["web", "ios", "android", "api"]

# Lake size per workload, in TPC-H scale-factor units (0.1 = 150k orders,
# ~600k lineitem rows). lake_analytics is 2x sf0.1 so that scan, aggregate
# and exchange work dominate its statements while its three-fold Iceberg
# load still fits a run; lake_write copies a slice of orders into its
# Iceberg table (WRITE_TABLE_ROWS).
SCALES = {"interactive": 0.1, "lake_analytics": 0.2, "lake_write": 0.1}
SMOKE_SCALE = 0.001
WRITE_TABLE_ROWS = 20000
# lake_write runs a fixed number of statements: table state grows with
# every write, so a run must see the same writes whatever its speed.
# 3 blocks of 18 statements take about 30 s on a 4-core box; with 2, the
# write median and tail of 18 writes spread past a quarter between runs.
WRITE_BLOCKS = 3


# ── lake data ────────────────────────────────────────────────────────────

def _ts(days, micros=None):
    base = (np.datetime64("1992-01-01") + days.astype("timedelta64[D]")
            ).astype("datetime64[us]")
    if micros is not None:
        base = base + micros.astype("timedelta64[us]")
    return pa.array(base, type=pa.timestamp("us"))


def lake_tables(scale, seed):
    """customer, orders, lineitem and events as Arrow tables."""
    rng = np.random.default_rng([seed, 0x5EED])
    n_cust = max(150, int(150_000 * scale))
    n_ord = 10 * n_cust
    n_ev = max(100, int(1_000_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))

    cust = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })

    odays = rng.integers(0, ORDER_DAYS, n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines)
    n_li = len(lkey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(1, n_part + 1, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odays, lines) + rng.integers(1, 122, n_li)),
    })

    secs = np.cumsum(rng.integers(0, 60, n_ev))
    micros = secs * 1_000_000 + rng.integers(0, 1_000_000, n_ev)
    ev_days = np.full(n_ev, (dt.date(2024, 1, 1) - ORDER_DAY0).days)
    ks = rng.integers(0, 100, n_ev)
    srcs = np.array(SOURCES)[rng.integers(0, 4, n_ev)]
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_days, micros),
        "user_id": rng.integers(1, 5001, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.0, 500.0, n_ev), 2),
        "props": [f'{{"k": {k}, "src": "{s}"}}' for k, s in zip(ks, srcs)],
    })
    return {"customer": cust, "orders": orders, "lineitem": lineitem,
            "events": events}


def input_hash(tables):
    """Content hash of the generated lake (independent of parquet layout)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for col in tables[name].columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def write_lake(out_dir, scale, seed):
    """Write the lake for (scale, seed) once; return its input hash."""
    done = os.path.join(out_dir, "_input_hash")
    if os.path.exists(done):
        with open(done) as f:
            return f.read().strip()
    os.makedirs(out_dir, exist_ok=True)
    tables = lake_tables(scale, seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    digest = input_hash(tables)
    with open(done, "w") as f:
        f.write(digest)
    return digest


def lake_size(scale):
    n_cust = max(150, int(150_000 * scale))
    return {"customer": n_cust, "orders": 10 * n_cust,
            "lineitem_approx": 40 * n_cust,
            "events": max(100, int(1_000_000 * scale))}


# ── statements ───────────────────────────────────────────────────────────
# A statement is a dict:
#   sql    Snowflake-dialect text sent over the wire
#   kind   read | write | meta | check
#   duck   DuckDB text (read/check: a query; write: a list of statements)
#   cmp    rows | hash | describe | show | ok   (how results are compared)
# plus optional fields (refresh, table) the metrics use.

def _day(rng, lo=0, hi=ORDER_DAYS - 120):
    return ORDER_DAY0 + dt.timedelta(days=rng.randrange(lo, hi))


def _interactive_templates(rng, n_cust, n_ord, pick):
    """One short statement over the attached lake, of template `pick`."""
    c = rng.randrange(1, n_cust - 60)
    k = rng.randrange(1, n_ord + 1)
    d = _day(rng)
    span = rng.choice([7, 14, 30, 90])
    p = rng.choice([50_000, 150_000, 250_000, 400_000])
    u = rng.randrange(1, 5001)
    if pick == 0:
        return dict(
            sql=f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderdate::DATE AS d FROM orders WHERE o_orderkey = {k}",
            duck=f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                 f"CAST(o_orderdate AS DATE) AS d FROM orders WHERE o_orderkey = {k}")
    if pick == 1:
        q = (f"SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer "
             f"WHERE c_custkey = {c}")
        return dict(sql=q, duck=q)
    if pick == 2:
        return dict(
            sql=f"SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
                f"FROM orders WHERE o_orderdate >= '{d}'::DATE AND o_orderdate < "
                f"DATEADD(day, {span}, '{d}'::DATE) GROUP BY o_orderpriority "
                f"ORDER BY o_orderpriority",
            duck=f"SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
                 f"FROM orders WHERE o_orderdate >= DATE '{d}' AND o_orderdate < "
                 f"DATE '{d}' + INTERVAL {span} DAY GROUP BY o_orderpriority "
                 f"ORDER BY o_orderpriority")
    if pick == 3:
        q = (f"SELECT c.c_name, COUNT(*) AS n, SUM(o.o_totalprice) AS total "
             f"FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
             f"WHERE c.c_custkey BETWEEN {c} AND {c + 20} GROUP BY c.c_name "
             f"ORDER BY c.c_name")
        return dict(sql=q, duck=q)
    if pick == 4:
        return dict(
            sql=f"SELECT IFF(o_totalprice > {p}, 'big', 'small') AS sz, "
                f"DECODE(o_orderstatus, 'F', 'final', 'O', 'open', 'other') AS st, "
                f"COUNT(*) AS n FROM orders WHERE o_custkey BETWEEN {c} AND {c + 40} "
                f"GROUP BY 1, 2",
            duck=f"SELECT CASE WHEN o_totalprice > {p} THEN 'big' ELSE 'small' END "
                 f"AS sz, CASE o_orderstatus WHEN 'F' THEN 'final' WHEN 'O' THEN "
                 f"'open' ELSE 'other' END AS st, COUNT(*) AS n FROM orders "
                 f"WHERE o_custkey BETWEEN {c} AND {c + 40} GROUP BY 1, 2")
    if pick == 5:
        q = (f"SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
             f"WHERE o_custkey BETWEEN {c} AND {c + 50} QUALIFY ROW_NUMBER() "
             f"OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, "
             f"o_orderkey) = 1")
        return dict(sql=q, duck=q)
    if pick == 6:
        return dict(
            sql=f"SELECT event_type, COUNT(*) AS n, SUM(props:k::INT) AS ks "
                f"FROM events WHERE user_id = {u} GROUP BY event_type",
            duck=f"SELECT event_type, COUNT(*) AS n, "
                 f"SUM(CAST(json_extract(props, '$.k') AS INT)) AS ks "
                 f"FROM events WHERE user_id = {u} GROUP BY event_type")
    if pick == 7:
        q = (f"SELECT l_linenumber, l_quantity, l_extendedprice, l_returnflag "
             f"FROM lineitem WHERE l_orderkey = {k}")
        return dict(sql=q, duck=q)
    q = (f"SELECT c_mktsegment, COUNT(*) AS n, AVG(c_acctbal) AS bal "
         f"FROM customer WHERE c_nationkey = {rng.randrange(25)} "
         f"GROUP BY c_mktsegment ORDER BY c_mktsegment")
    return dict(sql=q, duck=q)


LAKE_COLUMNS = {
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
}


def _rotation(n, start):
    """0..n-1 in a fixed cycle from `start`, forever: every kind appears
    equally often in any stretch of a stream, and a run that completes the
    same number of statements ran the same kinds. (In a seeded order per
    round, the number of the costliest reads, the joins, in a run moved
    with the seed, and the read tail with it: spread 0.22 over ten seeds.)"""
    i = start
    while True:
        yield i % n
        i += 1


def _meta(rng, pick=None):
    pick = rng.randrange(4) if pick is None else pick
    if pick == 0:
        return dict(sql="USE DATABASE GRAFT", cmp="ok")
    if pick == 1:
        return dict(sql="USE SCHEMA PUBLIC", cmp="ok")
    if pick == 2:
        return dict(sql="SHOW TABLES", cmp="show",
                    names=["ORDERS", "CUSTOMER", "LINEITEM", "EVENTS"])
    t = rng.choice(sorted(LAKE_COLUMNS))
    return dict(sql=f"DESCRIBE TABLE {t}", cmp="describe", cols=LAKE_COLUMNS[t])


def _extract(rng, n_ord):
    """An export of ~4k-12k orders rows (at sf0.1): more than one wire chunk,
    so the client fetches chunk URLs."""
    width = rng.randrange(n_ord // 40, n_ord // 12)
    a = rng.randrange(1, n_ord - width)
    q = (f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
         f"FROM orders WHERE o_orderkey BETWEEN {a} AND {a + width - 1}")
    return dict(sql=q, duck=q, kind="read", cmp="hash", extract=True)


def _app_insert(rid, s, rng):
    v = round(rng.uniform(0, 100), 2)
    q = f"INSERT INTO app_log VALUES ({rid}, {s}, {v})"
    return dict(sql=q, duck=[q], kind="write", table="APP_LOG", cmp="ok")


# The kinds of statement keep a fixed pattern in every run; the seed picks
# parameters and which dashboard repeats. (A seeded order of kinds moved the
# medians between seeds by more than the run-to-run noise.)
INTERACTIVE_BLOCK = "FDWMFDWFDWFMDWFDWFXF"
# app_log INSERTs per session in the untimed warm-up; storage is measured
# after them, so it does not depend on how fast the timed loop ran.
WARMUP_INSERTS = 2


def interactive(seed, scale, per_session=600):
    """2 closed-loop sessions of short statements (see README)."""
    n_cust = max(150, int(150_000 * scale))
    n_ord = 10 * n_cust
    setup = ["CREATE OR REPLACE ICEBERG TABLE app_log AS SELECT "
             "0 AS id, 0 AS sess, CAST(0 AS DOUBLE) AS v WHERE 1 = 0"]
    sessions = []
    warmup = []
    for s in range(2):
        # every read shape once, split between the sessions: plans, code
        # and JIT are shared by the JVM, so this halves the warm-up
        wrng = random.Random(f"interactive-warmup/{seed}/{s}")
        warm = [dict(_interactive_templates(wrng, n_cust, n_ord, pick),
                     kind="read", cmp="rows") for pick in range(s, 9, 2)]
        if s == 1:
            warm.append(_extract(wrng, n_ord))
        warm.append(dict(_meta(wrng), kind="meta"))
        warm += [_app_insert(s * 1_000_000 + 999_000 + i, s, wrng)
                 for i in range(WARMUP_INSERTS)]
        warmup.append(warm)
        rng = random.Random(f"interactive/{seed}/{s}")
        fresh, meta = _rotation(9, 4 * s), _rotation(4, 2 * s)
        dashboards = [_interactive_templates(rng, n_cust, n_ord, next(fresh))
                      for _ in range(8)]
        stream = []
        # blocks of 20: 5 dashboard repeats (25%), 2 session/metadata
        # statements (10%), 5 app writes (25%), 7 fresh reads, 1 extract.
        # With 3 writes in 20 (~23 a run) the write tail, the 3rd-slowest
        # write, flipped between writes that ran alone and writes that ran
        # beside the other session's heavier reads, and spread 0.33.
        while len(stream) < per_session:
            for slot in INTERACTIVE_BLOCK:
                if slot == "D":
                    st = dict(rng.choice(dashboards), kind="read", cmp="rows")
                elif slot == "M":
                    st = dict(_meta(rng, next(meta)), kind="meta")
                elif slot == "W":
                    st = _app_insert(s * 1_000_000 + len(stream), s, rng)
                elif slot == "X":
                    st = _extract(rng, n_ord)
                else:
                    st = dict(_interactive_templates(rng, n_cust, n_ord, next(fresh)),
                              kind="read", cmp="rows")
                stream.append(st)
        sessions.append(stream)
    checks = [dict(sql="SELECT id, sess, v FROM app_log", kind="check", cmp="rows",
                   duck="SELECT id, sess, v FROM app_log")]
    oracle_setup = ["CREATE TABLE app_log (id BIGINT, sess BIGINT, v DOUBLE)"]
    return dict(setup=setup, warmup=warmup, sessions=sessions, checks=checks,
                oracle_setup=oracle_setup, fixed=False, tables=["APP_LOG"])


def _analytics_read(rng, h=None):
    """One ClickBench-shaped statement (shape `h`, or a random one)."""
    h = rng.randrange(9) if h is None else h
    q = rng.randrange(5, 45)
    d = _day(rng, 365, ORDER_DAYS - 365)
    letter = rng.choice("abcdefghiklmnoprstuvw")
    top = rng.randrange(5, 20)
    disc = rng.randrange(1, 9) / 100
    if h == 0:
        s = (f"SELECT COUNT(*) AS n, SUM(l_extendedprice) AS rev, "
             f"AVG(l_discount) AS disc FROM li WHERE l_quantity > {q}")
        return dict(sql=s, duck=s)
    if h == 1:
        s = (f"SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS q, "
             f"SUM(l_extendedprice) AS rev, AVG(l_discount) AS disc, COUNT(*) AS n "
             f"FROM li WHERE l_tax <> {disc} GROUP BY l_returnflag, l_linestatus")
        return dict(sql=s, duck=s)
    if h == 2:
        s = (f"SELECT l_partkey, COUNT(*) AS n, SUM(l_extendedprice) AS rev FROM li "
             f"WHERE l_quantity >= {q // 5} GROUP BY l_partkey "
             f"ORDER BY rev DESC, l_partkey LIMIT {top}")
        return dict(sql=s, duck=s)
    if h == 3:
        s = (f"SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS orders FROM li "
             f"WHERE l_discount >= {disc} GROUP BY l_returnflag")
        return dict(sql=s, duck=s)
    if h == 4:
        return dict(
            sql=f"SELECT SUM(l_extendedprice * (1 - l_discount)) AS rev FROM li "
                f"WHERE l_shipdate >= '{d}'::TIMESTAMP",
            duck=f"SELECT SUM(l_extendedprice * (1 - l_discount)) AS rev FROM li "
                 f"WHERE l_shipdate >= TIMESTAMP '{d}'")
    if h == 5:
        s = (f"SELECT l_suppkey, COUNT(*) AS n, SUM(l_quantity) AS q FROM li "
             f"WHERE l_linenumber <= {rng.randrange(3, 8)} GROUP BY l_suppkey "
             f"HAVING COUNT(*) > 50 ORDER BY q DESC, l_suppkey LIMIT {top}")
        return dict(sql=s, duck=s)
    if h == 6:
        return dict(
            sql=f"SELECT DATE_TRUNC('hour', ts) AS h, event_type, COUNT(*) AS n, "
                f"AVG(value) AS v FROM ev WHERE value > {q} GROUP BY 1, 2 "
                f"ORDER BY n DESC, h, event_type LIMIT {top}",
            duck=f"SELECT DATE_TRUNC('hour', ts) AS h, event_type, COUNT(*) AS n, "
                 f"AVG(value) AS v FROM ev WHERE value > {q} GROUP BY 1, 2 "
                 f"ORDER BY n DESC, h, event_type LIMIT {top}")
    if h == 7:
        s = (f"SELECT event_type, COUNT(*) AS n, AVG(value) AS v FROM ev "
             f"WHERE props LIKE '%{letter}%' GROUP BY event_type")
        return dict(sql=s, duck=s)
    s = (f"SELECT o_orderpriority, COUNT(*) AS n, "
         f"SUM(l_extendedprice * (1 - l_discount)) AS rev FROM li "
         f"JOIN ord ON l_orderkey = o_orderkey WHERE o_orderstatus <> "
         f"'{rng.choice('FOP')}' GROUP BY o_orderpriority ORDER BY rev DESC")
    return dict(sql=s, duck=s)


def lake_analytics(seed, scale, per_session=400):
    """1 session of ClickBench-shaped scans over Iceberg copies (see README)."""
    n_cust = max(150, int(150_000 * scale))
    n_ord = 10 * n_cust
    setup = ["CREATE OR REPLACE ICEBERG TABLE li AS SELECT * FROM lineitem",
             "CREATE OR REPLACE ICEBERG TABLE ord AS SELECT * FROM orders",
             "CREATE OR REPLACE ICEBERG TABLE ev AS SELECT * FROM events"]
    def extract(rng):
        # 100k-300k rows at the default scale (4 lines per order on
        # average), over the chunked wire path
        width = rng.randrange(n_ord // 12, n_ord // 4)
        a = rng.randrange(1, n_ord - width)
        s = (f"SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
             f"l_extendedprice, l_shipdate FROM li "
             f"WHERE l_orderkey BETWEEN {a} AND {a + width - 1}")
        return dict(sql=s, duck=s, kind="read", cmp="hash", extract=True)

    wrng = random.Random(f"lake_analytics-warmup/{seed}")
    warm = [dict(_analytics_read(wrng, h), kind="read", cmp="rows") for h in range(9)]
    warm.append(extract(wrng))
    rng = random.Random(f"lake_analytics/{seed}")
    stream = []
    for i in range(per_session):
        if i % 8 == 7:
            st = extract(rng)
        else:
            st = dict(_analytics_read(rng), kind="read", cmp="rows")
        stream.append(st)
    oracle_setup = ["CREATE VIEW li AS SELECT * FROM lineitem",
                    "CREATE VIEW ord AS SELECT * FROM orders",
                    "CREATE VIEW ev AS SELECT * FROM events"]
    return dict(setup=setup, warmup=[warm], sessions=[stream], checks=[],
                oracle_setup=oracle_setup, fixed=False, tables=["LI", "ORD", "EV"])


ORD_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
            "o_orderpriority")
DT_DEF = ("SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
          "FROM wt GROUP BY o_orderpriority")


# The read after each write kind: INSERT → COUNT, UPDATE by key → point
# lookup, UPDATE by range → grouped aggregate, DELETE → COUNT, MERGE →
# grouped aggregate, DT refresh → DT read, stream consume → point lookup.
READ_AFTER = (0, 2, 1, 0, 1, 3, 2)
# Write kinds of one block: the seven kinds, plus a second INSERT and a
# second DELETE, so that the median write falls inside the UPDATE/DELETE
# group and not on the edge between it and the slow MERGE/refresh/consume
# group.
WRITE_BLOCK = (0, 1, 2, 3, 4, 0, 5, 3, 6)


def lake_write(seed, scale, n_blocks=WRITE_BLOCKS):
    """1 session of interleaved Iceberg writes and reads (see README)."""
    rows = WRITE_TABLE_ROWS if scale >= 0.05 else 400
    rng = random.Random(f"lake_write/{seed}")
    base = rng.randrange(0, 10 * max(150, int(150_000 * scale)) - rows)
    setup = [
        f"CREATE OR REPLACE ICEBERG TABLE wt AS SELECT {ORD_COLS} FROM orders "
        f"WHERE o_orderkey > {base} AND o_orderkey <= {base + rows}",
        f"CREATE OR REPLACE DYNAMIC TABLE wt_by_prio TARGET_LAG = '1 minute' "
        f"AS {DT_DEF}",
        "CREATE OR REPLACE STREAM wt_changes ON TABLE wt",
        "CREATE OR REPLACE ICEBERG TABLE wt_audit AS SELECT 0 AS step, "
        "'X' AS action, 0 AS n, CAST(0 AS DOUBLE) AS amount WHERE 1 = 0",
    ]
    oracle_setup = [
        f"CREATE TABLE wt AS SELECT {ORD_COLS} FROM orders "
        f"WHERE o_orderkey > {base} AND o_orderkey <= {base + rows}",
        f"CREATE TABLE wt_by_prio AS {DT_DEF}",
        "CREATE TABLE wt_snap AS SELECT * FROM wt",
        "CREATE TABLE wt_audit (step INTEGER, action VARCHAR, n BIGINT, "
        "amount DOUBLE)",
    ]
    lo, hi = base + 1, base + rows
    state = {"next_key": 10 * max(150, int(150_000 * scale)) + 1, "step": 0}

    def read(pick):
        k = rng.randrange(lo, hi)
        if pick == 0:
            s = "SELECT COUNT(*) AS n FROM wt"
        elif pick == 1:
            s = ("SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS t "
                 "FROM wt GROUP BY o_orderpriority")
        elif pick == 2:
            s = (f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                 f"FROM wt WHERE o_orderkey = {k}")
        else:
            s = "SELECT o_orderpriority, n, total FROM wt_by_prio"
        return dict(sql=s, duck=s, kind="read", cmp="rows")

    def write(pick):
        state["step"] += 1
        k = rng.randrange(lo, hi)
        if pick == 0:
            vals = []
            for _ in range(rng.randrange(1, 4)):
                vals.append(f"({state['next_key']}, {rng.randrange(1, 1000)}, 'O', "
                            f"{round(rng.uniform(900, 5e5), 2)}, "
                            f"'{_day(rng)} 00:00:00', '{rng.choice(PRIORITIES)}')")
                state["next_key"] += 1
            q = f"INSERT INTO wt ({ORD_COLS}) VALUES {', '.join(vals)}"
            st = dict(sql=q, duck=[q])
        elif pick == 1:
            q = f"UPDATE wt SET o_totalprice = o_totalprice + 1.5 WHERE o_orderkey = {k}"
            st = dict(sql=q, duck=[q])
        elif pick == 2:
            q = (f"UPDATE wt SET o_orderstatus = 'P' WHERE o_orderkey BETWEEN {k} "
                 f"AND {k + rng.randrange(2, 20)}")
            st = dict(sql=q, duck=[q])
        elif pick == 3:
            q = (f"DELETE FROM wt WHERE o_orderkey BETWEEN {k} AND "
                 f"{k + rng.randrange(0, 6)}")
            st = dict(sql=q, duck=[q])
        elif pick == 4:
            # 50-row MERGE: 25 keys that exist (updated), 25 new (inserted)
            a = rng.randrange(lo, hi - 50)
            off = state["next_key"] - a - 25
            state["next_key"] += 25
            src = (f"SELECT CASE WHEN o_orderkey < {a + 25} THEN o_orderkey "
                   f"ELSE o_orderkey + {off} END AS k, o_custkey AS c, "
                   f"o_totalprice * 1.1 AS p, o_orderdate AS d, "
                   f"o_orderpriority AS pr FROM orders "
                   f"WHERE o_orderkey >= {a} AND o_orderkey < {a + 50}")
            st = dict(
                sql=f"MERGE INTO wt USING ({src}) s ON wt.o_orderkey = s.k "
                    f"WHEN MATCHED THEN UPDATE SET o_totalprice = s.p, "
                    f"o_orderstatus = 'M' WHEN NOT MATCHED THEN INSERT "
                    f"({ORD_COLS}) VALUES (s.k, s.c, 'N', s.p, s.d, s.pr)",
                duck=[f"CREATE OR REPLACE TEMP TABLE msrc AS {src}",
                      "CREATE OR REPLACE TEMP TABLE mnew AS SELECT * FROM msrc "
                      "WHERE k NOT IN (SELECT o_orderkey FROM wt)",
                      "UPDATE wt SET o_totalprice = msrc.p, o_orderstatus = 'M' "
                      "FROM msrc WHERE wt.o_orderkey = msrc.k",
                      f"INSERT INTO wt ({ORD_COLS}) SELECT k, c, 'N', p, d, pr "
                      f"FROM mnew"])
        elif pick == 5:
            st = dict(sql="ALTER DYNAMIC TABLE wt_by_prio REFRESH",
                      duck=["DELETE FROM wt_by_prio",
                            f"INSERT INTO wt_by_prio {DT_DEF}"],
                      refresh=True, table="WT_BY_PRIO")
        else:
            i = state["step"]
            st = dict(
                sql=f"INSERT INTO wt_audit SELECT {i} AS step, METADATA$ACTION "
                    f"AS action, COUNT(*) AS n, SUM(o_totalprice) AS amount "
                    f"FROM wt_changes GROUP BY METADATA$ACTION",
                duck=[f"INSERT INTO wt_audit SELECT {i}, 'INSERT', COUNT(*), "
                      f"SUM(o_totalprice) FROM (SELECT * FROM wt EXCEPT ALL "
                      f"SELECT * FROM wt_snap) HAVING COUNT(*) > 0",
                      f"INSERT INTO wt_audit SELECT {i}, 'DELETE', COUNT(*), "
                      f"SUM(o_totalprice) FROM (SELECT * FROM wt_snap EXCEPT ALL "
                      f"SELECT * FROM wt) HAVING COUNT(*) > 0",
                      "DELETE FROM wt_snap",
                      "INSERT INTO wt_snap SELECT * FROM wt"],
                table="WT_AUDIT")
        st.setdefault("table", "WT")
        st.update(kind="write", cmp="ok")
        return st

    # Blocks of 9 (write, read) pairs in a fixed order; each write is
    # followed by the read an application would make next. The untimed
    # warm-up is one whole block: after a warm-up of each write kind once,
    # the writes of the first timed block still took longer than those of
    # the second (7 % in the median run).
    def block():
        out = []
        for pick in WRITE_BLOCK:
            out += [write(pick), read(READ_AFTER[pick])]
        return out

    warm = block()
    stream = [st for _ in range(n_blocks) for st in block()]
    checks = [
        dict(sql="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                 "o_orderdate, o_orderpriority FROM wt", kind="check", cmp="hash",
             duck="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                  "o_orderdate, o_orderpriority FROM wt"),
        dict(sql="SELECT o_orderpriority, n, total FROM wt_by_prio", kind="check",
             cmp="rows", duck="SELECT o_orderpriority, n, total FROM wt_by_prio"),
        dict(sql="SELECT step, action, n, amount FROM wt_audit", kind="check",
             cmp="rows", duck="SELECT step, action, n, amount FROM wt_audit"),
    ]
    # the traced run replays the first block only: each replayed statement
    # runs three times, and the run must end within its limit
    return dict(setup=setup, warmup=[warm], sessions=[stream], checks=checks,
                oracle_setup=oracle_setup, fixed=True, replay=2 * len(WRITE_BLOCK),
                tables=["WT", "WT_AUDIT", "WT_BY_PRIO"])


WORKLOADS = {"interactive": interactive, "lake_analytics": lake_analytics,
             "lake_write": lake_write}


def plan(workload, seed, scale):
    """The full seeded plan of one workload: setup, per-session streams,
    untimed end-state checks, and the oracle's own setup."""
    p = WORKLOADS[workload](seed, scale)
    sid = 0
    for s, stream in enumerate(p["warmup"] + p["sessions"]):
        for st in stream:
            st["sid"] = sid
            st["session"] = s % len(p["sessions"])
            sid += 1
    for st in p["checks"]:
        st["sid"] = sid
        st["session"] = 0
        sid += 1
    p["workload"] = workload
    p["seed"] = seed
    p["scale"] = scale
    return p


def stream_digest(p):
    body = json.dumps([p["setup"], p["warmup"], p["sessions"], p["checks"]],
                      sort_keys=True)
    return hashlib.sha256(body.encode()).hexdigest()
