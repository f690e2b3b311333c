"""Seeded input generator for the graft benchmark.

Every input is a pure function of the workload seed: the same seed gives
the same tables, corpus, sync ticks and request stream. Table values come
from DuckDB's `hash(row, salt, seed)`, not from a stateful RNG, so the
parallel writer cannot reorder them; the corpus and the request stream
come from Python's `random.Random(seed)`.

The tables mirror the sf0.1 object graph the engine's registry is written
against (TPC-H-style orders/customer/lineitem plus `events` and
`documents`), with the same columns, types, value domains and one row
group per table.

Usage: python3 perfbench/gen.py WORKLOAD SEED OUTDIR
"""
import datetime as dt
import json
import os
import random
import sys

import duckdb

# ---- sizes and rates (recorded in BENCHMARK.json and README.md) ----------

SF = {"customer": 15000, "supplier": 1000, "part": 20000,
      "orders": 150000, "lineitem": 600000, "events": 100000}

CURATE_DOCS = 1000          # corpus size
CURATE_EXACT_DUP = 0.02     # share of docs that copy an earlier doc verbatim
CURATE_NEAR_DUP = 0.04      # share of docs that copy an earlier doc, 1 word edited
CURATE_ROW_GROUPS = 16      # parquet row groups in the corpus file
CURATE_WARM_DOCS = 200      # warm-up corpus: a prefix of the corpus

SYNC_TICKS = 20             # delta ticks generated (a run consumes a prefix)
SYNC_UPDATE = 0.01          # orders updated per tick, share of the snapshot
SYNC_INSERT = 0.005         # orders inserted per tick, share of the snapshot
SYNC_EVENTS = 0.02          # events appended per tick, share of the events table

EXTRACT_REQUESTS = 1000     # request stream length (a run consumes a prefix)

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()

EPOCH = dt.datetime(1970, 1, 1)
EV0 = dt.datetime(2024, 1, 1)   # events cover [2024-01-01, 2024-01-31)


def _con(seed):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash(i, salt, {int(seed)}) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO pick(i, salt, n) AS "
                "CAST(floor(u(i, salt) * n) AS BIGINT)")
    return con


def _copy(con, sql, path, row_group_size=10_000_000):
    con.execute(f"COPY ({sql}) TO '{path}' "
                f"(FORMAT parquet, ROW_GROUP_SIZE {row_group_size})")


def _orders_sql(n, key0=0):
    """Orders with keys key0..key0+n-1; every column is a function of the
    key alone, so a key's base row is the same however it is generated."""
    return f"""
      SELECT k AS o_orderkey,
        pick(k, 1, {SF['customer']}) AS o_custkey,
        ['O', 'F', 'P'][pick(k, 2, 3) + 1] AS o_orderstatus,
        round(1000 + u(k, 3) * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(pick(k, 4, 2404)::INT)
          AS o_orderdate,
        ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
          [pick(k, 5, 5) + 1] AS o_orderpriority
      FROM (SELECT (i + {key0})::BIGINT AS k FROM range({n}) r(i))"""


def _events_sql(n, id0, t0_us, span_us, salt=0):
    return f"""
      SELECT (i + {id0})::BIGINT AS event_id,
        make_timestamp(({t0_us} + floor((i + u(i, {salt} + 11)) *
          {span_us / n}))::BIGINT) AS ts,
        pick(i, {salt} + 12, 1500) AS user_id,
        ['signup', 'click', 'error', 'view', 'purchase']
          [pick(i, {salt} + 13, 5) + 1] AS event_type,
        round(u(i, {salt} + 14) * 150, 2) AS value,
        '{{"k": ' || pick(i, {salt} + 15, 100) || '}}' AS props
      FROM range({n}) r(i)"""


def _us(t):
    return int((t - EPOCH).total_seconds()) * 1_000_000


def gen_tables(con, out):
    """The sf0.1-shaped object graph, one parquet file per table."""
    os.makedirs(out, exist_ok=True)
    p = lambda t: os.path.join(out, f"{t}.parquet")
    _copy(con, "SELECT r_regionkey::INT AS r_regionkey, r_name FROM "
          "(VALUES (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'), "
          "(3, 'EUROPE'), (4, 'MIDDLE EAST')) v(r_regionkey, r_name)",
          p("region"))
    _copy(con, "SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, "
          "(i % 5)::INT AS n_regionkey FROM range(25) r(i)", p("nation"))
    _copy(con, f"""
      SELECT i::BIGINT AS c_custkey,
        'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        pick(i, 21, 25)::INT AS c_nationkey,
        round(-999.99 + u(i, 22) * 10999.98, 2) AS c_acctbal,
        ['MACHINERY', 'AUTOMOBILE', 'FURNITURE', 'BUILDING', 'HOUSEHOLD']
          [pick(i, 23, 5) + 1] AS c_mktsegment
      FROM range({SF['customer']}) r(i)""", p("customer"))
    _copy(con, f"""
      SELECT i::BIGINT AS s_suppkey,
        'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        pick(i, 31, 25)::INT AS s_nationkey,
        round(-999.99 + u(i, 32) * 10999.98, 2) AS s_acctbal
      FROM range({SF['supplier']}) r(i)""", p("supplier"))
    _copy(con, f"""
      SELECT i::BIGINT AS p_partkey,
        ['large', 'hot', 'blue', 'small', 'red'][pick(i, 41, 5) + 1] || ' ' ||
          ['ring', 'bolt', 'nut', 'gear', 'pipe'][pick(i, 42, 5) + 1]
          AS p_name,
        'Brand#' || (pick(i, 43, 25) + 1) AS p_brand,
        ['LARGE', 'ECONOMY', 'SMALL', 'MEDIUM', 'PROMO'][pick(i, 44, 5) + 1]
          AS p_type,
        (pick(i, 45, 50) + 1)::INT AS p_size,
        round(900 + (i % 1000) * 0.1, 2) AS p_retailprice
      FROM range({SF['part']}) r(i)""", p("part"))
    _copy(con, _orders_sql(SF["orders"]), p("orders"))
    _copy(con, f"""
      SELECT pick(i, 51, {SF['orders']}) AS l_orderkey,
        pick(i, 52, {SF['part']}) AS l_partkey,
        pick(i, 53, {SF['supplier']}) AS l_suppkey,
        (i % 7 + 1)::INT AS l_linenumber,
        (pick(i, 54, 50) + 1)::DOUBLE AS l_quantity,
        round((pick(i, 54, 50) + 1) * (900 + u(i, 55) * 1100), 2)
          AS l_extendedprice,
        pick(i, 56, 11) / 100.0 AS l_discount,
        pick(i, 57, 9) / 100.0 AS l_tax,
        ['A', 'N', 'R'][pick(i, 58, 3) + 1] AS l_returnflag,
        ['O', 'F'][pick(i, 59, 2) + 1] AS l_linestatus,
        TIMESTAMP '1995-01-01' + to_days(pick(i, 60, 2404)::INT) AS l_shipdate
      FROM range({SF['lineitem']}) r(i)""", p("lineitem"))
    _copy(con, _events_sql(SF["events"], 0, _us(EV0), 30 * 86400e6),
          p("events"))


# ---- curate: the documents corpus ----------------------------------------

def gen_corpus(seed, out):
    """Synthetic documents with a fixed, recorded duplicate structure.

    Base docs draw 10..100 words uniformly from the sf0.1 vocabulary.
    An exact dup copies an earlier base doc; a near dup copies an earlier
    base doc of at least 30 words and replaces a single word, which keeps
    its shingle Jaccard well above the MinHash clustering threshold.
    """
    rng = random.Random(seed)
    n = CURATE_DOCS
    n_exact = round(n * CURATE_EXACT_DUP)
    n_near = round(n * CURATE_NEAR_DUP)
    kinds = ["base"] * (n - n_exact - n_near) + ["exact"] * n_exact + \
        ["near"] * n_near
    rng.shuffle(kinds)
    # the first doc must be a base doc so every copy has a source
    i0 = kinds.index("base")
    kinds[0], kinds[i0] = kinds[i0], kinds[0]
    langs = ["en"] * 4 + ["de", "es", "fr", "zh"]
    rows, bases, long_bases = [], [], []
    for i, kind in enumerate(kinds):
        if kind == "base":
            words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
            bases.append(words)
            if len(words) >= 30:
                long_bases.append(words)
        elif kind == "exact" or not long_bases:
            words = list(rng.choice(bases))
        else:
            words = list(rng.choice(long_bases))
            j = rng.randrange(len(words))
            words[j] = rng.choice([w for w in VOCAB if w != words[j]])
        text = " ".join(words)
        rows.append((i, text, rng.choice(langs), f"src{i % 20}", len(text)))
    for d in ("corpus", "corpus_warm"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
                " source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)", rows)
    _copy(con, "SELECT * FROM d ORDER BY doc_id",
          os.path.join(out, "corpus", "documents.parquet"),
          row_group_size=-(-n // CURATE_ROW_GROUPS))
    _copy(con, f"SELECT * FROM d WHERE doc_id < {CURATE_WARM_DOCS}",
          os.path.join(out, "corpus_warm", "documents.parquet"))
    return {"docs": n, "exact_dups": n_exact, "near_dups": n_near,
            "row_groups": CURATE_ROW_GROUPS}


# ---- sync: source snapshot, delta ticks, describe documents ---------------

ORDERS_DESCRIBE = {"name": "Order", "fields": [
    {"name": "o_orderkey", "type": "long", "nillable": False, "unique": True},
    {"name": "o_custkey", "type": "long"},
    {"name": "o_orderstatus", "type": "picklist", "length": 1},
    {"name": "o_totalprice", "type": "double", "precision": 18, "scale": 2},
    {"name": "o_orderdate", "type": "datetime"},
    {"name": "o_orderpriority", "type": "picklist", "length": 15,
     "custom": True},
    {"name": "systemmodstamp", "type": "datetime", "nillable": False}]}

EVENTS_DESCRIBE = {"name": "Event", "fields": [
    {"name": "event_id", "type": "long", "nillable": False, "unique": True},
    {"name": "ts", "type": "datetime"},
    {"name": "user_id", "type": "long"},
    {"name": "event_type", "type": "picklist", "length": 16},
    {"name": "value", "type": "double"},
    {"name": "props", "type": "textarea", "length": 255}]}

SNAP_T = dt.datetime(2024, 2, 1)  # snapshot modstamps lie before this


def gen_sync(con, out):
    """Orders snapshot + events, then SYNC_TICKS deltas.

    Tick t (1-based) carries: updates of distinct existing orders (new
    price/status, modstamp in hour t after the snapshot, unique per
    row), inserts of brand-new keys, and events on day 30 + t/24 of the
    events calendar. Modstamps strictly increase across ticks, so the
    newest record per key is unambiguous.
    """
    os.makedirs(out, exist_ok=True)
    n_o, n_e = SF["orders"], SF["events"]
    n_up, n_in = round(n_o * SYNC_UPDATE), round(n_o * SYNC_INSERT)
    n_ev = round(n_e * SYNC_EVENTS)
    _copy(con, f"""
      SELECT *, o_orderdate + to_seconds(pick(o_orderkey, 71, 86400)::BIGINT)
          AS systemmodstamp
      FROM ({_orders_sql(n_o)})""", os.path.join(out, "snapshot_orders.parquet"))
    _copy(con, _events_sql(n_e, 0, _us(EV0), 30 * 86400e6),
          os.path.join(out, "snapshot_events.parquet"))
    hour_us = 3600 * 1_000_000
    for t in range(1, SYNC_TICKS + 1):
        key_hi = n_o + (t - 1) * n_in      # keys that exist before tick t
        mod0 = _us(SNAP_T) + t * hour_us
        # distinct updated keys: a seeded order over the existing keys
        upd = f"""
          SELECT k AS i FROM range({key_hi}) r(k)
          ORDER BY hash(k, {1000 + t}, 7) LIMIT {n_up}"""
        _copy(con, f"""
          WITH up AS ({upd}),
          o AS (
            SELECT o.* FROM ({_orders_sql(key_hi)}) o
            JOIN up ON o.o_orderkey = up.i)
          SELECT o_orderkey, o_custkey,
            ['O', 'F', 'P'][pick(o_orderkey, {2000 + t}, 3) + 1]
              AS o_orderstatus,
            round(1000 + u(o_orderkey, {3000 + t}) * 499000, 2)
              AS o_totalprice,
            o_orderdate, o_orderpriority,
            make_timestamp(({mod0} + row_number() OVER (ORDER BY o_orderkey)
              * 1000)::BIGINT) AS systemmodstamp
          FROM o
          UNION ALL
          SELECT *, make_timestamp(({mod0} + 500000000 + o_orderkey % 1000000)
              ::BIGINT) AS systemmodstamp
          FROM ({_orders_sql(n_in, key0=key_hi)})""",
              os.path.join(out, f"tick_{t:03d}_orders.parquet"))
        day_us = 86400 * 1_000_000
        _copy(con, _events_sql(n_ev, n_e + (t - 1) * n_ev,
                               _us(EV0) + 30 * day_us + (t - 1) * hour_us,
                               hour_us, salt=100 * t),
              os.path.join(out, f"tick_{t:03d}_events.parquet"))
    with open(os.path.join(out, "describe_orders.json"), "w") as f:
        json.dump(ORDERS_DESCRIBE, f)
    with open(os.path.join(out, "describe_events.json"), "w") as f:
        json.dump(EVENTS_DESCRIBE, f)
    return {"snapshot_orders": n_o, "snapshot_events": n_e,
            "tick_updates": n_up, "tick_inserts": n_in, "tick_events": n_ev,
            "ticks": SYNC_TICKS}


# ---- extract: the SOQL request stream -------------------------------------

SEGS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _money(rng, lo, hi):
    return f"{rng.uniform(lo, hi):.2f}"


def _day(d):
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def _t_dot(r):
    seg, p = r.choice(SEGS), _money(r, 470000, 490000)
    return (None,
            "SELECT o_orderkey, customer.c_name, customer.c_mktsegment"
            f" FROM orders WHERE customer.c_mktsegment = '{seg}'"
            f" AND o_totalprice > {p} ORDER BY o_orderkey",
            "SELECT o_orderkey, c_name, c_mktsegment FROM orders"
            " LEFT JOIN customer ON o_custkey = c_custkey"
            f" WHERE c_mktsegment = '{seg}' AND o_totalprice > {p}")


def _t_dot2(r):
    reg, p = r.choice(REGIONS), _money(r, 470000, 490000)
    return (None,
            "SELECT o_orderkey, customer.nation.n_name FROM orders"
            f" WHERE customer.nation.region.r_name = '{reg}'"
            f" AND o_totalprice > {p} ORDER BY o_orderkey",
            "SELECT o_orderkey, n_name FROM orders"
            " LEFT JOIN customer ON o_custkey = c_custkey"
            " LEFT JOIN nation ON c_nationkey = n_nationkey"
            " LEFT JOIN region ON n_regionkey = r_regionkey"
            f" WHERE r_name = '{reg}' AND o_totalprice > {p}")


def _t_page(r):
    a, off = _money(r, 0, 5000), r.randint(0, 200)
    return (None,
            f"SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal >= {a}"
            " ORDER BY c_acctbal DESC, c_custkey ASC"
            f" LIMIT 25 OFFSET {off}",
            f"SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal >= {a}"
            f" ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 25 OFFSET {off}")


def _t_children(r):
    n, a = r.randint(0, 24), _money(r, 8000, 9500)
    st = r.choice("OFP")
    return (None,
            "SELECT c_custkey, (SELECT o_orderkey FROM orders"
            f" WHERE o_orderstatus = '{st}'"
            " ORDER BY o_totalprice DESC LIMIT 3)"
            f" FROM customer WHERE c_nationkey = {n} AND c_acctbal > {a}"
            " ORDER BY c_custkey",
            "SELECT c_custkey, COALESCE(k.l, '') FROM customer LEFT JOIN ("
            " SELECT o_custkey, array_to_string(list(o_orderkey ORDER BY rk),"
            " ',') AS l FROM (SELECT o_custkey, o_orderkey, row_number() OVER"
            " (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)"
            f" AS rk FROM orders WHERE o_orderstatus = '{st}') WHERE rk <= 3"
            " GROUP BY o_custkey) k ON c_custkey = k.o_custkey"
            f" WHERE c_nationkey = {n} AND c_acctbal > {a}")


def _t_having(r):
    p, k = _money(r, 200000, 400000), r.randint(1000, 1400)
    return (None,
            "SELECT customer.nation.n_name, COUNT() n FROM orders"
            f" WHERE o_totalprice > {p}"
            f" GROUP BY customer.nation.n_name HAVING COUNT() > {k}"
            " ORDER BY customer.nation.n_name",
            "SELECT n_name, COUNT(*) FROM orders"
            " LEFT JOIN customer ON o_custkey = c_custkey"
            " LEFT JOIN nation ON c_nationkey = n_nationkey"
            f" WHERE o_totalprice > {p} GROUP BY n_name HAVING COUNT(*) > {k}")


def _t_rollup(r):
    p = _money(r, 300000, 490000)
    return (None,
            "SELECT o_orderpriority, o_orderstatus, COUNT() n,"
            f" COUNT_DISTINCT(o_custkey) nc FROM orders WHERE o_totalprice > {p}"
            " GROUP BY ROLLUP(o_orderpriority, o_orderstatus)"
            " ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST",
            "SELECT o_orderpriority, o_orderstatus, COUNT(*),"
            f" COUNT(DISTINCT o_custkey) FROM orders WHERE o_totalprice > {p}"
            " GROUP BY ROLLUP(o_orderpriority, o_orderstatus)")


def _t_datefn(r):
    st, p = r.choice("OFP"), _money(r, 300000, 490000)
    return (None,
            "SELECT CALENDAR_YEAR(o_orderdate) yr,"
            " CALENDAR_MONTH(o_orderdate) mo, COUNT() n,"
            " MAX(o_totalprice) hi FROM orders"
            f" WHERE o_orderstatus = '{st}' AND o_totalprice > {p}"
            " GROUP BY CALENDAR_YEAR(o_orderdate),"
            " CALENDAR_MONTH(o_orderdate) ORDER BY yr, mo",
            "SELECT year(o_orderdate)::INT, month(o_orderdate)::INT, COUNT(*),"
            " MAX(o_totalprice) FROM orders"
            f" WHERE o_orderstatus = '{st}' AND o_totalprice > {p}"
            " GROUP BY 1, 2")


def _t_datelit(r):
    today = EV0.date() + dt.timedelta(days=r.randint(8, 29))
    n, v = r.randint(1, 3), _money(r, 135, 148)
    lo = today - dt.timedelta(days=n)
    return (today,
            "SELECT event_id, event_type FROM events"
            f" WHERE ts >= LAST_N_DAYS:{n} AND ts < TODAY AND value > {v}"
            " ORDER BY event_id",
            "SELECT event_id, event_type FROM events"
            f" WHERE ts >= {_day(lo)} AND ts < {_day(today)} AND value > {v}")


def _t_lastweek(r):
    today = EV0.date() + dt.timedelta(days=r.randint(8, 29))
    v = _money(r, 140, 148)
    mon = today - dt.timedelta(days=today.weekday())
    lo, hi = mon - dt.timedelta(days=7), mon
    return (today,
            "SELECT event_id, event_type, value FROM events"
            f" WHERE ts = LAST_WEEK AND value >= {v} ORDER BY event_id",
            "SELECT event_id, event_type, value FROM events"
            f" WHERE ts >= {_day(lo)} AND ts < {_day(hi)} AND value >= {v}")


def _t_lastmonth(r):
    today = dt.date(r.randint(1995, 2001), r.randint(2, 7), r.randint(1, 28))
    p = _money(r, 400000, 480000)
    hi = today.replace(day=1)
    lo = (hi - dt.timedelta(days=1)).replace(day=1)
    return (today,
            "SELECT o_orderkey, o_orderdate FROM orders"
            f" WHERE o_orderdate = LAST_MONTH AND o_totalprice > {p}"
            " ORDER BY o_orderkey",
            "SELECT o_orderkey, o_orderdate FROM orders"
            f" WHERE o_orderdate >= {_day(lo)} AND o_orderdate < {_day(hi)}"
            f" AND o_totalprice > {p}")


def _t_semi(r):
    p, n = _money(r, 470000, 495000), r.randint(0, 24)
    return (None,
            "SELECT c_custkey, c_name FROM customer"
            " WHERE c_custkey IN (SELECT o_custkey FROM orders"
            f" WHERE o_totalprice > {p}) AND c_nationkey = {n}"
            " ORDER BY c_custkey",
            "SELECT c_custkey, c_name FROM customer"
            " WHERE c_custkey IN (SELECT o_custkey FROM orders"
            f" WHERE o_totalprice > {p}) AND c_nationkey = {n}")


def _t_anti(r):
    q, d = r.randint(45, 50), f"0.0{r.randint(6, 9)}"
    lim = _money(r, 0, 9000)
    return (None,
            "SELECT s_suppkey, s_name FROM supplier"
            " WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem"
            f" WHERE l_quantity = {q} AND l_discount > {d})"
            f" AND s_acctbal > {lim} ORDER BY s_suppkey",
            "SELECT s_suppkey, s_name FROM supplier"
            " WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem"
            f" WHERE l_quantity = {q} AND l_discount > {d}"
            f" AND l_suppkey IS NOT NULL) AND s_acctbal > {lim}")


def _t_includes(r):
    q, k = r.randint(48, 50), r.randint(0, 140000)
    return (None,
            "SELECT l_orderkey, l_linenumber, flags FROM lineitem"
            f" WHERE flags INCLUDES ('A;F', 'R') AND l_quantity >= {q}"
            f" AND l_orderkey >= {k} AND l_orderkey < {k + 10000}"
            " ORDER BY l_orderkey, l_linenumber",
            "SELECT l_orderkey, l_linenumber,"
            " l_returnflag || ';' || l_linestatus FROM lineitem"
            " WHERE (((l_returnflag = 'A' OR l_linestatus = 'A')"
            " AND (l_returnflag = 'F' OR l_linestatus = 'F'))"
            " OR (l_returnflag = 'R' OR l_linestatus = 'R'))"
            f" AND l_quantity >= {q}"
            f" AND l_orderkey >= {k} AND l_orderkey < {k + 10000}")


def _t_typeof(r):
    today = EV0.date() + dt.timedelta(days=r.randint(3, 29))
    n, v = 1, _money(r, 140, 148)
    lo = today - dt.timedelta(days=n)
    return (today,
            "SELECT event_id, TYPEOF actor WHEN Customer THEN c_name,"
            " c_mktsegment WHEN Supplier THEN s_name, s_acctbal END"
            f" FROM events WHERE ts >= LAST_N_DAYS:{n} AND value > {v}"
            " ORDER BY event_id",
            "SELECT event_id, CASE WHEN user_id % 2 = 0 THEN 'Customer'"
            " ELSE 'Supplier' END, c.c_name, c.c_mktsegment, s.s_name,"
            " s.s_acctbal FROM events"
            " LEFT JOIN customer c ON user_id = c.c_custkey AND user_id % 2 = 0"
            " LEFT JOIN supplier s ON user_id = s.s_suppkey AND user_id % 2 = 1"
            f" WHERE ts >= {_day(lo)} AND value > {v}")


TEMPLATES = [_t_dot, _t_dot2, _t_page, _t_children, _t_having, _t_rollup,
             _t_datefn, _t_datelit, _t_lastweek, _t_lastmonth, _t_semi,
             _t_anti, _t_includes, _t_typeof]


def gen_requests(seed, n):
    """`n` requests, template order shuffled per round of len(TEMPLATES), so
    every prefix of the stream holds each shape in equal measure; texts
    are unique (seeded literals, re-drawn on a collision)."""
    rng = random.Random(seed)
    seen, out = set(), []
    while len(out) < n:
        order = list(range(len(TEMPLATES)))
        rng.shuffle(order)
        for k in order:
            while True:
                today, soql, sql = TEMPLATES[k](rng)
                if soql not in seen:
                    break
            seen.add(soql)
            out.append({"id": len(out), "shape": TEMPLATES[k].__name__[3:],
                        "today": today.isoformat() if today else "",
                        "soql": soql, "sql": sql})
    return out[:n]


def write_requests(reqs, path):
    with open(path, "w") as f:
        for q in reqs:
            f.write(f"{q['id']}\t{q['shape']}\t{q['today']}\t{q['soql']}\n")


def generate(workload, seed, out):
    """Build `workload`'s inputs under `out`; returns the recorded facts."""
    con = _con(seed)
    os.makedirs(out, exist_ok=True)
    if workload == "extract":
        gen_tables(con, os.path.join(out, "tables"))
        reqs = gen_requests(seed, EXTRACT_REQUESTS)
        # warm-up requests: one per shape, from a different literal stream
        warm = gen_requests(seed + 7919, len(TEMPLATES))
        write_requests(reqs, os.path.join(out, "requests.tsv"))
        write_requests(warm, os.path.join(out, "warm_requests.tsv"))
        with open(os.path.join(out, "requests.json"), "w") as f:
            json.dump(reqs, f)
        return {"requests": len(reqs), "shapes": len(TEMPLATES)}
    if workload == "curate":
        return gen_corpus(seed, out)
    if workload == "sync":
        return gen_sync(con, os.path.join(out, "sync"))
    raise SystemExit(f"unknown workload {workload}")


def generate_ready(workload, seed, out):
    """generate(), then mark `out` complete for a reader polling for it."""
    facts = generate(workload, seed, out)
    with open(os.path.join(out, "facts.json"), "w") as f:
        json.dump(facts, f)
    open(os.path.join(out, "READY"), "w").close()
    return facts


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
