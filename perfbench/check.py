"""DuckDB oracle checks for the graft benchmark.

They run untimed, after a run's timed loop, over what the run wrote:
  extract  the row-multiset hash of every collected response against its
           paired DuckDB query;
  curate   every iteration's t_curate, kept corpus, t_bpe_encode and
           t_chunkpack outputs against the registry's own oracle SQL
           (SparkEntry.oracleSql), evaluated on that step's input;
  sync     the final maintained tables against a DuckDB recompute (newest
           record per key over snapshot and applied deltas; the day x type
           rollup over all events), and the landed CSV read back with
           Bulk.readExtract against the rows it was extracted from.
Every mismatch counts as a failed operation; nothing is retried.
"""
import datetime as dt
import glob
import hashlib
import json
import os

import duckdb

EPOCH = dt.datetime(1970, 1, 1)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _micros(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (v - EPOCH) // dt.timedelta(microseconds=1)
    return (dt.datetime.combine(v, dt.time()) - EPOCH) // \
        dt.timedelta(microseconds=1)


# ---- extract: the multiset hash graftbench.Extract computes --------------

def _hcell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "I1" if v else "I0"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, float):
        return f"D{round(v * 100.0)}"
    if isinstance(v, (dt.datetime, dt.date)):
        return f"T{_micros(v)}"
    return f"S{v}"


def multiset_hash(rows):
    h = 0
    for r in rows:
        text = "\x01".join(_hcell(v) for v in r)
        h += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")
    return h % (1 << 64)


def check_extract(data, work):
    reqs = {q["id"]: q for q in
            json.load(open(os.path.join(data, "requests.json")))}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{data}/tables/{t}.parquet')")
    errors = []
    with open(os.path.join(work, "extract_results.tsv")) as f:
        for line in f:
            i, n, h = line.rstrip("\n").split("\t")
            q = reqs[int(i)]
            rows = con.execute(q["sql"]).fetchall()
            if len(rows) != int(n) or multiset_hash(rows) != int(h):
                errors.append(f"request {i} ({q['shape']}): spark {n} rows, "
                              f"duckdb {len(rows)} rows, hash differs")
    return errors, 0


# ---- exact relation compare (rows as multisets, columns by name) ---------

def _same(con, got_sql, want_sql):
    """None when both queries return the same multiset of rows (columns
    matched by name), else what differs. Compared inside DuckDB with
    EXCEPT ALL both ways, so values compare exactly at their types."""
    gc = sorted(con.sql(got_sql).columns)
    wc = sorted(con.sql(want_sql).columns)
    if gc != wc:
        return f"columns {gc} != {wc}"
    cols = ", ".join(f'"{c}"' for c in gc)
    g = f"SELECT {cols} FROM ({got_sql})"
    w = f"SELECT {cols} FROM ({want_sql})"
    extra, missing, n = con.execute(
        f"SELECT (SELECT count(*) FROM ({g} EXCEPT ALL {w})), "
        f"(SELECT count(*) FROM ({w} EXCEPT ALL {g})), "
        f"(SELECT count(*) FROM ({w}))").fetchone()
    if extra or missing:
        return (f"{extra} rows not in the oracle, {missing} oracle rows "
                f"missing (of {n})")
    return None


def _pq(path):
    return (f"SELECT * FROM read_parquet('{path}/*.parquet', "
            f"hive_partitioning = false)")


# ---- curate ---------------------------------------------------------------

def check_curate(data, work):
    oracle = json.load(open(os.path.join(work, "curate_oracles.json")))
    corpus = os.path.join(data, "corpus", "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE corpus AS SELECT * FROM read_parquet('{corpus}')")
    con.execute("CREATE VIEW documents AS SELECT * FROM corpus")
    con.execute(f"CREATE TABLE want_t_curate AS {oracle['t_curate']}")
    # the kept corpus the later steps must see, and their oracles on it
    con.execute("CREATE TABLE want_kept AS SELECT * FROM corpus WHERE doc_id "
                "IN (SELECT doc_id FROM want_t_curate WHERE keep = 1)")
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM want_kept")
    for q in ("t_bpe_encode", "t_chunkpack"):
        con.execute(f"CREATE TABLE want_{q} AS {oracle[q]}")
    errors, steps = [], 0
    its = sorted(glob.glob(os.path.join(work, "curate", "it=*")),
                 key=lambda p: int(p.rsplit("=", 1)[1]))
    for it in its:
        for name, path in (("t_curate", f"{it}/t_curate"),
                           ("kept", f"{it}/kept/documents.parquet"),
                           ("t_bpe_encode", f"{it}/t_bpe_encode"),
                           ("t_chunkpack", f"{it}/t_chunkpack")):
            if not glob.glob(f"{path}/*.parquet"):
                continue  # the iteration threw; the run already counted it
            got = _pq(path)
            steps += 1
            want = "SELECT * FROM want_kept" if name == "kept" else \
                f"SELECT * FROM want_{name}"
            try:
                err = _same(con, got, want)
            except duckdb.Error as e:
                err = str(e)
            if err:
                errors.append(f"{os.path.basename(it)} {name}: {err}")
    # the run counted one operation per iteration; a step is an operation
    return errors, steps - len(its)


# ---- sync -----------------------------------------------------------------

def check_sync(data, work, ticks):
    src = os.path.join(data, "sync")
    chk = os.path.join(work, "check")

    def files(obj):
        fs = [f"{src}/snapshot_{obj}.parquet"] + \
            [f"{src}/tick_{t:03d}_{obj}.parquet" for t in range(1, ticks + 1)]
        return "[" + ", ".join(f"'{f}'" for f in fs) + "]"

    con = duckdb.connect()
    con.execute(f"CREATE VIEW o AS SELECT * FROM read_parquet({files('orders')})")
    con.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet({files('events')})")
    checks = {
        "orders latest-per-key state": (
            _pq(f"{chk}/orders_state"),
            "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER ("
            "PARTITION BY o_orderkey ORDER BY systemmodstamp DESC) AS rn "
            "FROM o) WHERE rn = 1"),
        "events day x type rollup": (
            _pq(f"{chk}/rollup_state"),
            "SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n, "
            "sum(CAST(floor(value * 10000 + 0.5) / 10000 AS DECIMAL(22, 4)))"
            " AS sv FROM e GROUP BY 1, 2"),
        "orders bulk extract": (_pq(f"{chk}/orders_extracted"),
                                "SELECT * FROM o"),
        "events bulk extract": (_pq(f"{chk}/events_extracted"),
                                "SELECT * FROM e"),
    }
    errors = []
    for name, (got, want) in checks.items():
        try:
            err = _same(con, got, want)
        except duckdb.Error as e:
            err = str(e)
        if err:
            errors.append(f"{name}: {err}")
    return errors, 0


def run(workload, data, work, res):
    """-> {"failed", "errors", "extra_attempted"}"""
    if workload == "extract":
        errors, extra = check_extract(data, work)
    elif workload == "curate":
        errors, extra = check_curate(data, work)
    else:
        errors, extra = check_sync(data, work, int(res["facts"]["ticks"]))
    return {"failed": len(errors), "errors": errors,
            "extra_attempted": extra}
