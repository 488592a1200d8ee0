"""Output checks for a run record, made after the timed region.

- Declared queries (queries): every timed op's output is
  compared with the query's DuckDB oracle over the same input tables:
  column names, row count and exact values after sorting columns and
  rows (the compare of tools/check.py).
- lake, read ops: each op's (count, sum qty, sum cents) is compared with the
  same predicate over the plain lineitem table: minus the erased order
  keys for latest reads, restricted to the partitions the generation
  pins for as-of reads (whose manifests pin no delete vectors).
- lake, commit ops: each correction published exactly the years it was
  given, and the final table equals lineitem with each year's last
  correction tag, minus the erased order keys.
- lake, incremental cycles: the final rollup state equals the rollup
  recomputed from scratch over every lake row plus every raw batch the
  cycles folded in.

check() returns (failures, extra): failures maps an op index (or the
name of a whole-run check) to a message; extra is the number of
whole-run checks, counted as attempted.
"""
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

LAKE_ROWS = """
SELECT strftime(l_shipdate, '%Y') AS ship_year,
  l_orderkey, l_linenumber,
  CAST(l_quantity AS BIGINT) AS qty,
  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
  CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS INTEGER) AS ship_day
FROM lineitem"""


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # engines disagree on the sign of zero
    return v


def _canon(rows, cols):
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted((tuple(_norm(r[i]) for i in idx) for r in rows),
                  key=lambda r: tuple(str(x) for x in r))


def _connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def _queries(ops, c, con):
    fails = {}
    want = {}
    for i, op in ops:
        name = op["name"]
        if not op["ok"]:
            fails[i] = f"{name}: {op['err']}"
            continue
        try:
            if name not in want:
                w = con.execute(c["oracles"][name]).fetchall()
                want[name] = ([d[0] for d in con.description], w)
            wcols, w = want[name]
            g = con.execute(f"SELECT * FROM read_parquet('{op['detail']['out']}/*.parquet')")
            got = g.fetchall()
            gcols = [d[0] for d in g.description]
        except Exception as e:  # a failed compare is a failed op
            fails[i] = f"{name}: {str(e).splitlines()[0][:200]}"
            continue
        if sorted(gcols) != sorted(wcols):
            fails[i] = f"{name}: columns {sorted(gcols)} != oracle {sorted(wcols)}"
        elif len(got) != len(w):
            fails[i] = f"{name}: {len(got)} rows != oracle {len(w)}"
        elif _canon(got, gcols) != _canon(w, wcols):
            fails[i] = f"{name}: values differ from the oracle"
    return fails


def _lake_read(ops, c, con):
    con.execute(f"CREATE TABLE lake AS {LAKE_ROWS}")
    con.execute("CREATE TABLE read_erased (k BIGINT)")
    con.executemany("INSERT INTO read_erased VALUES (?)", [(k,) for k in c["erased"]])
    fails = {}
    for i, op in ops:
        d = op["detail"]
        if not op["ok"]:
            fails[i] = f"{op['name']}: {op['err']}"
            continue
        where, params = [], []
        if "lo" in d:
            where.append("ship_day BETWEEN ? AND ?")
            params += [d["lo"], d["hi"]]
        if "keys" in d:
            where.append(f"l_orderkey IN ({','.join('?' * len(d['keys']))})")
            params += d["keys"]
        if "parts" in d:
            where.append(f"ship_year IN ({','.join('?' * len(d['parts']))})")
            params += d["parts"]
        if "asof" in d:
            ms = c["asof_parts"][d["asof"]]
            where.append(f"ship_year IN ({','.join('?' * len(ms))})")
            params += ms
        else:
            where.append("l_orderkey NOT IN (SELECT k FROM read_erased)")
        want = con.execute(
            "SELECT count(*), coalesce(sum(qty), 0), coalesce(sum(cents), 0) "
            f"FROM lake WHERE {' AND '.join(where)}", params).fetchone()
        got = (d["n"], d["qty"], d["cents"])
        if tuple(int(x) for x in want) != got:
            fails[i] = f"{op['name']} {d}: got {got}, want {tuple(want)}"
    return fails


def _lake_maintain(ops, c, con):
    fails = {}
    for i, op in ops:
        d = op["detail"]
        if not op["ok"]:
            fails[i] = f"{op['name']}: {op['err']}"
        elif d["kind"] == "correct" and d["published"] != d["parts"]:
            fails[i] = f"{op['name']} {d['tag']}: published {d['published']} != {d['parts']}"
    con.execute("CREATE TABLE rev (ship_year VARCHAR, rev VARCHAR)")
    con.executemany("INSERT INTO rev VALUES (?, ?)", list(c["rev"].items()))
    con.execute("CREATE TABLE erased (k BIGINT)")
    con.executemany("INSERT INTO erased VALUES (?)", [(k,) for k in c["erased"]])
    con.execute(f"""CREATE TABLE want AS
        SELECT l.*, r.rev FROM ({LAKE_ROWS}) l JOIN rev r USING (ship_year)
        WHERE l.l_orderkey NOT IN (SELECT k FROM erased)""")
    con.execute(f"""CREATE TABLE got AS SELECT ship_year, l_orderkey, l_linenumber, qty,
        cents, ship_day, rev FROM read_parquet('{c['final']}/**/*.parquet',
        hive_partitioning = false)""")
    cols = "ship_year, l_orderkey, l_linenumber, qty, cents, ship_day, rev"
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got "
                        f"EXCEPT ALL SELECT {cols} FROM want)").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM want "
                          f"EXCEPT ALL SELECT {cols} FROM got)").fetchone()[0]
    if extra or missing:
        fails["final_state"] = f"final table: {extra} unexpected rows, {missing} missing"
    con.execute("CREATE TABLE batches (lo INTEGER, hi INTEGER)")
    con.executemany("INSERT INTO batches VALUES (?, ?)", c["batches"])
    want = con.execute(f"""
        WITH l AS ({LAKE_ROWS}),
        folded AS (SELECT ship_year, qty FROM l UNION ALL
                   SELECT ship_year, qty FROM l JOIN batches b
                   ON l.ship_day >= b.lo AND l.ship_day < b.hi)
        SELECT ship_year, count(*), sum(qty * 100) FROM folded
        GROUP BY 1 ORDER BY 1""").fetchall()
    got = con.execute(f"""SELECT ship_year, n, sum_cents
        FROM read_parquet('{c['state']}/*.parquet') ORDER BY 1""").fetchall()
    got, want = ([(y, int(n), int(c)) for y, n, c in rows] for rows in (got, want))
    if got != want:
        fails["incremental_state"] = f"rollup state {got} != recomputed {want}"
    return fails


def check(rec, data):
    con = _connect(data)
    ops = list(enumerate(rec["ops"]))
    c = rec["checks"]
    try:
        if rec["workload"] == "queries":
            return _queries(ops, c, con), 0
        reads = [(i, o) for i, o in ops if o["name"].startswith("read_")]
        commits = [(i, o) for i, o in ops if not o["name"].startswith("read_")]
        fails = _lake_read(reads, c["read"], con)
        fails.update(_lake_maintain(commits, c["maintain"], con))
        return fails, 2
    finally:
        con.close()
