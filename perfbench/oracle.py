"""Expected outputs from the program's own DuckDB oracle SQL.

Every digest here is computed by running the registry's `oracleSql` (as
dumped by `graft.tools.OracleDump` at build time) over the generated
inputs, and rendered by the rules `Digest.scala` applies to Spark rows:
row count, sorted column names, and the wrapping sum of each row's MD5
prefix, so row and column order do not matter but every value does.
"""
import datetime as dt
import decimal
import hashlib
import struct

import duckdb
import pandas as pd

STAR = ("region", "nation", "customer", "supplier", "orders", "lineitem")
# promoted table -> oracle of its contents
ETL_TABLES = {"dim_station": "silver_dim_station", "dim_user": "silver_dim_user",
              "dim_date": "silver_dim_date", "fact_trips": "silver_fact_trips",
              "dm_daily_trip_summary": "gold_daily_summary",
              "dm_popular_routes": "gold_popular_routes",
              "dm_station_popularity": "gold_station_popularity",
              "dm_user_behavior": "gold_user_behavior"}
# mart -> oracle of its dashboard view
MART_VIEWS = {"dm_daily_trip_summary": "gold_daily_view",
              "dm_popular_routes": "gold_routes_view",
              "dm_station_popularity": "gold_station_view",
              "dm_user_behavior": "gold_user_view"}
VIEW_READS = {"daily_view": "dm_daily_trip_summary",
              "routes_view": "dm_popular_routes",
              "station_view": "dm_station_popularity",
              "user_view": "dm_user_behavior"}
# marts whose refresh reads the customer source; the other two refresh
# from the star built at set-up and never change
CUSTOMER_MARTS = ("dm_station_popularity", "dm_user_behavior")
FLAGS_CUT = "), clean AS ("
FLAGS_SELECT = """)
SELECT bench_doc, train_doc, CAST(n_shared AS BIGINT) AS n_shared,
  CAST(n_shared AS DOUBLE)/CAST(n AS DOUBLE) AS score
FROM cshared JOIN cbsize ON cbsize.doc_id = bench_doc
WHERE CAST(n_shared AS DOUBLE)/CAST(n AS DOUBLE) >= 0.3"""


def _number(d):
    if d == 0:
        return "0"
    if d.is_integer() and abs(d) < 2 ** 53:
        return str(int(d))
    return "d" + str(struct.unpack(">q", struct.pack(">d", d))[0])


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _number(v)
    if isinstance(v, decimal.Decimal):
        return str(int(v)) if v == v.to_integral_value() else _number(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "ts" + str((v - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(render(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")
    return f"{len(rows)}:{','.join(sorted(columns))}:{total % 2 ** 64:016x}"


class Oracle:
    def __init__(self, inputs, oracle_sql, tmp):
        self.sql = oracle_sql
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{tmp}'")
        self.con.execute("SET threads=2")
        self.inputs = inputs
        self.cache = {}

    def source(self, name, df=None):
        """Bind a source table: a generated parquet file, or a frame."""
        if df is not None:
            self.con.register(f"{name}_frame", df)
            self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {name}_frame")
        else:
            self.con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                             f"SELECT * FROM read_parquet('{self.inputs}/{name}.parquet')")

    def run(self, sql):
        cur = self.con.execute(sql)
        return digest([d[0] for d in cur.description], cur.fetchall())

    def query(self, name, where=None):
        body = self.sql[name]
        return self.run(f"SELECT * FROM ({body}) v WHERE {where}" if where else body)


def expected_tables(o):
    """Digests of the eight tables every etl_full cycle promotes."""
    for t in STAR:
        o.source(t)
    return {t: o.query(q) for t, q in ETL_TABLES.items()}


def expected_corpus(o, read_ops):
    """Digest each corpus_release read must return, by (kind, predicate)."""
    o.source("documents")
    sql = o.sql["corpus_pipeline_e2e"]
    if FLAGS_CUT not in sql:
        raise ValueError("corpus_pipeline_e2e oracle no longer ends in the "
                         "`clean` CTE; the corpus_flags oracle cannot be derived")
    o.con.execute(f"CREATE TEMP TABLE corpus_release AS {sql}")
    o.con.execute("CREATE TEMP TABLE corpus_flags AS "
                  + sql[:sql.rindex(FLAGS_CUT)] + FLAGS_SELECT)
    out = []
    for op in read_ops:
        table = op["kind"].split(":", 1)[1]
        where = f" WHERE {op['arg']}" if op["arg"] else ""
        out.append((op, op["arg"], o.run(f"SELECT * FROM {table}{where}")))
    return out


def customer_versions(inputs, cycles):
    """The customer source after each change batch: versions[k] has
    batches 0..k-1 upserted into the generated table."""
    cust = pd.read_parquet(f"{inputs}/customer.parquet").set_index("c_custkey")
    changes = pd.read_parquet(f"{inputs}/changes.parquet")
    versions = [cust.reset_index()]
    for c in range(cycles):
        b = changes[changes["batch"] == c].drop(columns="batch").set_index("c_custkey")
        cust = pd.concat([cust[~cust.index.isin(b.index)], b])
        versions.append(cust.reset_index())
    return versions


def expected_reads(o, plan, read_ops):
    """Digest each planned dashboard read must return, given the reads the
    run made (etl_full, mart_serving). In mart_serving a mart refreshed
    from the customer source shows the customer version of its latest
    refresh before the read; in etl_full nothing changes the sources."""
    n = max([op["cycle"] for op in read_ops], default=-1) + 1
    serving = any("mart" in c for c in plan)
    versions = customer_versions(o.inputs, n) if serving else None
    for t in STAR:
        o.source(t)
    refreshed = {}  # (mart, cycle) -> customer version the mart shows
    version_of = {m: 0 for m in MART_VIEWS}
    for c in range(n):
        for m in MART_VIEWS:
            refreshed[(m, c)] = version_of[m]
        mart = plan[c].get("mart")
        if mart in CUSTOMER_MARTS:
            version_of[mart] = c + 1
    out = []
    seen = {}
    for op in read_ops:
        c = op["cycle"]
        idx = seen.get(c, 0)
        seen[c] = idx + 1
        spec = plan[c]["reads"][idx]
        kind = spec["kind"]
        if kind in VIEW_READS:
            mart = VIEW_READS[kind]
            key = (kind, refreshed[(mart, c)], spec["oracle_pred"])
            if key not in o.cache:
                if serving:
                    o.source("customer", versions[key[1]])
                o.cache[key] = o.query(MART_VIEWS[mart], spec["oracle_pred"])
        elif kind == "daily_star":
            key = (kind, 0, spec["oracle_pred"])
            if key not in o.cache:
                o.source("customer", versions[0])
                o.cache[key] = o.query("gold_daily_summary", spec["oracle_pred"])
        else:
            key = (kind, 0, spec["orders_pred"])
            if key not in o.cache:
                o.source("customer", versions[0])
                o.con.execute("CREATE OR REPLACE VIEW orders AS SELECT * FROM "
                              f"read_parquet('{o.inputs}/orders.parquet') "
                              f"WHERE {spec['orders_pred']}")
                o.cache[key] = o.query("gold_popular_routes")
                o.source("orders")
        out.append((op, spec["pred"], o.cache[key]))
    return out
