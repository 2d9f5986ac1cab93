"""Seeded input generation for the benchmark workloads.

Everything the program reads is made here from the workload seed: the
star sources (the same shape and value ranges as the sf0.1 testdata, at
the smaller row counts below), the document corpus, and for
`mart_serving` the dashboard read mix plus the per-cycle change batches.
The same seed always gives the same inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: sf0.01 of the testdata shape. At sf0.1 one full ETL cycle
# takes about 10 s on 4 cores, which leaves one or two samples per run.
SIZES = {"customer": 1500, "supplier": 100, "orders": 15000,
         "lineitem": 60000, "documents": 600}
STAR_TABLES = ("region", "nation", "customer", "supplier", "orders",
               "lineitem")
FIXED_ROWS = {"region": 5, "nation": 25}

VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
LANGS = ("en", "en", "de", "es", "fr", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDER_LO, ORDER_HI = dt.date(1995, 1, 1), dt.date(2001, 8, 1)
SHIP_LO, SHIP_HI = dt.date(1995, 1, 2), dt.date(2001, 11, 4)

# Dashboard reads per cycle as (kind, selectivity class). The seed picks
# each read's parameters, never the mix, so every run sees the same
# spread from selective to full-scan. etl_full reads the views over the
# marts it just promoted; mart_serving adds reads over the star.
VIEW_READS = (("daily_view", "narrow"), ("daily_view", "full"),
              ("station_view", "narrow"), ("station_view", "full"),
              ("routes_view", "narrow"), ("user_view", "narrow"),
              ("user_view", "full"))
SERVING_READS = VIEW_READS + (("daily_star", "narrow"), ("daily_star", "wide"),
                              ("routes_star", "wide"))
# the marts a customer change batch can change; each write refreshes the
# next one (the other two roll up from the star, which writes never touch)
REFRESHED_MARTS = ("dm_station_popularity", "dm_user_behavior")
MAX_CYCLES = 96
CHANGE_BATCH_ROWS = 200


def _dates(rng, lo, hi, n):
    days = rng.integers(0, (hi - lo).days + 1, n)
    base = np.datetime64(lo.isoformat(), "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def customers(rng, n, key0=0):
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def star_sources(rng, out):
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    _write(customers(rng, SIZES["customer"]), f"{out}/customer.parquet")
    ns = SIZES["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
    }), f"{out}/supplier.parquet")
    no = SIZES["orders"]
    _write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, SIZES["customer"], no),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 1000, 500000, no),
        "o_orderdate": _dates(rng, ORDER_LO, ORDER_HI, no),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }), f"{out}/orders.parquet")
    nl = SIZES["lineitem"]
    _write(pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, 20000, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 100000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _dates(rng, SHIP_LO, SHIP_HI, nl),
    }), f"{out}/lineitem.parquet")


def documents(rng, out):
    """Random-token documents over a 30-word vocabulary, in a seeded order.
    Besides the originals there are, in fixed numbers: near-duplicates (a
    training original plus a marker token), training-source copies of
    benchmark documents (`src0`/`src1`, the sources the release sweeps)
    and exact copies. Each copies a distinct original, so every near-dup
    cluster is a pair and the work per stage does not depend on the seed.
    """
    n = SIZES["documents"]
    n_near, n_contam, n_exact = n // 20, n // 50, n // 200
    n_orig = n - n_near - n_contam - n_exact
    texts, sources = [], []
    for _ in range(n_orig):
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
        sources.append(f"src{rng.integers(0, 20)}")
    bench = [i for i in range(n_orig) if sources[i] in ("src0", "src1")]
    train = [i for i in range(n_orig) if sources[i] not in ("src0", "src1")]
    near = rng.choice(train, n_near + n_exact, replace=False)
    for j in near[:n_near]:
        texts.append(texts[j] + " dup")
        sources.append(f"src{rng.integers(2, 20)}")
    for j in rng.choice(bench, n_contam, replace=False):
        texts.append(texts[j] + " dup")
        sources.append(f"src{rng.integers(2, 20)}")
    for j in near[n_near:]:
        texts.append(texts[j])
        sources.append(sources[j])
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    sources = [sources[i] for i in order]
    _write(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")


def _date_window(rng, days):
    span = (ORDER_HI - ORDER_LO).days - days
    lo = ORDER_LO + dt.timedelta(days=int(rng.integers(0, span + 1)))
    return lo, lo + dt.timedelta(days=days)


def read_op(rng, kind, sel):
    """One dashboard read. `pred` filters the read in the program (a Spark
    SQL predicate over the view, or over fact_trips for star reads);
    `oracle_pred` / `orders_pred` restate it for the DuckDB oracle, over
    the view's result and over the `orders` source respectively.
    """
    op = {"kind": kind, "sel": sel}
    if kind in ("daily_view", "daily_star", "routes_star"):
        if sel == "full":
            lo, hi = ORDER_LO, ORDER_HI
        else:
            lo, hi = _date_window(rng, 30 if sel == "narrow" else 720)
        if kind == "daily_view":
            op["pred"] = f"trip_date BETWEEN DATE '{lo}' AND DATE '{hi}'"
            op["oracle_pred"] = op["pred"]
        else:
            op["pred"] = (f"start_date_id BETWEEN {lo:%Y%m%d} AND {hi:%Y%m%d}")
            if kind == "daily_star":
                op["oracle_pred"] = f"cal_date BETWEEN DATE '{lo}' AND DATE '{hi}'"
            else:
                op["orders_pred"] = (f"CAST(o_orderdate AS DATE) BETWEEN "
                                     f"DATE '{lo}' AND DATE '{hi}'")
    elif kind in ("station_view", "routes_view"):
        k = 25 if sel == "full" else 3
        picks = sorted(int(x) for x in rng.choice(25, k, replace=False))
        if kind == "station_view":
            op["pred"] = f"station_code IN ({', '.join(map(str, picks))})"
        else:
            names = ", ".join(f"'NATION_{p}'" for p in picks)
            op["pred"] = f"origin IN ({names})"
        op["oracle_pred"] = op["pred"]
    elif kind == "user_view":
        k = 5 if sel == "full" else 2
        picks = sorted(SEGMENTS[i] for i in rng.choice(5, k, replace=False))
        op["pred"] = "segment IN (" + ", ".join(f"'{s}'" for s in picks) + ")"
        op["oracle_pred"] = op["pred"]
    return op


def read_plan(rng, mix):
    """Per cycle, the reads of `mix` in a seeded order."""
    cycles = []
    for _ in range(MAX_CYCLES):
        reads = [read_op(rng, k, s) for k, s in mix]
        cycles.append({"reads": [reads[i] for i in rng.permutation(len(reads))]})
    return cycles


def serving_plan(rng, out):
    """The mart_serving operation stream: per cycle, the SERVING_READS in a
    seeded order, then one write — a change batch of existing-customer
    updates and new customers (upserted into `customer`), refreshing the
    customer-dependent marts in turn.
    """
    cycles = read_plan(rng, SERVING_READS)
    batches = []
    next_key = SIZES["customer"]
    for c, cycle in enumerate(cycles):
        cycle["mart"] = REFRESHED_MARTS[c % len(REFRESHED_MARTS)]
        n_upd = CHANGE_BATCH_ROWS // 2
        upd_keys = rng.choice(next_key, n_upd, replace=False).astype(np.int64)
        upd = customers(rng, n_upd).to_pydict()
        upd["c_custkey"] = list(upd_keys)
        upd["c_name"] = [f"Customer#{k:09d}" for k in upd_keys]
        ins = customers(rng, CHANGE_BATCH_ROWS - n_upd, next_key).to_pydict()
        next_key += CHANGE_BATCH_ROWS - n_upd
        for part in (upd, ins):
            part["batch"] = [c] * len(part["c_custkey"])
            batches.append(pa.table(part, schema=_change_schema()))
    _write(pa.concat_tables(batches), f"{out}/changes.parquet")
    return cycles


def _change_schema():
    return pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string()), ("batch", pa.int64())])


def source_rows(workload):
    """Rows of the generated sources one etl_full or corpus_release cycle
    reads."""
    if workload == "corpus_release":
        return SIZES["documents"]
    return sum(FIXED_ROWS.get(t) or SIZES[t] for t in STAR_TABLES)


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0x9B1E])
    if workload == "corpus_release":
        documents(rng, out)
        return
    star_sources(rng, out)
    plan = (serving_plan(rng, out) if workload == "mart_serving"
            else read_plan(rng, VIEW_READS))
    with open(f"{out}/ops.json", "w") as f:
        json.dump(plan, f)
