"""Seeded input generators for the benchmark.

Two kinds of input, both pure functions of their arguments:

* ``suite_tables``: the ten tables the registered queries read (TPC-H-ish
  star schema plus ``events``, ``documents`` and ``embeddings``), written
  as one parquet file each.  The shapes and value domains follow the
  layout the queries were written against: the same columns, types,
  categorical vocabularies and ranges.  The data is fixed (``DATA_SEED``);
  the workload seed only orders the queries, so one expected-result file
  covers every seed.
* ``velib_ticks``: a Velib-shaped station-status feed.  One tick is one
  poll of every station, rendered as JSON lines in the wire format
  ``velib.Schemas.rawStatus`` parses.  Each tick advances event time by
  ``TICK_EVENT_MINUTES``.  A seeded share of stations re-send their stale
  record each tick, and a seeded share drain toward zero bikes so that
  alerts fire.
"""
import datetime as dt
import json

import numpy as np

DATA_SEED = 42
KERNEL_DOCS = 5_000  # the sf0.1 documents count
TICK_EVENT_MINUTES = 5
FEED_START = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)

_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_ADJ = ("red blue hot cold new small large old").split()
_NOUN = ("bolt ring rod plate gear anvil nut pipe").split()


def _ts(rng, n, start, end):
    lo = int(start.timestamp() * 1e6)
    hi = int(end.timestamp() * 1e6)
    return rng.integers(lo, hi, n, dtype=np.int64)


def _days(rng, n, start, end):
    d0 = (start - dt.date(1970, 1, 1)).days
    d1 = (end - dt.date(1970, 1, 1)).days
    return rng.integers(d0, d1 + 1, n, dtype=np.int64) * 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def suite_tables(out_dir, sf):
    """Write the ten suite tables at scale factor ``sf`` under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    ts_us = pa.timestamp("us")
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), ts_us),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), ts_us)})
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.sort(_ts(rng, n_ev, t0, t0 + dt.timedelta(days=30))),
                       ts_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    tables["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})

    # the per-row kernels are timed alone over a larger documents table
    tables["kernel_documents"] = _documents(rng, KERNEL_DOCS)
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


def _documents(rng, n):
    import pyarrow as pa
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n)]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def velib_ticks(seed, stations, ticks, stale_share=0.1, drain_share=0.05):
    """The first ``ticks`` polls of a ``stations``-station feed, one
    JSON-lines ``bytes`` per tick.  Same arguments, same bytes."""
    rng = np.random.default_rng(seed)
    codes = [f"{10000 + 7 * i:05d}" for i in range(stations)]
    capacity = rng.integers(12, 61, stations)
    bikes = rng.integers(0, capacity + 1)
    draining = rng.random(stations) < drain_share
    last = [None] * stations
    out = []
    for t in range(ticks):
        due = FEED_START + dt.timedelta(minutes=TICK_EVENT_MINUTES * t)
        stale = rng.random(stations) < stale_share
        step = rng.integers(-3, 4, stations)
        drain = rng.integers(0, 3, stations)
        ebike_share = rng.random(stations)
        lines = []
        for i in range(stations):
            if t > 0 and stale[i]:
                lines.append(last[i])
                continue
            b = bikes[i] - drain[i] if draining[i] else bikes[i] + step[i]
            b = int(min(max(b, 0), capacity[i]))
            bikes[i] = b
            ebike = int(b * ebike_share[i])
            rec = {"stationcode": codes[i], "name": f"Station {codes[i]}",
                   "numdocksavailable": int(capacity[i]) - b,
                   "numbikesavailable": b, "mechanical": b - ebike,
                   "ebike": ebike,
                   "duedate": due.isoformat()}
            last[i] = json.dumps(rec, separators=(",", ":"))
            lines.append(last[i])
        out.append(("\n".join(lines) + "\n").encode())
    return out
