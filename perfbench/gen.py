"""Seeded input generators for the pipeline benchmark.

Every table is a pure function of the seed: the same seed writes the same
rows. Trades use the fixture's `events` schema (event_id, ts, user_id,
event_type, value, props) with the trading symbol in `event_type`, a Zipf
skew over symbols, re-delivered duplicate event_ids, and arrival order that
runs up to five minutes ahead of event time, which stays inside the
pipelines' 10-minute watermark.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0 = dt.datetime(2024, 1, 1)
US_PER_DAY = 86_400_000_000
EPOCH0_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00, the fixture's first day
MAX_DISORDER_US = 5 * 60 * 1_000_000
SYMBOLS = ["BTCUSDT", "ETHUSDT", "BNBUSDT", "SOLUSDT", "XRPUSDT", "ADAUSDT",
           "DOGEUSDT", "TRXUSDT", "DOTUSDT", "MATICUSDT", "LTCUSDT", "LINKUSDT",
           "AVAXUSDT", "ATOMUSDT", "XLMUSDT", "ETCUSDT", "FILUSDT", "APTUSDT",
           "NEARUSDT", "ARBUSDT"]
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])


def _props(k):
    return pa.array(np.char.add(np.char.add('{"k": ', k.astype(str)), "}"))


def trades(seed, n, days, dup_frac=0.02, start_day=0):
    """`n` distinct trades over `days` days plus `dup_frac * n` re-delivered
    copies, in arrival order. Returns (table, columns-of-distinct-trades)."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, days * US_PER_DAY, n)) + start_day * US_PER_DAY + EPOCH0_US
    ranks = np.arange(1, len(SYMBOLS) + 1, dtype=float) ** -1.1
    sym = rng.choice(len(SYMBOLS), n, p=ranks / ranks.sum())
    base_cents = np.round(np.exp(np.linspace(np.log(10_000), np.log(4_000_000), len(SYMBOLS))))
    price_cents = (base_cents[sym] * rng.uniform(0.9, 1.1, n)).astype(np.int64) + 1
    qty = rng.integers(1, 101, n)
    user = rng.integers(0, 1000, n)
    ids = np.arange(n, dtype=np.int64) + start_day * 10_000_000
    arrival = ts + rng.integers(0, MAX_DISORDER_US, n)
    dup = rng.choice(n, int(n * dup_frac), replace=False)
    idx = np.concatenate([np.arange(n), dup])
    arr = np.concatenate([arrival, arrival[dup] + rng.integers(0, MAX_DISORDER_US - 60_000_000, len(dup))])
    order = idx[np.argsort(arr, kind="stable")]
    distinct = dict(event_id=ids, ts=ts, symbol=sym, price_cents=price_cents, qty=qty)
    table = pa.table({
        "event_id": ids[order],
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": user[order].astype(np.int64),
        "event_type": pa.array(np.array(SYMBOLS)[sym[order]]),
        "value": price_cents[order] / 100.0,
        "props": _props(qty[order]),
    }, schema=EVENTS_SCHEMA)
    return table, distinct


def gold_expected(distinct):
    """Per-(day, symbol) exact notional in cents over distinct trades —
    computed from the generator's own integers, independent of the engine."""
    day = (distinct["ts"] - EPOCH0_US) // US_PER_DAY
    cents = distinct["price_cents"] * distinct["qty"]
    key = day * len(SYMBOLS) + distinct["symbol"]
    uniq, inv = np.unique(key, return_inverse=True)
    tot = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(tot, inv, cents)
    return pa.table({
        "event_date": pa.array([(EPOCH0 + dt.timedelta(days=int(k // len(SYMBOLS)))).date()
                                for k in uniq], pa.date32()),
        "symbol": pa.array([SYMBOLS[int(k % len(SYMBOLS))] for k in uniq]),
        "cents": pa.array(tot, pa.int64())})


def write_medallion(out, seed, n, days):
    os.makedirs(f"{out}/input", exist_ok=True)
    table, distinct = trades(seed, n, days)
    pq.write_table(table, f"{out}/input/events.parquet")
    pq.write_table(gold_expected(distinct), f"{out}/gold_expected.parquet")
    meta = {"input_rows": table.num_rows, "distinct_trades": len(distinct["event_id"])}
    with open(f"{out}/input_counts.txt", "w") as f:
        f.write(f"{meta['input_rows']} {meta['distinct_trades']}\n")
    return meta


def write_lake(out, seed, days, rows_per_day):
    """Distinct trades per day (`day=<d>/`) and, per day, a correction batch
    (`corr=<d>/`): a fifth of that day's trades re-priced plus new late
    trades, for the MERGE."""
    table, distinct = trades(seed, days * rows_per_day, days, dup_frac=0.0)
    rng = np.random.default_rng(seed + 1)
    day = (np.asarray(table.column("ts").cast(pa.int64())) - EPOCH0_US) // US_PER_DAY
    for d in range(days):
        part = table.filter(pa.array(day == d))
        os.makedirs(f"{out}/day={d}", exist_ok=True)
        pq.write_table(part, f"{out}/day={d}/events.parquet")
        pick = rng.choice(part.num_rows, part.num_rows // 5, replace=False)
        upd = part.take(pa.array(np.sort(pick)))
        upd = upd.set_column(4, "value", pa.compute.add(upd.column("value"), 1.0))
        late, _ = trades(seed * 1000 + d, part.num_rows // 20, 1, dup_frac=0.0, start_day=d)
        late = late.set_column(0, "event_id", pa.compute.add(late.column("event_id"), 5_000_000))
        os.makedirs(f"{out}/corr={d}", exist_ok=True)
        pq.write_table(pa.concat_tables([upd, late]), f"{out}/corr={d}/events.parquet")
    return {"days": days, "rows": table.num_rows}


WORDS = ("a the big small fast slow row column table key value hash join merge sort "
         "scan filter group agg window stream batch spark query data line part order "
         "customer vector").split()


def write_fixture(out, seed, sf):
    """The fixture tables of TESTDATA.md, with their column domains, at scale
    factor `sf` (events 1M*sf, lineitem 6M*sf, ...), so the registered
    queries and their DuckDB oracles run unchanged."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_ev, n_li, n_ord, n_cust = int(1e6 * sf), int(6e6 * sf), int(1.5e6 * sf), int(1.5e5 * sf)
    n_supp, n_part, n_docs, n_emb = max(10, int(1e4 * sf)), int(2e5 * sf), 500, 500

    def dates(n, first, last):
        """`n` random midnights, `first`..`last` days after 1995-01-01."""
        return pa.array((np.datetime64("1995-01-01") + rng.integers(first, last, n))
                        .astype("datetime64[ms]"))

    def w(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    w("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    n = n_cust
    w("customer", {"c_custkey": np.arange(n, dtype=np.int64),
                   "c_name": [f"Customer#{i:09d}" for i in range(n)],
                   "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                   "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
                   "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                             "MACHINERY"])[rng.integers(0, 5, n)]})
    n = n_supp
    w("supplier", {"s_suppkey": np.arange(n, dtype=np.int64),
                   "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                   "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                   "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = n_part
    colors, nouns = ["blue", "red", "green", "small", "large"], ["bolt", "ring", "widget", "anvil", "gear"]
    w("part", {"p_partkey": np.arange(n, dtype=np.int64),
               "p_name": [f"{colors[rng.integers(5)]} {nouns[rng.integers(5)]}" for _ in range(n)],
               "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
               "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                   "STANDARD"])[rng.integers(0, 6, n)],
               "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
               "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1)})
    n = n_ord
    w("orders", {"o_orderkey": np.arange(n, dtype=np.int64),
                 "o_custkey": rng.integers(0, n_cust, n),
                 "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
                 "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
                 "o_orderdate": dates(n, 0, 2404),
                 "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, n)]})
    n = n_li
    qty = rng.integers(1, 51, n).astype(float)
    w("lineitem", {"l_orderkey": rng.integers(0, n_ord, n), "l_partkey": rng.integers(0, n_part, n),
                   "l_suppkey": rng.integers(0, n_supp, n),
                   "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                   "l_quantity": qty,
                   "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
                   "l_discount": rng.integers(0, 11, n) / 100.0,
                   "l_tax": rng.integers(0, 9, n) / 100.0,
                   "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                   "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                   "l_shipdate": dates(n, 1, 2499)})
    n = n_ev
    w("events", pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.sort(rng.integers(0, 30 * US_PER_DAY, n)) + EPOCH0_US, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n // 66), n),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[rng.integers(0, 5, n)],
        "value": np.round(np.minimum(rng.lognormal(3.0, 1.2, n), 490.0), 2) + 0.01,
        "props": _props(rng.integers(0, 100, n))}, schema=EVENTS_SCHEMA))
    docs = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            src = docs[rng.integers(0, i)].split(" ")
            cut = rng.integers(0, max(1, len(src) // 4))
            docs.append(" ".join(src[cut:] + ["dup"]))
        else:
            docs.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 90))]))
    w("documents", {"doc_id": np.arange(n_docs, dtype=np.int64), "text": docs,
                    "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_docs)],
                    "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
                    "n_chars": np.array([len(t) for t in docs], dtype=np.int64)})
    label = rng.integers(0, 10, n_emb)
    cent = rng.normal(0, 0.08, (10, 64))
    vec = (cent[label] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    w("embeddings", {"vec_id": np.arange(n_emb, dtype=np.int64),
                     "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                     "label": pa.array(label, pa.int32())})
    return {"sf": sf}
