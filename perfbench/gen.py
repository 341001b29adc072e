"""Seeded input generator for the benchmark.

Everything the engine reads is made here from the workload seed, with the
schemas and value ranges of the repo's sf0.1 fixture tables (FIXTURES.md):

* ``catalog(dir)`` writes the ten fixture tables at sf0.1 sizes (one
  parquet file each) for the SparkEntry query workloads, shaped after the
  fixtures' value distributions (README.md compares them). Like the
  fixtures they are one fixed table set (generator seed ``CATALOG_SEED``);
  the run seed orders the queries instead.
* ``medallion(dir, seed)`` writes a bronze event history (six months) plus
  seven daily increments that carry in-slice duplicates and revisions of
  recent events, and returns what the pipeline must produce for each day.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
WORDS = np.array(("a agg batch big column customer data fast filter group hash join "
                  "key line merge order part query row scan slow small sort spark "
                  "stream table the value vector window").split())
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])

US_PER_DAY = 86_400_000_000
SF01 = {"customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
        "lineitem": 600_000, "events": 100_000, "documents": 5_000,
        "embeddings": 2_000}


def _dates(first, last, n, rng):
    """Naive midnight timestamps, uniform over the days from ``first`` to ``last``."""
    lo = np.datetime64(first, "us").astype(np.int64)
    hi = np.datetime64(last, "us").astype(np.int64)
    d = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n)
    return (lo + d * US_PER_DAY).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def _events(rng, first_id, ts_us):
    """Event rows for the given (sorted) microsecond timestamps."""
    n = len(ts_us)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts_us.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": PROPS[rng.integers(0, 100, n)],
    }


EVENT_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                          ("user_id", pa.int64()), ("event_type", pa.string()),
                          ("value", pa.float64()), ("props", pa.string())])


def _event_table(cols):
    return pa.table(cols, schema=EVENT_SCHEMA)


CATALOG_SEED = 42


def catalog(out):
    """The ten fixture tables at sf0.1 sizes under ``out``."""
    rng = np.random.default_rng([CATALOG_SEED, 1])
    os.makedirs(out, exist_ok=True)
    n = SF01
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    c = n["customer"]
    _write(pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, c)]}), f"{out}/customer.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)}), f"{out}/supplier.parquet")
    p = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": PART_TYPES[rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)}),
        f"{out}/part.parquet")
    o = n["orders"]
    _write(pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _dates("1995-01-01", "2001-08-01", o, rng),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, o)]}), f"{out}/orders.parquet")
    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _dates("1995-01-02", "2001-11-04", li, rng)}),
        f"{out}/lineitem.parquet")
    e = n["events"]
    lo = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(lo + rng.integers(0, 30 * US_PER_DAY, e))
    _write(_event_table(_events(rng, 0, ts)), f"{out}/events.parquet")
    d = n["documents"]
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
             for _ in range(d)]
    # near-duplicates: 5 % of the documents (past the first few) become a
    # copy of any document, earlier or later, with " dup" appended
    for i in range(11, d):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, d))] + " dup"
    _write(pa.table({
        "doc_id": np.arange(d, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    # unit vectors in random directions; labels independent of them
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    x = rng.normal(0, 1, (m, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}), f"{out}/embeddings.parquet")


# Medallion calendar: a six-month bronze history, then daily increments
# that cross a month boundary (Jun 29 .. Jul 3).
HISTORY_START = "2024-01-01"
HISTORY_END = "2024-06-29"
HISTORY_ROWS = 300_000
DAYS = 4
DAY_ROWS = 3_300
# the warm-up pass runs the same DAG over a smaller history and one day
WARM = {"history_rows": 60_000, "days": 1, "day_rows": 3_300}
DUP_FRAC = 0.01
REVISION_FRAC = 0.01


def medallion(out, seed, history_rows=HISTORY_ROWS, days=DAYS, day_rows=DAY_ROWS):
    """Bronze history + daily slices under ``out``; returns the plan.

    The plan lists, per day, the slice path and the row counts the pipeline
    must report: rows past the watermark (``new``), distinct ids in the
    slice (``changed``), silver rows, gold rows and gold months.
    """
    rng = np.random.default_rng([seed, 2, history_rows])
    os.makedirs(out, exist_ok=True)
    lo = np.datetime64(HISTORY_START, "us").astype(np.int64)
    hi = np.datetime64(HISTORY_END, "us").astype(np.int64)
    ts = np.sort(lo + rng.integers(0, hi - lo, history_rows))
    hist = _events(rng, 0, ts)
    _write(_event_table(hist), f"{out}/history.parquet")
    hi = (hi // US_PER_DAY) * US_PER_DAY  # days start at midnight

    # latest version per event id (ids are dense), kept in step with the slices
    total = history_rows + days * day_rows
    latest_ts = np.full(total, -1, dtype=np.int64)
    latest_val = np.zeros(total)
    latest_ts[:history_rows] = ts
    latest_val[:history_rows] = hist["value"]
    next_id = history_rows
    n_dup = int(round(day_rows * DUP_FRAC))
    n_rev = int(round(day_rows * REVISION_FRAC))
    day_list = []
    for d in range(days):
        day_lo = hi + d * US_PER_DAY
        cols = _events(rng, next_id, np.sort(day_lo + rng.integers(0, US_PER_DAY, day_rows)))
        next_id += day_rows
        # in-slice duplicates: same id, another time in the day, new depth
        pick = rng.choice(day_rows, n_dup, replace=False)
        dup = {k: v[pick].copy() for k, v in cols.items()}
        orig = cols["ts"][pick].astype(np.int64)
        t = day_lo + rng.integers(0, US_PER_DAY, n_dup)
        dup["ts"] = np.where(t == orig, t ^ 1, t).astype("datetime64[us]")
        dup["value"] = np.round(rng.exponential(50.0, n_dup), 2)
        # revisions of events from the previous seven days, re-timed into
        # this day with a changed depth (some move across the month edge)
        recent = np.flatnonzero((latest_ts >= day_lo - 7 * US_PER_DAY) & (latest_ts < day_lo))
        rev = _events(rng, 0, np.sort(day_lo + rng.integers(0, US_PER_DAY, n_rev)))
        rev["event_id"] = rng.choice(recent, n_rev, replace=False).astype(np.int64)
        sl = {k: np.concatenate([cols[k], dup[k], rev[k]]) for k in cols}
        path = f"{out}/day{d}.parquet"
        _write(_event_table(sl), path)
        # keep-latest: every copy of an id in a slice has its own time, and
        # slice times all lie past everything already loaded
        sl_ts = sl["ts"].astype(np.int64)
        order = np.lexsort((sl_ts, sl["event_id"]))
        last = np.r_[sl["event_id"][order][1:] != sl["event_id"][order][:-1], True]
        win = order[last]
        latest_ts[sl["event_id"][win]] = sl_ts[win]
        latest_val[sl["event_id"][win]] = sl["value"][win]
        live = latest_ts >= 0
        since = (day_lo - 6 * US_PER_DAY).astype("datetime64[us]")
        day_list.append({
            "path": path, "new": int(len(sl_ts)), "changed": int(len(win)),
            "silver": int(live.sum()),
            "gold": _gold_groups(latest_ts[live], latest_val[live]),
            "months": int(len(np.unique(latest_ts[live].astype("datetime64[us]")
                                        .astype("datetime64[M]")))),
            "recent_since": str(since)})
    plan = {"history": f"{out}/history.parquet", "history_rows": history_rows,
            "history_gold": _gold_groups(ts, hist["value"]), "days": day_list}
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan


def _gold_groups(ts_us, value):
    """Distinct (band, year, month) gold groups over latest event versions."""
    v = np.clip(value, 0, 300)
    band = np.where(v < 40, 0, np.where(v <= 120, 1, 2))
    month = ts_us.astype("datetime64[us]").astype("datetime64[M]").astype(np.int64)
    return int(len(np.unique(band * 100_000 + month)))
