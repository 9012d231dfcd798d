#!/usr/bin/env python3
"""Seeded input generator for the ETL benchmark.

Writes the ten fixture tables the engine's queries read (same names,
column types and value distributions as the TPC-H-ish fixture set
described in FIXTURES.md) at a chosen scale factor, plus the landed
JSON-lines event files that the `rebuild` workload ingests tick by tick.

Every value comes from one numpy PCG64 stream per table seeded by
(seed, table), so the same seed always gives byte-identical inputs and
two tables never share a stream.

Usage:
    python3 etlbench/gen.py --out DIR --seed N [--sf 0.01] [--ticks 0]
"""
import argparse
import datetime as dt
import json
import os
import sys
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

ORDER_LO, ORDER_HI = dt.date(1995, 1, 1), dt.date(2001, 8, 1)
SHIP_LO, SHIP_HI = dt.date(1995, 1, 2), dt.date(2001, 11, 4)
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86400 * 10**6

# ingest: the landed stream starts the day after the base events end; a
# tick window runs noon to noon, so late events stay inside their date
INGEST_T0 = dt.datetime(2024, 2, 1, 12)
LATENESS_US = 2 * 3600 * 10**6
TICK_EVENTS = 1000


def rng(seed, name):
    return np.random.Generator(np.random.PCG64([seed, zlib.crc32(name.encode())]))


def days_ts(r, n, lo, hi):
    """n timestamps at midnight, uniform over [lo, hi]."""
    d = r.integers(0, (hi - lo).days + 1, n)
    base = np.datetime64(lo.isoformat(), "us")
    return base + (d.astype("int64") * 86400 * 10**6).astype("timedelta64[us]")


def money(r, n, lo, hi):
    return np.round(r.uniform(lo, hi, n), 2)


def pick(r, values, n, p=None):
    return np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)]


def tables(seed, sf):
    """Build every fixture table as a pyarrow Table."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = min(5000, max(500, int(50_000 * sf)))
    n_emb = min(2000, max(500, int(20_000 * sf)))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(r, n_cust, -1000, 10000),
        "c_mktsegment": pick(r, SEGMENTS, n_cust)})

    r = rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(r, n_supp, -1000, 10000)})

    r = rng(seed, "part")
    keys = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{COLORS[c]} {NOUNS[n]}" for c, n in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": pick(r, PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})

    r = rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": pick(r, ORDER_STATUS, n_ord),
        "o_totalprice": money(r, n_ord, 1000, 500000),
        "o_orderdate": days_ts(r, n_ord, ORDER_LO, ORDER_HI),
        "o_orderpriority": pick(r, PRIORITIES, n_ord)})

    r = rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": r.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": r.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": r.integers(1, 8, n_line).astype("int32"),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(r, n_line, 900, 105000),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": pick(r, ["F", "O"], n_line),
        "l_shipdate": days_ts(r, n_line, SHIP_LO, SHIP_HI)})

    r = rng(seed, "events")
    # distinct, event-id-ordered timestamps (as in the fixture stream)
    offs = np.sort(r.choice(EVENTS_SPAN_US, n_ev, replace=False))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64(EVENTS_T0.isoformat(), "us") + offs.astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users, n_ev).astype("int64"),
        "event_type": pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = rng(seed, "documents")
    lens = r.integers(10, 100, n_docs)
    texts = [" ".join(np.asarray(WORDS)[r.integers(0, len(WORDS), n)]) for n in lens]
    # planted near-duplicates, as in the fixture corpus: about 4.6% of the
    # documents repeat another document's text with one word appended
    for i in r.choice(n_docs, int(n_docs * 0.046), replace=False):
        texts[i] = texts[int(r.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": pick(r, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    r = rng(seed, "embeddings")
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype("int32")})
    return out, n_users


def ticks(seed, n_ticks, n_users, out_dir):
    """Landed event files for the ingest stage, one directory per tick.

    Tick t covers event time [T0 + t days, T0 + t+1 days). Besides its
    on-time events each file carries re-sent duplicates of recent events,
    late events inside the 2 h lateness (accepted) and late events far
    beyond it (dropped by the watermark); tick 0 has neither kind of late
    event. Returns per tick the cumulative expected target: the distinct
    accepted (event_id, ts) rows' count, sum of ids and sum of value cents.
    """
    r = rng(seed, "ticks")
    span = 86400 * 10**6
    per_tick = TICK_EVENTS
    t0 = int((INGEST_T0 - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    next_id = [10**9]
    n_rows = n_sum_id = n_sum_cents = 0
    recent = []
    expected = []

    def event(ts):
        e = (next_id[0], ts, int(r.integers(0, n_users)), int(r.integers(0, len(EVENT_TYPES))),
             int(round(r.exponential(50.0) * 100)), int(r.integers(0, 100)))
        next_id[0] += 1
        return e

    for t in range(n_ticks):
        lo = t0 + t * span
        fresh = [event(lo + int(o)) for o in np.sort(r.choice(span, per_tick, replace=False))]
        # late but inside the lateness: the watermark is at most
        # (newest event time seen so far) - 2h <= lo - 2h
        late_in = ([event(lo - int(o)) for o in r.integers(LATENESS_US // 4, LATENESS_US,
                                                            per_tick // 20)]
                   if t > 0 else [])
        # beyond the lateness: older than the watermark, which the query's
        # trailing no-data batch advanced to (newest event time) - 2h
        late_out = ([event(lo - int(o)) for o in r.integers(span + 2 * LATENESS_US, 2 * span,
                                                             per_tick // 33)]
                    if t > 0 else [])
        kept = fresh + late_in
        # re-sent duplicates of this tick's and the previous tick's events
        pool = recent + kept
        dups = [pool[i] for i in r.integers(0, len(pool), per_tick // 10)]
        recent = fresh
        rows = kept + late_out + dups
        n_rows += len(kept)
        n_sum_id += sum(e[0] for e in kept)
        n_sum_cents += sum(e[4] for e in kept)
        d = os.path.join(out_dir, f"{t:05d}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "events.json"), "w") as f:
            for i in r.permutation(len(rows)):
                eid, ts, u, kd, cents, k = rows[i]
                stamp = (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ts)).isoformat(
                    timespec="microseconds")
                f.write(json.dumps({
                    "event_id": eid, "ts": stamp, "user_id": u,
                    "event_type": EVENT_TYPES[kd], "value": cents / 100,
                    "props": f'{{"k": {k}}}'}) + "\n")
        expected.append({"rows": n_rows, "sum_id": n_sum_id, "sum_cents": n_sum_cents})
    return expected


def generate(out, seed, sf, n_ticks=0):
    """Write every input under `out`; return rows and bytes per table."""
    base = os.path.join(out, "base")
    os.makedirs(base, exist_ok=True)
    tabs, n_users = tables(seed, sf)
    sizes = {}
    for name, tab in tabs.items():
        path = os.path.join(base, f"{name}.parquet")
        pq.write_table(tab, path)
        sizes[name] = {"rows": tab.num_rows, "disk_bytes": os.path.getsize(path),
                       "decoded_bytes": tab.nbytes}
    if n_ticks:
        exp = ticks(seed, n_ticks, n_users, os.path.join(out, "ticks"))
        with open(os.path.join(out, "ticks", "expected.csv"), "w") as f:
            f.writelines(f"{e['rows']},{e['sum_id']},{e['sum_cents']}\n" for e in exp)
    return sizes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--ticks", type=int, default=0)
    a = ap.parse_args()
    t0 = time.perf_counter()
    sizes = generate(a.out, a.seed, a.sf, a.ticks)
    print(json.dumps({"gen_s": time.perf_counter() - t0, "tables": sizes}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
