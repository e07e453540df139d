"""Seeded input generators for the benchmark.

Two kinds of input, both written as parquet into the run's own directory:

* ``make_tables``: the ten sf0.1-shaped tables the query inventory reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings). Row counts, key ranges, value domains and
  distributions follow the sf0.1 test tables: independent uniform columns,
  exponential event values, a 30-word document vocabulary with 5% " dup"
  near-copies and a few exact copies, unit-norm 64-d embeddings around ten
  weak label centroids. The tables are fixed (seed 42) so every run
  answers the same queries over the same data.
* ``make_grid``: a gridded daily SST record over the Oliver fixture's
  1982-2013 period, shaped like an OISST lat/lon subset. A few cells carry
  the Oliver series verbatim; the others are a seeded seasonal cycle plus a
  linear trend, AR(1) noise and warm spells. A fixed share of those cells
  has NaN days (missing observations), on a fixed pattern.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(days_from, days_span, n, rng, whole_days=True):
    """Timestamps (µs) uniform over [days_from, days_from + days_span)."""
    epoch = dt.datetime(1970, 1, 1)
    base = int((days_from - epoch).total_seconds() * 1e6)
    if whole_days:
        us = rng.integers(0, days_span, n) * 86_400_000_000
    else:
        us = np.sort(rng.integers(0, days_span * 86_400_000_000, n))
    return pa.array(base + us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out, scale=0.1):
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_users = int(1_000_000 * scale), 1500
    n_docs, n_vecs = int(50_000 * scale), int(20_000 * scale)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), 2404, n_ord, rng),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), 2498, n_line, rng)}),
        f"{out}/lineitem.parquet")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), 30, n_events, rng, whole_days=False),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
        f"{out}/events.parquet")
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    langs = np.array(["de", "en", "es", "fr", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n_docs, p=[0.14, 0.41, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 0.01, (10, 64))
    x = centroids[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


GRID_START, GRID_END = dt.date(1982, 1, 1), dt.date(2013, 12, 31)
MISSING_SEED = 2016


def grid_days():
    n = (GRID_END - GRID_START).days + 1
    return np.arange(np.datetime64(GRID_START), np.datetime64(GRID_START) + n)


def oliver_series(path):
    """The Oliver fixture's temperatures, one per day of the grid record."""
    vals = np.loadtxt(path, delimiter=",", skiprows=1, usecols=1)
    assert len(vals) == len(grid_days()), "Oliver series must span 1982-2013"
    return vals


def make_grid(out, seed, oliver_csv, n_lat, n_lon, n_oliver, missing_cell_share,
              missing_day_share):
    """Write grid.parquet (lat, lon, time, sst) and return its make-up."""
    rng = np.random.default_rng(seed)
    days = grid_days()
    nd = len(days)
    t = np.arange(nd, dtype=np.float64)
    lats = np.round(-40.125 + 0.25 * np.arange(n_lat), 3)
    lons = np.round(145.125 + 0.25 * np.arange(n_lon), 3)
    n_cells = n_lat * n_lon
    oliver = oliver_series(oliver_csv)
    oliver_cells = set(range(n_oliver))
    # which cells miss days, and which days, does not follow the seed: the
    # engine mishandles missing days (see README), and a fault the
    # benchmark counts must show the same way in every run
    fixed = np.random.default_rng(MISSING_SEED)
    candidates = np.arange(n_oliver, n_cells)
    n_missing = int(round(missing_cell_share * len(candidates)))
    missing_cells = set(fixed.choice(candidates, n_missing, replace=False).tolist())
    missing_days = {c: fixed.random(nd) < missing_day_share for c in sorted(missing_cells)}
    cols = {"lat": [], "lon": [], "time": [], "sst": []}
    for c in range(n_cells):
        if c in oliver_cells:
            v = oliver.copy()
        else:
            phase = rng.uniform(0, 2 * np.pi)
            noise = np.empty(nd)
            e = rng.normal(0.0, 0.35, nd)
            noise[0] = e[0]
            for i in range(1, nd):  # AR(1), lag-1 correlation 0.8
                noise[i] = 0.8 * noise[i - 1] + e[i]
            v = (14.0 + 0.2 * (c % n_lat) + rng.uniform(2.0, 4.0) *
                 np.cos(2 * np.pi * t / 365.25 + phase) + 0.00008 * t + noise)
            for start in rng.integers(0, nd - 60, 6):
                length = int(rng.integers(8, 50))
                v[start:start + length] += rng.uniform(1.5, 3.0)
            v = np.round(v, 3)
            if c in missing_cells:
                v[missing_days[c]] = np.nan
        cols["lat"].append(np.full(nd, lats[c // n_lon]))
        cols["lon"].append(np.full(nd, lons[c % n_lon]))
        cols["time"].append(days)
        cols["sst"].append(v)
    table = pa.table({
        "lat": np.concatenate(cols["lat"]),
        "lon": np.concatenate(cols["lon"]),
        "time": pa.array(np.concatenate(cols["time"]).astype("datetime64[D]")),
        "sst": np.concatenate(cols["sst"])})
    os.makedirs(out, exist_ok=True)
    _write(table, f"{out}/grid.parquet")
    return {"cells": n_cells, "days": nd, "oliver_cells": sorted(oliver_cells),
            "lats": lats.tolist(), "lons": lons.tolist()}
