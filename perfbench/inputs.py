"""Seeded input generators of the benchmark.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The JVM half receives only the files written here (and the seed
for the geo table, which it builds through the program's own
`Gis.bulkIngest`).
"""
import datetime
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---- ingest_write: wifi-style 10-column TSV ---------------------------------

TSV_ROWS = 20000
TSV_BBOX = (-74.5, -73.5, 40.2, 41.2)  # lon_min, lon_max, lat_min, lat_max
TSV_DUP_SHARE = 0.05   # rows repeating an earlier row's coordinates
TSV_NULL_SHARE = 0.01  # rows with an empty (unparseable) lon or lat
TSV_HEADER = ["lon", "lat", "id", "name", "address", "city", "url", "phone", "type", "zip"]

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lat, lon, precision=12):
    """Base32 geohash, bit-for-bit the bisection of graft.geo.Geohash.encode."""
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    out, even, bit, ch = [], True, 0, 0
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch, lon_lo = (ch << 1) | 1, mid
            else:
                ch, lon_hi = ch << 1, mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch, lat_lo = (ch << 1) | 1, mid
            else:
                ch, lat_hi = ch << 1, mid
        even = not even
        bit += 1
        if bit == 5:
            out.append(_B32[ch])
            bit, ch = 0, 0
    return "".join(out)


def _num(s):
    try:
        return float(s)
    except ValueError:
        return None


def write_tsv(path, seed):
    """Write the TSV; return its facts, including the expected ingest result:
    the number of distinct 12-char geohashes, where every row with an
    unparseable coordinate shares the one null key."""
    rnd = random.Random(seed)
    lon0, lon1, lat0, lat1 = TSV_BBOX
    kinds = ["cafe", "library", "park", "station", "hotel", "shop"]
    coords, lines = [], ["\t".join(TSV_HEADER)]
    for i in range(TSV_ROWS):
        u = rnd.random()
        if coords and u < TSV_DUP_SHARE:
            lon, lat = coords[rnd.randrange(len(coords))]
        else:
            lon = f"{rnd.uniform(lon0, lon1):.6f}"
            lat = f"{rnd.uniform(lat0, lat1):.6f}"
            if u > 1 - TSV_NULL_SHARE:
                lon, lat = (("", lat) if rnd.random() < 0.5 else (lon, ""))
            else:
                coords.append((lon, lat))
        zip_code = f"{10001 + rnd.randrange(300):05d}"
        lines.append("\t".join([
            lon, lat, str(i), f"hotspot {rnd.randrange(10 ** 6)}",
            f"{rnd.randrange(1, 999)} {rnd.choice(['Main', 'Park', 'Broad', 'Elm'])} St",
            rnd.choice(["New York", "Brooklyn", "Queens", "Newark"]),
            f"http://wifi.example/{rnd.randrange(10 ** 8):08d}",
            f"212-{rnd.randrange(10 ** 7):07d}", rnd.choice(kinds), zip_code]))
    body = "\n".join(lines) + "\n"
    with open(path, "w") as f:
        f.write(body)
    keys = set()
    for line in lines[1:]:
        lon, lat = (_num(v) for v in line.split("\t")[:2])
        keys.add(None if lon is None or lat is None else geohash(lat, lon))
    return {"tsv_rows": TSV_ROWS, "tsv_bytes": len(body.encode()),
            "tsv_distinct_geohashes": len(keys)}


# ---- pipeline_batch: gate tables --------------------------------------------
# Same schemas, value domains and parquet layout (one file, one row group,
# micros timestamps) as the engine's sf0.01 gate tables.

ORDERS = 15000
CUSTOMERS = 1500
PARTS = 2000
SUPPLIERS = 100
USERS = 150
EVENTS = 10000
DOCUMENTS = 500
VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()


def _write(df, path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def _days(rng, start, n_days, size):
    return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, n_days, size), unit="D")


def write_gate_tables(out_dir, seed):
    """Write orders, lineitem, events and documents; return their row counts."""
    rng = np.random.default_rng(seed)
    o = pd.DataFrame({
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS),
        "o_totalprice": np.round(rng.uniform(900, 500000, ORDERS), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2500, ORDERS),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], ORDERS)})
    lines_per = np.clip(rng.poisson(3.0, ORDERS) + 1, 1, 13)
    n = int(lines_per.sum())
    okey = np.repeat(np.arange(ORDERS, dtype=np.int64), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    perm = rng.permutation(n)
    flags = rng.integers(0, 6, n)
    li = pd.DataFrame({
        "l_orderkey": okey, "l_partkey": rng.integers(0, PARTS, n).astype(np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
        "l_linestatus": np.array(["F", "O"])[flags // 3],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n)}).iloc[perm]
    start = datetime.datetime(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * 86400 * 10 ** 6, EVENTS))
    ev = pd.DataFrame({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": pd.Timestamp(start) + pd.to_timedelta(offs, unit="us"),
        "user_id": rng.integers(0, USERS, EVENTS).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], EVENTS),
        "value": np.round(rng.uniform(0.01, 490.0, EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]})
    texts = []
    for i in range(DOCUMENTS):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near-duplicate
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    docs = pd.DataFrame({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64), "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], DOCUMENTS,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    tables = {"orders": o, "lineitem": li, "events": ev, "documents": docs}
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return {f"{name}_rows": len(df) for name, df in tables.items()}
