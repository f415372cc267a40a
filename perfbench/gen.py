"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of the seed:

* the star schema the program's queries read (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings), one
  Parquet file per table, with the column names, physical types and value
  ranges of the program's reference test data;
* AW3D30-layout GeoTIFF tiles (``ALPSMLC30_N050E003_DSM.tif``): classic
  little-endian TIFF, one Int16 band, DEFLATE, horizontal-differencing
  predictor 2, striped, with the GeoTIFF pixel-scale tag. The
  generator returns each tile's pixel count, min, max and sum, which the
  ETL check compares against what the program wrote.

The program receives only the files.
"""
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table: small enough that a run, its cold check pass and
# the DuckDB oracles included, takes about a minute on 4 cores.
SIZES = {
    "customer": 1500, "supplier": 100, "part": 1000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 160, "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

# GeoTIFF tiles for the raster ETL operation.
TILE_COUNT = 8
TILE_EDGE = 240
ROWS_PER_STRIP = 16


def _write(table, path):
    pq.write_table(table, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write_tables(out, seed):
    """Write the ten star-schema tables for ``seed`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = SIZES

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
    }), f"{out}/customer.parquet")

    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }), f"{out}/supplier.parquet")

    p = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")

    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, o), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)],
    }), f"{out}/orders.parquet")

    li = n["lineitem"]
    flags = [("A", "F"), ("N", "F"), ("N", "O"), ("R", "F"), ("A", "O"), ("R", "O")]
    fl = rng.integers(0, len(flags), li)
    qty = rng.integers(1, 51, li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": [flags[i][0] for i in fl],
        "l_linestatus": [flags[i][1] for i in fl],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, li), pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")

    e = n["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, e))
    _write(pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), f"{out}/events.parquet")

    d = n["documents"]
    texts, originals = [], []
    for i in range(d):
        # one document in eight is a near-duplicate of an earlier original:
        # a copy with a few words replaced, so the dedup operators find pairs
        if originals and rng.random() < 0.125:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
            originals.append(i)
        texts.append(" ".join(words))
    _write(pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), d)],
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")

    v = n["embeddings"]
    vec = rng.standard_normal((v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32()),
    }), f"{out}/embeddings.parquet")


def tile_key(lat, lon):
    return (f"ALPSMLC30_{'N' if lat >= 0 else 'S'}{abs(lat):03d}"
            f"{'E' if lon >= 0 else 'W'}{abs(lon):03d}_DSM")


def _tiff(band):
    """Classic little-endian TIFF bytes for one Int16 band: DEFLATE,
    predictor 2, striped."""
    h, w = band.shape
    strips = []
    for r0 in range(0, h, ROWS_PER_STRIP):
        rows = band[r0:r0 + ROWS_PER_STRIP].astype("<i2")
        diff = rows.copy()
        diff[:, 1:] = rows[:, 1:] - rows[:, :-1]  # wraps in 16 bits, per spec
        strips.append(zlib.compress(diff.tobytes(), 6))
    nstrips = len(strips)
    # layout: header, strip data, then out-of-line tag values, then the IFD
    offsets, pos = [], 8
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    extra = bytearray()
    extra_base = pos

    def put(b):
        off = extra_base + len(extra)
        extra.extend(b)
        if len(extra) % 2:
            extra.append(0)
        return off

    entries = []

    def tag(code, typ, count, value_bytes):
        if len(value_bytes) <= 4:
            entries.append(struct.pack("<HHI", code, typ, count) + value_bytes.ljust(4, b"\0"))
        else:
            entries.append(struct.pack("<HHII", code, typ, count, put(value_bytes)))

    tag(256, 3, 1, struct.pack("<H", w))
    tag(257, 3, 1, struct.pack("<H", h))
    tag(258, 3, 1, struct.pack("<H", 16))
    tag(259, 3, 1, struct.pack("<H", 8))
    tag(262, 3, 1, struct.pack("<H", 1))
    tag(273, 4, nstrips, struct.pack(f"<{nstrips}I", *offsets))
    tag(277, 3, 1, struct.pack("<H", 1))
    tag(278, 3, 1, struct.pack("<H", ROWS_PER_STRIP))
    tag(279, 4, nstrips, struct.pack(f"<{nstrips}I", *[len(s) for s in strips]))
    tag(317, 3, 1, struct.pack("<H", 2))
    tag(339, 3, 1, struct.pack("<H", 2))
    tag(33550, 12, 3, struct.pack("<3d", 1.0 / w, 1.0 / h, 0.0))
    entries_sorted = sorted(entries, key=lambda e: struct.unpack("<H", e[:2])[0])
    ifd_off = extra_base + len(extra)
    ifd = struct.pack("<H", len(entries_sorted)) + b"".join(entries_sorted) + struct.pack("<I", 0)
    return (b"II" + struct.pack("<HI", 42, ifd_off) + b"".join(strips)
            + bytes(extra) + ifd)


def write_tiles(out, seed):
    """Write TILE_COUNT GeoTIFF tiles for ``seed`` under ``out``; return
    {tile_key: (pixels, min, max, sum)} and the total bytes written."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    stats, total = {}, 0
    cells = rng.choice(np.arange(40 * 60), TILE_COUNT, replace=False)
    yy, xx = np.mgrid[0:TILE_EDGE, 0:TILE_EDGE] / TILE_EDGE
    for cell in cells:
        lat, lon = 30 + int(cell) // 60, -20 + int(cell) % 60
        # smooth relief plus noise, in the Int16 range real DSM tiles use
        fx, fy, ph = rng.uniform(1.0, 4.0, 3)
        band = (rng.uniform(0, 2500)
                + rng.uniform(100, 900) * np.sin(2 * np.pi * (fx * xx + ph))
                * np.cos(2 * np.pi * fy * yy)
                + rng.normal(0, 12, (TILE_EDGE, TILE_EDGE)))
        band = np.clip(np.round(band), -500, 8848).astype(np.int16)
        key = tile_key(lat, lon)
        payload = _tiff(band)
        with open(f"{out}/{key}.tif", "wb") as f:
            f.write(payload)
        total += len(payload)
        b = band.astype(np.int64)
        stats[key] = (int(b.size), int(b.min()), int(b.max()), int(b.sum()))
    return stats, total
