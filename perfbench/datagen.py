"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical parquet files. The library under test only ever
sees the files written here; the ground-truth objects returned next to
them feed the benchmark's own correctness checks.
"""

from __future__ import annotations

import math
import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# sql_analytics: the TPC-H-shaped star schema plus the events table, with
# the columns, row counts, key ranges and value domains of the repo's
# sf0.01 test tables.

STAR_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "red", "green", "small", "large", "black", "white", "gold"]
_NOUNS = ["anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US_PER_DAY = 86_400_000_000


def _days_us(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n).astype("int64") * _US_PER_DAY


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = STAR_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(_SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [
            f"{_COLORS[a]} {_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(_PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", o)),
        "o_orderpriority": rng.choice(_PRIORITIES, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", li)),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    gaps = rng.exponential(30 * _US_PER_DAY / e, e).astype("int64") + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(start + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": np.round(rng.uniform(0.01, 500.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    return t


def write_star(seed: int, out_dir: str) -> dict[str, int]:
    """One single-row-group parquet file per table, the layout the
    library's ``load_table`` reads. Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in star_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# --------------------------------------------------------------------------
# corpus_dedup: an English-like document corpus with planted byte-exact
# duplicates, case-variant duplicates, near-duplicate clusters and junk
# documents, plus the previously published release it is merged into.

CORPUS = {
    "base_docs": 300,
    "near_dup_share": 0.20,  # share of base docs that get 1-3 variants
    "exact_dup_share": 0.10,  # byte-identical copies (history screen)
    "case_dup_share": 0.05,  # upper-cased copies (canonical exact dedup)
    "junk_share": 0.05,  # low-quality documents (text filter)
    "batches": 1,  # streaming micro-batches (one input file each)
    "release_share": 0.30,  # docs in the previously published release
    "erase_keys": 5,  # released doc ids erased after publishing
}

EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]


@dataclass
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text) in ingest order
    junk_ids: set[int]
    batches: list[list[tuple[int, str]]]
    release_ids: list[int]  # doc ids of the previous release
    erase_ids: list[int]


def _word(rng) -> str:
    k = int(rng.integers(4, 9))
    return "".join(chr(97 + int(x)) for x in rng.integers(0, 26, k))


def corpus(seed: int, cfg: dict = CORPUS) -> Corpus:
    rng = np.random.default_rng([seed, 2])
    vocab = sorted({_word(rng) for _ in range(3000)})

    def clean_doc() -> list[str]:
        n = int(rng.integers(40, 81))
        return [
            EN_STOPWORDS[int(rng.integers(0, 10))]
            if rng.random() < 0.35
            else vocab[int(rng.integers(0, len(vocab)))]
            for _ in range(n)
        ]

    texts: list[str] = []
    junk: list[bool] = []
    for _ in range(cfg["base_docs"]):
        words = clean_doc()
        texts.append(" ".join(words))
        junk.append(False)
        if rng.random() < cfg["near_dup_share"]:
            for _ in range(int(rng.integers(1, 4))):
                v = list(words)
                for _ in range(2):  # two substitutions keep 3-gram J above 0.7
                    v[int(rng.integers(0, len(v)))] = vocab[
                        int(rng.integers(0, len(vocab)))
                    ]
                texts.append(" ".join(v))
                junk.append(False)
    n_base = len(texts)
    for i in range(n_base):
        r = rng.random()
        if r < cfg["exact_dup_share"]:
            texts.append(texts[i])
            junk.append(False)
        elif r < cfg["exact_dup_share"] + cfg["case_dup_share"]:
            texts.append(texts[i].upper())
            junk.append(False)
    n_junk = int(cfg["junk_share"] * len(texts))
    for _ in range(n_junk):
        k = int(rng.integers(3, 7))
        texts.append(" ".join(
            "".join(rng.choice(list("#$%&*+=!?"), int(rng.integers(2, 6))))
            for _ in range(k)
        ))
        junk.append(True)

    order = rng.permutation(len(texts))
    docs = [(int(i) + 1, texts[j]) for i, j in enumerate(order)]
    junk_ids = {int(i) + 1 for i, j in enumerate(order) if junk[j]}
    nb = cfg["batches"]
    batches = [docs[b::nb] for b in range(nb)]

    k = int(cfg["release_share"] * len(docs))
    release = sorted(int(docs[i][0]) for i in rng.choice(len(docs), k, replace=False))
    erase = sorted(int(i) for i in rng.choice(release, cfg["erase_keys"], replace=False))
    return Corpus(docs, junk_ids, batches, release, erase)


def write_corpus(c: Corpus, in_dir: str, release_dir: str) -> int:
    """Write one parquet file per micro-batch into ``in_dir`` (the
    stream source) and the previous release (in the published schema:
    every doc its own cluster). Returns the bytes of the micro-batch
    files."""
    os.makedirs(in_dir, exist_ok=True)
    total = 0
    for b, rows in enumerate(c.batches):
        path = os.path.join(in_dir, f"batch-{b:03d}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
        }), path)
        total += os.path.getsize(path)
    text_of = dict(c.docs)
    os.makedirs(release_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(c.release_ids, pa.int64()),
        "component": pa.array(c.release_ids, pa.int64()),
        "cluster_size": pa.array([1] * len(c.release_ids), pa.int64()),
        "text": [text_of[i] for i in c.release_ids],
    }), os.path.join(release_dir, "part-0.parquet"))
    return total


# --------------------------------------------------------------------------
# geo_publish: WKB/EWKB geometries in the type mix of the reference's 16
# named WKB cases plus their 5 EWKB variants, raster tiles as FAKM and
# GeoTIFF, and the delta batches of the publish cycle.

GEO = {
    "geoms": 2000,
    "tiles": 8,  # half FAKM, half GeoTIFF
    "tile_px": 32,
    "deltas": 1,
    "update_share": 0.10,  # of the published rows, per delta
    "delete_share": 0.05,
    "insert_share": 0.05,
    "erase_keys": 8,
}

_LE = 1
_SRID_FLAG = 0x20000000
_Z_FLAG = 0x80000000

# (base type, iso dims offset, ewkb?) — the 16 named cases, then the 5 EWKB
# variants (point, linestring, polygon, point Z, linestring Z)
_CASES = [
    ("point", 0, False), ("linestring", 0, False), ("polygon", 0, False),
    ("multipolygon", 0, False), ("circularstring", 0, False),
    ("compoundcurve", 0, False), ("curvepolygon", 0, False),
    ("multicurve", 0, False), ("multisurface", 0, False),
    ("point", 1000, False), ("linestring", 1000, False),
    ("point", 2000, False), ("point", 3000, False),
    ("point_empty", 0, False), ("polygon_empty", 0, False),
    ("linestring", 0, False),
    ("point", 0, True), ("linestring", 0, True), ("polygon", 0, True),
    ("point", 1000, True), ("linestring", 1000, True),
]


def _pack_pts(pts) -> bytes:
    return b"".join(struct.pack("<" + "d" * len(p), *p) for p in pts)


def _seq(pts) -> bytes:
    return struct.pack("<I", len(pts)) + _pack_pts(pts)


def _hdr(code: int) -> bytes:
    return struct.pack("<BI", _LE, code)


def _geom(kind: str, dims: int, ewkb: bool, x: float, y: float, rng) -> bytes:
    nd = {0: 2, 1000: 3, 2000: 3, 3000: 4}[dims]

    def pt(px, py):
        extra = tuple(float(v) for v in rng.integers(0, 100, nd - 2))
        return (px, py) + extra

    def ring(cx, cy, r):
        k = int(rng.integers(4, 9))
        pts = [
            (cx + r * math.cos(2 * math.pi * i / k),
             cy + r * math.sin(2 * math.pi * i / k))
            for i in range(k)
        ]
        return pts + [pts[0]]

    r = float(rng.uniform(1.0, 5.0))
    arc = [(x, y), (x + r, y + r), (x + 2 * r, y)]
    circle = [(x, y), (x + 2 * r, y), (x + 2 * r, y + 2 * r), (x, y + 2 * r), (x, y)]
    curvepoly = struct.pack("<I", 1) + _hdr(8) + _seq(circle)
    if kind == "point":
        body, code = _pack_pts([pt(x, y)]), 1
    elif kind == "linestring":
        body = _seq([pt(x + i, y + float(rng.uniform(-2, 2))) for i in range(int(rng.integers(2, 6)))])
        code = 2
    elif kind == "polygon":
        body, code = struct.pack("<I", 1) + _seq(ring(x, y, r)), 3
    elif kind == "multipolygon":
        body = struct.pack("<I", 2) + b"".join(
            _hdr(3) + struct.pack("<I", 1) + _seq(ring(x + 12 * i, y, r))
            for i in range(2)
        )
        code = 6
    elif kind == "circularstring":
        body, code = _seq(arc), 8
    elif kind == "compoundcurve":
        body = struct.pack("<I", 2) + _hdr(8) + _seq(arc) + _hdr(2) + _seq(
            [arc[-1], (arc[-1][0] + 1, arc[-1][1] + 5)]
        )
        code = 9
    elif kind == "curvepolygon":
        body, code = curvepoly, 10
    elif kind == "multicurve":
        body = struct.pack("<I", 2) + _hdr(2) + _seq([(x, y), (x + 1, y + 1)]) + _hdr(8) + _seq(
            [(x + 2, y + 2), (x + 3, y + 3), (x + 4, y + 2)]
        )
        code = 11
    elif kind == "multisurface":
        body, code = struct.pack("<I", 1) + _hdr(10) + curvepoly, 12
    elif kind == "point_empty":
        body, code = _pack_pts([(float("nan"), float("nan"))]), 1
    elif kind == "polygon_empty":
        body, code = struct.pack("<I", 0), 3
    else:  # pragma: no cover - table above is closed
        raise ValueError(kind)
    if ewkb:
        flag = _SRID_FLAG | (_Z_FLAG if dims == 1000 else 0)
        return struct.pack("<BII", _LE, code | flag, 25833) + body
    return _hdr(code + dims) + body


@dataclass
class GeoInputs:
    geoms: pa.Table  # geom_id, batch, update_type, wkb, poly, x, y, kommune
    tiles: pa.Table  # tile_id, raster
    erase_keys: list[int]
    n_batches: int


def _polys(rng, n: int) -> list[bytes]:
    out = []
    for _ in range(n):
        cx, cy = float(rng.uniform(0, 1000)), float(rng.uniform(0, 1000))
        k = int(rng.integers(3, 9))
        r = rng.uniform(5.0, 30.0, k)
        ang = np.sort(rng.uniform(0, 2 * math.pi, k))
        pts = [(cx + ri * math.cos(a), cy + ri * math.sin(a)) for ri, a in zip(r, ang)]
        out.append(_hdr(3) + struct.pack("<I", 1) + _seq(pts + [pts[0]]))
    return out


def _geo_rows(rng, ids: list[int], batch: int, update_types: list[str]) -> pa.Table:
    n = len(ids)
    xs = rng.uniform(0, 1000, n)
    ys = rng.uniform(0, 1000, n)
    kinds = rng.integers(0, len(_CASES), n)
    wkbs = [
        _geom(*_CASES[k], float(x), float(y), rng)
        for k, x, y in zip(kinds, xs, ys)
    ]
    return pa.table({
        "geom_id": pa.array(ids, pa.int64()),
        "batch": pa.array([batch] * n, pa.int32()),
        "update_type": update_types,
        "wkb": pa.array(wkbs, pa.binary()),
        "poly": pa.array(_polys(rng, n), pa.binary()),
        "x": np.round(xs + rng.uniform(-20, 20, n), 3),
        "y": np.round(ys + rng.uniform(-20, 20, n), 3),
        "kommune": pa.array(rng.integers(0, 40, n), pa.int32()),
    })


def geo_inputs(seed: int, cfg: dict = GEO) -> GeoInputs:
    """Batch 0 is the initial publish (all inserts); batches 1..deltas
    update, delete and insert the stated shares of the live rows."""
    from dask_felleskomponenter_spark.functions.multimodal import fakm_encode
    from dask_felleskomponenter_spark.functions.raster import geotiff_encode

    rng = np.random.default_rng([seed, 3])
    n = cfg["geoms"]
    parts = [_geo_rows(rng, list(range(n)), 0, ["insert"] * n)]
    live = list(range(n))
    next_id = n
    for b in range(1, cfg["deltas"] + 1):
        k_upd = int(cfg["update_share"] * len(live))
        k_del = int(cfg["delete_share"] * len(live))
        k_ins = int(cfg["insert_share"] * len(live))
        picked = rng.choice(len(live), k_upd + k_del, replace=False)
        upd = [live[i] for i in picked[:k_upd]]
        dele = [live[i] for i in picked[k_upd:]]
        ins = list(range(next_id, next_id + k_ins))
        next_id += k_ins
        parts.append(_geo_rows(
            rng, upd + dele + ins, b,
            ["update"] * len(upd) + ["delete"] * len(dele) + ["insert"] * len(ins),
        ))
        gone = set(dele)
        live = [g for g in live if g not in gone] + ins
    erase = sorted(
        int(live[i]) for i in rng.choice(len(live), cfg["erase_keys"], replace=False)
    )

    px = cfg["tile_px"]
    yy, xx = np.mgrid[0:px, 0:px]
    rasters = []
    for t in range(cfg["tiles"]):
        fx, fy = rng.uniform(0.05, 0.3, 2)
        grid = 127 + 120 * np.sin(fx * xx + rng.uniform(0, 6)) * np.cos(fy * yy)
        grid = np.clip(grid, 0, 255).astype("uint8")
        if t % 2 == 0:
            rasters.append(fakm_encode("i", px, px, 1, grid.tobytes()))
        else:
            gt = (float(t) * px, 1.0, 0.0, 0.0, 0.0, -1.0)
            rasters.append(geotiff_encode(grid, gt))
    tiles = pa.table({
        "tile_id": pa.array(range(cfg["tiles"]), pa.int64()),
        "raster": pa.array(rasters, pa.binary()),
    })
    return GeoInputs(pa.concat_tables(parts), tiles, erase, cfg["deltas"] + 1)
