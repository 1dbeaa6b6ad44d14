#!/usr/bin/env python3
"""Seeded input generators for the benchmark, with their expected outputs.

Everything here is written from the documented input formats alone; it
imports nothing from ``pbf2json_spark`` and does not use
``pbf2json_spark.sources.synth``.  The one exception is the OSM oracle:
``tests/oracle.py:oracle_pipeline`` is the repository's reference model
of pbf2json, and its output is the expected OSM result.

Each input *part* (``geo``, ``content``, ``serve``) is generated into a
temporary directory, validated, and renamed into place, so a cached part
is either complete or absent.  Usage::

    python3 perfbench/gen.py --seed 7 --part geo --out perfbench/.work/inputs
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FORMAT_VERSION = 2
EARTH_RADIUS_M = 6378137.0

# ---------------------------------------------------------------------------
# sizes of every workload's inputs (fixed; only the seed varies)
# ---------------------------------------------------------------------------
GEO_POINTS = 12_000
GEO_POLYGONS = 40
GEO_QUERIES = 250
KNN_K = 10
OSM_NODES, OSM_WAYS, OSM_RELS = 2_500, 600, 100
OSM_TAG_SPEC = "building,highway+name,amenity~toilets,addr:housenumber"
CONTENT_IMAGES = 3_696
# distinct rasters: every (shape, format) pair POOL_VARIANTS times; each
# is used by the same number of image rows
IMAGE_SHAPES = ((64, 64), (96, 128), (128, 96), (128, 128), (160, 192), (192, 160),
                (224, 224), (256, 256))
POOL_VARIANTS = 7
CONTENT_FILES = 8
TILE_GRID = 4
MINHASH_TAU = 0.5
SERVE_POINTS = 12_000
SERVE_BATCHES = 8
SERVE_BATCH_QUERIES = 40
DUPLICATE_PHASH_FRAC = 0.01

# documented phash -> (lat, lon) derivation (FIXTURES.md section 1)
HOTSPOTS = np.array([
    (40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503),
    (-33.8688, 151.2093), (19.4326, -99.1332)])
HOTSPOT_FRACTION = 0.8
HOTSPOT_JITTER_DEG = 0.05
# zipf weights over the five hotspots (rank 1 gets the largest share)
HOTSPOT_ZIPF = 1.0 / np.arange(1, len(HOTSPOTS) + 1)

QDCT_STEP = 4.0
PIXEL_LO, PIXEL_HI = 40, 215

WORDS = ("river harbor street market tower bridge garden station museum park "
         "church castle beach island valley mountain lake forest city night "
         "morning sunset rain snow crowd festival train boat cafe library "
         "stadium square fountain statue temple palace alley roof window door "
         "light shadow red blue green golden old new quiet busy ancient modern "
         "little grand north south east west view walk across under").split()


# ---------------------------------------------------------------------------
# shared numeric helpers (also used by the checks)
# ---------------------------------------------------------------------------

def _splitmix64(x):
    with np.errstate(over="ignore"):
        z = np.asarray(x).astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(h):
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def geotag(phash):
    """(lat, lon, hotspot index or -1) of int64 phash values."""
    p = np.asarray(phash, dtype=np.int64).view(np.uint64)
    h1 = _splitmix64(p)
    u1 = _unit(h1)
    u2 = _unit(_splitmix64(p ^ np.uint64(0xDEADBEEFCAFEBABE)))
    u3 = _unit(_splitmix64(p ^ np.uint64(0x123456789ABCDEF0)))
    hot = u1 < HOTSPOT_FRACTION
    idx = (h1 % np.uint64(len(HOTSPOTS))).astype(np.int64)
    lat = np.where(hot, HOTSPOTS[idx, 0] + (u2 - 0.5) * 2 * HOTSPOT_JITTER_DEG,
                   -60.0 + 150.0 * u2)
    lon = np.where(hot, HOTSPOTS[idx, 1] + (u3 - 0.5) * 2 * HOTSPOT_JITTER_DEG,
                   -180.0 + 360.0 * u3)
    return lat, lon, np.where(hot, idx, -1)


def haversine_m(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
    return 2.0 * EARTH_RADIUS_M * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))


def topk_distances(qlat, qlon, plat, plon, k):
    """(Q, k) brute-force ascending haversine distances."""
    out = np.empty((len(qlat), k))
    for s in range(0, len(qlat), 64):
        d = haversine_m(qlat[s:s + 64, None], qlon[s:s + 64, None],
                        plat[None, :], plon[None, :])
        part = np.partition(d, k - 1, axis=1)[:, :k]
        out[s:s + 64] = np.sort(part, axis=1)
    return out


def unwrap_ring(lats, lons):
    """Ring longitudes made continuous (each edge the short way), so a
    ring that crosses the antimeridian becomes one plane polygon whose
    longitudes may leave [-180, 180]."""
    lo = np.asarray(lons, dtype=np.float64).copy()
    step = np.diff(lo)
    fix = np.concatenate(([0.0], np.cumsum(-360.0 * np.round(step / 360.0))))
    return np.asarray(lats, dtype=np.float64), lo + fix


def even_odd_contains(rlat, rlon, plat, plon):
    """Brute-force even-odd ray cast of points against one closed ring
    (already unwrapped); points are also tried at lon +- 360."""
    inside = np.zeros(len(plat), dtype=bool)
    for shift in (-360.0, 0.0, 360.0):
        x = plon + shift
        hit = np.zeros(len(plat), dtype=bool)
        for i in range(len(rlat) - 1):
            y1, x1, y2, x2 = rlat[i], rlon[i], rlat[i + 1], rlon[i + 1]
            if y1 == y2:
                continue
            crosses = (y1 > plat) != (y2 > plat)
            xint = x1 + (plat - y1) * (x2 - x1) / (y2 - y1)
            hit ^= crosses & (x < xint)
        inside |= hit
    return inside


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------

def _rng(seed: int, stream: int):
    return np.random.Generator(np.random.Philox(key=[seed, stream]))


def gen_phash(rng, n: int) -> np.ndarray:
    """int64 phash values whose derived geotags fall into the hotspots in
    zipf proportions (rejection on the hotspot index), plus a share of
    exact duplicates so distance ties occur."""
    keep = []
    w = HOTSPOT_ZIPF / HOTSPOT_ZIPF.max()
    have = 0
    while have < n:
        cand = rng.integers(-(1 << 63), (1 << 63) - 1, size=2 * n,
                            dtype=np.int64, endpoint=True)
        _, _, hot = geotag(cand)
        acc = np.where(hot < 0, True, rng.uniform(size=len(cand)) < w[hot])
        keep.append(cand[acc])
        have += int(acc.sum())
    ph = np.concatenate(keep)[:n]
    dup = rng.uniform(size=n) < DUPLICATE_PHASH_FRAC
    ph[dup] = ph[rng.integers(0, n, size=int(dup.sum()))]
    return ph


def gen_polygons(rng, n: int):
    """Star-shaped simple rings.  The make-up is the same for every seed:
    vertex counts log-spaced over 4..1024 (randomly assigned), one ring
    per hotspot (city scale), three that wrap the antimeridian, the rest
    region scale; only placement and shape depend on the seed."""
    counts = rng.permutation(np.geomspace(4, 1024, n).astype(int))
    n_hot, n_wrap = len(HOTSPOTS), 3
    scales = np.linspace(0.5, 8.0, n - n_hot - n_wrap)
    rows = []
    for k in range(n):
        if k < n_hot:
            clat, clon = HOTSPOTS[k]
            scale = 0.04
        elif k < n_hot + n_wrap:
            clat, clon = float(rng.uniform(-50, 60)), 180.0 - float(rng.uniform(-1, 1))
            scale = 4.0
        else:
            clat, clon = float(rng.uniform(-50, 70)), float(rng.uniform(-170, 170))
            scale = float(scales[k - n_hot - n_wrap])
        ang = np.unique(rng.uniform(0, 2 * np.pi, int(counts[k])))
        rad = rng.uniform(0.35 * scale, scale, len(ang))
        rla = clat + rad * np.sin(ang)
        rlo = clon + rad * np.cos(ang) / max(np.cos(np.radians(clat)), 0.3)
        rlo = (rlo + 180.0) % 360.0 - 180.0
        rla = np.append(rla, rla[0])
        rlo = np.append(rlo, rlo[0])
        rows.append((f"poly{k:04d}", rla, rlo))
    return rows


def gen_queries(rng, n: int, prefix: str):
    """n query points, exactly half of them near a hotspot."""
    hot = rng.permutation(np.arange(n) < n // 2)
    idx = rng.integers(0, len(HOTSPOTS), n)
    lat = np.where(hot, HOTSPOTS[idx, 0] + rng.normal(0, 0.05, n),
                   rng.uniform(-59, 59, n))
    lon = np.where(hot, HOTSPOTS[idx, 1] + rng.normal(0, 0.05, n),
                   rng.uniform(-179, 179, n))
    ids = [f"{prefix}{j:06d}" for j in range(n)]
    return ids, lat, lon


def _tags_type():
    return pa.map_(pa.string(), pa.string())


# Seed-independent entities appended to every OSM input: a two-node
# building way whose line centroid latitude is 48.85660025 in shortest
# decimal form.  The reference formats the exact binary value
# (48.856600249999...) as 48.8566002; a formatter that rounds the
# shortest decimal form half-up prints 48.8566003.  These rows make that
# divergence show on every seed instead of on some.
FIXED_NODES = ((1, 48.8566001, 2.3522001), (4, 48.8566004, 2.3522005))
FIXED_WAY = (2, [1, 4], {"building": "yes"})


def gen_osm(rng):
    """nodes/ways/relations in the reference's entity model: clustered
    nodes with entrance/wheelchair/amenity/address tags, ways with ~2%
    missing node refs, relations with missing way members, node and
    relation members and admin centres; plus FIXED_NODES and FIXED_WAY."""
    n_nodes, n_ways, n_rels = OSM_NODES, OSM_WAYS, OSM_RELS
    ids = np.arange(1, n_nodes + 1, dtype=np.int64) * 5 + 2
    centers = HOTSPOTS[:3]
    which = rng.integers(0, 4, n_nodes)
    c = np.minimum(which, 2)
    lat = np.round(np.where(which < 3, centers[c, 0] + rng.normal(0, 0.02, n_nodes),
                            rng.uniform(-60, 60, n_nodes)), 7)
    lon = np.round(np.where(which < 3, centers[c, 1] + rng.normal(0, 0.02, n_nodes),
                            rng.uniform(-179, 179, n_nodes)), 7)
    u = rng.uniform(size=n_nodes)
    node_tags = []
    for k in range(n_nodes):
        t = {}
        if u[k] < 0.05:
            t["entrance"] = ("main", "yes", "home", "staircase")[k % 4]
            if u[k] < 0.03:
                t["wheelchair"] = ("yes", "no", "limited")[k % 3]
        elif u[k] < 0.10:
            t["amenity"] = ("toilets", "cafe", "kindergarten")[k % 3]
            t["name"] = f"poi {k}"
        elif u[k] < 0.14:
            t["addr:housenumber"] = str(1 + k % 150)
        elif u[k] < 0.15:
            t[" building "] = " yes "
        node_tags.append(t)

    way_ids = np.arange(1, n_ways + 1, dtype=np.int64) * 7 + 3
    way_refs, way_tags = [], []
    for k in range(n_ways):
        npts = int(rng.integers(2, 14))
        lo = int(rng.integers(0, n_nodes - npts))
        refs = ids[lo:lo + npts].copy()
        rng.shuffle(refs)
        if npts >= 4 and rng.uniform() < 0.4:
            refs = np.append(refs, refs[0])
        if rng.uniform() < 0.02:
            refs[int(rng.integers(0, len(refs)))] = 9_000_000_000 + k
        way_refs.append(refs.tolist())
        t = {}
        uu = rng.uniform()
        if uu < 0.35:
            t["building"] = "yes"
        elif uu < 0.55:
            t["highway"] = "residential"
            t["name"] = f"way {k}"
        elif uu < 0.62:
            t["highway"] = "service"
        elif uu < 0.70:
            t["addr:housenumber"] = str(k % 300)
        way_tags.append(t)

    rel_ids = np.arange(1, n_rels + 1, dtype=np.int64) * 11 + 5
    rel_members, rel_tags = [], []
    for k in range(n_rels):
        members = []
        for m in range(int(rng.integers(0, 5))):
            wid = int(way_ids[int(rng.integers(0, n_ways))])
            if rng.uniform() < 0.05:
                wid = 9_500_000_000 + 10 * k + m
            members.append({"type": 1, "ref": wid,
                            "role": "outer" if m == 0 else "inner"})
        if rng.uniform() < 0.3:
            members.append({"type": 0, "ref": int(ids[int(rng.integers(0, n_nodes))]),
                            "role": "label"})
        if rng.uniform() < 0.1:
            members.append({"type": 2, "ref": int(rel_ids[int(rng.integers(0, n_rels))]),
                            "role": "subarea"})
        order = rng.permutation(len(members))
        members = [members[i] for i in order]
        t = {}
        uu = rng.uniform()
        if uu < 0.4:
            t["building"] = "yes"
            t["type"] = "multipolygon"
        elif uu < 0.6:
            t["boundary"] = "administrative"
            t["building"] = "civic"
            members.append({"type": 0, "ref": int(ids[int(rng.integers(0, n_nodes))]),
                            "role": "admin_centre"})
        elif uu < 0.8:
            t["highway"] = "pedestrian"
            t["name"] = f"square {k}"
        rel_members.append(members)
        rel_tags.append(t)

    ids = np.append(ids, [n[0] for n in FIXED_NODES])
    lat = np.append(lat, [n[1] for n in FIXED_NODES])
    lon = np.append(lon, [n[2] for n in FIXED_NODES])
    node_tags += [{} for _ in FIXED_NODES]
    way_ids = np.append(way_ids, FIXED_WAY[0])
    way_refs.append(FIXED_WAY[1])
    way_tags.append(FIXED_WAY[2])

    def maps(ts):
        return pa.array([list(t.items()) for t in ts], type=_tags_type())

    member_t = pa.list_(pa.struct([("type", pa.int8()), ("ref", pa.int64()),
                                   ("role", pa.string())]))
    nodes = pa.table({"id": ids, "lat": lat, "lon": lon, "tags": maps(node_tags)})
    ways = pa.table({"id": way_ids,
                     "refs": pa.array(way_refs, type=pa.list_(pa.int64())),
                     "tags": maps(way_tags)})
    rels = pa.table({"id": rel_ids, "members": pa.array(rel_members, type=member_t),
                     "tags": maps(rel_tags)})
    return nodes, ways, rels


# --- images ----------------------------------------------------------------

def _dct8() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix."""
    k = np.arange(8)[:, None]
    i = np.arange(8)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / 16.0) * np.sqrt(2.0 / 8)
    m[0, :] = 1.0 / np.sqrt(8.0)
    return m


_D8 = _dct8()


def encode(px: np.ndarray, fmt: str) -> bytes:
    """Payload in the documented formats: 4-byte magic, big-endian u16
    width and height, then raw RGB bytes, (run, value) byte pairs, or
    per-channel 8x8 DCT coefficients quantized by QDCT_STEP (int16)."""
    h, w = px.shape[:2]
    if fmt == "raw":
        return b"PBR1" + struct.pack(">HH", w, h) + px.tobytes()
    if fmt == "rle":
        flat = px.reshape(-1)
        starts = np.concatenate(([0], np.nonzero(np.diff(flat))[0] + 1))
        runs = np.diff(np.append(starts, flat.size))
        vals = flat[starts]
        pieces = -(-runs // 255)
        rv = np.repeat(vals, pieces)
        rl = np.full(int(pieces.sum()), 255, dtype=np.int64)
        ends = np.cumsum(pieces) - 1
        rl[ends] = runs - 255 * (pieces - 1)
        pairs = np.stack([rl.astype(np.uint8), rv], axis=1)
        return b"PBL1" + struct.pack(">HH", w, h) + pairs.tobytes()
    d = _D8
    coefs = []
    for c in range(3):
        ch = px[:, :, c].astype(np.float64) - 128.0
        blocks = ch.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        coefs.append(np.round((d @ blocks @ d.T) / QDCT_STEP).astype(np.int16).reshape(-1))
    return b"PBQ1" + struct.pack(">HH", w, h) + np.concatenate(coefs).tobytes()


def gen_pixels(rng, w: int, h: int) -> np.ndarray:
    """Piecewise-flat patches (so rle compresses) over a gradient, with
    noise on a third of the images; values stay inside
    [PIXEL_LO, PIXEL_HI] so the qdct round trip never clips."""
    s = int(rng.choice([4, 8, 16]))
    base = rng.uniform(70, 185, size=(-(-h // s), -(-w // s), 3))
    img = np.repeat(np.repeat(base, s, axis=0), s, axis=1)[:h, :w]
    if rng.uniform() < 0.5:
        gy = np.linspace(-1, 1, h)[:, None, None] * rng.uniform(0, 20)
        img = img + np.round(gy)
    if rng.uniform() < 0.33:
        img = img + rng.normal(0, 4, size=img.shape)
    return np.clip(np.round(img), PIXEL_LO, PIXEL_HI).astype(np.uint8)


def block_means(px: np.ndarray, grid: int) -> np.ndarray:
    g = px.astype(np.float64).mean(axis=2)
    h, w = g.shape
    bh, bw = h // grid, w // grid
    return g[:bh * grid, :bw * grid].reshape(grid, bh, grid, bw).mean(axis=(1, 3)).reshape(-1)


def gen_captions(rng, n: int):
    """Captions of 8-20 words; 4% are exact copies of an earlier caption
    and 6% near copies (one word replaced or appended), at random rows."""
    kind = np.zeros(n, dtype=np.int8)
    planted = rng.choice(np.arange(10, n), size=n // 10, replace=False)
    kind[planted[:n // 25]] = 1
    kind[planted[n // 25:]] = 2
    caps = []
    exact_of = {}
    near_of = {}
    for j in range(n):
        if kind[j] == 1:
            src = int(rng.integers(0, j))
            caps.append(caps[src])
            exact_of[j] = src
        elif kind[j] == 2:
            src = int(rng.integers(0, j))
            words = caps[src].split(" ")
            if rng.uniform() < 0.5:
                words = words + [WORDS[int(rng.integers(0, len(WORDS)))]]
            else:
                words[int(rng.integers(0, len(words)))] = f"w{j}"
            caps.append(" ".join(words))
            near_of[j] = src
        else:
            nw = int(rng.integers(8, 21))
            caps.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), nw)))
    return caps, exact_of, near_of


# ---------------------------------------------------------------------------
# parts
# ---------------------------------------------------------------------------

def _write_points(d, rng, n):
    ph = gen_phash(rng, n)
    ids = [f"p{j:07d}" for j in range(n)]
    pq.write_table(pa.table({"image_id": ids, "phash": ph}),
                   os.path.join(d, "points.parquet"))
    lat, lon, _ = geotag(ph)
    return ids, ph, lat, lon


def make_geo(d, seed):
    rng = _rng(seed, 1)
    ids, _, lat, lon = _write_points(d, rng, GEO_POINTS)
    polys = gen_polygons(rng, GEO_POLYGONS)
    pq.write_table(pa.table({
        "poly_id": [p[0] for p in polys],
        "ring_lats": pa.array([p[1] for p in polys], type=pa.list_(pa.float64())),
        "ring_lons": pa.array([p[2] for p in polys], type=pa.list_(pa.float64())),
    }), os.path.join(d, "polygons.parquet"))
    pairs = []
    for pid, rla, rlo in polys:
        ula, ulo = unwrap_ring(rla, rlo)
        # bounding-box prefilter (lon also tried at +-360, as the ray cast does)
        near = (lat >= ula.min()) & (lat <= ula.max()) & np.any(
            [(lon + s >= ulo.min()) & (lon + s <= ulo.max()) for s in (-360.0, 0.0, 360.0)],
            axis=0)
        idx = np.nonzero(near)[0]
        inside = even_odd_contains(ula, ulo, lat[idx], lon[idx])
        pairs += [(pid, ids[i]) for i in idx[inside]]
    qids, qlat, qlon = gen_queries(rng, GEO_QUERIES, "q")
    pq.write_table(pa.table({"left_id": qids, "lat": qlat, "lon": qlon}),
                   os.path.join(d, "queries.parquet"))
    np.save(os.path.join(d, "knn_join_topk.npy"),
            topk_distances(qlat, qlon, lat, lon, KNN_K))
    nodes, ways, rels = gen_osm(rng)
    for name, t in (("nodes", nodes), ("ways", ways), ("relations", rels)):
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    with open(os.path.join(d, "osm_expected.json"), "w") as f:
        json.dump(osm_oracle(nodes, ways, rels), f, sort_keys=True)
    return {"points": GEO_POINTS, "polygons": GEO_POLYGONS,
            "vertices": int(sum(len(p[1]) for p in polys)),
            "pip_pairs": sorted(pairs), "queries": GEO_QUERIES,
            "osm_rows": OSM_NODES + OSM_WAYS + OSM_RELS + len(FIXED_NODES) + 1}


def osm_oracle(nodes, ways, rels) -> dict:
    """gid -> record from tests/oracle.py, the reference model."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from tests.oracle import oracle_pipeline
    n = nodes.to_pandas()
    n["tags"] = n["tags"].map(dict)
    w = ways.to_pandas()
    w["tags"] = w["tags"].map(dict)
    r = rels.to_pandas()
    r["tags"] = r["tags"].map(dict)
    return oracle_pipeline(n, w, r, OSM_TAG_SPEC)


def make_content(d, seed):
    rng = _rng(seed, 2)
    n = CONTENT_IMAGES
    caps, exact_of, near_of = gen_captions(rng, n)
    ph = gen_phash(rng, n)
    pool = []
    for w, h in IMAGE_SHAPES:
        for fmt in ("raw", "rle", "qdct"):
            for _ in range(POOL_VARIANTS):
                px = gen_pixels(rng, w, h)
                pool.append((w, h, fmt, encode(px, fmt),
                             float(block_means(px, TILE_GRID).sum()), px.size))
    use = rng.permutation(np.arange(n) % len(pool))
    exact_sum = qdct_sum = 0.0
    n_qdct_blocks = pixel_bytes = 0
    per_file = -(-n // CONTENT_FILES)
    os.makedirs(os.path.join(d, "images"))
    for f in range(CONTENT_FILES):
        cols = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
        for j in range(f * per_file, min(n, (f + 1) * per_file)):
            w, h, fmt, payload, s, size = pool[use[j]]
            if fmt == "qdct":
                qdct_sum += s
                n_qdct_blocks += TILE_GRID * TILE_GRID
            else:
                exact_sum += s
            pixel_bytes += size
            for k, v in (("image_id", f"img{j:07d}"), ("bytes", payload),
                         ("w", w), ("h", h), ("fmt", fmt), ("caption", caps[j]),
                         ("phash", int(ph[j]))):
                cols[k].append(v)
        pq.write_table(pa.table({
            "image_id": cols["image_id"], "bytes": pa.array(cols["bytes"], pa.binary()),
            "w": pa.array(cols["w"], pa.int32()), "h": pa.array(cols["h"], pa.int32()),
            "fmt": cols["fmt"], "caption": cols["caption"],
            "phash": pa.array(cols["phash"], pa.int64())}),
            os.path.join(d, "images", f"part-{f:03d}.parquet"))
    return {"images": n, "exact_intensity_sum": exact_sum,
            "qdct_intensity_sum": qdct_sum, "qdct_blocks": n_qdct_blocks,
            "pixel_bytes": pixel_bytes,
            "exact_dups": {f"img{k:07d}": f"img{v:07d}" for k, v in exact_of.items()},
            "near_dups": {f"img{k:07d}": f"img{v:07d}" for k, v in near_of.items()}}


def make_serve(d, seed):
    rng = _rng(seed, 3)
    _, _, lat, lon = _write_points(d, rng, SERVE_POINTS)
    batches = [gen_queries(rng, SERVE_BATCH_QUERIES, f"s{b}-") for b in range(SERVE_BATCHES)]
    qids = [q for b in batches for q in b[0]]
    qlat = np.concatenate([b[1] for b in batches])
    qlon = np.concatenate([b[2] for b in batches])
    pq.write_table(pa.table({"query_id": qids, "lat": qlat, "lon": qlon}),
                   os.path.join(d, "queries.parquet"))
    np.save(os.path.join(d, "knn_topk.npy"), topk_distances(qlat, qlon, lat, lon, KNN_K))
    return {"points": SERVE_POINTS, "batches": SERVE_BATCHES,
            "batch_queries": SERVE_BATCH_QUERIES}


PARTS = {"geo": make_geo, "content": make_content, "serve": make_serve}


def _files(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, d)] = os.path.getsize(p)
    return out


def validate(d: str) -> dict:
    """The part's manifest, after checking every listed file is present
    with its recorded size and every parquet file's recorded row count."""
    with open(os.path.join(d, "MANIFEST.json")) as f:
        man = json.load(f)
    if man.get("version") != FORMAT_VERSION:
        raise ValueError(f"{d}: manifest version {man.get('version')}")
    for rel, size in man["files"].items():
        p = os.path.join(d, rel)
        if os.path.getsize(p) != size:
            raise ValueError(f"{p}: size {os.path.getsize(p)} != {size}")
        if rel.endswith(".parquet") and pq.ParquetFile(p).metadata.num_rows != man["rows"][rel]:
            raise ValueError(f"{p}: row count differs from manifest")
    return man


def ensure(part: str, seed: int, root: str) -> tuple[str, dict]:
    """(directory, manifest) of a validated cached part, generating it
    into a temporary directory and renaming it into place if absent."""
    d = os.path.join(root, f"v{FORMAT_VERSION}", f"seed-{seed}", part)
    if not os.path.isdir(d):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        info = PARTS[part](tmp, seed)
        files = _files(tmp)
        rows = {rel: pq.ParquetFile(os.path.join(tmp, rel)).metadata.num_rows
                for rel in files if rel.endswith(".parquet")}
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            json.dump({"version": FORMAT_VERSION, "seed": seed, "part": part,
                       "files": files, "rows": rows, "info": info}, f)
        validate(tmp)
        try:
            os.rename(tmp, d)
        except OSError:  # another run renamed the same part first
            shutil.rmtree(tmp, ignore_errors=True)
    return d, validate(d)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--part", choices=sorted(PARTS), action="append", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    for part in a.part:
        d, man = ensure(part, a.seed, a.out)
        print(d, json.dumps({k: v for k, v in man["info"].items()
                             if not isinstance(v, (list, dict))}))


if __name__ == "__main__":
    main()
