"""Independent checks of every benchmarked operation's output.

Each check recomputes the answer, or a property it must have, without
calling the program, and raises ``CheckFailed`` on a mismatch.  The
expected answers that need brute force are computed once per seed by
``gen.py`` and cached beside the inputs.
"""

from __future__ import annotations

import json
import re
from decimal import Decimal, InvalidOperation

import numpy as np

from gen import QDCT_STEP, TILE_GRID, geotag, haversine_m

# distance agreement between the program's JVM haversine and the numpy one
DIST_ABS_M = 1e-6
DIST_REL = 1e-9
# float32 block means of an exactly decoded image, per block
EXACT_BLOCK_TOL = 1e-3
# a qdct grid block is a union of whole 8x8 DCT blocks (image sides are
# multiples of 32, grid 4), so its mean is off by at most the DC
# quantization error (step / 2 on a DC term of 8 x mean) plus the
# rounding of each pixel to an integer; pixels stay clear of 0 and 255,
# so clipping adds nothing
QDCT_BLOCK_TOL = QDCT_STEP / 2 / 8 + 0.5


class CheckFailed(Exception):
    """The output is wrong."""


class KnownFault(Exception):
    """The output differs from the expected one only by a fault already
    known in the program: counted as a failed operation, not as a wrong
    output."""


def _require(cond, msg):
    if not cond:
        raise CheckFailed(msg)


def _cell_ij(cell):
    """(res, i, j) of the equirect Morton cell ids (res in bits 54+,
    j on even and i on odd Morton bits)."""
    c = np.asarray(cell, dtype=np.int64).view(np.uint64)
    res = (c >> np.uint64(54)).astype(np.int64)
    i = np.zeros(len(c), dtype=np.int64)
    j = np.zeros(len(c), dtype=np.int64)
    for b in range(27):
        j |= ((c >> np.uint64(2 * b)) & np.uint64(1)).astype(np.int64) << b
        i |= ((c >> np.uint64(2 * b + 1)) & np.uint64(1)).astype(np.int64) << b
    return res, i, j


def check_attach_geo(pdf, points_phash: dict, res_list):
    """Every point once, lat/lon from the documented phash derivation,
    and each cell_r{res} the equirect grid cell holding the point."""
    _require(len(pdf) == len(points_phash), f"{len(pdf)} rows, want {len(points_phash)}")
    _require(pdf["image_id"].is_unique, "duplicate image_id")
    ph = np.array([points_phash[i] for i in pdf["image_id"]], dtype=np.int64)
    _require((pdf["phash"].to_numpy() == ph).all(), "phash column changed")
    lat, lon, _ = geotag(ph)
    _require(np.array_equal(pdf["lat"].to_numpy(), lat), "lat differs from phash derivation")
    _require(np.array_equal(pdf["lon"].to_numpy(), lon), "lon differs from phash derivation")
    for r in res_list:
        res, i, j = _cell_ij(pdf[f"cell_r{r}"].to_numpy())
        wi = np.clip(np.floor((lat + 90.0) / 180.0 * (1 << r)), 0, (1 << r) - 1)
        wj = np.clip(np.floor(np.mod((lon + 180.0) / 360.0, 1.0) * (2 << r)), 0, (2 << r) - 1)
        _require((res == r).all(), f"cell_r{r} carries another resolution")
        _require((i == wi).all() and (j == wj).all(), f"cell_r{r} is not the point's cell")


def check_pip(pdf, want_pairs: set, points_phash: dict):
    got = list(zip(pdf["poly_id"], pdf["image_id"]))
    _require(len(got) == len(set(got)), "duplicate (poly_id, image_id) rows")
    got = set(got)
    _require(got == want_pairs,
             f"pair sets differ: {len(got - want_pairs)} extra, "
             f"{len(want_pairs - got)} missing of {len(want_pairs)}")
    lat, lon, _ = geotag(np.array([points_phash[i] for i in pdf["image_id"]], dtype=np.int64))
    _require(np.array_equal(pdf["lat"].to_numpy(), lat)
             and np.array_equal(pdf["lon"].to_numpy(), lon), "pair lat/lon differ")


def check_knn(pdf, qid_col, pid_col, queries, want_topk, point_latlon: dict, k: int):
    """Tie-aware top-k: per query exactly k distinct ids ranked 1..k,
    each id's reported distance equals its recomputed distance, and the
    sorted distances equal the brute-force top-k distances.  Any id set
    that achieves the top-k distances is accepted."""
    qids, qlat, qlon = queries
    _require(len(pdf) == len(qids) * k, f"{len(pdf)} rows, want {len(qids) * k}")
    pdf = pdf.sort_values([qid_col, "rank"])
    qpos = {q: n for n, q in enumerate(qids)}
    _require(set(pdf[qid_col]) == set(qids), "query id set differs")
    _require((pdf[qid_col].value_counts() == k).all(), "a query has other than k rows")
    qi = np.array([qpos[q] for q in pdf[qid_col]])
    plat = np.array([point_latlon[p][0] for p in pdf[pid_col]])
    plon = np.array([point_latlon[p][1] for p in pdf[pid_col]])
    d_true = haversine_m(qlat[qi], qlon[qi], plat, plon)
    dist = pdf["dist_m"].to_numpy()
    tol = DIST_ABS_M + DIST_REL * np.abs(d_true)
    _require((np.abs(dist - d_true) <= tol).all(), "reported distance differs from haversine")
    ranks = pdf["rank"].to_numpy().reshape(len(qids), k)
    _require((ranks == np.arange(1, k + 1)).all(), "ranks are not 1..k per query")
    pids = pdf[pid_col].to_numpy().reshape(len(qids), k)
    _require(all(len(set(r)) == k for r in pids), "repeated id within a query")
    want = want_topk[qi.reshape(len(qids), k)[:, 0]]
    got = np.sort(d_true.reshape(len(qids), k), axis=1)
    _require((np.abs(got - want) <= DIST_ABS_M + DIST_REL * want).all(),
             "top-k distances differ from brute force")


def check_tiles(pdf, info: dict, grid: int = TILE_GRID):
    g2 = grid * grid
    n_img = info["images"]
    _require(int(pdf["n_blocks"].sum()) == n_img * g2,
             f"{int(pdf['n_blocks'].sum())} blocks, want {n_img * g2}")
    _require(pdf["cell"].is_unique, "cell repeated")
    n_im = pdf["n_images"].to_numpy()
    _require(n_img <= n_im.sum() <= n_img * g2 and (n_im <= pdf["n_blocks"]).all(),
             "n_images out of range")
    got = float((pdf["avg_intensity"] * pdf["n_blocks"]).sum())
    want = info["exact_intensity_sum"] + info["qdct_intensity_sum"]
    exact_blocks = n_img * g2 - info["qdct_blocks"]
    tol = EXACT_BLOCK_TOL * exact_blocks + QDCT_BLOCK_TOL * info["qdct_blocks"]
    _require(abs(got - want) <= tol,
             f"intensity sum {got:.3f}, want {want:.3f} +- {tol:.3f}")


def shingles(text: str) -> set:
    """Distinct word trigrams of the lower-cased, whitespace-collapsed
    text; a text of fewer than three words is its own single shingle."""
    toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def check_minhash(pdf, captions: dict, info: dict, tau: float) -> float:
    """Every pair verified at >= tau with its reported Jaccard, every
    planted exact duplicate found; returns recall on planted near
    duplicates whose true Jaccard is >= tau."""
    got = set()
    sh = {}
    for a, b, jac in zip(pdf["doc_a"], pdf["doc_b"], pdf["jaccard"]):
        _require(a < b, f"pair ({a}, {b}) not ordered")
        _require((a, b) not in got, f"pair ({a}, {b}) repeated")
        got.add((a, b))
        sa = sh.setdefault(a, shingles(captions[a]))
        sb = sh.setdefault(b, shingles(captions[b]))
        true = len(sa & sb) / len(sa | sb)
        _require(abs(true - jac) <= 1e-8, f"({a}, {b}) jaccard {jac}, want {true}")
        _require(true >= tau, f"({a}, {b}) jaccard {true} below {tau}")
    for d, src in info["exact_dups"].items():
        _require((min(d, src), max(d, src)) in got, f"exact duplicate ({d}, {src}) missed")
    near = [(min(d, s), max(d, s)) for d, s in info["near_dups"].items()
            if captions[d] != captions[s]
            and len(shingles(captions[d]) & shingles(captions[s]))
            / len(shingles(captions[d]) | shingles(captions[s])) >= tau]
    return sum(p in got for p in near) / max(len(near), 1)


def _half_up_divergence(got, want) -> bool:
    """True if the two 7-decimal strings differ exactly as a half-up
    rounding of the shortest decimal form differs from the reference's
    rounding of the exact binary value: one unit in the 7th decimal,
    away from zero."""
    try:
        g, w = Decimal(got), Decimal(want)
    except (InvalidOperation, TypeError):
        return False
    return (g.as_tuple().exponent == w.as_tuple().exponent == -7
            and abs(g) - abs(w) == Decimal("1e-7"))


def _diff(got, want, path, divergent: list):
    if isinstance(want, dict) and isinstance(got, dict):
        _require(set(got) == set(want), f"{path}: keys {sorted(got)}, want {sorted(want)}")
        for k in want:
            _diff(got[k], want[k], f"{path}.{k}", divergent)
    elif got != want:
        _require(_half_up_divergence(got, want), f"{path}: got {got!r}, want {want!r}")
        divergent.append(path)


def check_osm(lines, want: dict):
    """The NDJSON records equal tests/oracle.py:oracle_pipeline's output.
    Raises KnownFault when the only differences are 7-decimal values
    rounded half-up from their shortest decimal form (the JVM
    format_string("%.7f") the program formats coordinates with) where the
    reference rounds the exact binary value."""
    got = {}
    for line in lines:
        rec = json.loads(line)
        gid = f"{rec['type']}:{rec['id']}"
        _require(gid not in got, f"duplicate gid {gid}")
        got[gid] = rec
    _require(set(got) == set(want),
             f"gid sets differ: {len(set(got) - set(want))} extra, "
             f"{len(set(want) - set(got))} missing")
    divergent = []
    for gid, rec in want.items():
        _diff(got[gid], rec, gid, divergent)
    if divergent:
        raise KnownFault(f"{len(divergent)} values rounded half-up, e.g. {divergent[:3]}")
