"""Independent answers for the benchmark's output checks (numpy only).

Nothing here imports ``geos_spark``: the point-in-polygon answers come
from a plain even-odd ray-crossing test over the generated rings, and
the join fingerprint re-implements Spark's ``xxhash64`` for two longs,
so a wrong engine answer cannot be hidden by a shared bug.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow.parquet as pq

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_HASH_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """Spark's ``XXH64.hashLong`` (unsigned 64-bit wrap-around)."""
    h = seed + _P5 + np.uint64(8)
    h ^= _rotl(v * _P2, 31) * _P1
    h = _rotl(h, 27) * _P1 + _P4
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def xxhash64_pair(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``F.xxhash64(a, b)`` for two non-null int64 columns, as int64."""
    with np.errstate(over="ignore"):
        ua = np.asarray(a, np.int64).view(np.uint64)
        ub = np.asarray(b, np.int64).view(np.uint64)
        h = _hash_long(ua, np.full(ua.shape, SPARK_HASH_SEED, np.uint64))
        return _hash_long(ub, h).view(np.int64)


def fingerprint(point_ids: np.ndarray, poly_ids: np.ndarray) -> tuple[int, int]:
    """Order-independent (count, sum of xxhash64) of join pairs, the
    same numbers the engine side computes with ``count`` and an exact
    decimal ``sum``."""
    h = xxhash64_pair(point_ids, poly_ids)
    return len(h), int((h >> 32).sum()) * (1 << 32) + int((h & 0xFFFFFFFF).sum())


def read_rings(wkbs) -> list[np.ndarray]:
    """Decode the single-ring little-endian WKB polygons ``gen`` writes."""
    rings = []
    for w in wkbs:
        order, kind, n_rings, n = struct.unpack_from("<BIII", w, 0)
        if (order, kind, n_rings) != (1, 3, 1):
            raise ValueError("expected a one-ring little-endian polygon")
        rings.append(np.frombuffer(w, "<f8", 2 * n, 13).reshape(n, 2))
    return rings


def even_odd_pairs(
    x: np.ndarray, y: np.ndarray, rings: list[np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """(point index, ring index) of every point strictly inside a ring,
    by the even-odd rule: a point is inside when an odd number of edges
    with ``min(y1, y2) <= py < max(y1, y2)`` cross the ray to its left.
    Candidates are sorted by y, so each edge touches only the points in
    its own y-span."""
    order = np.argsort(x, kind="stable")
    xs = x[order]
    pts, polys = [], []
    for k, r in enumerate(rings):
        lo, hi = np.searchsorted(xs, [r[:, 0].min(), r[:, 0].max()])
        cand = order[lo:hi]
        cand = cand[(y[cand] >= r[:, 1].min()) & (y[cand] <= r[:, 1].max())]
        cand = cand[np.argsort(y[cand], kind="stable")]
        px, py = x[cand], y[cand]
        x1, y1, x2, y2 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        a = np.searchsorted(py, np.minimum(y1, y2))
        n = np.searchsorted(py, np.maximum(y1, y2)) - a
        # every (edge, candidate) pair whose candidate lies in the edge's y-span
        e = np.repeat(np.arange(len(n)), n)
        p = a[e] + np.arange(len(e)) - np.repeat(np.cumsum(n) - n, n)
        xcross = x1[e] + (py[p] - y1[e]) * (x2[e] - x1[e]) / (y2[e] - y1[e])
        odd = np.bincount(p[px[p] < xcross], minlength=len(cand)) % 2 == 1
        pts.append(cand[odd])
        polys.append(np.full(int(odd.sum()), k))
    if not pts:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(pts).astype(np.int64), np.concatenate(polys).astype(np.int64)


def pip_pairs(points_path: str, polygons_path: str) -> tuple[np.ndarray, np.ndarray]:
    """(point_id, poly_id) of every pair of the point/polygon join of
    one point input."""
    pt = pq.read_table(points_path)
    pg = pq.read_table(polygons_path)
    x, y = pt.column("x").to_numpy(), pt.column("y").to_numpy()
    pi, ri = even_odd_pairs(x, y, read_rings(pg.column("wkb").to_pylist()))
    return pt.column("point_id").to_numpy()[pi], pg.column("poly_id").to_numpy()[ri]


def pip_answer(points_path: str, polygons_path: str) -> tuple[int, int]:
    """Expected (count, hash sum) of the point/polygon join of one input."""
    return fingerprint(*pip_pairs(points_path, polygons_path))


def ring_area(ring: np.ndarray) -> float:
    """Shoelace area of a closed ring."""
    x, y = ring[:, 0], ring[:, 1]
    return float(abs(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])) / 2.0)
