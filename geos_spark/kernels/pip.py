"""Vectorized ray-crossing point-in-polygon location.

Semantics match GEOS ``RayCrossingCounter``
(``src/algorithm/RayCrossingCounter.cpp:130-192,296-310``): a
horizontal ray east from the test point; crossing parity; an upward
edge includes its start and excludes its end (downward edges the
opposite); a point on a segment -> BOUNDARY; odd crossings ->
INTERIOR. Multi-ring (shell + holes) location follows
``SimplePointInAreaLocator``: parity is accumulated across all rings,
boundary on any ring wins.

The kernel is vectorized over a (pair x segment) expansion: each
(point, polygon) candidate pair is expanded to its polygon's segments,
all rules evaluate as numpy boolean algebra, and results aggregate by
pair with bincount. This is the engine's equivalent of GEOS's
"prepared geometry" hot loop, batched.

Location codes follow GEOS ``geom::Location``: INTERIOR=0, BOUNDARY=1,
EXTERIOR=2.
"""

from __future__ import annotations

import numpy as np

from geos_spark.kernels.orientation import orientation_index

INTERIOR = np.uint8(0)
BOUNDARY = np.uint8(1)
EXTERIOR = np.uint8(2)


class PolygonPack:
    """A batch of polygons as flat ring buffers (GeoArrow-style).

    coords: (P, 2) float64 — ring vertices, rings closed (first==last)
    ring_offsets: (R+1,) int64 — ring i is coords[ro[i]:ro[i+1]]
    ring_poly: (R,) int64 — owning polygon index (rings grouped by poly)
    n_polys: int
    """

    __slots__ = (
        "coords", "ring_offsets", "ring_poly", "n_polys",
        "seg_x1", "seg_y1", "seg_x2", "seg_y2", "seg_poly",
        "poly_seg_offsets", "bbox",
        "stripe_h", "stripe_y0", "stripe_n", "poly_stripe_offsets",
        "stripe_seg_offsets", "stripe_seg_idx",
    )

    def __init__(self, coords, ring_offsets, ring_poly, n_polys):
        self.coords = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
        self.ring_offsets = np.asarray(ring_offsets, dtype=np.int64)
        self.ring_poly = np.asarray(ring_poly, dtype=np.int64)
        self.n_polys = int(n_polys)
        self._build_segments()
        self._build_stripes()

    def _build_segments(self) -> None:
        ro = self.ring_offsets
        n_pts = len(self.coords)
        if n_pts == 0:
            z = np.zeros(0, dtype=np.float64)
            self.seg_x1 = self.seg_y1 = self.seg_x2 = self.seg_y2 = z
            self.seg_poly = np.zeros(0, dtype=np.int64)
            self.poly_seg_offsets = np.zeros(self.n_polys + 1, dtype=np.int64)
            self.bbox = np.zeros((self.n_polys, 4), dtype=np.float64)
            return
        # a segment starts at every coord except each ring's last
        starts = np.ones(n_pts, dtype=bool)
        starts[ro[1:] - 1] = False
        idx = np.flatnonzero(starts)
        self.seg_x1 = self.coords[idx, 0]
        self.seg_y1 = self.coords[idx, 1]
        self.seg_x2 = self.coords[idx + 1, 0]
        self.seg_y2 = self.coords[idx + 1, 1]
        ring_sizes = np.diff(ro)
        seg_ring = np.repeat(np.arange(len(ring_sizes)), np.maximum(ring_sizes - 1, 0))
        self.seg_poly = self.ring_poly[seg_ring]
        # rings are grouped by polygon -> segments already poly-sorted
        seg_counts = np.bincount(self.seg_poly, minlength=self.n_polys)
        self.poly_seg_offsets = np.concatenate(
            ([0], np.cumsum(seg_counts))
        ).astype(np.int64)
        # per-polygon bbox
        pt_poly = self.ring_poly[
            np.repeat(np.arange(len(ring_sizes)), ring_sizes)
        ]
        bbox = np.empty((self.n_polys, 4), dtype=np.float64)
        bbox[:, 0] = np.full(self.n_polys, np.inf)
        bbox[:, 1] = np.full(self.n_polys, np.inf)
        bbox[:, 2] = np.full(self.n_polys, -np.inf)
        bbox[:, 3] = np.full(self.n_polys, -np.inf)
        np.minimum.at(bbox[:, 0], pt_poly, self.coords[:, 0])
        np.minimum.at(bbox[:, 1], pt_poly, self.coords[:, 1])
        np.maximum.at(bbox[:, 2], pt_poly, self.coords[:, 0])
        np.maximum.at(bbox[:, 3], pt_poly, self.coords[:, 1])
        self.bbox = bbox

    def _build_stripes(self) -> None:
        """Per-polygon 1-D y-interval index (the vectorized analogue
        of IndexedPointInAreaLocator's SortedPackedIntervalRTree,
        src/algorithm/locate/IndexedPointInAreaLocator.cpp:74-118 +
        src/index/intervalrtree/SortedPackedIntervalRTree.cpp:50-101):
        the polygon's y-range is cut into ~n_segs/4 stripes and each
        segment is registered in every stripe its y-interval spans.
        A query point touches exactly one stripe, so the pair x segment
        expansion visits only segments whose y-interval can contain
        the point's y — every ray-crossing rule involves only such
        segments, so the restriction is exact."""
        n_segs = len(self.seg_x1)
        npo = self.n_polys
        if n_segs == 0:
            self.stripe_h = np.ones(npo)
            self.stripe_y0 = np.zeros(npo)
            self.stripe_n = np.ones(npo, dtype=np.int64)
            self.poly_stripe_offsets = np.arange(npo + 1, dtype=np.int64)
            self.stripe_seg_offsets = np.zeros(npo + 1, dtype=np.int64)
            self.stripe_seg_idx = np.zeros(0, dtype=np.int64)
            return
        seg_cnt = self.poly_seg_offsets[1:] - self.poly_seg_offsets[:-1]
        ns = np.clip(seg_cnt // 4, 1, 512).astype(np.int64)
        # stripes are cut on y / 2: halving is monotone, so a segment and
        # a point on it still meet in one stripe, and the difference of
        # two halved doubles cannot overflow, so a y-span wider than the
        # float range (-1e308 .. 1e308) keeps a finite stripe height
        y0 = self.bbox[:, 1] * 0.5
        h = (self.bbox[:, 3] * 0.5 - y0) / ns
        h = np.where(h > 0, h, 1.0)  # a subnormal span / ns can round to 0
        self.stripe_h = h
        self.stripe_y0 = y0
        self.stripe_n = ns
        pso = np.concatenate(([0], np.cumsum(ns))).astype(np.int64)
        self.poly_stripe_offsets = pso

        sp = self.seg_poly
        smin = np.minimum(self.seg_y1, self.seg_y2)
        smax = np.maximum(self.seg_y1, self.seg_y2)
        lo = np.clip(
            np.floor((smin * 0.5 - y0[sp]) / h[sp]).astype(np.int64),
            0,
            ns[sp] - 1,
        )
        hi = np.clip(
            np.floor((smax * 0.5 - y0[sp]) / h[sp]).astype(np.int64),
            0,
            ns[sp] - 1,
        )
        counts = hi - lo + 1
        total = int(counts.sum())
        seg_rep = np.repeat(np.arange(n_segs, dtype=np.int64), counts)
        cum = np.concatenate(([0], np.cumsum(counts)[:-1]))
        intra = np.arange(total, dtype=np.int64) - np.repeat(cum, counts)
        stripe_global = pso[sp[seg_rep]] + lo[seg_rep] + intra
        order = np.argsort(stripe_global, kind="stable")
        self.stripe_seg_idx = seg_rep[order]
        n_stripes = int(pso[-1])
        cnt = np.bincount(stripe_global, minlength=n_stripes)
        self.stripe_seg_offsets = np.concatenate(
            ([0], np.cumsum(cnt))
        ).astype(np.int64)

    @classmethod
    def from_rings(cls, polys: list[list[np.ndarray]]) -> "PolygonPack":
        """polys: list of polygons, each a list of (k,2) closed rings
        (shell first)."""
        coords = []
        ring_offsets = [0]
        ring_poly = []
        for pi, rings in enumerate(polys):
            for r in rings:
                r = np.asarray(r, dtype=np.float64).reshape(-1, 2)
                coords.append(r)
                ring_offsets.append(ring_offsets[-1] + len(r))
                ring_poly.append(pi)
        c = (
            np.concatenate(coords)
            if coords
            else np.zeros((0, 2), dtype=np.float64)
        )
        return cls(c, np.array(ring_offsets), np.array(ring_poly), len(polys))


def _expand_pairs(pack: PolygonPack, pair_poly: np.ndarray):
    """Expand (pair -> polygon) to flat (pair_rep, seg_idx) arrays."""
    counts = (
        pack.poly_seg_offsets[pair_poly + 1] - pack.poly_seg_offsets[pair_poly]
    )
    total = int(counts.sum())
    pair_rep = np.repeat(np.arange(len(pair_poly)), counts)
    # global segment index: running intra-pair index + polygon seg start
    cum = np.concatenate(([0], np.cumsum(counts)[:-1]))
    intra = np.arange(total, dtype=np.int64) - np.repeat(cum, counts)
    seg_idx = np.repeat(pack.poly_seg_offsets[pair_poly], counts) + intra
    return pair_rep, seg_idx


def locate_points(
    points: np.ndarray,
    pack: PolygonPack,
    pair_pt: np.ndarray,
    pair_poly: np.ndarray,
) -> np.ndarray:
    """Locate each (point, polygon) candidate pair.

    points: (N, 2) float64; pair_pt / pair_poly: (M,) index arrays.
    Returns (M,) uint8 Location codes.
    """
    n_pairs = len(pair_pt)
    if n_pairs == 0:
        return np.zeros(0, dtype=np.uint8)
    pair_poly = np.asarray(pair_poly, dtype=np.int64)
    pair_pt = np.asarray(pair_pt, dtype=np.int64)

    # stripe-restricted expansion: only the segments whose y-interval
    # stripe contains the query point's y (IndexedPointInAreaLocator)
    px_pair = points[pair_pt, 0]
    py_pair = points[pair_pt, 1]
    sy0 = pack.stripe_y0[pair_poly]
    sh = pack.stripe_h[pair_poly]
    sn = pack.stripe_n[pair_poly]
    # a point off the polygon's envelope, or with a NaN ordinate, is
    # exterior and visits no segment
    bb = pack.bbox[pair_poly]
    in_range = (
        (px_pair >= bb[:, 0])
        & (px_pair <= bb[:, 2])
        & (py_pair >= bb[:, 1])
        & (py_pair <= bb[:, 3])
    )
    # divide on in-range lanes only: with a subnormal stripe height the
    # quotient of a far-away point overflows
    q = np.divide(
        py_pair * 0.5 - sy0, sh, out=np.zeros(n_pairs), where=in_range
    )
    # the top edge (py == ymax) belongs to the last stripe
    stripe_local = np.clip(np.floor(q).astype(np.int64), 0, sn - 1)
    sid = pack.poly_stripe_offsets[pair_poly] + stripe_local
    counts = np.where(
        in_range,
        pack.stripe_seg_offsets[sid + 1] - pack.stripe_seg_offsets[sid],
        0,
    )
    total = int(counts.sum())
    pair_rep = np.repeat(np.arange(n_pairs), counts)
    cum = np.concatenate(([0], np.cumsum(counts)[:-1]))
    intra = np.arange(total, dtype=np.int64) - np.repeat(cum, counts)
    seg_idx = (
        pack.stripe_seg_idx[
            np.repeat(pack.stripe_seg_offsets[sid], counts) + intra
        ]
        if total
        else np.zeros(0, dtype=np.int64)
    )

    px = px_pair[pair_rep]
    py = py_pair[pair_rep]
    x1 = pack.seg_x1[seg_idx]
    y1 = pack.seg_y1[seg_idx]
    x2 = pack.seg_x2[seg_idx]
    y2 = pack.seg_y2[seg_idx]

    # rule 1: segment strictly left of the point -> irrelevant
    relevant = ~((x1 < px) & (x2 < px))

    # rule 2: point equals the segment's end vertex -> boundary
    on = (px == x2) & (py == y2)

    # rule 3: horizontal segment containing the point -> boundary
    horiz = (y1 == py) & (y2 == py)
    minx = np.minimum(x1, x2)
    maxx = np.maximum(x1, x2)
    on |= horiz & (px >= minx) & (px <= maxx)

    # rule 4: crossing candidates (one endpoint strictly above, other at/below)
    crossing_cand = relevant & ~horiz & (
        ((y1 > py) & (y2 <= py)) | ((y2 > py) & (y1 <= py))
    )
    cross = np.zeros(len(px), dtype=bool)
    if crossing_cand.any():
        ci = np.flatnonzero(crossing_cand)
        sign = orientation_index(
            x1[ci], y1[ci], x2[ci], y2[ci], px[ci], py[ci]
        ).astype(np.int64)
        on_seg = sign == 0
        on[ci[on_seg]] = True
        downward = y2[ci] < y1[ci]
        sign = np.where(downward, -sign, sign)
        cross[ci] = sign > 0

    # (GEOS applies rule 1 before rules 2/3, but a strictly-left segment
    # can satisfy neither p == p2 nor horizontal-containment, so no gate
    # is needed here.)

    on_any = np.zeros(n_pairs, dtype=bool)
    np.logical_or.at(on_any, pair_rep, on)
    crossings = np.bincount(pair_rep, weights=cross, minlength=n_pairs)

    loc = np.full(n_pairs, EXTERIOR, dtype=np.uint8)
    loc[(crossings.astype(np.int64) & 1) == 1] = INTERIOR
    loc[on_any] = BOUNDARY
    return loc


def locate_in_geoms(px, py, pack: PolygonPack, geom_offsets, codes) -> np.ndarray:
    """Location of point i in geometry ``codes[i]`` of a pack built by
    ``wkb.decode_polygons``: the (point x polygon) expansion over the
    geometry's packed polygons ``geom_offsets[c]..geom_offsets[c+1]``,
    then the min location over a multipolygon's parts (0 beats 1
    beats 2). Returns (N,) int32."""
    n = len(px)
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    pts = np.column_stack([np.asarray(px, np.float64), np.asarray(py, np.float64)])
    codes = np.asarray(codes, dtype=np.int64)
    counts = geom_offsets[codes + 1] - geom_offsets[codes]
    pair_rep = np.repeat(np.arange(n), counts)
    cum = np.concatenate(([0], np.cumsum(counts)[:-1]))
    intra = np.arange(int(counts.sum())) - np.repeat(cum, counts)
    poly_idx = np.repeat(geom_offsets[codes], counts) + intra
    loc = locate_points(pts, pack, pair_rep, poly_idx)
    out = np.full(n, EXTERIOR, dtype=np.int64)
    np.minimum.at(out, pair_rep, loc.astype(np.int64))
    return out.astype(np.int32)


def locate_point_in_ring(px: float, py: float, ring: np.ndarray) -> int:
    """Scalar single-ring location (test/reference path)."""
    pack = PolygonPack.from_rings([[ring]])
    return int(
        locate_points(
            np.array([[px, py]]), pack, np.array([0]), np.array([0])
        )[0]
    )
