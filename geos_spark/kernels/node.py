"""GEOSNode: node the linework of a geometry.

Reimplements the semantics of the reference's ``GEOSNode`` C-API entry
(``capi/geos_c.h.in:1107``, ``capi/geos_ts_c.cpp`` GEOSNode ->
``geos::noding::GeometryNoder::node``, ``src/noding/GeometryNoder.cpp``):

- extract every linear component (LineString parts and polygon rings)
  as a segment string;
- split every string at every intersection with any string (including
  itself) — proper crossings, endpoint-on-interior touches, and both
  endpoints of collinear overlaps all become nodes, while the trivial
  shared vertex of two ADJACENT segments of one string does not
  (IntersectionAdder::isTrivialIntersection);
- interior vertices that are not nodes stay interior
  (NodedSegmentString::addSplitEdges keeps the chain between nodes);
- duplicate noded strings are dissolved orientation-independently
  (SegmentStringDissolver / OrientedCoordinateArray), first one kept;
- created node coordinates get Z (and M) by averaging the interpolated
  ordinate from each parent segment where defined
  (LineIntersector zInterpolate semantics — oracle:
  tests/unit/capi/GEOSNodeTest.cpp cases 6-8: two Z lines crossing at
  z 0.5 / 7.5 node at z 4; a Z line x an M line nodes at z 0.5 m 7.5);
- curved types are rejected (GEOSNodeTest case 9 expects null).

Like the reference's IteratedNoder, the pass re-runs on its own output
until no new split is produced (rounding of a computed crossing can
expose a residual intersection), with a bounded iteration count —
non-convergence raises, which the column UDF surface nulls out
(GEOSNodeTest case 4 tolerates a noding failure).

Scale note: this is a per-row kernel (one geometry per call, envelope
x-sweep candidate generation instead of O(n^2) pair materialization);
corpus-scale linework arrangement goes through the overlay/coverage
operators, not here.
"""

from __future__ import annotations

import math

import numpy as np

from geos_spark.kernels import geom as G
from geos_spark.kernels.dd import segment_intersection_point
from geos_spark.kernels.orientation import orientation_index
from geos_spark.kernels.overlay import _overlap_pairs
from geos_spark.kernels.segments import (
    COLLINEAR_INTERSECTION,
    POINT_INTERSECTION,
    intersect_pairs,
)

_NAN = float("nan")
_MAX_ITER = 6

_CURVED = {
    G.CIRCULARSTRING,
    G.COMPOUNDCURVE,
    G.CURVEPOLYGON,
    G.MULTICURVE,
    G.MULTISURFACE,
}


class _NStr:
    """One segment string: coordinate list + parallel Z/M value lists
    (``None`` entries = ordinate undefined at that vertex).  The lists
    are always present so a node created on an XY-only string can
    still carry the Z/M interpolated from the OTHER parent string
    (GEOSNodeTest case 8: a Z line crossing an M line nodes at a
    shared ZM coordinate)."""

    __slots__ = ("xy", "zs", "ms")

    def __init__(self, xy, zs, ms):
        self.xy = xy  # list[(x, y)]
        self.zs = zs  # list[float | None]
        self.ms = ms


def _ords(side, n, i):
    if side is None:
        return None
    v = float(side[i])
    return None if math.isnan(v) else v


def _extract_strings(g: G.Geom) -> tuple[list[_NStr], bool, bool]:
    """Linework of ``g`` as segment strings (SegmentStringUtil::
    extractSegmentStrings: line parts + polygon rings; points ignored;
    curved types unsupported)."""
    out: list[_NStr] = []
    decl = [False, False]  # input declares Z / M

    def seq(coords, zs, ms):
        pts, zl, ml = [], [], []
        for i in range(len(coords)):
            p = (float(coords[i, 0]), float(coords[i, 1]))
            # collapse repeated consecutive points (the reference's
            # CoordinateSequence::removeRepeatedPoints pre-pass)
            if pts and p == pts[-1]:
                continue
            pts.append(p)
            zl.append(_ords(zs, len(coords), i))
            ml.append(_ords(ms, len(coords), i))
        if len(pts) < 2:
            return
        if zs is not None:
            decl[0] = True
        if ms is not None:
            decl[1] = True
        out.append(_NStr(pts, zl, ml))

    def walk(g: G.Geom):
        if g.type_id in _CURVED:
            raise ValueError("curved geometries are not supported by node")
        if g.type_id == G.LINESTRING:
            seq(g.data, g.zs, g.ms)
        elif g.type_id == G.POLYGON:
            for ri, r in enumerate(g.data):
                seq(
                    r,
                    g.zs[ri] if g.zs is not None else None,
                    g.ms[ri] if g.ms is not None else None,
                )
        elif isinstance(g.data, list) and g.type_id not in (
            G.POINT,
            G.MULTIPOINT,
        ):
            for c in g.data:
                walk(c)
        elif g.type_id == G.MULTIPOINT:
            pass  # points contribute no linework
        # POINT: no linework

    walk(g)
    return out, decl[0], decl[1]


def _interp(a: float | None, b: float | None, t: float) -> float | None:
    if a is None or b is None:
        return None
    if math.isnan(a) or math.isnan(b):
        return _NAN
    return a + t * (b - a)


def _param(p, q, pt) -> float:
    dx, dy = q[0] - p[0], q[1] - p[1]
    if abs(dx) >= abs(dy):
        return (pt[0] - p[0]) / dx if dx != 0.0 else 0.0
    return (pt[1] - p[1]) / dy


class _OrdAcc:
    """Per-node-point Z/M accumulator (LineIntersector zInterpolate:
    the node ordinate is the mean of the defined per-segment values)."""

    __slots__ = ("zsum", "zcnt", "msum", "mcnt")

    def __init__(self):
        self.zsum = 0.0
        self.zcnt = 0
        self.msum = 0.0
        self.mcnt = 0

    def add(self, z, m):
        if z is not None and not math.isnan(z):
            self.zsum += z
            self.zcnt += 1
        if m is not None and not math.isnan(m):
            self.msum += m
            self.mcnt += 1

    def zval(self):
        return self.zsum / self.zcnt if self.zcnt else None

    def mval(self):
        return self.msum / self.mcnt if self.mcnt else None


def _node_pass(strings: list[_NStr]) -> tuple[list[_NStr], bool]:
    """One noding round: returns (split strings, whether any split
    happened)."""
    segs = []  # rows (x0, y0, x1, y1)
    who = []  # (string_idx, seg_idx)
    nseg = []
    for si, s in enumerate(strings):
        nseg.append(len(s.xy) - 1)
        for i in range(len(s.xy) - 1):
            p, q = s.xy[i], s.xy[i + 1]
            segs.append((p[0], p[1], q[0], q[1]))
            who.append((si, i))
    if len(segs) < 2:
        return strings, False

    arr = np.asarray(segs, dtype=np.float64)
    ii, jj = _overlap_pairs(arr)
    if len(ii) == 0:
        return strings, False
    cls = intersect_pairs(arr[ii], arr[jj])
    hit = np.flatnonzero(cls)
    if len(hit) == 0:
        return strings, False
    A, B = arr[ii[hit]], arr[jj[hit]]
    o1 = orientation_index(A[:, 0], A[:, 1], A[:, 2], A[:, 3], B[:, 0], B[:, 1])
    o2 = orientation_index(A[:, 0], A[:, 1], A[:, 2], A[:, 3], B[:, 2], B[:, 3])
    o3 = orientation_index(B[:, 0], B[:, 1], B[:, 2], B[:, 3], A[:, 0], A[:, 1])
    o4 = orientation_index(B[:, 0], B[:, 1], B[:, 2], B[:, 3], A[:, 2], A[:, 3])

    # per-string node positions: si -> {pos: (x, y)}; pos = seg + t
    splits: dict[int, dict[float, tuple]] = {}
    ords: dict[tuple, _OrdAcc] = {}

    def seg_ords(si: int, i: int, t: float):
        s = strings[si]
        return (
            _interp(s.zs[i], s.zs[i + 1], t),
            _interp(s.ms[i], s.ms[i + 1], t),
        )

    def add_node(si: int, i: int, pt: tuple):
        s = strings[si]
        p, q = s.xy[i], s.xy[i + 1]
        if pt == p:
            t = 0.0
        elif pt == q:
            t = 1.0
        else:
            t = min(max(_param(p, q, pt), 0.0), 1.0)
        pos = i + t
        splits.setdefault(si, {})[pos] = pt
        acc = ords.setdefault(pt, _OrdAcc())
        acc.add(*seg_ords(si, i, t))

    for k, h in enumerate(hit):
        sa, ia = who[int(ii[h])]
        sb, ib = who[int(jj[h])]
        if cls[h] == POINT_INTERSECTION:
            pt = segment_intersection_point(
                strings[sa].xy[ia], strings[sa].xy[ia + 1],
                strings[sb].xy[ib], strings[sb].xy[ib + 1],
                int(o1[k]), int(o2[k]), int(o3[k]), int(o4[k]),
            )
            if sa == sb:
                # adjacent segments of one string sharing their vertex
                # (including the first and last segment of a closed
                # string at the closure vertex): trivial unless the
                # crossing is a genuine second point
                xy = strings[sa].xy
                if abs(ia - ib) == 1 and pt == xy[max(ia, ib)]:
                    continue
                if (
                    {ia, ib} == {0, nseg[sa] - 1}
                    and xy[0] == xy[-1]
                    and pt == xy[0]
                ):
                    continue
            add_node(sa, ia, pt)
            add_node(sb, ib, pt)
        elif cls[h] == COLLINEAR_INTERSECTION:
            # both endpoints of the shared extent become nodes on both
            pa = (strings[sa].xy[ia], strings[sa].xy[ia + 1])
            pb = (strings[sb].xy[ib], strings[sb].xy[ib + 1])
            for ep in pb:
                t = _param(*pa, ep)
                if 0.0 <= t <= 1.0:
                    add_node(sa, ia, ep)
                    add_node(sb, ib, ep)
            for ep in pa:
                t = _param(*pb, ep)
                if 0.0 <= t <= 1.0:
                    add_node(sb, ib, ep)
                    add_node(sa, ia, ep)

    # split each string at its node positions
    out: list[_NStr] = []
    changed = False
    for si, s in enumerate(strings):
        marks = splits.get(si)
        n = nseg[si]
        if not marks:
            out.append(s)
            continue
        # marks is keyed by pos, so a vertex node reached as t=1.0 of
        # seg k-1 and t=0.0 of seg k (identical float pos) is already
        # one entry, while one POINT occurring at several positions of
        # a self-intersecting string (GEOSNodeTest case 1) keeps all
        cuts = sorted(
            (pos, pt)
            for pos, pt in marks.items()
            if 1e-12 < pos < n - 1e-12
        )
        if not cuts:
            out.append(s)
            continue
        changed = True
        cur_xy = [s.xy[0]]
        cur_z = [s.zs[0]]
        cur_m = [s.ms[0]]

        def flush(start_xy, start_z, start_m):
            nonlocal cur_xy, cur_z, cur_m
            if len(cur_xy) >= 2:
                out.append(_NStr(cur_xy, cur_z, cur_m))
            cur_xy = [start_xy]
            cur_z = [start_z]
            cur_m = [start_m]

        ci = 0
        for i in range(n):
            # nodes inside segment i (fractional), in order
            while ci < len(cuts) and cuts[ci][0] < i + 1 - 1e-12:
                pos, pt = cuts[ci]
                ci += 1
                if pos <= i + 1e-12:
                    # node at vertex i (already the last emitted pt)
                    if len(cur_xy) >= 2:
                        flush(s.xy[i], s.zs[i], s.ms[i])
                    continue
                acc = ords.get(pt)
                z = acc.zval() if acc else None
                m = acc.mval() if acc else None
                if pt != cur_xy[-1]:
                    cur_xy.append(pt)
                    cur_z.append(z)
                    cur_m.append(m)
                flush(pt, z, m)
            nxt = s.xy[i + 1]
            if nxt != cur_xy[-1]:
                cur_xy.append(nxt)
                cur_z.append(s.zs[i + 1])
                cur_m.append(s.ms[i + 1])
        # node exactly at a trailing vertex position == endpoint: no cut
        if len(cur_xy) >= 2:
            out.append(_NStr(cur_xy, cur_z, cur_m))
    return out, changed


def _dissolve(strings: list[_NStr]) -> list[_NStr]:
    """Orientation-independent dedup (SegmentStringDissolver)."""
    seen = set()
    keep = []
    for s in strings:
        fwd = tuple(s.xy)
        rev = tuple(reversed(s.xy))
        key = min(fwd, rev)
        if key in seen:
            continue
        seen.add(key)
        keep.append(s)
    return keep


def node_geometry(g: G.Geom) -> G.Geom:
    """GEOSNode: fully noded, dissolved linework of ``g`` as a
    MultiLineString (LINESTRING EMPTY when there is none)."""
    strings, has_z, has_m = _extract_strings(g)
    if not strings:
        # computed results keep the input's srid (the reference builds
        # them with the input geometry's factory)
        return G.Geom(G.LINESTRING, np.zeros((0, 2)), srid=g.srid)
    for _ in range(_MAX_ITER):
        strings, changed = _node_pass(strings)
        if not changed:
            break
    else:
        raise ValueError("node: noding failed to converge")
    strings = _dissolve(strings)

    # a node created by a Z x M crossing can introduce the other
    # channel into a string that lacked it (GEOSNodeTest case 8)
    has_z = has_z or any(
        any(v is not None for v in s.zs) for s in strings
    )
    has_m = has_m or any(
        any(v is not None for v in s.ms) for s in strings
    )
    parts = []
    for s in strings:
        xy = np.asarray(s.xy, dtype=np.float64)
        zs = (
            np.asarray(
                [_NAN if v is None else v for v in s.zs], dtype=np.float64
            )
            if has_z
            else None
        )
        ms = (
            np.asarray(
                [_NAN if v is None else v for v in s.ms], dtype=np.float64
            )
            if has_m
            else None
        )
        parts.append(G.Geom(G.LINESTRING, xy, zs=zs, ms=ms))
    return G.Geom(G.MULTILINESTRING, parts, srid=g.srid)
