"""Property tests (hypothesis) for the tile-key cell filter of the
spatial joins, on adversarial floating-point input: points exactly on
tile and sub-cell edges, one ulp either side of them, on the extent
edge and outside the extent, and zero-width boxes.

- Cell filter: every point inside a box (padded by d for the distance
  joins) shares a tile key with it, so the key equijoin plus the
  envelope filter returns exactly the brute-force (point, box) pairs.
- Joins: ``point_in_polygon_join`` (prepared dim with and without an
  id column, and the shuffle build) and
  ``polygon_join`` return exactly the brute-force rows over rectangle
  polygons, with no pair missing and none duplicated.
- Sub-cell masks of the prepared dim: no sub-cell an edge or a vertex
  touches is FULL or dropped, the masked join returns the exact
  rational oracle's rows at levels up to 16 (sub-cell level 19), and
  the point join's sub-cell-derived tile key is ``grid_xy``'s.
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_EXTENTS = [(0.0, 0.0, 4096.0, 4096.0), (-3.5, 1.25, 97.0, 50.3)]


def _axis(draw, lo: float, hi: float, n: int, span: int | None = None):
    """Coordinates along one axis: one tile or sub-cell edge (chosen
    per case, the extent edges included) and one ulp either side of
    it, any tile or sub-cell edge (a tile holds 8 x 8 sub-cells),
    points outside the extent and arbitrary points. With ``span``,
    the edges and arbitrary points fall in a window of that many
    sub-cells, at times across the extent edge, so that a high level
    keeps a small build side; its outside points are then just
    beyond the window."""
    stride = (hi - lo) / n
    s = stride / 8
    k0, k1 = 0, 8 * n
    if span is not None and span < 8 * n:
        k0 = draw(st.integers(-2, 8 * n - span + 2))
        k1 = k0 + span
    subs = [lo + k * s for k in range(k0, k1 + 1)]
    edges = [e for k, e in zip(range(k0, k1 + 1), subs) if k % 8 == 0] or subs
    e = draw(st.sampled_from(edges) | st.sampled_from(subs))
    near = [math.nextafter(e, -math.inf), e, math.nextafter(e, math.inf)]
    if span is None:
        outside = [lo - stride / 2, hi + stride / 2, lo - 3 * stride]
        anywhere = (lo - stride, hi + stride)
    else:
        outside = [subs[0] - s / 2, subs[-1] + s / 2]
        anywhere = (subs[0] - s, subs[-1] + s)
    return st.one_of(
        st.sampled_from(near),
        st.sampled_from(edges),
        st.sampled_from(subs),
        st.sampled_from(outside),
        st.floats(*anywhere, allow_nan=False),
    )


@st.composite
def _case(draw, min_side: float = 0.0):
    """(level, extent, d, points, boxes, other_boxes). A box side is
    zero-width at ``min_side`` 0 with some probability; every box
    corner is a point too."""
    level = draw(st.integers(1, 4))
    extent = draw(st.sampled_from(_EXTENTS))
    n = 1 << level
    xs = _axis(draw, extent[0], extent[2], n)
    ys = _axis(draw, extent[1], extent[3], n)
    points = draw(st.lists(st.tuples(xs, ys), min_size=1, max_size=25))

    def side(c):
        a = draw(c)
        if min_side == 0.0 and draw(st.booleans()):
            return a, a
        b = draw(c)
        if abs(b - a) <= min_side:
            b = a + max(min_side, 1.0)
        return min(a, b), max(a, b)

    def box_list():
        out = []
        for _ in range(draw(st.integers(1, 6))):
            x0, x1 = side(xs)
            y0, y1 = side(ys)
            out.append((x0, y0, x1, y1))
        return out

    boxes, others = box_list(), box_list()
    points += [(x, y) for x0, y0, x1, y1 in boxes for x in (x0, x1) for y in (y0, y1)]
    d = draw(st.sampled_from([0.0, 1.0, (extent[2] - extent[0]) / n]))
    return level, extent, d, points, boxes, others


def _points_df(spark, points):
    return spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(points)],
        "pid long, x double, y double",
    )


def _boxes_df(spark, boxes, prefix=""):
    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.wkb import write_wkb

    rows = [
        (
            i,
            write_wkb(
                Geom.polygon(
                    [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]
                )
            ),
            x0, y0, x1, y1,
        )
        for i, (x0, y0, x1, y1) in enumerate(boxes)
    ]
    p = prefix
    return spark.createDataFrame(
        rows,
        f"{p}poly_id long, {p}wkb binary, {p}xmin double, {p}ymin double,"
        f" {p}xmax double, {p}ymax double",
    )


def _pairs(df, a: str, b: str) -> list:
    return sorted((r[a], r[b]) for r in df.select(a, b).collect())


def _inside(points, boxes, d):
    """Brute force, in the engine's float arithmetic: (x >= xmin - d)
    and (x <= xmax + d) on both axes."""
    return sorted(
        (i, j)
        for i, (x, y) in enumerate(points)
        for j, (x0, y0, x1, y1) in enumerate(boxes)
        if x0 - d <= x <= x1 + d and y0 - d <= y <= y1 + d
    )


@_settings
@given(_case())
def test_tile_key_filter_keeps_every_inside_pair(spark, case):
    from geos_spark.functions.hilbert_native import (
        with_tile_key,
        with_tile_keys_exploded,
    )
    from geos_spark.operators.knn import within_distance_join

    level, extent, d, points, boxes, _ = case
    pts = with_tile_key(_points_df(spark, points), "x", "y", level, extent)
    bx = _boxes_df(spark, boxes).drop("wkb")
    keyed = with_tile_keys_exploded(
        bx, ("xmin", "ymin", "xmax", "ymax"), level, extent, pad=d
    )
    dl = F.lit(d)
    cand = pts.join(keyed, "__cell").where(
        (F.col("x") >= F.col("xmin") - dl)
        & (F.col("x") <= F.col("xmax") + dl)
        & (F.col("y") >= F.col("ymin") - dl)
        & (F.col("y") <= F.col("ymax") + dl)
    )
    assert _pairs(cand, "pid", "poly_id") == _inside(points, boxes, d)

    # zero-width boxes: the point-to-point distance join explodes
    # (bx, by, bx, by) padded by d
    centers = spark.createDataFrame(
        [(j, x0, y0) for j, (x0, y0, _, _) in enumerate(boxes)],
        "cid long, cx double, cy double",
    )
    got = within_distance_join(
        _points_df(spark, points), centers, d, level=level, extent=extent
    )
    want = sorted(
        (i, j)
        for i, (x, y) in enumerate(points)
        for j, (cx, cy, _, _) in enumerate(boxes)
        if (x - cx) ** 2 + (y - cy) ** 2 <= d * d
    )
    assert _pairs(got, "pid", "cid") == want


@_settings
@given(_case(min_side=1e-3))
def test_joins_return_exactly_the_brute_force_rows(spark, case):
    from geos_spark.operators.spatial_join import (
        point_in_polygon_join,
        polygon_join,
    )

    level, extent, _, points, boxes, others = case
    pts = _points_df(spark, points)
    polys = _boxes_df(spark, boxes)
    want = _inside(points, boxes, 0.0)
    for kw in ({}, {"poly_id_col": "poly_id"}, {"broadcast_build": False}):
        got = point_in_polygon_join(
            pts, polys, "intersects", level=level, extent=extent, **kw
        )
        assert _pairs(got, "pid", "poly_id") == want, kw

    got = polygon_join(
        polys,
        _boxes_df(spark, others, prefix="b"),
        "intersects",
        level=level,
        extent=extent,
    )
    want = sorted(
        (i, j)
        for i, (ax0, ay0, ax1, ay1) in enumerate(boxes)
        for j, (bx0, by0, bx1, by1) in enumerate(others)
        if ax0 <= bx1 and bx0 <= ax1 and ay0 <= by1 and by0 <= ay1
    )
    assert _pairs(got, "poly_id", "bpoly_id") == want


# ----------------------------------------------------------------------
# near-degenerate float polygons: batch join, stream join and an exact
# rational oracle must agree on every point location
# ----------------------------------------------------------------------

_INTERIOR, _BOUNDARY, _EXTERIOR = 0, 1, 2
_DEGEN_EXTENT = (0.0, 0.0, 64.0, 64.0)


def _exact_location(x: float, y: float, rings) -> int:
    """Even-odd ray crossing over every ring in exact rationals: on
    some edge -> boundary, else the parity of edges crossing the
    rightward ray (half-open in y)."""
    from fractions import Fraction as Q

    px, py = Q(x), Q(y)
    crossings = 0
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring, ring[1:]):
            ax, ay, bx, by = Q(ax), Q(ay), Q(bx), Q(by)
            if (
                (bx - ax) * (py - ay) == (by - ay) * (px - ax)
                and min(ax, bx) <= px <= max(ax, bx)
                and min(ay, by) <= py <= max(ay, by)
            ):
                return _BOUNDARY
            if (ay > py) != (by > py):
                if ax + (py - ay) * (bx - ax) / (by - ay) > px:
                    crossings += 1
    return _INTERIOR if crossings % 2 else _EXTERIOR


@st.composite
def _degenerate_case(draw):
    """(level, polygons, points). Polygons are triangles, trapezoids
    with horizontal top and bottom edges (optionally with a hole) and
    star-shaped rings, all with non-integer coordinates. Points sit on
    vertices, on horizontal edges, on a rightward ray through a vertex,
    on and beyond an edge's line (collinear), and one ulp either side
    of those in x and in y."""
    coord = st.floats(4.0, 60.0, allow_nan=False).map(lambda v: v + 0.1)
    polys = []
    for _ in range(draw(st.integers(1, 3))):
        kind = draw(st.sampled_from(["triangle", "trapezoid", "star"]))
        cx, cy = draw(coord), draw(coord)
        r = draw(st.floats(0.7, 9.3))
        if kind == "triangle":
            shell = [
                (cx + r * math.cos(a), cy + r * math.sin(a))
                for a in (0.3, 2.4, 4.4)
            ]
        elif kind == "trapezoid":
            dx = draw(st.floats(0.05, 0.45)) * r
            shell = [
                (cx - r, cy - r / 2), (cx + r, cy - r / 2),
                (cx + r - dx, cy + r / 2), (cx - r + dx, cy + r / 2),
            ]
        else:
            n = draw(st.integers(5, 9))
            shell = [
                (
                    cx + rr * math.cos(2 * math.pi * (k + 0.5) / n),
                    cy + rr * math.sin(2 * math.pi * (k + 0.5) / n),
                )
                for k, rr in enumerate(
                    draw(st.lists(st.floats(0.3 * r, r), min_size=n, max_size=n))
                )
            ]
        rings = [shell + shell[:1]]
        if kind == "trapezoid" and draw(st.booleans()):
            hole = [(cx + (x - cx) * 0.4, cy + (y - cy) * 0.4) for x, y in reversed(shell)]
            rings.append(hole + hole[:1])
        polys.append(rings)

    points = []
    for rings in polys:
        for ring in rings:
            for (ax, ay), (bx, by) in zip(ring, ring[1:]):
                t = draw(st.sampled_from([0.5, 0.25, 1.0 / 3.0]))
                on_edge = (ax + t * (bx - ax), ay + t * (by - ay))
                collinear = (ax + 1.5 * (bx - ax), ay + 1.5 * (by - ay))
                ray = (ax + draw(st.floats(-3.0, 3.0)), ay)
                for x, y in ((ax, ay), on_edge, collinear, ray):
                    points.append((x, y))
                    points += [
                        (math.nextafter(x, -math.inf), y),
                        (math.nextafter(x, math.inf), y),
                        (x, math.nextafter(y, -math.inf)),
                        (x, math.nextafter(y, math.inf)),
                    ]
    points = draw(st.permutations(points))[: draw(st.integers(20, 160))]
    return draw(st.integers(2, 4)), polys, points


def _rings_df(spark, polys):
    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.wkb import write_wkb

    rows = []
    for i, rings in enumerate(polys):
        xs = [x for x, _ in rings[0]]
        ys = [y for _, y in rings[0]]
        rows.append(
            (i, write_wkb(Geom.polygon(rings)), min(xs), min(ys), max(xs), max(ys))
        )
    return spark.createDataFrame(
        rows,
        "poly_id long, wkb binary, xmin double, ymin double, xmax double, ymax double",
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_degenerate_case())
def test_batch_and_stream_pip_agree_with_exact_oracle(spark, tmp_path_factory, case):
    from geos_spark.operators.spatial_join import point_in_polygon_join
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_pip_join,
    )

    level, polys, points = case
    want = sorted(
        (i, j, loc)
        for i, (x, y) in enumerate(points)
        for j, rings in enumerate(polys)
        if (loc := _exact_location(x, y, rings)) != _EXTERIOR
    )
    dim = _rings_df(spark, polys)
    pts = _points_df(spark, points)

    got = point_in_polygon_join(
        pts, dim, level=level, extent=_DEGEN_EXTENT,
        poly_id_col="poly_id", keep_location=True,
    )
    assert sorted(
        (r.pid, r.poly_id, r.location)
        for r in got.select("pid", "poly_id", "location").collect()
    ) == want

    src = str(tmp_path_factory.mktemp("degenerate_points"))
    pts.coalesce(1).write.mode("overwrite").parquet(src)
    out, _ = run_stream_to_memory(
        streaming_pip_join(
            read_documents_stream(spark, src), dim,
            level=level, extent=_DEGEN_EXTENT,
        ).select("pid", "poly_id"),
        spark,
        output_mode="append",
    )
    assert _pairs(out, "pid", "poly_id") == sorted((i, j) for i, j, _ in want)


# ----------------------------------------------------------------------
# sub-cell ALL / FULL masks of the prepared dim
# ----------------------------------------------------------------------


@st.composite
def _subcell_case(draw):
    """(level, extent, polygons, points) at levels 1-16 inside a window
    of a few tiles. Polygons are rectangles along sub-cell edges (some
    with a hole), triangles with vertices on sub-cell corners and
    trapezoids whose horizontal edges run along sub-cell centre rows.
    Points sit on every vertex, on edge midpoints, on sub-cell edges
    and corners, outside the extent, and one ulp either side of each
    in x and in y."""
    level = draw(st.integers(1, 16))
    extent = draw(st.sampled_from(_EXTENTS))
    n = 1 << level
    xs = _axis(draw, extent[0], extent[2], n, span=24)
    ys = _axis(draw, extent[1], extent[3], n, span=24)
    s = (extent[3] - extent[1]) / (8 * n)

    def centre_row(y):
        return extent[1] + (math.floor((y - extent[1]) / s) + 0.5) * s

    polys = []
    for _ in range(draw(st.integers(1, 3))):
        kind = draw(st.sampled_from(["rect", "triangle", "trapezoid"]))
        if kind == "rect":
            x0, x1 = sorted((draw(xs), draw(xs)))
            y0, y1 = sorted((draw(ys), draw(ys)))
            rings = [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]
            hx0, hx1 = sorted((draw(xs), draw(xs)))
            hy0, hy1 = sorted((draw(ys), draw(ys)))
            if x0 < hx0 < hx1 < x1 and y0 < hy0 < hy1 < y1:
                rings.append([(hx0, hy0), (hx0, hy1), (hx1, hy1), (hx1, hy0), (hx0, hy0)])
        elif kind == "triangle":
            shell = [(draw(xs), draw(ys)) for _ in range(3)]
            rings = [shell + shell[:1]]
        else:
            y0, y1 = sorted((centre_row(draw(ys)), centre_row(draw(ys))))
            xa, xb, xc, xd = (draw(xs) for _ in range(4))
            rings = [[(xa, y0), (xb, y0), (xc, y1), (xd, y1), (xa, y0)]]
        polys.append(rings)

    points = [(draw(xs), draw(ys)) for _ in range(draw(st.integers(0, 12)))]
    for rings in polys:
        for ring in rings:
            for (ax, ay), (bx, by) in zip(ring, ring[1:]):
                points += [(ax, ay), (ax + (bx - ax) / 2, ay + (by - ay) / 2)]
    points += [(extent[0] - s / 2, draw(ys)), (draw(xs), extent[3] + s / 2)]
    points = [
        q
        for x, y in points
        for q in (
            (x, y),
            (math.nextafter(x, -math.inf), y),
            (math.nextafter(x, math.inf), y),
            (x, math.nextafter(y, -math.inf)),
            (x, math.nextafter(y, math.inf)),
        )
    ]
    points = draw(st.permutations(points))[:160]
    return level, extent, polys, points


def _seg_meets_box(a, b, box) -> bool:
    """Whether the closed segment a-b meets the closed box, in exact
    rationals (Liang-Barsky clipping)."""
    from fractions import Fraction as Q

    (ax, ay), (bx, by) = (tuple(map(Q, a)), tuple(map(Q, b)))
    x0, y0, x1, y1 = box
    t0, t1 = Q(0), Q(1)
    for p, q in (
        (ax - bx, ax - x0), (bx - ax, x1 - ax),
        (ay - by, ay - y0), (by - ay, y1 - ay),
    ):
        if p == 0:
            if q < 0:
                return False
        elif p < 0:
            t0 = max(t0, q / p)
        else:
            t1 = min(t1, q / p)
    return t0 <= t1


def _bbox(rings):
    xs = [x for x, _ in rings[0]]
    ys = [y for _, y in rings[0]]
    return min(xs), min(ys), max(xs), max(ys)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(case=_subcell_case())
def test_no_touched_subcell_is_full_or_dropped(case):
    """Every sub-cell of every tile a polygon's envelope overlaps: if
    an edge or a vertex meets the sub-cell it is in ALL and not in
    FULL; a FULL sub-cell's centre is INTERIOR and a dropped one's
    EXTERIOR (exact rationals); extent-border sub-cells are in ALL and
    never FULL."""
    from fractions import Fraction as Q

    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.subcells import subcell_masks
    from geos_spark.kernels.wkb import write_wkb

    level, extent, polys, _ = case
    n = 1 << level
    minx, miny, maxx, maxy = extent
    tx, ty = (maxx - minx) / n, (maxy - miny) / n
    sx, sy = tx / 8, ty / 8
    bbox = [_bbox(rings) for rings in polys]
    row, key, all_mask, full_mask = subcell_masks(
        [write_wkb(Geom.polygon(rings)) for rings in polys], bbox, level, extent
    )
    masks = {(int(r), int(k)): (int(a), int(f)) for r, k, a, f in zip(row, key, all_mask, full_mask)}

    def tile(v, o, t):
        return min(n - 1, max(0, math.floor((v - o) / t)))

    for i, rings in enumerate(polys):
        x0, y0, x1, y1 = bbox[i]
        edges = [
            (a, b) for ring in rings for a, b in zip(ring, ring[1:])
        ]
        for gy in range(tile(y0, miny, ty), tile(y1, miny, ty) + 1):
            for gx in range(tile(x0, minx, tx), tile(x1, minx, tx) + 1):
                a, f = masks.get((i, gy * n + gx), (0, 0))
                for bit in range(64):
                    cx, cy = 8 * gx + bit % 8, 8 * gy + bit // 8
                    box = (
                        Q(minx + cx * sx), Q(miny + cy * sy),
                        Q(minx + (cx + 1) * sx), Q(miny + (cy + 1) * sy),
                    )
                    in_all, in_full = a >> bit & 1, f >> bit & 1
                    if cx in (0, 8 * n - 1) or cy in (0, 8 * n - 1):
                        assert in_all and not in_full
                        continue
                    if any(_seg_meets_box(p, q, box) for p, q in edges):
                        assert in_all and not in_full, (i, gx, gy, bit)
                    elif in_full or not in_all:
                        centre = (
                            minx + (cx + 0.5) * sx, miny + (cy + 0.5) * sy
                        )
                        want = _INTERIOR if in_full else _EXTERIOR
                        assert _exact_location(*centre, rings) == want, (i, gx, gy, bit)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_subcell_case())
def test_masked_join_agrees_with_exact_oracle(spark, case):
    """The prepared join drops, accepts and refines by sub-cell, and
    returns exactly the exact-rational rows for a predicate that
    accepts INTERIOR (``intersects``, with locations) and one that
    does not (``touches``)."""
    from geos_spark.operators.spatial_join import point_in_polygon_join

    level, extent, polys, points = case
    want = sorted(
        (i, j, loc)
        for i, (x, y) in enumerate(points)
        for j, rings in enumerate(polys)
        if (loc := _exact_location(x, y, rings)) != _EXTERIOR
    )
    dim = _rings_df(spark, polys)
    pts = _points_df(spark, points)
    got = point_in_polygon_join(
        pts, dim, level=level, extent=extent,
        poly_id_col="poly_id", keep_location=True,
    )
    assert sorted(
        (r.pid, r.poly_id, r.location)
        for r in got.select("pid", "poly_id", "location").collect()
    ) == want
    got = point_in_polygon_join(
        pts, dim, "touches", level=level, extent=extent, poly_id_col="poly_id"
    )
    assert _pairs(got, "pid", "poly_id") == sorted(
        (i, j) for i, j, loc in want if loc == _BOUNDARY
    )


@_settings
@given(case=_subcell_case())
def test_subcell_tile_key_is_grid_xy_tile_key(spark, case):
    """``with_tile_key``'s SQL key, which the shuffle and distance
    joins equijoin on, equals the numpy ``grid_ordinate`` key at the
    level on every point, and so does the key the point join's worker
    takes from the sub-cell ordinates (level + 3, divided by 8)."""
    import numpy as np

    from geos_spark.functions.hilbert_native import with_tile_key
    from geos_spark.kernels.subcells import SUB_LEVELS, grid_ordinate, grid_strides

    level, extent, _, points = case
    rows = with_tile_key(_points_df(spark, points), "x", "y", level, extent).collect()
    got = {r.pid: r["__cell"] for r in rows}
    xy = np.array(points)
    n = 1 << level
    for lv, k in ((level, 1), (level + SUB_LEVELS, 1 << SUB_LEVELS)):
        s_x, s_y = grid_strides(lv, extent)
        ox = grid_ordinate(xy[:, 0], extent[0], s_x, n * k).astype(np.int64) // k
        oy = grid_ordinate(xy[:, 1], extent[1], s_y, n * k).astype(np.int64) // k
        assert got == {i: int(y * n + x) for i, (x, y) in enumerate(zip(ox, oy))}
