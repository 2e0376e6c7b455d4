"""Property tests (hypothesis) for the tile-key cell filter of the
spatial joins, on adversarial floating-point input: points exactly on
tile edges, one ulp either side of them, on the extent edge and
outside the extent, and zero-width boxes.

- Cell filter: every point inside a box (padded by d for the distance
  joins) shares a tile key with it, so the key equijoin plus the
  envelope filter returns exactly the brute-force (point, box) pairs.
- Joins: ``point_in_polygon_join`` (prepared dim with and without an
  id column, and the shuffle build) and
  ``polygon_join`` return exactly the brute-force rows over rectangle
  polygons, with no pair missing and none duplicated.
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


def _axis(draw, lo: float, hi: float, n: int):
    """Coordinates along one axis: one tile edge (chosen per case, the
    extent edges included) and one ulp either side of it, any tile
    edge, points outside the extent and arbitrary points."""
    stride = (hi - lo) / n
    edges = [lo + k * stride for k in range(n + 1)]
    e = draw(st.sampled_from(edges))
    near = [math.nextafter(e, -math.inf), e, math.nextafter(e, math.inf)]
    return st.one_of(
        st.sampled_from(near),
        st.sampled_from(edges),
        st.sampled_from([lo - stride / 2, hi + stride / 2, lo - 3 * stride]),
        st.floats(lo - stride, hi + stride, allow_nan=False),
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
