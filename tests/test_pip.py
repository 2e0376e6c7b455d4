"""Ray-crossing PIP kernel tests: GEOS RayCrossingCounter conventions
(boundary on vertex/edge, shared-vertex no-double-count, holes) plus a
randomized cross-check against an independent matplotlib-free winding
implementation on clean inputs."""

import warnings

import numpy as np
import pytest

from geos_spark.kernels.pip import (
    BOUNDARY,
    EXTERIOR,
    INTERIOR,
    PolygonPack,
    locate_point_in_ring,
    locate_points,
)

SQUARE = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
DIAMOND = np.array([[5, 0], [10, 5], [5, 10], [0, 5], [5, 0]], dtype=float)
# concave 4-point star
STAR = np.array(
    [
        [8, 0], [1, 1], [0, 8], [-1, 1], [-8, 0], [-1, -1], [0, -8],
        [1, -1], [8, 0],
    ],
    dtype=float,
)


@pytest.mark.parametrize(
    "x,y,exp",
    [
        (5, 5, INTERIOR),
        (0, 0, BOUNDARY),
        (10, 10, BOUNDARY),
        (5, 0, BOUNDARY),
        (0, 5, BOUNDARY),
        (10.000001, 5, EXTERIOR),
        (-1, 5, EXTERIOR),
        (5, 10, BOUNDARY),
    ],
)
def test_square(x, y, exp):
    assert locate_point_in_ring(x, y, SQUARE) == exp


@pytest.mark.parametrize(
    "x,y,exp",
    [
        (5, 5, INTERIOR),
        (5, 0, BOUNDARY),       # vertex
        (7.5, 2.5, BOUNDARY),   # on diagonal edge
        (9, 1, EXTERIOR),
        (0.1, 5, INTERIOR),
    ],
)
def test_diamond(x, y, exp):
    assert locate_point_in_ring(x, y, DIAMOND) == exp


@pytest.mark.parametrize(
    "x,y,exp",
    [
        (0, 0, INTERIOR),
        (4, 4, EXTERIOR),      # between arms of the star
        (7, 0, INTERIOR),      # inside right arm
        (0, 8, BOUNDARY),      # arm tip
        (-3, 0.0, INTERIOR),
        (0.0, -3, INTERIOR),
    ],
)
def test_concave_star(x, y, exp):
    assert locate_point_in_ring(x, y, STAR) == exp


def test_ray_through_vertex_no_double_count():
    # point whose eastward ray passes exactly through a right-side vertex
    assert locate_point_in_ring(5, 5, DIAMOND) == INTERIOR
    assert locate_point_in_ring(0, 5, DIAMOND) == BOUNDARY
    assert locate_point_in_ring(-0.5, 5, DIAMOND) == EXTERIOR


def test_holes():
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float)
    pack = PolygonPack.from_rings([[SQUARE, hole]])
    pts = np.array(
        [[5, 5], [2, 2], [4, 5], [20, 20], [6, 6], [3.999999, 5]], dtype=float
    )
    loc = locate_points(
        pts, pack, np.arange(len(pts)), np.zeros(len(pts), dtype=int)
    )
    assert loc.tolist() == [
        EXTERIOR, INTERIOR, BOUNDARY, EXTERIOR, BOUNDARY, INTERIOR,
    ]


def test_multi_pair_batch():
    pack = PolygonPack.from_rings([[SQUARE], [DIAMOND], [STAR + 50]])
    rs = np.random.RandomState(7)
    pts = rs.uniform(-20, 70, size=(500, 2))
    pair_pt = np.repeat(np.arange(500), 3)
    pair_poly = np.tile(np.arange(3), 500)
    loc = locate_points(pts, pack, pair_pt, pair_poly)
    # cross-check each against the scalar path
    rings = [[SQUARE], [DIAMOND], [STAR + 50]]
    for k in range(0, 1500, 37):
        pi, gi = pair_pt[k], pair_poly[k]
        exp = locate_point_in_ring(pts[pi, 0], pts[pi, 1], rings[gi][0])
        assert loc[k] == exp


def test_degenerate_empty_pairs():
    pack = PolygonPack.from_rings([[SQUARE]])
    loc = locate_points(
        np.zeros((0, 2)), pack, np.zeros(0, dtype=int), np.zeros(0, dtype=int)
    )
    assert len(loc) == 0


def test_subnormal_y_span_locates_without_float_warnings():
    """A polygon whose y-span is subnormal has a subnormal stripe height
    (or one that rounds to 0 once split into stripes): points above it
    must not overflow the stripe index and in-range points still land
    in a stripe."""
    tri = np.array([[0, 0], [1, 5e-324], [0.5, 1e-323], [0, 0]])
    # 9 segments -> 2 stripes over a 1-ulp span
    comb = np.array(
        [[0, 0], [1, 0], [2, 0], [3, 0], [4, 0],
         [4, 5e-324], [3, 5e-324], [2, 5e-324], [1, 5e-324], [0, 0]]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert locate_point_in_ring(0.5, 1.0, tri) == EXTERIOR
        assert locate_point_in_ring(0.5, 5e-324, tri) == INTERIOR
        assert locate_point_in_ring(0.5, 1.0, comb) == EXTERIOR
        assert locate_point_in_ring(2.0, 5e-324, comb) == BOUNDARY
        assert locate_point_in_ring(2.5, 0.0, comb) == BOUNDARY


# a 40-segment square (10 stripes) with its top edge at y = 4
_COMB_TOP = np.array(
    [[x, 0.0] for x in np.linspace(0, 4, 11)]
    + [[4.0, y] for y in np.linspace(0, 4, 11)[1:]]
    + [[x, 4.0] for x in np.linspace(4, 0, 11)[1:]]
    + [[0.0, y] for y in np.linspace(4, 0, 11)[1:]]
)

# an 18-segment ring (4 stripes) from y = -1e308 to 1e308: no segment's
# y-span overflows, but the ring's does
_TALL = np.array(
    [[1.0, 2.5e307 * k] for k in range(-4, 5)]
    + [[-1.0, 2.5e307 * k] for k in range(4, -5, -1)]
    + [[1.0, -1e308]]
)


@pytest.mark.parametrize(
    "ring,points,want",
    [
        pytest.param(  # zero y-span: the unit stripe height fallback
            [[0, 3], [4, 3], [8, 3], [0, 3]],
            [[2, 3], [2, 4], [2, 2], [9, 3], [8, 3]],
            [BOUNDARY, EXTERIOR, EXTERIOR, EXTERIOR, BOUNDARY],
            id="flat_ring",
        ),
        pytest.param(  # normal but tiny stripe height, far-away points
            [[0, 0], [1, 0], [2, 0], [3, 0], [4, 0],
             [4, 1e-300], [3, 1e-300], [2, 1e-300], [1, 1e-300], [0, 0]],
            [[2, 1e300], [2, -1e300], [2, 0.5e-300], [5, 0.5e-300], [2, 0]],
            [EXTERIOR, EXTERIOR, INTERIOR, EXTERIOR, BOUNDARY],
            id="tiny_span_far_points",
        ),
        pytest.param(  # subnormal span, points at infinity or NaN in y
            [[0, 0], [1, 5e-324], [0.5, 1e-323], [0, 0]],
            [[0.5, np.inf], [0.5, -np.inf], [0.5, np.nan], [0.5, 5e-324]],
            [EXTERIOR, EXTERIOR, EXTERIOR, INTERIOR],
            id="subnormal_span_nonfinite_y",
        ),
        pytest.param(  # y == ymax is clamped into the last stripe
            _COMB_TOP,
            [[2, 4], [4, 4], [2, 4 - 1e-12], [2, 4 + 1e-12], [2, 0]],
            [BOUNDARY, BOUNDARY, INTERIOR, EXTERIOR, BOUNDARY],
            id="top_edge_in_last_stripe",
        ),
        pytest.param(  # y-span wider than the float range, one stripe
            [[0, -1e308], [1, 0], [0, 1e308], [-1, 0], [0, -1e308]],
            [[0, 0], [0, 1e308], [0.25, 5e307], [0, 1.7e308], [0, -1.7e308],
             [2, 0]],
            [INTERIOR, BOUNDARY, INTERIOR, EXTERIOR, EXTERIOR, EXTERIOR],
            id="huge_span_one_stripe",
        ),
        pytest.param(  # the same over 4 stripes
            _TALL,
            [[0, 0], [1, 0], [0, 1e308], [0, -1e308], [0.5, 9e307],
             [0, 1.7e308], [0, -1.7e308], [2, 5e307], [-1, -6e307]],
            [INTERIOR, BOUNDARY, BOUNDARY, BOUNDARY, INTERIOR,
             EXTERIOR, EXTERIOR, EXTERIOR, BOUNDARY],
            id="huge_span_four_stripes",
        ),
        pytest.param(  # NaN or infinite x at an in-range y
            SQUARE,
            [[np.nan, 5], [np.nan, 0], [-np.inf, 5], [np.inf, 5], [5, 5]],
            [EXTERIOR, EXTERIOR, EXTERIOR, EXTERIOR, INTERIOR],
            id="nonfinite_x",
        ),
        pytest.param(  # orientation products overflow at 1e300
            [[0, -1e300], [1e300, 0], [0, 1e300], [-1e300, 0], [0, -1e300]],
            [[0, 0], [2.5e299, 3e299], [5e299, 5e299], [6e299, 5e299],
             [-5e299, -5e299]],
            [INTERIOR, INTERIOR, BOUNDARY, EXTERIOR, BOUNDARY],
            id="huge_diamond",
        ),
        pytest.param(  # a point-to-vertex difference overflows: 2e308
            [[1e308, 1], [-1.5e308, -0.01], [-1.5e308, -10], [1e308, 1]],
            [[-1e308, 0], [-1e308, 1], [-1e308, -8]],
            [INTERIOR, EXTERIOR, EXTERIOR],
            id="overflowing_differences_below",
        ),
        pytest.param(  # the same edge with the triangle above it
            [[1e308, 1], [-1.5e308, -0.01], [-1.5e308, 10], [1e308, 1]],
            [[-1e308, 0], [-1e308, 1], [-1e308, -8]],
            [EXTERIOR, INTERIOR, EXTERIOR],
            id="overflowing_differences_above",
        ),
    ],
)
def test_locate_points_extreme_stripes(ring, points, want):
    """Stripe lookup at the edges of its arithmetic: every point lands
    in the right stripe (or none) without a floating-point warning."""
    pack = PolygonPack.from_rings([[np.asarray(ring, dtype=float)]])
    pts = np.asarray(points, dtype=float)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        loc = locate_points(pts, pack, np.arange(len(pts)), np.zeros(len(pts), dtype=int))
    assert loc.tolist() == want
