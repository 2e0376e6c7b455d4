"""orientation_index against an exact rational oracle, at scales from
the subnormal range to the edge of the float range, where the floating
filter's differences and products overflow."""

import warnings
from fractions import Fraction

import numpy as np
import pytest

from geos_spark.kernels.orientation import orientation_index


def _exact(ax, ay, bx, by, cx, cy) -> int:
    ax, ay, bx, by, cx, cy = map(Fraction, (ax, ay, bx, by, cx, cy))
    det = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return (det > 0) - (det < 0)


# (a, b, c) whose first filter product overflows: ax - cx = 2e308 reads
# as inf, so inf * 1e-300 = inf hides a true product of 2e8 that
# (ay - cy) * (bx - cx) = 1e10 * 2e292 outweighs
_OVERFLOW = (1e308, 1.0, -1e308 + 2e292, 1e-300, -1e308, 0.0)


def test_overflowing_difference_is_decided_exactly():
    cols = [np.array([v]) for v in _OVERFLOW]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = orientation_index(*cols)
    assert got.tolist() == [_exact(*_OVERFLOW)] == [-1]


def test_overflowing_difference_scalar_lane():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = orientation_index(*_OVERFLOW)
    assert np.ndim(got) == 0
    assert int(got) == -1


def _lanes(scale: float, rng) -> np.ndarray:
    """(n, 6) lanes of random, near-collinear and shared-vertex
    triples with ordinates in [-scale, scale]."""
    n = 300
    a = rng.uniform(-1, 1, (n, 2)) * scale
    b = rng.uniform(-1, 1, (n, 2)) * scale
    rand = rng.uniform(-1, 1, (n, 2)) * scale
    t = rng.uniform(0, 1, (n, 1))
    # on the segment ab up to rounding; the convex form stays finite
    # where b - a would overflow
    near = a * (1 - t) + b * t
    return np.concatenate([
        np.hstack([a, b, rand]),
        np.hstack([a, b, near]),
        np.hstack([a, b, a]),
        np.hstack([a, b, b]),
        np.hstack([a, a, rand]),
    ])


@pytest.mark.parametrize(
    "scale", [1e-300, 1e-150, 1.0, 1e150, 1e300, 1.5e308]
)
def test_matches_exact_at_every_scale(scale):
    lanes = _lanes(scale, np.random.default_rng(7))
    want = [_exact(*row) for row in lanes]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = orientation_index(*lanes.T)
        scalar = [int(orientation_index(*row)) for row in lanes]
    assert got.tolist() == want
    assert scalar == want
