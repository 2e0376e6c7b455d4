"""Robust orientation index, vectorized.

Semantics match GEOS ``CGAlgorithmsDD::orientationIndex``
(``src/algorithm/CGAlgorithmsDD.cpp:54-79``): a fast floating filter
(Ozaki et al. error bound, ``include/geos/algorithm/CGAlgorithmsDD.h:97-111``)
decides almost every lane; uncertain lanes fall back to exact
arithmetic. GEOS uses double-double; we use Python integer-exact
rationals on the (rare) fallback lanes, which yields the identical
sign (the DD path is itself exact for this determinant of
double differences).

Returns +1 (counter-clockwise / left), -1 (clockwise / right), 0
(collinear).
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np

# Ozaki et al. filter coefficient, as in the reference
_FILTER_COEFF = 3.3306690621773724e-16
# The coefficient bounds relative error only, which a product of
# nonzero factors loses when it falls below the normal range (it may
# even round to zero and read as collinear): such lanes are uncertain
_MIN_NORMAL = 2.0**-1022


def orientation_filter(
    pax, pay, pbx, pby, pcx, pcy
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized filter. Returns (index, uncertain_mask).

    index is valid where uncertain_mask is False.
    """
    pax = np.asarray(pax, dtype=np.float64)
    pay = np.asarray(pay, dtype=np.float64)
    pbx = np.asarray(pbx, dtype=np.float64)
    pby = np.asarray(pby, dtype=np.float64)
    pcx = np.asarray(pcx, dtype=np.float64)
    pcy = np.asarray(pcy, dtype=np.float64)
    # overflow is expected near the float range and handled below
    with np.errstate(over="ignore", invalid="ignore"):
        l1, l2 = pax - pcx, pby - pcy
        r1, r2 = pay - pcy, pbx - pcx
        detleft = l1 * l2
        detright = r1 * r2
        det = detleft - detright
        err = np.abs(detleft + detright) * _FILTER_COEFF
        underflow = (
            (np.abs(detleft) < _MIN_NORMAL) & (l1 != 0) & (l2 != 0)
        ) | ((np.abs(detright) < _MIN_NORMAL) & (r1 != 0) & (r2 != 0))
        certain = (np.abs(det) >= err) & ~underflow
        # a difference or product that overflowed to infinity bounds
        # nothing (inf * 1e-300 reads as inf): such a lane is uncertain
        # unless an input itself is not finite (no exact value exists)
        overflow = certain & np.isinf(det)
        if overflow.any():
            finite = (
                np.isfinite(pax) & np.isfinite(pay) & np.isfinite(pbx)
                & np.isfinite(pby) & np.isfinite(pcx) & np.isfinite(pcy)
            )
            certain = certain & ~(overflow & finite)
        idx = np.sign(det).astype(np.int8)
    return idx, ~certain


def _orientation_exact(pax, pay, pbx, pby, pcx, pcy) -> int:
    ax, ay = Fraction(float(pax)), Fraction(float(pay))
    bx, by = Fraction(float(pbx)), Fraction(float(pby))
    cx, cy = Fraction(float(pcx)), Fraction(float(pcy))
    det = (bx - ax) * (cy - by) - (by - ay) * (cx - bx)
    return (det > 0) - (det < 0)


def orientation_index(pax, pay, pbx, pby, pcx, pcy) -> np.ndarray:
    """Robust orientation of c relative to directed segment a->b.

    Vectorized; exact fallback only on filter-failure lanes.
    Note the exact path uses the GEOS *DD* determinant form
    (b-a) x (c-b), not (b-a) x (c-a); both have the same sign set but
    we keep the reference's form for bit-identical tie behavior.
    """
    idx, uncertain = orientation_filter(pax, pay, pbx, pby, pcx, pcy)
    if idx.ndim == 0:
        if uncertain:
            return np.int8(
                _orientation_exact(pax, pay, pbx, pby, pcx, pcy)
            )
        return idx
    if uncertain.any():
        pax, pay, pbx, pby, pcx, pcy = np.broadcast_arrays(
            np.asarray(pax, dtype=np.float64),
            np.asarray(pay, dtype=np.float64),
            np.asarray(pbx, dtype=np.float64),
            np.asarray(pby, dtype=np.float64),
            np.asarray(pcx, dtype=np.float64),
            np.asarray(pcy, dtype=np.float64),
        )
        where = np.flatnonzero(uncertain)
        flat = idx.ravel()
        for k in where:
            flat[k] = _orientation_exact(
                pax.flat[k], pay.flat[k], pbx.flat[k],
                pby.flat[k], pcx.flat[k], pcy.flat[k],
            )
    return idx
