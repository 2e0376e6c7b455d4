"""Sub-cell ALL / FULL masks of polygons over the join tiles.

The interval filter of *Raster Intervals* (APRIL, SIGMOD 2023) on the
point join's own grid: every join tile is cut into an 8 x 8 grid of
sub-cells (the join level + ``SUB_LEVELS``), so a tile's sub-cell set
is one 64-bit word, and in row-major order a run of such words is an
APRIL interval list. For each (polygon, tile) build row:

- **ALL** marks the sub-cells the closed polygon touches
  (conservative: a point outside ALL is EXTERIOR);
- **FULL** marks the sub-cells whose closure lies in the open interior
  (a point in FULL is INTERIOR).

Bit ``8 * (sy mod 8) + (sx mod 8)`` stands for sub-cell (sx, sy).

A sub-cell is PARTIAL when some ring edge may touch it: its box,
padded outward by a few ulps of the extent so that every point whose
ordinate floors into it lies inside it, overlaps the edge's bbox and
the robust orientation index does not put all four box corners
strictly on one side of the edge. Only the sub-cells an edge's bbox
overlaps are visited, row by row (*Raptor*, VLDB 2019). A run of
non-PARTIAL sub-cells along a row lies on one side of the boundary,
so one centre test per run (``pip.locate_in_geoms``) makes the whole
run FULL or out. Sub-cells on the extent border are always PARTIAL,
because the probe clamps outside points into them, and so is every
sub-cell of a polygon that does not decode. The tile ranges use the
arithmetic of ``hilbert_native.grid_xy``, the probe's.
"""

from __future__ import annotations

import numpy as np

from geos_spark.kernels.orientation import orientation_index
from geos_spark.kernels.wkb import decode_polygons_flagged

SUB_LEVELS = 3  # 2^3 x 2^3 sub-cells per tile: one 64-bit word
_SUB = 1 << SUB_LEVELS
# bit b of a mask <-> sub-cell row b // 8, column b % 8 of its tile
_BIT_ROW = np.repeat(np.arange(_SUB), _SUB)
_BIT_COL = np.tile(np.arange(_SUB), _SUB)
_MASK_CHUNK = 1 << 14  # build rows per (rows x 64) gather
_EDGE_CHUNK = 1 << 12  # ring edges per pass of the sub-cell visit


def grid_strides(level: int, extent) -> tuple[float, float]:
    """Tile side along x and y at ``level`` (also ``grid_xy``'s)."""
    minx, miny, maxx, maxy = extent
    n = 1 << level
    return (maxx - minx) / n, (maxy - miny) / n


def grid_ordinate(v, origin: float, stride: float, n: int) -> np.ndarray:
    """``clamp(floor((v - origin) / stride), 0, n - 1)`` in the float
    arithmetic of ``grid_xy``; a float array, NaN where v is NaN."""
    with np.errstate(invalid="ignore"):
        q = np.floor((np.asarray(v, dtype=np.float64) - origin) / stride)
    return np.clip(q, 0, n - 1)


def expand_ranges(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(owner, value) for every integer in lo[i]..hi[i] (empty when
    lo > hi)."""
    counts = np.maximum(hi - lo + 1, 0)
    owner = np.repeat(np.arange(len(lo)), counts)
    start = np.cumsum(counts) - counts
    value = np.arange(int(counts.sum())) - np.repeat(start - lo, counts)
    return owner, value


def _touched(seg, clip, grid, ns: int):
    """(edge, row, column) of every sub-cell an edge may touch, inside
    each edge's ``clip`` = (col_lo, row_lo, col_hi, row_hi) range.

    Visits, row by row, the sub-cells around the edge's span in that
    row, widened by one sub-cell; keeps those whose padded box meets
    the edge's bbox and whose four corners the robust orientation
    index does not put strictly on one side of the edge."""
    x1, y1, x2, y2 = seg
    minx, miny, sx, sy, dx, dy = grid
    ex0, ex1 = np.minimum(x1, x2), np.maximum(x1, x2)
    ey0, ey1 = np.minimum(y1, y2), np.maximum(y1, y2)
    r_lo = np.maximum(grid_ordinate(ey0, miny, sy, ns) - 1, clip[1])
    r_hi = np.minimum(grid_ordinate(ey1, miny, sy, ns) + 1, clip[3])
    e, r = expand_ranges(r_lo.astype(np.int64), r_hi.astype(np.int64))
    # the edge's x-span inside the padded row band
    ddy = y2[e] - y1[e]
    flat = ddy == 0
    with np.errstate(all="ignore"):
        ta = np.clip((miny + r * sy - dy - y1[e]) / ddy, 0.0, 1.0)
        tb = np.clip((miny + (r + 1) * sy + dy - y1[e]) / ddy, 0.0, 1.0)
    ta, tb = np.where(flat, 0.0, ta), np.where(flat, 1.0, tb)
    xa = x1[e] + ta * (x2[e] - x1[e])
    xb = x1[e] + tb * (x2[e] - x1[e])
    c_lo = np.maximum(grid_ordinate(np.minimum(xa, xb), minx, sx, ns) - 1, clip[0][e])
    c_hi = np.minimum(grid_ordinate(np.maximum(xa, xb), minx, sx, ns) + 1, clip[2][e])
    k, c = expand_ranges(c_lo.astype(np.int64), c_hi.astype(np.int64))
    e, r = e[k], r[k]
    bx0, bx1 = minx + c * sx - dx, minx + (c + 1) * sx + dx
    by0, by1 = miny + r * sy - dy, miny + (r + 1) * sy + dy
    near = (bx0 <= ex1[e]) & (ex0[e] <= bx1) & (by0 <= ey1[e]) & (ey0[e] <= by1)
    e, r, c = e[near], r[near], c[near]
    pos = np.ones(len(e), dtype=bool)
    neg = np.ones(len(e), dtype=bool)
    for qx, qy in ((bx0, by0), (bx1, by0), (bx0, by1), (bx1, by1)):
        o = orientation_index(x1[e], y1[e], x2[e], y2[e], qx[near], qy[near])
        pos &= o > 0
        neg &= o < 0
    hit = ~(pos | neg)
    return e[hit], r[hit], c[hit]


def subcell_masks(wkbs, bbox, level: int, extent):
    """ALL / FULL masks of every (dim row, tile) build row whose ALL is
    not empty.

    ``wkbs`` holds one (multi)polygon per dim row and ``bbox`` its
    (xmin, ymin, xmax, ymax) columns, which give the row's tiles as in
    ``with_tile_keys_exploded``. Returns ``(row, key, all, full)``:
    the dim row, the tile key ``gy * 2^level + gx`` and the two masks
    as int64."""
    minx, miny = float(extent[0]), float(extent[1])
    n = 1 << level
    ns = n << SUB_LEVELS
    tx, ty = grid_strides(level, extent)
    sx, sy = grid_strides(level + SUB_LEVELS, extent)
    # box padding: >= 16x the float error of the probe's floor and of
    # the box corners, both within a few ulps of the extent's magnitude
    dx = 2.0**-46 * (abs(extent[0]) + abs(extent[2]))
    dy = 2.0**-46 * (abs(extent[1]) + abs(extent[3]))

    bbox = np.asarray(bbox, dtype=np.float64).reshape(-1, 4)
    g = np.column_stack([
        grid_ordinate(bbox[:, 0], minx, tx, n),
        grid_ordinate(bbox[:, 1], miny, ty, n),
        grid_ordinate(bbox[:, 2], minx, tx, n),
        grid_ordinate(bbox[:, 3], miny, ty, n),
    ])
    # a NaN or inverted bbox passes no envelope filter: no build rows
    rows = np.flatnonzero(
        (bbox[:, 0] <= bbox[:, 2]) & (bbox[:, 1] <= bbox[:, 3]) & ~np.isnan(g).any(axis=1)
    )
    gx0, gy0, gx1, gy1 = g[rows].astype(np.int64).T
    tw, th = gx1 - gx0 + 1, gy1 - gy0 + 1
    # each row's sub-cell grid, row-major, laid end to end
    x0, y0, w = gx0 * _SUB, gy0 * _SUB, tw * _SUB
    size = w * th * _SUB
    base = np.cumsum(size) - size
    partial = np.zeros(int(size.sum()), dtype=bool)
    cell_row = np.repeat(np.arange(len(rows)), size)
    local = np.arange(len(partial)) - base[cell_row]
    cx = x0[cell_row] + local % w[cell_row]
    cy = y0[cell_row] + local // w[cell_row]
    partial |= (cx == 0) | (cx == ns - 1) | (cy == 0) | (cy == ns - 1)

    wkbs = list(wkbs)
    pack, geo, bad = decode_polygons_flagged([wkbs[i] for i in rows])
    poly_row = np.repeat(np.arange(len(rows)), np.diff(geo))
    pt_row = poly_row[np.repeat(pack.ring_poly, np.diff(pack.ring_offsets))]
    bad[pt_row[~np.isfinite(pack.coords).all(axis=1)]] = True
    partial |= bad[cell_row]

    # edges, in chunks that bound the lane arrays
    er = poly_row[pack.seg_poly]
    ok = np.flatnonzero(~bad[er])
    grid = (minx, miny, sx, sy, dx, dy)
    for lo in range(0, len(ok), _EDGE_CHUNK):
        i = ok[lo:lo + _EDGE_CHUNK]
        own = er[i]
        seg = (pack.seg_x1[i], pack.seg_y1[i], pack.seg_x2[i], pack.seg_y2[i])
        clip = (x0[own], y0[own], x0[own] + w[own] - 1, y0[own] + th[own] * _SUB - 1)
        e, r, c = _touched(seg, clip, grid, ns)
        own = own[e]
        partial[base[own] + (r - y0[own]) * w[own] + c - x0[own]] = True

    # runs of non-PARTIAL sub-cells along a row: one centre test each
    from geos_spark.kernels.pip import INTERIOR, EXTERIOR, locate_in_geoms

    prev_partial = np.concatenate(([True], partial[:-1]))
    start = ~partial & ((local % w[cell_row] == 0) | prev_partial)
    run = np.cumsum(start) - 1
    s = np.flatnonzero(start)
    loc = locate_in_geoms(
        minx + (cx[s] + 0.5) * sx, miny + (cy[s] + 0.5) * sy, pack, geo, cell_row[s]
    )
    free = ~partial
    full = np.zeros_like(partial)
    full[free] = loc[run[free]] == INTERIOR
    # no edge touches a free run, so its centre is never BOUNDARY; if
    # it were, the run stays for the exact refine
    partial[free] |= (loc[run[free]] != INTERIOR) & (loc[run[free]] != EXTERIOR)
    every = partial | full

    # build rows: the 8 x 8 block of each tile, packed into a long
    bt_row, intra = expand_ranges(np.zeros(len(rows), dtype=np.int64), tw * th - 1)
    btx, bty = intra % tw[bt_row], intra // tw[bt_row]
    key = (gy0[bt_row] + bty) * n + gx0[bt_row] + btx
    corner = base[bt_row] + bty * _SUB * w[bt_row] + btx * _SUB
    all_mask = np.empty(len(bt_row), dtype=np.int64)
    full_mask = np.empty(len(bt_row), dtype=np.int64)
    for lo in range(0, len(bt_row), _MASK_CHUNK):
        sl = slice(lo, lo + _MASK_CHUNK)
        idx = corner[sl, None] + _BIT_ROW * w[bt_row[sl], None] + _BIT_COL
        for src, dst in ((every, all_mask), (full, full_mask)):
            bits = np.packbits(src[idx], axis=1, bitorder="little")
            dst[sl] = bits.view("<i8").ravel()
    keep = all_mask != 0
    return rows[bt_row[keep]], key[keep], all_mask[keep], full_mask[keep]
