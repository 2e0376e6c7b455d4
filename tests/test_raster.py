"""Raster <-> vector: boundary-tracing kernel + distributed operators.

Kernel oracle: the combinatorial cell identities (exact in integers)
    area = C * cell^2          perimeter = (4C - 2A) * cell
for C cells with A interior 4-adjacencies, which the traced rings
must reproduce via shoelace / ring-length — plus ring simplicity and
winding (shells CCW, holes CW), the OGC contract GDALPolygonize-style
vectorization promises.
"""

from __future__ import annotations

import numpy as np
import pytest

from geos_spark.kernels import geom as G
from geos_spark.kernels.raster_trace import (
    region_stats,
    trace_region,
)


def _formula(cells):
    cs = set(map(tuple, cells))
    a = sum(1 for (x, y) in cs if (x + 1, y) in cs) + sum(
        1 for (x, y) in cs if (x, y + 1) in cs
    )
    return len(cs), 4 * len(cs) - 2 * a


def _rings(g):
    polys = g.data if g.type_id == G.MULTIPOLYGON else [g]
    for p in polys:
        for j, r in enumerate(p.data):
            yield j, r


def _check(cells, n_holes=None, n_polys=None):
    g = trace_region(np.array(cells, dtype=np.int64))
    area, perim, np_, nh = region_stats(g)
    c, p = _formula(cells)
    assert area == c, (area, c)
    assert perim == p, (perim, p)
    if n_holes is not None:
        assert nh == n_holes, (nh, n_holes)
    if n_polys is not None:
        assert np_ == n_polys
    # every ring simple (no repeated vertex) and correctly wound
    for j, r in _rings(g):
        pts = [tuple(v) for v in r[:-1]]
        assert len(pts) == len(set(pts)), "self-touching ring"
        x, y = r[:-1, 0], r[:-1, 1]
        x1, y1 = r[1:, 0], r[1:, 1]
        sa = float(np.sum(x * y1 - x1 * y))
        assert (sa > 0) == (j == 0), "shell CCW / hole CW violated"
    return g


def test_single_cell():
    g = _check([(0, 0)], n_holes=0, n_polys=1)
    assert g.type_id == G.POLYGON


def test_domino_and_rect():
    _check([(0, 0), (1, 0)], n_holes=0)
    _check([(x, y) for x in range(4) for y in range(3)], n_holes=0)


def test_ring_hole():
    cells = [(x, y) for x in range(3) for y in range(3) if (x, y) != (1, 1)]
    _check(cells, n_holes=1, n_polys=1)


def test_two_holes():
    cells = [
        (x, y)
        for x in range(5)
        for y in range(5)
        if (x, y) not in [(1, 1), (3, 3)]
    ]
    _check(cells, n_holes=2, n_polys=1)


def test_diagonal_holes_split_into_simple_rings():
    """Two unset cells touching diagonally: 4-connected background ->
    TWO simple hole rings meeting at the pinch vertex (not one
    self-touching figure-eight)."""
    cells = [
        (x, y)
        for x in range(4)
        for y in range(4)
        if (x, y) not in [(1, 1), (2, 2)]
    ]
    _check(cells, n_holes=2, n_polys=1)


def test_spiral_pinch_shell_simple():
    """Region whose outer boundary passes a set-diagonal pinch (the
    spiral's tail touches its body corner-to-corner): the shell must
    stay simple."""
    cells = [(0, 0), (1, 0), (2, 0), (2, 1), (2, 2), (1, 2), (1, 1)]
    _check(cells, n_holes=0, n_polys=1)


def test_big_random_blob_formulas():
    rng = np.random.default_rng(7)
    # random 4-connected blob: flood-grow from the origin
    cells = {(0, 0)}
    frontier = [(0, 0)]
    while len(cells) < 400:
        x, y = frontier[rng.integers(len(frontier))]
        d = [(1, 0), (-1, 0), (0, 1), (0, -1)][rng.integers(4)]
        nxt = (x + d[0], y + d[1])
        if nxt not in cells:
            cells.add(nxt)
            frontier.append(nxt)
    _check(sorted(cells))


def test_wkb_roundtrip():
    from geos_spark.kernels.wkb import parse_wkb, write_wkb

    cells = [(x, y) for x in range(3) for y in range(3) if (x, y) != (1, 1)]
    g = trace_region(np.array(cells), cell=8.0, origin=(16.0, 32.0))
    g2 = parse_wkb(write_wkb(g))
    assert g2.type_id == g.type_id
    a1 = region_stats(g)[0]
    a2 = region_stats(g2)[0]
    assert a1 == a2 == 8 * 64.0
    # scaled/offset coordinates
    shell = g.data[0]
    assert shell.min() >= 16.0


@pytest.fixture(scope="module")
def spark():
    from geos_spark.session import get_spark

    return get_spark("test_raster", cores=4, shuffle_partitions=4)


def test_rasterize_matches_kernel_pip(spark):
    """Distributed rasterize of star 0 == brute-force kernel PIP over
    the same pixel centers (boundary-inclusive intersects)."""
    from geos_spark.operators.raster import rasterize_polygons
    from geos_spark.sources.pages import star_polygons

    mask = (
        rasterize_polygons(
            star_polygons(spark).where("poly_id = 0"), grid=512
        )
        .orderBy("px", "py")
        .toPandas()
    )
    from geos_spark.kernels import geom as GG
    from geos_spark.kernels.relate import intersects
    from geos_spark.sources.pages import star_vertices

    poly = GG.Geom(GG.POLYGON, [star_vertices(0)])
    got = set(zip(mask.px, mask.py))
    for px in range(9, 22):
        for py in range(9, 22):
            pt = GG.Geom.point(px * 8 + 4.0, py * 8 + 4.0)
            inside = intersects(pt, poly)
            assert ((px, py) in got) == inside, (px, py)


def test_vectorize_roundtrip(spark):
    """rasterize -> vectorize roundtrip over 4 stars: one region per
    star, region cell-counts match the mask, measures match the
    formulas."""
    from geos_spark.operators.raster import (
        rasterize_polygons,
        vectorize_mask,
    )
    from geos_spark.sources.pages import star_polygons

    polys = star_polygons(spark).where("poly_id < 4")
    mask = rasterize_polygons(polys, grid=512).select("px", "py").distinct()
    cells = mask.toPandas()
    regions = vectorize_mask(mask, 512).toPandas()
    assert len(regions) == 4
    assert int(regions.n_cells.sum()) == len(cells)
    c, p = _formula(list(zip(cells.px, cells.py)))
    assert float(regions.area.sum()) == c * 64.0
    assert float(regions.perimeter.sum()) == p * 8.0
    assert (regions.n_polys == 1).all()
    assert (regions.n_holes == 0).all()


def test_vectorize_tiled_equals_direct(spark):
    """The tiled scale path (per-block trace + coverage-union merge)
    must produce identical regions/measures to the direct path —
    including masks with holes and features crossing block cuts."""
    import pandas as pd

    from geos_spark.operators.raster import (
        vectorize_mask,
        vectorize_mask_tiled,
    )

    # crafted mask inside a 32-grid, block=8 so features cross cuts:
    # - a 12x12 frame (holes) straddling blocks
    # - a diagonal-pinch pair near a cut
    # - an isolated blob fully inside one block
    cells = set()
    for x in range(2, 14):
        for y in range(2, 14):
            if not (4 <= x <= 11 and 4 <= y <= 11):
                cells.add((x, y))  # frame with a big hole crossing cuts
    cells |= {(20, 20), (21, 20), (21, 21), (22, 21)}  # step near cut
    cells |= {(25, 3), (26, 3)}  # small blob
    # diagonal pinch straddling the block-8 cut at x=8
    cells |= {(7, 20), (8, 21), (7, 21), (8, 20)}  # 2x2 (no pinch)
    cells |= {(16, 7), (17, 8), (17, 7)}  # L with diagonal to
    cells |= {(15, 8)}  # ...make a pinch at (16,8) across the cut?

    df = spark.createDataFrame(
        pd.DataFrame(sorted(cells), columns=["px", "py"])
    )
    direct = (
        vectorize_mask(df, 32)
        .select("region", "n_cells", "area", "perimeter", "n_holes")
        .toPandas()
        .sort_values("region")
        .reset_index(drop=True)
    )
    tiled = (
        vectorize_mask_tiled(df, 32, block=8)
        .select("region", "n_cells", "area", "perimeter", "n_holes")
        .toPandas()
        .sort_values("region")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, tiled)


def test_vectorize_tiled_stars(spark):
    """Tiled == direct on the real star mask (512 grid, 64 blocks)."""
    from geos_spark.operators.raster import (
        rasterize_polygons,
        vectorize_mask,
        vectorize_mask_tiled,
    )
    from geos_spark.sources.pages import star_polygons

    mask = (
        rasterize_polygons(star_polygons(spark).where("poly_id < 8"), grid=512)
        .select("px", "py")
        .distinct()
        .localCheckpoint(eager=True)
    )
    cols = ["region", "n_cells", "area", "perimeter", "n_polys", "n_holes"]
    d = vectorize_mask(mask, 512).select(*cols).toPandas().sort_values("region").reset_index(drop=True)
    t = (
        vectorize_mask_tiled(mask, 512, block=16)
        .select(*cols)
        .toPandas()
        .sort_values("region")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(d, t)


def test_pixel_centers_grid_and_partitions(spark):
    """Each center sits mid-cell of a non-square extent, (px, py)
    index the cell, and the grid spans one partition per task slot."""
    from geos_spark.operators.raster import pixel_centers

    df = pixel_centers(spark, 4, extent=(10.0, -8.0, 18.0, 8.0))
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(
        (px, py, 10.0 + (px + 0.5) * 2.0, -8.0 + (py + 0.5) * 4.0)
        for px in range(4)
        for py in range(4)
    )
    assert got == want


def test_labelled_cells_four_connectivity(spark):
    """The front end both vectorize paths share: duplicate mask rows
    collapse, a region is labelled by its min pixel id, diagonal
    neighbours stay apart, and the last pixel of a row is not adjacent
    to the first pixel of the next although their ids are consecutive."""
    from geos_spark.operators.raster import _labelled_cells

    grid = 5
    cells = [
        (4, 0), (0, 1),  # ids 4 and 5: a row wrap, not adjacent
        (2, 0), (2, 1), (2, 1), (3, 1),  # an L (ids 2, 7, 8), one duplicate
        (2, 3), (3, 4),  # ids 17 and 23: diagonal only
    ]
    df = spark.createDataFrame(cells, "px long, py long")
    rows = _labelled_cells(df, grid).collect()
    assert len(rows) == 7
    regions = {}
    for r in rows:
        assert r.id == r.py * grid + r.px
        regions.setdefault(r.cluster, set()).add(r.id)
    assert regions == {2: {2, 7, 8}, 4: {4}, 5: {5}, 17: {17}, 23: {23}}


@pytest.mark.parametrize("tiled", [False, True], ids=["direct", "tiled"])
def test_vectorize_row_wrap_regions_stay_apart(spark, tiled):
    """Two vertical dominoes on the right and left grid edges, one row
    apart: their pixel ids are pairwise consecutive (7/8, 15/16) but
    they share no edge, so both paths trace two separate regions."""
    from geos_spark.operators.raster import vectorize_mask, vectorize_mask_tiled

    grid = 8
    cw = 4096.0 / grid  # DEFAULT_EXTENT
    df = spark.createDataFrame(
        [(7, 0), (7, 1), (0, 1), (0, 2)], "px long, py long"
    )
    out = vectorize_mask_tiled(df, grid, block=4) if tiled else vectorize_mask(df, grid)
    regions = out.orderBy("region").collect()
    assert [r.region for r in regions] == [7, 8]
    for r in regions:
        assert r.n_cells == 2
        assert r.area == 2 * cw * cw
        assert r.perimeter == 6 * cw
        assert (r.n_polys, r.n_holes) == (1, 0)


def test_traced_geometry_is_ogc_valid():
    """The vectorizer's output must pass the engine's own isValid —
    including pinch masks, where the split rings touch at a point
    (legal: a hole may touch the shell, holes may touch each other,
    at finitely many points)."""
    from geos_spark.kernels.valid import is_valid

    masks = [
        [(0, 0)],
        [(x, y) for x in range(3) for y in range(3) if (x, y) != (1, 1)],
        # diagonal holes touching at a vertex
        [(x, y) for x in range(4) for y in range(4)
         if (x, y) not in [(1, 1), (2, 2)]],
        # spiral with a set-diagonal pinch on the outer boundary
        [(0, 0), (1, 0), (2, 0), (2, 1), (2, 2), (1, 2), (1, 1)],
        # frame with two separate holes
        [(x, y) for x in range(5) for y in range(5)
         if (x, y) not in [(1, 1), (3, 3)]],
    ]
    for cells in masks:
        g = trace_region(np.array(cells, dtype=np.int64))
        assert is_valid(g), cells


def test_downsample_rules(spark):
    """OR vs majority rule on a hand-built 4x4 mask."""
    import pandas as pd

    from geos_spark.operators.raster import downsample_mask

    # block (0,0): 3 pixels set; block (1,0): 1 pixel; block (0,1): 4
    cells = [(0, 0), (1, 0), (0, 1), (2, 0), (0, 2), (1, 2), (0, 3), (1, 3)]
    df = spark.createDataFrame(pd.DataFrame(cells, columns=["px", "py"]))
    or_rule = {
        (r.px, r.py): r.n_fine
        for r in downsample_mask(df, 2, min_count=1).collect()
    }
    assert or_rule == {(0, 0): 3, (1, 0): 1, (0, 1): 4}
    maj = {
        (r.px, r.py): r.n_fine
        for r in downsample_mask(df, 2, min_count=2).collect()
    }
    assert maj == {(0, 0): 3, (0, 1): 4}


def test_zonal_stats_matches_mask(spark):
    """Zonal stats on star 0 == direct python aggregation over the
    operator's own mask."""
    from geos_spark.operators.raster import rasterize_polygons, zonal_stats

    polys = star_polygons_one(spark)
    mask = rasterize_polygons(polys, grid=512).toPandas()
    out = zonal_stats(
        polys, lambda px, py: (px * 7 + py * 13) % 1000, grid=512
    ).collect()[0]
    vals = (mask.px * 7 + mask.py * 13) % 1000
    assert out.n_pix == len(mask)
    assert out.v_sum == int(vals.sum())
    assert out.v_min == int(vals.min()) and out.v_max == int(vals.max())


def star_polygons_one(spark):
    from geos_spark.sources.pages import star_polygons

    return star_polygons(spark).where("poly_id = 0")
