"""Hilbert cell-code oracle tests.

Golden values from the reference's unit suite
(tests/unit/shape/fractal/HilbertCodeTest.cpp): decode spot values,
levelSize/level, and full encode(decode(i)) == i roundtrips per level.
"""

import numpy as np
import pytest

from geos_spark.kernels import hilbert as H


def test_level_size():
    assert [H.level_size(lv) for lv in range(7)] == [
        1, 4, 16, 64, 256, 1024, 4096,
    ]


def test_level_for():
    assert H.level_for(1) == 0
    for n, lv in [(2, 1), (3, 1), (4, 1), (5, 2), (13, 2), (16, 2),
                  (17, 3), (63, 3), (64, 3), (65, 4), (255, 4), (256, 4)]:
        assert H.level_for(n) == lv, n


@pytest.mark.parametrize(
    "level,index,x,y",
    [
        (1, 0, 0, 0), (1, 1, 0, 1),
        (3, 0, 0, 0), (3, 1, 0, 1),
        (4, 0, 0, 0), (4, 1, 1, 0), (4, 24, 6, 2), (4, 255, 15, 0),
        (5, 124, 8, 6),
    ],
)
def test_decode_golden(level, index, x, y):
    gx, gy = H.hilbert_decode(level, np.array([index], dtype=np.uint32))
    assert (int(gx[0]), int(gy[0])) == (x, y)


@pytest.mark.parametrize("level", [0, 1, 2, 3, 4, 5, 6])
def test_roundtrip_full_level(level):
    i = np.arange(H.level_size(level), dtype=np.uint32)
    x, y = H.hilbert_decode(level, i)
    assert np.array_equal(H.hilbert_encode(level, x, y), i)


@pytest.mark.parametrize("level", [12, 16])
def test_roundtrip_sampled(level):
    rs = np.random.RandomState(42)
    i = rs.randint(0, H.level_size(level), size=10000).astype(np.uint32)
    x, y = H.hilbert_decode(level, i)
    assert np.array_equal(H.hilbert_encode(level, x, y), i)


def test_level_out_of_range():
    with pytest.raises(ValueError):
        H.hilbert_encode(17, 0, 0)


def test_sql_emitter_matches_numpy():
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    for level in (1, 5, 12):
        n = 1 << level
        rs = np.random.RandomState(level)
        xs = rs.randint(0, n, size=500)
        ys = rs.randint(0, n, size=500)
        df = pd.DataFrame({"x": xs, "y": ys})
        expr = H.hilbert_encode_sql(level, "x", "y")
        got = duckdb.sql(f"SELECT {expr} AS c FROM df").df()["c"].to_numpy()
        assert np.array_equal(
            got.astype(np.uint32), H.hilbert_encode(level, xs, ys)
        )


def test_encode_envelope_midpoint_rule():
    # stride = width / (2^level - 1); midpoint picks the grid cell
    extent = (0.0, 0.0, 4096.0, 4096.0)
    cells = H.encode_envelope(
        12,
        np.array([0.0, 100.0]),
        np.array([0.0, 200.0]),
        np.array([0.0, 110.0]),
        np.array([0.0, 210.0]),
        extent,
    )
    hside = (1 << 12) - 1
    sx = 4096.0 / hside
    exp0 = H.hilbert_encode(12, 0, 0)
    x1 = int(105.0 / sx)
    y1 = int(205.0 / sx)
    exp1 = H.hilbert_encode(12, x1, y1)
    assert cells[0] == exp0 and cells[1] == exp1


def test_morton_roundtrip():
    i = np.arange(4096, dtype=np.uint32)
    x, y = H.morton_decode(6, i)
    assert np.array_equal(H.morton_encode(6, x, y), i)


def test_native_hilbert_matches_numpy_every_level(spark):
    from geos_spark.functions.hilbert_native import with_hilbert_cell

    for level in range(17):
        n = 1 << level
        rs = np.random.RandomState(level)
        xs = [0, n - 1] + rs.randint(0, n, size=30).tolist()
        ys = [n - 1, 0] + rs.randint(0, n, size=30).tolist()
        df = spark.createDataFrame(list(zip(xs, ys)), "gx long, gy long")
        got = [r.cell for r in with_hilbert_cell(df, "gx", "gy", level).collect()]
        want = H.hilbert_encode(level, np.array(xs), np.array(ys))
        assert got == want.astype(np.int64).tolist(), level


def test_tile_levels_above_16_raise(spark):
    from geos_spark.functions.hilbert_native import with_tile_cell
    from geos_spark.operators.spatial_join import point_in_polygon_join

    pts = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    polys = spark.createDataFrame(
        [(b"", 0.0, 0.0, 1.0, 1.0)],
        "wkb binary, xmin double, ymin double, xmax double, ymax double",
    )
    extent = (0.0, 0.0, 4096.0, 4096.0)
    with pytest.raises(ValueError):
        with_tile_cell(pts, "x", "y", 17, extent)
    with pytest.raises(ValueError):
        point_in_polygon_join(pts, polys, level=17, extent=extent)


# awkward names: every grid helper must quote what it is given
_QX, _QY = "x coord", "y`q"


@pytest.mark.parametrize(
    "level,extent",
    [(0, (0.0, 0.0, 4096.0, 4096.0)), (5, (-3.5, 1.25, 97.0, 50.3)), (16, (0.0, 0.0, 4096.0, 4096.0))],
)
def test_grid_xy_sql_matches_numpy_ordinates(spark, level, extent):
    """``grid_xy``'s SQL ordinates equal ``grid_ordinate``'s on tile
    edges and one ulp either side, the extent corners and points
    outside the extent."""
    import math

    from pyspark.sql import functions as F

    from geos_spark.functions.hilbert_native import grid_xy, sql_name
    from geos_spark.kernels.subcells import grid_ordinate, grid_strides

    n = 1 << level
    sx, sy = grid_strides(level, extent)
    xs, ys = [], []
    for k in (0, 1, n // 2, n - 1, n):
        ex, ey = extent[0] + k * sx, extent[1] + k * sy
        for d in (-math.inf, None, math.inf):
            xs.append(ex if d is None else math.nextafter(ex, d))
            ys.append(ey if d is None else math.nextafter(ey, d))
    xs += [extent[0] - 10 * sx, extent[2] + 10 * sx, extent[2], extent[0]]
    ys += [extent[3], extent[1], extent[1] - 10 * sy, extent[3] + 10 * sy]
    df = spark.createDataFrame(list(zip(xs, ys)), [_QX, _QY])
    gx, gy = grid_xy(sql_name(_QX), sql_name(_QY), level, extent)
    got = [(r[0], r[1]) for r in df.select(F.expr(gx), F.expr(gy)).collect()]
    want = zip(
        grid_ordinate(xs, extent[0], sx, n).astype(np.int64).tolist(),
        grid_ordinate(ys, extent[1], sy, n).astype(np.int64).tolist(),
    )
    assert got == list(want)


@pytest.mark.parametrize("pad", [0.0, 0.75])
def test_with_grid_exploded_covers_the_padded_envelope(spark, pad):
    """Each box explodes to exactly the tiles its padded envelope
    overlaps, clamped to the grid, under column names that need
    quoting (a dot would otherwise read as a struct field)."""
    from geos_spark.functions.hilbert_native import with_grid_exploded
    from geos_spark.kernels.subcells import grid_ordinate, grid_strides

    level, extent = 3, (-3.5, 1.25, 97.0, 50.3)
    n = 1 << level
    sx, sy = grid_strides(level, extent)
    boxes = [
        (0, 10.0, 10.0, 10.0, 10.0),  # a point-sized box
        (1, -3.5, 1.25, 97.0, 50.3),  # the whole extent
        (2, -50.0, -50.0, -40.0, -40.0),  # outside, below the origin
        (3, extent[0] + 2 * sx, extent[1] + sy, extent[0] + 5 * sx, extent[1] + 3 * sy),  # on tile edges
    ]
    cols = ("min x", "min y", "max.x", "max.y")
    df = spark.createDataFrame(boxes, ["id", *cols])
    got = sorted(
        (r[0], r[1], r[2])
        for r in with_grid_exploded(df, cols, level, extent, pad).select("id", "__gx", "__gy").collect()
    )

    def ords(v, origin, stride):
        return int(grid_ordinate([v], origin, stride, n)[0])

    want = sorted(
        (i, gx, gy)
        for i, x0, y0, x1, y1 in boxes
        for gx in range(ords(x0 - pad, extent[0], sx), ords(x1 + pad, extent[0], sx) + 1)
        for gy in range(ords(y0 - pad, extent[1], sy), ords(y1 + pad, extent[1], sy) + 1)
    )
    assert got == want


def test_with_tile_cell_quotes_its_columns(spark):
    from geos_spark.functions.hilbert_native import with_tile_cell
    from geos_spark.kernels.subcells import grid_ordinate, grid_strides

    level, extent = 4, (0.0, 0.0, 4096.0, 4096.0)
    n = 1 << level
    sx, sy = grid_strides(level, extent)
    rs = np.random.RandomState(4)
    xy = np.concatenate([rs.uniform(-100, 4200, size=(40, 2)), [[0.0, 0.0], [4096.0, 4096.0]]])
    df = spark.createDataFrame([tuple(map(float, p)) for p in xy], [_QX, _QY])
    got = [r.cell for r in with_tile_cell(df, _QX, _QY, level, extent).collect()]
    gx = grid_ordinate(xy[:, 0], extent[0], sx, n).astype(np.int64)
    gy = grid_ordinate(xy[:, 1], extent[1], sy, n).astype(np.int64)
    assert got == H.hilbert_encode(level, gx, gy).astype(np.int64).tolist()
