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
