"""Raster<->vector tile materialization.

``tile_materialize``: explode each geometry to every tile its
envelope overlaps (native), compute the tile bbox natively from the
grid ordinates, then clip the geometry to its tile in one vectorized
pUDF pass (per-batch factorized decode). Output rows carry the tile
cell id, the clipped fragment (canonical NDR WKB), its area, and
whether the tile is fully covered — exactly the
``(url, cell, clipped_wkb, covers_fully)`` shape of the reference's
tile fixture (FIXTURES.md §6; clip semantics per
``src/operation/intersection/RectangleIntersection.cpp``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geos_spark.functions.hilbert_native import with_grid_exploded, with_hilbert_cell
from geos_spark.functions.st import DEFAULT_EXTENT

_CLIP_SCHEMA = T.StructType(
    [
        T.StructField("clipped_wkb", T.BinaryType()),
        T.StructField("clipped_area", T.DoubleType()),
        T.StructField("covers_fully", T.BooleanType()),
    ]
)


@pandas_udf(_CLIP_SCHEMA)
def _clip_udf(
    wkb: pd.Series,
    txmin: pd.Series,
    tymin: pd.Series,
    txmax: pd.Series,
    tymax: pd.Series,
) -> pd.DataFrame:
    """Per-(geometry, tile) clip with a vectorized three-way
    classification first: a tile that no boundary segment touches is
    either fully interior (fragment = the tile rectangle, emitted
    natively) or fully exterior (empty) by the location of its center
    — only true boundary tiles run the polygon clipper. For large
    polygons interior tiles dominate, so the per-row Python clip loop
    shrinks to the O(perimeter) boundary band."""
    import numpy as np

    from geos_spark.kernels import geom as G
    from geos_spark.kernels.clip import clip_geom
    from geos_spark.kernels.pip import INTERIOR, PolygonPack, locate_points
    from geos_spark.kernels.scalars import geom_area
    from geos_spark.kernels.wkb import parse_wkb, write_wkb

    codes, uniques = pd.factorize(wkb.map(bytes))
    geoms = [parse_wkb(u) for u in uniques]
    n = len(codes)
    x0 = txmin.to_numpy(np.float64)
    y0 = tymin.to_numpy(np.float64)
    x1 = txmax.to_numpy(np.float64)
    y1 = tymax.to_numpy(np.float64)
    out_wkb = np.empty(n, dtype=object)
    out_area = np.zeros(n, dtype=np.float64)
    out_full = np.zeros(n, dtype=bool)

    # pack: one entry per unique geometry (all rings incl. holes and
    # multipolygon parts — parity locate stays correct)
    ring_sets = [
        [p.data[ri] for p in g.geoms() if p.type_id == G.POLYGON
         for ri in range(len(p.data))]
        for g in geoms
    ]
    areal = np.array([len(rs) > 0 for rs in ring_sets])
    pack = PolygonPack.from_rings(ring_sets)

    # does any boundary segment's bbox overlap the tile?
    sp = pack.seg_poly
    sxmin = np.minimum(pack.seg_x1, pack.seg_x2)
    sxmax = np.maximum(pack.seg_x1, pack.seg_x2)
    symin = np.minimum(pack.seg_y1, pack.seg_y2)
    symax = np.maximum(pack.seg_y1, pack.seg_y2)
    counts = (
        pack.poly_seg_offsets[codes + 1] - pack.poly_seg_offsets[codes]
    )
    pair_rep = np.repeat(np.arange(n), counts)
    cum = np.concatenate(([0], np.cumsum(counts)[:-1]))
    intra = np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(
        cum, counts
    )
    seg_idx = np.repeat(pack.poly_seg_offsets[codes], counts) + intra
    ov = (
        (sxmin[seg_idx] <= x1[pair_rep])
        & (x0[pair_rep] <= sxmax[seg_idx])
        & (symin[seg_idx] <= y1[pair_rep])
        & (y0[pair_rep] <= symax[seg_idx])
    )
    touches = np.zeros(n, dtype=bool)
    np.logical_or.at(touches, pair_rep, ov)

    # interior/exterior by tile-center location (stripe-indexed PIP)
    centers = np.column_stack([(x0 + x1) / 2.0, (y0 + y1) / 2.0])
    loc = locate_points(
        centers, pack, np.arange(n, dtype=np.int64),
        codes.astype(np.int64),
    )
    interior = areal[codes] & ~touches & (loc == INTERIOR)
    boundary = touches | ~areal[codes]

    # interior tiles: fragment is the tile rectangle itself
    for i in np.flatnonzero(interior):
        rect = G.Geom.polygon(
            [[
                (x0[i], y0[i]), (x1[i], y0[i]), (x1[i], y1[i]),
                (x0[i], y1[i]), (x0[i], y0[i]),
            ]]
        )
        out_wkb[i] = write_wkb(rect)
        out_area[i] = (x1[i] - x0[i]) * (y1[i] - y0[i])
        out_full[i] = True

    # boundary tiles: the real clipper
    for i in np.flatnonzero(boundary):
        clipped = clip_geom(geoms[codes[i]], x0[i], y0[i], x1[i], y1[i])
        if clipped.is_empty:
            continue
        area = geom_area(clipped)
        out_wkb[i] = write_wkb(clipped)
        out_area[i] = area
        out_full[i] = area == (x1[i] - x0[i]) * (y1[i] - y0[i])
    return pd.DataFrame(
        {
            "clipped_wkb": pd.Series(out_wkb, dtype=object),
            "clipped_area": out_area,
            "covers_fully": out_full,
        }
    )


def tile_materialize_rects(
    df: DataFrame,
    level: int,
    *,
    bbox_cols: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
) -> DataFrame:
    """Rectangle fast path: when the geometry IS its envelope (tiles,
    doc squares, raster footprints), the per-tile clip is a pure
    envelope intersection — the whole tiling materializes natively
    with zero python (the RectangleIntersection fast-path analogue,
    ``src/operation/intersection/RectangleIntersection.cpp``).
    Output: input cols + (cell, fxmin, fymin, fxmax, fymax,
    clipped_area, covers_fully).
    """
    minx, miny, maxx, maxy = extent
    n = 1 << level
    sx = (maxx - minx) / n
    sy = (maxy - miny) / n
    xmin, ymin, xmax, ymax = (F.col(c) for c in bbox_cols)
    e = with_grid_exploded(df, bbox_cols, level, extent)
    e = with_hilbert_cell(e, "__gx", "__gy", level)
    tx0 = F.lit(minx) + F.col("__gx") * F.lit(sx)
    ty0 = F.lit(miny) + F.col("__gy") * F.lit(sy)
    tx1 = F.lit(minx) + (F.col("__gx") + 1) * F.lit(sx)
    ty1 = F.lit(miny) + (F.col("__gy") + 1) * F.lit(sy)
    fx0 = F.greatest(xmin, tx0)
    fy0 = F.greatest(ymin, ty0)
    fx1 = F.least(xmax, tx1)
    fy1 = F.least(ymax, ty1)
    area = F.greatest(F.lit(0.0), fx1 - fx0) * F.greatest(F.lit(0.0), fy1 - fy0)
    return (
        e.withColumn("fxmin", fx0)
        .withColumn("fymin", fy0)
        .withColumn("fxmax", fx1)
        .withColumn("fymax", fy1)
        .withColumn("clipped_area", area)
        .withColumn(
            "covers_fully", area == F.lit(sx) * F.lit(sy)
        )
        .where(area > 0)
        .drop("__gx", "__gy")
    )


def tile_materialize(
    df: DataFrame,
    level: int,
    *,
    bbox_cols: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    wkb_col: str = "wkb",
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
    drop_empty: bool = True,
) -> DataFrame:
    """Materialize per-tile clipped fragments for each input geometry."""
    minx, miny, maxx, maxy = extent
    n = 1 << level
    sx = (maxx - minx) / n
    sy = (maxy - miny) / n
    e = with_grid_exploded(df, bbox_cols, level, extent)
    e = with_hilbert_cell(e, "__gx", "__gy", level)
    # the explode multiplies rows without changing partitioning, so a
    # dim-sized input would funnel the (expensive, python) clip into a
    # couple of tasks — spread the per-tile work across the cluster
    e = e.repartition(F.col("cell"))
    e = (
        e.withColumn("tile_xmin", F.lit(minx) + F.col("__gx") * F.lit(sx))
        .withColumn("tile_ymin", F.lit(miny) + F.col("__gy") * F.lit(sy))
        .withColumn("tile_xmax", F.lit(minx) + (F.col("__gx") + 1) * F.lit(sx))
        .withColumn("tile_ymax", F.lit(miny) + (F.col("__gy") + 1) * F.lit(sy))
    )
    e = e.withColumn(
        "clip",
        _clip_udf(
            F.col(wkb_col),
            F.col("tile_xmin"),
            F.col("tile_ymin"),
            F.col("tile_xmax"),
            F.col("tile_ymax"),
        ),
    )
    out = e.select(
        *df.columns,
        "cell",
        F.col("clip.clipped_wkb").alias("clipped_wkb"),
        F.col("clip.clipped_area").alias("clipped_area"),
        F.col("clip.covers_fully").alias("covers_fully"),
    )
    if drop_empty:
        out = out.where(F.col("clipped_wkb").isNotNull())
    return out
