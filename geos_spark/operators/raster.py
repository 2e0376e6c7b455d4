"""Raster <-> vector operators over the page-geometry extent.

The tiling tier already covers vector -> tile (clip-by-rect,
``operators/tiling.py``); this module closes the loop with the pixel
side of raster<->vector materialization:

* ``pixel_centers``     — the G x G raster sampling grid as a pure
  Column-expression DataFrame (never leaves the JVM);
* ``rasterize_polygons`` — polygon -> set-pixel mask via the engine's
  own two-phase spatial join (pixel centers probed against the
  prepared polygon dim; the candidate pairs are refined with the
  RayCrossingCounter rule, ref: ``src/algorithm/RayCrossingCounter.cpp``);
* ``vectorize_mask``    — mask -> polygons: 4-connected components of
  the set pixels (the contraction CC operator, ``operators/
  cluster.py``), then per-region boundary tracing into shell/hole
  rings (``kernels/raster_trace.py``) with measures taken FROM the
  traced geometry.

Scale shape: the raster never materializes as a dense array anywhere
— set pixels are rows, adjacency is two self-equijoins on the pixel
id (+1 / +G), components contract in O(log) rounds, and the geometry
build is per-region local work distributed by ``applyInPandas``. At
a 10^12-pixel raster every stage is a plain shuffle-or-broadcast
relational plan; per-region work is bounded by region size, and a
giant region would be pre-split by tile with the same halo-merge
pattern as ``operators/coverage.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geos_spark.operators.cluster import _materialize

DEFAULT_EXTENT = (0.0, 0.0, 4096.0, 4096.0)


def pixel_centers(
    spark: SparkSession,
    grid: int,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
) -> DataFrame:
    """(px, py, x, y) centers of a G x G raster over ``extent`` —
    pure Column arithmetic inside whole-stage codegen, one partition
    per task slot: every task that probes the centers against a
    polygon dim pays the python worker's start-up, so more partitions
    than slots only add that fixed cost."""
    x0, y0, x1, y1 = extent
    cw = (x1 - x0) / grid
    ch = (y1 - y0) / grid
    i = F.col("id")
    parts = spark.sparkContext.defaultParallelism
    return spark.range(0, grid * grid, 1, parts).select(
        (i % grid).alias("px"),
        (i / grid).cast("long").alias("py"),
        (F.lit(x0) + ((i % grid) + 0.5) * F.lit(cw)).alias("x"),
        (F.lit(y0) + (F.floor(i / grid) + 0.5) * F.lit(ch)).alias("y"),
    )


def rasterize_polygons(
    polys: DataFrame,
    grid: int,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
    *,
    poly_id_col: str = "poly_id",
    level: int = 6,
) -> DataFrame:
    """Polygon -> mask: (poly_id, px, py) rows for every pixel whose
    center intersects the polygon.  Runs the point join against the
    prepared dim: every pixel centre crosses into python once, where
    one Arrow UDF looks up its tile, drops it or accepts it by the
    envelopes and sub-cell masks, and refines only the pixels in
    PARTIAL sub-cells."""
    from geos_spark.operators.spatial_join import point_in_polygon_join

    out = point_in_polygon_join(
        pixel_centers(polys.sparkSession, grid, extent),
        polys,
        "intersects",
        level=level,
        extent=extent,
        poly_id_col=poly_id_col,
    )
    return out.select(poly_id_col, "px", "py")


def _labelled_cells(mask: DataFrame, grid: int) -> DataFrame:
    """The front end of both vectorize paths: the distinct set pixels
    (px, py) with their pixel id ``py*grid+px``, joined to the
    4-connected component each belongs to (``cluster``, the region's
    min pixel id)."""
    from geos_spark.operators.cluster import connected_components

    m = mask.select(
        F.col("px").cast("long").alias("px"),
        F.col("py").cast("long").alias("py"),
    ).distinct()
    m = m.withColumn("id", F.col("py") * grid + F.col("px"))
    # the mask feeds both adjacency self-joins, the CC ids, and the
    # final cell-label join — materialize it once or every consumer
    # re-runs the full upstream plan (e.g. the rasterize spatial join)
    m = _materialize(m)

    a = m.select("id", "px")
    right = (
        a.where(F.col("px") < grid - 1)
        .alias("a")
        .join(m.alias("b"), F.col("b.id") == F.col("a.id") + 1)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    up = (
        a.alias("a")
        .join(m.alias("b"), F.col("b.id") == F.col("a.id") + grid)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    labels = connected_components(m.select("id"), right.unionByName(up))
    return m.join(labels, "id")


def vectorize_mask(
    mask: DataFrame,
    grid: int,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
) -> DataFrame:
    """Mask -> polygons: one row per 4-connected region.

    Returns (region, n_cells, area, perimeter, n_polys, n_holes, wkb)
    where ``region`` is the min pixel id (py*grid+px) of the region,
    and area/perimeter/counts are measured from the traced rings —
    checking them against the combinatorial cell formulas certifies
    the geometry itself.
    """
    import numpy as np
    import pandas as pd

    x0, y0, x1, y1 = extent
    cw = (x1 - x0) / grid
    cells = _labelled_cells(mask, grid).select("cluster", "px", "py")

    cell = float(cw)
    origin = (float(x0), float(y0))
    schema = (
        "region long, n_cells long, area double, perimeter double,"
        " n_polys int, n_holes int, wkb binary"
    )

    def _trace(pdf: pd.DataFrame) -> pd.DataFrame:
        from geos_spark.kernels.raster_trace import region_stats, trace_region
        from geos_spark.kernels.wkb import write_wkb

        cells_arr = pdf[["px", "py"]].to_numpy(dtype=np.int64)
        g = trace_region(cells_arr, cell=cell, origin=origin)
        area, perim, n_polys, n_holes = region_stats(g)
        return pd.DataFrame(
            {
                "region": [int(pdf["cluster"].iloc[0])],
                "n_cells": [len(cells_arr)],
                "area": [area],
                "perimeter": [perim],
                "n_polys": [n_polys],
                "n_holes": [n_holes],
                "wkb": [bytes(write_wkb(g))],
            }
        )

    return cells.groupBy("cluster").applyInPandas(_trace, schema)


def vectorize_mask_tiled(
    mask: DataFrame,
    grid: int,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
    block: int = 64,
) -> DataFrame:
    """Scale-path vectorize: same contract as :func:`vectorize_mask`,
    but per-region work is bounded by ``block``^2 instead of region
    size.

    A continent-sized region breaks the per-region ``applyInPandas``
    of the direct path (one task holds every cell).  Here the O(area)
    work — boundary tracing — runs per (region, block) tile at
    unit-segment granularity, and only the traced RINGS move to the
    per-region merge, where ``coverage_union`` (kernels/coverage.py,
    the reference's CoverageUnion segment-netting) cancels the
    interior tile cuts: segments along a shared cut are drawn once by
    each side in opposite directions and net to zero, exactly the
    valid-coverage invariant of edge-matched fragments.  The merge
    input is O(perimeter + cut crossings), not O(area) — the same
    halo-free decomposition ``operators/coverage.py`` uses for
    coverage cleaning.
    """
    import numpy as np
    import pandas as pd

    x0, y0, x1, y1 = extent
    cw = (x1 - x0) / grid
    cells = _labelled_cells(mask, grid).select(
        "cluster",
        "px",
        "py",
        F.floor(F.col("px") / block).alias("bx"),
        F.floor(F.col("py") / block).alias("by"),
    )

    cell = float(cw)
    origin = (float(x0), float(y0))
    piece_schema = "cluster long, n_cells long, wkb binary"

    def _trace_block(pdf: pd.DataFrame) -> pd.DataFrame:
        from geos_spark.kernels.raster_trace import trace_region
        from geos_spark.kernels.wkb import write_wkb

        arr = pdf[["px", "py"]].to_numpy(dtype=np.int64)
        g = trace_region(
            arr, cell=cell, origin=origin, merge_collinear=False
        )
        return pd.DataFrame(
            {
                "cluster": [int(pdf["cluster"].iloc[0])],
                "n_cells": [len(arr)],
                "wkb": [bytes(write_wkb(g))],
            }
        )

    pieces = cells.groupBy("cluster", "bx", "by").applyInPandas(
        _trace_block, piece_schema
    )

    out_schema = (
        "region long, n_cells long, area double, perimeter double,"
        " n_polys int, n_holes int, wkb binary"
    )

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        from geos_spark.kernels import geom as G
        from geos_spark.kernels.coverage import coverage_union
        from geos_spark.kernels.raster_trace import region_stats
        from geos_spark.kernels.wkb import parse_wkb, write_wkb

        polys: list = []
        for w in pdf["wkb"]:
            g = parse_wkb(bytes(w))
            polys.extend(
                g.data if g.type_id == G.MULTIPOLYGON else [g]
            )
        u = coverage_union(G.Geom.collection(G.GEOMETRYCOLLECTION, polys))
        area, perim, n_polys, n_holes = region_stats(u)
        return pd.DataFrame(
            {
                "region": [int(pdf["cluster"].iloc[0])],
                "n_cells": [int(pdf["n_cells"].sum())],
                "area": [area],
                "perimeter": [perim],
                "n_polys": [n_polys],
                "n_holes": [n_holes],
                "wkb": [bytes(write_wkb(u))],
            }
        )

    return pieces.groupBy("cluster").applyInPandas(_merge, out_schema)


def zonal_stats(
    polys: DataFrame,
    value_col_fn,
    grid: int,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
    *,
    poly_id_col: str = "poly_id",
    level: int = 6,
) -> DataFrame:
    """Classic zonal statistics: per polygon zone, aggregate a raster
    band sampled at the pixels the zone covers.

    ``value_col_fn(px, py)`` is a Column-expression band generator
    (deterministic; at production scale the band would be a parquet
    raster table joined on (px, py) instead — the plan shape is the
    same equijoin).  Composes the rasterize join (zone masks) with a
    per-zone aggregate; everything stays in whole-stage codegen.
    """
    mask = rasterize_polygons(
        polys, grid, extent, poly_id_col=poly_id_col, level=level
    )
    v = value_col_fn(F.col("px"), F.col("py"))
    m = mask.withColumn("v", v)
    return m.groupBy(poly_id_col).agg(
        F.count("*").cast("long").alias("n_pix"),
        F.sum("v").cast("long").alias("v_sum"),
        F.min("v").cast("long").alias("v_min"),
        F.max("v").cast("long").alias("v_max"),
    )


def downsample_mask(
    mask: DataFrame,
    factor: int = 2,
    *,
    min_count: int = 1,
) -> DataFrame:
    """Raster pyramid level: aggregate ``factor`` x ``factor`` pixel
    blocks of a binary mask into coarse pixels set when at least
    ``min_count`` fine pixels are set (min_count=1 is the OR rule,
    min_count = factor^2/2 the majority rule).  One hash aggregate —
    the overview-pyramid build step, trivially parallel at any
    raster size."""
    return (
        mask.groupBy(
            F.floor(F.col("px") / factor).cast("long").alias("px"),
            F.floor(F.col("py") / factor).cast("long").alias("py"),
        )
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") >= min_count)
        .select("px", "py", F.col("__n").cast("long").alias("n_fine"))
    )
