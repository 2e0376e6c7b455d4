"""kNN and within-distance joins over point geometries.

- ``within_distance_join``: the global phase assigns each build-side
  geometry to every tile its d-expanded envelope overlaps (exactly the
  DBSCAN-style expanded-envelope query of the reference,
  ``include/geos/operation/cluster/DBSCANClusterFinder.h:34-38``);
  probe points join on their containing tile; a native squared-
  distance filter refines. No python in the plan at all for
  point-to-point distance.

- ``knn_join``: cell-ring-expansion kNN in the point join's shape
  (``spatial_join.prepare_polygons`` / ``probe_points``). The driver
  reads the build side once, sorts it by (row-major tile key, id) and
  broadcasts it (:class:`PointIndex`); one Arrow UDF expands rings
  around each batch of probe points in numpy (:func:`knn_probe`) and
  returns each point's k nearest build rows, which a native
  ``posexplode`` makes rows. Distances are exact and ties break by
  build id (``GEOSSTRtree_nearest`` determinism,
  ``src/index/strtree/BoundablePair.cpp``). The plan is the probe's
  scan, one python stage and a ``Generate``: no join, no window, no
  exchange and no driver loop.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from geos_spark.functions.hilbert_native import with_tile_key, with_tile_keys_exploded
from geos_spark.functions.st import DEFAULT_EXTENT
from geos_spark.kernels.subcells import expand_ranges, grid_ordinate, grid_strides
from geos_spark.operators.spatial_join import _drop_zip_importers


def within_distance_join(
    probe: DataFrame,
    build: DataFrame,
    distance: float,
    *,
    probe_xy: tuple[str, str] = ("x", "y"),
    build_xy: tuple[str, str] = ("cx", "cy"),
    level: int = 6,
    extent=DEFAULT_EXTENT,
) -> DataFrame:
    """Pairs (probe, build) with euclidean distance <= d. Native-only
    plan: tile equijoin against the broadcast build side + codegen'd
    squared-distance filter."""
    px, py = probe_xy
    bx, by = build_xy
    p = with_tile_key(probe, px, py, level, extent)
    # exploded side has no size estimate -> hint (see spatial_join)
    b = F.broadcast(
        with_tile_keys_exploded(build, (bx, by, bx, by), level, extent, pad=distance)
    )
    d2 = (F.col(px) - F.col(bx)) ** 2 + (F.col(py) - F.col(by)) ** 2
    return p.join(b, "__cell").where(d2 <= F.lit(distance * distance)).drop("__cell")


@dataclass(frozen=True)
class PointIndex:
    """The broadcast build side of a kNN join: its rows sorted by
    (row-major tile key ``gy * 2^level + gx`` over ``extent``, id), with
    their ``ids`` (an Arrow array), coordinates ``x`` and ``y``, tile
    ``key`` and ``tie``, the row's position in id order. The tiles
    ``gx0..gx1`` of grid row ``gy`` hold the one slice of rows from
    ``searchsorted(key, gy * 2^level + gx0)`` to
    ``searchsorted(key, gy * 2^level + gx1, "right")``."""

    ids: pa.Array
    x: np.ndarray
    y: np.ndarray
    key: np.ndarray
    tie: np.ndarray
    level: int
    extent: tuple[float, float, float, float]


def build_index(ids: pa.Array, x, y, level: int, extent) -> PointIndex:
    """The index of the build rows ``ids`` at ``(x, y)`` (float64, NaN
    where NULL). A row with a NaN or infinite coordinate matches
    nothing, so it is left out. Ids order as Spark sorts them
    ascending, NULL first."""
    ok = np.flatnonzero(np.isfinite(x) & np.isfinite(y))
    ok = ok[pc.sort_indices(ids.take(ok), null_placement="at_start").to_numpy()]
    n = 1 << level
    sx, sy = grid_strides(level, extent)
    key = (
        grid_ordinate(y[ok], extent[1], sy, n).astype(np.int64) * n
        + grid_ordinate(x[ok], extent[0], sx, n).astype(np.int64)
    )
    tie = np.argsort(key, kind="stable")
    rows = ok[tie]
    return PointIndex(
        ids=ids.take(rows), x=x[rows], y=y[rows], key=key[tie], tie=tie,
        level=level, extent=tuple(float(v) for v in extent),
    )


def knn_probe(ix: PointIndex, k: int, x, y):
    """``(point, build row, dist2)`` of the k nearest build rows of
    every point ``(x, y)``, by point, then rank: ``dist2`` ascending,
    ties by id. ``dist2`` is ``dx * dx + dy * dy`` in float64. A NaN or
    infinite coordinate matches nothing.

    Cell-ring expansion: a point's candidates are the build rows in
    the (2R + 1)-square block of tiles around its tile, for R = 1, 2,
    4, ... until the block holds k rows or spans the grid; then one
    block at the exact radius that the k-th distance gives. No row
    outside a block of radius R lies nearer than R tile sides, less a
    pad of a few ulps of the extent (the one ``subcell_masks`` uses):
    the tile floor can put a coordinate a few ulps below a tile edge
    into the next tile. Clamping a point outside the extent into a
    border tile only moves it away from the rows beyond the block."""
    minx, miny, maxx, maxy = ix.extent
    n = 1 << ix.level
    sx, sy = grid_strides(ix.level, ix.extent)
    pad = 2.0**-45 * max(abs(minx) + abs(maxx), abs(miny) + abs(maxy))
    pt = np.flatnonzero(np.isfinite(x) & np.isfinite(y))
    x, y = x[pt], y[pt]
    gx = grid_ordinate(x, minx, sx, n).astype(np.int64)
    gy = grid_ordinate(y, miny, sy, n).astype(np.int64)

    def slices(i, r):
        """(point, lo, hi) for each grid row of the blocks of radius
        ``r`` around points ``i``: that row's build rows are lo:hi."""
        o, row = expand_ranges(np.maximum(gy[i] - r, 0), np.minimum(gy[i] + r, n - 1))
        p, r = i[o], r[o]
        lo = np.searchsorted(ix.key, row * n + np.maximum(gx[p] - r, 0))
        hi = np.searchsorted(ix.key, row * n + np.minimum(gx[p] + r, n - 1), "right")
        return p, lo, hi

    def candidates(i, r):
        p, lo, hi = slices(i, r)
        s, b = expand_ranges(lo, hi - 1)
        p = p[s]
        dx, dy = x[p] - ix.x[b], y[p] - ix.y[b]
        return p, b, dx * dx + dy * dy

    def top_k(p, b, d2):
        o = np.lexsort((ix.tie[b], d2, p))
        p, b, d2 = p[o], b[o], d2[o]
        rank = np.arange(len(p)) - np.searchsorted(p, p)
        top = rank < k
        return p[top], b[top], d2[top], rank[top]

    # R = 1, 2, 4, ... until the block holds k rows or spans the grid
    r = np.full(len(pt), min(1, n - 1))
    todo = np.arange(len(pt))
    while len(todo):
        p, lo, hi = slices(todo, r[todo])
        held = np.bincount(p, hi - lo, minlength=len(pt))[todo]
        todo = todo[(held < k) & (r[todo] < n - 1)]
        r[todo] = np.minimum(2 * r[todo], n - 1)

    # one block at the exact radius, where the k-th distance needs more
    p, b, d2, rank = top_k(*candidates(np.arange(len(pt)), r))
    kth = np.full(len(pt), np.inf)
    kth[p[rank == k - 1]] = d2[rank == k - 1]
    # the relative margin covers the rounding of dist2 and of sqrt
    reach = np.sqrt(kth) * (1 + 2.0**-40) + pad
    exact = np.minimum(np.floor(reach / min(sx, sy)) + 1, n - 1).astype(np.int64)
    wide = exact > r
    w = np.flatnonzero(wide)
    more = candidates(w, exact[w])
    stay = ~wide[p]
    p, b, d2, _ = top_k(*(np.concatenate([a[stay], m]) for a, m in zip((p, b, d2), more)))
    return pt[p], b, d2


_WORKER_READY = False


def _worker_ready() -> None:
    """Drops the zip importers once per python worker, after the UDF's
    imports are done: module state outlives the tasks a reused worker
    runs, and the UDF reaches it through this importable function."""
    global _WORKER_READY
    if not _WORKER_READY:
        _drop_zip_importers()
        _WORKER_READY = True


def _knn_udf(bc, k: int, id_name: str, id_type: T.DataType):
    """The Arrow UDF of one kNN join: per point, the list of its k
    nearest (build id, dist2) structs in rank order."""
    item = T.StructType(
        [T.StructField(id_name, id_type), T.StructField("dist2", T.DoubleType())]
    )

    @arrow_udf(T.ArrayType(item))
    def _knn(x: pa.Array, y: pa.Array) -> pa.Array:
        _worker_ready()
        ix = bc.value
        # float64, NaN where NULL
        x, y = (a.cast(pa.float64()).to_numpy(zero_copy_only=False) for a in (x, y))
        p, b, d2 = knn_probe(ix, k, x, y)
        counts = np.bincount(p, minlength=len(x))
        offsets = pa.array(np.concatenate(([0], np.cumsum(counts))), pa.int32())
        values = pa.StructArray.from_arrays(
            [ix.ids.take(b), pa.array(d2)], names=[id_name, "dist2"]
        )
        return pa.ListArray.from_arrays(offsets, values)

    return _knn


def knn_join(
    probe: DataFrame,
    build: DataFrame,
    k: int,
    *,
    build_id: str = "poly_id",
    probe_xy: tuple[str, str] = ("x", "y"),
    build_xy: tuple[str, str] = ("cx", "cy"),
    level: int = 4,
    extent=DEFAULT_EXTENT,
) -> DataFrame:
    """Exact kNN: each probe point's k nearest build points.

    Returns the probe's columns plus ``rank`` (1 to k), ``build_id``
    and ``dist2``, the squared distance; ties break by build id
    ascending. A probe with fewer than k build points gets them all. A
    NULL, NaN or infinite coordinate on either side matches nothing.
    ``level`` and ``extent`` set the tile grid of the ring expansion;
    points outside the extent clamp into its border tiles.

    The build side is read once, when the join is built, and broadcast
    whole: it must fit one broadcast. Larger build sides wait for a
    range-partitioned build shared with the point join."""
    bx, by = build_xy
    t = build.select(build_id, bx, by).toArrow()  # the one read of the build side
    x, y = (t.column(i).cast(pa.float64()).to_numpy() for i in (1, 2))
    ix = build_index(t.column(0).combine_chunks(), x, y, level, extent)
    bc = probe.sparkSession.sparkContext.broadcast(ix)
    hits = _knn_udf(bc, k, build_id, build.schema[build_id].dataType)(*probe_xy)
    return probe.select("*", F.posexplode(hits).alias("__pos", "__hit")).select(
        *probe.columns,
        (F.col("__pos") + 1).alias("rank"),
        F.col("__hit")[build_id].alias(build_id),
        F.col("__hit.dist2").alias("dist2"),
    )
