"""Distributed spatial join: the engine's flagship operator.

Point joins are a broadcast-partition local join (SURVEY §2.5, §3.1):
the polygon dim is indexed once, the index is broadcast to the python
workers, and each partition of points is joined locally, with no JVM
join and no exchange on the point side.

1. **prepare (driver, once per dim)**: :func:`prepare_polygons` reads
   the dim once and explodes each polygon to the row-major tiles
   ``gy * 2^level + gx`` its envelope overlaps. Each (polygon, tile)
   build row gets two 64-bit masks over the tile's 8 x 8 sub-cells
   (``kernels/subcells.py``, the APRIL intervals of *Raster
   Intervals*): ALL, the sub-cells the closed polygon touches, and
   FULL, those inside its open interior. The build rows, sorted by
   tile key, and the dim's WKBs ride one broadcast (:class:`DimIndex`);
   each worker decodes the WKBs once, for every later batch.
2. **probe (worker, per Arrow batch of points)**: one Arrow UDF
   (:func:`probe_points`) looks up each point's tile and tests it
   against that tile's build rows: the envelope short-circuit of the
   reference (``src/geom/Geometry.cpp:295``), then the point's
   sub-cell bit. Outside ALL the pair is **dropped**; in FULL it is
   **accepted** as INTERIOR; the rest get the robust ray-crossing
   refine (``kernels/pip.py``). The UDF returns each point's accepted
   polygon ids, and a native ``explode`` makes them rows.

The dim's columns come back through a left join on the id that the
optimizer removes when the caller reads none of them. Batch, stream
and raster joins all take this path; ``broadcast_build=False`` keys
both sides in SQL and ships the WKB through a shuffle equijoin on the
tile key instead, with no sub-cell masks.

Pair dedup: a point lives in exactly one tile, so point joins produce
no duplicates. (Polygon-polygon joins use reference-point dedup — see
``polygon_join``.)
"""

from __future__ import annotations

import uuid
import weakref
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf, pandas_udf

from geos_spark.functions.hilbert_native import (
    grid_xy,
    sql_name,
    tile_key,
    with_grid_exploded,
    with_tile_key,
    with_tile_keys_exploded,
)
from geos_spark.functions.st import DEFAULT_EXTENT
from geos_spark.kernels.subcells import (
    SUB_LEVELS,
    expand_ranges,
    grid_ordinate,
    grid_strides,
    subcell_masks,
)

# Location codes (geom::Location)
_INTERIOR, _BOUNDARY, _EXTERIOR = 0, 1, 2

# predicate -> set of accepted point locations in the polygon
_POINT_PREDICATES = {
    "intersects": (_INTERIOR, _BOUNDARY),
    "covers": (_INTERIOR, _BOUNDARY),       # polygon covers point
    "coveredby": (_INTERIOR, _BOUNDARY),    # point coveredBy polygon
    "contains": (_INTERIOR,),               # polygon contains point
    "within": (_INTERIOR,),                 # point within polygon
    "touches": (_BOUNDARY,),
}


def _drop_zip_importers() -> None:
    """Called in a python worker once the refine's imports are done.

    Before every task the pyspark worker calls
    ``importlib.invalidate_caches()``, and on Python 3.11 that makes
    every cached ``zipimporter`` re-read its whole archive. A worker
    that imported pyspark from ``pyspark.zip`` holds one importer per
    subpackage, so each task re-read about 27k zip entries: 140-220 ms
    measured on a 4-core machine, before the task's first row. Without
    the cached importers there is nothing to re-read; an import that
    needs one again rebuilds it from zipimport's directory cache."""
    import sys
    import zipimport

    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


@pandas_udf(T.IntegerType())
def pip_refine(px: pd.Series, py: pd.Series, wkb: pd.Series) -> pd.Series:
    """Batch point-in-polygon location refine over candidates that carry
    the polygon WKB: each distinct polygon is decoded once per Arrow
    batch."""
    from geos_spark.kernels.pip import locate_in_geoms
    from geos_spark.kernels.wkb import decode_polygons_flagged

    _drop_zip_importers()

    # a NULL WKB decodes as the empty one does: flagged, NULL location
    codes, uniques = pd.factorize(wkb.fillna(b"").map(bytes))
    pack, geom_offsets, bad = decode_polygons_flagged(list(uniques))
    loc = locate_in_geoms(px, py, pack, geom_offsets, codes)
    return pd.Series(pd.arrays.IntegerArray(loc, bad[codes]))


@dataclass(frozen=True)
class DimIndex:
    """The broadcast index of a prepared polygon dim: ``ids``, sorted,
    and ``wkbs`` in that order; the build rows, by row-major tile key at
    ``level`` over ``extent``, with their dim ``row`` (into ``ids``), its
    ``bbox`` and their ``all`` and ``full`` sub-cell masks. Tile
    ``tiles[i]`` has build rows ``start[i]:start[i + 1]``; the sorted
    keys end in one no point reaches, so every lookup lands in range."""

    ids: np.ndarray
    wkbs: list
    level: int
    extent: tuple[float, float, float, float]
    tiles: np.ndarray
    start: np.ndarray
    row: np.ndarray
    bbox: np.ndarray
    all: np.ndarray
    full: np.ndarray


def probe_points(ix: DimIndex, pack, geom_offsets, x, y, accepted):
    """``(point, dim row, location)`` of every pair of the points
    ``(x, y)`` and the dim whose location is in ``accepted``, in point
    order. ``pack`` and ``geom_offsets`` are the decoded ``ix.wkbs``;
    a row that did not decode has no polygons and all-PARTIAL masks,
    so its every pair is EXTERIOR, which no predicate accepts.

    A NaN or infinite coordinate matches nothing; other points outside
    the extent clamp into its border tiles. The tile ordinate is the
    sub-cell ordinate over 8, which is ``grid_xy(level)``'s: the
    sub-cell stride is the tile stride over 8 exactly, so the floors
    and the clamps agree."""
    from geos_spark.kernels.pip import locate_in_geoms

    m, n = 1 << SUB_LEVELS, 1 << ix.level
    sx, sy = grid_strides(ix.level + SUB_LEVELS, ix.extent)
    pt = np.flatnonzero(np.isfinite(x) & np.isfinite(y))
    ox = grid_ordinate(x[pt], ix.extent[0], sx, n * m).astype(np.int64)
    oy = grid_ordinate(y[pt], ix.extent[1], sy, n * m).astype(np.int64)
    key = oy // m * n + ox // m
    bit = np.left_shift(np.uint64(1), (oy % m * m + ox % m).astype(np.uint64))
    i = np.searchsorted(ix.tiles, key)
    lo = ix.start[i]
    p, b = expand_ranges(lo, np.where(ix.tiles[i] == key, ix.start[i + 1], lo) - 1)
    # the ALL mask first: it drops more pairs than the envelope
    k = np.flatnonzero((ix.all[b] & bit[p]) != 0)
    pt, bit, b = pt[p[k]], bit[p[k]], b[k]
    px, py, box = x[pt], y[pt], ix.bbox[b]
    keep = (px >= box[:, 0]) & (px <= box[:, 2]) & (py >= box[:, 1]) & (py <= box[:, 3])
    # a FULL pair is INTERIOR with no kernel call (``touches`` drops it)
    todo = keep & ((ix.full[b] & bit) == 0)
    loc = np.full(len(b), _INTERIOR, dtype=np.int32)
    loc[todo] = locate_in_geoms(px[todo], py[todo], pack, geom_offsets, ix.row[b[todo]])
    ok = np.flatnonzero(keep & np.isin(loc, accepted))
    return pt[ok], ix.row[b[ok]], loc[ok]


# Per python worker: prepared-dim token -> (index, pack, offsets).
# Module state survives across the tasks a reused worker runs (a UDF
# closure is unpickled afresh for every task); bounded so a long-lived
# worker does not keep every dim a session prepared.
_WORKER_PACKS: dict = {}
_WORKER_PACKS_MAX = 8


def _worker_pack(token: str, bc):
    """The index and decoded polygons of one prepared dim, decoded on
    the first batch this worker probes against it."""
    from geos_spark.kernels.wkb import decode_polygons_flagged

    hit = _WORKER_PACKS.get(token)
    if hit is None:
        if len(_WORKER_PACKS) >= _WORKER_PACKS_MAX:
            del _WORKER_PACKS[next(iter(_WORKER_PACKS))]  # oldest first
        ix = bc.value
        pack, geom_offsets, _ = decode_polygons_flagged(ix.wkbs)
        hit = _WORKER_PACKS[token] = (ix, pack, geom_offsets)
        _drop_zip_importers()
    return hit


def _probe_udf(bc, token: str, id_field: T.StructField, accepted, keep_location):
    """The Arrow UDF of one point join against a prepared dim: per
    point, the list of its accepted polygon ids (with ``keep_location``
    a list of (id, location) structs), built from offsets and values."""
    from pyspark.sql.pandas.types import to_arrow_type

    id_type = to_arrow_type(id_field.dataType)
    item = id_field.dataType
    if keep_location:
        item = T.StructType([id_field, T.StructField("location", T.IntegerType())])

    @arrow_udf(T.ArrayType(item))
    def _probe(x: pa.Array, y: pa.Array) -> pa.Array:
        ix, pack, geom_offsets = _worker_pack(token, bc)
        # float64, NaN where NULL
        x, y = (a.cast(pa.float64()).to_numpy(zero_copy_only=False) for a in (x, y))
        pt, row, loc = probe_points(ix, pack, geom_offsets, x, y, accepted)
        counts = np.bincount(pt, minlength=len(x))
        offsets = pa.array(np.concatenate(([0], np.cumsum(counts))), pa.int32())
        values = pa.array(ix.ids[row]).cast(id_type)
        if keep_location:
            values = pa.StructArray.from_arrays(
                [values, pa.array(loc)], names=[id_field.name, "location"]
            )
        return pa.ListArray.from_arrays(offsets, values)

    return _probe


@dataclass(frozen=True)
class PreparedPolygons:
    """A polygon dim read and prepared once for broadcast point joins.

    ``index`` is the broadcast :class:`DimIndex`, and
    ``probe(accepted, keep_location)`` makes the Arrow UDF of one join
    over it. ``rest`` holds the dim's columns, one row per id, which a
    join re-attaches by ``id_col``: the caller's id column or an
    internal one. ``columns`` are the dim's own columns in order;
    ``build_rows``, ``all_subcells`` and ``full_subcells`` count the
    build rows and the sub-cells set in their ALL and FULL masks."""

    id_col: str
    columns: tuple[str, ...]
    rest: DataFrame
    index: DimIndex
    probe: object
    build_rows: int
    all_subcells: int
    full_subcells: int


def _popcount(masks: np.ndarray) -> int:
    return int(np.unpackbits(masks.view(np.uint8)).sum())


_INTERNAL_ID = "__pid"

# dim DataFrame -> {(id col, bbox cols, wkb col, level, extent): prepared}
_PREPARED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def prepare_polygons(
    polygons: DataFrame,
    *,
    poly_id_col: str | None,
    wkb_col: str,
    bbox_cols: tuple[str, str, str, str],
    level: int,
    extent: tuple[float, float, float, float],
) -> PreparedPolygons:
    """The prepared form of ``polygons``, built on first use and
    memoized on the DataFrame object until it is garbage-collected.

    The dim is read when it is first prepared: later joins against the
    same DataFrame reuse what was read then, so a changed dim source
    needs a new DataFrame. The driver decodes the dim once to classify
    the sub-cells of every tile (``kernels.subcells.subcell_masks``)
    and broadcasts the build rows, sorted by tile key, with the ids
    and WKBs (:class:`DimIndex`); no per-query relation is built. A
    polygon the driver cannot decode gets all-PARTIAL masks, and the
    workers, which cannot decode it either, drop its every pair."""
    if level > 16:
        raise ValueError("Level out of range")
    key = (poly_id_col, tuple(bbox_cols), wkb_col, level, tuple(extent))
    memo = _PREPARED.setdefault(polygons, {})
    if key in memo:
        return memo[key]
    spark = polygons.sparkSession
    dim = polygons.toArrow()  # the one read of the dim
    id_col = poly_id_col or _INTERNAL_ID
    if poly_id_col is None:
        dim = dim.append_column(id_col, pa.array(np.arange(dim.num_rows)))
    ids = dim.column(id_col).to_numpy().astype(np.int64)
    order = np.argsort(ids, kind="stable")
    if (np.diff(ids[order]) == 0).any():
        raise ValueError(f"poly_id_col {poly_id_col!r} is not unique")
    dim = dim.take(pa.array(order))
    wkbs = dim.column(wkb_col).to_pylist()
    bbox = np.column_stack(
        [dim.column(c).to_numpy().astype(np.float64) for c in bbox_cols]
    )
    row, cell, all_mask, full_mask = subcell_masks(wkbs, bbox, level, extent)
    by = np.argsort(cell, kind="stable")
    tiles = np.append(np.unique(cell), np.iinfo(np.int64).max)
    index = DimIndex(
        ids=ids[order], wkbs=wkbs, level=level,
        extent=tuple(float(v) for v in extent),
        tiles=tiles, start=np.append(np.searchsorted(cell[by], tiles), len(by)),
        row=row[by], bbox=bbox[row[by]],
        all=all_mask[by].view(np.uint64), full=full_mask[by].view(np.uint64),
    )
    bc = spark.sparkContext.broadcast(index)
    id_field = polygons.schema[id_col] if poly_id_col else T.StructField(id_col, T.LongType())
    # one row per id, as the optimizer can see: a left join on the id
    # then drops out of plans that read none of the dim's columns. The
    # local relation carries no size estimate: hint the broadcast.
    rest = spark.createDataFrame(dim).dropDuplicates([id_col])
    memo[key] = PreparedPolygons(
        id_col=id_col,
        columns=tuple(polygons.columns),
        rest=F.broadcast(rest),
        index=index,
        probe=partial(_probe_udf, bc, uuid.uuid4().hex, id_field),
        build_rows=len(index.row),
        all_subcells=_popcount(index.all),
        full_subcells=_popcount(index.full),
    )
    return memo[key]


_EDGES_SCHEMA = T.ArrayType(
    T.StructType([T.StructField(c, T.DoubleType()) for c in ("x1", "y1", "x2", "y2")])
)


@arrow_udf(_EDGES_SCHEMA)
def _wkb_edges(wkb: pa.Array) -> pa.Array:
    """All boundary segments of each (multi)polygon as an array column
    (dim-table prep for ``within_distance_join_polygons``), built from
    the decoded pack's segment arrays; a NULL or undecodable WKB gets
    NULL edges."""
    from geos_spark.kernels.wkb import decode_polygons_flagged

    pack, geom_offsets, bad = decode_polygons_flagged([b or b"" for b in wkb.to_pylist()])
    edges = pa.StructArray.from_arrays(
        [pack.seg_x1, pack.seg_y1, pack.seg_x2, pack.seg_y2],
        names=["x1", "y1", "x2", "y2"],
    )
    offsets = pa.array(pack.poly_seg_offsets[geom_offsets], pa.int32())
    return pa.ListArray.from_arrays(offsets, edges, mask=pa.array(bad))


def _native_within_distance(
    px: Column, py: Column, edges: Column, distance: float
) -> Column:
    """Point within ``distance`` of a polygon, as pure Catalyst
    higher-order functions over the boundary ``__edges`` arrays:
    ray-crossing parity (interior)
    OR some boundary segment within distance (point-to-segment
    squared distance with the closest-point parameterization of
    ``geos::algorithm::Distance::pointToSegment``,
    src/algorithm/Distance.cpp:60-100). Every multiply is written in
    exactly the order the SQL oracle uses, so membership decisions
    at the d^2 threshold agree bit-for-bit."""
    d2 = F.lit(float(distance) * float(distance))

    def crossing(e):
        upward = (e["y1"] > py) & (e["y2"] <= py)
        downward = (e["y2"] > py) & (e["y1"] <= py)
        orient = (e["x2"] - e["x1"]) * (py - e["y1"]) - (
            e["y2"] - e["y1"]
        ) * (px - e["x1"])
        sign = F.when(e["y2"] < e["y1"], -orient).otherwise(orient)
        return (upward | downward) & (sign > 0)

    def seg_near(e):
        # projection form: dist^2 = |p-a|^2 - t_raw^2/len2 inside the
        # segment span, |p-a|^2 / |p-b|^2 past the ends. One CASE, no
        # repeated closest-point subtree (Catalyst lambdas don't CSE,
        # so the naive clamp+closest-point form evaluates t four
        # times per edge).
        dx = e["x2"] - e["x1"]
        dy = e["y2"] - e["y1"]
        len2 = dx * dx + dy * dy
        t_raw = (px - e["x1"]) * dx + (py - e["y1"]) * dy
        pa2 = (px - e["x1"]) * (px - e["x1"]) + (py - e["y1"]) * (
            py - e["y1"]
        )
        pb2 = (px - e["x2"]) * (px - e["x2"]) + (py - e["y2"]) * (
            py - e["y2"]
        )
        dist2 = (
            F.when(t_raw <= 0, pa2)
            .when(t_raw >= len2, pb2)
            .otherwise(pa2 - t_raw * t_raw / len2)
        )
        return dist2 <= d2

    n_cross = F.size(F.filter(edges, crossing))
    # NULL edges (an undecodable polygon) match nothing: a non-ANSI
    # session sizes NULL as -1, an odd crossing count
    return edges.isNotNull() & (
        (F.pmod(n_cross, F.lit(2)) == 1) | F.exists(edges, seg_near)
    )


def within_distance_join_polygons(
    points: DataFrame,
    polygons: DataFrame,
    distance: float,
    *,
    x_col: str = "x",
    y_col: str = "y",
    wkb_col: str = "wkb",
    bbox_cols: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    level: int = 6,
    extent=DEFAULT_EXTENT,
    poly_id_col: str | None = None,
) -> DataFrame:
    """Within-distance join of points to POLYGONS with a zero-python
    refine (GEOSDistanceWithin for point-vs-polygonal operands, capi
    geos_c.h.in DistanceWithin).

    Global phase: each polygon explodes to every tile its d-expanded
    envelope overlaps, and that side is broadcast; points join on
    their containing tile; a codegen expanded-bbox filter prunes.
    Refine: ``_native_within_distance`` higher-order expressions over
    the boundary edge arrays — the whole probe-side plan stays inside
    whole-stage codegen (no Arrow boundary, no python workers on the
    probe side). ``poly_id_col``,
    when given, must be unique: the polygons' other columns are
    re-attached by it."""
    xmin, ymin, xmax, ymax = bbox_cols
    pts = with_tile_key(points, x_col, y_col, level, extent)
    build = polygons.select(
        *([poly_id_col] if poly_id_col else []),
        *bbox_cols,
        _wkb_edges(F.col(wkb_col)).alias("__edges"),
    )
    # the explode defeats size estimation: hint the broadcast
    polys = F.broadcast(
        with_tile_keys_exploded(build, bbox_cols, level, extent, pad=distance)
    )
    d = F.lit(float(distance))
    cand = pts.join(polys, "__cell").where(
        (F.col(x_col) >= F.col(xmin) - d)
        & (F.col(x_col) <= F.col(xmax) + d)
        & (F.col(y_col) >= F.col(ymin) - d)
        & (F.col(y_col) <= F.col(ymax) + d)
    )
    out = cand.where(
        _native_within_distance(
            F.col(x_col), F.col(y_col), F.col("__edges"), distance
        )
    ).drop("__cell", "__edges")
    if poly_id_col is not None:
        # re-attach remaining polygon columns (incl. wkb): output
        # contract matches point_in_polygon_join. A left join on the
        # deduplicated id, so plans that read none of them drop it.
        rest = polygons.drop(*bbox_cols)
        if len(rest.columns) > 1:
            rest = rest.dropDuplicates([poly_id_col])
            out = out.join(F.broadcast(rest), poly_id_col, "left")
    return out


def relate_refine(predicate: str):
    """Factory: pUDF evaluating a named DE-9IM predicate on WKB pairs.

    Each distinct WKB decodes once per batch; the predicate runs on
    the relate kernel (general path). ``predicate`` may also be a
    9-char DE-9IM pattern.
    """

    @pandas_udf(T.BooleanType())
    def _refine(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
        from geos_spark.kernels import relate as R
        from geos_spark.kernels.wkb import parse_wkb

        ca, ua = pd.factorize(wkb_a.map(bytes))
        cb, ub = pd.factorize(wkb_b.map(bytes))
        ga = [parse_wkb(u) for u in ua]
        gb = [parse_wkb(u) for u in ub]
        if len(predicate) == 9:
            fn = lambda a, b: R.relate_pattern(a, b, predicate)  # noqa: E731
        elif predicate == "intersects":
            # vectorized fast path: for valid polygonal operands,
            # intersects == any segment crossing OR mutual vertex
            # containment — all numpy (blocked segment matrix +
            # stripe-indexed PIP), no per-pair IM computation
            fn = _polys_intersect_fast
        elif predicate in ("contains", "covers"):
            fb = getattr(R, predicate)
            fn = lambda a, b: _polys_superset_fast(a, b, fb)  # noqa: E731
        elif predicate in ("within", "coveredby"):
            fb = getattr(R, predicate)
            fn = lambda a, b: _polys_superset_fast(  # noqa: E731
                b, a, lambda x, y: fb(y, x)
            )
        elif predicate == "touches":
            fn = _polys_touches_fast
        elif predicate == "overlaps":
            fn = _polys_overlaps_fast
        else:
            fn = getattr(R, "equals_topo" if predicate == "equalstopo" else predicate)
        cache: dict[tuple[int, int], bool] = {}
        out = []
        for i, j in zip(ca, cb):
            k = (int(i), int(j))
            v = cache.get(k)
            if v is None:
                v = bool(fn(ga[i], gb[j]))
                cache[k] = v
            out.append(v)
        return pd.Series(out, dtype=bool)

    return _refine


def _polys_intersect_fast(ga, gb) -> bool:
    """Polygon-polygon intersects without the IM machinery: any
    boundary segment pair crosses, or one contains a vertex of the
    other (complete for valid polygons — if boundaries are disjoint
    and neither contains the other, they are disjoint). Falls back to
    the general relate for non-areal operands."""
    from geos_spark.kernels import geom as G
    from geos_spark.kernels import relate as R
    from geos_spark.kernels.pip import EXTERIOR
    from geos_spark.kernels.scalars import _segments
    from geos_spark.kernels.segments import segments_intersect_any

    pa = [p for p in ga.geoms() if p.type_id == G.POLYGON and p.data]
    pb = [p for p in gb.geoms() if p.type_id == G.POLYGON and p.data]
    if not pa or not pb:
        return R.intersects(ga, gb)
    sa = _segments(ga)
    sb = _segments(gb)
    if len(sa) and len(sb) and segments_intersect_any(sa, sb):
        return True
    # one shell vertex per PART (a part can be contained while its
    # siblings are not, with no boundary crossing)
    va = np.asarray([p.data[0][0] for p in pa])
    vb = np.asarray([p.data[0][0] for p in pb])
    if (R._locate_in_polys(va, pb) != EXTERIOR).any():
        return True
    return bool((R._locate_in_polys(vb, pa) != EXTERIOR).any())


def _areal_summary(ga, gb):
    """Blocked boundary-intersection summary for an areal pair.

    Returns (pa, pb, any_int, any_proper) with pa/pb the polygonal
    parts, any_int = any segment-pair intersection (incl. touches),
    any_proper = any transversal crossing (all four orientations
    strictly nonzero).  None when either operand has no areal part.
    Reference semantics: IntersectionMatrix.cpp:279-284 via the
    prepared-geometry shortcuts (PreparedPolygonContains.cpp).
    """
    from geos_spark.kernels import geom as G
    from geos_spark.kernels.orientation import orientation_index
    from geos_spark.kernels.scalars import _segments
    from geos_spark.kernels.segments import _env_overlap, intersect_pairs

    # GC parts may overlap each other (RelateNG union semantics), so
    # a segment crossing there can be interior to the union and the
    # boundary reasoning below is unsound — purely polygonal operands
    # only (valid MultiPolygon parts have disjoint interiors)
    if ga.type_id not in (G.POLYGON, G.MULTIPOLYGON) or gb.type_id not in (
        G.POLYGON,
        G.MULTIPOLYGON,
    ):
        return None
    pa = [p for p in ga.geoms() if p.type_id == G.POLYGON and p.data]
    pb = [p for p in gb.geoms() if p.type_id == G.POLYGON and p.data]
    if not pa or not pb:
        return None
    sa = _segments(ga)
    sb = _segments(gb)
    any_int = False
    any_proper = False
    BLOCK = 512
    for i in range(0, len(sa), BLOCK):
        ca = sa[i : i + BLOCK]
        for j in range(0, len(sb), BLOCK):
            cb = sb[j : j + BLOCK]
            ia = np.repeat(np.arange(len(ca)), len(cb))
            ib = np.tile(np.arange(len(cb)), len(ca))
            A, B = ca[ia], cb[ib]
            env = _env_overlap(A, B)
            if not env.any():
                continue
            cls = intersect_pairs(A[env], B[env])
            if (cls > 0).any():
                any_int = True
                Ae, Be = A[env], B[env]
                o1 = orientation_index(
                    Ae[:, 0], Ae[:, 1], Ae[:, 2], Ae[:, 3], Be[:, 0], Be[:, 1]
                )
                o2 = orientation_index(
                    Ae[:, 0], Ae[:, 1], Ae[:, 2], Ae[:, 3], Be[:, 2], Be[:, 3]
                )
                o3 = orientation_index(
                    Be[:, 0], Be[:, 1], Be[:, 2], Be[:, 3], Ae[:, 0], Ae[:, 1]
                )
                o4 = orientation_index(
                    Be[:, 0], Be[:, 1], Be[:, 2], Be[:, 3], Ae[:, 2], Ae[:, 3]
                )
                if (
                    (o1.astype(np.int8) * o2.astype(np.int8) < 0)
                    & (o3.astype(np.int8) * o4.astype(np.int8) < 0)
                ).any():
                    any_proper = True
                    return pa, pb, True, True
    return pa, pb, any_int, any_proper


def _polys_superset_fast(ga, gb, fallback):
    """Decide gb ⊆ ga (contains/covers for valid areal pairs) without
    the IM machinery; touch-only pairs fall back to ``fallback``.

    With zero boundary intersections each part of B is wholly inside
    or outside A (one shell vertex decides), and the only other leak
    is a hole of A poking into B's interior (one vertex per A hole
    ring decides).  A transversal boundary crossing puts part of B's
    closure in ext(A) -> False."""
    from geos_spark.kernels import relate as R
    from geos_spark.kernels.pip import EXTERIOR, INTERIOR

    s = _areal_summary(ga, gb)
    if s is None:
        return fallback(ga, gb)
    pa, pb, any_int, any_proper = s
    if any_proper:
        return False
    if not any_int:
        vb = np.asarray([p.data[0][0] for p in pb])
        locs = R._locate_in_polys(vb, pa)
        if (locs == EXTERIOR).any():
            return False
        hole_pts = [r[0] for p in pa for r in p.data[1:]]
        if hole_pts and (
            R._locate_in_polys(np.asarray(hole_pts), pb) == INTERIOR
        ).any():
            return False
        return True
    return fallback(ga, gb)


def _polys_touches_fast(ga, gb):
    """touches() for areal pairs: a transversal crossing or interior
    overlap -> False; disjoint/contained with no boundary contact ->
    False; boundary-contact-only pairs go to the full relate."""
    from geos_spark.kernels import relate as R

    s = _areal_summary(ga, gb)
    if s is None:
        return R.touches(ga, gb)
    pa, pb, any_int, any_proper = s
    if any_proper:
        return False
    if not any_int:
        return False
    return R.touches(ga, gb)


def _polys_overlaps_fast(ga, gb):
    """overlaps() for areal pairs: a transversal crossing proves
    int∩int, int(B)∩ext(A) and int(A)∩ext(B) all nonempty -> True;
    with no boundary contact, decide from per-part containment (a
    hole of one poking into the other's interior breaks subset-ness
    without any boundary contact)."""
    from geos_spark.kernels import relate as R
    from geos_spark.kernels.pip import INTERIOR

    s = _areal_summary(ga, gb)
    if s is None:
        return R.overlaps(ga, gb)
    pa, pb, any_int, any_proper = s
    if any_proper:
        return True
    if not any_int:
        vb = np.asarray([p.data[0][0] for p in pb])
        va = np.asarray([p.data[0][0] for p in pa])
        lb = R._locate_in_polys(vb, pa)
        la = R._locate_in_polys(va, pb)
        int_int = (lb == INTERIOR).any() or (la == INTERIOR).any()
        if not int_int:
            return False
        a_holes = [r[0] for p in pa for r in p.data[1:]]
        b_holes = [r[0] for p in pb for r in p.data[1:]]
        b_sub = (lb == INTERIOR).all() and not (
            a_holes
            and (
                R._locate_in_polys(np.asarray(a_holes), pb) == INTERIOR
            ).any()
        )
        a_sub = (la == INTERIOR).all() and not (
            b_holes
            and (
                R._locate_in_polys(np.asarray(b_holes), pa) == INTERIOR
            ).any()
        )
        return not b_sub and not a_sub
    return R.overlaps(ga, gb)


def polygon_join(
    a: DataFrame,
    b: DataFrame,
    predicate: str = "intersects",
    *,
    a_bbox: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    b_bbox: tuple[str, str, str, str] = ("bxmin", "bymin", "bxmax", "bymax"),
    a_wkb: str = "wkb",
    b_wkb: str = "bwkb",
    level: int = 6,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
) -> DataFrame:
    """Generic geometry-geometry spatial join (both sides non-point).

    Both sides explode to overlapping tiles; candidates pass the
    envelope short-circuit, then the reference-point rule keeps each
    pair only in the tile containing (max(xmin_a, xmin_b),
    max(ymin_a, ymin_b)) — no duplicate pairs, no second distinct
    shuffle (SURVEY §3.1 dedup). Refine = relate-kernel pUDF.
    """
    axmin, aymin, axmax, aymax = a_bbox
    bxmin, bymin, bxmax, bymax = b_bbox

    ea = with_grid_exploded(a, a_bbox, level, extent)
    ea = ea.withColumn("__cell", tile_key(F.col("__gx"), F.col("__gy"), level))
    eb = with_tile_keys_exploded(b, b_bbox, level, extent)

    cand = ea.join(eb, "__cell").where(
        (F.col(axmin) <= F.col(bxmax))
        & (F.col(bxmin) <= F.col(axmax))
        & (F.col(aymin) <= F.col(bymax))
        & (F.col(bymin) <= F.col(aymax))
    )
    # reference-point dedup (codegen'd, no shuffle)
    rx = f"greatest({sql_name(axmin)}, {sql_name(bxmin)})"
    ry = f"greatest({sql_name(aymin)}, {sql_name(bymin)})"
    rgx, rgy = grid_xy(rx, ry, level, extent)
    cand = cand.where(f"__gx = {rgx} AND __gy = {rgy}")

    refined = cand.withColumn(
        "__ok", relate_refine(predicate)(F.col(a_wkb), F.col(b_wkb))
    )
    return (
        refined.where(F.col("__ok"))
        .drop("__ok", "__cell", "__gx", "__gy")
    )


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    predicate: str = "intersects",
    *,
    x_col: str = "x",
    y_col: str = "y",
    wkb_col: str = "wkb",
    bbox_cols: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    level: int = 6,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
    keep_location: bool = False,
    broadcast_build: bool = True,
    poly_id_col: str | None = None,
) -> DataFrame:
    """Join points to polygons on a spatial predicate.

    Returns all columns of both inputs (plus ``location`` if
    requested). Inputs must not share column names. ``points`` may be
    a streaming DataFrame. A NULL, NaN or infinite coordinate matches
    nothing.

    With ``broadcast_build`` (the default) the polygon dim is prepared
    once per DataFrame (:func:`prepare_polygons`): later joins against
    the same DataFrame reuse its first read, so a changed dim needs a
    new DataFrame. Each batch of points is joined locally in a python
    worker (:func:`probe_points`): the plan is the points' scan, one
    Arrow UDF and an ``explode``, with no exchange, and only the dim
    columns the caller reads are re-attached.
    ``poly_id_col`` names a unique integer id column; without one the
    dim gets an internal id. ``broadcast_build=False`` is for
    polygon sides too large to broadcast: the exploded polygons,
    WKB included, meet the points in a shuffle join (AQE skew-join is
    the backstop for a hot tile).
    """
    if predicate not in _POINT_PREDICATES:
        raise ValueError(
            f"unsupported point predicate {predicate!r}; "
            f"one of {sorted(_POINT_PREDICATES)}"
        )
    accepted = _POINT_PREDICATES[predicate]

    if broadcast_build:
        prepared = prepare_polygons(
            polygons, poly_id_col=poly_id_col, wkb_col=wkb_col,
            bbox_cols=bbox_cols, level=level, extent=extent,
        )
        hits = prepared.probe(accepted, keep_location)(x_col, y_col)
        if keep_location:
            out = points.select("*", F.inline(hits))
        else:
            out = points.select("*", F.explode(hits).alias(prepared.id_col))
        # re-attach the dim's columns (incl. wkb and bbox) by a left
        # join on the unique id: the optimizer removes it from plans
        # that read none of them
        out = out.join(prepared.rest, prepared.id_col, "left")
        return out.select(
            *points.columns,
            *prepared.columns,
            *(["location"] if keep_location else []),
        )

    # shuffle join: tile-key equijoin + envelope short-circuit
    # (codegen) as SQL text, one parse instead of a py4j call per
    # operator; the pUDF stays a filter above the join
    pts = with_tile_key(points, x_col, y_col, level, extent)
    polys = with_tile_keys_exploded(polygons, bbox_cols, level, extent)
    x, y = sql_name(x_col), sql_name(y_col)
    xmin, ymin, xmax, ymax = (sql_name(c) for c in bbox_cols)
    keep = F.expr(f"{x} >= {xmin} AND {x} <= {xmax} AND {y} >= {ymin} AND {y} <= {ymax}")
    cand = pts.join(polys, "__cell")
    loc_expr = pip_refine(x_col, y_col, wkb_col)
    if keep_location:
        refined = cand.where(keep).withColumn("location", loc_expr)
        out = refined.where(F.col("location").isin(list(accepted)))
    else:
        # filter directly on the pUDF: withColumn + where would make
        # Catalyst evaluate the python UDF twice (once in the filter,
        # once in the projection that is then dropped)
        out = cand.where(keep & loc_expr.isin(list(accepted)))
    return out.drop("__cell")
