"""``st_*`` column functions — vectorized pandas UDFs over Arrow batches.

These are the pUDF tier: each call receives a pandas Series batch,
decodes WKB once per batch into flat numpy buffers, runs a kernel from
``geos_spark.kernels``, and returns a Series. No per-row Python in any
hot loop beyond the (unavoidable) per-value WKB structure walk for
non-point geometries; point columns use the fully vectorized codec.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geos_spark.kernels import geom as G
from geos_spark.kernels import hilbert as H
from geos_spark.kernels import scalars as S
from geos_spark.kernels.wkb import parse_wkb, write_wkb
from geos_spark.kernels.wkt import parse_wkt, write_wkt

DEFAULT_EXTENT = (0.0, 0.0, 4096.0, 4096.0)


@pandas_udf(T.BinaryType())
def st_geomfromtext(wkt: pd.Series) -> pd.Series:
    def _one(s):
        if s is None:
            return None
        try:
            return write_wkb(parse_wkt(s))
        except Exception:
            # per-row null-out, the GEOS C-API reader convention: a
            # malformed row yields NULL, not a failed task
            return None

    return wkt.map(_one)


@pandas_udf(T.StringType())
def st_astext(wkb: pd.Series) -> pd.Series:
    def _one(b):
        if b is None:
            return None
        try:
            return write_wkt(parse_wkb(b))
        except Exception:
            return None

    return wkb.map(_one)


def _row_nullout(fn):
    """Wrap a per-value kernel call with the engine contract: any
    per-row failure (malformed value, or an operation the reference
    defines as throwing — e.g. area of an unclosed curve ring) yields
    NULL, never a failed task."""

    def _one(b):
        if b is None:
            return None
        try:
            return fn(b)
        except Exception:
            return None

    return _one


@pandas_udf(T.DoubleType())
def st_area(wkb: pd.Series) -> pd.Series:
    return wkb.map(_row_nullout(lambda b: S.geom_area(parse_wkb(b))))


@pandas_udf(T.DoubleType())
def st_length(wkb: pd.Series) -> pd.Series:
    return wkb.map(_row_nullout(lambda b: S.geom_length(parse_wkb(b))))


@pandas_udf(T.StringType())
def st_geometrytype(wkb: pd.Series) -> pd.Series:
    """CamelCase type name (GEOSGeomType / Geometry::getGeometryType),
    including the SQL/MM curve types."""
    return wkb.map(
        _row_nullout(lambda b: S.geometry_type_name(parse_wkb(b)))
    )


@pandas_udf(T.IntegerType())
def st_numpoints(wkb: pd.Series) -> pd.Series:
    """Total vertex count (GEOSGeomGetNumPoints generalized to all
    types as Geometry::getNumPoints does)."""
    return wkb.map(
        _row_nullout(lambda b: S.geom_num_points(parse_wkb(b)))
    )


@pandas_udf(T.IntegerType())
def st_numgeometries(wkb: pd.Series) -> pd.Series:
    """GEOSGetNumGeometries."""
    return wkb.map(
        _row_nullout(lambda b: S.geom_num_geometries(parse_wkb(b)))
    )


# -- structural accessors (kernels/access.py; capi getter surface) ----


def st_pointn(n: int):
    """GEOSGeomGetPointN (zero-based) -> POINT wkb."""

    @pandas_udf(T.BinaryType())
    def _pointn(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels import access as A

        return wkb.map(
            _row_nullout(lambda b: write_wkb(A.point_n(parse_wkb(b), n)))
        )

    return _pointn


@pandas_udf(T.BinaryType())
def st_startpoint(wkb: pd.Series) -> pd.Series:
    """GEOSGeomGetStartPoint."""
    from geos_spark.kernels import access as A

    return wkb.map(
        _row_nullout(lambda b: write_wkb(A.start_point(parse_wkb(b))))
    )


@pandas_udf(T.BinaryType())
def st_endpoint(wkb: pd.Series) -> pd.Series:
    """GEOSGeomGetEndPoint."""
    from geos_spark.kernels import access as A

    return wkb.map(
        _row_nullout(lambda b: write_wkb(A.end_point(parse_wkb(b))))
    )


@pandas_udf(T.BinaryType())
def st_exteriorring(wkb: pd.Series) -> pd.Series:
    """GEOSGetExteriorRing (shell as closed LINESTRING; CURVEPOLYGON
    shells keep their curve type)."""
    from geos_spark.kernels import access as A

    return wkb.map(
        _row_nullout(lambda b: write_wkb(A.exterior_ring(parse_wkb(b))))
    )


def st_interiorringn(n: int):
    """GEOSGetInteriorRingN (zero-based)."""

    @pandas_udf(T.BinaryType())
    def _irn(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels import access as A

        return wkb.map(
            _row_nullout(
                lambda b: write_wkb(A.interior_ring_n(parse_wkb(b), n))
            )
        )

    return _irn


@pandas_udf(T.IntegerType())
def st_numinteriorrings(wkb: pd.Series) -> pd.Series:
    """GEOSGetNumInteriorRings (Surface argument contract: non-surface
    rows null out)."""
    from geos_spark.kernels import access as A

    return wkb.map(
        _row_nullout(lambda b: A.num_interior_rings(parse_wkb(b)))
    )


def st_geometryn(n: int):
    """GEOSGetGeometryN (atomic geometries are their own member 0)."""

    @pandas_udf(T.BinaryType())
    def _gn(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels import access as A

        return wkb.map(
            _row_nullout(
                lambda b: write_wkb(A.geometry_n(parse_wkb(b), n))
            )
        )

    return _gn


@pandas_udf(T.IntegerType())
def st_numcoordinates(wkb: pd.Series) -> pd.Series:
    """GEOSGetNumCoordinates."""
    from geos_spark.kernels import access as A

    return wkb.map(
        _row_nullout(lambda b: A.num_coordinates(parse_wkb(b)))
    )


@pandas_udf(T.BinaryType())
def st_uniquepoints(wkb: pd.Series) -> pd.Series:
    """GEOSGeom_extractUniquePoints (first-occurrence order)."""
    from geos_spark.kernels import access as A

    return wkb.map(
        _row_nullout(
            lambda b: write_wkb(A.extract_unique_points(parse_wkb(b)))
        )
    )


@pandas_udf(T.IntegerType())
def st_dimension(wkb: pd.Series) -> pd.Series:
    """GEOSGeom_getDimensions (topological dimension; -1 for empty)."""
    return wkb.map(_row_nullout(lambda b: parse_wkb(b).dimension()))


def st_orientpolygons(exterior_cw: bool = False):
    """GEOSOrientPolygons: shells CW + holes CCW when exterior_cw,
    the OGC convention otherwise; CURVEPOLYGON rows null out exactly
    where the reference throws."""

    @pandas_udf(T.BinaryType())
    def _orient(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels import access as A

        return wkb.map(
            _row_nullout(
                lambda b: write_wkb(
                    A.orient_polygons(parse_wkb(b), exterior_cw)
                )
            )
        )

    return _orient


@pandas_udf(T.BinaryType())
def st_pointonsurface(wkb: pd.Series) -> pd.Series:
    """GEOSPointOnSurface == InteriorPointOperation."""

    def f(b):
        c = S.interior_point(parse_wkb(b))
        if c is None:
            return write_wkb(G.Geom.empty(G.POINT))
        import numpy as np

        return write_wkb(G.Geom(G.POINT, np.array([[c[0], c[1]]])))

    return wkb.map(_row_nullout(f))


@pandas_udf(T.BinaryType())
def st_minclearanceline(wkb: pd.Series) -> pd.Series:
    """GEOSMinimumClearanceLine (2-point LINESTRING; LINESTRING EMPTY
    when clearance is infinite)."""
    from geos_spark.kernels.clearance import min_clearance

    return wkb.map(
        _row_nullout(lambda b: write_wkb(min_clearance(parse_wkb(b))[1]))
    )


def st_relatepattern(pattern: str):
    """GEOSRelatePattern: relate(a, b) matched against a DE-9IM
    pattern -> boolean."""

    @pandas_udf(T.BooleanType())
    def _rp(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
        from geos_spark.kernels.relate import relate_pattern

        def f(a, b):
            if a is None or b is None:
                return None
            try:
                return bool(
                    relate_pattern(parse_wkb(a), parse_wkb(b), pattern)
                )
            except Exception:
                return None

        return pd.Series(
            [f(a, b) for a, b in zip(wkb_a, wkb_b)], dtype="object"
        )

    return _rp


def st_relatematch(pattern: str):
    """GEOSRelatePatternMatch: match an IM string column against a
    pattern (string-level; T/F/0/1/2/* per cell)."""

    @pandas_udf(T.BooleanType())
    def _rm(im: pd.Series) -> pd.Series:
        from geos_spark.kernels.relate import matches

        return im.map(
            lambda s: None if s is None else bool(matches(s, pattern))
        )

    return _rm


def st_project(normalized: bool = False):
    """GEOSProject / GEOSProjectNormalized: distance along line a to
    the nearest point to point b."""

    @pandas_udf(T.DoubleType())
    def _proj(line: pd.Series, point: pd.Series) -> pd.Series:
        from geos_spark.kernels.linear import line_length, project

        def f(a, b):
            if a is None or b is None:
                return None
            try:
                ga, gb = parse_wkb(a), parse_wkb(b)
                if ga.type_id != G.LINESTRING or gb.type_id != G.POINT:
                    return None
                d = project(ga.data, gb.data[0, 0], gb.data[0, 1])
                if normalized:
                    ll = line_length(ga.data)
                    return d / ll if ll > 0 else 0.0
                return d
            except Exception:
                return None

        return pd.Series([f(a, b) for a, b in zip(line, point)])

    return _proj


def st_interpolate(dist: float, normalized: bool = False):
    """GEOSInterpolate / GEOSInterpolateNormalized: POINT at distance
    (or length fraction) along a LINESTRING."""

    @pandas_udf(T.BinaryType())
    def _interp(line: pd.Series) -> pd.Series:
        from geos_spark.kernels.linear import interpolate, line_length

        def f(a):
            ga = parse_wkb(a)
            if ga.type_id != G.LINESTRING:
                raise ValueError("interpolate: not a LineString")
            d = dist * line_length(ga.data) if normalized else dist
            x, y = interpolate(ga.data, d)
            import numpy as np

            return write_wkb(G.Geom(G.POINT, np.array([[x, y]])))

        return line.map(_row_nullout(f))

    return _interp


def st_linesubstring(start: float, end: float):
    """GEOSLineSubstring (start/end as length fractions 0..1)."""

    @pandas_udf(T.BinaryType())
    def _sub(line: pd.Series) -> pd.Series:
        from geos_spark.kernels.linear import line_substring

        def f(a):
            from geos_spark.kernels.linear import line_length

            ga = parse_wkb(a)
            if ga.type_id != G.LINESTRING:
                raise ValueError("lineSubstring: not a LineString")
            # capi takes length FRACTIONS (geos_c.h.in \"start_fraction
            # (0-1)\"); the kernel's index space is absolute length
            ll = line_length(ga.data)
            return write_wkb(
                G.Geom(
                    G.LINESTRING,
                    line_substring(ga.data, start * ll, end * ll),
                )
            )

        return line.map(_row_nullout(f))

    return _sub


@pandas_udf(T.BooleanType())
def st_isclosed(wkb: pd.Series) -> pd.Series:
    """GEOSisClosed: linework only (curves included); other types
    null out as the reference's exception does."""
    return wkb.map(
        _row_nullout(lambda b: S.curve_is_closed(parse_wkb(b)))
    )


@pandas_udf(T.BooleanType())
def st_isempty(wkb: pd.Series) -> pd.Series:
    """GEOSisEmpty."""
    return wkb.map(_row_nullout(lambda b: bool(parse_wkb(b).is_empty)))


@pandas_udf(T.BooleanType())
def st_hascurve(wkb: pd.Series) -> pd.Series:
    """Geometry::hasCurvedComponents (true iff any CircularString
    component is present)."""
    return wkb.map(_row_nullout(lambda b: bool(parse_wkb(b).has_curves)))


@pandas_udf(T.BinaryType())
def st_reverse(wkb: pd.Series) -> pd.Series:
    """GEOSReverse (curve-aware: CompoundCurve reverses section order
    too)."""
    return wkb.map(
        _row_nullout(lambda b: write_wkb(S.reverse_geom(parse_wkb(b))))
    )


@pandas_udf(T.BinaryType())
def st_normalize(wkb: pd.Series) -> pd.Series:
    """GEOSNormalize (capi/geos_c.h.in:3325): canonical vertex order /
    ring orientation / component order — Geometry::normalize()."""
    return wkb.map(
        _row_nullout(lambda b: write_wkb(S.normalize_geom(parse_wkb(b))))
    )


@pandas_udf(T.DoubleType())
def st_centroid_x(wkb: pd.Series) -> pd.Series:
    def f(b):
        c = S.geom_centroid(parse_wkb(b))
        return None if c is None else c[0]

    return wkb.map(_row_nullout(f))


@pandas_udf(T.DoubleType())
def st_centroid_y(wkb: pd.Series) -> pd.Series:
    def f(b):
        c = S.geom_centroid(parse_wkb(b))
        return None if c is None else c[1]

    return wkb.map(_row_nullout(f))


_ENV_SCHEMA = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


@pandas_udf(_ENV_SCHEMA)
def st_envelope_struct(wkb: pd.Series) -> pd.DataFrame:
    rows = []
    for b in wkb:
        if b is None:
            rows.append((None, None, None, None))
        else:
            try:
                rows.append(parse_wkb(b).envelope())
            except Exception:
                rows.append((None, None, None, None))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def st_tile_cells(level: int, extent=DEFAULT_EXTENT):
    """Factory: pUDF mapping envelope columns -> array of all tile
    cells the envelope overlaps (multi-cell assignment for join/tiling).
    """

    @pandas_udf(T.ArrayType(T.LongType()))
    def _cells(
        xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series
    ) -> pd.Series:
        out = []
        for x0, y0, x1, y1 in zip(xmin, ymin, xmax, ymax):
            cells = H.cells_for_envelope(level, x0, y0, x1, y1, extent)
            out.append([int(c) for c in cells])
        return pd.Series(out)

    return _cells


def st_hilbert_envelope(level: int, extent=DEFAULT_EXTENT):
    """Factory: pUDF for the GEOS HilbertEncoder midpoint cell
    (the oracle-exact single-cell assignment)."""

    @pandas_udf(T.LongType())
    def _cell(
        xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series
    ) -> pd.Series:
        cells = H.encode_envelope(
            level,
            xmin.to_numpy(),
            ymin.to_numpy(),
            xmax.to_numpy(),
            ymax.to_numpy(),
            extent,
        )
        return pd.Series(cells.astype("int64"))

    return _cell


@pandas_udf(T.BooleanType())
def st_issimple(wkb: pd.Series) -> pd.Series:
    from geos_spark.kernels.valid import is_simple

    return wkb.map(lambda b: None if b is None else is_simple(parse_wkb(b)))


@pandas_udf(T.BooleanType())
def st_isvalid(wkb: pd.Series) -> pd.Series:
    from geos_spark.kernels.valid import is_valid

    return wkb.map(lambda b: None if b is None else is_valid(parse_wkb(b)))


@pandas_udf(T.StringType())
def st_isvalidreason(wkb: pd.Series) -> pd.Series:
    """GEOSisValidReason (capi geos_c.h.in): "Valid Geometry" or
    "<error>[<x> <y>]"."""
    from geos_spark.kernels.valid import valid_reason

    return wkb.map(
        lambda b: None if b is None else valid_reason(parse_wkb(b))
    )


@pandas_udf(T.BinaryType())
def st_boundary(wkb: pd.Series) -> pd.Series:
    return wkb.map(
        lambda b: None if b is None else write_wkb(S.geom_boundary(parse_wkb(b)))
    )


@pandas_udf(T.BinaryType())
def st_convexhull(wkb: pd.Series) -> pd.Series:
    return wkb.map(
        lambda b: None if b is None else write_wkb(S.convex_hull(parse_wkb(b)))
    )


def st_simplify(tolerance: float):
    @pandas_udf(T.BinaryType())
    def _simplify(wkb: pd.Series) -> pd.Series:
        return wkb.map(
            lambda b: None
            if b is None
            else write_wkb(S.simplify_dp(parse_wkb(b), tolerance))
        )

    return _simplify


def st_densify(tolerance: float):
    from geos_spark.kernels.linear import densify

    @pandas_udf(T.BinaryType())
    def _densify(wkb: pd.Series) -> pd.Series:
        return wkb.map(
            lambda b: None
            if b is None
            else write_wkb(densify(parse_wkb(b), tolerance))
        )

    return _densify


@pandas_udf(T.BinaryType())
def st_coverageunion(wkb: pd.Series) -> pd.Series:
    """GEOSCoverageUnion: fast boundary-cancel union of a valid
    polygonal coverage (no noding)."""
    from geos_spark.kernels.coverage import coverage_union

    def _one(b):
        if b is None:
            return None
        try:
            return write_wkb(coverage_union(parse_wkb(b)))
        except Exception:
            return None

    return wkb.map(_one)


def st_coverageisvalid(gap_width: float = 0.0):
    """Factory: GEOSCoverageIsValid (capi/geos_ts_c.cpp:4477) — the
    input WKB is a collection whose parts form a polygonal coverage;
    returns whether the coverage is valid."""

    @pandas_udf(T.BooleanType())
    def _valid(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.coverage_valid import validate_coverage

        def _one(b):
            if b is None:
                return None
            try:
                g = parse_wkb(b)
                res = validate_coverage(list(g.geoms()), gap_width)
                return all(r is None for r in res)
            except Exception:
                return None

        return wkb.map(_one)

    return _valid


def st_coverageinvalidedges(gap_width: float = 0.0):
    """Factory: the invalid-edges side of GEOSCoverageIsValid — a
    GEOMETRYCOLLECTION with one entry per coverage member (its invalid
    boundary linework, or MULTILINESTRING EMPTY when valid)."""

    @pandas_udf(T.BinaryType())
    def _edges(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels import geom as G
        from geos_spark.kernels.coverage_valid import validate_coverage

        def _one(b):
            if b is None:
                return None
            try:
                g = parse_wkb(b)
                res = validate_coverage(list(g.geoms()), gap_width)
                parts = [
                    G.Geom.empty(G.MULTILINESTRING) if r is None else r
                    for r in res
                ]
                return write_wkb(
                    G.Geom.collection(G.GEOMETRYCOLLECTION, parts)
                )
            except Exception:
                return None

        return wkb.map(_one)

    return _edges


def st_concavehullofpolygons(
    param: float,
    by_ratio: bool = False,
    tight: bool = False,
    holes_allowed: bool = False,
):
    """Factory: GEOSConcaveHullOfPolygons — concave hull of a
    polygonal geometry, respecting the polygons as constraints
    (ConcaveHullOfPolygons.h:83)."""

    @pandas_udf(T.BinaryType())
    def _hull(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.hull_polys import concave_hull_of_polygons

        def _one(b):
            if b is None:
                return None
            try:
                g = parse_wkb(b)
                kw = (
                    {"length_ratio": param}
                    if by_ratio
                    else {"max_length": param}
                )
                return write_wkb(
                    concave_hull_of_polygons(
                        g,
                        tight=tight,
                        holes_allowed=holes_allowed,
                        **kw,
                    )
                )
            except Exception:
                return None

        return wkb.map(_one)

    return _hull


def st_coverageclean(
    snapping_distance: float = -1.0,
    overlap_merge_strategy: int = 0,
    gap_maximum_width: float = 0.0,
):
    """Factory: GEOSCoverageClean — snap/node/merge the members of a
    (possibly invalid) polygonal collection into a valid coverage
    (CoverageCleaner.cpp). Collapsed/covered members become POLYGON
    EMPTY; member order is preserved."""

    @pandas_udf(T.BinaryType())
    def _clean(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels import geom as G
        from geos_spark.kernels.coverage_clean import coverage_clean

        def _one(b):
            if b is None:
                return None
            try:
                g = parse_wkb(b)
                out = coverage_clean(
                    list(g.geoms()),
                    snapping_distance=snapping_distance,
                    overlap_merge_strategy=overlap_merge_strategy,
                    gap_maximum_width=gap_maximum_width,
                )
                parts = [
                    G.Geom.empty(G.POLYGON) if r is None else r
                    for r in out
                ]
                return write_wkb(
                    G.Geom.collection(G.GEOMETRYCOLLECTION, parts)
                )
            except Exception:
                return None

        return wkb.map(_one)

    return _clean


def st_coveragesimplify(tolerance: float, inner_only: bool = False):
    """Factory: GEOSCoverageSimplifyVW (capi geos_c.h.in) — input WKB
    is a collection forming a polygonal coverage; returns the
    collection with every member TPVW-simplified, shared edges kept
    identical (topology preserved)."""

    @pandas_udf(T.BinaryType())
    def _simp(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels import geom as G
        from geos_spark.kernels.coverage_simplify import coverage_simplify

        def _one(b):
            if b is None:
                return None
            try:
                g = parse_wkb(b)
                out = coverage_simplify(
                    list(g.geoms()), tolerance, inner_only=inner_only
                )
                return write_wkb(
                    G.Geom.collection(G.GEOMETRYCOLLECTION, out)
                )
            except Exception:
                return None

        return wkb.map(_one)

    return _simp


def st_offsetcurve(
    distance: float,
    quad_segs: int = 8,
    join: str = "round",
    mitre_limit: float = 5.0,
):
    """GEOSOffsetCurve (capi geos_ts_c.cpp:1322): curve at a signed
    perpendicular offset (left positive)."""
    from geos_spark.kernels.offsetcurve import offset_curve

    @pandas_udf(T.BinaryType())
    def _oc(wkb: pd.Series) -> pd.Series:
        def _one(b):
            if b is None:
                return None
            try:
                return write_wkb(
                    offset_curve(
                        parse_wkb(b), distance, quad_segs=quad_segs,
                        join=join, mitre_limit=mitre_limit,
                    )
                )
            except Exception:
                return None

        return wkb.map(_one)

    return _oc


def st_concavehullbylength(length: float, allow_holes: bool = False):
    """GEOSConcaveHullByLength (capi geos_c.h.in; geosop
    concaveHullByLength): concave hull with an absolute max edge
    length instead of the longest-edge ratio."""

    @pandas_udf(T.BinaryType())
    def _chl(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.hull import concave_hull_by_length

        return wkb.map(
            _row_nullout(
                lambda b: write_wkb(
                    concave_hull_by_length(
                        parse_wkb(b), length, holes=allow_holes
                    )
                )
            )
        )

    return _chl


def st_concavehull(ratio: float, allow_holes: bool = False):
    """GEOSConcaveHull (capi geos_c.h.in): concave hull by edge-length
    ratio."""
    from geos_spark.kernels.hull import concave_hull_by_length_ratio

    @pandas_udf(T.BinaryType())
    def _hull(wkb: pd.Series) -> pd.Series:
        def _one(b):
            if b is None:
                return None
            try:
                return write_wkb(
                    concave_hull_by_length_ratio(
                        parse_wkb(b), ratio, holes=allow_holes
                    )
                )
            except Exception:
                return None

        return wkb.map(_one)

    return _hull


def st_delaunaytriangles(edges_only: bool = False):
    """GEOSDelaunayTriangulation (capi geos_c.h.in:1201)."""
    from geos_spark.kernels.delaunay import (
        delaunay_edges,
        delaunay_triangulation,
    )

    fn = delaunay_edges if edges_only else delaunay_triangulation

    @pandas_udf(T.BinaryType())
    def _tri(wkb: pd.Series) -> pd.Series:
        def _one(b):
            if b is None:
                return None
            try:
                return write_wkb(fn(parse_wkb(b)))
            except Exception:
                return None

        return wkb.map(_one)

    return _tri


def st_voronoidiagram(edges_only: bool = False):
    """GEOSVoronoiDiagram (capi geos_c.h.in:1208)."""
    from geos_spark.kernels.voronoi import voronoi_diagram, voronoi_edges

    fn = voronoi_edges if edges_only else voronoi_diagram

    @pandas_udf(T.BinaryType())
    def _vor(wkb: pd.Series) -> pd.Series:
        def _one(b):
            if b is None:
                return None
            try:
                return write_wkb(fn(parse_wkb(b)))
            except Exception:
                return None

        return wkb.map(_one)

    return _vor


def st_maximuminscribedcircle(tolerance: float):
    """GEOSMaximumInscribedCircle: radius line (center -> nearest
    boundary point) as WKB."""
    from geos_spark.kernels import geom as G
    from geos_spark.kernels.circles import maximum_inscribed_circle

    @pandas_udf(T.BinaryType())
    def _mic(wkb: pd.Series) -> pd.Series:
        def _one(b):
            if b is None:
                return None
            try:
                c, rp = maximum_inscribed_circle(parse_wkb(b), tolerance)
                import numpy as np

                line = G.Geom(
                    G.LINESTRING,
                    np.array([c, rp], dtype=np.float64),
                )
                return write_wkb(line)
            except Exception:
                return None

        return wkb.map(_one)

    return _mic


def st_largestemptycircle(tolerance: float):
    """GEOSLargestEmptyCircle: radius line (center -> nearest
    obstacle) as WKB; boundary defaults to the obstacles' hull."""
    from geos_spark.kernels import geom as G
    from geos_spark.kernels.circles import largest_empty_circle

    @pandas_udf(T.BinaryType())
    def _lec(wkb: pd.Series) -> pd.Series:
        def _one(b):
            if b is None:
                return None
            try:
                c, rp = largest_empty_circle(parse_wkb(b), None, tolerance)
                import numpy as np

                line = G.Geom(
                    G.LINESTRING,
                    np.array([c, rp], dtype=np.float64),
                )
                return write_wkb(line)
            except Exception:
                return None

        return wkb.map(_one)

    return _lec


@pandas_udf(T.BinaryType())
def st_sharedpaths(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """GEOSSharedPaths (capi geos_ts_c.cpp:4228): GC of
    (same-direction MLS, opposite-direction MLS)."""
    from geos_spark.kernels.sharedpaths import shared_paths

    def _one(a, b):
        if a is None or b is None:
            return None
        try:
            return write_wkb(shared_paths(parse_wkb(a), parse_wkb(b)))
        except Exception:
            return None

    return pd.Series([_one(a, b) for a, b in zip(wkb_a, wkb_b)])


def st_snap(tolerance: float):
    """GEOSSnap (capi geos_c.h.in:5241): snap A's vertices/segments to
    B's vertices within tolerance."""
    from geos_spark.kernels.snap import snap

    @pandas_udf(T.BinaryType())
    def _snap(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
        def _one(a, b):
            if a is None or b is None:
                return None
            try:
                return write_wkb(
                    snap(parse_wkb(a), parse_wkb(b), tolerance)
                )
            except Exception:
                return None

        return pd.Series(
            [_one(a, b) for a, b in zip(wkb_a, wkb_b)]
        )

    return _snap


def st_linemerge(directed: bool = False):
    """GEOSLineMerge / GEOSLineMergeDirected (capi
    geos_c.h.in:5053-5079): merge linework at cardinality-2 nodes;
    ``directed=True`` never reverses line direction."""
    from geos_spark.kernels.linear import line_merge

    @pandas_udf(T.BinaryType())
    def _merge(wkb: pd.Series) -> pd.Series:
        def _one(b):
            if b is None:
                return None
            try:
                return write_wkb(
                    line_merge(parse_wkb(b), directed=directed)
                )
            except Exception:
                return None

        return pd.Series([_one(b) for b in wkb])

    return _merge


@pandas_udf(T.BooleanType())
def st_equalsidentical(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """GEOSEqualsIdentical (capi geos_c.h.in:5431): pointwise equality
    — type, structure, vertex order, values; NaN == NaN."""
    from geos_spark.kernels.scalars import equals_identical

    def _one(a, b):
        if a is None or b is None:
            return None
        try:
            return bool(equals_identical(parse_wkb(a), parse_wkb(b)))
        except Exception:
            return None

    return pd.Series(
        [_one(a, b) for a, b in zip(wkb_a, wkb_b)], dtype=object
    )


@pandas_udf(T.StringType())
def st_relate(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """Full DE-9IM matrix string per pair (per-batch decode cache)."""
    from geos_spark.kernels.relate import relate

    ca, ua = pd.factorize(
        wkb_a.map(lambda b: None if b is None else bytes(b))
    )
    cb, ub = pd.factorize(
        wkb_b.map(lambda b: None if b is None else bytes(b))
    )
    ga = [None if u is None else parse_wkb(u) for u in ua]
    gb = [None if u is None else parse_wkb(u) for u in ub]
    cache: dict = {}
    out = []
    for i, j in zip(ca, cb):
        # factorize encodes NaN/None as -1
        if i < 0 or j < 0:
            out.append(None)
            continue
        k = (int(i), int(j))
        v = cache.get(k)
        if v is None:
            v = relate(ga[i], gb[j])
            cache[k] = v
        out.append(v)
    return pd.Series(out)


def st_relatebnr(rule):
    """DE-9IM matrix under an explicit boundary node rule
    (GEOSRelateBoundaryNodeRule, capi/geos_c.h.in
    GEOSRelateBoundaryNodeRules): 1 = Mod-2/OGC (st_relate default),
    2 = EndPoint, 3 = MultiValentEndPoint, 4 = MonoValentEndPoint.
    Accepts the int or the name ("mod2", "endpoint", "multivalent",
    "monovalent")."""
    from geos_spark.kernels import relate as R

    names = {
        "mod2": R.BNR_MOD2,
        "ogc": R.BNR_MOD2,
        "endpoint": R.BNR_ENDPOINT,
        "multivalent": R.BNR_MULTIVALENT,
        "monovalent": R.BNR_MONOVALENT,
    }
    bnr = names[rule.lower()] if isinstance(rule, str) else int(rule)

    def fn(wkb_a, wkb_b):
        from geos_spark.kernels.relate import relate

        ca, ua = pd.factorize(
            wkb_a.map(lambda b: None if b is None else bytes(b))
        )
        cb, ub = pd.factorize(
            wkb_b.map(lambda b: None if b is None else bytes(b))
        )
        ga = [None if u is None else parse_wkb(u) for u in ua]
        gb = [None if u is None else parse_wkb(u) for u in ub]
        cache: dict = {}
        out = []
        for i, j in zip(ca, cb):
            if i < 0 or j < 0:
                out.append(None)
                continue
            k = (int(i), int(j))
            v = cache.get(k)
            if v is None:
                v = relate(ga[i], gb[j], bnr)
                cache[k] = v
            out.append(v)
        return pd.Series(out)

    return pandas_udf(fn, T.StringType())


@pandas_udf(T.DoubleType())
def st_distance(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            S.geom_distance(parse_wkb(a), parse_wkb(b))
            if a is not None and b is not None
            else None
            for a, b in zip(wkb_a, wkb_b)
        ]
    )


@pandas_udf(T.StringType())
def st_asgeojson(wkb: pd.Series) -> pd.Series:
    from geos_spark.kernels.geojson import geom_to_geojson

    return wkb.map(
        lambda b: None if b is None else geom_to_geojson(parse_wkb(b))
    )


@pandas_udf(T.BinaryType())
def st_geomfromgeojson(s: pd.Series) -> pd.Series:
    from geos_spark.kernels.geojson import geojson_to_geom

    return s.map(lambda v: None if v is None else write_wkb(geojson_to_geom(v)))


def st_point(x_col, y_col):
    """Native-ish point WKB construction (vectorized batch encoder)."""
    from geos_spark.kernels.wkb import encode_points

    @pandas_udf(T.BinaryType())
    def _pt(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            encode_points(x.to_numpy(), y.to_numpy()), dtype=object
        )

    return _pt(F.col(x_col), F.col(y_col))


# ----------------------------------------------------------------------
# overlay (OverlayNG semantics — kernels/overlay.py)
# ----------------------------------------------------------------------


def _overlay_pair_udf(op_code: int):
    @pandas_udf(T.BinaryType())
    def _f(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
        # overlay_zm = overlay_robust + the reference's Z/M population
        # post-pass (OverlayNG::getResult elevation-model tier); exact
        # no-op for XY operands
        from geos_spark.kernels.zpop import overlay_zm

        out = []
        for a, b in zip(wkb_a, wkb_b):
            if a is None or b is None:
                out.append(None)
                continue
            try:
                out.append(
                    write_wkb(
                        overlay_zm(parse_wkb(a), parse_wkb(b), op_code)
                    )
                )
            except Exception:
                # per-row null-out, the GEOS C-API convention: an
                # exception returns NULL to the caller instead of
                # aborting the batch (capi/geos_ts_c.cpp:436-463)
                out.append(None)
        return pd.Series(out, dtype=object)

    return _f


#: binary overlay column functions (capi geos_c.h.in:3751-3834)
st_intersection = _overlay_pair_udf(1)
st_union = _overlay_pair_udf(2)
st_difference = _overlay_pair_udf(3)
st_symdifference = _overlay_pair_udf(4)


@pandas_udf(T.DoubleType())
def st_x(wkb: pd.Series) -> pd.Series:
    """GEOSGeomGetX: x ordinate of a POINT (non-point rows null)."""

    def f(b):
        g = parse_wkb(b)
        if g.type_id != G.POINT or g.is_empty:
            raise ValueError("st_x: not a point")
        return float(g.data[0, 0])

    return wkb.map(_row_nullout(f))


@pandas_udf(T.DoubleType())
def st_y(wkb: pd.Series) -> pd.Series:
    """GEOSGeomGetY."""

    def f(b):
        g = parse_wkb(b)
        if g.type_id != G.POINT or g.is_empty:
            raise ValueError("st_y: not a point")
        return float(g.data[0, 1])

    return wkb.map(_row_nullout(f))


def _point_ordinate_udf(attr: str):
    """GEOSGeomGetZ / GEOSGeomGetM (capi/geos_c.h.in:3005,3016): the
    ordinate of a POINT — NaN when the point has no such channel
    (CoordinateSequence::getOrdinate fallback), NULL for empty or
    non-point rows (the reference throws). A nullable Float64 block
    keeps NaN distinct from NULL through the Arrow transfer."""
    import numpy as np

    @pandas_udf(T.DoubleType())
    def _f(wkb: pd.Series) -> pd.Series:
        n = len(wkb)
        vals = np.full(n, np.nan, dtype=np.float64)
        mask = np.zeros(n, dtype=bool)
        for i, b in enumerate(wkb):
            if b is None:
                mask[i] = True
                continue
            try:
                g = parse_wkb(b)
                if g.type_id != G.POINT or g.is_empty:
                    mask[i] = True
                    continue
                ch = getattr(g, attr)
                if ch is not None:
                    vals[i] = float(ch[0])
            except Exception:
                mask[i] = True
        return pd.Series(pd.arrays.FloatingArray(vals, mask))

    return _f


st_z = _point_ordinate_udf("zs")
st_m = _point_ordinate_udf("ms")


@pandas_udf(T.BooleanType())
def st_hasz(wkb: pd.Series) -> pd.Series:
    """GEOSHasZ (capi/geos_c.h.in:3211): declared-Z; collections OR
    their children (GeometryCollection::setFlags)."""
    return wkb.map(_row_nullout(lambda b: bool(parse_wkb(b).has_z)))


@pandas_udf(T.BooleanType())
def st_hasm(wkb: pd.Series) -> pd.Series:
    """GEOSHasM (capi/geos_c.h.in:3220)."""
    return wkb.map(_row_nullout(lambda b: bool(parse_wkb(b).has_m)))


@pandas_udf(T.IntegerType())
def st_coorddim(wkb: pd.Series) -> pd.Series:
    """GEOSGeom_getCoordinateDimension: 2 + hasZ + hasM."""
    return wkb.map(_row_nullout(lambda b: parse_wkb(b).coord_dimension()))


def _zm_minmax_udf(attr: str, reduce_fn):
    @pandas_udf(T.DoubleType())
    def _f(wkb: pd.Series) -> pd.Series:
        def f(b):
            import numpy as np

            vals = getattr(parse_wkb(b), attr)()
            vals = vals[~np.isnan(vals)]
            if len(vals) == 0:
                raise ValueError("no ordinates")  # -> null
            return float(reduce_fn(vals))

        return wkb.map(_row_nullout(f))

    return _f


# PostGIS-parity extremum accessors over the Z/M channels (null when
# the geometry has no such channel)
st_zmin = _zm_minmax_udf("all_z", lambda v: v.min())
st_zmax = _zm_minmax_udf("all_z", lambda v: v.max())
st_mmin = _zm_minmax_udf("all_m", lambda v: v.min())
st_mmax = _zm_minmax_udf("all_m", lambda v: v.max())


def _strip_zm(g):
    g.zs = None
    g.ms = None
    if isinstance(g.data, list) and g.data and isinstance(g.data[0], G.Geom):
        for p in g.data:
            _strip_zm(p)
    return g


@pandas_udf(T.BinaryType())
def st_force2d(wkb: pd.Series) -> pd.Series:
    """Drop the Z/M channels (PostGIS ST_Force2D; the reference's
    GeometryEditor CoordinateOperation restricted to XY)."""
    return wkb.map(_row_nullout(lambda b: write_wkb(_strip_zm(parse_wkb(b)))))


def st_force3dz(col, z: float = 0.0):
    """Add a Z channel filled with ``z`` where missing (PostGIS
    ST_Force3DZ); existing Z values are preserved."""
    import numpy as np

    @pandas_udf(T.BinaryType())
    def _f(wkb: pd.Series) -> pd.Series:
        def _add(g):
            if g.type_id in (G.POINT, G.LINESTRING, G.CIRCULARSTRING):
                if g.zs is None:
                    g.zs = np.full(len(g.data), float(z))
            elif g.type_id == G.POLYGON:
                if g.zs is None:
                    g.zs = [np.full(len(r), float(z)) for r in g.data]
            else:
                for p in g.data:
                    _add(p)
            return g

        return wkb.map(_row_nullout(lambda b: write_wkb(_add(parse_wkb(b)))))

    return _f(col)


@pandas_udf(T.BinaryType())
def st_makepointzm(
    x: pd.Series, y: pd.Series, z: pd.Series, m: pd.Series
) -> pd.Series:
    """XYZM point constructor (GEOSGeom_createPointFromXYZ extended to
    M; pass null z/m columns to omit a channel)."""
    import numpy as np

    out = []
    for xi, yi, zi, mi in zip(x, y, z, m):
        if xi is None or yi is None or pd.isna(xi) or pd.isna(yi):
            out.append(None)
            continue
        g = G.Geom.point(float(xi), float(yi))
        if zi is not None and not pd.isna(zi):
            g.zs = np.array([float(zi)])
        if mi is not None and not pd.isna(mi):
            g.ms = np.array([float(mi)])
        out.append(write_wkb(g))
    return pd.Series(out, dtype=object)


@pandas_udf(T.BooleanType())
def st_containsproperly(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """GEOSPreparedContainsProperly: interior containment, no
    boundary contact (IM T**FF*FF*)."""
    from geos_spark.kernels.relate import contains_properly

    def f(a, b):
        if a is None or b is None:
            return None
        try:
            return bool(contains_properly(parse_wkb(a), parse_wkb(b)))
        except Exception:
            return None

    return pd.Series(
        [f(a, b) for a, b in zip(wkb_a, wkb_b)], dtype="object"
    )


_SEGI_SCHEMA = T.StructType(
    [
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
    ]
)


@pandas_udf(_SEGI_SCHEMA)
def st_segmentintersection(
    ax0: pd.Series, ay0: pd.Series, ax1: pd.Series, ay1: pd.Series,
    bx0: pd.Series, by0: pd.Series, bx1: pd.Series, by1: pd.Series,
) -> pd.DataFrame:
    """GEOSSegmentIntersection: intersection point of two segments as
    a (cx, cy) struct, NULL fields when disjoint (the capi's -1)."""
    from geos_spark.kernels.segments import segment_intersection

    rows = []
    for vals in zip(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
        if any(v is None or pd.isna(v) for v in vals):
            rows.append((None, None))
            continue
        try:
            r = segment_intersection(*(float(v) for v in vals))
            rows.append((None, None) if r is None else r)
        except Exception:
            rows.append((None, None))
    return pd.DataFrame(rows, columns=["cx", "cy"])


# native hex WKB codecs: GEOSWKBReader_readHEX / writeHEX — WKB is the
# engine's storage format, so hex IO is pure JVM (zero python)


def st_geomfromhex(col):
    """GEOSGeomFromHEX_buf: hex WKB string -> wkb binary (native
    unhex; malformed hex yields NULL JVM-side)."""
    return F.unhex(col)


def st_ashexwkb(col):
    """GEOSGeomToHEX_buf: wkb binary -> uppercase hex string
    (native)."""
    return F.hex(col)


@pandas_udf(T.IntegerType())
def st_srid(wkb: pd.Series) -> pd.Series:
    """GEOSGetSRID (capi geos_c.h.in:2900): the geometry's srid tag, 0
    when untagged.  The tag travels in the binary column as EWKB (see
    st_setsrid); canonical ISO WKB reads back as 0."""
    return wkb.map(_row_nullout(lambda b: parse_wkb(b).srid)).astype("Int32")


def st_setsrid(srid: int):
    """GEOSSetSRID (capi geos_c.h.in:3246): retag the geometry.  A
    non-zero srid re-emits the value as EWKB (SRID flag + int32) so
    the tag survives the column; srid 0 strips back to canonical ISO
    WKB."""

    @pandas_udf(T.BinaryType())
    def _set(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.wkb import write_ewkb

        return wkb.map(
            lambda b: None
            if b is None
            else write_ewkb(parse_wkb(b), srid)
        )

    return _set


@pandas_udf(T.BinaryType())
def st_node(wkb: pd.Series) -> pd.Series:
    """GEOSNode (capi geos_c.h.in:1107, noding::GeometryNoder): fully
    noded, dissolved linework as a MultiLineString.  Curved input or a
    non-converging noding nulls out (GEOSNodeTest cases 4 and 9).  An
    srid tag on the input carries to the result (reference results are
    built with the input's factory)."""
    from geos_spark.kernels.node import node_geometry
    from geos_spark.kernels.wkb import write_ewkb

    def f(b):
        if b is None:
            return None
        try:
            return write_ewkb(node_geometry(parse_wkb(b)))
        except Exception:  # noqa: BLE001 - NULL-on-exception contract
            return None

    return wkb.map(f)


_PZF_SCHEMA = T.StructType(
    [
        T.StructField("polygons", T.BinaryType()),
        T.StructField("cut_edges", T.BinaryType()),
        T.StructField("dangles", T.BinaryType()),
        T.StructField("invalid_rings", T.BinaryType()),
    ]
)


@pandas_udf(_PZF_SCHEMA)
def st_polygonizefull(wkb: pd.Series) -> pd.DataFrame:
    """GEOSPolygonize_full: faces + the diagnostic outputs (cut
    edges, dangles, invalid ring lines), each as a
    GEOMETRYCOLLECTION wkb."""
    from geos_spark.kernels.polygonize import polygonize_full

    rows = []
    for b in wkb:
        if b is None:
            rows.append((None, None, None, None))
            continue
        try:
            polys, cuts, dangles, invalid = polygonize_full(
                parse_wkb(b)
            )
            rows.append(
                tuple(
                    write_wkb(
                        G.Geom.collection(G.GEOMETRYCOLLECTION, part)
                    )
                    for part in (polys, cuts, dangles, invalid)
                )
            )
        except Exception:
            rows.append((None, None, None, None))
    return pd.DataFrame(
        rows,
        columns=["polygons", "cut_edges", "dangles", "invalid_rings"],
    )


@pandas_udf(T.BinaryType())
def st_polygonizevalid(wkb: pd.Series) -> pd.Series:
    """GEOSPolygonize_valid: only-polygonal extraction (outermost
    shells + their holes)."""
    from geos_spark.kernels.polygonize import polygonize_valid

    return wkb.map(
        _row_nullout(lambda b: write_wkb(polygonize_valid(parse_wkb(b))))
    )


def st_makevalidstructure(keep_collapsed: bool = False):
    """GEOSMakeValidWithParams with GEOS_MAKE_VALID_STRUCTURE
    (capi geos_ts_c.cpp:2410-2418 -> geom::util::GeometryFixer):
    per-component structural repair.  The default st_makevalid is the
    LINEWORK method."""

    @pandas_udf(T.BinaryType())
    def _mvs(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.fixer import fix_structure

        return wkb.map(
            _row_nullout(
                lambda b: write_wkb(
                    fix_structure(parse_wkb(b), keep_collapsed)
                )
            )
        )

    return _mvs


def st_removerepeatedpoints(tolerance: float = 0.0):
    """GEOSRemoveRepeatedPoints: consecutive points within tolerance
    removed, endpoints preserved; collapsing a ring (or curved input)
    nulls out the row exactly where the reference errors."""

    @pandas_udf(T.BinaryType())
    def _rrp(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.fixer import remove_repeated_points

        return wkb.map(
            _row_nullout(
                lambda b: write_wkb(
                    remove_repeated_points(parse_wkb(b), tolerance)
                )
            )
        )

    return _rrp


def st_polygonhullsimplify(is_outer: bool, parameter: float, mode: int = 1):
    """GEOSPolygonHullSimplify / GEOSPolygonHullSimplifyMode
    (capi geos_c.h.in:4625-4688): topology-preserving outer/inner hull.
    mode 1 = GEOSHULL_PARAM_VERTEX_RATIO, 2 = GEOSHULL_PARAM_AREA_RATIO."""

    @pandas_udf(T.BinaryType())
    def _phs(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.hull_simplify import polygon_hull_simplify

        if mode == 2:
            kw = {"area_delta_ratio": abs(parameter)}
        else:
            kw = {"vertex_num_fraction": abs(parameter)}
        return wkb.map(
            _row_nullout(
                lambda b: write_wkb(
                    polygon_hull_simplify(parse_wkb(b), is_outer, **kw)
                )
            )
        )

    return _phs


@pandas_udf(T.BinaryType())
def st_disjointsubsetunion(wkb: pd.Series) -> pd.Series:
    """GEOSDisjointSubsetUnion (capi geos_c.h.in:1085): unary union
    computed per intersects-connected component subset; result equals
    unaryUnion without cross-cluster overlay work."""
    from geos_spark.kernels.union import disjoint_subset_union

    return wkb.map(
        _row_nullout(
            lambda b: write_wkb(disjoint_subset_union(parse_wkb(b)))
        )
    )


@pandas_udf(T.BinaryType())
def st_unaryunion(wkb: pd.Series) -> pd.Series:
    """GEOSUnaryUnion (capi geos_c.h.in:3884) per value."""
    from geos_spark.kernels.union import unary_union

    def _uu(b):
        if b is None:
            return None
        try:
            return write_wkb(unary_union(parse_wkb(b)))
        except Exception:
            # per-row null-out, the GEOS C-API convention: an
            # unrepresentable row yields NULL, not a failed task
            return None

    return wkb.map(_uu)


def st_make_box(xmin_col, ymin_col, xmax_col, ymax_col):
    """Axis-aligned rectangle polygon WKB from four double columns
    (GEOSGeom_createRectangle, capi geos_c.h.in:2842)."""
    from geos_spark.kernels import geom as G

    @pandas_udf(T.BinaryType())
    def _box(
        x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series
    ) -> pd.Series:
        import numpy as np

        out = []
        for a, b, c, d in zip(x0, y0, x1, y1):
            ring = np.array(
                [[a, b], [c, b], [c, d], [a, d], [a, b]], dtype=np.float64
            )
            out.append(write_wkb(G.Geom(G.POLYGON, [ring])))
        return pd.Series(out, dtype=object)

    return _box(F.col(xmin_col), F.col(ymin_col), F.col(xmax_col), F.col(ymax_col))


@pandas_udf(T.DoubleType())
def st_minclearance(wkb: pd.Series) -> pd.Series:
    """GEOSMinimumClearance (capi geos_c.h.in:3446)."""
    from geos_spark.kernels.clearance import min_clearance

    return wkb.map(
        lambda b: None if b is None else min_clearance(parse_wkb(b))[0]
    )


def st_overlay(op: str, scale: float | None = None):
    """Factory: overlay column function with optional fixed-precision
    scale (snap-rounding, GEOSIntersectionPrec etc.,
    capi geos_c.h.in:3751-3834). op in
    {intersection, union, difference, symdifference}."""
    codes = {"intersection": 1, "union": 2, "difference": 3,
             "symdifference": 4}
    op_code = codes[op]

    @pandas_udf(T.BinaryType())
    def _f(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
        from geos_spark.kernels import overlay as OV

        out = []
        for a, b in zip(wkb_a, wkb_b):
            if a is None or b is None:
                out.append(None)
                continue
            try:
                out.append(
                    write_wkb(
                        OV.overlay(parse_wkb(a), parse_wkb(b), op_code, scale)
                    )
                )
            except (ValueError, NotImplementedError):
                out.append(None)
        return pd.Series(out, dtype=object)

    return _f


def st_buffer(distance: float, quad_segs: int = 8, cap: str = "round",
              join: str = "round", mitre_limit: float = 5.0):
    """Factory: buffer column function (GEOSBufferWithStyle,
    capi geos_c.h.in:4095-4209)."""

    @pandas_udf(T.BinaryType())
    def _buf(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.buffer import buffer_geom

        out = []
        for b in wkb:
            if b is None:
                out.append(None)
                continue
            try:
                out.append(
                    write_wkb(
                        buffer_geom(
                            parse_wkb(b), distance, quad_segs=quad_segs,
                            cap=cap, join=join, mitre_limit=mitre_limit,
                        )
                    )
                )
            except (ValueError, NotImplementedError, ZeroDivisionError):
                out.append(None)
        return pd.Series(out, dtype=object)

    return _buf


@pandas_udf(T.BinaryType())
def st_makevalid(wkb: pd.Series) -> pd.Series:
    """GEOSMakeValid (capi geos_c.h.in:3362)."""
    from geos_spark.kernels.polygonize import make_valid

    def f(b):
        if b is None:
            return None
        try:
            return write_wkb(make_valid(parse_wkb(b)))
        except (ValueError, NotImplementedError):
            return None

    return wkb.map(f)


@pandas_udf(T.BinaryType())
def st_buildarea(wkb: pd.Series) -> pd.Series:
    """GEOSBuildArea (capi geos_c.h.in:5014)."""
    from geos_spark.kernels.polygonize import build_area

    def f(b):
        if b is None:
            return None
        try:
            return write_wkb(build_area(parse_wkb(b)))
        except (ValueError, NotImplementedError):
            return None

    return wkb.map(f)


@pandas_udf(T.BinaryType())
def st_polygonize(wkb: pd.Series) -> pd.Series:
    """GEOSPolygonize (capi geos_c.h.in:4912) — faces of noded
    linework as a collection."""
    from geos_spark.kernels import geom as GG
    from geos_spark.kernels.polygonize import polygonize

    def f(b):
        if b is None:
            return None
        try:
            polys = polygonize(parse_wkb(b))
            return write_wkb(
                GG.Geom.collection(GG.GEOMETRYCOLLECTION, polys)
            )
        except (ValueError, NotImplementedError):
            return None

    return wkb.map(f)


def st_setprecision(scale: float):
    """Factory: GEOSGeom_setPrecision (capi geos_c.h.in:5275) —
    snap-rounding precision reduction via fixed-precision self-union."""

    @pandas_udf(T.BinaryType())
    def _sp(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.overlay import _self_union

        def f(b):
            if b is None:
                return None
            try:
                return write_wkb(_self_union(parse_wkb(b), scale))
            except (ValueError, NotImplementedError):
                return None

        return wkb.map(f)

    return _sp


def st_singlesidedbuffer(distance: float, left: bool = True,
                         quad_segs: int = 8):
    """Factory: single-sided buffer line (GEOSSingleSidedBuffer,
    capi geos_c.h.in:6473)."""

    @pandas_udf(T.BinaryType())
    def _ssb(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.buffer import buffer_line_single_sided

        def f(b):
            if b is None:
                return None
            try:
                return write_wkb(
                    buffer_line_single_sided(
                        parse_wkb(b), distance, left, quad_segs=quad_segs
                    )
                )
            except (ValueError, NotImplementedError, ZeroDivisionError):
                return None

        return wkb.map(f)

    return _ssb


@pandas_udf(T.BinaryType())
def st_minimumrotatedrectangle(wkb: pd.Series) -> pd.Series:
    """GEOSMinimumRotatedRectangle (capi geos_c.h.in:3424)."""
    from geos_spark.kernels.constructs import minimum_rotated_rectangle

    return wkb.map(
        lambda b: None
        if b is None
        else write_wkb(minimum_rotated_rectangle(parse_wkb(b)))
    )


@pandas_udf(T.BinaryType())
def st_minimumwidth(wkb: pd.Series) -> pd.Series:
    """GEOSMinimumWidth (capi geos_c.h.in:3434)."""
    from geos_spark.kernels.constructs import minimum_width_line

    return wkb.map(
        lambda b: None
        if b is None
        else write_wkb(minimum_width_line(parse_wkb(b)))
    )


_MBC_SCHEMA = T.StructType(
    [
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
        T.StructField("radius", T.DoubleType()),
    ]
)


@pandas_udf(_MBC_SCHEMA)
def st_minimumboundingcircle(wkb: pd.Series) -> pd.DataFrame:
    """GEOSMinimumBoundingCircle (capi geos_c.h.in:3446) — centre +
    radius struct."""
    from geos_spark.kernels.constructs import min_bounding_circle

    rows = []
    for b in wkb:
        if b is None:
            rows.append((None, None, None))
            continue
        c, r, _ = min_bounding_circle(parse_wkb(b))
        if c is None:
            rows.append((None, None, None))
        else:
            rows.append((c[0], c[1], r))
    return pd.DataFrame(rows, columns=["cx", "cy", "radius"])


def st_simplifytp(tolerance: float):
    """Factory: topology-preserving simplify
    (GEOSTopologyPreserveSimplify, capi geos_c.h.in:3340)."""

    @pandas_udf(T.BinaryType())
    def _stp(wkb: pd.Series) -> pd.Series:
        from geos_spark.kernels.simplify_tp import simplify_tp

        def f(b):
            if b is None:
                return None
            try:
                return write_wkb(simplify_tp(parse_wkb(b), tolerance))
            except (ValueError, NotImplementedError):
                return None

        return wkb.map(f)

    return _stp


@pandas_udf(T.DoubleType())
def st_hausdorffdistance(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """GEOSHausdorffDistance (capi geos_c.h.in:3526)."""
    from geos_spark.kernels.hdist import hausdorff_distance

    return pd.Series(
        [
            hausdorff_distance(parse_wkb(a), parse_wkb(b))
            if a is not None and b is not None
            else None
            for a, b in zip(wkb_a, wkb_b)
        ]
    )


@pandas_udf(T.DoubleType())
def st_frechetdistance(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """GEOSFrechetDistance (capi geos_c.h.in:3544)."""
    from geos_spark.kernels.hdist import frechet_distance

    out = []
    for a, b in zip(wkb_a, wkb_b):
        if a is None or b is None:
            out.append(None)
            continue
        try:
            out.append(frechet_distance(parse_wkb(a), parse_wkb(b)))
        except ValueError:
            out.append(None)
    return pd.Series(out)


_NP_SCHEMA = T.StructType(
    [
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("x2", T.DoubleType()),
        T.StructField("y2", T.DoubleType()),
    ]
)


@pandas_udf(_NP_SCHEMA)
def st_nearestpoints(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.DataFrame:
    """GEOSNearestPoints (capi geos_c.h.in:3591)."""
    rows = []
    for a, b in zip(wkb_a, wkb_b):
        if a is None or b is None:
            rows.append((None, None, None, None))
            continue
        pr = S.nearest_points(parse_wkb(a), parse_wkb(b))
        if pr is None:
            rows.append((None, None, None, None))
        else:
            rows.append((pr[0][0], pr[0][1], pr[1][0], pr[1][1]))
    return pd.DataFrame(rows, columns=["x1", "y1", "x2", "y2"])
