"""Driver-contract query catalog: Spark implementations + DuckDB
oracle SQL for each operator (SURVEY.md §2 inventory).

Every query here is a pure function (spark, sf_dir) -> DataFrame whose
result is reproducible by the paired ANSI-SQL oracle on the same
parquet tables. Geometry inputs are derived *deterministically* from
row ids (integer arithmetic only) so both engines construct identical
geometry sets — see ``geos_spark.sources.pages``.

Column names and types are aligned pairwise (the driver hashes values
after sorting columns by name).
"""

from __future__ import annotations

from collections import UserDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geos_spark.functions.hilbert_native import with_hilbert_cell
from geos_spark.kernels.hilbert import hilbert_sql_ctes
from geos_spark.operators.knn import knn_join, within_distance_join
from geos_spark.operators.spatial_join import point_in_polygon_join
from geos_spark.sources.pages import (
    EXTENT,
    point_sql,
    shrunk_star_params_sql,
    star_params_sql,
    star_polygons,
    with_doc_point,
)

_LEVEL_TILE = 12  # oracle tile-assignment level (HilbertEncoder rule)
_LEVEL_JOIN = 6  # join partitioning level

_STRIDE_12 = 4096.0 / ((1 << 12) - 1)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_doc_point(_docs(spark, sf_dir).select("doc_id"))


def _centers(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    return spark.range(256).select(
        i.alias("poly_id"),
        ((i % 16) * 256 + 128).cast("double").alias("cx"),
        (F.floor(i / 16) * 256 + 128).cast("double").alias("cy"),
    )


_POINTS_CTE = f"""
points AS (
    SELECT doc_id,
           {point_sql('doc_id')[0]} AS px,
           {point_sql('doc_id')[1]} AS py
    FROM documents
)
"""


# ----------------------------------------------------------------------
# tile assignment (HilbertEncoder midpoint rule, level 12)
# ----------------------------------------------------------------------


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native level-12 Hilbert tile assignment: pure bitwise Column chain inside whole-stage codegen, per-tile rollup."""
    pts = _doc_points(spark, sf_dir)
    gx = F.when(
        F.col("x") > 0, F.floor(F.col("x") / F.lit(_STRIDE_12))
    ).otherwise(F.lit(0)).cast("long")
    gy = F.when(
        F.col("y") > 0, F.floor(F.col("y") / F.lit(_STRIDE_12))
    ).otherwise(F.lit(0)).cast("long")
    g = pts.withColumn("gx", gx).withColumn("gy", gy)
    out = with_hilbert_cell(g, "gx", "gy", _LEVEL_TILE, out="cell")
    return out.select("doc_id", F.col("cell").cast("long").alias("cell"))


def q_tile_assign_sql() -> str:
    ctes, fin = hilbert_sql_ctes(_LEVEL_TILE, "grid", "gx", "gy")
    return f"""
WITH {_POINTS_CTE},
grid AS (
    SELECT doc_id,
           CASE WHEN px > 0 THEN CAST(FLOOR(px / (4096.0/4095.0)) AS BIGINT) ELSE 0 END AS gx,
           CASE WHEN py > 0 THEN CAST(FLOOR(py / (4096.0/4095.0)) AS BIGINT) ELSE 0 END AS gy
    FROM points
),
{ctes}
SELECT doc_id, CAST(cell AS BIGINT) AS cell FROM {fin}
"""


# ----------------------------------------------------------------------
# point-in-polygon spatial join (ray crossing, star polygons)
# ----------------------------------------------------------------------


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon spatial join as a broadcast-partition local join: one Arrow UDF probes each batch of points against the prepared (broadcast) polygon dim index (tile lookup, bbox and sub-cell mask filter, ray-casting refine), then a native explode."""
    pts = _doc_points(spark, sf_dir)
    polys = star_polygons(spark)
    out = point_in_polygon_join(
        pts, polys, "intersects", level=_LEVEL_JOIN, extent=EXTENT,
        poly_id_col="poly_id",
    )
    return out.select("doc_id", "poly_id")


def q_pip_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship join as ``entry()`` runs it: the same prepared-dim
    path as ``pip_join`` (local probe of the broadcast dim index in
    one Arrow UDF, robust ray-crossing refine; ref algorithm:
    src/algorithm/RayCrossingCounter.cpp). Kept as its own catalog id
    for the driver contract."""
    pts = _doc_points(spark, sf_dir)
    polys = star_polygons(spark)
    out = point_in_polygon_join(
        pts, polys, "intersects", level=_LEVEL_JOIN, extent=EXTENT,
        poly_id_col="poly_id",
    )
    return out.select("doc_id", "poly_id")


def q_pip_join_sql() -> str:
    # GEOS RayCrossingCounter rule in SQL: upward edges count when the
    # point is left of the edge (orientation > 0), downward when right.
    return f"""
WITH {_POINTS_CTE},
{star_params_sql()},
crossings AS (
    SELECT p.doc_id, e.poly_id,
           COUNT(*) FILTER (
               WHERE ((e.y1 > p.py AND e.y2 <= p.py) OR (e.y2 > p.py AND e.y1 <= p.py))
                 AND (CASE WHEN e.y2 < e.y1 THEN -1 ELSE 1 END)
                     * ((e.x2 - e.x1) * (p.py - e.y1) - (e.y2 - e.y1) * (p.px - e.x1)) > 0
           ) AS n_cross
    FROM points p
    JOIN star_bbox bb
      ON p.px >= bb.xmin AND p.px <= bb.xmax
     AND p.py >= bb.ymin AND p.py <= bb.ymax
    JOIN star_edges e ON e.poly_id = bb.poly_id
    GROUP BY p.doc_id, e.poly_id
)
SELECT doc_id, poly_id FROM crossings WHERE n_cross % 2 = 1
"""


# ----------------------------------------------------------------------
# bbox containment join (pure native envelope SQL — rectangle fast path)
# ----------------------------------------------------------------------


def q_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast envelope join: points against star-polygon bounding boxes, pure codegen range predicates."""
    pts = _doc_points(spark, sf_dir)
    polys = star_polygons(spark).select("poly_id", "xmin", "ymin", "xmax", "ymax")
    out = pts.join(
        F.broadcast(polys),
        (F.col("x") >= F.col("xmin"))
        & (F.col("x") <= F.col("xmax"))
        & (F.col("y") >= F.col("ymin"))
        & (F.col("y") <= F.col("ymax")),
    )
    return out.select("doc_id", "poly_id")


def q_bbox_join_sql() -> str:
    return f"""
WITH {_POINTS_CTE},
{star_params_sql()}
SELECT p.doc_id, bb.poly_id
FROM points p
JOIN star_bbox bb
  ON p.px >= bb.xmin AND p.px <= bb.xmax
 AND p.py >= bb.ymin AND p.py <= bb.ymax
"""


# ----------------------------------------------------------------------
# kNN join (k nearest star centers; ties by id)
# ----------------------------------------------------------------------


def q_knn_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN join (k=4) of centers to doc points: cell-ring expansion in one Arrow UDF over the broadcast, tile-sorted centers."""
    pts = _doc_points(spark, sf_dir)
    out = knn_join(pts, _centers(spark), k=4)
    return out.select("doc_id", "rank", "poly_id")


def q_knn_centers_sql() -> str:
    return f"""
WITH {_POINTS_CTE},
centers AS (
    SELECT p.range::BIGINT AS poly_id,
           CAST((p.range % 16) * 256 + 128 AS DOUBLE) AS cx,
           CAST((p.range // 16) * 256 + 128 AS DOUBLE) AS cy
    FROM range(256) p
),
scored AS (
    SELECT p.doc_id, c.poly_id,
           (p.px - c.cx) * (p.px - c.cx) + (p.py - c.cy) * (p.py - c.cy) AS dist2,
           ROW_NUMBER() OVER (
               PARTITION BY p.doc_id
               ORDER BY (p.px - c.cx) * (p.px - c.cx) + (p.py - c.cy) * (p.py - c.cy) ASC,
                        c.poly_id ASC
           ) AS rank
    FROM points p CROSS JOIN centers c
)
SELECT doc_id, CAST(rank AS INT) AS rank, poly_id FROM scored WHERE rank <= 4
"""


# ----------------------------------------------------------------------
# within-distance join (expanded-envelope cell assignment)
# ----------------------------------------------------------------------

_DIST = 50.0


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance join (points to centers, radius 50): cell-neighborhood equijoin + native distance refine, zero python."""
    pts = _doc_points(spark, sf_dir)
    out = within_distance_join(
        pts, _centers(spark), _DIST, level=_LEVEL_JOIN, extent=EXTENT
    )
    return out.select("doc_id", "poly_id")


def q_distance_join_sql() -> str:
    return f"""
WITH {_POINTS_CTE},
centers AS (
    SELECT p.range::BIGINT AS poly_id,
           CAST((p.range % 16) * 256 + 128 AS DOUBLE) AS cx,
           CAST((p.range // 16) * 256 + 128 AS DOUBLE) AS cy
    FROM range(256) p
)
SELECT p.doc_id, c.poly_id
FROM points p CROSS JOIN centers c
WHERE (p.px - c.cx) * (p.px - c.cx) + (p.py - c.cy) * (p.py - c.cy) <= {_DIST * _DIST}
"""


_DIST_POLY = 40.0


def q_distance_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance join of points to the star POLYGONS with a
    zero-python refine: ray-crossing parity + point-to-segment
    distance as Catalyst higher-order functions over the boundary
    edge arrays (ref: Distance::pointToSegment,
    src/algorithm/Distance.cpp:60-100)."""
    from geos_spark.operators.spatial_join import (
        within_distance_join_polygons,
    )

    pts = _doc_points(spark, sf_dir)
    polys = star_polygons(spark)
    out = within_distance_join_polygons(
        pts, polys, _DIST_POLY, level=_LEVEL_JOIN, extent=EXTENT,
        poly_id_col="poly_id",
    )
    return out.select("doc_id", "poly_id")


def q_distance_native_sql() -> str:
    # identical arithmetic (projection form, same multiply order) as
    # _native_within_distance.seg_near so the d^2-threshold decision
    # is bit-identical
    d = _DIST_POLY
    dx = "(e.x2 - e.x1)"
    dy = "(e.y2 - e.y1)"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    t_raw = f"((c.px - e.x1) * {dx} + (c.py - e.y1) * {dy})"
    pa2 = "((c.px - e.x1) * (c.px - e.x1) + (c.py - e.y1) * (c.py - e.y1))"
    pb2 = "((c.px - e.x2) * (c.px - e.x2) + (c.py - e.y2) * (c.py - e.y2))"
    dist2 = (
        f"(CASE WHEN {t_raw} <= 0 THEN {pa2}"
        f" WHEN {t_raw} >= {len2} THEN {pb2}"
        f" ELSE {pa2} - {t_raw} * {t_raw} / {len2} END)"
    )
    return f"""
WITH {_POINTS_CTE},
{star_params_sql()},
cand AS (
    SELECT p.doc_id, bb.poly_id, p.px, p.py
    FROM points p
    JOIN star_bbox bb
      ON p.px >= bb.xmin - {d} AND p.px <= bb.xmax + {d}
     AND p.py >= bb.ymin - {d} AND p.py <= bb.ymax + {d}
),
ev AS (
    SELECT c.doc_id, c.poly_id,
           COUNT(*) FILTER (
               WHERE ((e.y1 > c.py AND e.y2 <= c.py) OR (e.y2 > c.py AND e.y1 <= c.py))
                 AND (CASE WHEN e.y2 < e.y1 THEN -1 ELSE 1 END)
                     * ((e.x2 - e.x1) * (c.py - e.y1) - (e.y2 - e.y1) * (c.px - e.x1)) > 0
           ) AS n_cross,
           BOOL_OR({dist2} <= {d * d}) AS near
    FROM cand c JOIN star_edges e ON e.poly_id = c.poly_id
    GROUP BY c.doc_id, c.poly_id
)
SELECT doc_id, poly_id FROM ev WHERE n_cross % 2 = 1 OR near
"""


# ----------------------------------------------------------------------
# scalar constructions: area + centroid over the star polygons
# ----------------------------------------------------------------------


def q_star_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact polygon areas of the star dim table via the geometry kernels, checked against the closed-form star-area formula."""
    from geos_spark.functions.st import st_area

    return star_polygons(spark).select(
        "poly_id", st_area(F.col("wkb")).alias("area")
    )


def q_star_area_sql() -> str:
    # shoelace over the edge list; our kernel's base-translated form is
    # algebraically identical and exact on integer coordinates
    return f"""
WITH {star_params_sql()}
SELECT poly_id,
       ABS(SUM( (x1 - first_x) * (y2) - (x2 - first_x) * (y1) )) / 2.0 AS area
FROM (
    SELECT e.*, FIRST_VALUE(x1) OVER (PARTITION BY poly_id ORDER BY j) AS first_x
    FROM star_edges e
)
GROUP BY poly_id
"""


def q_star_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact polygon centroids of the star dim table, closed-form oracle."""
    from geos_spark.functions.st import st_centroid_x, st_centroid_y

    p = star_polygons(spark)
    return p.select(
        "poly_id",
        st_centroid_x(F.col("wkb")).alias("cx_out"),
        st_centroid_y(F.col("wkb")).alias("cy_out"),
    )


def q_star_centroid_sql() -> str:
    # area-weighted triangle centroid with base-point translation
    # (Centroid.cpp): base = first vertex; cg3 = sum a2*(p+q);
    # c = cg3/3/areasum2 + base. All products exact on integer coords.
    return f"""
WITH {star_params_sql()},
based AS (
    SELECT e.*,
           FIRST_VALUE(x1) OVER (PARTITION BY poly_id ORDER BY j) AS bx,
           FIRST_VALUE(y1) OVER (PARTITION BY poly_id ORDER BY j) AS by
    FROM star_edges e
),
sums AS (
    SELECT poly_id, ANY_VALUE(bx) AS bx, ANY_VALUE(by) AS by,
           SUM((x1 - bx) * (y2 - by) - (x2 - bx) * (y1 - by)) AS areasum2,
           SUM(((x1 - bx) * (y2 - by) - (x2 - bx) * (y1 - by)) * ((x1 - bx) + (x2 - bx))) AS cg3x,
           SUM(((x1 - bx) * (y2 - by) - (x2 - bx) * (y1 - by)) * ((y1 - by) + (y2 - by))) AS cg3y
    FROM based
    GROUP BY poly_id
)
SELECT poly_id,
       cg3x / 3.0 / areasum2 + bx AS cx_out,
       cg3y / 3.0 / areasum2 + by AS cy_out
FROM sums
"""


# ----------------------------------------------------------------------
# curved geometry types (SQL/MM): parse -> measure, closed-form oracle
# ----------------------------------------------------------------------


def q_curve_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curve types end-to-end: per doc, a deterministic semicircular
    CURVEPOLYGON (COMPOUNDCURVE of one CIRCULARSTRING arc + its chord)
    is built as WKT with native string concat (zero python), parsed,
    and measured with the arc kernels — perimeter, enclosed area,
    arc-aware envelope, vertex count, type name, hasCurvedComponents.

    The p0==(cx-r,cy) p1==(cx,cy+r) p2==(cx+r,cy) triple is an exact
    semicircle, so every measure has a closed-form oracle: perimeter
    pi*r + 2r, area pi*r^2/2, envelope (cx-r, cy, cx+r, cy+r).
    Reference parity: CircularArc.h getLength/getArea,
    Area::ofClosedCurve (src/algorithm/Area.cpp:100-151),
    CircularArcs::expandEnvelope (src/algorithm/CircularArcs.cpp)."""
    from geos_spark.functions.st import (
        st_area,
        st_envelope_struct,
        st_geometrytype,
        st_geomfromtext,
        st_hascurve,
        st_length,
        st_numpoints,
    )

    d = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .withColumn(
            "cx", ((F.col("doc_id") * 37) % 1000) / F.lit(10.0)
        )
        .withColumn(
            "cy", ((F.col("doc_id") * 61) % 1000) / F.lit(10.0)
        )
        .withColumn(
            "r", F.lit(1.0) + (F.col("doc_id") % 7) / F.lit(4.0)
        )
    )
    # CAST(double AS STRING) is Java shortest-round-trip text, so the
    # WKT parse reconstructs bit-identical doubles
    x0 = (F.col("cx") - F.col("r")).cast("string")
    x1 = F.col("cx").cast("string")
    x2 = (F.col("cx") + F.col("r")).cast("string")
    y0 = F.col("cy").cast("string")
    y1 = (F.col("cy") + F.col("r")).cast("string")
    sp = F.lit(" ")
    cm = F.lit(", ")
    wkt = F.concat(
        F.lit("CURVEPOLYGON (COMPOUNDCURVE (CIRCULARSTRING ("),
        x0, sp, y0, cm, x1, sp, y1, cm, x2, sp, y0,
        F.lit("), ("), x2, sp, y0, cm, x0, sp, y0, F.lit(")))"),
    )
    g = d.withColumn("wkb", st_geomfromtext(wkt))
    env = st_envelope_struct(F.col("wkb"))
    return g.select(
        "doc_id",
        st_geometrytype(F.col("wkb")).alias("gtype"),
        st_numpoints(F.col("wkb")).alias("npts"),
        st_hascurve(F.col("wkb")).alias("has_curve"),
        st_length(F.col("wkb")).alias("perim"),
        st_area(F.col("wkb")).alias("surf_area"),
        env.getField("xmin").alias("xmin"),
        env.getField("ymin").alias("ymin"),
        env.getField("xmax").alias("xmax"),
        env.getField("ymax").alias("ymax"),
    )


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (stateless map, reproducible
    across reruns/partitionings — the way a 100 TB pipeline samples;
    df.sample is partitioning-dependent).  Portable md5 hash, so the
    oracle replays the exact row set."""
    from geos_spark.operators.sampling import hash_sample

    return hash_sample(
        _docs(spark, sf_dir), 0.25, key_col="doc_id", salt="s42"
    ).select("doc_id", "source", "n_chars")


def q_sample_hash_sql() -> str:
    return """
SELECT doc_id, source, n_chars
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s42'), 1, 8)
           AS BIGINT) % 1000000 < 250000
"""


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (crawl-skew control): keep the 20
    largest docs per source, deterministic tie-break.  Salted
    two-phase top-k — a mega-source never ships more than
    k*salt_buckets rows into the final window."""
    from geos_spark.operators.sampling import source_quota

    out = source_quota(_docs(spark, sf_dir), 20)
    return out.select("doc_id", "source", "n_chars", "rank")


def q_source_quota_sql() -> str:
    return """
SELECT doc_id, source, n_chars, rank
FROM (
    SELECT doc_id, source, n_chars,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY n_chars DESC NULLS LAST, doc_id ASC
           ) AS rank
    FROM documents
)
WHERE rank <= 20
"""


def q_geom_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural accessor surface end-to-end (the capi getter
    family, kernels/access.py): per doc a square polygon with a
    square hole is built as WKT, parsed, and probed with
    numInteriorRings / exteriorRing->length / getPointN /
    numCoordinates / extractUniquePoints->numGeometries /
    getDimensions / orientPolygons (hole flipped CW, shell kept
    CCW -> area unchanged).  Every value has a closed-form oracle."""
    from geos_spark.functions.st import (
        st_area,
        st_centroid_x,
        st_centroid_y,
        st_dimension,
        st_exteriorring,
        st_geomfromtext,
        st_length,
        st_numcoordinates,
        st_numgeometries,
        st_numinteriorrings,
        st_orientpolygons,
        st_pointn,
        st_uniquepoints,
    )

    d = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .withColumn("cx", ((F.col("doc_id") * 41) % 1000) / F.lit(8.0))
        .withColumn("cy", ((F.col("doc_id") * 59) % 1000) / F.lit(8.0))
        .withColumn("r", F.lit(2.0) + (F.col("doc_id") % 5) / F.lit(2.0))
    )
    xm = (F.col("cx") - F.col("r")).cast("string")
    xp = (F.col("cx") + F.col("r")).cast("string")
    ym = (F.col("cy") - F.col("r")).cast("string")
    yp = (F.col("cy") + F.col("r")).cast("string")
    hxm = (F.col("cx") - F.col("r") / 2).cast("string")
    hxp = (F.col("cx") + F.col("r") / 2).cast("string")
    hym = (F.col("cy") - F.col("r") / 2).cast("string")
    hyp = (F.col("cy") + F.col("r") / 2).cast("string")
    sp = F.lit(" ")
    cm = F.lit(", ")
    # shell CCW, hole CCW too (orientPolygons must flip the hole)
    wkt = F.concat(
        F.lit("POLYGON (("),
        xm, sp, ym, cm, xp, sp, ym, cm, xp, sp, yp, cm, xm, sp, yp,
        cm, xm, sp, ym,
        F.lit("), ("),
        hxm, sp, hym, cm, hxp, sp, hym, cm, hxp, sp, hyp, cm,
        hxm, sp, hyp, cm, hxm, sp, hym,
        F.lit("))"),
    )
    g = d.withColumn("wkb", st_geomfromtext(wkt))
    shell = st_exteriorring(F.col("wkb"))
    p1 = st_pointn(1)(shell)
    return g.select(
        "doc_id",
        st_numinteriorrings(F.col("wkb")).alias("nir"),
        st_length(shell).alias("er_len"),
        st_numcoordinates(F.col("wkb")).alias("ncoords"),
        st_numgeometries(st_uniquepoints(F.col("wkb"))).alias(
            "ndistinct"
        ),
        st_dimension(F.col("wkb")).alias("dim"),
        st_centroid_x(p1).alias("p1x"),
        st_centroid_y(p1).alias("p1y"),
        st_area(st_orientpolygons(False)(F.col("wkb"))).alias(
            "oriented_area"
        ),
    )


def q_geom_zm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z/M ordinate surface end-to-end (GEOSHasZ/HasM/GeomGetZ/GetM,
    GEOSGeom_getCoordinateDimension; kernels Z/M side channels): per
    doc a POINT Z or POINT ZM (every 4th doc Z-only) is built as WKT
    from integer params, parsed, probed with the accessors, flattened
    (force2d), re-lifted (force3dz), and round-tripped through the
    writer; a LINESTRING Z exercises the zmin/zmax extremes. The
    reference's NaN fallback for a missing M channel
    (CoordinateSequence::getOrdinate) is pinned via nanvl(-1).
    Every value has a closed-form oracle."""
    from geos_spark.functions.st import (
        st_astext,
        st_coorddim,
        st_force2d,
        st_force3dz,
        st_geomfromtext,
        st_hasm,
        st_hasz,
        st_m,
        st_z,
        st_zmax,
        st_zmin,
    )

    d = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .withColumn("x", (F.col("doc_id") * 7) % 100)
        .withColumn("y", (F.col("doc_id") * 13) % 100)
        .withColumn("z", (F.col("doc_id") * 3) % 50)
        .withColumn("m", F.col("doc_id") % 20)
        .withColumn("z1", F.col("doc_id") % 10)
    )
    sp = F.lit(" ")
    xs = F.col("x").cast("string")
    ys = F.col("y").cast("string")
    zs = F.col("z").cast("string")
    ms = F.col("m").cast("string")
    wkt = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("POINT Z ("), xs, sp, ys, sp, zs, F.lit(")")),
    ).otherwise(
        F.concat(
            F.lit("POINT ZM ("), xs, sp, ys, sp, zs, sp, ms, F.lit(")")
        )
    )
    z1s = F.col("z1").cast("string")
    z2s = (F.col("z1") + 5).cast("string")
    ls_wkt = F.concat(
        F.lit("LINESTRING Z ("),
        xs, sp, ys, sp, z2s,
        F.lit(", "),
        ys, sp, xs, sp, z1s,
        F.lit(")"),
    )
    g = d.withColumn("wkb", st_geomfromtext(wkt)).withColumn(
        "ls", st_geomfromtext(ls_wkt)
    )
    flat = st_force2d(F.col("wkb"))
    return g.select(
        "doc_id",
        st_hasz(F.col("wkb")).alias("hasz"),
        st_hasm(F.col("wkb")).alias("hasm"),
        st_coorddim(F.col("wkb")).alias("cd"),
        st_z(F.col("wkb")).alias("z"),
        F.nanvl(st_m(F.col("wkb")), F.lit(-1.0)).alias("m"),
        st_coorddim(flat).alias("cd_flat"),
        F.nanvl(st_z(flat), F.lit(-1.0)).alias("z_flat"),
        st_zmax(st_force3dz(flat, 9.0)).alias("z_lift"),
        st_zmin(F.col("ls")).alias("zmin_l"),
        st_zmax(F.col("ls")).alias("zmax_l"),
        (st_astext(F.col("wkb")) == wkt).alias("rt_ok"),
    )


def q_geom_zm_sql() -> str:
    return """
SELECT doc_id,
       TRUE AS hasz,
       (doc_id % 4) <> 0 AS hasm,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 4 END AS INTEGER) AS cd,
       CAST((doc_id * 3) % 50 AS DOUBLE) AS z,
       CAST(CASE WHEN doc_id % 4 = 0 THEN -1 ELSE doc_id % 20 END
            AS DOUBLE) AS m,
       CAST(2 AS INTEGER) AS cd_flat,
       CAST(-1 AS DOUBLE) AS z_flat,
       CAST(9 AS DOUBLE) AS z_lift,
       CAST(doc_id % 10 AS DOUBLE) AS zmin_l,
       CAST(doc_id % 10 + 5 AS DOUBLE) AS zmax_l,
       TRUE AS rt_ok
FROM documents
"""


def q_pages_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input-table contract end-to-end: a Common-Crawl-style pages
    table (url, warc_ts, html binary, text, lang — FIXTURES.md §1) is
    synthesized at the scale factor's document count, text is extracted
    from the html bytes with the native expression chain
    (operators/text.py::extract_text), and the per-row byte-identity
    invariant is proven cross-engine: the DuckDB oracle reconstructs
    the same text independently from the row id (same multiplicative
    hash + wordlist) and compares md5, length, token count, url, lang
    and the warc timestamp. Zero python anywhere in the plan."""
    from geos_spark.operators.text import extract_text, token_count
    from geos_spark.sources.pages import synth_pages

    n = _docs(spark, sf_dir).count()
    p = synth_pages(spark, n)
    ex = extract_text(F.col("html"))
    return p.select(
        "page_id",
        "url",
        "lang",
        F.col("warc_ts").cast("long").alias("warc_epoch"),
        (ex == F.col("text")).alias("extract_ok"),
        F.md5(F.encode(ex, "utf-8")).alias("text_md5"),
        token_count(ex).alias("n_tokens"),
        F.length(ex).alias("n_chars"),
    )


def q_pages_extract_sql() -> str:
    from geos_spark.sources.pages import _KX, _M32, _WORDS, LANGS

    words = ", ".join(f"'{w}'" for w in _WORDS)
    langs = ", ".join(f"'{x}'" for x in LANGS)
    return f"""
WITH params AS (
    SELECT doc_id AS page_id,
           (doc_id * {_KX} + 17) % {_M32} AS k
    FROM documents
), built AS (
    SELECT page_id, k,
           (k % 181 + 20)::INT AS ntok,
           array_to_string(
               list_transform(range((k % 181 + 20)::INT),
                   j -> ([{words}])[((k + j * 131) % {len(_WORDS)})::INT + 1]),
               ' ') AS text
    FROM params
)
SELECT page_id,
       'https://site' || (page_id % 997)::VARCHAR ||
           '.example/page/' || page_id::VARCHAR AS url,
       ([{langs}])[(page_id % 6)::INT + 1] AS lang,
       1735689600 + page_id * 137 AS warc_epoch,
       TRUE AS extract_ok,
       md5(text) AS text_md5,
       ntok AS n_tokens,
       length(text)::INT AS n_chars
FROM built
"""


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate line removal, scored end-to-end: a
    deterministic multi-line corpus is built per doc (a nav header on
    every 2nd doc, a unique body line, a unique extra line on every
    3rd doc, a copyright footer on all) and
    ``remove_boilerplate_lines(min_frac=0.4)`` must strip exactly the
    header+footer. The oracle replays the WHOLE ALGORITHM in SQL
    (line doc-frequency over the same corpus, threshold, ordered
    reassembly) — not the expected answer."""
    from geos_spark.operators.text import remove_boilerplate_lines

    d = _docs(spark, sf_dir).select("doc_id")
    nl = F.lit("\n")
    text = F.concat(
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("nav home about contact\n")
        ).otherwise(F.lit("")),
        F.lit("body "),
        F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                nl,
                F.lit("extra "),
                F.md5(
                    F.encode(
                        (F.col("doc_id") * 31 + 7).cast("string"), "utf-8"
                    )
                ),
            ),
        ).otherwise(F.lit("")),
        F.lit("\n(c) example.com all rights reserved"),
    )
    corpus = d.withColumn("text", text)
    out = remove_boilerplate_lines(corpus, min_frac=0.4)
    return out.select(
        "doc_id",
        "n_lines",
        "n_lines_kept",
        F.md5(F.encode(F.col("clean_text"), "utf-8")).alias("clean_md5"),
    )


def q_boilerplate_sql() -> str:
    return """
WITH corpus AS (
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0
                 THEN 'nav home about contact' || chr(10) ELSE '' END)
           || 'body ' || md5(doc_id::VARCHAR)
           || (CASE WHEN doc_id % 3 = 0
                    THEN chr(10) || 'extra ' || md5((doc_id * 31 + 7)::VARCHAR)
                    ELSE '' END)
           || chr(10) || '(c) example.com all rights reserved' AS text
    FROM documents
), lines AS (
    SELECT doc_id, u.line, u.pos
    FROM corpus,
         LATERAL (SELECT unnest(string_split(text, chr(10))) AS line,
                         generate_subscripts(string_split(text, chr(10)), 1) AS pos) u
), thresh AS (
    SELECT GREATEST(2, CEIL(COUNT(*) * 0.4)::BIGINT) AS t FROM corpus
), boiler AS (
    SELECT line FROM (
        SELECT line, COUNT(DISTINCT doc_id) AS docs FROM lines GROUP BY line
    ) f, thresh WHERE f.docs >= thresh.t
), kept AS (
    SELECT l.* FROM lines l ANTI JOIN boiler b ON l.line = b.line
), clean AS (
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY pos) AS clean_text,
           COUNT(*) AS n_lines_kept
    FROM kept GROUP BY doc_id
)
SELECT c.doc_id,
       len(string_split(c.text, chr(10)))::INT AS n_lines,
       COALESCE(cl.n_lines_kept, 0) AS n_lines_kept,
       md5(COALESCE(cl.clean_text, '')) AS clean_md5
FROM corpus c LEFT JOIN clean cl ON c.doc_id = cl.doc_id
"""


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host/registered-domain extraction over a
    deterministically-decorated messy URL corpus (uppercase authority,
    default port on every 5th, utm tracking params on every 2nd,
    trailing slash instead of a query on every 7th, fragment on every
    11th). The oracle computes the expected canonical forms closed-form
    from the same row ids (operators/text.py::url_canonicalize /
    url_host / url_domain are all-native expression chains)."""
    from geos_spark.operators.text import (
        url_canonicalize,
        url_domain,
        url_host,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    i = F.col("doc_id")
    ids = i.cast("string")
    url = F.concat(
        F.lit("https://WWW.Site"),
        (i % 97).cast("string"),
        F.lit(".CO.UK"),
        F.when(i % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Page/"),
        ids,
        F.when(i % 7 == 0, F.lit("/"))
        .when(
            i % 2 == 0, F.concat(F.lit("?utm_source=abc&q="), ids)
        )
        .otherwise(F.concat(F.lit("?q="), ids)),
        F.when(i % 11 == 0, F.concat(F.lit("#sec"), ids)).otherwise(
            F.lit("")
        ),
    )
    return d.withColumn("url", url).select(
        "doc_id",
        url_host(F.col("url")).alias("host"),
        url_domain(F.col("url")).alias("domain"),
        url_canonicalize(F.col("url")).alias("canon"),
    )


def q_url_canon_sql() -> str:
    return """
SELECT doc_id,
       'www.site' || (doc_id % 97)::VARCHAR || '.co.uk' AS host,
       'site' || (doc_id % 97)::VARCHAR || '.co.uk' AS domain,
       'https://www.site' || (doc_id % 97)::VARCHAR || '.co.uk/Page/'
           || doc_id::VARCHAR
           || CASE WHEN doc_id % 7 = 0 THEN ''
                   ELSE '?q=' || doc_id::VARCHAR END AS canon
FROM documents
"""


def q_ngram_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-duplication scoring over the documents corpus (3-word
    shingles at gate scale so the planted near-dup clones actually
    overlap): per doc the count of distinct shingles, how many occur in
    other docs too, and the dup fraction. The oracle replays the whole
    algorithm in SQL on the shingle STRINGS; the operator counts
    xxhash64 of the shingle (the wide strings stay out of the shuffle)
    — identical results barring a 64-bit hash collision inside the
    corpus (~1e-11 at gate scale)."""
    from geos_spark.operators.dedup import ngram_dup_score

    out = ngram_dup_score(_docs(spark, sf_dir), n=3)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_dup",
        F.round(F.col("dup_frac"), 6).alias("dup_frac_r"),
    )


def q_ngram_dup_sql() -> str:
    return """
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
    FROM documents
    WHERE text IS NOT NULL AND trim(text) <> ''
), shingles AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, GREATEST(len(t) - 2, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS sh
    FROM toks
), freq AS (
    SELECT sh, COUNT(DISTINCT doc_id) AS docs FROM shingles GROUP BY sh
), scored AS (
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           SUM(CASE WHEN f.docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
    FROM shingles s JOIN freq f USING (sh)
    GROUP BY s.doc_id
)
SELECT d.doc_id,
       COALESCE(sc.n_shingles, 0) AS n_shingles,
       COALESCE(sc.n_dup, 0) AS n_dup,
       CASE WHEN COALESCE(sc.n_shingles, 0) > 0
            THEN ROUND(sc.n_dup / sc.n_shingles::DOUBLE, 6) END AS dup_frac_r
FROM documents d LEFT JOIN scored sc ON d.doc_id = sc.doc_id
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText within-document repetition filters over a
    deterministic corpus with planted repeats (a duplicated line on
    every 2nd doc, an overlapping-bigram spam line on every 3rd): the
    duplicate-line fraction, duplicate-line character fraction and
    top-bigram character coverage. The oracle replays the generic
    algorithm in SQL (including the tie rule: longest among modal
    bigrams), not the per-class expected answers."""
    from geos_spark.operators.text import with_repetition_signals

    d = _docs(spark, sf_dir).select("doc_id")
    i = F.col("doc_id")
    md5_id = F.md5(F.encode(i.cast("string"), "utf-8"))
    md5_alt = F.md5(F.encode((i * 7 + 1).cast("string"), "utf-8"))
    text = F.concat(
        F.lit("u "),
        md5_id,
        F.lit("\n"),
        F.when(
            i % 2 == 0, F.lit("same line\nsame line")
        ).otherwise(F.concat(F.lit("x "), md5_alt)),
        F.when(
            i % 3 == 0, F.lit("\nspam spam spam spam")
        ).otherwise(F.lit("")),
    )
    out = with_repetition_signals(d.withColumn("text", text))
    return out.select(
        "doc_id",
        F.round(F.col("dup_line_frac"), 6).alias("dlf_r"),
        F.round(F.col("dup_line_char_frac"), 6).alias("dlcf_r"),
        F.round(F.col("top_bigram_char_frac"), 6).alias("tbcf_r"),
    )


def q_repetition_sql() -> str:
    return """
WITH corpus AS (
    SELECT doc_id,
           'u ' || md5(doc_id::VARCHAR) || chr(10)
           || (CASE WHEN doc_id % 2 = 0
                    THEN 'same line' || chr(10) || 'same line'
                    ELSE 'x ' || md5((doc_id * 7 + 1)::VARCHAR) END)
           || (CASE WHEN doc_id % 3 = 0
                    THEN chr(10) || 'spam spam spam spam' ELSE '' END)
           AS text
    FROM documents
), l AS (
    SELECT doc_id,
           string_split(text, chr(10)) AS ls,
           string_split_regex(trim(text), '\\s+') AS t
    FROM corpus
), stats AS (
    SELECT doc_id,
           len(ls) AS nl,
           len(list_distinct(ls)) AS nu,
           list_aggregate(list_transform(ls, x -> length(x)), 'sum') AS ca,
           list_aggregate(list_transform(list_distinct(ls),
                                         x -> length(x)), 'sum') AS cu,
           list_aggregate(list_transform(t, x -> length(x)), 'sum') AS tc
    FROM l
), bg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1])) AS b
    FROM l WHERE len(t) >= 2
), bgc AS (
    SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
), top AS (
    SELECT doc_id, MAX(c) AS topc FROM bgc GROUP BY doc_id
), toplen AS (
    SELECT bgc.doc_id,
           MAX(length(bgc.b) - 1) AS topl,
           ANY_VALUE(top.topc) AS topc
    FROM bgc JOIN top ON bgc.doc_id = top.doc_id AND bgc.c = top.topc
    GROUP BY bgc.doc_id
)
SELECT s.doc_id,
       ROUND((s.nl - s.nu) / s.nl::DOUBLE, 6) AS dlf_r,
       ROUND((s.ca - s.cu) / s.ca::DOUBLE, 6) AS dlcf_r,
       ROUND(COALESCE(tl.topc * tl.topl, 0) / s.tc::DOUBLE, 6) AS tbcf_r
FROM stats s LEFT JOIN toplen tl ON s.doc_id = tl.doc_id
"""


def q_geom_accessors_sql() -> str:
    return """
WITH params AS (
    SELECT doc_id,
           ((doc_id * 41) % 1000) / 8.0 AS cx,
           ((doc_id * 59) % 1000) / 8.0 AS cy,
           2.0 + (doc_id % 5) / 2.0 AS r
    FROM documents
)
SELECT doc_id,
       1 AS nir,
       8 * r AS er_len,
       10 AS ncoords,
       8 AS ndistinct,
       2 AS dim,
       cx + r AS p1x,
       cy - r AS p1y,
       4 * r * r - r * r AS oriented_area
FROM params
"""


def q_curve_measures_sql() -> str:
    # closed-form semicircle measures; the engine's atan2-based arc
    # angle is exactly pi for this triple, so values agree to ~1e-13,
    # far inside the driver's 1e-6 rounding
    return """
WITH params AS (
    SELECT doc_id,
           ((doc_id * 37) % 1000) / 10.0 AS cx,
           ((doc_id * 61) % 1000) / 10.0 AS cy,
           1.0 + (doc_id % 7) / 4.0 AS r
    FROM documents
)
SELECT doc_id,
       'CurvePolygon' AS gtype,
       5 AS npts,
       TRUE AS has_curve,
       pi() * r + 2 * r AS perim,
       pi() * r * r / 2 AS surf_area,
       cx - r AS xmin,
       cy AS ymin,
       cx + r AS xmax,
       cy + r AS ymax
FROM params
"""


# ----------------------------------------------------------------------
# aggregations: extent of all doc points (native min/max)
# ----------------------------------------------------------------------


def q_extent_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global extent aggregate over derived doc points: one partial/final min-max aggregation."""
    pts = _doc_points(spark, sf_dir)
    return pts.agg(
        F.min("x").alias("minx"),
        F.min("y").alias("miny"),
        F.max("x").alias("maxx"),
        F.max("y").alias("maxy"),
        F.count(F.lit(1)).alias("n"),
    )


def q_extent_agg_sql() -> str:
    return f"""
WITH {_POINTS_CTE}
SELECT MIN(px) AS minx, MIN(py) AS miny,
       MAX(px) AS maxx, MAX(py) AS maxy,
       COUNT(*) AS n
FROM points
"""


# ----------------------------------------------------------------------
# spatial sort / top-k by Hilbert cell
# ----------------------------------------------------------------------


def q_hilbert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by level-12 Hilbert cell code: distributed takeOrdered over the native bitwise cell chain."""
    t = q_tile_assign(spark, sf_dir)
    return t.orderBy(F.col("cell").asc(), F.col("doc_id").asc()).limit(100)


def q_hilbert_topk_sql() -> str:
    return (
        q_tile_assign_sql().rstrip()
        + " ORDER BY cell ASC, doc_id ASC LIMIT 100"
    )


# ----------------------------------------------------------------------
# webtext tier: dedup / text stats / language guess
# ----------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: one hash aggregate on md5(text) emitting (fingerprint, n_dups, keeper_id) groups."""
    from geos_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_docs(spark, sf_dir))


def q_dedup_exact_sql() -> str:
    return """
SELECT md5(text) AS fingerprint,
       COUNT(*) AS n_dups,
       MIN(doc_id) AS keeper_id
FROM documents
GROUP BY md5(text)
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts + corpus token totals, native split/size expressions."""
    from geos_spark.operators.text import with_quality

    out = with_quality(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars_out"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("stopword_hits").cast("long").alias("stopword_hits"),
    )


def q_token_stats_sql() -> str:
    words = ["the", "and", "of", "to", "in", "is", "was", "for"]
    hits = " + ".join(
        f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
        for w in words
    )
    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_out,
       CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       CAST({hits} AS BIGINT) AS stopword_hits
FROM documents
"""


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: non-overlapping matches of the GPT-2
    pretokenizer pattern (lookahead-free variant so the Java and RE2
    engines tokenize identically) — the LLM-token-budget proxy, all
    JVM regexp_count."""
    from geos_spark.operators.text import bpe_token_count, token_count

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe"),
        token_count(F.col("text")).cast("long").alias("n_ws"),
    )


def q_bpe_tokens_sql() -> str:
    from geos_spark.operators.text import BPE_PRETOKEN_RE

    pat = BPE_PRETOKEN_RE.replace("'", "''")
    return f"""
SELECT doc_id,
       CAST(length(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_bpe,
       CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws
FROM documents
"""


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: argmax of per-language marker-word hit counts via lexicographic struct max, native only."""
    from geos_spark.operators.text import with_lang_guess

    out = with_lang_guess(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("lang_guess"),
        F.col("lang_score").cast("long").alias("lang_score"),
    )


def q_lang_guess_sql() -> str:
    from geos_spark.operators.text import LANG_MARKERS

    selects = []
    for lang, words in sorted(LANG_MARKERS.items()):
        hits = " + ".join(
            f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
            for w in words
        )
        selects.append(
            f"SELECT doc_id, '{lang}' AS lang, CAST({hits} AS BIGINT) AS score FROM documents"
        )
    union = " UNION ALL ".join(selects)
    # ties resolve to greatest lang code (mirrors struct-greatest)
    return f"""
WITH scores AS ({union}),
ranked AS (
    SELECT doc_id, lang, score,
           ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, lang DESC
           ) AS rn
    FROM scores
)
SELECT doc_id, lang AS lang_guess, score AS lang_score
FROM ranked WHERE rn = 1
"""


# ----------------------------------------------------------------------
# rectangle-rectangle join (rectangle fast path: pure native SQL)
# ----------------------------------------------------------------------

_HALF = 8.0  # doc square half-side


def q_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangle-intersects join (doc squares vs star envelopes): the RectangleIntersects fast path, fully native plan."""
    pts = _doc_points(spark, sf_dir)
    sq = (
        pts.withColumn("sxmin", F.col("x") - _HALF)
        .withColumn("symin", F.col("y") - _HALF)
        .withColumn("sxmax", F.col("x") + _HALF)
        .withColumn("symax", F.col("y") + _HALF)
    )
    bb = star_polygons(spark).select("poly_id", "xmin", "ymin", "xmax", "ymax")
    out = sq.join(
        F.broadcast(bb),
        (F.col("sxmin") <= F.col("xmax"))
        & (F.col("xmin") <= F.col("sxmax"))
        & (F.col("symin") <= F.col("ymax"))
        & (F.col("ymin") <= F.col("symax")),
    )
    return out.select("doc_id", "poly_id")


def q_rect_join_sql() -> str:
    return f"""
WITH {_POINTS_CTE},
{star_params_sql()}
SELECT p.doc_id, bb.poly_id
FROM points p
JOIN star_bbox bb
  ON (p.px - {_HALF}) <= bb.xmax AND bb.xmin <= (p.px + {_HALF})
 AND (p.py - {_HALF}) <= bb.ymax AND bb.ymin <= (p.py + {_HALF})
"""


# ----------------------------------------------------------------------
# tile materialization: per-polygon fragment-area partition invariant
# (sum of per-tile clipped areas == polygon area)
# ----------------------------------------------------------------------


def q_tile_area_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile materialization + per-tile clipped-area rollup (rect fast path): explode doc squares to level-8 tiles, aggregate fragment areas."""
    from geos_spark.operators.tiling import tile_materialize

    frags = tile_materialize(star_polygons(spark), level=6, extent=EXTENT)
    return frags.groupBy("poly_id").agg(
        F.round(F.sum("clipped_area"), 5).alias("area_r")
    )


def q_tile_area_sum_sql() -> str:
    return f"""
WITH {star_params_sql()}
SELECT poly_id,
       ROUND(ABS(SUM((x1 - first_x) * (y2) - (x2 - first_x) * (y1))) / 2.0, 5) AS area_r
FROM (
    SELECT e.*, FIRST_VALUE(x1) OVER (PARTITION BY poly_id ORDER BY j) AS first_x
    FROM star_edges e
)
GROUP BY poly_id
"""


def q_tile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile fragments (rows-only driver check; the pytest suite
    verifies fragment geometry against the local kernel exactly)."""
    from geos_spark.operators.tiling import tile_materialize

    frags = tile_materialize(star_polygons(spark), level=6, extent=EXTENT)
    return frags.select(
        "poly_id",
        "cell",
        F.round(F.col("clipped_area"), 5).alias("area_r"),
        "covers_fully",
    )


def q_tile_clip_sql() -> str:
    """DuckDB oracle for the per-tile clip WITHOUT generating clip
    vertices: area(P ∩ tile) as a per-edge clamped Green integral.
    For each directed polygon edge, integrate clamp(y(x), ty0, ty1)
    over x in [tile.x0, tile.x1] ∩ edge.span — at every x the signed
    edge sum telescopes to the length of the slice P_x ∩ [ty0, ty1]
    (the y0 baseline cancels over the closed ring), so the edge sum
    is exactly the clipped area.  Row emission and covers_fully
    replicate tile_materialize's three-way classification: boundary =
    any edge bbox overlaps the tile; interior/exterior by tile-center
    crossing parity."""
    # Gpos(a, b, w): integral of max(linear(a->b), 0) over width w
    def gpos(a: str, b: str) -> str:
        return (
            f"(CASE WHEN {a} >= 0 AND {b} >= 0 THEN ({a} + {b}) * w / 2.0 "
            f"WHEN {a} <= 0 AND {b} <= 0 THEN 0.0 "
            f"WHEN {b} > 0 THEN {b} * {b} * w / (2.0 * ({b} - {a})) "
            f"ELSE {a} * {a} * w / (2.0 * ({a} - {b})) END)"
        )

    ctes, fin = hilbert_sql_ctes(6, "frag", "gx", "gy")
    return f"""
WITH {star_params_sql()},
grid AS (
    SELECT poly_id,
           CAST(GREATEST(0, LEAST(63, FLOOR(xmin / 64.0))) AS BIGINT) AS gx0,
           CAST(GREATEST(0, LEAST(63, FLOOR(xmax / 64.0))) AS BIGINT) AS gx1,
           CAST(GREATEST(0, LEAST(63, FLOOR(ymin / 64.0))) AS BIGINT) AS gy0,
           CAST(GREATEST(0, LEAST(63, FLOOR(ymax / 64.0))) AS BIGINT) AS gy1
    FROM star_bbox
),
tx AS (
    SELECT poly_id, gy0, gy1,
           unnest(generate_series(gx0, gx1)) AS gx
    FROM grid
),
tiles AS (
    SELECT poly_id, gx, unnest(generate_series(gy0, gy1)) AS gy
    FROM tx
),
pre AS (
    SELECT t.poly_id, t.gx, t.gy,
           e.x1, e.y1, e.x2, e.y2,
           t.gx * 64.0 AS tx0, t.gy * 64.0 AS ty0,
           t.gx * 64.0 + 64.0 AS tx1, t.gy * 64.0 + 64.0 AS ty1,
           GREATEST(t.gx * 64.0, LEAST(e.x1, e.x2)) AS lo,
           LEAST(t.gx * 64.0 + 64.0, GREATEST(e.x1, e.x2)) AS hi
    FROM tiles t JOIN star_edges e ON e.poly_id = t.poly_id
),
tb AS (
    SELECT poly_id, gx, gy, tx0, ty0, x1, y1, x2, y2,
           hi - lo AS w,
           CASE WHEN x2 = x1 THEN 0.0
                ELSE y1 + (y2 - y1) * (lo - x1) / (x2 - x1) - ty0
           END AS ta,
           CASE WHEN x2 = x1 THEN 0.0
                ELSE y1 + (y2 - y1) * (hi - x1) / (x2 - x1) - ty0
           END AS tbv,
           (LEAST(x1, x2) <= tx0 + 64.0 AND tx0 <= GREATEST(x1, x2)
            AND LEAST(y1, y2) <= ty0 + 64.0 AND ty0 <= GREATEST(y1, y2))
               AS seg_touch,
           ((y1 > ty0 + 32.0 AND y2 <= ty0 + 32.0)
            OR (y2 > ty0 + 32.0 AND y1 <= ty0 + 32.0))
           AND (CASE WHEN y2 < y1 THEN -1 ELSE 1 END)
               * ((x2 - x1) * (ty0 + 32.0 - y1)
                  - (y2 - y1) * (tx0 + 32.0 - x1)) > 0 AS ctr_cross
    FROM pre
),
per_tile AS (
    SELECT poly_id, gx, gy,
           SUM(CASE WHEN x2 = x1 OR w <= 0 THEN 0.0
                    ELSE -SIGN(x2 - x1) * ({gpos('ta', 'tbv')}
                         - {gpos('(ta - 64.0)', '(tbv - 64.0)')})
               END) AS area,
           BOOL_OR(seg_touch) AS touches,
           SUM(CASE WHEN ctr_cross THEN 1 ELSE 0 END) % 2 = 1
               AS ctr_inside
    FROM tb
    GROUP BY poly_id, gx, gy
),
frag AS (
    SELECT poly_id, gx, gy,
           CASE WHEN NOT touches THEN 64.0 * 64.0 ELSE ABS(area) END
               AS clip_area,
           (NOT touches AND ctr_inside)
               OR (touches AND ROUND(ABS(area), 5) = 4096.0)
               AS covers_fully
    FROM per_tile
    WHERE (NOT touches AND ctr_inside) OR (touches AND ABS(area) > 1e-9)
),
{ctes}
SELECT poly_id, CAST(cell AS BIGINT) AS cell,
       ROUND(clip_area, 5) AS area_r, covers_fully
FROM {fin}
"""


def q_poly_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-polygon containment join over the vectorized
    non-intersects refine (_polys_superset_fast): full stars vs the
    512 half-scale stars (one set contained per star, one set shifted
    into the neighbour cell: crossing/outside)."""
    from geos_spark.operators.spatial_join import polygon_join
    from geos_spark.sources.pages import shrunk_star_polygons

    a = star_polygons(spark)
    b = shrunk_star_polygons(spark)
    out = polygon_join(
        a, b, "contains", level=_LEVEL_JOIN, extent=EXTENT
    )
    return out.select("poly_id", "b_id")


def q_poly_contains_sql() -> str:
    """Exact BIGINT containment oracle for simple integer-coordinate
    polygons: no boundary straddle/touch between edge pairs AND all 8
    inner-star vertices have odd crossing parity (the generated data
    has no boundary-touch pairs, verified in tests)."""
    return f"""
WITH {star_params_sql()},
{shrunk_star_params_sql()},
cand AS (
    SELECT a.poly_id, b.b_id
    FROM star_bbox a JOIN sh_bbox b
      ON a.xmin <= b.xmax AND b.xmin <= a.xmax
     AND a.ymin <= b.ymax AND b.ymin <= a.ymax
),
crossed AS (
    SELECT DISTINCT c.poly_id, c.b_id
    FROM cand c
    JOIN star_edges ea ON ea.poly_id = c.poly_id
    JOIN sh_edges eb ON eb.b_id = c.b_id
    WHERE SIGN((ea.x2-ea.x1)*(eb.y1-ea.y1) - (ea.y2-ea.y1)*(eb.x1-ea.x1))
        * SIGN((ea.x2-ea.x1)*(eb.y2-ea.y1) - (ea.y2-ea.y1)*(eb.x2-ea.x1)) <= 0
      AND SIGN((eb.x2-eb.x1)*(ea.y1-eb.y1) - (eb.y2-eb.y1)*(ea.x1-eb.x1))
        * SIGN((eb.x2-eb.x1)*(ea.y2-eb.y1) - (eb.y2-eb.y1)*(ea.x2-eb.x1)) <= 0
),
inside AS (
    SELECT poly_id, b_id FROM (
        SELECT c.poly_id, c.b_id, v.j,
               SUM(CASE WHEN ((e.y1 > v.vy AND e.y2 <= v.vy)
                           OR (e.y2 > v.vy AND e.y1 <= v.vy))
                     AND (CASE WHEN e.y2 < e.y1 THEN -1 ELSE 1 END)
                         * ((e.x2-e.x1)*(v.vy-e.y1)
                            - (e.y2-e.y1)*(v.vx-e.x1)) > 0
                   THEN 1 ELSE 0 END) % 2 AS par
        FROM cand c
        JOIN sh_verts v ON v.b_id = c.b_id
        JOIN star_edges e ON e.poly_id = c.poly_id
        GROUP BY c.poly_id, c.b_id, v.j
    )
    GROUP BY poly_id, b_id
    HAVING COUNT(*) = 8 AND MIN(par) = 1
)
SELECT i.poly_id, i.b_id
FROM inside i
ANTI JOIN crossed x ON x.poly_id = i.poly_id AND x.b_id = i.b_id
"""


def q_coverage_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed coverage validation (CoverageValidator semantics)
    over the star tile fragments — a valid coverage by construction —
    plus exact duplicates of every 64th fragment set.  A duplicated
    member's boundary segments carry the same interior-side
    orientation twice, so BOTH copies become fully invalid while
    their neighbours stay matched-valid
    (CoveragePolygonValidator.h:163-175 checkInvalid)."""
    from geos_spark.operators.coverage import coverage_validate
    from geos_spark.operators.tiling import tile_materialize

    frags = tile_materialize(star_polygons(spark), level=6, extent=EXTENT)
    members = frags.select(
        (F.col("poly_id") * 10000 + F.col("cell")).alias("id"),
        F.col("clipped_wkb").alias("wkb"),
    )
    dupes = frags.where(F.col("poly_id") % 64 == 0).select(
        (
            F.col("poly_id") * 10000 + F.col("cell") + F.lit(10_000_000)
        ).alias("id"),
        F.col("clipped_wkb").alias("wkb"),
    )
    out = coverage_validate(
        members.unionByName(dupes), level=6, extent=EXTENT
    )
    return out.select("id", "is_valid")


def q_coverage_valid_sql() -> str:
    """Membership oracle: the fragment coverage is valid by
    construction; exactly the duplicated members (both copies) are
    invalid.  Reuses the tile_clip fragment derivation for the
    (poly_id, cell) row set."""
    inner = q_tile_clip_sql().strip()
    return f"""
WITH frag_rows AS (
    SELECT poly_id, cell FROM ({inner})
)
SELECT poly_id * 10000 + cell AS id,
       (poly_id % 64 <> 0) AS is_valid
FROM frag_rows
UNION ALL
SELECT poly_id * 10000 + cell + 10000000 AS id,
       FALSE AS is_valid
FROM frag_rows WHERE poly_id % 64 = 0
"""


def q_coverage_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TPVW coverage simplification over an 8x8 grid of
    32x32 rectangles with a redundant midpoint on every edge.
    Partitioned at level 6 (tile 64 = 2x2 rects per partition):
    midpoints on free edges are removed (zero-area corners), seam
    edges between partitions stay pinned on both sides — the
    partitioned contract makes the output vertex counts closed-form."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from geos_spark.functions.st import st_area
    from geos_spark.operators.coverage import coverage_simplify_partitioned

    def _rects(spark):
        from geos_spark.kernels import geom as G
        from geos_spark.kernels.wkb import write_wkb

        rows = []
        for gx in range(8):
            for gy in range(8):
                x0, y0 = 32.0 * gx, 32.0 * gy
                x1, y1 = x0 + 32.0, y0 + 32.0
                xm, ym = x0 + 16.0, y0 + 16.0
                ring = [
                    (x0, y0), (xm, y0), (x1, y0), (x1, ym), (x1, y1),
                    (xm, y1), (x0, y1), (x0, ym), (x0, y0),
                ]
                rows.append(
                    (gx * 8 + gy, bytearray(write_wkb(G.Geom.polygon([ring]))))
                )
        return spark.createDataFrame(rows, "id long, wkb binary")

    out = coverage_simplify_partitioned(
        _rects(spark), tolerance=1.0, level=6, extent=EXTENT
    )

    def _npts_fn(wkb):
        from geos_spark.kernels.wkb import parse_wkb

        return pd.Series(
            [len(parse_wkb(bytes(b)).data[0]) for b in wkb], dtype="int64"
        )

    # note: no annotations — this module uses future-annotations,
    # which pyspark's pandas_udf signature inspection rejects
    _npts = pandas_udf(_npts_fn, T.LongType())

    return out.select(
        "id",
        _npts(F.col("simplified_wkb")).alias("n_pts"),
        F.round(st_area(F.col("simplified_wkb")), 5).alias("area_r"),
    )


def q_coverage_simplify_sql() -> str:
    """Closed-form oracle: n_pts = 5 ring points + one retained
    midpoint per pinned seam edge (a rect edge crossing the 2x2
    partition blocking), area unchanged (midpoints are collinear)."""
    return """
SELECT gx.range * 8 + gy.range AS id,
       CAST(5
         + (CASE WHEN gx.range > 0 AND gx.range % 2 = 0 THEN 1 ELSE 0 END)
         + (CASE WHEN gx.range < 7 AND gx.range % 2 = 1 THEN 1 ELSE 0 END)
         + (CASE WHEN gy.range > 0 AND gy.range % 2 = 0 THEN 1 ELSE 0 END)
         + (CASE WHEN gy.range < 7 AND gy.range % 2 = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_pts,
       1024.0 AS area_r
FROM range(8) gx, range(8) gy
"""


def q_coverage_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed coverage cleaning (CoverageCleaner semantics,
    src/coverage/CoverageCleaner.cpp:142-460) over an 8x8 grid of
    32x32 rectangles with engineered defects:

    - overlap: cells at (gx%4==1, gy%4==2) are widened 4 units east,
      overlapping their east neighbour by a 4x32 strip; under
      MERGE_MAX_AREA the widened cell's remaining face (1024) beats
      the neighbour's (896), so the strip merges WEST;
    - gap: cells at (gx%4==3, gy%4==1) are shrunk 2 units on the
      west edge, leaving a 2x32 sliver gap (inscribed diameter 2 <=
      gap_maximum_width 3) that merges to the longest-border
      neighbour — the west rect wins the id-ascending strict-greater
      scan (CleanCoverage::mergeGap semantics).

    Partitioned at level 6 (tile 64 = 2x2 rects per group) with an
    explicit halo margin, so the plan stays lazy and every defect is
    decided identically in every group that sees it.  The cleaned
    area and perimeter per member are closed-form."""
    from geos_spark.functions.st import st_area, st_length
    from geos_spark.operators.coverage import (
        coverage_clean_partitioned,
    )

    def _grid(spark):
        from geos_spark.kernels import geom as G
        from geos_spark.kernels.wkb import write_wkb

        rows = []
        for gx in range(8):
            for gy in range(8):
                x0, y0 = 32.0 * gx, 32.0 * gy
                x1, y1 = x0 + 32.0, y0 + 32.0
                if gx % 4 == 1 and gy % 4 == 2:
                    x1 += 4.0  # overlap east neighbour
                if gx % 4 == 3 and gy % 4 == 1:
                    x0 += 2.0  # sliver gap to west neighbour
                ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
                rows.append(
                    (gx * 8 + gy,
                     bytearray(write_wkb(G.Geom.polygon([ring]))))
                )
        return spark.createDataFrame(rows, "id long, wkb binary")

    out = coverage_clean_partitioned(
        _grid(spark),
        snapping_distance=0.0,
        overlap_merge_strategy=1,  # MERGE_MAX_AREA
        gap_maximum_width=3.0,
        halo_margin=48.0,
        level=6,
        extent=EXTENT,
    )
    return out.select(
        "id",
        F.round(st_area(F.col("cleaned_wkb")), 6).alias("area_r"),
        F.round(st_length(F.col("cleaned_wkb")), 6).alias("perim_r"),
    )


def q_coverage_clean_sql() -> str:
    """Closed-form oracle: widened cells absorb the 4x32 overlap
    (36x32 rect), their east neighbours lose it (28x32); gap donors
    shrink to 30x32, their west neighbours absorb the 2x32 sliver
    (34x32); everything else stays 32x32."""
    return """
SELECT gx.range * 8 + gy.range AS id,
       CASE
         WHEN gx.range % 4 = 1 AND gy.range % 4 = 2 THEN 1152.0
         WHEN gx.range % 4 = 2 AND gy.range % 4 = 2 THEN 896.0
         WHEN gx.range % 4 = 3 AND gy.range % 4 = 1 THEN 960.0
         WHEN gx.range % 4 = 2 AND gy.range % 4 = 1 THEN 1088.0
         ELSE 1024.0
       END AS area_r,
       CASE
         WHEN gx.range % 4 = 1 AND gy.range % 4 = 2 THEN 136.0
         WHEN gx.range % 4 = 2 AND gy.range % 4 = 2 THEN 120.0
         WHEN gx.range % 4 = 3 AND gy.range % 4 = 1 THEN 124.0
         WHEN gx.range % 4 = 2 AND gy.range % 4 = 1 THEN 132.0
         ELSE 128.0
       END AS perim_r
FROM range(8) gx, range(8) gy
"""


_POLY_SHIFT = (100.0, 60.0)  # L1 = 160 < 2*96: real intersecting pairs


def q_poly_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-polygon intersects join, star set vs shifted star set.
    Exact DuckDB oracle: bbox prefilter + edge-crossing + mutual
    vertex-containment SQL over the integer-coordinate star edges."""
    import numpy as np

    from geos_spark.kernels import geom as G
    from geos_spark.kernels.wkb import write_wkb
    from geos_spark.operators.spatial_join import polygon_join
    from geos_spark.sources.pages import star_vertices

    a = star_polygons(spark)
    shifted = []
    for p in range(256):
        v = star_vertices(p) + np.array(_POLY_SHIFT)
        shifted.append(
            (p, bytearray(write_wkb(G.Geom(G.POLYGON, [v]))),
             float(v[:, 0].min()), float(v[:, 1].min()),
             float(v[:, 0].max()), float(v[:, 1].max()))
        )
    b = spark.createDataFrame(
        shifted,
        "b_poly_id long, bwkb binary, bxmin double, bymin double,"
        " bxmax double, bymax double",
    )
    out = polygon_join(a, b, "intersects", level=5, extent=EXTENT)
    return out.select("poly_id", "b_poly_id")


def q_poly_join_sql() -> str:
    """Polygon-polygon intersects as exact integer SQL: two simple
    polygons intersect iff some edge pair intersects or one contains
    a vertex of the other (ray-crossing parity; boundary touches are
    caught by the collinear/on-segment edge clauses)."""
    dx, dy = int(_POLY_SHIFT[0]), int(_POLY_SHIFT[1])
    # exact integer segment-segment intersection: opposite strict
    # orientations both ways, or an endpoint collinear-on the other
    seg_inter = """
        ((ea.x2-ea.x1)*(eb.y1-ea.y1) - (ea.y2-ea.y1)*(eb.x1-ea.x1)) *
        ((ea.x2-ea.x1)*(eb.y2-ea.y1) - (ea.y2-ea.y1)*(eb.x2-ea.x1)) < 0
        AND
        ((eb.x2-eb.x1)*(ea.y1-eb.y1) - (eb.y2-eb.y1)*(ea.x1-eb.x1)) *
        ((eb.x2-eb.x1)*(ea.y2-eb.y1) - (eb.y2-eb.y1)*(ea.x2-eb.x1)) < 0
        OR (((ea.x2-ea.x1)*(eb.y1-ea.y1) - (ea.y2-ea.y1)*(eb.x1-ea.x1)) = 0
            AND eb.x1 BETWEEN LEAST(ea.x1,ea.x2) AND GREATEST(ea.x1,ea.x2)
            AND eb.y1 BETWEEN LEAST(ea.y1,ea.y2) AND GREATEST(ea.y1,ea.y2))
        OR (((ea.x2-ea.x1)*(eb.y2-ea.y1) - (ea.y2-ea.y1)*(eb.x2-ea.x1)) = 0
            AND eb.x2 BETWEEN LEAST(ea.x1,ea.x2) AND GREATEST(ea.x1,ea.x2)
            AND eb.y2 BETWEEN LEAST(ea.y1,ea.y2) AND GREATEST(ea.y1,ea.y2))
        OR (((eb.x2-eb.x1)*(ea.y1-eb.y1) - (eb.y2-eb.y1)*(ea.x1-eb.x1)) = 0
            AND ea.x1 BETWEEN LEAST(eb.x1,eb.x2) AND GREATEST(eb.x1,eb.x2)
            AND ea.y1 BETWEEN LEAST(eb.y1,eb.y2) AND GREATEST(eb.y1,eb.y2))
        OR (((eb.x2-eb.x1)*(ea.y2-eb.y1) - (eb.y2-eb.y1)*(ea.x2-eb.x1)) = 0
            AND ea.x2 BETWEEN LEAST(eb.x1,eb.x2) AND GREATEST(eb.x1,eb.x2)
            AND ea.y2 BETWEEN LEAST(eb.y1,eb.y2) AND GREATEST(eb.y1,eb.y2))
    """

    def pip_having(edge_tbl: str) -> str:
        return f"""
        SUM(CASE WHEN ((e.y1 > v.vy AND e.y2 <= v.vy)
                    OR (e.y2 > v.vy AND e.y1 <= v.vy))
              AND (CASE WHEN e.y2 < e.y1 THEN -1 ELSE 1 END)
                  * ((e.x2-e.x1)*(v.vy-e.y1) - (e.y2-e.y1)*(v.vx-e.x1)) > 0
            THEN 1 ELSE 0 END) % 2 = 1
        """

    return f"""
WITH {star_params_sql()},
b_verts AS (
    SELECT poly_id, j, vx + {dx} AS vx, vy + {dy} AS vy FROM star_verts
),
b_edges AS (
    SELECT poly_id, j, x1 + {dx} AS x1, y1 + {dy} AS y1,
           x2 + {dx} AS x2, y2 + {dy} AS y2
    FROM star_edges
),
b_bbox AS (
    SELECT poly_id, xmin + {dx} AS xmin, ymin + {dy} AS ymin,
           xmax + {dx} AS xmax, ymax + {dy} AS ymax
    FROM star_bbox
),
cand AS (
    SELECT a.poly_id AS pa, b.poly_id AS pb
    FROM star_bbox a JOIN b_bbox b
      ON a.xmin <= b.xmax AND b.xmin <= a.xmax
     AND a.ymin <= b.ymax AND b.ymin <= a.ymax
),
edge_hit AS (
    SELECT DISTINCT c.pa, c.pb
    FROM cand c
    JOIN star_edges ea ON ea.poly_id = c.pa
    JOIN b_edges eb ON eb.poly_id = c.pb
    WHERE {seg_inter}
),
a_in_b AS (
    SELECT c.pa, c.pb
    FROM cand c
    JOIN star_verts v ON v.poly_id = c.pa AND v.j = 0
    JOIN b_edges e ON e.poly_id = c.pb
    GROUP BY c.pa, c.pb, v.vx, v.vy
    HAVING {pip_having('b_edges')}
),
b_in_a AS (
    SELECT c.pa, c.pb
    FROM cand c
    JOIN b_verts v ON v.poly_id = c.pb AND v.j = 0
    JOIN star_edges e ON e.poly_id = c.pa
    GROUP BY c.pa, c.pb, v.vx, v.vy
    HAVING {pip_having('star_edges')}
)
SELECT pa AS poly_id, pb AS b_poly_id FROM edge_hit
UNION
SELECT pa AS poly_id, pb AS b_poly_id FROM a_in_b
UNION
SELECT pa AS poly_id, pb AS b_poly_id FROM b_in_a
"""


# ----------------------------------------------------------------------
# simhash fingerprints (md5-derived, fully SQL-reproducible)
# ----------------------------------------------------------------------


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document from token md5s, native bit arithmetic in one aggregation."""
    from geos_spark.operators.dedup import simhash64_df

    docs = _docs(spark, sf_dir)
    return simhash64_df(docs, shingle_k=2)


def q_simhash_sql() -> str:
    votes = []
    for b in range(64):
        src = "lo" if b < 32 else "hi"
        k = b % 32
        votes.append(
            f"SUM(CASE WHEN (({src} >> {k}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        )
    terms = []
    for b in range(63):
        terms.append(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)")
    terms.append(
        "(CASE WHEN b63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END)"
    )
    return f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(
               list_transform(
                   range(1, greatest(len(t) - 1, 1) + 1),
                   i -> concat_ws(' ', t[i], t[i + 1])
               )
           ) AS shingles
    FROM toks
),
e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
h AS (
    SELECT doc_id,
           ('0x' || substr(md5(s), 1, 8))::BIGINT AS lo,
           ('0x' || substr(md5(s), 9, 8))::BIGINT AS hi
    FROM e
),
v AS (SELECT doc_id, {', '.join(votes)} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({' + '.join(terms)} AS BIGINT) AS simhash FROM v
"""


# ----------------------------------------------------------------------
# aggregates: distributed convex hull (partial/final), point-set union
# ----------------------------------------------------------------------


def q_hull_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed convex-hull aggregate (partial per-batch hulls +
    one-group final hull, nothing driver-side). Oracle: the hull-edge
    characterization in SQL — (a,b) is a hull edge iff every other
    point lies left of it."""
    from geos_spark.operators.aggregates import convex_hull_agg_df

    hull = convex_hull_agg_df(_doc_points(spark, sf_dir))
    # the ring repeats the first vertex at the end — emit the vertex
    # SET (the driver compares sorted values)
    return hull.select("hx", "hy").distinct()


def q_hull_agg_sql() -> str:
    # coordinates are k/2^20 with integer k, so scaling by 2^20 makes
    # every cross product exact in HUGEINT — matching the engine's DD
    # orientation exactly (the synthetic hot points contain exactly
    # collinear runs, which GEOS's hull drops)
    return f"""
WITH {_POINTS_CTE},
ipts AS MATERIALIZED (
    SELECT doc_id, px, py,
           CAST(ROUND(px * 1048576) AS HUGEINT) AS ix,
           CAST(ROUND(py * 1048576) AS HUGEINT) AS iy
    FROM points
),
-- Akl-Toussaint prefilter (exact): a point strictly inside the
-- W->S->E->N extreme-point quadrilateral cannot be a hull vertex,
-- and every true hull vertex survives, so the O(m^3) edge test
-- below stays exact while m collapses from n to the outer shell
quad AS (
    SELECT
      (SELECT ix FROM ipts ORDER BY ix, iy LIMIT 1) AS wx,
      (SELECT iy FROM ipts ORDER BY ix, iy LIMIT 1) AS wy,
      (SELECT ix FROM ipts ORDER BY iy, ix LIMIT 1) AS sx,
      (SELECT iy FROM ipts ORDER BY iy, ix LIMIT 1) AS sy,
      (SELECT ix FROM ipts ORDER BY ix DESC, iy DESC LIMIT 1) AS ex_,
      (SELECT iy FROM ipts ORDER BY ix DESC, iy DESC LIMIT 1) AS ey,
      (SELECT ix FROM ipts ORDER BY iy DESC, ix DESC LIMIT 1) AS nx,
      (SELECT iy FROM ipts ORDER BY iy DESC, ix DESC LIMIT 1) AS ny
),
cand AS MATERIALIZED (
    SELECT p.* FROM ipts p, quad q
    WHERE NOT (
          (q.sx - q.wx) * (p.iy - q.wy) - (q.sy - q.wy) * (p.ix - q.wx) > 0
      AND (q.ex_ - q.sx) * (p.iy - q.sy) - (q.ey - q.sy) * (p.ix - q.sx) > 0
      AND (q.nx - q.ex_) * (p.iy - q.ey) - (q.ny - q.ey) * (p.ix - q.ex_) > 0
      AND (q.wx - q.nx) * (p.iy - q.ny) - (q.wy - q.ny) * (p.ix - q.nx) > 0
    )
),
hull_edges AS (
    SELECT a.doc_id AS ai, b.doc_id AS bi,
           a.px AS ax, a.py AS ay, a.ix AS aix, a.iy AS aiy,
           b.ix AS bix, b.iy AS biy
    FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
    WHERE NOT EXISTS (
        SELECT 1 FROM cand r
        WHERE r.doc_id <> a.doc_id AND r.doc_id <> b.doc_id
          AND (b.ix - a.ix) * (r.iy - a.iy)
              - (b.iy - a.iy) * (r.ix - a.ix) < 0
    )
),
verts AS (
    SELECT DISTINCT ai AS doc_id, ax AS hx, ay AS hy,
           aix AS ix, aiy AS iy
    FROM hull_edges
)
SELECT v.hx, v.hy FROM verts v
WHERE NOT EXISTS (
    -- drop collinear boundary vertices: v strictly inside another
    -- hull edge (exact integer collinearity + coordinate betweenness)
    SELECT 1 FROM hull_edges e
    WHERE e.ai <> v.doc_id AND e.bi <> v.doc_id
      AND (e.bix - e.aix) * (v.iy - e.aiy)
          - (e.biy - e.aiy) * (v.ix - e.aix) = 0
      AND ((v.ix > LEAST(e.aix, e.bix) AND v.ix < GREATEST(e.aix, e.bix))
        OR (v.iy > LEAST(e.aiy, e.biy) AND v.iy < GREATEST(e.aiy, e.biy)))
)
"""


def q_union_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unaryUnion over a point set = distinct coordinates; report the
    union's cardinality and extent (native distinct + agg)."""
    from geos_spark.operators.aggregates import collect_union_points

    u = collect_union_points(_doc_points(spark, sf_dir))
    return u.agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.min("ux").alias("minx"),
        F.max("uy").alias("maxy"),
    )


def q_union_points_sql() -> str:
    return f"""
WITH {_POINTS_CTE},
u AS (SELECT DISTINCT px, py FROM points)
SELECT COUNT(*) AS n_pts, MIN(px) AS minx, MAX(py) AS maxy FROM u
"""


# ----------------------------------------------------------------------
# registry
# ----------------------------------------------------------------------



# ----------------------------------------------------------------------
# training-pipeline tier: quality / fingerprint / minhash / jaccard
# ----------------------------------------------------------------------


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality signals (stopword ratio, punctuation hits) as native length-difference expressions."""
    from geos_spark.operators.text import with_quality

    out = with_quality(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("punct_hits").cast("long").alias("punct_hits"),
        F.round(F.col("stopword_ratio"), 6).alias("stop_ratio_r"),
    )


def q_quality_sql() -> str:
    words = ["the", "and", "of", "to", "in", "is", "was", "for"]
    hits = " + ".join(
        f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
        for w in words
    )
    return f"""
SELECT doc_id,
       CAST((length(text) - length(replace(text, '.', ''))) AS BIGINT) AS punct_hits,
       ROUND(CAST({hits} AS DOUBLE)
             / GREATEST(CAST(length(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0),
             6) AS stop_ratio_r
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document md5 content fingerprint, all JVM."""
    from geos_spark.operators.text import with_fingerprint

    return with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


def q_fingerprint_sql() -> str:
    return "SELECT doc_id, md5(text) AS fingerprint FROM documents"


_MH_N = 8
_MH_A = 1103515245
_MH_P = 2147483647


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 perms) from 3-word shingles: single-pass explode + one aggregation, md5-derived hashes so SQL replays them bit-exact."""
    from geos_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(
        _docs(spark, sf_dir), num_hashes=_MH_N, shingle_k=3
    )
    cols = [F.col("id").alias("doc_id")] + [
        F.element_at(F.col("sig"), j + 1).alias(f"s{j}") for j in range(_MH_N)
    ]
    return sigs.select(*cols)


def q_minhash_sql() -> str:
    sig_cols = ",\n       ".join(
        f"list_min(list_transform(h, v -> (v * {_MH_A * (j + 1) % _MH_P} + {j * 12345 + 1}) % {_MH_P})) AS s{j}"
        for j in range(_MH_N)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
    FROM documents
),
shingles AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(t) - 2, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])
           )) AS sh
    FROM toks
),
hashes AS (
    SELECT doc_id,
           list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS h
    FROM shingles
)
SELECT doc_id,
       {sig_cols}
FROM hashes
"""


_LSH_BANDS = 4
_LSH_MAX_BUCKET = 1000


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-LSH banded candidate pairs (hot buckets capped — the
    100 TB-safe candidate source; a raw shingle inverted index is
    quadratic on boilerplate shingles) + exact n-gram Jaccard
    verify."""
    from geos_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    cand = minhash_lsh_pairs(
        docs,
        num_hashes=_MH_N,
        bands=_LSH_BANDS,
        shingle_k=3,
        max_bucket=_LSH_MAX_BUCKET,
    )
    out = ngram_jaccard_pairs(docs, cand, shingle_k=3, threshold=0.2)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jacc_r"))


def _jaccard_cte() -> str:
    """Shared oracle CTE chain: documents -> shingles -> minhash sigs
    -> banded LSH buckets (hot-bucket cap) -> candidate pairs ->
    exact Jaccard ``j(id_a, id_b, jac)``.  Used by q_jaccard_pairs
    and q_dedup_clusters so both gates replay the identical
    pipeline."""
    rows = _MH_N // _LSH_BANDS
    sig_cols = ",\n       ".join(
        f"list_min(list_transform(h, v -> (v * {_MH_A * (j + 1) % _MH_P} + {j * 12345 + 1}) % {_MH_P})) AS s{j}"
        for j in range(_MH_N)
    )
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS bucket FROM sigs".format(
            b=b,
            cols=", ".join(f"s{b * rows + r}" for r in range(rows)),
        )
        for b in range(_LSH_BANDS)
    )
    return f"""toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
    FROM documents
),
shingles AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(t) - 2, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])
           )) AS sh
    FROM toks
),
hashes AS (
    SELECT doc_id,
           list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS h
    FROM shingles
),
sigs AS (
    SELECT doc_id,
           {sig_cols}
    FROM hashes
),
banded_all AS (
{band_rows}
),
banded AS (
    SELECT b.* FROM banded_all b
    JOIN (
        SELECT band, bucket FROM banded_all
        GROUP BY band, bucket
        HAVING COUNT(*) <= {_LSH_MAX_BUCKET}
    ) ok USING (band, bucket)
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
j AS (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jac
    FROM cand c
    JOIN shingles sa ON sa.doc_id = c.id_a
    JOIN shingles sb ON sb.doc_id = c.id_b
)"""


def q_jaccard_pairs_sql() -> str:
    return f"""
WITH {_jaccard_cte()}
SELECT id_a, id_b, ROUND(jac, 6) AS jacc_r
FROM j
WHERE jac >= 0.2
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data near-dup pipeline as one operator:
    minhash-LSH candidates -> exact Jaccard verify -> connected
    components -> per-doc canonical representative + keep flag.
    Every doc appears exactly once; a downstream pipeline keeps
    ``keep`` rows (one per near-dup cluster) and drops the rest."""
    from geos_spark.operators.dedup import dedup_clusters

    out = dedup_clusters(
        _docs(spark, sf_dir),
        num_hashes=_MH_N,
        bands=_LSH_BANDS,
        shingle_k=3,
        threshold=0.2,
        max_bucket=_LSH_MAX_BUCKET,
    )
    return out.select("doc_id", "canonical", "csize", "keep")


def q_dedup_clusters_sql() -> str:
    # same candidate+verify chain as q_jaccard_pairs, then min-label
    # connected components as a recursive CTE over the symmetric
    # verified-pair graph
    return f"""
WITH RECURSIVE {_jaccard_cte()},
pairs AS (
    SELECT id_a, id_b FROM j WHERE jac >= 0.2
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
cc AS (
    SELECT doc_id AS id, doc_id AS lbl FROM documents
    UNION
    SELECT e.dst AS id, cc.lbl
    FROM cc JOIN edges e ON e.src = cc.id
    WHERE cc.lbl < e.dst
),
lab AS (
    SELECT id AS doc_id, MIN(lbl) AS canonical FROM cc GROUP BY id
),
sz AS (
    SELECT canonical, COUNT(*) AS csize FROM lab GROUP BY canonical
)
SELECT l.doc_id, l.canonical, s.csize, l.doc_id = l.canonical AS keep
FROM lab l JOIN sz s USING (canonical)
"""


# ----------------------------------------------------------------------
# overlay tier: rectangle overlay with arithmetic oracle; union agg
# ----------------------------------------------------------------------


def q_rect_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc squares clipped against star bounding boxes through the
    REAL overlay kernel (st_intersection -> st_area); the oracle is
    closed-form rectangle-intersection arithmetic, so this checks the
    noding + face extraction end-to-end on every overlapping pair."""
    from geos_spark.functions import st

    pts = _doc_points(spark, sf_dir)
    sq = (
        pts.withColumn("sxmin", F.col("x") - _HALF)
        .withColumn("symin", F.col("y") - _HALF)
        .withColumn("sxmax", F.col("x") + _HALF)
        .withColumn("symax", F.col("y") + _HALF)
    )
    bb = star_polygons(spark).select("poly_id", "xmin", "ymin", "xmax", "ymax")
    pairs = sq.join(
        F.broadcast(bb),
        (F.col("sxmin") < F.col("xmax"))
        & (F.col("xmin") < F.col("sxmax"))
        & (F.col("symin") < F.col("ymax"))
        & (F.col("ymin") < F.col("symax")),
    )
    ga = st.st_make_box("sxmin", "symin", "sxmax", "symax")
    gb = st.st_make_box("xmin", "ymin", "xmax", "ymax")
    out = pairs.withColumn("inter", st.st_intersection(ga, gb))
    return out.select(
        "doc_id",
        "poly_id",
        F.round(st.st_area(F.col("inter")), 6).alias("ia_r"),
    )


def q_rect_overlay_sql() -> str:
    return f"""
WITH {_POINTS_CTE},
{star_params_sql()}
SELECT p.doc_id, bb.poly_id,
       ROUND((LEAST(p.px + {_HALF}, bb.xmax) - GREATEST(p.px - {_HALF}, bb.xmin))
           * (LEAST(p.py + {_HALF}, bb.ymax) - GREATEST(p.py - {_HALF}, bb.ymin)), 6) AS ia_r
FROM points p
JOIN star_bbox bb
  ON (p.px - {_HALF}) < bb.xmax AND bb.xmin < (p.px + {_HALF})
 AND (p.py - {_HALF}) < bb.ymax AND bb.ymin < (p.py + {_HALF})
"""


def q_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed cascaded polygon union (unaryUnion aggregate) of
    the star polygons grouped into 4 bands. The stars are pairwise
    disjoint (radius <= 96, grid half-spacing 128), so the union area
    per band equals the shoelace-sum of member areas — an exact SQL
    oracle that the union engine must reproduce through the full
    cascade."""
    from geos_spark.functions import st
    from geos_spark.operators.aggregates import unary_union_agg

    stars = star_polygons(spark).withColumn(
        "grp", (F.col("poly_id") % 4).cast("long")
    )
    u = unary_union_agg(stars, wkb_col="wkb", group_cols=["grp"])
    return u.select(
        "grp", F.round(st.st_area(F.col("union_wkb")), 5).alias("uarea_r")
    )


def q_union_area_dsu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as union_area, computed through
    GEOSDisjointSubsetUnion semantics (capi geos_c.h.in:1085): each
    merge step clusters members by intersects and unions per cluster.
    The stars are pairwise disjoint, so this exercises the cluster
    sweep + structural-merge path end-to-end against the identical
    closed-form oracle."""
    from geos_spark.functions import st
    from geos_spark.operators.aggregates import unary_union_agg

    stars = star_polygons(spark).withColumn(
        "grp", (F.col("poly_id") % 4).cast("long")
    )
    u = unary_union_agg(
        stars, wkb_col="wkb", group_cols=["grp"],
        algorithm="disjoint_subsets",
    )
    return u.select(
        "grp", F.round(st.st_area(F.col("union_wkb")), 5).alias("uarea_r")
    )


def q_union_area_sql() -> str:
    return f"""
WITH {star_params_sql()},
areas AS (
    SELECT poly_id, SUM(x1 * y2 - x2 * y1) / 2.0 AS area
    FROM star_edges
    GROUP BY poly_id
)
SELECT poly_id % 4 AS grp, ROUND(SUM(ABS(area)), 5) AS uarea_r
FROM areas
GROUP BY poly_id % 4
"""


def q_tile_reunion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile round-trip: clip every star to the level-6 tile grid, then
    re-unite the fragments per polygon with the coverage union (the
    boundary-cancel fast union — fragments of one tiling level form a
    valid coverage by construction). The reunited area must equal the
    original star area exactly (SQL shoelace oracle)."""
    import pandas as pd

    from geos_spark.kernels import geom as G
    from geos_spark.kernels.coverage import coverage_union
    from geos_spark.kernels.scalars import geom_area
    from geos_spark.kernels.wkb import parse_wkb
    from geos_spark.operators.tiling import tile_materialize
    from pyspark.sql import types as T

    frags = tile_materialize(star_polygons(spark), level=6, extent=EXTENT)

    schema = T.StructType(
        [
            T.StructField("poly_id", T.LongType()),
            T.StructField("uarea_r", T.DoubleType()),
        ]
    )

    def _reunite(pdf: pd.DataFrame) -> pd.DataFrame:
        parts = []
        for b in pdf["clipped_wkb"]:
            if b is None:
                continue
            g = parse_wkb(bytes(b))
            parts.extend(
                p for p in g.geoms() if p.type_id == G.POLYGON and p.data
            )
        u = coverage_union(
            G.Geom.collection(G.GEOMETRYCOLLECTION, parts)
        )
        return pd.DataFrame(
            {
                "poly_id": [pdf["poly_id"].iloc[0]],
                "uarea_r": [round(geom_area(u), 5)],
            }
        )

    return (
        frags.select("poly_id", "clipped_wkb")
        .groupBy("poly_id")
        .applyInPandas(_reunite, schema)
    )


def q_tile_reunion_sql() -> str:
    return f"""
WITH {star_params_sql()}
SELECT poly_id,
       ROUND(ABS(SUM(x1 * y2 - x2 * y1) / 2.0), 5) AS uarea_r
FROM star_edges
GROUP BY poly_id
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column -> mapInPandas
    feature extraction (deterministic fake decoder; rows-only check —
    the schema/batch shape is the contract, SURVEY §2.1)."""
    from geos_spark.operators.multimodal import extract_features

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    feats = extract_features(media, deterministic_fake=True)
    # the driver canonicalizes by sorting column VALUES — array<float>
    # is unhashable there, so project the vector to a stable scalar
    # signature (micro-rounded CSV) + the byte count
    return feats.select(
        "media_id",
        F.expr(
            "concat_ws(',', transform(feature,"
            " v -> cast(round(v * 1000000) as long)))"
        ).alias("feature_sig"),
        "n_bytes",
    )


def q_media_features_sql() -> str:
    """DuckDB replication of the deterministic fake decoder: the 8x8x3
    image is sha256(payload) repeated 6x, so each digest byte lands
    exactly twice in each channel (gcd(32,3)=1) -> all channel means
    equal 2*sum(digest)/64/255, and histogram counts are 6x the
    digest-byte bin counts.  Bin index for integer v is
    least(12, v*13//255) (verified equal to np.histogram's float edge
    search for all 256 byte values).  float32 truncation of the
    feature vector is replicated with CAST(.. AS REAL)."""
    mean = "CAST(CAST(CAST(2*s AS DOUBLE)/64.0/255.0 AS REAL) AS DOUBLE)"
    bins = ",\n       ".join(
        f"COUNT(*) FILTER (WHERE LEAST(12, byte*13//255) = {b}) AS c{b}"
        for b in range(13)
    )
    hist = ", ".join(
        "CAST(round(CAST(CAST(CAST(6*c{b} AS DOUBLE)/192.0 AS REAL)"
        " AS DOUBLE) * 1000000) AS BIGINT)".format(b=b)
        for b in range(13)
    )
    return f"""
WITH hx AS (
    SELECT doc_id,
           sha256(COALESCE(text, '')) AS h,
           octet_length(encode(COALESCE(text, ''))) AS n_bytes
    FROM documents
),
b AS (
    SELECT doc_id, n_bytes,
           (strpos('0123456789abcdef', substr(h, 2*i+1, 1))-1)*16
         + (strpos('0123456789abcdef', substr(h, 2*i+2, 1))-1) AS byte
    FROM hx, (SELECT unnest(generate_series(0, 31)) AS i)
),
agg AS (
    SELECT doc_id, ANY_VALUE(n_bytes) AS n_bytes, SUM(byte) AS s,
       {bins}
    FROM b GROUP BY doc_id
)
SELECT doc_id AS media_id,
       concat_ws(',',
           CAST(round({mean} * 1000000) AS BIGINT),
           CAST(round({mean} * 1000000) AS BIGINT),
           CAST(round({mean} * 1000000) AS BIGINT),
           {hist}) AS feature_sig,
       CAST(n_bytes AS BIGINT) AS n_bytes
FROM agg
"""




# ----------------------------------------------------------------------
# clustering (SURVEY §2.6): connected components / DBSCAN
# ----------------------------------------------------------------------

_EPS_CC = 120.0
_DBSCAN_MINPTS = 3


def q_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance clustering: components of the eps-neighbour
    graph via iterative min-label propagation (union-find over the
    cell-join pair table, GEOSClusterGeometryDistance semantics)."""
    from geos_spark.operators.cluster import cluster_within_distance

    pts = _doc_points(spark, sf_dir).withColumnRenamed("doc_id", "id")
    out = cluster_within_distance(pts, _EPS_CC, level=5, extent=EXTENT)
    return out.select(F.col("id").alias("doc_id"), F.col("cluster"))


def q_cluster_cc_sql() -> str:
    return f"""
WITH RECURSIVE {_POINTS_CTE},
edges AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM points a JOIN points b ON a.doc_id <> b.doc_id
     AND (a.px-b.px)*(a.px-b.px) + (a.py-b.py)*(a.py-b.py) <= {_EPS_CC * _EPS_CC}
),
cc AS (
    SELECT doc_id AS id, doc_id AS lbl FROM points
    UNION
    SELECT e.dst AS id, cc.lbl
    FROM cc JOIN edges e ON e.src = cc.id
    WHERE cc.lbl < e.dst
)
SELECT id AS doc_id, MIN(lbl) AS cluster
FROM cc GROUP BY id
"""


def q_cluster_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (GEOSClusterDBSCAN): core if >= min_pts neighbours
    within eps (self included); clusters = components of the
    core-core graph, borders adopt min neighbouring core cluster,
    noise NULL."""
    from geos_spark.operators.cluster import cluster_dbscan

    pts = _doc_points(spark, sf_dir).withColumnRenamed("doc_id", "id")
    out = cluster_dbscan(
        pts, _EPS_CC, _DBSCAN_MINPTS, level=5, extent=EXTENT
    )
    return out.select(F.col("id").alias("doc_id"), F.col("cluster"))


def q_cluster_dbscan_sql() -> str:
    eps2 = _EPS_CC * _EPS_CC
    return f"""
WITH RECURSIVE {_POINTS_CTE},
edges AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM points a JOIN points b ON a.doc_id <> b.doc_id
     AND (a.px-b.px)*(a.px-b.px) + (a.py-b.py)*(a.py-b.py) <= {eps2}
),
deg AS (
    SELECT p.doc_id, COUNT(e.dst) + 1 AS n
    FROM points p LEFT JOIN edges e ON e.src = p.doc_id
    GROUP BY p.doc_id
),
core AS (
    SELECT doc_id FROM deg WHERE n >= {_DBSCAN_MINPTS}
),
core_edges AS (
    SELECT e.src, e.dst FROM edges e
    JOIN core c1 ON c1.doc_id = e.src
    JOIN core c2 ON c2.doc_id = e.dst
),
cc AS (
    SELECT doc_id AS id, doc_id AS lbl FROM core
    UNION
    SELECT e.dst AS id, cc.lbl
    FROM cc JOIN core_edges e ON e.src = cc.id
    WHERE cc.lbl < e.dst
),
core_cluster AS (
    SELECT id, MIN(lbl) AS cluster FROM cc GROUP BY id
),
border AS (
    SELECT e.src AS id, MIN(k.cluster) AS bcluster
    FROM edges e JOIN core_cluster k ON k.id = e.dst
    GROUP BY e.src
)
SELECT p.doc_id,
       COALESCE(k.cluster, b.bcluster) AS cluster
FROM points p
LEFT JOIN core_cluster k ON k.id = p.doc_id
LEFT JOIN border b ON b.id = p.doc_id AND k.id IS NULL
"""


# ----------------------------------------------------------------------
# corpus-promoted fixture queries: the reference's own xmltester
# expectations as driver oracles (engine computes at run time, the
# oracle is a VALUES table of the XML expected outputs — see
# geos_spark/fixtures.py)
# ----------------------------------------------------------------------


def q_xt_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DE-9IM predicate battery (intersects/contains/covers/relate/
    equalsExact/withinDistance...) over tests/xmltester/tests/general."""
    from geos_spark import fixtures as FX

    return FX.fixture_query(spark, FX.predicate_cases())


def q_xt_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The validate-corpus predicate battery (5,326 relate +
    named-predicate cases, tests/xmltester/tests/validate)."""
    from geos_spark import fixtures as FX

    return FX.fixture_query(spark, FX.validate_cases())


def q_xt_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isValid / isSimple corpus battery."""
    from geos_spark import fixtures as FX

    return FX.fixture_query(spark, FX.valid_cases())


def q_xt_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full float-overlay corpus (intersection/union/difference/
    symDifference incl. OverlayNG suites) — canonical-WKT bit-exact."""
    from geos_spark import fixtures as FX

    return FX.fixture_query(spark, FX.overlay_cases())


def q_xt_overlay_prec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-precision (snap-rounding) overlay corpus."""
    from geos_spark import fixtures as FX

    return FX.fixture_query(spark, FX.overlay_prec_cases())


def q_xt_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constructions + measures corpus: centroid, interiorPoint,
    convexHull, boundary, densify, simplify (DP+TP), minClearance,
    distance, makeValid, buildArea, lineMerge, unaryUnion."""
    from geos_spark import fixtures as FX

    return FX.fixture_query(spark, FX.construct_cases())


def q_xt_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffer corpus (round/mitre joins, holes, single-sided), judged
    with the reference's own BufferResultMatcher tolerance rule."""
    from geos_spark import fixtures as FX

    return FX.buffer_query(spark, FX.buffer_cases())


def q_xt_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robustness overlay corpus (tests/xmltester/tests/robust/overlay
    — historical JTS/GEOS failure geometries): area-identity checks
    (overlayAreaTest), unary-union scalars under the reference's own
    1e-3 tolerance, exact intersection/differenceSR/isValid cases."""
    from geos_spark import fixtures as FX

    return FX.fixture_query(spark, FX.robust_cases())


def q_xt_unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operators the xmltester corpus lacks, against the reference's
    unit-test expectations: snap, sharedPaths, isValidReason,
    concaveHull, maximumInscribedCircle, largestEmptyCircle."""
    from geos_spark import fixtures as FX

    return FX.unit_query(spark)


def q_xt_issue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOS issue-regression corpus (tests/xmltester/tests/issue):
    union under the reference's tolerant checkUnionResult matcher,
    areatest absolute identity checks, plus exact intersection/
    difference/symdifference/predicate/isValid/centroid rows."""
    from geos_spark import fixtures as FX

    return FX.fixture_query(spark, FX.issue_cases())


# ----------------------------------------------------------------------
# Structured Streaming twins — run to completion (availableNow) into a
# memory sink; the final table equals the batch result of the same
# native expressions, so the DuckDB oracles stay hash-binding.
# ----------------------------------------------------------------------


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the batch hash-group operator applied to
    a file-source stream and driven to completion. Same output
    contract — and same oracle — as ``dedup_exact``."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_dedup_exact,
    )

    s = read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    out, _ = run_stream_to_memory(streaming_dedup_exact(s), spark)
    return out


def q_stream_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-tile rollup (level-12 Hilbert cells): native
    point-derivation + bitwise cell chain + keyed aggregation on a
    file-source stream, run to completion."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_tile_rollup,
    )

    s = read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    out, _ = run_stream_to_memory(streaming_tile_rollup(s), spark)
    return out.select(
        "cell", "n_docs", F.col("sum_doc").cast("long").alias("sum_doc")
    )


def q_stream_tiles_sql() -> str:
    return f"""
SELECT cell,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc
FROM ({q_tile_assign_sql()})
GROUP BY cell
"""


def q_stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    first-seen dedup. The catalog input is a single file -> a single
    micro-batch, where first-seen keeper == global min(doc_id) — the
    SQL below; cross-batch arrival-order semantics are pinned in
    tests/test_streaming.py."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_first_seen,
    )

    s = read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    out, _ = run_stream_to_memory(
        streaming_first_seen(s), spark, output_mode="update"
    )
    return out


def q_stream_first_seen_sql() -> str:
    return """
SELECT md5(text) AS fingerprint, MIN(doc_id) AS keeper_id
FROM documents
GROUP BY md5(text)
"""


def q_stream_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming admission control: per-source quota via
    applyInPandasWithState (state = one admitted-count per source).
    Single-file input -> single micro-batch, where the in-batch
    ranking matches the batch source_quota exactly — the row shares
    its SQL oracle; cross-batch admission-order semantics are pinned
    in tests/test_streaming.py."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_source_quota,
    )

    s = read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    out, _ = run_stream_to_memory(
        streaming_source_quota(s, 20), spark, output_mode="append"
    )
    return out.select("doc_id", "source", "n_chars", "rank")


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user session windows over the events stream
    (gap 30min, watermark 1h, append mode): the emitted set after an
    availableNow run is exactly the sessions the watermark closed —
    sess_end < max(ts) - 1h — reproduced by the gaps-and-islands
    oracle below."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_user_sessions,
    )

    s = read_documents_stream(spark, f"{sf_dir}/events.parquet")
    out, _ = run_stream_to_memory(
        streaming_user_sessions(s), spark, output_mode="append"
    )
    return out


def q_stream_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the flagship spatial join: a file-source
    stream of document points joined stream-static against the star
    polygons prepared once (no state store — each micro-batch probes
    its points independently against the broadcast dim index, inside
    the python worker), driven to completion in append mode. Same 46-row
    oracle as ``pip_join``/``pip_native``."""
    from geos_spark.sources.pages import with_doc_point
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_pip_join,
    )

    s = read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    pts = with_doc_point(s.select("doc_id"))
    out, _ = run_stream_to_memory(
        streaming_pip_join(
            pts, star_polygons(spark), "intersects",
            level=_LEVEL_JOIN, extent=EXTENT,
        ),
        spark,
        output_mode="append",
    )
    return out.select("doc_id", "poly_id")


def q_stream_sessions_sql() -> str:
    return """
WITH br AS (
    SELECT user_id, ts, value,
           CASE WHEN ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS brk
    FROM events
),
g AS (
    SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
    FROM br
),
s AS (
    SELECT user_id,
           epoch_us(MIN(ts)) AS sess_start_us,
           epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS sess_end_us,
           COUNT(*) AS n_events,
           SUM(value) AS sum_value
    FROM g GROUP BY user_id, sid
)
SELECT user_id, sess_start_us, sess_end_us, n_events, sum_value
FROM s
WHERE sess_end_us < (SELECT epoch_us(MAX(ts) - INTERVAL 1 HOUR) FROM events)
"""


class _Oracles(UserDict):
    """Oracle SQL by query name. A value may be a zero-argument
    builder, run on first access and cached: the xt_* oracles read the
    GEOS reference corpus, which importing this module must not need."""

    def __getitem__(self, name: str) -> str:
        sql = self.data[name]
        if callable(sql):
            sql = self.data[name] = sql()
        return sql


def _fixture_oracles() -> dict:
    from geos_spark import fixtures as FX

    def of(cases):
        return lambda: FX.oracle_for(cases())

    return {
        "xt_unit": FX.unit_oracle,
        "xt_predicates": of(FX.predicate_cases),
        "xt_validate": of(FX.validate_cases),
        "xt_valid": of(FX.valid_cases),
        "xt_overlay": of(FX.overlay_cases),
        "xt_overlay_prec": of(FX.overlay_prec_cases),
        "xt_robust": of(FX.robust_cases),
        "xt_issue": of(FX.issue_cases),
        "xt_misc": of(FX.misc_cases),
        "xt_construct": of(FX.construct_cases),
        "xt_buffer": lambda: FX.oracle_all_match(FX.buffer_cases()),
    }


QUERIES = {
    "tile_assign": q_tile_assign,
    "pip_join": q_pip_join,
    "pip_native": q_pip_native,
    "bbox_join": q_bbox_join,
    "knn_centers": q_knn_centers,
    "distance_join": q_distance_join,
    "distance_native": q_distance_native,
    "star_area": q_star_area,
    "star_centroid": q_star_centroid,
    "curve_measures": q_curve_measures,
    "geom_accessors": q_geom_accessors,
    "geom_zm": q_geom_zm,
    "pages_extract": q_pages_extract,
    "boilerplate": q_boilerplate,
    "url_canon": q_url_canon,
    "ngram_dup": q_ngram_dup,
    "repetition": q_repetition,
    "extent_agg": q_extent_agg,
    "hilbert_topk": q_hilbert_topk,
    "dedup_exact": q_dedup_exact,
    "token_stats": q_token_stats,
    "bpe_tokens": q_bpe_tokens,
    "lang_guess": q_lang_guess,
    "rect_join": q_rect_join,
    "tile_area_sum": q_tile_area_sum,
    "tile_clip": q_tile_clip,
    "poly_join": q_poly_join,
    "poly_contains": q_poly_contains,
    "coverage_valid": q_coverage_valid,
    "coverage_simplify": q_coverage_simplify,
    "coverage_clean": q_coverage_clean,
    "hull_agg": q_hull_agg,
    "union_points": q_union_points,
    "simhash": q_simhash,
    "quality": q_quality,
    "fingerprint": q_fingerprint,
    "minhash": q_minhash,
    "jaccard_pairs": q_jaccard_pairs,
    "dedup_clusters": q_dedup_clusters,
    "sample_hash": q_sample_hash,
    "source_quota": q_source_quota,
    "stream_quota": q_stream_quota,
    "rect_overlay": q_rect_overlay,
    "union_area": q_union_area,
    "union_area_dsu": q_union_area_dsu,
    "tile_reunion": q_tile_reunion,
    "media_features": q_media_features,
    "cluster_cc": q_cluster_cc,
    "cluster_dbscan": q_cluster_dbscan,
    "xt_predicates": q_xt_predicates,
    "xt_validate": q_xt_validate,
    "xt_valid": q_xt_valid,
    "xt_overlay": q_xt_overlay,
    "xt_overlay_prec": q_xt_overlay_prec,
    "xt_construct": q_xt_construct,
    "xt_buffer": q_xt_buffer,
    "xt_unit": q_xt_unit,
    "xt_robust": q_xt_robust,
    "xt_issue": q_xt_issue,
    "stream_dedup": q_stream_dedup,
    "stream_tiles": q_stream_tiles,
    "stream_sessions": q_stream_sessions,
    "stream_first_seen": q_stream_first_seen,
    "stream_pip": q_stream_pip,
}

ORACLES = _Oracles({
    "tile_assign": q_tile_assign_sql(),
    "pip_join": q_pip_join_sql(),
    "pip_native": q_pip_join_sql(),
    "bbox_join": q_bbox_join_sql(),
    "knn_centers": q_knn_centers_sql(),
    "distance_join": q_distance_join_sql(),
    "distance_native": q_distance_native_sql(),
    "star_area": q_star_area_sql(),
    "star_centroid": q_star_centroid_sql(),
    "curve_measures": q_curve_measures_sql(),
    "geom_accessors": q_geom_accessors_sql(),
    "geom_zm": q_geom_zm_sql(),
    "pages_extract": q_pages_extract_sql(),
    "boilerplate": q_boilerplate_sql(),
    "url_canon": q_url_canon_sql(),
    "ngram_dup": q_ngram_dup_sql(),
    "repetition": q_repetition_sql(),
    "extent_agg": q_extent_agg_sql(),
    "hilbert_topk": q_hilbert_topk_sql(),
    "dedup_exact": q_dedup_exact_sql(),
    "token_stats": q_token_stats_sql(),
    "bpe_tokens": q_bpe_tokens_sql(),
    "lang_guess": q_lang_guess_sql(),
    "rect_join": q_rect_join_sql(),
    "tile_area_sum": q_tile_area_sum_sql(),
    "union_points": q_union_points_sql(),
    "simhash": q_simhash_sql(),
    "quality": q_quality_sql(),
    "fingerprint": q_fingerprint_sql(),
    "minhash": q_minhash_sql(),
    "jaccard_pairs": q_jaccard_pairs_sql(),
    "dedup_clusters": q_dedup_clusters_sql(),
    "sample_hash": q_sample_hash_sql(),
    "source_quota": q_source_quota_sql(),
    "stream_quota": q_source_quota_sql(),
    "rect_overlay": q_rect_overlay_sql(),
    "poly_join": q_poly_join_sql(),
    "poly_contains": q_poly_contains_sql(),
    "coverage_valid": q_coverage_valid_sql(),
    "coverage_simplify": q_coverage_simplify_sql(),
    "coverage_clean": q_coverage_clean_sql(),
    "hull_agg": q_hull_agg_sql(),
    "union_area": q_union_area_sql(),
    "union_area_dsu": q_union_area_sql(),
    "tile_reunion": q_tile_reunion_sql(),
    "cluster_cc": q_cluster_cc_sql(),
    "cluster_dbscan": q_cluster_dbscan_sql(),
    "media_features": q_media_features_sql(),
    "tile_clip": q_tile_clip_sql(),
    "stream_dedup": q_dedup_exact_sql(),
    "stream_tiles": q_stream_tiles_sql(),
    "stream_sessions": q_stream_sessions_sql(),
    "stream_first_seen": q_stream_first_seen_sql(),
    "stream_pip": q_pip_join_sql(),
})

ORACLES.update(_fixture_oracles())


# --------------------------------------------------------------------
# Late round 4 (continuation): webtext pipeline tranche 2 —
# PII redaction, Gopher/C4 quality filter, stratified sampling,
# paragraph-level dedup, BM25 ranking, inverted index.
# --------------------------------------------------------------------


def _pii_laced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII-laced corpus: every doc gets an email, every
    3rd a phone, every 5th an IPv4, every 7th an SSN — the same
    construction the oracle replays in SQL."""
    return _lace_pii(_docs(spark, sf_dir).select("doc_id", "text"))


def _lace_pii(d: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    laced = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@mail.example.org"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                ((did * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" ssn 123-45-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return d.select("doc_id", laced.alias("text"))


_PII_LACED_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' call 555-'"
    " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
    " || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub scored end-to-end: per-class counts + the md5 of the
    fully redacted text, hash-strict against a DuckDB oracle that is
    GENERATED from the same pattern table (operators/pii.py)."""
    from geos_spark.operators.pii import redact_pii

    out = redact_pii(_pii_laced(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_ssn",
        "n_phone",
        F.md5(F.encode(F.col("text_redacted"), "utf-8")).alias(
            "redacted_md5"
        ),
    )


def q_pii_redact_sql() -> str:
    from geos_spark.operators.pii import pii_oracle_exprs

    counts, red = pii_oracle_exprs("t")
    cols = ", ".join(counts)
    return f"""
WITH corpus AS (SELECT doc_id, {_PII_LACED_SQL} AS t FROM documents)
SELECT doc_id, {cols}, md5({red}) AS redacted_md5
FROM corpus
"""


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 composite quality filter: six named boolean rules +
    the conjunctive keep flag, all native codegen expressions."""
    from geos_spark.operators.text import gopher_rules

    out = gopher_rules(_docs(spark, sf_dir), min_words=20)
    flags = [
        "r_words",
        "r_mean_len",
        "r_symbols",
        "r_stopwords",
        "r_alpha",
        "r_blocklist",
        "keep",
    ]
    return out.select(
        "doc_id", *[F.col(c).cast("int").alias(c) for c in flags]
    )


def q_gopher_filter_sql() -> str:
    words = ["the", "and", "of", "to", "in", "is", "was", "for"]
    hits = " + ".join(
        f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
        for w in words
    )
    return f"""
WITH m AS (
  SELECT doc_id, text,
         length(string_split_regex(trim(text), '\\s+')) AS wc,
         length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace,
         CAST((length(text) - length(replace(text, '#', ''))) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS symbols,
         {hits} AS stop_hits,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS alpha
  FROM documents
), r AS (
  SELECT doc_id,
         CAST(wc >= 20 AND wc <= 100000 AS INT) AS r_words,
         CAST(CAST(nonspace AS DOUBLE) / greatest(wc, 1) >= 2.0
              AND CAST(nonspace AS DOUBLE) / greatest(wc, 1) <= 10.0 AS INT) AS r_mean_len,
         CAST(CAST(symbols AS DOUBLE) / greatest(wc, 1) <= 0.1 AS INT) AS r_symbols,
         CAST(stop_hits >= 2 AS INT) AS r_stopwords,
         CAST(CAST(alpha AS DOUBLE) / greatest(nonspace, 1) >= 0.6 AS INT) AS r_alpha,
         CAST(NOT (contains(lower(text), 'javascript')
                   OR contains(lower(text), 'lorem ipsum')
                   OR contains(lower(text), '{{')) AS INT) AS r_blocklist
  FROM m
)
SELECT doc_id, r_words, r_mean_len, r_symbols, r_stopwords, r_alpha, r_blocklist,
       CAST(r_words = 1 AND r_mean_len = 1 AND r_symbols = 1 AND r_stopwords = 1
            AND r_alpha = 1 AND r_blocklist = 1 AS INT) AS keep
FROM r
"""


def q_sample_strat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-language) deterministic sampling: broadcast
    fraction dim + portable hash threshold; 'es' exercises the
    default fraction."""
    from geos_spark.operators.sampling import stratified_sample

    out = stratified_sample(
        _docs(spark, sf_dir),
        {"en": 0.5, "de": 0.2, "fr": 0.8, "zh": 1.0},
        strata_col="lang",
        salt="s7",
        default_fraction=0.05,
    )
    return out.select("doc_id", "lang", "source")


def q_sample_strat_sql() -> str:
    return """
SELECT doc_id, lang, source
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s7'), 1, 8)
           AS BIGINT) % 1000000 <
      CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 200000
                WHEN 'fr' THEN 800000 WHEN 'zh' THEN 1000000
                ELSE 50000 END
"""


def q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style exact paragraph dedup scored end-to-end over a
    deterministic multi-line corpus (a 50-way shared intro, a unique
    body line, a 7-way shared quote on every 4th doc). The oracle
    replays the WHOLE first-occurrence algorithm in SQL."""
    from geos_spark.operators.dedup import paragraph_dedup

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    text = F.concat(
        F.lit("intro "),
        F.md5(F.encode((did % 50).cast("string"), "utf-8")),
        F.lit("\nbody "),
        F.md5(F.encode(did.cast("string"), "utf-8")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("\nquote "),
                F.md5(F.encode((did % 7).cast("string"), "utf-8")),
            ),
        ).otherwise(F.lit("")),
    )
    corpus = d.select("doc_id", text.alias("text"))
    out = paragraph_dedup(corpus)
    return out.select(
        "doc_id",
        "n_paras",
        "n_paras_kept",
        F.md5(F.encode(F.col("clean_text"), "utf-8")).alias("clean_md5"),
    )


def q_para_dedup_sql() -> str:
    return """
WITH corpus AS (
  SELECT doc_id,
         'intro ' || md5(CAST(doc_id % 50 AS VARCHAR)) || chr(10) ||
         'body ' || md5(CAST(doc_id AS VARCHAR)) ||
         CASE WHEN doc_id % 4 = 0
              THEN chr(10) || 'quote ' || md5(CAST(doc_id % 7 AS VARCHAR))
              ELSE '' END AS text
  FROM documents
), lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(0, length(string_split(text, chr(10))) - 1)) AS pos
  FROM corpus
), owner AS (
  SELECT line, min(doc_id * 1000 + pos) AS own FROM lines GROUP BY line
), kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l JOIN owner o ON l.line = o.line
  WHERE l.doc_id * 1000 + l.pos = o.own
), rebuilt AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_paras_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(length(string_split(c.text, chr(10))) AS INT) AS n_paras,
       COALESCE(r.n_paras_kept, 0) AS n_paras_kept,
       md5(COALESCE(r.clean_text, '')) AS clean_md5
FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
"""


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical ranking (Lucene +1-smoothed idf) for a 3-term
    query, scored to 6 decimals against the closed-form SQL oracle."""
    from geos_spark.operators.ranking import bm25_scores

    out = bm25_scores(
        _docs(spark, sf_dir), ["spark", "hash", "merge"]
    )
    return out.select(
        "doc_id",
        "n_hits",
        F.round(F.col("score"), 6).alias("score_r"),
    )


def q_bm25_sql() -> str:
    return r"""
WITH dl AS (
  SELECT doc_id, length(string_split_regex(trim(text), '\s+')) AS dl
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
), toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ('spark', 'hash', 'merge')
  GROUP BY doc_id, term
), dft AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_t FROM tf GROUP BY term
)
SELECT tf.doc_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       ROUND(SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * tf * 2.2
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score_r
FROM tf
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats
JOIN dft ON tf.term = dft.term
GROUP BY tf.doc_id
"""


def q_inv_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per-(term, doc) posting rows with term
    frequency and first/last token positions."""
    from geos_spark.operators.ranking import inverted_index

    return inverted_index(_docs(spark, sf_dir)).select(
        "term", "doc_id", "tf", "first_pos", "last_pos"
    )


def q_inv_index_sql() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\s+')) AS term,
         unnest(generate_series(0, length(string_split_regex(trim(text), '\s+')) - 1)) AS pos
  FROM documents
)
SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
       CAST(min(pos) AS INT) AS first_pos,
       CAST(max(pos) AS INT) AS last_pos
FROM toks GROUP BY term, doc_id
"""


QUERIES.update(
    {
        "pii_redact": q_pii_redact,
        "gopher_filter": q_gopher_filter,
        "sample_strat": q_sample_strat,
        "para_dedup": q_para_dedup,
        "bm25": q_bm25,
        "inv_index": q_inv_index,
    }
)

ORACLES.update(
    {
        "pii_redact": q_pii_redact_sql(),
        "gopher_filter": q_gopher_filter_sql(),
        "sample_strat": q_sample_strat_sql(),
        "para_dedup": q_para_dedup_sql(),
        "bm25": q_bm25_sql(),
        "inv_index": q_inv_index_sql(),
    }
)


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 97 == 0 stand in
    for the eval set; every corpus doc sharing a distinct 5-gram with
    it is flagged. Broadcast gram-set join, matched-rows-only count
    shuffle."""
    from geos_spark.operators.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    out = decontaminate(docs, bench, k=5)
    return out.select("doc_id", "n_grams", "n_contam", "contaminated")


def q_decontam_sql() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
), shingles AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, GREATEST(len(t) - 4, 1) + 1),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])
         )) AS sh
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(sh) AS g FROM shingles WHERE doc_id % 97 = 0
), grams AS (
  SELECT doc_id, unnest(sh) AS g FROM shingles
), matched AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam
  FROM grams JOIN bench USING (g) GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(s.sh) AS INT) AS n_grams,
       COALESCE(m.n_contam, 0) AS n_contam,
       CAST(COALESCE(m.n_contam, 0) > 0 AS INT) AS contaminated
FROM shingles s LEFT JOIN matched m ON s.doc_id = m.doc_id
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality proxy, zero-shuffle HOF plan; scored
    to 6 decimals against an explode-and-aggregate SQL oracle."""
    from geos_spark.operators.text import char_entropy

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(char_entropy(F.col("text")), 6).alias("entropy_r"),
    )


def q_char_entropy_sql() -> str:
    return """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
), counts AS (
  SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS cnt
  FROM chars GROUP BY doc_id, c
), tot AS (
  SELECT doc_id, CAST(length(text) AS DOUBLE) AS n FROM documents
)
SELECT t.doc_id,
       ROUND(COALESCE(-SUM((cnt / n) * ln(cnt / n)), 0.0), 6) AS entropy_r
FROM tot t LEFT JOIN counts c ON t.doc_id = c.doc_id
GROUP BY t.doc_id, t.n
"""


QUERIES.update(
    {
        "decontam": q_decontam,
        "char_entropy": q_char_entropy,
    }
)

ORACLES.update(
    {
        "decontam": q_decontam_sql(),
        "char_entropy": q_char_entropy_sql(),
    }
)


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: documents laid end-to-end by
    doc_id, cut into 4096-char shards. The engine computes the global
    prefix sum DISTRIBUTED (range partitions + per-partition windows
    + broadcast base offsets); the oracle is the single global SQL
    window it must equal."""
    from geos_spark.operators.sampling import pack_shards

    out = pack_shards(
        _docs(spark, sf_dir), 4096, size_col="n_chars",
        order_col="doc_id", num_ranges=16,
    )
    return out.select(
        "doc_id", "global_offset", "shard_id", "shard_offset"
    )


def q_pack_shards_sql() -> str:
    return """
SELECT doc_id,
       CAST(COALESCE(SUM(n_chars) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS global_offset,
       CAST(COALESCE(SUM(n_chars) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         // 4096 AS BIGINT) AS shard_id,
       CAST(COALESCE(SUM(n_chars) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         % 4096 AS BIGINT) AS shard_offset
FROM documents
"""


QUERIES.update({"pack_shards": q_pack_shards})
ORACLES.update({"pack_shards": q_pack_shards_sql()})


def q_stream_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of pii_redact: the same lacing + scrub as a
    stateless append-mode stream driven to completion — hash-checked
    against the SAME DuckDB oracle as the batch query."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_pii_scrub,
    )

    s = read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    laced = _lace_pii(s.select("doc_id", "text"))
    out, _ = run_stream_to_memory(
        streaming_pii_scrub(laced), spark, output_mode="append"
    )
    return out.select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_ssn",
        "n_phone",
        F.md5(F.encode(F.col("text_redacted"), "utf-8")).alias(
            "redacted_md5"
        ),
    )


QUERIES.update({"stream_pii": q_stream_pii})
ORACLES.update({"stream_pii": q_pii_redact_sql()})


def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-exponent corpus diagnostic: OLS of ln(freq) on ln(rank)
    over the top-1000 terms (distributed top-k, never a global sort)."""
    from geos_spark.operators.ranking import zipf_fit

    out = zipf_fit(_docs(spark, sf_dir), top_k=1000)
    return out.select(
        "n_terms",
        F.round(F.col("slope"), 6).alias("slope_r"),
        F.round(F.col("intercept"), 6).alias("intercept_r"),
        F.round(F.col("r2"), 6).alias("r2_r"),
    )


def q_zipf_sql() -> str:
    return r"""
WITH counts AS (
  SELECT w AS term, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents)
  GROUP BY w
), top AS (
  SELECT term, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank
  FROM counts
  ORDER BY cnt DESC, term ASC LIMIT 1000
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       ROUND(regr_slope(ln(CAST(cnt AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS slope_r,
       ROUND(regr_intercept(ln(CAST(cnt AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS intercept_r,
       ROUND(regr_r2(ln(CAST(cnt AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS r2_r
FROM top
"""


QUERIES.update({"zipf": q_zipf})
ORACLES.update({"zipf": q_zipf_sql()})


def q_xt_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual misc xmltester corpus (tests/xmltester/tests/misc
    files not claimed by the construct/buffer suites): relate-pattern
    regressions on invalid operands (InvalidRelates — incl. the mod-2
    edge-absorption asymmetry), isValid over hex-WKB operands,
    overlay difference (split.xml), and the stmlf/robustness/
    heisenbugs areatest identity checks under the reference's own
    tolerances."""
    from geos_spark import fixtures as FX

    return FX.fixture_query(spark, FX.misc_cases())


QUERIES.update({"xt_misc": q_xt_misc})


def q_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation DAG as ONE scored row (the webtext
    counterpart of dedup_clusters): a deterministic multi-line corpus
    (50-way shared intro, unique PII-laced body, 7-way shared quote)
    goes through corpus-wide paragraph dedup -> PII scrub -> Gopher
    quality gate; the oracle replays the whole chain in SQL."""
    from geos_spark.operators.dedup import paragraph_dedup
    from geos_spark.operators.pii import redact_pii
    from geos_spark.operators.text import gopher_rules

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    text = F.concat(
        F.lit("intro shared header "),
        F.md5(F.encode((did % 50).cast("string"), "utf-8")),
        F.lit("\nbody text mail user"),
        did.cast("string"),
        F.lit("@ex.org token "),
        F.md5(F.encode(did.cast("string"), "utf-8")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("\nquote of the day "),
                F.md5(F.encode((did % 7).cast("string"), "utf-8")),
            ),
        ).otherwise(F.lit("")),
    )
    corpus = d.select("doc_id", text.alias("text"))
    deduped = paragraph_dedup(corpus).select(
        "doc_id",
        "n_paras_kept",
        F.col("clean_text").alias("text"),
    )
    scrubbed = redact_pii(deduped)
    gated = gopher_rules(
        scrubbed.drop("text").withColumnRenamed(
            "text_redacted", "text"
        ),
        min_words=3,
        min_stopword_hits=0,
        min_alpha_ratio=0.0,
    )
    return gated.select(
        "doc_id",
        "n_paras_kept",
        "n_email",
        F.col("keep").cast("int").alias("keep"),
        F.md5(F.encode(F.col("text"), "utf-8")).alias("final_md5"),
    )


def q_curate_pipeline_sql() -> str:
    from geos_spark.operators.pii import pii_oracle_exprs

    counts, red = pii_oracle_exprs("clean_text")
    n_email = counts[0]  # first pattern class is email
    return f"""
WITH corpus AS (
  SELECT doc_id,
         'intro shared header ' || md5(CAST(doc_id % 50 AS VARCHAR)) || chr(10) ||
         'body text mail user' || CAST(doc_id AS VARCHAR) || '@ex.org token ' ||
         md5(CAST(doc_id AS VARCHAR)) ||
         CASE WHEN doc_id % 4 = 0
              THEN chr(10) || 'quote of the day ' || md5(CAST(doc_id % 7 AS VARCHAR))
              ELSE '' END AS text
  FROM documents
), lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(0, length(string_split(text, chr(10))) - 1)) AS pos
  FROM corpus
), owner AS (
  SELECT line, min(doc_id * 1000 + pos) AS own FROM lines GROUP BY line
), kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l JOIN owner o ON l.line = o.line
  WHERE l.doc_id * 1000 + l.pos = o.own
), rebuilt AS (
  SELECT c.doc_id,
         CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_paras_kept,
         COALESCE(r.clean_text, '') AS clean_text
  FROM corpus c LEFT JOIN (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(line, chr(10) ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id
  ) r ON c.doc_id = r.doc_id
), scrubbed AS (
  SELECT doc_id, n_paras_kept,
         {n_email},
         {red} AS text
  FROM rebuilt
), m AS (
  SELECT doc_id, n_paras_kept, n_email, text,
         length(string_split_regex(trim(text), '\\s+')) AS wc,
         length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace,
         CAST((length(text) - length(replace(text, '#', ''))) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS symbols
  FROM scrubbed
)
SELECT doc_id, n_paras_kept, n_email,
       CAST(wc >= 3 AND wc <= 100000
            AND CAST(nonspace AS DOUBLE) / greatest(wc, 1) >= 2.0
            AND CAST(nonspace AS DOUBLE) / greatest(wc, 1) <= 10.0
            AND CAST(symbols AS DOUBLE) / greatest(wc, 1) <= 0.1
            AND NOT (contains(lower(text), 'javascript')
                     OR contains(lower(text), 'lorem ipsum')
                     OR contains(lower(text), '{{'))
            AS INT) AS keep,
       md5(text) AS final_md5
FROM m
"""


QUERIES.update({"curate_pipeline": q_curate_pipeline})
ORACLES.update({"curate_pipeline": q_curate_pipeline_sql()})


# ----------------------------------------------------------------------
# raster <-> vector (north-star tier: mask materialization + polygonize)
# ----------------------------------------------------------------------

_G_RASTER = 512  # 512x512 raster over the 4096 extent -> 8.0-unit pixels


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector -> raster: the 256 star polygons sampled on a 512x512
    pixel grid (pixel center in polygon, RayCrossingCounter rule) via
    the point join against the prepared dim — every pixel centre is
    probed in one Arrow UDF, and only those in PARTIAL sub-cells reach
    the exact refine.  Scored
    as per-polygon mask aggregates (count + first/second index
    moments + pixel bbox), which pin the exact set-pixel SET, not
    just its size."""
    from geos_spark.operators.raster import rasterize_polygons

    mask = rasterize_polygons(
        star_polygons(spark), grid=_G_RASTER, extent=EXTENT
    )
    m = mask.withColumn(
        "idx", (F.col("py") * _G_RASTER + F.col("px")).cast("long")
    )
    return m.groupBy("poly_id").agg(
        F.count("*").cast("long").alias("n_pix"),
        F.sum("idx").cast("long").alias("sum_idx"),
        F.sum(F.col("idx") * F.col("idx")).cast("long").alias("sum_idx2"),
        F.min("px").cast("long").alias("min_px"),
        F.max("px").cast("long").alias("max_px"),
        F.min("py").cast("long").alias("min_py"),
        F.max("py").cast("long").alias("max_py"),
    )


_RASTER_MASK_SQL = f"""
pixels AS (
    SELECT x.range::BIGINT AS gx, y.range::BIGINT AS gy,
           x.range * 8 + 4 AS wx, y.range * 8 + 4 AS wy
    FROM range({_G_RASTER}) x, range({_G_RASTER}) y
),
cand AS (
    SELECT p.gx, p.gy, p.wx, p.wy, bb.poly_id
    FROM pixels p JOIN star_bbox bb
      ON p.wx >= bb.xmin AND p.wx <= bb.xmax
     AND p.wy >= bb.ymin AND p.wy <= bb.ymax
),
crossings AS (
    SELECT c.gx, c.gy, c.poly_id,
           COUNT(*) FILTER (
               WHERE ((e.y1 > c.wy AND e.y2 <= c.wy) OR (e.y2 > c.wy AND e.y1 <= c.wy))
                 AND (CASE WHEN e.y2 < e.y1 THEN -1 ELSE 1 END)
                     * ((e.x2 - e.x1) * (c.wy - e.y1) - (e.y2 - e.y1) * (c.wx - e.x1)) > 0
           ) AS n_cross,
           -- GEOS intersects includes the BOUNDARY (Location::BOUNDARY
           -- -> true): pixel centers exactly on an edge are in, which
           -- the parity rule alone misses on one side of each arm
           COUNT(*) FILTER (
               WHERE (e.x2 - e.x1) * (c.wy - e.y1) - (e.y2 - e.y1) * (c.wx - e.x1) = 0
                 AND c.wx >= LEAST(e.x1, e.x2) AND c.wx <= GREATEST(e.x1, e.x2)
                 AND c.wy >= LEAST(e.y1, e.y2) AND c.wy <= GREATEST(e.y1, e.y2)
           ) AS n_on
    FROM cand c JOIN star_edges e ON e.poly_id = c.poly_id
    GROUP BY c.gx, c.gy, c.poly_id
),
mask AS (
    SELECT gx, gy, poly_id FROM crossings
    WHERE n_cross % 2 = 1 OR n_on > 0
)
"""


def q_rasterize_sql() -> str:
    return f"""
WITH {star_params_sql()},
{_RASTER_MASK_SQL}
SELECT poly_id,
       COUNT(*) AS n_pix,
       CAST(SUM(gy * {_G_RASTER} + gx) AS BIGINT) AS sum_idx,
       CAST(SUM((gy * {_G_RASTER} + gx) * (gy * {_G_RASTER} + gx)) AS BIGINT) AS sum_idx2,
       MIN(gx) AS min_px, MAX(gx) AS max_px,
       MIN(gy) AS min_py, MAX(gy) AS max_py
FROM mask
GROUP BY poly_id
"""


QUERIES.update({"rasterize": q_rasterize})
ORACLES.update({"rasterize": q_rasterize_sql()})


def q_raster_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector: polygonize the star mask back into geometry.
    4-connected components of the set pixels (contraction CC), then
    per-region boundary tracing into shell/hole rings
    (kernels/raster_trace.py).  The scored area/perimeter come FROM
    the traced rings (shoelace / ring length, exact in doubles for
    8-unit grid coordinates), while the oracle derives them from the
    combinatorial cell formulas (area = C*cell^2, perimeter =
    (4C-2A)*cell) — equality certifies the geometry end-to-end."""
    from geos_spark.operators.raster import (
        rasterize_polygons,
        vectorize_mask,
    )

    mask = rasterize_polygons(
        star_polygons(spark), grid=_G_RASTER, extent=EXTENT
    ).select("px", "py").distinct()
    regions = vectorize_mask(mask, _G_RASTER, EXTENT)
    return regions.select(
        F.col("region").alias("region_id"),
        F.col("n_cells"),
        F.col("area"),
        F.col("perimeter"),
    )


def q_raster_vectorize_sql() -> str:
    g = _G_RASTER
    return f"""
WITH RECURSIVE {star_params_sql()},
{_RASTER_MASK_SQL},
midx AS (
    SELECT DISTINCT gx, gy, gy * {g} + gx AS id FROM mask
),
adj AS (
    SELECT a.id AS src, b.id AS dst
    FROM midx a JOIN midx b ON b.id = a.id + 1 AND a.gx < {g - 1}
    UNION ALL
    SELECT a.id AS src, b.id AS dst
    FROM midx a JOIN midx b ON b.id = a.id + {g}
),
sym AS (
    SELECT src, dst FROM adj UNION ALL SELECT dst AS src, src AS dst FROM adj
),
cc AS (
    SELECT id, id AS lbl FROM midx
    UNION
    SELECT e.dst AS id, cc.lbl
    FROM cc JOIN sym e ON e.src = cc.id
    WHERE cc.lbl < e.dst
),
lab AS (
    SELECT id, MIN(lbl) AS region_id FROM cc GROUP BY id
),
adjr AS (
    SELECT l.region_id, COUNT(*) AS a
    FROM adj JOIN lab l ON adj.src = l.id
    GROUP BY l.region_id
),
agg AS (
    SELECT region_id, COUNT(*) AS c FROM lab GROUP BY region_id
)
SELECT g.region_id,
       g.c AS n_cells,
       CAST(g.c * 64 AS DOUBLE) AS area,
       CAST((4 * g.c - 2 * COALESCE(r.a, 0)) * 8 AS DOUBLE) AS perimeter
FROM agg g LEFT JOIN adjr r USING (region_id)
"""


QUERIES.update({"raster_vectorize": q_raster_vectorize})
ORACLES.update({"raster_vectorize": q_raster_vectorize_sql()})


# ----------------------------------------------------------------------
# exact duplicated-substring removal (Lee et al. 2022 ExactSubstr)
# ----------------------------------------------------------------------


def q_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring REMOVAL: every 3-word window occurring
    >= 2 times corpus-wide (any doc, including repeats inside one
    doc) is cut from the text; survivors re-join.  The surgical
    complement of document-level dedup — the oracle replays the whole
    pipeline on the window STRINGS while the operator shuffles only
    xxhash64 keys (identical barring an in-corpus 64-bit collision,
    ~1e-11 at gate scale)."""
    from geos_spark.operators.dedup import remove_dup_ngrams

    out = remove_dup_ngrams(_docs(spark, sf_dir), n=3)
    return out.select("doc_id", "n_words", "n_removed", "clean_text")


def q_dedup_cut_sql() -> str:
    return """
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
    FROM documents
    WHERE text IS NOT NULL AND trim(text) <> ''
),
sh AS (
    SELECT doc_id, u.pos - 1 AS pos,
           concat_ws(' ', t[u.pos], t[u.pos + 1], t[u.pos + 2]) AS s
    FROM toks,
         LATERAL (SELECT unnest(range(1, GREATEST(len(t) - 2, 0) + 1)) AS pos) u
),
freq AS (
    SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 2
),
dupstart AS (
    SELECT doc_id, pos FROM sh JOIN freq USING (s)
),
words AS (
    SELECT doc_id, u.w - 1 AS w, t[u.w] AS word, len(t) AS nw
    FROM toks,
         LATERAL (SELECT unnest(range(1, len(t) + 1)) AS w) u
),
keepw AS (
    SELECT w.doc_id, w.w, w.word, w.nw,
           NOT EXISTS (
               SELECT 1 FROM dupstart d
               WHERE d.doc_id = w.doc_id AND d.pos <= w.w AND w.w < d.pos + 3
           ) AS keep
    FROM words w
),
agg AS (
    SELECT doc_id,
           ANY_VALUE(nw)::BIGINT AS n_words,
           SUM(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_removed,
           COALESCE(string_agg(word, ' ' ORDER BY w) FILTER (WHERE keep), '') AS clean_text
    FROM keepw GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_words, 0) AS n_words,
       COALESCE(a.n_removed, 0) AS n_removed,
       a.clean_text AS clean_text
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


QUERIES.update({"dedup_cut": q_dedup_cut})
ORACLES.update({"dedup_cut": q_dedup_cut_sql()})


def q_raster_vectorize_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path vectorize (per-(region, block) boundary tracing at
    unit-segment granularity + coverage_union merge of the block
    pieces — O(block^2) per trace task, O(perimeter) at the merge,
    the decomposition that survives continent-sized regions).  Shares
    raster_vectorize's oracle: the two physical strategies must be
    bit-identical."""
    from geos_spark.operators.raster import (
        rasterize_polygons,
        vectorize_mask_tiled,
    )

    mask = rasterize_polygons(
        star_polygons(spark), grid=_G_RASTER, extent=EXTENT
    ).select("px", "py").distinct()
    regions = vectorize_mask_tiled(mask, _G_RASTER, EXTENT, block=32)
    return regions.select(
        F.col("region").alias("region_id"),
        F.col("n_cells"),
        F.col("area"),
        F.col("perimeter"),
    )


QUERIES.update({"raster_vectorize_tiled": q_raster_vectorize_tiled})
ORACLES.update({"raster_vectorize_tiled": q_raster_vectorize_sql()})


def q_stream_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dedup_cut: documents arrive as a file-source
    stream and are scrubbed against the FROZEN duplicated-window
    table mined from the static corpus (stream-static equijoin +
    complete-mode per-doc aggregation, availableNow to completion) —
    hash-checked against the SAME DuckDB oracle as the batch query."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_dedup_cut,
    )

    s = read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    out, _ = run_stream_to_memory(
        streaming_dedup_cut(s, _docs(spark, sf_dir), n=3),
        spark,
        output_mode="complete",
    )
    return out


QUERIES.update({"stream_cut": q_stream_cut})
ORACLES.update({"stream_cut": q_dedup_cut_sql()})


def q_raster_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics over the star zones: a deterministic integer
    band v = (7*px + 13*py) mod 1000 sampled on each zone's mask
    pixels, aggregated per zone (count/sum/min/max) — the classic
    raster-vector summary, pure codegen end-to-end."""
    from geos_spark.operators.raster import zonal_stats

    return zonal_stats(
        star_polygons(spark),
        lambda px, py: (px * 7 + py * 13) % 1000,
        grid=_G_RASTER,
        extent=EXTENT,
    )


def q_raster_zonal_sql() -> str:
    return f"""
WITH {star_params_sql()},
{_RASTER_MASK_SQL}
SELECT poly_id,
       COUNT(*) AS n_pix,
       CAST(SUM((gx * 7 + gy * 13) % 1000) AS BIGINT) AS v_sum,
       CAST(MIN((gx * 7 + gy * 13) % 1000) AS BIGINT) AS v_min,
       CAST(MAX((gx * 7 + gy * 13) % 1000) AS BIGINT) AS v_max
FROM mask
GROUP BY poly_id
"""


QUERIES.update({"raster_zonal": q_raster_zonal})
ORACLES.update({"raster_zonal": q_raster_zonal_sql()})


def q_raster_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview-pyramid build: the 512-grid star mask downsampled 2x
    twice (OR rule), scored as per-level aggregates over the coarse
    masks — one hash aggregate per level."""
    from geos_spark.operators.raster import (
        downsample_mask,
        rasterize_polygons,
    )

    mask = rasterize_polygons(
        star_polygons(spark), grid=_G_RASTER, extent=EXTENT
    ).select("px", "py").distinct()
    lvl1 = downsample_mask(mask, 2)
    lvl2 = downsample_mask(lvl1.select("px", "py"), 2)

    def _summ(df, level):
        # ungrouped agg, not groupBy(lit(level)): an empty pyramid level
        # must still emit one (n_pix=0, sum_idx=NULL) row, exactly as the
        # oracle's ungrouped COUNT(*)/SUM do over zero rows
        idx = (F.col("py") * _G_RASTER + F.col("px")).cast("long")
        return (
            df.select(idx.alias("idx"))
            .agg(
                F.count("*").cast("long").alias("n_pix"),
                F.sum("idx").cast("long").alias("sum_idx"),
            )
            .select(F.lit(level).cast("long").alias("level"), "n_pix", "sum_idx")
        )

    return _summ(lvl1, 1).unionByName(_summ(lvl2, 2))


def q_raster_pyramid_sql() -> str:
    g = _G_RASTER
    return f"""
WITH {star_params_sql()},
{_RASTER_MASK_SQL},
m0 AS (SELECT DISTINCT gx, gy FROM mask),
l1 AS (SELECT DISTINCT gx // 2 AS gx, gy // 2 AS gy FROM m0),
l2 AS (SELECT DISTINCT gx // 2 AS gx, gy // 2 AS gy FROM l1)
SELECT 1::BIGINT AS level, COUNT(*) AS n_pix,
       CAST(SUM(gy * {g} + gx) AS BIGINT) AS sum_idx FROM l1
UNION ALL
SELECT 2::BIGINT AS level, COUNT(*) AS n_pix,
       CAST(SUM(gy * {g} + gx) AS BIGINT) AS sum_idx FROM l2
"""


QUERIES.update({"raster_pyramid": q_raster_pyramid})
ORACLES.update({"raster_pyramid": q_raster_pyramid_sql()})
