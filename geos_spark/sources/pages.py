"""Deterministic Common-Crawl-style inputs.

Three deterministic generators (seedless pure functions of row ids, so
any engine — Spark, DuckDB, plain numpy — reproduces them exactly):

1. ``synth_pages``: the authoritative input shape
   ``(url, warc_ts, html, text, lang)`` per FIXTURES.md §1, built with
   native Spark expressions from ``spark.range`` (scales to any row
   count with zero python).
2. ``with_doc_point``: derive a deterministic planar point for a row id
   via Knuth multiplicative hashing — pure integer/FP Column math, so
   an external SQL oracle reproduces it bit-for-bit. 1% of rows land
   in a fixed hot 64x64 sub-window (skew knob, FIXTURES.md §2).
3. ``star_polygons``: a 256-row polygon dim table — concave 4-point
   stars with integer vertices on a 16x16 grid (the reference's
   grid-of-sine-stars benchmark shape, benchmarks/BenchmarkUtils.h,
   with integer coordinates so SQL oracles stay exact).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EXTENT = (0.0, 0.0, 4096.0, 4096.0)

# Knuth multiplicative-hash constants (public domain folklore)
_KX = 2654435761
_KY = 2246822519
_CY = 1013904223
_M32 = 4294967296  # 2^32
_POW20 = 1048576.0  # 2^20: k / 2^20 in [0, 4096) for k < 2^32
_HOT_MOD = 67108864  # 64 * 2^20 -> [0, 64) window offset

LANGS = ["en", "de", "fr", "es", "pt", "it"]

_WORDS = (
    "the of and to in is was for on that with as by at from this be are "
    "an it or had not have which one you were all her she there would "
    "their we him been has when who will no more if out so said what up "
    "its about into than them can only other new some could time these "
    "two may then do first any my now such like our over man me even "
    "most made after also did many before must through back years where "
    "much your way well down should because each just those people Mr "
    "how too little state good very make world still own see men work "
    "long get here between both life being under never day same another "
    "know while last might us great old year off come since against go "
    "came right used take three"
).split()


def point_cols(id_col="doc_id"):
    """(x, y, is_hot) Column expressions for a row-id column.

    x = ((id * 2654435761) mod 2^32) / 2^20   in [0, 4096)
    y = ((id * 2246822519 + 1013904223) mod 2^32) / 2^20
    hot rows (id % 100 == 0): remapped into [1024, 1088)^2.
    """
    i = F.col(id_col).cast("long")
    k0 = F.pmod(i * F.lit(_KX), F.lit(_M32))
    k1 = F.pmod(i * F.lit(_KY) + F.lit(_CY), F.lit(_M32))
    hot = F.pmod(i, F.lit(100)) == 0
    x = F.when(hot, F.lit(1024.0) + F.pmod(k0, F.lit(_HOT_MOD)) / F.lit(_POW20)).otherwise(
        k0 / F.lit(_POW20)
    )
    y = F.when(hot, F.lit(1024.0) + F.pmod(k1, F.lit(_HOT_MOD)) / F.lit(_POW20)).otherwise(
        k1 / F.lit(_POW20)
    )
    return x, y, hot


def point_sql(id_expr: str) -> tuple[str, str]:
    """The same derivation as ANSI SQL strings (DuckDB oracle)."""
    k0 = f"((({id_expr}) * {_KX}) % {_M32})"
    k1 = f"((({id_expr}) * {_KY} + {_CY}) % {_M32})"
    hot = f"((({id_expr}) % 100) = 0)"
    x = f"(CASE WHEN {hot} THEN 1024.0 + ({k0} % {_HOT_MOD}) / {_POW20} ELSE {k0} / {_POW20} END)"
    y = f"(CASE WHEN {hot} THEN 1024.0 + ({k1} % {_HOT_MOD}) / {_POW20} ELSE {k1} / {_POW20} END)"
    return x, y


def with_doc_point(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    x, y, hot = point_cols(id_col)
    return df.withColumn("x", x).withColumn("y", y).withColumn("is_hot", hot)


# ----------------------------------------------------------------------
# star polygon dim table
# ----------------------------------------------------------------------


def star_vertices(p: int) -> np.ndarray:
    """Integer-coordinate concave 4-point star #p (p in [0, 256))."""
    cx = (p % 16) * 256 + 128
    cy = (p // 16) * 256 + 128
    r = 40 + 8 * (p % 8)
    s = r // 4
    return np.array(
        [
            [cx + r, cy],
            [cx + s, cy + s],
            [cx, cy + r],
            [cx - s, cy + s],
            [cx - r, cy],
            [cx - s, cy - s],
            [cx, cy - r],
            [cx + s, cy - s],
            [cx + r, cy],
        ],
        dtype=np.float64,
    )


def star_params_sql() -> str:
    """DuckDB CTE producing (poly_id, j, vx, vy) star vertices 0..7."""
    return """
    star_params AS (
        SELECT p.range::BIGINT AS poly_id,
               (p.range % 16) * 256 + 128 AS cx,
               (p.range // 16) * 256 + 128 AS cy,
               40 + 8 * (p.range % 8) AS r,
               (40 + 8 * (p.range % 8)) // 4 AS s
        FROM range(256) p
    ),
    star_verts AS (
        SELECT poly_id, j.range AS j,
               CASE j.range
                   WHEN 0 THEN cx + r WHEN 1 THEN cx + s WHEN 2 THEN cx
                   WHEN 3 THEN cx - s WHEN 4 THEN cx - r WHEN 5 THEN cx - s
                   WHEN 6 THEN cx WHEN 7 THEN cx + s END AS vx,
               CASE j.range
                   WHEN 0 THEN cy WHEN 1 THEN cy + s WHEN 2 THEN cy + r
                   WHEN 3 THEN cy + s WHEN 4 THEN cy WHEN 5 THEN cy - s
                   WHEN 6 THEN cy - r WHEN 7 THEN cy - s END AS vy
        FROM star_params, range(8) j
    ),
    star_edges AS (
        SELECT a.poly_id, a.j,
               a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
        FROM star_verts a
        JOIN star_verts b
          ON a.poly_id = b.poly_id AND b.j = (a.j + 1) % 8
    ),
    star_bbox AS (
        SELECT poly_id, cx - r AS xmin, cy - r AS ymin,
               cx + r AS xmax, cy + r AS ymax
        FROM star_params
    )
    """


def star_polygons(spark: SparkSession) -> DataFrame:
    """256-row polygon dim table: (poly_id, wkb, xmin, ymin, xmax, ymax)."""
    from geos_spark.kernels import geom as G
    from geos_spark.kernels.wkb import write_wkb

    rows = []
    for p in range(256):
        v = star_vertices(p)
        wkb = write_wkb(G.Geom(G.POLYGON, [v]))
        rows.append(
            (
                p,
                bytearray(wkb),
                float(v[:, 0].min()),
                float(v[:, 1].min()),
                float(v[:, 0].max()),
                float(v[:, 1].max()),
            )
        )
    return spark.createDataFrame(
        rows, "poly_id long, wkb binary, xmin double, ymin double, xmax double, ymax double"
    )


def shrunk_star_polygons(spark: SparkSession) -> DataFrame:
    """512-row test-dim of half-scale stars for containment joins:
    b_id p in [0,256) = star p scaled 1/2 about its center, shifted
    (+3,+2) — contained in star p; b_id 256+p = the same shrunk star
    shifted (+55,+15) — poking out of star p (transversal boundary
    crossings), contained in nothing.  All coordinates stay integral, so
    the DuckDB oracle can decide containment in exact BIGINT
    arithmetic."""
    from geos_spark.kernels import geom as G
    from geos_spark.kernels.wkb import write_wkb

    rows = []
    for p in range(256):
        v = star_vertices(p)
        cx = (p % 16) * 256 + 128
        cy = (p // 16) * 256 + 128
        half = np.column_stack(
            [(v[:, 0] - cx) / 2 + cx, (v[:, 1] - cy) / 2 + cy]
        )
        for k, (dx, dy) in enumerate(((3.0, 2.0), (55.0, 15.0))):
            s = half + np.array([dx, dy])
            wkb = write_wkb(G.Geom(G.POLYGON, [s]))
            rows.append(
                (
                    256 * k + p,
                    bytearray(wkb),
                    float(s[:, 0].min()),
                    float(s[:, 1].min()),
                    float(s[:, 0].max()),
                    float(s[:, 1].max()),
                )
            )
    return spark.createDataFrame(
        rows,
        "b_id long, bwkb binary, bxmin double, bymin double,"
        " bxmax double, bymax double",
    )


def shrunk_star_params_sql() -> str:
    """DuckDB CTE of the shrunk-star vertices/edges (same derivation
    as shrunk_star_polygons, exact integer ordinates)."""
    return """
    sh_params AS (
        SELECT 256 * k.range + p.range AS b_id,
               (p.range % 16) * 256 + 128
                   + CASE k.range WHEN 0 THEN 3 ELSE 55 END AS cx,
               (p.range // 16) * 256 + 128
                   + CASE k.range WHEN 0 THEN 2 ELSE 15 END AS cy,
               (40 + 8 * (p.range % 8)) // 2 AS r,
               ((40 + 8 * (p.range % 8)) // 4) // 2 AS s
        FROM range(256) p, range(2) k
    ),
    sh_verts AS (
        SELECT b_id, j.range AS j,
               CASE j.range
                   WHEN 0 THEN cx + r WHEN 1 THEN cx + s WHEN 2 THEN cx
                   WHEN 3 THEN cx - s WHEN 4 THEN cx - r WHEN 5 THEN cx - s
                   WHEN 6 THEN cx WHEN 7 THEN cx + s END AS vx,
               CASE j.range
                   WHEN 0 THEN cy WHEN 1 THEN cy + s WHEN 2 THEN cy + r
                   WHEN 3 THEN cy + s WHEN 4 THEN cy WHEN 5 THEN cy - s
                   WHEN 6 THEN cy - r WHEN 7 THEN cy - s END AS vy
        FROM sh_params, range(8) j
    ),
    sh_edges AS (
        SELECT a.b_id, a.j,
               a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
        FROM sh_verts a
        JOIN sh_verts b
          ON a.b_id = b.b_id AND b.j = (a.j + 1) % 8
    ),
    sh_bbox AS (
        SELECT b_id, cx - r AS xmin, cy - r AS ymin,
               cx + r AS xmax, cy + r AS ymax
        FROM sh_params
    )
    """


# ----------------------------------------------------------------------
# pages table (FIXTURES.md §1)
# ----------------------------------------------------------------------


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Deterministic pages table of n rows, pure native expressions.

    text: 20-200 tokens from a fixed wordlist, keyed by the row id
    (multiplicative hash) — deterministic and cheap at any scale.
    html: utf-8 bytes of "<html><body>" || text || "</body></html>".
    The ``text`` column is produced once and must pass through any
    pipeline byte-identical (per-row invariant).
    """
    rng = spark.range(0, n, 1, partitions or max(8, n // 250_000))
    i = F.col("id")
    k = F.pmod(i * F.lit(_KX) + F.lit(17), F.lit(_M32))
    n_tokens = (F.pmod(k, F.lit(181)) + F.lit(20)).cast("int")
    # token j of row i = WORDS[(k + j*131) % len(WORDS)]
    words = F.array(*[F.lit(w) for w in _WORDS])
    toks = F.transform(
        F.sequence(F.lit(0), n_tokens - 1),
        lambda j: F.element_at(
            words, (F.pmod(k + j * F.lit(131), F.lit(len(_WORDS)))).cast("int") + 1
        ),
    )
    text = F.array_join(toks, " ")
    return (
        rng.withColumn(
            "url",
            F.concat(
                F.lit("https://site"),
                F.pmod(i, F.lit(997)).cast("string"),
                F.lit(".example/page/"),
                i.cast("string"),
            ),
        )
        .withColumn(
            "warc_ts",
            F.timestamp_seconds(
                F.lit(1735689600) + i * F.lit(137)  # 2025-01-01 UTC
            ),
        )
        .withColumn("text", text)
        .withColumn(
            "html",
            F.encode(
                F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")),
                "utf-8",
            ),
        )
        .withColumn(
            "lang",
            F.element_at(
                F.array(*[F.lit(x) for x in LANGS]),
                F.pmod(i, F.lit(6)).cast("int") + 1,
            ),
        )
        .withColumnRenamed("id", "page_id")
        .select("page_id", "url", "warc_ts", "html", "text", "lang")
    )
