"""GEOSNode public op + SRID carry.

Oracles: the reference's tests/unit/capi/GEOSNodeTest.cpp (all 2-D and
Z/M cases), GEOSGetSRID/GEOSSetSRID round-trip semantics
(capi/geos_c.h.in:2900,3246) with PostGIS-flavour EWKB as the column
carrier.
"""

import math

import pytest

from geos_spark.kernels.geom import geoms_equal_normalized
from geos_spark.kernels.node import node_geometry
from geos_spark.kernels.wkb import parse_wkb, write_ewkb, write_wkb
from geos_spark.kernels.wkt import parse_wkt, write_wkt

# (input, expected) — GEOSNodeTest.cpp cases 1, 2, 3, 5
XY_CASES = [
    (
        "LINESTRING(0 0, 10 10, 10 0, 0 10)",
        "MULTILINESTRING ((5 5, 10 10, 10 0, 5 5), (0 10, 5 5), (0 0, 5 5))",
    ),
    (
        "MULTILINESTRING((0 0, 2 0, 4 0),(5 0, 3 0, 1 0))",
        "MULTILINESTRING ((4 0, 5 0), (3 0, 4 0), (2 0, 3 0), "
        "(1 0, 2 0), (0 0, 1 0))",
    ),
    (
        "MULTILINESTRING((0 0, 2 0, 4 0),(0 0, 2 0, 4 0))",
        "MULTILINESTRING ((2 0, 4 0), (0 0, 2 0))",
    ),
    ("LINESTRING EMPTY", "LINESTRING EMPTY"),
]


@pytest.mark.parametrize("inp,exp", XY_CASES)
def test_node_xy(inp, exp):
    assert geoms_equal_normalized(
        node_geometry(parse_wkt(inp)), parse_wkt(exp)
    )


def _part_keys(g):
    """Orientation-independent per-part vertex tuples incl. Z/M
    (NaN -> None) — pins the interpolated node ordinates exactly."""
    keys = set()
    for p in g.data:
        pts = []
        for i in range(len(p.data)):
            z = float(p.zs[i]) if p.zs is not None else None
            m = float(p.ms[i]) if p.ms is not None else None
            pts.append(
                (
                    float(p.data[i, 0]),
                    float(p.data[i, 1]),
                    None if (z is not None and math.isnan(z)) else z,
                    None if (m is not None and math.isnan(m)) else m,
                )
            )
        keys.add(min(tuple(pts), tuple(reversed(pts))))
    return keys


# GEOSNodeTest cases 6-8: the created node averages the defined
# interpolated ordinates of its parent segments
ZM_CASES = [
    (
        "MULTILINESTRING Z ((0 0 0, 1 1 1), (0 1 5, 1 0 10))",
        "MULTILINESTRING Z((0 0 0, 0.5 0.5 4),(0.5 0.5 4, 1 0 10),"
        "(0 1 5, 0.5 0.5 4),(0.5 0.5 4, 1 1 1))",
    ),
    (
        "MULTILINESTRING M ((0 0 0, 1 1 1), (0 1 5, 1 0 10))",
        "MULTILINESTRING M((0 0 0, 0.5 0.5 4),(0.5 0.5 4, 1 0 10),"
        "(0 1 5, 0.5 0.5 4),(0.5 0.5 4, 1 1 1))",
    ),
    (
        "GEOMETRYCOLLECTION (LINESTRING Z(0 0 0, 1 1 1), "
        "LINESTRING M(0 1 5, 1 0 10))",
        "MULTILINESTRING ZM((0 0 0 NaN, 0.5 0.5 0.5 7.5),"
        "(0.5 0.5 0.5 7.5, 1 0 NaN 10),(0 1 NaN 5, 0.5 0.5 0.5 7.5),"
        "(0.5 0.5 0.5 7.5, 1 1 1 NaN))",
    ),
]


@pytest.mark.parametrize("inp,exp", ZM_CASES)
def test_node_zm(inp, exp):
    got = node_geometry(parse_wkt(inp))
    want = parse_wkt(exp)
    assert geoms_equal_normalized(got, want)
    assert _part_keys(got) == _part_keys(want)


def test_node_ring_closure_keeps_other_strings_z():
    # the first and last segment of a closed ring meet at the closure
    # vertex trivially; a node another string makes there averages only
    # the genuine crossings: (10 + 0) / 2, not the ring's Z repeated
    got = node_geometry(
        parse_wkt(
            "MULTILINESTRING Z ((0 0 10, 4 0 10, 4 4 10, 0 0 10), "
            "(-2 2 0, 2 -2 0))"
        )
    )
    want = parse_wkt(
        "MULTILINESTRING Z ((0 0 10, 4 0 10, 4 4 10, 0 0 10), "
        "(-2 2 0, 0 0 5), (0 0 5, 2 -2 0))"
    )
    assert _part_keys(got) == _part_keys(want)


def test_node_curved_rejected():
    # case 9: curved geometries are not supported -> error (UDF nulls)
    g = parse_wkt(
        "MULTICURVE (CIRCULARSTRING (0 0, 1 1, 2 0), "
        "CIRCULARSTRING (0 1, 1 0, 2 1))"
    )
    with pytest.raises(ValueError):
        node_geometry(g)


def test_node_polygon_rings_extracted():
    # polygon boundaries are linework too (SegmentStringUtil)
    got = node_geometry(
        parse_wkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))")
    )
    assert geoms_equal_normalized(
        got, parse_wkt("MULTILINESTRING((0 0, 10 0, 10 10, 0 10, 0 0))")
    )


def test_node_crossing_polygons():
    # two overlapping squares: 2 crossings, each ring splits in two
    got = node_geometry(
        parse_wkt(
            "MULTIPOLYGON(((0 0, 4 0, 4 4, 0 4, 0 0)),"
            "((2 2, 6 2, 6 6, 2 6, 2 2)))"
        )
    )
    # each ring splits at its 2 crossings into 3 arcs (the ring start
    # is an artificial endpoint, not a node) -> 6 parts
    assert len(got.data) == 6
    # noded output must have no interior crossings left: re-noding is
    # a fixed point
    again = node_geometry(got)
    assert geoms_equal_normalized(got, again)


def test_node_point_only_input():
    got = node_geometry(parse_wkt("MULTIPOINT((1 1), (2 2))"))
    assert write_wkt(got) == "LINESTRING EMPTY"


# ---------------------------------------------------------------- SRID


def test_srid_roundtrip_ewkb():
    g = parse_wkt("POINT (1 2)")
    assert g.srid == 0
    b = write_ewkb(g, 4326)
    g2 = parse_wkb(b)
    assert g2.srid == 4326
    assert write_wkt(g2) == "POINT (1 2)"
    # srid 0 degrades to canonical ISO bytes (byte-stability contract)
    assert write_ewkb(g, 0) == write_wkb(g)


def test_srid_roundtrip_zm_flags():
    g = parse_wkt("LINESTRING ZM (0 0 1 2, 3 4 5 6)")
    g2 = parse_wkb(write_ewkb(g, 3857))
    assert g2.srid == 3857
    assert g2.has_z and g2.has_m
    assert write_wkt(g2) == "LINESTRING ZM (0 0 1 2, 3 4 5 6)"


def test_srid_negative_and_large():
    g = parse_wkt("POINT (0 0)")
    assert parse_wkb(write_ewkb(g, 999999)).srid == 999999


def test_st_node_and_srid_udfs(spark):
    from pyspark.sql import functions as F

    from geos_spark.functions import st

    df = spark.createDataFrame(
        [
            ("LINESTRING(0 0, 10 10, 10 0, 0 10)",),
            ("MULTICURVE (CIRCULARSTRING (0 0, 1 1, 2 0), "
             "CIRCULARSTRING (0 1, 1 0, 2 1))",),
            (None,),
        ],
        "wkt string",
    )
    out = (
        df.select(st.st_geomfromtext("wkt").alias("g"))
        .select(
            st.st_node(F.col("g")).alias("noded"),
            st.st_srid(st.st_setsrid(4326)(F.col("g"))).alias("srid"),
            st.st_srid(F.col("g")).alias("srid0"),
        )
        .collect()
    )
    noded = parse_wkb(out[0].noded)
    assert geoms_equal_normalized(
        noded,
        parse_wkt(
            "MULTILINESTRING ((5 5, 10 10, 10 0, 5 5), "
            "(0 10, 5 5), (0 0, 5 5))"
        ),
    )
    assert out[0].srid == 4326 and out[0].srid0 == 0
    # curved input nulls out (GEOSNodeTest case 9), null stays null
    assert out[1].noded is None
    assert out[2].noded is None and out[2].srid is None


def test_st_srid_malformed_row_nulls_out(spark):
    from pyspark.sql import functions as F

    from geos_spark.functions import st

    good = write_ewkb(parse_wkt("POINT (1 2)"), 4326)
    df = spark.createDataFrame(
        [(0, good), (1, b"\x01\x02\x00"), (2, None)], "id int, g binary"
    )
    got = {
        r.id: r.srid
        for r in df.select("id", st.st_srid(F.col("g")).alias("srid")).collect()
    }
    assert got == {0: 4326, 1: None, 2: None}
