"""Smoke tests for the geosop-style spark-submit driver (cli.main) —
the north rule's launch path. Runs main() in-process with parquet
inputs (spark-submit wraps exactly this entry point)."""

import json
import os

from pyspark.sql import functions as F

from geos_spark.sources.pages import with_doc_point


def _write_points(spark, path, n=2000):
    with_doc_point(
        spark.range(0, n, 1, 4).withColumnRenamed("id", "doc_id")
    ).select("doc_id", "x", "y").write.mode("overwrite").parquet(path)


def _write_polys(spark, path):
    from geos_spark.queries import star_polygons

    star_polygons(spark).write.mode("overwrite").parquet(path)


def test_cli_intersects_join(spark, tmp_path, capsys):
    from geos_spark.cli import main
    from geos_spark.operators.spatial_join import point_in_polygon_join
    from geos_spark.queries import star_polygons

    a = str(tmp_path / "pts")
    b = str(tmp_path / "polys")
    out = str(tmp_path / "out")
    _write_points(spark, a)
    _write_polys(spark, b)
    main(
        [
            "--op", "intersects", "--a", a, "--b", b, "--out", out,
            "--level", "6",
        ]
    )
    # one-line JSON timing summary (geosop -t analogue) on stdout
    lines = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    summary = json.loads(lines[-1])
    assert summary["op"] == "intersects" and summary["rows"] > 0
    # output parquet matches the operator called directly
    got = spark.read.parquet(out)
    want = point_in_polygon_join(
        spark.read.parquet(a), star_polygons(spark), "intersects", level=6,
    )
    assert got.count() == summary["rows"] == want.count()


def test_cli_cell_assignment(spark, tmp_path, capsys):
    from geos_spark.cli import main

    a = str(tmp_path / "pts")
    out = str(tmp_path / "cells")
    _write_points(spark, a, n=500)
    main(["--op", "cell", "--a", a, "--out", out, "--level", "8"])
    got = spark.read.parquet(out)
    assert got.count() == 500
    assert "cell" in got.columns
    n_cells = 1 << 16  # level 8 => 4^8 cells
    bad = got.where((F.col("cell") < 0) | (F.col("cell") >= n_cells))
    assert bad.count() == 0


def test_cli_scalar_ops(spark, tmp_path, capsys):
    """geosop scalar-op surface: unary, unary+arg, zero-arg factory,
    binary, and the centroid special case, all over a wkb table."""
    import numpy as np

    from geos_spark.cli import main
    from geos_spark.queries import star_polygons

    a = str(tmp_path / "geoms")
    star_polygons(spark).select(
        F.col("poly_id").alias("id"), "wkb"
    ).write.mode("overwrite").parquet(a)

    def run(argv):
        main(argv)
        lines = [
            ln for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")
        ]
        return json.loads(lines[-1])

    # unary udf
    out = str(tmp_path / "area")
    s = run(["--op", "area", "--a", a, "--out", out])
    assert s["rows"] == 256
    areas = [r["result"] for r in spark.read.parquet(out).collect()]
    assert all(v > 0 for v in areas)

    # unary factory with --arg
    out2 = str(tmp_path / "simp")
    s = run(["--op", "simplifyDP", "--a", a, "--arg", "1.5", "--out", out2])
    assert s["rows"] == 256
    res = spark.read.parquet(out2)
    assert res.where(F.col("result").isNull()).count() == 0

    # zero-arg factory
    s = run(["--op", "lineMerge", "--a", a])
    assert s["rows"] == 256

    # binary: distance of every geometry to itself is 0
    out3 = str(tmp_path / "dist")
    s = run(["--op", "distance", "--a", a, "--b", a, "--out", out3])
    assert s["rows"] == 256
    d = [r["result"] for r in spark.read.parquet(out3).collect()]
    assert np.allclose(d, 0.0)

    # centroid special case -> two double columns
    out4 = str(tmp_path / "cent")
    s = run(["--op", "centroid", "--a", a, "--out", out4])
    cols = spark.read.parquet(out4).columns
    assert "centroid_x" in cols and "centroid_y" in cols

    # factory op without --arg errors out clearly
    import pytest as _pt

    with _pt.raises(SystemExit):
        main(["--op", "densify", "--a", a])


def test_cli_node_op(spark, tmp_path, capsys):
    """geosop `node` (GeometryOp.cpp:907, 'compute fully noded
    geometry') through the CLI surface."""
    from geos_spark.cli import main
    from geos_spark.functions import st
    from geos_spark.kernels.geom import geoms_equal_normalized
    from geos_spark.kernels.wkb import parse_wkb
    from geos_spark.kernels.wkt import parse_wkt

    a = str(tmp_path / "lines")
    spark.createDataFrame(
        [(1, "LINESTRING(0 0, 10 10, 10 0, 0 10)")], "id long, wkt string"
    ).select(
        "id", st.st_geomfromtext("wkt").alias("wkb")
    ).write.mode("overwrite").parquet(a)

    out = str(tmp_path / "noded")
    main(["--op", "node", "--a", a, "--out", out])
    lines = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    assert json.loads(lines[-1])["rows"] == 1
    got = parse_wkb(spark.read.parquet(out).collect()[0]["result"])
    assert geoms_equal_normalized(
        got,
        parse_wkt(
            "MULTILINESTRING ((5 5, 10 10, 10 0, 5 5), (0 10, 5 5), "
            "(0 0, 5 5))"
        ),
    )


def test_cli_geosop_round5_ops(spark, tmp_path, capsys):
    """Round-5 geosop additions: SR (fixed-precision) overlay, the
    symDifference spelling, linear referencing (project/interpolate),
    Z/M flags, concaveHullByLength, bufferSingleSided."""
    from geos_spark.cli import main
    from geos_spark.kernels.scalars import geom_area
    from geos_spark.kernels.wkb import parse_wkb, write_wkb
    from geos_spark.kernels.wkt import parse_wkt, write_wkt

    def tbl(name, wkt):
        p = str(tmp_path / name)
        spark.createDataFrame(
            [(1, write_wkb(parse_wkt(wkt)))], "id long, wkb binary"
        ).write.mode("overwrite").parquet(p)
        return p

    a = tbl("a", "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))")
    b = tbl("b", "POLYGON((2 2, 6 2, 6 6, 2 6, 2 2))")
    line = tbl("l", "LINESTRING(0 0, 10 0)")
    pt = tbl("p", "POINT(3 1)")

    def run(argv, col="result"):
        out = str(tmp_path / f"out_{argv[1]}")
        main(argv + ["--out", out])
        capsys.readouterr()
        return spark.read.parquet(out).collect()[0][col]

    v = run(["--op", "intersectionSR", "--a", a, "--b", b, "--arg", "1"])
    assert geom_area(parse_wkb(bytes(v))) == 4.0
    v = run(["--op", "symDifference", "--a", a, "--b", b])
    assert geom_area(parse_wkb(bytes(v))) == 24.0
    assert run(["--op", "hasZ", "--a", a]) is False
    assert run(["--op", "project", "--a", line, "--b", pt]) == 3.0
    v = run(["--op", "interpolate", "--a", line, "--arg", "4"])
    assert write_wkt(parse_wkb(bytes(v))) == "POINT (4 0)"
    v = run(["--op", "bufferSingleSided", "--a", line, "--arg", "1"])
    assert write_wkt(parse_wkb(bytes(v))) == "LINESTRING (0 1, 10 1)"


def test_cli_knn(spark, tmp_path, capsys):
    """The ``knn`` op reads the user's build table (poly_id, cx, cy)
    and returns each point's k nearest rows, as a brute force ranks
    them."""
    from geos_spark.cli import main
    from geos_spark.queries import _centers
    from tests.test_knn import _brute

    a = str(tmp_path / "pts")
    b = str(tmp_path / "centers")
    out = str(tmp_path / "out")
    _write_points(spark, a, n=300)
    _centers(spark).where(F.col("poly_id") % 5 == 0).write.parquet(b)
    main(["--op", "knn", "--a", a, "--b", b, "--out", out, "--level", "7", "--k", "3"])
    summary = json.loads(
        [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")][-1]
    )
    got = sorted(
        tuple(r) for r in spark.read.parquet(out)
        .select("doc_id", "rank", "poly_id", "dist2").collect()
    )
    want = _brute(
        [tuple(r) for r in spark.read.parquet(a).select("doc_id", "x", "y").collect()],
        [tuple(r) for r in spark.read.parquet(b).select("poly_id", "cx", "cy").collect()],
        3,
    )
    assert summary["op"] == "knn" and summary["rows"] == len(want) == 900
    assert got == want
