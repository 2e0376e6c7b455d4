"""Plan-quality assertions: the physical plans the engine promises.

These guard the scale contract, not results: filters reach the parquet
scan, dimension joins broadcast, the native tiers contain no python
eval nodes, the point join runs locally in one Arrow UDF with no
exchange on the point side, and the joins carry no Hilbert chain to
optimize.
"""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _tree_nodes(plan: str) -> list[str]:
    """The operator names of a formatted plan's tree, one per node."""
    tree = plan.split("\n\n", 1)[0].splitlines()[1:]
    return [re.sub(r"^[\s:+\-*]*", "", line).split(" ")[0] for line in tree]


def test_filter_pushdown_to_parquet(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = df.where(F.col("doc_id") < 100).select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    # column pruning: text/html not read
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_pip_join_plan_shape(spark):
    """Broadcast-partition local join: the point side is its source,
    one Arrow UDF and an explode, with no JVM join and no exchange.
    The only join is the re-attach of the dim's columns, broadcast."""
    from geos_spark.operators.spatial_join import point_in_polygon_join
    from geos_spark.sources.pages import EXTENT, star_polygons, with_doc_point

    pts = with_doc_point(spark.range(0, 1000).withColumnRenamed("id", "doc_id"))
    stars = star_polygons(spark)
    ids = point_in_polygon_join(
        pts, stars, "intersects", level=6, extent=EXTENT, poly_id_col="poly_id"
    ).select("doc_id", "poly_id")
    full = point_in_polygon_join(pts, stars, "intersects", level=6, extent=EXTENT)
    for out, joins in ((ids, 0), (full, 1)):
        nodes = _tree_nodes(_plan(out))
        assert nodes.count("ArrowEvalPython") == nodes.count("Generate") == 1
        assert nodes.count("BroadcastHashJoin") == nodes.count("BroadcastExchange") == joins
        assert not {"SortMergeJoin", "ShuffledHashJoin"} & set(nodes)
    # the id-only plan is the point side alone: no exchange at all (the
    # full one shuffles only the dim's dedup, under its broadcast)
    assert "Exchange" not in _tree_nodes(_plan(ids))


def test_pip_join_reattach_is_pruned(spark):
    """The dim's columns come back through a left join on the unique
    id, which the optimizer removes when none of them is read: an
    id-only select and a count/hash aggregate hold no
    ``BroadcastExchange``, while a full select keeps the re-attach,
    its one broadcast, and returns the dim's columns."""
    from geos_spark.operators.spatial_join import point_in_polygon_join
    from geos_spark.sources.pages import EXTENT, star_polygons, with_doc_point

    pts = with_doc_point(spark.range(0, 2000).withColumnRenamed("id", "doc_id"))
    stars = star_polygons(spark)
    out = point_in_polygon_join(
        pts, stars, level=6, extent=EXTENT, poly_id_col="poly_id"
    )
    ids = out.select("doc_id", "poly_id")
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("doc_id", "poly_id")).alias("h"),
    )
    for q in (ids, agg):
        assert _tree_nodes(_plan(q)).count("BroadcastExchange") == 0
    assert _tree_nodes(_plan(out)).count("BroadcastExchange") == 1
    assert out.columns == pts.columns + stars.columns
    rows = out.select("poly_id", "wkb").collect()
    wkb = {r.poly_id: bytes(r.wkb) for r in stars.select("poly_id", "wkb").collect()}
    assert rows and all(bytes(r.wkb) == wkb[r.poly_id] for r in rows)
    assert sorted(ids.collect()) == sorted(out.select("doc_id", "poly_id").collect())


def _has_hilbert_chain(df) -> bool:
    """Whether the optimized plan holds the Hilbert bitwise chain."""
    j = df._jdf.queryExecution().optimizedPlan().toJSON()
    return "BitwiseXor" in j or "ShiftRight" in j


def test_joins_key_on_tile_index_not_hilbert(spark):
    from geos_spark.functions.hilbert_native import with_tile_cell
    from geos_spark.operators.spatial_join import (
        point_in_polygon_join,
        polygon_join,
        within_distance_join_polygons,
    )
    from geos_spark.sources.pages import EXTENT, star_polygons, with_doc_point

    pts = with_doc_point(spark.range(0, 100).withColumnRenamed("id", "doc_id"))
    stars = star_polygons(spark)
    other = stars.select(
        *(F.col(c).alias("b" + c) for c in ("wkb", "xmin", "ymin", "xmax", "ymax"))
    )
    joins = [
        point_in_polygon_join(pts, stars, level=6, extent=EXTENT),
        point_in_polygon_join(
            pts, stars, level=6, extent=EXTENT,
            poly_id_col="poly_id",
        ),
        polygon_join(stars, other, level=6, extent=EXTENT),
        within_distance_join_polygons(pts, stars, 10.0, level=6, extent=EXTENT),
    ]
    for out in joins:
        assert not _has_hilbert_chain(out)
    # output cell ids stay Hilbert-coded
    assert _has_hilbert_chain(with_tile_cell(pts, "x", "y", 6, EXTENT))


def test_tile_assign_fully_native(spark):
    from geos_spark.functions.hilbert_native import with_tile_cell
    from geos_spark.sources.pages import EXTENT, with_doc_point

    pts = with_doc_point(spark.range(0, 1000).withColumnRenamed("id", "doc_id"))
    out = with_tile_cell(pts, "x", "y", 12, EXTENT)
    plan = _plan(out)
    assert "Python" not in plan and "Arrow" not in plan
    # "*" operator prefix marks whole-stage-codegen'd operators
    assert "* Project" in plan


def test_distance_join_fully_native(spark):
    from geos_spark.operators.knn import within_distance_join
    from geos_spark.queries import _centers
    from geos_spark.sources.pages import EXTENT, with_doc_point

    pts = with_doc_point(spark.range(0, 1000).withColumnRenamed("id", "doc_id"))
    out = within_distance_join(pts, _centers(spark), 50.0, level=6, extent=EXTENT)
    plan = _plan(out)
    assert "Python" not in plan and "Arrow" not in plan
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("build", ["points", "polygons"])
def test_distance_joins_broadcast_without_size_estimate(spark, build):
    """Both within-distance joins hint the broadcast of their exploded
    build side, so the tile join broadcasts even with automatic
    broadcast switched off."""
    from geos_spark.operators.knn import within_distance_join
    from geos_spark.operators.spatial_join import within_distance_join_polygons
    from geos_spark.queries import _centers
    from geos_spark.sources.pages import EXTENT, star_polygons, with_doc_point

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        pts = with_doc_point(spark.range(0, 100).withColumnRenamed("id", "doc_id"))
        if build == "points":
            out = within_distance_join(pts, _centers(spark), 50.0, level=6, extent=EXTENT)
        else:
            out = within_distance_join_polygons(
                pts, star_polygons(spark), 10.0, level=6, extent=EXTENT
            )
        nodes = _tree_nodes(_plan(out))
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" in nodes
    assert "SortMergeJoin" not in nodes and "ShuffledHashJoin" not in nodes


def test_knn_plan_is_one_arrow_udf(spark):
    """The kNN join is local to each batch of probe points: the
    ``knn_centers`` plan is the points' scan, one Arrow UDF and a
    ``Generate``, with no join, window or exchange. Building a
    ``knn_join`` runs at most the one job that reads the build side:
    the ring expansion runs no job of its own."""
    from geos_spark.operators.knn import knn_join
    from geos_spark.queries import QUERIES, _centers
    from geos_spark.sources.pages import EXTENT, with_doc_point

    nodes = _tree_nodes(_plan(QUERIES["knn_centers"](spark, "/root/testdata/sf0.001")))
    assert nodes.count("ArrowEvalPython") == nodes.count("Generate") == 1
    assert not {"BroadcastNestedLoopJoin", "CartesianProduct", "Window"} & set(nodes)
    assert not [n for n in nodes if "Exchange" in n]

    sc = spark.sparkContext
    pts = with_doc_point(spark.range(0, 1000).withColumnRenamed("id", "doc_id"))
    sparse = _centers(spark).where(F.col("poly_id") % 64 == 0)
    sc.setJobGroup("knn-build", "build a knn_join")
    try:
        knn_join(pts, sparse, k=8, level=6, extent=EXTENT)
        jobs = sc.statusTracker().getJobIdsForGroup("knn-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 1
