"""kNN join exactness: the cell-ring-expansion kNN must equal the
broadcast brute-force kNN (which is itself oracle-verified against
DuckDB in the parity suite), including tie-breaks and hot-window skew
rows. Termination bound: a probe finalizes only when its k-th distance
fits inside the explored radius."""

from pyspark.sql import functions as F

from geos_spark.operators.knn import knn_join, knn_join_broadcast
from geos_spark.queries import _centers
from geos_spark.sources.pages import EXTENT, with_doc_point


def _pairs(df):
    return {
        (r.doc_id, r.rank, r.poly_id)
        for r in df.select("doc_id", "rank", "poly_id").collect()
    }


def test_ring_knn_matches_broadcast(spark):
    pts = with_doc_point(spark.range(0, 5000).withColumnRenamed("id", "doc_id"))
    centers = _centers(spark)
    exact = knn_join_broadcast(pts, centers, k=4)
    ring = knn_join(pts, centers, k=4, level=4, extent=EXTENT)
    assert _pairs(ring) == _pairs(exact)


def test_ring_knn_k_larger_than_cell(spark):
    # k large enough that many rings must expand
    pts = with_doc_point(spark.range(0, 300).withColumnRenamed("id", "doc_id"))
    centers = _centers(spark).where(F.col("poly_id") % 16 == 0)  # sparse build
    exact = knn_join_broadcast(pts, centers, k=6)
    ring = knn_join(pts, centers, k=6, level=5, extent=EXTENT)
    assert _pairs(ring) == _pairs(exact)


def test_within_distance_join_includes_exact_distance(spark):
    """The distance filter is inclusive: a 3-4-5 triangle puts a probe
    exactly d = 5 from one center (kept) and just past it from another
    (dropped), with both centers in other tiles than the probe."""
    from geos_spark.operators.knn import within_distance_join

    probe = spark.createDataFrame([(0, 100.0, 100.0)], "doc_id long, x double, y double")
    build = spark.createDataFrame(
        [(1, 103.0, 104.0), (2, 96.0, 96.9999), (3, 100.0, 105.0)],
        "poly_id long, cx double, cy double",
    )
    got = within_distance_join(probe, build, 5.0, level=10, extent=EXTENT)
    assert sorted(r.poly_id for r in got.collect()) == [1, 3]
