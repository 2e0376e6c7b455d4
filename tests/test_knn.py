"""kNN join exactness: ``knn_join`` and its numpy core ``knn_probe``
must return a numpy brute force's rows exactly: the same (probe, rank,
id), ties broken by id, and the same ``dist2`` bit for bit. The
Hypothesis cases put build points and probes on tile edges and
corners, one ulp off them and outside the extent, on lattices with
equal distances and in sparse corners that leave rings empty, with k
up to past the build side's size and over several levels. A NULL, NaN
or infinite coordinate on either side matches nothing."""

import math

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geos_spark.operators.knn import build_index, knn_join, knn_probe
from geos_spark.queries import _centers
from geos_spark.sources.pages import EXTENT, with_doc_point


def _columns(build):
    """(ids, x, y) arrays of ``(id, x, y)`` rows, NaN where NULL."""
    return tuple(
        np.array([r[i] for r in build], dtype=t)
        for i, t in enumerate((np.int64, np.float64, np.float64))
    )


def _brute(probes, build, k):
    """``(probe id, rank, build id, dist2)`` of the k nearest build
    points of every probe: ``dist2 = dx * dx + dy * dy`` in float64,
    lexsorted on dist2, then id; non-finite coordinates match
    nothing."""
    ids, bx, by = _columns(build)
    ok = np.isfinite(bx) & np.isfinite(by)
    ids, bx, by = ids[ok], bx[ok], by[ok]
    out = []
    for pid, x, y in probes:
        if x is None or y is None or not (math.isfinite(x) and math.isfinite(y)):
            continue
        dx, dy = x - bx, y - by
        d2 = dx * dx + dy * dy
        for rank, j in enumerate(np.lexsort((ids, d2))[:k], start=1):
            out.append((pid, rank, int(ids[j]), float(d2[j])))
    return sorted(out)


def _rows(df):
    return sorted(tuple(r) for r in df.select("doc_id", "rank", "poly_id", "dist2").collect())


def _collect(df, *cols):
    return [tuple(r) for r in df.select(*cols).collect()]


def test_ring_knn_matches_broadcast(spark):
    pts = with_doc_point(spark.range(0, 5000).withColumnRenamed("id", "doc_id"))
    centers = _centers(spark)
    ring = knn_join(pts, centers, k=4, level=4, extent=EXTENT)
    exact = _brute(
        _collect(pts, "doc_id", "x", "y"), _collect(centers, "poly_id", "cx", "cy"), 4
    )
    assert _rows(ring) == exact


def test_ring_knn_k_larger_than_cell(spark):
    # k large enough that many rings must expand
    pts = with_doc_point(spark.range(0, 300).withColumnRenamed("id", "doc_id"))
    centers = _centers(spark).where(F.col("poly_id") % 16 == 0)  # sparse build
    ring = knn_join(pts, centers, k=6, level=5, extent=EXTENT)
    exact = _brute(
        _collect(pts, "doc_id", "x", "y"), _collect(centers, "poly_id", "cx", "cy"), 6
    )
    assert _rows(ring) == exact


def test_knn_null_and_nan_coordinates_match_nothing(spark):
    """A NULL build point must not rank first with a NULL dist2, and a
    probe with a NULL, NaN or infinite coordinate gets no rows, not k
    rows with a NULL or NaN dist2."""
    probe = spark.createDataFrame(
        [(0, 100.0, 100.0), (1, None, 100.0), (2, float("nan"), 100.0),
         (3, 100.0, float("inf"))],
        "doc_id long, x double, y double",
    )
    build = spark.createDataFrame(
        [(10, 128.0, 128.0), (11, 384.0, 128.0), (12, None, None),
         (13, 900.0, 900.0), (14, float("nan"), 100.0)],
        "poly_id long, cx double, cy double",
    )
    got = knn_join(probe, build, 2, level=4, extent=EXTENT)
    assert got.columns == ["doc_id", "x", "y", "rank", "poly_id", "dist2"]
    assert _rows(got) == [(0, 1, 10, 1568.0), (0, 2, 11, 81440.0)]


_LEVELS = st.integers(0, 5)
_EXTENTS = st.sampled_from(
    [(0.0, 0.0, 64.0, 64.0), (-3.5, 1.25, 97.0, 50.3), (1e6, -1e6, 1e6 + 48.0, -1e6 + 96.0)]
)


@st.composite
def _case(draw):
    """(level, extent, k, probes, build). Coordinates are tile edges
    (at the case's level or finer, the extent edges and beyond
    included), one ulp either side of an edge, or arbitrary; a sparse
    case packs the build side into one corner of the grid."""
    level, extent = draw(_LEVELS), draw(_EXTENTS)
    minx, miny, maxx, maxy = extent
    steps = 1 << (level + 1)  # half-tile lattice: edges and centres
    corner = draw(st.booleans())

    def coord(lo, hi, sparse):
        span = (hi - lo) / steps
        i = draw(st.integers(-2, steps // 4 if sparse else steps + 2))
        edge = lo + i * span
        return draw(st.one_of(
            st.just(edge),
            st.just(math.nextafter(edge, -math.inf)),
            st.just(math.nextafter(edge, math.inf)),
            st.floats(lo - 2 * span, hi + 2 * span),
        ))

    def point(sparse):
        if draw(st.integers(0, 19)) == 0:
            return draw(st.sampled_from([math.nan, math.inf, -math.inf])), 0.0
        return coord(minx, maxx, sparse), coord(miny, maxy, sparse)

    m = draw(st.integers(0, 40))
    ids = draw(st.permutations(range(m)))
    build = [(i, *point(corner)) for i in ids]
    probes = [(j, *point(False)) for j in range(draw(st.integers(1, 40)))]
    return level, extent, draw(st.integers(1, m + 3)), probes, build


@settings(max_examples=300, deadline=None)
@given(case=_case())
def test_knn_probe_matches_brute_force(case):
    level, extent, k, probes, build = case
    ids, bx, by = _columns(build)
    _, x, y = _columns(probes)
    ix = build_index(pa.array(ids), bx, by, level, extent)
    p, b, d2 = knn_probe(ix, k, x, y)
    rank = np.arange(len(p)) - np.searchsorted(p, p) + 1
    got = sorted(zip(p.tolist(), rank.tolist(), ix.ids.take(b).to_pylist(), d2.tolist()))
    assert got == _brute(probes, build, k)


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
