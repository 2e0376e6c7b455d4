"""Operator-level tests: checkpoint/resume lineage, hot-cell salting
equivalence, multimodal plumbing, dedup + text ops, pages generator
invariants (byte-identical text passthrough)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_checkpoint_resume(spark, tmp_path):
    from geos_spark.plans.checkpoint import (
        lineage_metrics,
        read_checkpointed,
        run_checkpointed,
    )

    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "ckpt")
    m1 = run_checkpointed(df, out, "id", n_buckets=4)
    assert len(m1["buckets"]) == 4
    total = sum(v["rows"] for v in m1["buckets"].values())
    assert total == 10000

    # simulate partial run: drop two buckets from the manifest copy
    import json

    man_path = os.path.join(out, "_lineage_manifest.json")
    m = json.load(open(man_path))
    done_before = dict(m["buckets"])
    for k in ("2", "3"):
        del m["buckets"][k]
    json.dump(m, open(man_path, "w"))

    m2 = run_checkpointed(df, out, "id", n_buckets=4)
    assert len(m2["buckets"]) == 4
    # buckets 0/1 were not recomputed (same commit timestamps)
    assert m2["buckets"]["0"] == done_before["0"]
    assert m2["buckets"]["1"] == done_before["1"]

    back = read_checkpointed(spark, out)
    assert back.count() == 10000
    stats = lineage_metrics(out)
    assert stats["buckets_done"] == 4 and stats["rows"] == 10000


def test_prepared_dim_lifetime(spark, tmp_path):
    """A polygon dim is prepared once per DataFrame: a second join runs
    no prepare job, the first read stays in force after the source is
    rewritten, a new DataFrame over the rewritten source is prepared
    afresh, and the memo entry goes with the DataFrame."""
    import gc
    import weakref

    from geos_spark.operators import spatial_join as sj
    from geos_spark.sources.pages import EXTENT, star_polygons, with_doc_point

    stars = star_polygons(spark)
    pts = with_doc_point(spark.range(0, 20000).withColumnRenamed("id", "doc_id"))
    src = str(tmp_path / "dim")
    stars.where(F.col("poly_id") < 128).write.parquet(src)

    def pairs(df):
        return {(r.doc_id, r.poly_id) for r in df.select("doc_id", "poly_id").collect()}

    def join(dim, **kw):
        return sj.point_in_polygon_join(
            pts, dim, level=6, extent=EXTENT, poly_id_col="poly_id", **kw
        )

    def shuffled(cond):
        return pairs(join(stars.where(cond), broadcast_build=False))

    sc = spark.sparkContext
    dim = spark.read.parquet(src)
    sc.setJobGroup("prepare-dim", "prepare a polygon dim")
    try:
        first = join(dim)
        n_first = len(sc.statusTracker().getJobIdsForGroup("prepare-dim"))
        second = join(dim)
        n_second = len(sc.statusTracker().getJobIdsForGroup("prepare-dim"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_first >= 1 and n_second == n_first
    old = shuffled(F.col("poly_id") < 128)
    assert pairs(first) == pairs(second) == old and old

    stars.where(F.col("poly_id") >= 128).write.mode("overwrite").parquet(src)
    assert pairs(join(dim)) == old  # read when first prepared
    new = shuffled(F.col("poly_id") >= 128)
    assert pairs(join(spark.read.parquet(src))) == new and new != old

    gc.collect()
    n_memo = len(sj._PREPARED)
    ref = weakref.ref(dim)
    del dim, first, second
    gc.collect()
    assert ref() is None and len(sj._PREPARED) == n_memo - 1


def test_malformed_dim_row_gets_all_partial_masks(spark):
    """A dim polygon the driver-side classifier cannot decode does not
    fail the prepare: its every tile gets ALL = all 64 sub-cells and
    FULL = none, so each of its candidates goes to the exact refine as
    before, and the other rows are classified as without it."""
    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.wkb import write_wkb
    from geos_spark.operators.spatial_join import prepare_polygons

    good = write_wkb(Geom.polygon([[(1.0, 1.0), (30.0, 1.0), (30.0, 30.0), (1.0, 1.0)]]))
    rows = [(1, good, 1.0, 1.0, 30.0, 30.0), (2, b"\x01\x03\x00", 40.0, 40.0, 50.0, 50.0)]
    schema = "poly_id long, wkb binary, xmin double, ymin double, xmax double, ymax double"

    def masks(data):
        prepared = prepare_polygons(
            spark.createDataFrame(data, schema), poly_id_col="poly_id",
            wkb_col="wkb", bbox_cols=("xmin", "ymin", "xmax", "ymax"),
            level=2, extent=(0.0, 0.0, 64.0, 64.0),
        )
        ix = prepared.index
        key = np.repeat(ix.tiles, np.diff(ix.start))
        got = zip(ix.ids[ix.row], key, ix.all.view(np.int64), ix.full.view(np.int64))
        return prepared, {(int(i), int(c)): (int(a), int(f)) for i, c, a, f in got}

    prepared, both = masks(rows)
    bad = {k: v for k, v in both.items() if k[0] == 2}
    # the envelope (40, 40)-(50, 50) lies in tiles (2, 2), (3, 2), (2, 3), (3, 3)
    assert sorted(c for _, c in bad) == [10, 11, 14, 15]
    assert set(bad.values()) == {(-1, 0)}
    _, alone = masks(rows[:1])
    assert {k: v for k, v in both.items() if k[0] == 1} == alone
    assert prepared.build_rows == len(both)
    assert prepared.all_subcells > 4 * 64 and prepared.full_subcells > 0


def test_malformed_dim_row_nulls_only_its_candidates(spark, tmp_path):
    """A dim row whose WKB cannot be decoded does not abort the joins
    against its dim: its candidates get a NULL location and drop out,
    so the batch joins (broadcast and shuffle) and the stream join
    return exactly the rows of the dim without it."""
    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.wkb import write_wkb
    from geos_spark.operators.spatial_join import point_in_polygon_join
    from geos_spark.streaming import run_stream_to_memory, streaming_pip_join

    tri = write_wkb(Geom.polygon([[(1.0, 1.0), (30.0, 1.0), (30.0, 30.0), (1.0, 1.0)]]))
    rows = [(1, tri, 1.0, 1.0, 30.0, 30.0), (2, b"\x01\x03\x00\x00", 0.0, 0.0, 40.0, 40.0)]
    schema = "poly_id long, wkb binary, xmin double, ymin double, xmax double, ymax double"
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        [(20, 10), (10, 20), (30, 15), (1, 1), (35, 35), (5, 2), (45, 45), (15.5, 15.5)]
    )]
    src = str(tmp_path / "points")
    spark.createDataFrame(pts, "pid long, x double, y double").write.parquet(src)
    points = spark.read.parquet(src)
    kw = dict(level=2, extent=(0.0, 0.0, 64.0, 64.0), poly_id_col="poly_id")

    def batch(dim, **extra):
        out = point_in_polygon_join(points, dim, "intersects", keep_location=True, **kw, **extra)
        return sorted(tuple(r) for r in out.select("pid", "poly_id", "location").collect())

    def stream(dim):
        s = spark.readStream.schema(points.schema).parquet(src)
        out, _ = run_stream_to_memory(
            streaming_pip_join(s, dim, **kw).select("pid", "poly_id"), spark, output_mode="append"
        )
        return sorted(tuple(r) for r in out.collect())

    alone = spark.createDataFrame(rows[:1], schema)
    both = spark.createDataFrame(rows, schema)
    want = batch(alone)
    assert [r[0] for r in want] == [0, 2, 3, 5, 7]
    assert batch(both) == want
    assert batch(both, broadcast_build=False) == batch(alone, broadcast_build=False) == want
    assert stream(both) == stream(alone) == [r[:2] for r in want]


@pytest.mark.parametrize("bad_wkb", [None, b"", b"\x01\x03\x00\x00"], ids=["null", "empty", "header_only"])
def test_pip_refine_nulls_rows_it_cannot_decode(bad_wkb):
    """The shuffle join's refine, on one batch: rows whose WKB is NULL
    or cannot be decoded get a NULL location, every other row (repeated
    polygons included) the kernel's."""
    import pandas as pd

    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.wkb import write_wkb
    from geos_spark.operators.spatial_join import pip_refine

    sq = write_wkb(Geom.polygon([[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]]))
    px = pd.Series([2.0, 4.0, 2.0, 9.0, 2.0])
    py = pd.Series([2.0, 1.0, 2.0, 9.0, 2.0])
    wkb = pd.Series([sq, sq, bad_wkb, sq, bad_wkb], dtype=object)
    got = pip_refine.func(px, py, wkb)
    assert got.isna().tolist() == [False, False, True, False, True]
    assert got[~got.isna()].astype(int).tolist() == [0, 1, 2]  # INTERIOR, BOUNDARY, EXTERIOR

@pytest.mark.parametrize("path", ["prepared", "shuffle", "stream"])
def test_null_wkb_dim_row_drops_out_of_the_join(spark, tmp_path, path):
    """A dim row with a NULL WKB (and a valid envelope) is a row that
    cannot be decoded: its candidates get a NULL location, and each
    join path returns exactly the rows of the dim without it."""
    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.wkb import write_wkb
    from geos_spark.operators.spatial_join import point_in_polygon_join
    from geos_spark.streaming import run_stream_to_memory, streaming_pip_join

    tri = write_wkb(Geom.polygon([[(1.0, 1.0), (30.0, 1.0), (30.0, 30.0), (1.0, 1.0)]]))
    rows = [(1, tri, 1.0, 1.0, 30.0, 30.0), (2, None, 0.0, 0.0, 40.0, 40.0)]
    schema = "poly_id long, wkb binary, xmin double, ymin double, xmax double, ymax double"
    src = str(tmp_path / "points")
    spark.createDataFrame(
        [(0, 20.0, 10.0), (1, 10.0, 20.0), (2, 30.0, 15.0), (3, 35.0, 35.0), (4, 15.5, 15.5)],
        "pid long, x double, y double",
    ).write.parquet(src)
    kw = dict(level=2, extent=(0.0, 0.0, 64.0, 64.0), poly_id_col="poly_id")

    def join(dim):
        if path == "stream":
            s = spark.readStream.schema("pid long, x double, y double").parquet(src)
            out, _ = run_stream_to_memory(
                streaming_pip_join(s, dim, **kw).select("pid", "poly_id"), spark, output_mode="append"
            )
        else:
            out = point_in_polygon_join(
                spark.read.parquet(src), dim, broadcast_build=path == "prepared", **kw
            ).select("pid", "poly_id")
        return sorted(tuple(r) for r in out.collect())

    assert join(spark.createDataFrame(rows, schema)) == join(
        spark.createDataFrame(rows[:1], schema)
    ) == [(0, 1), (2, 1), (4, 1)]


def test_multimodal_plumbing(spark):
    from geos_spark.operators.multimodal import decode_image, extract_features

    with pytest.raises(NotImplementedError):
        decode_image(b"abc")

    rows = [(i, bytes([i % 256]) * (10 + i), "image/png", 8, 8) for i in range(100)]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, mime string, width int, height int"
    )
    out = extract_features(df).collect()
    assert len(out) == 100
    by_id = {r.media_id: r for r in out}
    assert by_id[3].n_bytes == 13
    assert len(by_id[3].feature) == 16
    # determinism: same payload -> same feature
    img1 = decode_image(b"xyz", deterministic_fake=True)
    img2 = decode_image(b"xyz", deterministic_fake=True)
    assert np.array_equal(img1, img2)


def test_minhash_lsh_finds_near_dups(spark):
    from geos_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest to find some food for the winter"
    )
    near = base.replace("winter", "summer")
    far = "completely different text with no overlap whatsoever in any way"
    rows = [(0, base), (1, near), (2, far), (3, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = minhash_lsh_pairs(df, num_hashes=16, bands=8)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup caught
    assert (0, 2) not in pairs and (1, 2) not in pairs

    verified = ngram_jaccard_pairs(df, cands, threshold=0.5)
    vp = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert vp[(0, 3)] == 1.0


def test_simhash_close_for_near_dups(spark):
    from geos_spark.operators.dedup import simhash64

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest to find some food for the winter"
    )
    rows = [(0, base), (1, base.replace("winter", "summer")),
            (2, "entirely unrelated words describing machine learning")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vals = {
        r.doc_id: r.sh
        for r in df.select("doc_id", simhash64(F.col("text")).alias("sh")).collect()
    }
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(vals[0], vals[1]) < hamming(vals[0], vals[2])


def test_within_distance_join_polygons_matches_kernel(spark):
    """The zero-python HOF refine must agree with the scalar kernel's
    geom_distance on every (point, star) pair — inside counts as 0."""
    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.scalars import geom_distance
    from geos_spark.kernels.wkb import parse_wkb
    from geos_spark.operators.spatial_join import (
        within_distance_join_polygons,
    )
    from geos_spark.sources.pages import (
        EXTENT,
        star_polygons,
        with_doc_point,
    )

    d = 40.0
    pts = with_doc_point(
        spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    )
    stars = star_polygons(spark)
    got = {
        (r.doc_id, r.poly_id)
        for r in within_distance_join_polygons(
            pts, stars, d, level=6, extent=EXTENT, poly_id_col="poly_id"
        ).collect()
    }
    polys = {
        r.poly_id: parse_wkb(bytes(r.wkb)) for r in stars.collect()
    }
    want = set()
    for r in pts.collect():
        p = Geom.point(r.x, r.y)
        for pid, g in polys.items():
            x0, y0, x1, y1 = g.envelope()
            if not (x0 - d <= r.x <= x1 + d and y0 - d <= r.y <= y1 + d):
                continue
            if geom_distance(p, g) <= d:
                want.add((r.doc_id, pid))
    assert got == want and len(want) > 0


def _edges_per_segment(wkb):
    """Reference: every ring segment of every polygon part, in order."""
    from geos_spark.kernels import geom as G
    from geos_spark.kernels.wkb import parse_wkb

    return [
        {"x1": r[i, 0], "y1": r[i, 1], "x2": r[i + 1, 0], "y2": r[i + 1, 1]}
        for p in parse_wkb(wkb).geoms() if p.type_id == G.POLYGON
        for r in p.data for i in range(len(r) - 1)
    ]


def test_wkb_edges_keep_every_segment_and_null_bad_rows():
    """``_wkb_edges`` gives a decodable row exactly its ring segments
    in ring order (holes, multipolygon and collection parts included;
    a non-areal row has none), and a NULL or undecodable WKB NULL
    edges, wherever it sits in the batch."""
    import pyarrow as pa

    from geos_spark.kernels import geom as G
    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.wkb import write_wkb
    from geos_spark.operators.spatial_join import _wkb_edges

    shell = [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)]
    hole = [(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (2.0, 2.0)]
    tri = Geom.polygon([[(10.0, 0.5), (12.5, 0.25), (11.0, 3.0), (10.0, 0.5)]])
    good = [
        write_wkb(Geom.polygon([shell, hole])),
        write_wkb(Geom.collection(G.MULTIPOLYGON, [tri, Geom.polygon([shell])])),
        write_wkb(Geom.collection(G.GEOMETRYCOLLECTION, [Geom.point(1.0, 1.0), tri])),
        write_wkb(Geom.linestring([(0.0, 0.0), (1.0, 1.0)])),
    ]
    rows = [None, good[0], b"\x01\x03\x00", good[1], b"", good[2], good[3], None]
    got = _wkb_edges.func(pa.array(rows, pa.binary())).to_pylist()
    want = [None if b in (None, b"\x01\x03\x00", b"") else _edges_per_segment(b) for b in rows]
    assert got == want
    assert [len(e) for e in want if e is not None] == [7, 7, 3, 0]


def test_distance_join_drops_undecodable_polygons(spark):
    """``within_distance_join_polygons`` against a dim holding a NULL
    and a malformed WKB does not abort: it returns exactly the rows of
    the dim without them."""
    from geos_spark.kernels.geom import Geom
    from geos_spark.kernels.wkb import write_wkb
    from geos_spark.operators.spatial_join import within_distance_join_polygons

    tri = write_wkb(Geom.polygon([[(1.0, 1.0), (30.0, 1.0), (30.0, 30.0), (1.0, 1.0)]]))
    rows = [
        (1, tri, 1.0, 1.0, 30.0, 30.0),
        (2, None, 0.0, 0.0, 40.0, 40.0),
        (3, b"\x01\x03\x00\x00", 0.0, 0.0, 40.0, 40.0),
    ]
    schema = "poly_id long, wkb binary, xmin double, ymin double, xmax double, ymax double"
    pts = spark.createDataFrame(
        [(0, 20.0, 10.0), (1, 10.0, 20.0), (2, 31.0, 15.0), (3, 35.0, 35.0), (4, 0.5, 0.5)],
        "pid long, x double, y double",
    )

    def join(data):
        out = within_distance_join_polygons(
            pts, spark.createDataFrame(data, schema), 1.5, level=2,
            extent=(0.0, 0.0, 64.0, 64.0), poly_id_col="poly_id",
        )
        return sorted(tuple(r) for r in out.select("pid", "poly_id").collect())

    assert join(rows) == join(rows[:1]) == [(0, 1), (2, 1), (4, 1)]


def test_simhash_df_null_text_row_kept(spark):
    """NULL-text / whitespace-only docs keep their row and get a NULL
    simhash (per-row contract, matching minhash_signatures); non-null
    docs are unaffected."""
    from geos_spark.operators.dedup import simhash64_df

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, None), (3, "the quick brown fox")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.simhash for r in simhash64_df(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2] is None
    assert out[1] == out[3] and out[1] is not None


def test_pages_generator_invariants(spark):
    from geos_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 2000)
    assert pages.count() == 2000
    row = pages.where(F.col("page_id") == 1234).collect()[0]
    assert row.url == "https://site237.example/page/1234"
    # byte-identical passthrough: html embeds text exactly
    assert bytes(row.html) == (
        b"<html><body>" + row.text.encode("utf-8") + b"</body></html>"
    )
    # deterministic across invocations
    row2 = synth_pages(spark, 2000).where(F.col("page_id") == 1234).collect()[0]
    assert row2.text == row.text and bytes(row2.html) == bytes(row.html)
    # token length within contract
    ntok = len(row.text.split())
    assert 20 <= ntok <= 200


def test_extract_text_byte_identity(spark):
    """The input-table invariant: text extracted from the html bytes is
    byte-identical to the original text column, for every row."""
    from geos_spark.operators.text import extract_text
    from geos_spark.sources.pages import synth_pages

    p = synth_pages(spark, 3000)
    bad = (
        p.withColumn("ex", extract_text("html"))
        .where(F.col("ex") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_extract_text_general_html(spark):
    from geos_spark.operators.text import extract_text

    rows = [
        (
            1,
            "<html><head><script>var x = '<p>no</p>';</script>"
            "<style>a{color:red}</style></head><body><h1>Title</h1>"
            "<p>Hello &amp; welcome to   O&#39;Brien&nbsp;&lt;co&gt;</p>"
            "<!-- comment --></body></html>",
            "Title Hello & welcome to O'Brien <co>",
        ),
        (2, "no tags at all", "no tags at all"),
        (3, "<div><br/><img src='x'></div>", ""),
        # double-encoded entity must NOT double-decode
        (4, "<p>&amp;lt;</p>", "&lt;"),
    ]
    df = spark.createDataFrame(rows, "id int, h string, want string").select(
        "id", F.encode("h", "utf-8").alias("html"), "want"
    )
    out = df.select(
        "id", extract_text("html").alias("got"), "want"
    ).collect()
    for r in out:
        assert r["got"] == r["want"], (r["id"], r["got"])


def test_remove_boilerplate_lines(spark):
    from geos_spark.operators.text import remove_boilerplate_lines

    df = spark.createDataFrame(
        [
            (1, "foot\nbody one"),
            (2, "foot\nbody two"),
            (3, "foot"),
            (4, "solo\nfoot"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(df, min_docs=3).collect()
    }
    assert out[1]["clean_text"] == "body one"
    assert out[1]["n_lines"] == 2 and out[1]["n_lines_kept"] == 1
    # a pure-boilerplate doc keeps an empty clean_text, not a dropped row
    assert out[3]["clean_text"] == "" and out[3]["n_lines_kept"] == 0
    assert out[4]["clean_text"] == "solo"
    # threshold boundary: min_docs=5 -> nothing is boilerplate
    out5 = {
        r["doc_id"]: r["clean_text"]
        for r in remove_boilerplate_lines(df, min_docs=5).collect()
    }
    assert out5[1] == "foot\nbody one"
    # line ORDER is preserved on reassembly (pos sort, not hash order)
    df2 = spark.createDataFrame(
        [(1, "z last\nfoot\na first"), (2, "foot"), (3, "foot")],
        "doc_id long, text string",
    )
    r = (
        remove_boilerplate_lines(df2, min_docs=3)
        .where("doc_id = 1")
        .first()
    )
    assert r["clean_text"] == "z last\na first"


def test_boilerplate_anti_join_broadcasts(spark):
    from geos_spark.operators.text import remove_boilerplate_lines

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc")], "doc_id long, text string"
    )
    plan = (
        remove_boilerplate_lines(df, min_docs=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ngram_dup_score(spark):
    from geos_spark.operators.dedup import ngram_dup_score

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),          # shares 'a b c'+'b c d' with doc 2
            (2, "a b c d x"),          # shares 2 of its 3 shingles
            (3, "q r s t u"),          # unique
            (4, None),                 # token-less
            (5, "a b"),                # short doc: single partial shingle
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in ngram_dup_score(df, n=3).collect()
    }
    # doc1 shingles: {a b c, b c d, c d e} — 2 shared with doc2
    assert out[1]["n_shingles"] == 3 and out[1]["n_dup"] == 2
    assert abs(out[1]["dup_frac"] - 2 / 3) < 1e-12
    assert out[2]["n_shingles"] == 3 and out[2]["n_dup"] == 2
    assert out[3]["n_dup"] == 0
    assert out[4]["n_shingles"] == 0 and out[4]["dup_frac"] is None
    assert out[5]["n_shingles"] == 1 and out[5]["n_dup"] == 0


def test_repetition_signals(spark):
    from geos_spark.operators.text import with_repetition_signals

    df = spark.createDataFrame(
        [
            (1, "aa\nbb\naa\ncc"),       # line 'aa' repeated once
            (2, "x y x y x y"),          # modal bigram 'x y' x3 of 5
            (3, "unique words only"),
            (4, ""),                     # empty
            (5, "w"),                    # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in with_repetition_signals(df).collect()
    }
    # doc1: 4 lines, 3 distinct -> 1/4; chars 2*4=8, distinct 6 -> 2/8
    assert abs(out[1]["dup_line_frac"] - 0.25) < 1e-12
    assert abs(out[1]["dup_line_char_frac"] - 0.25) < 1e-12
    # doc2: bigrams x y, y x, x y, y x, x y -> top 'x y' count 3,
    # covered chars 3*2=6 over 6 token chars -> 1.0
    assert abs(out[2]["top_bigram_char_frac"] - 1.0) < 1e-12
    assert out[3]["dup_line_frac"] == 0.0
    # tie rule: longest among modal bigrams — 'unique words' (11 token
    # chars) over 15 total token chars
    assert abs(out[3]["top_bigram_char_frac"] - 11 / 15) < 1e-12
    assert out[4]["top_bigram_char_frac"] == 0.0
    assert out[5]["top_bigram_char_frac"] == 0.0


def test_url_functions(spark):
    from geos_spark.operators.text import (
        url_canonicalize,
        url_domain,
        url_host,
    )

    cases = [
        # (url, host, domain, canonical)
        ("https://WWW.Example.COM:443/Path/?utm_source=x&q=1#frag",
         "www.example.com", "example.com",
         "https://www.example.com/Path/?q=1"),
        ("http://user:pw@sub.shop.co.uk:80/a/b/",
         "sub.shop.co.uk", "shop.co.uk",
         "http://user:pw@sub.shop.co.uk/a/b"),
        ("http://example.com", "example.com", "example.com",
         "http://example.com"),
        ("https://a.b.c.d.com/x?fbclid=123", "a.b.c.d.com", "d.com",
         "https://a.b.c.d.com/x"),
        ("ftp://files.example.org/pub/", "files.example.org",
         "example.org", "ftp://files.example.org/pub"),
        ("//rel.example.net/x", "rel.example.net", "example.net",
         "//rel.example.net/x"),
        ("https://example.com/?gclid=1&utm_campaign=z", "example.com",
         "example.com", "https://example.com"),
        # non-default port survives
        ("http://h.com:8080/x", "h.com", "h.com", "http://h.com:8080/x"),
        (None, None, None, None),
    ]
    df = spark.createDataFrame(
        [(c[0],) for c in cases], "url string"
    ).select(
        "url",
        url_host("url").alias("h"),
        url_domain("url").alias("d"),
        url_canonicalize("url").alias("c"),
    )
    got = {r["url"]: r for r in df.collect()}
    for url, h, d, c in cases:
        r = got[url]
        assert r["h"] == h, (url, r["h"])
        assert r["d"] == d, (url, r["d"])
        assert r["c"] == c, (url, r["c"])


def test_dedup_clusters_end_to_end(spark):
    """Full pipeline: clones + a near-dup chain collapse to one
    canonical doc each; unrelated docs and the NULL-text doc stay
    singletons; exactly one keep per component."""
    from geos_spark.operators.dedup import dedup_clusters

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest to find some food for the winter"
    )
    near = base.replace("winter", "summer")
    rows = [
        (0, base),
        (1, near),
        (2, "completely different text with no overlap whatsoever here"),
        (3, base),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_clusters(
        df, num_hashes=16, bands=8, threshold=0.5
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert set(by_id) == {0, 1, 2, 3, 4}  # every doc exactly once
    # the {0, 1, 3} component: canonical = min id = 0
    assert by_id[0].canonical == 0 and by_id[3].canonical == 0
    assert by_id[1].canonical == 0
    assert by_id[0].csize == 3 and by_id[0].keep
    assert not by_id[1].keep and not by_id[3].keep
    # singletons (incl. NULL text) keep themselves
    for i in (2, 4):
        assert by_id[i].canonical == i
        assert by_id[i].csize == 1 and by_id[i].keep
    # invariant: exactly one keep per canonical
    keeps = [r for r in out if r.keep]
    assert len(keeps) == len({r.canonical for r in out})


def test_hash_sample_deterministic_across_partitioning(spark):
    """The sample is a pure function of (key, salt): repartitioning
    must not change it (unlike df.sample), and different salts draw
    different samples."""
    from geos_spark.operators.sampling import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in hash_sample(df, 0.3, salt="x").collect()}
    b = {
        r.doc_id
        for r in hash_sample(df.repartition(17), 0.3, salt="x").collect()
    }
    c = {r.doc_id for r in hash_sample(df, 0.3, salt="y").collect()}
    assert a == b
    assert a != c
    # fraction roughly honored (md5 is uniform)
    assert 0.25 < len(a) / 2000 < 0.35
    # fraction 0 and 1 are exact
    assert hash_sample(df, 0.0).count() == 0
    assert hash_sample(df, 1.0).count() == 2000


def test_source_quota_exact_and_salt_invariant(spark):
    """Two-phase salted top-k equals the brute-force single window
    for any salt_buckets; NULL order values sort last; rank is
    1..min(k, n_source)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from geos_spark.operators.sampling import source_quota

    rows = [
        (i, f"s{i % 7}", None if i % 13 == 0 else (i * 37) % 500)
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    for buckets in (1, 4, 64):
        got = {
            (r.doc_id, r.rank)
            for r in source_quota(
                df, 10, salt_buckets=buckets
            ).collect()
        }
        w = Window.partitionBy("source").orderBy(
            F.col("n_chars").desc_nulls_last(), F.col("doc_id").asc()
        )
        exp = {
            (r.doc_id, r.rank)
            for r in df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .collect()
        }
        assert got == exp, buckets
