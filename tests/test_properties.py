"""Property-based tests (hypothesis) for kernel-level invariants of
the webtext operators — randomized inputs, algebraic properties, no
oracle needed. Spark calls stay bounded (small row counts, session
fixture reused) so the suite adds seconds, not minutes.
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_text = st.text(
    alphabet=st.characters(
        min_codepoint=32, max_codepoint=126
    ),
    min_size=0,
    max_size=120,
)


@_settings
@given(st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40))
def test_pack_shards_is_prefix_sum(spark, sizes):
    from geos_spark.operators.sampling import pack_shards

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)],
        "doc_id int, n_tokens int",
    )
    out = {
        r["doc_id"]: r
        for r in pack_shards(
            df, 97, size_col="n_tokens", order_col="doc_id", num_ranges=5
        ).collect()
    }
    run = 0
    for i, s in enumerate(sizes):
        assert out[i]["global_offset"] == run
        assert out[i]["shard_id"] == run // 97
        assert out[i]["shard_offset"] == run % 97
        run += s


_text_no_at = st.text(
    alphabet=st.characters(
        min_codepoint=32, max_codepoint=126, exclude_characters="@"
    ),
    min_size=0,
    max_size=120,
)


@_settings
@given(st.lists(_text_no_at, min_size=1, max_size=8))
def test_redact_pii_idempotent_and_counts(spark, texts):
    """Idempotence holds for the digit-class patterns (ip/ssn/phone:
    placeholders contain no digits, so a second pass is a no-op). The
    email pattern is excluded ('@' stripped from the alphabet): text
    like 'a@b.cd@e.fg' legitimately leaves a matchable tail after the
    leftmost-match redaction — sequential-redaction semantics, not a
    bug."""
    from geos_spark.operators.pii import redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    once = redact_pii(df).drop("text").withColumnRenamed(
        "text_redacted", "text"
    )
    once_rows = {r["doc_id"]: r for r in once.collect()}
    twice = redact_pii(
        once.select("doc_id", "text")
    ).collect()
    for r in twice:
        # a second pass finds nothing and changes nothing
        assert r["text_redacted"] == once_rows[r["doc_id"]]["text"]
        assert (
            r["n_email"] + r["n_ip"] + r["n_ssn"] + r["n_phone"] == 0
        ), r


@_settings
@given(
    st.lists(
        st.lists(st.sampled_from("ab cd ef gh ij".split()), min_size=0, max_size=6),
        min_size=1,
        max_size=6,
    )
)
def test_paragraph_dedup_conservation(spark, docs):
    from geos_spark.operators.dedup import paragraph_dedup

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = paragraph_dedup(df).collect()
    # every distinct line of the corpus survives EXACTLY once
    # (docs with n_paras_kept == 0 contribute nothing; a kept empty
    # line round-trips as clean_text == "" with n_paras_kept == 1)
    all_lines = {ln for _, t in rows for ln in t.split("\n")}
    kept = [
        ln
        for r in out
        if r["n_paras_kept"] > 0
        for ln in r["clean_text"].split("\n")
    ]
    assert sorted(kept) == sorted(all_lines)
    # per-doc bookkeeping
    for r in out:
        assert 0 <= r["n_paras_kept"] <= r["n_paras"]


@_settings
@given(st.lists(_text, min_size=1, max_size=8))
def test_char_entropy_bounds(spark, texts):
    from geos_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    out = df.select(
        "doc_id",
        F.length("text").alias("n"),
        char_entropy(F.col("text")).alias("e"),
    ).collect()
    for r in out:
        # 0 <= H <= ln(min(distinct, n)) <= ln(95) for this alphabet
        assert r["e"] >= -1e-12
        if r["n"] and r["n"] > 0:
            assert r["e"] <= math.log(max(r["n"], 2)) + 1e-9


_cellsets = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=1,
    max_size=80,
)


@_settings
@given(_cellsets)
def test_trace_region_formulas_per_component(cells):
    """Pure-kernel property: for EVERY 4-connected component of a
    random cell soup, the traced rings reproduce the exact
    combinatorial area/perimeter, stay simple, and wind correctly.
    (trace_region's contract is one 4-connected region, so the soup
    is split into components first.)"""
    import numpy as np

    from geos_spark.kernels import geom as G
    from geos_spark.kernels.raster_trace import region_stats, trace_region

    remaining = set(cells)
    while remaining:
        seed = next(iter(remaining))
        comp = {seed}
        frontier = [seed]
        while frontier:
            x, y = frontier.pop()
            for nx, ny in ((x+1,y),(x-1,y),(x,y+1),(x,y-1)):
                if (nx, ny) in remaining and (nx, ny) not in comp:
                    comp.add((nx, ny))
                    frontier.append((nx, ny))
        remaining -= comp
        g = trace_region(np.array(sorted(comp), dtype=np.int64))
        area, perim, _, _ = region_stats(g)
        a4 = sum(1 for (x, y) in comp if (x+1, y) in comp) + sum(
            1 for (x, y) in comp if (x, y+1) in comp
        )
        assert area == len(comp)
        assert perim == 4 * len(comp) - 2 * a4
        polys = g.data if g.type_id == G.MULTIPOLYGON else [g]
        for p in polys:
            for j, r in enumerate(p.data):
                pts = [tuple(v) for v in r[:-1]]
                assert len(pts) == len(set(pts))
                sa = float(np.sum(r[:-1,0]*r[1:,1] - r[1:,0]*r[:-1,1]))
                assert (sa > 0) == (j == 0)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_cellsets)
def test_vectorize_tiled_equals_direct_random(spark, cells):
    """Distributed property: the block-decomposed vectorize and the
    direct per-region vectorize agree on random masks (block=4 so
    cuts cross everything)."""
    import pandas as pd

    from geos_spark.operators.raster import (
        vectorize_mask,
        vectorize_mask_tiled,
    )

    df = spark.createDataFrame(
        pd.DataFrame(sorted(cells), columns=["px", "py"])
    )
    cols = ["region", "n_cells", "area", "perimeter", "n_holes"]
    d = (
        vectorize_mask(df, 16).select(*cols).toPandas()
        .sort_values("region").reset_index(drop=True)
    )
    t = (
        vectorize_mask_tiled(df, 16, block=4).select(*cols).toPandas()
        .sort_values("region").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(d, t)
