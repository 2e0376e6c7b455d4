"""Structured Streaming surface: streaming twins equal their batch
operators (availableNow run-to-completion), micro-batching is real
(incremental under maxFilesPerTrigger), and watermark semantics drop
late rows / close windows as specified."""

import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

DOCS = f"{SF_DIR}/documents.parquet"


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_dedup_equals_batch(spark):
    from geos_spark.operators.dedup import exact_dedup_groups
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_dedup_exact,
    )

    s = read_documents_stream(spark, DOCS)
    assert s.isStreaming
    out, q = run_stream_to_memory(streaming_dedup_exact(s), spark)
    batch = exact_dedup_groups(spark.read.parquet(DOCS))
    assert _collect_sorted(out) == _collect_sorted(batch)
    assert not q.isActive  # availableNow terminated


def test_stream_tile_rollup_equals_batch(spark):
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_tile_rollup,
    )

    s = read_documents_stream(spark, DOCS)
    out, _ = run_stream_to_memory(streaming_tile_rollup(s), spark)
    batch = streaming_tile_rollup(spark.read.parquet(DOCS))
    assert _collect_sorted(out) == _collect_sorted(batch)
    # state cardinality = occupied tiles, not input rows
    assert out.count() <= spark.read.parquet(DOCS).count()


def test_stream_is_incremental(spark, tmp_path):
    """maxFilesPerTrigger=1 over 3 files -> >= 3 micro-batches, same
    final result as batch (the aggregation is arrival-order
    independent)."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_dedup_exact,
    )

    src = str(tmp_path / "docs")
    base = spark.read.parquet(DOCS).select("doc_id", "text")
    for i in range(3):
        base.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    s = read_documents_stream(spark, src, max_files_per_trigger=1)
    out, q = run_stream_to_memory(streaming_dedup_exact(s), spark)
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) >= 3
    batch = streaming_dedup_exact(base)
    assert _collect_sorted(out) == _collect_sorted(batch)


def test_stream_pip_join_multibatch_equals_batch(spark, tmp_path):
    """Stream-static native spatial join: 3 micro-batches over a split
    input produce exactly the batch join's rows (stateless join =>
    arrival-order independent), with zero state store rows."""
    from geos_spark.operators.spatial_join import point_in_polygon_join
    from geos_spark.queries import EXTENT, _LEVEL_JOIN, star_polygons
    from geos_spark.sources.pages import with_doc_point
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_pip_join,
    )

    src = str(tmp_path / "docs")
    base = spark.read.parquet(DOCS).select("doc_id")
    for i in range(3):
        base.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    polys = star_polygons(spark)
    s = read_documents_stream(spark, src, max_files_per_trigger=1)
    out, q = run_stream_to_memory(
        streaming_pip_join(
            with_doc_point(s.select("doc_id")), polys,
            level=_LEVEL_JOIN, extent=EXTENT,
        ).select("doc_id", "poly_id"),
        spark,
        output_mode="append",
    )
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) >= 3
    # stateless: no streaming state rows at all
    assert all(
        not p.stateOperators or sum(
            s_.numRowsTotal for s_ in p.stateOperators
        ) == 0
        for p in q.recentProgress
    )
    batch = point_in_polygon_join(
        with_doc_point(base), polys, "intersects",
        level=_LEVEL_JOIN, extent=EXTENT,
        poly_id_col="poly_id",
    ).select("doc_id", "poly_id")
    assert _collect_sorted(out) == _collect_sorted(batch)


def test_read_documents_stream_pins_schema_once(spark, tmp_path):
    """The first call per (session, absolute path) reads the schema; a
    repeat call, under a relative spelling of the same path, starts no
    Spark job and pins the same schema a batch read gives."""
    from geos_spark.streaming import read_documents_stream

    src = str(tmp_path / "docs")
    spark.read.parquet(DOCS).select("doc_id", "text").limit(10).write.parquet(src)
    first = read_documents_stream(spark, src)
    sc = spark.sparkContext
    sc.setJobGroup("schema-repeat", "repeat stream read")
    try:
        again = read_documents_stream(spark, os.path.relpath(src))
        jobs = sc.statusTracker().getJobIdsForGroup("schema-repeat")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert first.schema == again.schema == spark.read.parquet(src).schema


def test_stream_pip_join_microbatch_has_no_exchange(spark, tmp_path):
    """A micro-batch of the stream join probes the broadcast dim index
    locally: its executed plan holds one Arrow UDF and an explode and
    no exchange of any kind."""
    from geos_spark.queries import EXTENT, _LEVEL_JOIN, star_polygons
    from geos_spark.sources.pages import with_doc_point
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_pip_join,
    )

    src = str(tmp_path / "docs")
    spark.read.parquet(DOCS).select("doc_id").write.parquet(src)
    s = read_documents_stream(spark, src)
    out, q = run_stream_to_memory(
        streaming_pip_join(
            with_doc_point(s), star_polygons(spark), level=_LEVEL_JOIN, extent=EXTENT
        ).select("doc_id", "poly_id"),
        spark,
        output_mode="append",
    )
    assert out.count() > 0
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1 and plan.count("Generate") == 1
    assert "Exchange" not in plan and "Join" not in plan


def _write_ts_file(spark, path, rows):
    """One parquet file of (doc_id, ts) rows; bump mtime of only the
    NEW files so the file source (earliest-mtime-first) lists them in
    write order."""
    before = set(os.listdir(path)) if os.path.isdir(path) else set()
    spark.createDataFrame(rows, "doc_id long, ts timestamp").coalesce(
        1
    ).write.mode("append").parquet(path)
    for f in set(os.listdir(path)) - before:
        if f.endswith(".parquet"):
            os.utime(os.path.join(path, f))


def test_windowed_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving >= 2 micro-batches after the watermark passed
    its window is dropped (Spark's late-events filter uses the
    previous batch's start watermark, so a late row in the batch
    immediately after the watermark advance is still admitted — the
    SPARK-24634 two-watermark model), then a far-future flush row
    closes all windows of interest. Append mode emits exactly the
    closed windows, late row uncounted."""
    from datetime import datetime, timedelta

    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_windowed_tile_counts,
    )

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    src = str(tmp_path / "ts_docs")
    # batch 0: four rows in window [12:00, 12:10), doc_ids 1..4
    _write_ts_file(
        spark, src, [(i, t0 + timedelta(minutes=i)) for i in (1, 2, 3, 4)]
    )
    time.sleep(1.1)
    # batch 1: on-time doc 6; watermark (12:04 - 30min = 11:34) now
    # known for a full batch
    _write_ts_file(spark, src, [(6, t0 + timedelta(minutes=5))])
    time.sleep(1.1)
    # batch 2: doc 5 at 09:00 is ~2.5h behind the 11:34 late-events
    # watermark -> dropped
    _write_ts_file(spark, src, [(5, t0 - timedelta(hours=3))])
    time.sleep(1.1)
    # batch 3: flush row far in the future pushes the watermark past
    # every window above so append mode emits them
    _write_ts_file(spark, src, [(99, t0 + timedelta(days=1))])

    s = read_documents_stream(spark, src, max_files_per_trigger=1)
    out, _ = run_stream_to_memory(
        streaming_windowed_tile_counts(
            s, ts_col="ts", level=8, window="10 minutes",
            watermark="30 minutes",
        ),
        spark,
        output_mode="append",
    )
    rows = out.where(F.col("win_start") == t0).collect()
    # docs 1,2,3,4,6 counted; late doc 5 is beyond the watermark
    assert sum(r.n_docs for r in rows) == 5
    # doc 5's own window was never created
    assert (
        out.where(F.col("win_start") == t0 - timedelta(hours=3)).count()
        == 0
    )
    # the flush window itself is NOT emitted (the watermark never
    # passed its end before the stream terminated)
    assert (
        out.where(F.col("win_start") > t0 + timedelta(hours=1)).count()
        == 0
    )


def test_catalog_stream_queries_match_oracle_shape(spark):
    """The two catalog entries return the documented columns and are
    non-empty at the smallest SF (full hash parity vs DuckDB is the
    driver gate's job)."""
    from geos_spark.queries import q_stream_dedup, q_stream_tiles

    d = q_stream_dedup(spark, SF_DIR)
    assert d.columns == ["fingerprint", "n_dups", "keeper_id"]
    assert d.count() > 0
    t = q_stream_tiles(spark, SF_DIR)
    assert t.columns == ["cell", "n_docs", "sum_doc"]
    assert t.count() > 0


def test_stream_sessions_cutoff_and_batch_parity(spark):
    """Streaming sessions (append, availableNow) = batch sessions
    filtered to those the final watermark closed."""
    from pyspark.sql import functions as F

    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_user_sessions,
    )

    path = f"{SF_DIR}/events.parquet"
    out, _ = run_stream_to_memory(
        streaming_user_sessions(read_documents_stream(spark, path)),
        spark,
        output_mode="append",
    )
    ev = spark.read.parquet(path)
    batch = streaming_user_sessions(ev)  # watermark is a no-op in batch
    cutoff = ev.agg(
        F.max(
            F.unix_micros(
                F.col("ts").cast("timestamp") - F.expr("INTERVAL 1 HOUR")
            )
        )
    ).collect()[0][0]
    expected = batch.where(F.col("sess_end_us") < cutoff)
    key = lambda r: (r[0], r[1])  # noqa: E731
    got = sorted((tuple(r) for r in out.collect()), key=key)
    exp = sorted((tuple(r) for r in expected.collect()), key=key)
    assert len(got) == len(exp) > 0
    for a, b in zip(got, exp):
        assert a[:4] == b[:4]
        assert abs(a[4] - b[4]) < 1e-6


def test_first_seen_single_batch_equals_keepers(spark):
    """One file -> one micro-batch: first-seen == dedup keepers
    (incl. the NULL-fingerprint group for NULL text)."""
    from geos_spark.operators.dedup import exact_dedup_groups
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_first_seen,
    )

    out, _ = run_stream_to_memory(
        streaming_first_seen(read_documents_stream(spark, DOCS)),
        spark,
        output_mode="update",
    )
    exp = exact_dedup_groups(spark.read.parquet(DOCS)).select(
        "fingerprint", "keeper_id"
    )
    key = lambda t: (t[0] is None, t)  # noqa: E731
    assert sorted((tuple(r) for r in out.collect()), key=key) == sorted(
        (tuple(r) for r in exp.collect()), key=key
    )


def test_first_seen_state_across_batches(spark, tmp_path):
    """A fingerprint appearing in batch 0 (doc 10) and again in batch
    2 (doc 2) is emitted ONCE with the batch-0 keeper — the per-key
    state suppresses the later, smaller id (arrival-order semantics,
    unlike min-keeper dedup)."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_first_seen,
    )

    src = str(tmp_path / "fs")

    def wf(rows):
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f))

    wf([(10, "aaa"), (11, "bbb")])
    time.sleep(1.1)
    wf([(20, "ccc")])
    time.sleep(1.1)
    wf([(2, "aaa"), (3, "ddd")])

    s = read_documents_stream(spark, src, max_files_per_trigger=1)
    out, q = run_stream_to_memory(
        streaming_first_seen(s), spark, output_mode="update"
    )
    got = {r.fingerprint: r.keeper_id for r in out.collect()}
    import hashlib

    h = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
    assert got[h("aaa")] == 10  # batch-0 arrival wins over doc 2
    assert got[h("bbb")] == 11
    assert got[h("ccc")] == 20
    assert got[h("ddd")] == 3
    assert len(got) == 4  # "aaa" emitted exactly once
    assert len([p for p in q.recentProgress if p.numInputRows > 0]) >= 3


def test_stream_resume_from_checkpoint(spark, tmp_path):
    """Exactly-once resumability: run 1 checkpoints after ingesting
    file A; run 2 (same checkpoint) after file B arrives processes
    ONLY B — the output holds each doc exactly once."""
    from geos_spark.streaming import (
        read_documents_stream,
        stream_to_parquet,
        streaming_tile_assign,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def wf(ids):
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        spark.createDataFrame(
            [(i,) for i in ids], "doc_id long"
        ).coalesce(1).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f))

    wf(range(0, 10))
    q1 = stream_to_parquet(
        streaming_tile_assign(read_documents_stream(spark, src)),
        sink,
        ckpt,
    )
    assert sum(p.numInputRows for p in q1.recentProgress) == 10
    time.sleep(1.1)
    wf(range(10, 25))
    q2 = stream_to_parquet(
        streaming_tile_assign(read_documents_stream(spark, src)),
        sink,
        ckpt,
    )
    # run 2 read only the new file
    assert sum(p.numInputRows for p in q2.recentProgress) == 15
    out = spark.read.parquet(sink)
    assert out.count() == 25
    assert out.select("doc_id").distinct().count() == 25  # exactly once
    # and the assignment equals the batch expression on the union
    from geos_spark.streaming import streaming_tile_assign as sta

    batch = sta(spark.read.parquet(src))
    assert _collect_sorted(out) == _collect_sorted(batch)


def test_stream_quota_admission_across_batches(spark, tmp_path):
    """Per-source quota across micro-batches: quota spent in earlier
    batches suppresses later (even larger) arrivals; in-batch ranking
    is by size desc; total per source never exceeds k; ranks are
    admission-ordered 1..n."""
    from geos_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
        streaming_source_quota,
    )

    src = str(tmp_path / "sq")

    def wf(rows):
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long"
        ).coalesce(1).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f))

    # batch 0: source A has 3 candidates for k=2 -> two largest admit
    wf([(1, "A", 100), (2, "A", 300), (3, "A", 200), (4, "B", 50)])
    time.sleep(1.1)
    # batch 1: A's quota is spent -> doc 5 (huge) is dropped; B admits
    wf([(5, "A", 9999), (6, "B", 70)])

    s = read_documents_stream(spark, src, max_files_per_trigger=1)
    out, q = run_stream_to_memory(
        streaming_source_quota(s, 2), spark, output_mode="append"
    )
    rows = {(r.source, r.doc_id): r.rank for r in out.collect()}
    assert rows == {
        ("A", 2): 1,  # largest in batch 0
        ("A", 3): 2,  # second largest in batch 0
        ("B", 4): 1,
        ("B", 6): 2,  # admitted in batch 1 with the NEXT rank
    }
    assert len([p for p in q.recentProgress if p.numInputRows > 0]) >= 2
