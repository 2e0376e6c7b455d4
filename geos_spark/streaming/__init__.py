"""Structured Streaming surface for the engine.

The reference (GEOS, a per-call batch library) has no streaming story;
a 100 TB training-data pipeline ingests continuously. This module
extends the engine's operators to unbounded inputs the Spark-first
way: every streaming operator is built from the SAME native Catalyst
column expressions as its batch twin (Catalyst expressions are
trigger-agnostic), so the batch-verified semantics — and the DuckDB
oracles — remain binding. The catalog runs each stream to completion
with ``trigger(availableNow=True)`` into a memory sink and the driver
hash-compares the result against the identical ANSI SQL.

Production shape at 100 TB:

- the file/Kafka source bounds per-micro-batch work
  (``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``); state lives in
  the executor state store partitioned by the grouping key, so state
  size per executor is bounded by key cardinality, not input size;
- aggregations run in **update** mode into an idempotent keyed sink
  (Delta/Iceberg MERGE via ``foreachBatch``) — the memory sink +
  complete mode used by the catalog queries is the small-scale test
  harness, not the deployment path;
- event-time windows carry a watermark so state for closed windows is
  reclaimed and late data beyond the horizon is dropped (bounded
  state = the only way an unbounded stream survives).
"""

from __future__ import annotations

import itertools
import os
import tempfile
import weakref

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geos_spark.functions.hilbert_native import with_hilbert_cell
from geos_spark.sources.pages import with_doc_point

_qname_counter = itertools.count()

# session -> {absolute source path: pinned schema}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_documents_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a documents parquet directory.

    The schema is pinned from a batch read (streaming file sources
    require an explicit schema — inference at 100 TB would list the
    whole input), once per (session, absolute path): the read lists
    the source and runs a footer job, so later calls reuse the first
    schema and start no Spark job. A source whose schema changes needs
    a new path or session. ``max_files_per_trigger`` bounds
    micro-batch size.

    A single-file input (the sandbox testdata ships one .parquet file
    per table) is exposed through a one-symlink directory: the file
    source is a directory *lister* by contract. Production inputs are
    directories already.
    """
    schemas = _SCHEMAS.setdefault(spark, {})
    key = os.path.abspath(path)
    if key not in schemas:
        schemas[key] = spark.read.parquet(path).schema
    schema = schemas[key]
    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="geos_stream_src_")
        os.symlink(
            os.path.abspath(path), os.path.join(d, os.path.basename(path))
        )
        path = d
    r = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return r.parquet(path)


def streaming_tile_assign(
    docs: DataFrame,
    level: int = 12,
    id_col: str = "doc_id",
) -> DataFrame:
    """Stateless per-document tile assignment (HilbertEncoder midpoint
    rule, level-``level`` cells; reference
    src/shape/fractal/HilbertEncoder.cpp:29-55) — the streaming twin
    of ``q_tile_assign``. Pure native expressions: point derivation,
    grid snapping, and the bitwise Hilbert chain are the exact Column
    expressions the batch path uses, so this runs identically under
    any trigger, and being stateless it appends straight to a file
    sink (the checkpointed exactly-once ingest shape)."""
    stride = 4096.0 / ((1 << level) - 1)
    pts = with_doc_point(docs.select(id_col), id_col=id_col)
    gx = F.when(
        F.col("x") > 0, F.floor(F.col("x") / F.lit(stride))
    ).otherwise(F.lit(0)).cast("long")
    gy = F.when(
        F.col("y") > 0, F.floor(F.col("y") / F.lit(stride))
    ).otherwise(F.lit(0)).cast("long")
    g = pts.withColumn("gx", gx).withColumn("gy", gy)
    g = with_hilbert_cell(g, "gx", "gy", level, out="cell")
    return g.select(id_col, F.col("cell").cast("long").alias("cell"))


def streaming_tile_rollup(
    docs: DataFrame,
    level: int = 12,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-tile document rollup — :func:`streaming_tile_assign`
    followed by a keyed aggregation. Returns (cell, n_docs, sum_doc)
    — an update-mode aggregation keyed by cell (state = one row per
    occupied tile, bounded by 4^level, not by stream length).
    """
    g = streaming_tile_assign(docs, level=level, id_col=id_col)
    return g.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(id_col).alias("sum_doc"),
    )


def streaming_dedup_exact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Streaming content-hash dedup groups (fingerprint, n_dups,
    keeper_id) — literally the batch operator
    (:func:`geos_spark.operators.dedup.exact_dedup_groups`) applied to
    a streaming DataFrame: a hash-keyed aggregation is
    streaming-legal as-is. State is one row per distinct content
    hash; ``min(doc_id)`` as the keeper is arrival-order-independent,
    so the streaming result is deterministic and equals the batch
    result on the same input.
    """
    from geos_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(docs, text_col=text_col, id_col=id_col)


def streaming_windowed_tile_counts(
    docs: DataFrame,
    ts_col: str = "ts",
    level: int = 8,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    id_col: str = "doc_id",
) -> DataFrame:
    """Event-time tumbling-window per-tile counts with a watermark —
    the continuous-ingest production shape.

    Rows later than ``watermark`` behind the observed max event time
    are dropped; windows emit (append mode) once the watermark passes
    their end, after which their state is reclaimed. Returns
    (win_start, win_end, cell, n_docs).
    """
    stride = 4096.0 / ((1 << level) - 1)
    pts = with_doc_point(docs.select(id_col, ts_col), id_col=id_col)
    gx = F.when(
        F.col("x") > 0, F.floor(F.col("x") / F.lit(stride))
    ).otherwise(F.lit(0)).cast("long")
    gy = F.when(
        F.col("y") > 0, F.floor(F.col("y") / F.lit(stride))
    ).otherwise(F.lit(0)).cast("long")
    g = pts.withColumn("gx", gx).withColumn("gy", gy)
    g = with_hilbert_cell(g, "gx", "gy", level, out="cell")
    w = g.withWatermark(ts_col, watermark).groupBy(
        F.window(F.col(ts_col), window).alias("win"),
        F.col("cell").cast("long").alias("cell"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    return w.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "cell",
        "n_docs",
    )


def streaming_user_sessions(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session windows (gap-based, Spark-native
    ``session_window`` — merged while consecutive events arrive within
    ``gap`` of the running session end) with counts and value sums.

    Works identically on batch and streaming inputs. Streaming
    contract (append mode): a session emits once the watermark passes
    its end, so after an availableNow run the emitted set is exactly
    the sessions with ``sess_end < max(ts) - watermark`` — a pure
    function of the input, which is what makes the streaming result
    SQL-oracle-able (gaps-and-islands + the same cutoff). Session
    bounds are returned as epoch microseconds so external engines
    compare exactly. State per key is one open session, reclaimed on
    emission — bounded by concurrently-active users, not stream
    length.
    """
    ts = F.col(ts_col).cast("timestamp")
    w = (
        events.select(
            F.col(user_col), ts.alias("__ts"),
            F.col(value_col).cast("double").alias("__v"),
        )
        .withWatermark("__ts", watermark)
        .groupBy(
            F.col(user_col), F.session_window(F.col("__ts"), gap).alias("sess")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__v").alias("sum_value"),
        )
    )
    return w.select(
        user_col,
        F.unix_micros(F.col("sess.start")).alias("sess_start_us"),
        F.unix_micros(F.col("sess.end")).alias("sess_end_us"),
        "n_events",
        "sum_value",
    )


def streaming_first_seen(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Streaming first-seen dedup — a CUSTOM stateful operator via
    ``applyInPandasWithState``: each content fingerprint is emitted
    exactly once, on the first micro-batch where it appears (ties
    inside that batch broken by min id, so the result is
    deterministic for a fixed batch sequence); later arrivals of the
    same fingerprint are suppressed by a per-key state flag.

    This is the streaming-native "keep the first copy" contract
    (arrival-order semantics), complementing
    :func:`streaming_dedup_exact` whose ``min(doc_id)`` keeper is
    arrival-order-independent. On a SINGLE-batch input (e.g. the
    catalog's one-file tables) the two coincide: first-seen keeper ==
    global min id, which is what the SQL oracle checks; the
    multi-batch semantics are pinned by tests/test_streaming.py.

    State is one boolean per distinct fingerprint. Unbounded streams
    would bound it with a state TTL
    (``GroupStateTimeout.ProcessingTimeTimeout`` + a dedup horizon,
    the same trade Spark's own ``dropDuplicatesWithinWatermark``
    makes); the catalog/test harness runs finite availableNow inputs
    where NoTimeout is exact.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = docs.select(
        F.md5(F.col(text_col)).alias("fingerprint"),
        F.col(id_col).alias("keeper_id"),
    )

    def first_seen(key, pdfs, state):
        if state.exists:
            return  # fingerprint already emitted in an earlier batch
        best = None
        for pdf in pdfs:
            m = pdf["keeper_id"].min()
            best = m if best is None or m < best else best
        state.update((True,))
        yield pd.DataFrame(
            {"fingerprint": [key[0]], "keeper_id": [best]}
        )

    return keyed.groupBy("fingerprint").applyInPandasWithState(
        first_seen,
        outputStructType="fingerprint string, keeper_id long",
        stateStructType="seen boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_pip_join(
    points: DataFrame,
    polygons: DataFrame,
    predicate: str = "intersects",
    *,
    level: int = 6,
    extent: tuple[float, float, float, float] = (0.0, 0.0, 4096.0, 4096.0),
    poly_id_col: str = "poly_id",
) -> DataFrame:
    """Stream-static point-in-polygon join — the flagship spatial join
    over an unbounded probe side.

    ``points`` is a STREAMING DataFrame of (id, x, y); ``polygons`` a
    static dim table. This is literally the batch operator
    (:func:`geos_spark.operators.spatial_join.point_in_polygon_join`),
    so the stream refines with the same robust orientation kernel as
    the batch join. The dim is prepared once, when this is called
    (:func:`geos_spark.operators.spatial_join.prepare_polygons`): every
    micro-batch probes each Arrow batch of points, inside the python
    worker, against the broadcast dim index that worker decoded once,
    so a micro-batch plan is the file scan, one Arrow UDF and an
    ``explode``, with no exchange. A changed dim needs a new DataFrame
    and a new query. The join is streaming-legal in append mode with
    NO state store at all (each micro-batch joins independently;
    nothing is buffered across batches).

    That statelessness is the scale story: an unbounded 10^12-row
    probe stream joins against the dim side at file-source pace with
    per-executor memory bounded by the broadcast index (+ one Arrow
    batch), and the result can flow straight to a checkpointed
    exactly-once file sink (:func:`stream_to_parquet`). Semantics and
    oracle are the batch join's (reference algorithm:
    src/algorithm/RayCrossingCounter.cpp); equality with the batch
    result on the same input is pinned by the driver gate and
    tests/test_streaming.py (multi-batch).
    """
    from geos_spark.operators.spatial_join import point_in_polygon_join

    return point_in_polygon_join(
        points,
        polygons,
        predicate,
        level=level,
        extent=extent,
        poly_id_col=poly_id_col,
    )


def run_stream_to_memory(
    sdf: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    name: str | None = None,
):
    """Drive a streaming DataFrame to completion (availableNow) into a
    memory sink and return (result DataFrame, finished query handle).

    The harness path: availableNow processes exactly the data present
    at start and terminates, so the final table equals the batch
    result of the same expressions — which is how the driver's DuckDB
    oracle can hash-check a streaming operator. The query handle
    exposes ``recentProgress`` so tests can assert the run was
    actually incremental (n micro-batches > 1 under
    ``maxFilesPerTrigger``).
    """
    qn = name or f"geos_stream_{next(_qname_counter)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(qn)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qn), q


def stream_to_parquet(sdf: DataFrame, path: str, checkpoint: str):
    """Drive a (stateless/append) streaming DataFrame into a parquet
    sink with a checkpoint, availableNow, and block until done.

    The checkpoint's source offsets + sink commit log give
    exactly-once file output across restarts: re-invoking with the
    same ``checkpoint`` after new input arrived processes ONLY the
    new files (the north rule's resumability contract, realized by
    the engine's streaming tier — complementing the batch manifest in
    ``plans/checkpoint.py``). Returns the finished query handle.
    """
    q = (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_source_quota(
    docs: DataFrame,
    k: int,
    source_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming per-source quota — stateful admission control via
    ``applyInPandasWithState``: each source admits at most ``k``
    documents over the lifetime of the stream (state = admitted
    count per source), the streaming-native form of
    :func:`geos_spark.operators.sampling.source_quota`.

    Within a micro-batch, candidates are ranked by the batch
    operator's exact order (``order_col`` desc nulls last, ``id_col``
    asc) and admitted top-first, so on a SINGLE-batch input the
    emitted set and ranks equal the batch operator's — which is what
    lets the catalog row share ``source_quota``'s SQL oracle. Across
    batches the contract is admission-order (an unbounded stream
    cannot retro-rank): once a source's quota is spent, later
    arrivals are dropped regardless of size; ranks are assigned in
    admission order. Multi-batch semantics are pinned by
    tests/test_streaming.py.

    State per source is ONE integer — at 10^12 docs the state store
    scales with the number of distinct sources, not rows.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = docs.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        F.col(order_col).alias("n_chars"),
    )

    def admit(key, pdfs, state):
        used = state.get[0] if state.exists else 0
        if used >= k:
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        batch = batch.sort_values(
            ["n_chars", "doc_id"],
            ascending=[False, True],
            na_position="last",
        )
        sel = batch.head(k - used).copy()
        sel["rank"] = range(used + 1, used + 1 + len(sel))
        state.update((used + len(sel),))
        yield sel[["doc_id", "source", "n_chars", "rank"]]

    return keyed.groupBy("source").applyInPandasWithState(
        admit,
        outputStructType=(
            "doc_id long, source string, n_chars long, rank integer"
        ),
        stateStructType="used integer",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_pii_scrub(sdf: DataFrame) -> DataFrame:
    """Streaming twin of the PII scrub: the identical stateless
    redact_pii projection over an unbounded stream (append mode — no
    state, no watermark; the scrub is a pure map at any scale)."""
    from geos_spark.operators.pii import redact_pii

    return redact_pii(sdf)


def streaming_dedup_cut(
    sdf: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Cut duplicated substrings from STREAMING documents against a
    FROZEN duplicated-window table built from a static corpus — the
    ingest-side deployment of ``dedup.remove_dup_ngrams`` (the dup
    table is mined offline; arriving crawl records are scrubbed as
    they land, the way boilerplate filters run in production
    pipelines).

    The window table (xxhash64 of every n-word window occurring >=
    min_count times in the corpus) is a static DataFrame; the stream
    side emits each arriving doc's positional window hashes with
    ``posexplode_outer`` (token-less docs keep their row), marks
    duplicates through a stream-static equijoin, and one streaming
    per-doc aggregation (complete mode) collects the duplicated start
    positions while carrying the token array — the cleaned text is
    rebuilt by the same array fold as the batch operator.  When the
    stream replays the training corpus the result table equals batch
    ``dedup_cut``, so the same DuckDB oracle binds it.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    has_text = F.col(text_col).isNotNull() & (
        F.trim(F.col(text_col)) != ""
    )

    # frozen dup-window table from the static corpus
    c_base = corpus.select(
        id_col, F.when(has_text, toks).alias("__t")
    )
    c_win = c_base.where(F.size("__t") >= n).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - n),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice("__t", i + 1, n))
                ),
            )
        ).alias("h")
    )
    dup_h = (
        c_win.groupBy("h")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_count)
        .select("h")
    )

    # stream side: positional window hashes, outer so every doc stays
    s_base = sdf.select(id_col, F.when(has_text, toks).alias("__t"))
    s_win = s_base.select(
        id_col,
        "__t",
        F.posexplode_outer(
            F.when(
                F.size("__t") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("__t") - n),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice("__t", i + 1, n))
                    ),
                ),
            )
        ).alias("pos", "h"),
    )
    marked = s_win.join(
        dup_h.withColumn("__dup", F.lit(1)), "h", "left"
    )
    agg = marked.groupBy(id_col).agg(
        F.first("__t").alias("__t"),
        F.sort_array(
            F.collect_list(F.when(F.col("__dup") == 1, F.col("pos")))
        ).alias("__starts"),
    )
    kept = F.filter(
        F.transform(
            F.col("__t"), lambda w, i: F.struct(w.alias("w"), i.alias("i"))
        ),
        lambda p: ~F.exists(
            F.col("__starts"),
            lambda s: (s <= p["i"]) & (p["i"] < s + n),
        ),
    )
    return agg.select(
        id_col,
        F.coalesce(F.size("__t"), F.lit(0)).cast("long").alias("n_words"),
        F.coalesce(
            F.size("__t") - F.size(kept), F.lit(0)
        ).cast("long").alias("n_removed"),
        F.when(
            F.col("__t").isNotNull(),
            F.concat_ws(" ", F.transform(kept, lambda p: p["w"])),
        ).alias("clean_text"),
    )
