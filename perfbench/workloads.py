"""The benchmark's three closed-loop workloads.

Each workload drives the public ``geos_spark`` API from one driver
thread: the next op starts when the previous one has finished. An op
returns its latency, the input rows it completed, the failures
its output check found, and (traced runs only) per-layer values.

* ``pip_bulk``      — repeated bulk point-in-polygon joins, default
  (``prepared``) strategy with ``poly_id_col``.
* ``pip_stream``    — the same join as a stream: one parquet file
  arrives per op and ``read_documents_stream`` ->
  ``streaming_pip_join`` -> ``stream_to_parquet`` catches up on it in
  one micro-batch.
* ``tile_pipeline`` — footprints through polygon joins, overlay,
  tiling, a raster round trip and a checkpointed write. It is not in
  ``BENCHMARK.json``: one op takes about 20 s on a 4-core machine,
  too long for a steady median within one run's time. A traced
  ``pip_bulk`` run does one of its ops after the measured phase (the
  polygon pass), so its layers are measured and checked there; run it
  by hand (``--workload tile_pipeline``) for its own latency.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle, probes

RELATE_PATTERN = "T*T***T**"  # areal overlap: interiors meet, neither covers the other
TILE_LEVEL = 8
RASTER_GRID = 256
CHECKPOINT_BUCKETS = 4
POLYGON_PASS_OP = -1  # op id of the polygon pass in traced pip_bulk runs
# the per-layer values the polygon pass reports; its join and UDF
# numbers are left out so they do not mix with the point join's
POLYGON_LAYERS = (
    "tiling.", "raster.", "checkpoint.", "st.null_out_rows",
    "kernels.relate.", "kernels.overlay.", "kernels.clip.",
)


@dataclass
class OpResult:
    rows: int
    wall_s: float  # the op's latency
    errors: list[str] = field(default_factory=list)
    layer: dict[str, object] = field(default_factory=dict)
    spark_group: str | None = None  # job group of jobs Spark ran on its own threads


@dataclass
class Ctx:
    spark: object
    inputs: str
    work: str
    sizes: gen.Sizes
    tracer: probes.Tracer
    monitor: probes.TreeMonitor
    slots: int

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


def _cached_json(path: str, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    val = compute()
    with open(path + ".tmp", "w") as f:
        json.dump(val, f)
    os.replace(path + ".tmp", path)
    return val


def _pip_answers(inputs: str, pattern: str) -> list:
    """Oracle (count, hash sum) per point input matching ``pattern``."""
    polys = os.path.join(inputs, "polygons.parquet")
    return _cached_json(
        os.path.join(inputs, "pip_answers.json"),
        lambda: [
            oracle.pip_answer(p, polys)
            for p in sorted(glob.glob(os.path.join(inputs, pattern)))
        ],
    )


def _cell_join_metrics(nodes, out_rows: int) -> dict[str, float]:
    """Candidate and build-side counts of the tile-cell equijoins."""
    cand = build = 0
    for name, text, m in nodes:
        if name.endswith("Join") and text.split("[", 1)[-1].startswith("__cell"):
            cand += m.get("numOutputRows", 0)
        if name == "Generate" and ("FLOOR(((ymin" in text or "FLOOR(((bymin" in text):
            build += m.get("numOutputRows", 0)
    return {
        "spatial_join.candidates": cand,
        "spatial_join.build_rows": build,
        "spatial_join.hit_ratio": out_rows / cand if cand else 0.0,
    }


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


class PipBulk:
    name = "pip_bulk"
    # the footprints feed the polygon pass of traced runs
    sizes = gen.Sizes(points_per_op=1_000_000, point_slabs=2, footprints_per_op=100, footprint_slabs=1)

    @staticmethod
    def answers(inputs: str) -> list:
        TilePipeline.answers(inputs)
        return _pip_answers(inputs, "points/slab-*")

    def setup(self, ctx: Ctx) -> None:
        self.polys = ctx.spark.read.parquet(os.path.join(ctx.inputs, "polygons.parquet"))
        self.slabs = sorted(glob.glob(os.path.join(ctx.inputs, "points", "slab-*")))
        self.answer = self.answers(ctx.inputs)
        if ctx.traced:
            self._replay_setup(ctx)
            self.tiles = TilePipeline()
            self.tiles.setup(ctx)

    def finish(self, ctx: Ctx) -> tuple[list[str], dict[str, float]]:
        """Traced runs only: one ``tile_pipeline`` op after the measured
        phase, for the per-layer numbers of the polygon layers. Its
        output checks count like any op's."""
        if not ctx.traced:
            return [], {}
        ctx.spark.sparkContext.setJobGroup("polygon-pass", "polygon pass")
        with ctx.tracer.span("pip_bulk.polygon_pass", POLYGON_PASS_OP):
            res = self.tiles.op(ctx, POLYGON_PASS_OP)
        return res.errors, {k: v for k, v in res.layer.items() if k.startswith(POLYGON_LAYERS)}

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from geos_spark.operators.spatial_join import point_in_polygon_join

        k = i % len(self.slabs)
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("pip_bulk.op", i):
            pts = ctx.spark.read.parquet(self.slabs[k])
            t_plan = time.perf_counter()
            with tr.span("spatial_join.plan", i):
                joined = point_in_polygon_join(pts, self.polys, poly_id_col="poly_id")
                agg = joined.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64("point_id", "poly_id").cast("decimal(38,0)")).alias("h"),
                )
                agg._jdf.queryExecution().executedPlan()
            plan_s = time.perf_counter() - t_plan
            with tr.span("pip_bulk.execute", i):
                row = agg.collect()[0]
        lat = time.perf_counter() - t0
        with tr.span("pip_bulk.verify", i):
            got = [int(row["n"]), int(row["h"] or 0)]
            errors = [] if got == self.answer[k] else [f"slab {k}: got {got}, expected {self.answer[k]}"]
        res = OpResult(ctx.sizes.points_per_op, lat, errors=errors)
        if ctx.traced:
            res.layer["spatial_join.plan_ms"] = plan_s * 1e3
            with tr.span("trace.plan_metrics", i, tracing_only=True):
                nodes = probes.plan_nodes(agg._jdf.queryExecution().executedPlan())
                res.layer.update(probes.python_udf_metrics(nodes))
                res.layer.update(_cell_join_metrics(nodes, got[0]))
            with tr.span("trace.hilbert", i, tracing_only=True):
                res.layer["hilbert_native.rows_per_s"] = _hilbert_rate(pts)
            with tr.span("trace.kernels", i, tracing_only=True):
                res.layer.update(self._replay(k))
        return res

    def _replay_setup(self, ctx: Ctx) -> None:
        self.dim_wkb = pq.read_table(os.path.join(ctx.inputs, "polygons.parquet")).column("wkb").to_pylist()
        self.samples = []
        for p in self.slabs:
            t = pq.read_table(p).slice(0, 20_000)
            self.samples.append(np.column_stack([t.column("x").to_numpy(), t.column("y").to_numpy()]))

    def _replay(self, k: int) -> dict[str, float]:
        """Time the python kernels on a fixed sample of the op's input."""
        from geos_spark.kernels.pip import locate_points
        from geos_spark.kernels.wkb import decode_polygons

        (pack, _), dec_s = _timed(decode_polygons, self.dim_wkb)
        pts = self.samples[k]
        b = pack.bbox
        inside = (
            (pts[:, None, 0] >= b[None, :, 0]) & (pts[:, None, 0] <= b[None, :, 2])
            & (pts[:, None, 1] >= b[None, :, 1]) & (pts[:, None, 1] <= b[None, :, 3])
        )
        pair_pt, pair_poly = np.nonzero(inside)
        _, loc_s = _timed(locate_points, pts, pack, pair_pt, pair_poly)
        return {
            "kernels.wkb.decode_ms": dec_s * 1e3,
            "kernels.pip.points_per_s": len(pair_pt) / loc_s,
        }


def _hilbert_rate(pts) -> float:
    """Rows per second of the native tile-cell chain alone."""
    from pyspark.sql import functions as F

    from geos_spark.functions.hilbert_native import with_tile_cell
    from geos_spark.functions.st import DEFAULT_EXTENT

    t = time.perf_counter()
    n, _ = with_tile_cell(pts, "x", "y", 6, DEFAULT_EXTENT).agg(
        F.count(F.lit(1)), F.sum("cell")
    ).collect()[0]
    return n / (time.perf_counter() - t)


class PipStream:
    name = "pip_stream"
    sizes = gen.Sizes(microbatch_points=10_000, microbatch_files=16)

    @staticmethod
    def answers(inputs: str) -> list:
        """Per stream file, the oracle's (point_id, poly_id) pairs."""
        polys = os.path.join(inputs, "polygons.parquet")
        return _cached_json(
            os.path.join(inputs, "stream_pairs.json"),
            lambda: [
                [a.tolist() for a in oracle.pip_pairs(p, polys)]
                for p in sorted(glob.glob(os.path.join(inputs, "stream", "*.parquet")))
            ],
        )

    def setup(self, ctx: Ctx) -> None:
        self.polys = ctx.spark.read.parquet(os.path.join(ctx.inputs, "polygons.parquet"))
        files = sorted(glob.glob(os.path.join(ctx.inputs, "stream", "*.parquet")))
        self.tables = [pq.read_table(f) for f in files]
        self.pairs = self.answers(ctx.inputs)
        self.src = os.path.join(ctx.work, "stream_src")
        self.sink = os.path.join(ctx.work, "stream_sink")
        self.ckpt = os.path.join(ctx.work, "stream_ckpt")
        os.makedirs(self.src)
        self.arrived = 0

    def _arrive(self, n: int) -> str:
        """Write the next arrival into the source directory. Arrival j
        is stream file j mod B with its ids moved to [j*n, (j+1)*n), so
        the stream never runs dry and every arrival has its own ids."""
        j, b = self.arrived, self.arrived % len(self.tables)
        t = self.tables[b]
        ids = pa.array(t.column("point_id").to_numpy() + (j - b) * n, pa.int64())
        path = os.path.join(self.src, f"part-{j:06d}.parquet")
        pq.write_table(t.set_column(t.schema.get_field_index("point_id"), "point_id", ids), path)
        self.arrived += 1
        return path

    def expected(self, j: int, n: int) -> list[int]:
        """The oracle's (count, hash sum) of arrival j."""
        b = j % len(self.pairs)
        pid, poly = (np.asarray(a, np.int64) for a in self.pairs[b])
        return list(oracle.fingerprint(pid + (j - b) * n, poly))

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from geos_spark.streaming import (
            read_documents_stream,
            stream_to_parquet,
            streaming_pip_join,
        )

        f = self._arrive(ctx.sizes.microbatch_points)  # before the op is clocked
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("pip_stream.op", i):
            sdf = read_documents_stream(ctx.spark, self.src, max_files_per_trigger=1)
            t_plan = time.perf_counter()
            with tr.span("spatial_join.plan", i):
                joined = streaming_pip_join(sdf, self.polys, poly_id_col="poly_id")
            plan_s = time.perf_counter() - t_plan
            with tr.span("pip_stream.execute", i):
                q = stream_to_parquet(joined.select("point_id", "poly_id"), self.sink, self.ckpt)
        lat = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        res = OpResult(sum(p["numInputRows"] for p in progress), lat)
        if len(progress) != 1:
            res.errors.append(f"op {i}: {len(progress)} micro-batches for one new file")
        if ctx.traced:
            res.layer["spatial_join.plan_ms"] = plan_s * 1e3
            dur = {
                "streaming.query_planning_ms": "queryPlanning",
                "streaming.add_batch_ms": "addBatch",
                "streaming.wal_commit_ms": "walCommit",
                "streaming.commit_offsets_ms": "commitOffsets",
                "streaming.latest_offset_ms": "latestOffset",
            }
            for name, key in dur.items():
                res.layer[name] = [float(p["durationMs"].get(key, 0)) for p in progress]
            res.spark_group = str(q.runId)
            with tr.span("trace.plan_metrics", i, tracing_only=True):
                nodes = probes.plan_nodes(q._jsq.streamingQuery().lastExecution().executedPlan())
                res.layer.update(probes.python_udf_metrics(nodes))
                res.layer["spatial_join.build_rows"] = _cell_join_metrics(nodes, 0)[
                    "spatial_join.build_rows"
                ]
            with tr.span("trace.hilbert", i, tracing_only=True):
                res.layer["hilbert_native.rows_per_s"] = _hilbert_rate(ctx.spark.read.parquet(f))
        return res

    def finish(self, ctx: Ctx) -> tuple[list[str], dict[str, float]]:
        """Fingerprint the sink per arrival against the oracle."""
        from pyspark.sql import functions as F

        n = ctx.sizes.microbatch_points
        rows = (
            ctx.spark.read.parquet(self.sink)
            .groupBy(F.floor(F.col("point_id") / n).alias("f"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("point_id", "poly_id").cast("decimal(38,0)")).alias("h"),
            )
            .collect()
        )
        got = {int(r["f"]): [int(r["n"]), int(r["h"])] for r in rows}
        errors = []
        for j in range(self.arrived):
            want = self.expected(j, n)
            if got.get(j, [0, 0]) != want:
                errors.append(f"arrival {j}: got {got.get(j)}, expected {want}")
        extra = set(got) - set(range(self.arrived))
        if extra:
            errors.append(f"sink holds rows of arrivals never sent {sorted(extra)}")
        return errors, {}


class TilePipeline:
    name = "tile_pipeline"
    sizes = gen.Sizes(footprints_per_op=100, footprint_slabs=2)

    @staticmethod
    def answers(inputs: str) -> list:
        """Per slab: footprint areas and the raster oracle (mask rows,
        distinct set pixels) from the even-odd rule at pixel centres."""

        def compute():
            cw = gen.EXTENT / RASTER_GRID
            c = (np.arange(RASTER_GRID) + 0.5) * cw
            px, py = np.meshgrid(c, c)
            out = []
            for p in sorted(glob.glob(os.path.join(inputs, "footprints", "*.parquet"))):
                t = pq.read_table(p).to_pydict()
                rings = oracle.read_rings(t["wkb"])
                pix, _ = oracle.even_odd_pairs(px.ravel(), py.ravel(), rings)
                out.append(
                    {
                        "area": {str(f): oracle.ring_area(r) for f, r in zip(t["fid"], rings)},
                        "mask_rows": len(pix),
                        "pixels": len(np.unique(pix)),
                    }
                )
            return out

        return _cached_json(os.path.join(inputs, "tile_answers.json"), compute)

    def setup(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        path = os.path.join(ctx.inputs, "polygons.parquet")
        self.dim_a = ctx.spark.read.parquet(path)
        self.dim_b = self.dim_a.select(
            "poly_id", *(F.col(c).alias("b" + c) for c in ("wkb", "xmin", "ymin", "xmax", "ymax"))
        )
        t = pq.read_table(path).to_pydict()
        self.dim_area = [oracle.ring_area(r) for r in oracle.read_rings(t["wkb"])]
        self.slabs = sorted(glob.glob(os.path.join(ctx.inputs, "footprints", "*.parquet")))
        self.answer = self.answers(ctx.inputs)
        if ctx.traced:
            self._replay_setup(t["wkb"])

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from geos_spark.functions import st
        from geos_spark.operators.raster import rasterize_polygons, vectorize_mask
        from geos_spark.operators.spatial_join import polygon_join
        from geos_spark.operators.tiling import tile_materialize
        from geos_spark.plans.checkpoint import run_checkpointed

        k = i % len(self.slabs)
        tr, spark = ctx.tracer, ctx.spark
        out_dir = os.path.join(ctx.work, f"tiles-{i}")
        lay: dict[str, object] = {}
        t0 = time.perf_counter()
        with tr.span("tile_pipeline.op", i):
            fp = spark.read.parquet(self.slabs[k])
            fp_b = fp.select(
                "fid", *(F.col(c).alias("b" + c) for c in ("wkb", "xmin", "ymin", "xmax", "ymax"))
            )
            with tr.span("tile.join", i):
                parts = [
                    polygon_join(fp, self.dim_b, "intersects").select("fid", "poly_id", F.lit(0).alias("p")),
                    polygon_join(self.dim_a, fp_b, "contains").select("fid", "poly_id", F.lit(1).alias("p")),
                    polygon_join(fp, self.dim_b, RELATE_PATTERN).select("fid", "poly_id", F.lit(2).alias("p")),
                ]
                pairs_df = parts[0].unionByName(parts[1]).unionByName(parts[2])
                pairs = pairs_df.collect()
            with tr.span("tile.overlay", i):
                cand = fp.join(
                    F.broadcast(self.dim_b),
                    (F.col("xmin") <= F.col("bxmax")) & (F.col("bxmin") <= F.col("xmax"))
                    & (F.col("ymin") <= F.col("bymax")) & (F.col("bymin") <= F.col("ymax")),
                ).withColumn("iw", st.st_intersection(F.col("wkb"), F.col("bwkb")))
                overlay = cand.select(
                    "fid", "poly_id", st.st_area(F.col("iw")).alias("ia"), F.col("iw").isNull().alias("nul")
                ).collect()
            with tr.span("tiling.clip", i):
                frags = tile_materialize(fp, TILE_LEVEL).select(
                    "fid", "cell", "clipped_wkb", "clipped_area", "covers_fully"
                ).persist()
                per_fp = frags.groupBy("fid").agg(
                    F.sum("clipped_area").alias("a"), F.count(F.lit(1)).alias("n")
                ).collect()
            with tr.span("raster.rasterize", i):
                mask = rasterize_polygons(
                    fp.withColumnRenamed("fid", "poly_id"), RASTER_GRID, poly_id_col="poly_id"
                ).persist()
                mask_rows = mask.count()
            with tr.span("raster.vectorize", i):
                regions = vectorize_mask(mask, RASTER_GRID).select("n_cells", "area").collect()
                mask.unpersist()
            with tr.span("checkpoint.write", i):
                manifest = run_checkpointed(frags, out_dir, "fid", CHECKPOINT_BUCKETS)
                frags.unpersist()
        lat = time.perf_counter() - t0
        with tr.span("tile_pipeline.verify", i):
            errors = self._check(k, pairs, overlay, per_fp, mask_rows, regions, manifest, lay)
        if ctx.traced:
            for name in ("tiling.clip", "raster.rasterize", "raster.vectorize", "checkpoint.write"):
                lay[name + "_ms"] = tr.span_ms(name, i)
            lay["tiling.fragments"] = sum(r["n"] for r in per_fp)
            lay["raster.regions"] = len(regions)
            lay["checkpoint.buckets"] = len(manifest["buckets"])
            lay["checkpoint.bytes_written"] = sum(
                os.path.getsize(p) for p in glob.glob(os.path.join(out_dir, "**", "*"), recursive=True)
                if os.path.isfile(p)
            )
            with tr.span("trace.plan_metrics", i, tracing_only=True):
                nodes = probes.plan_nodes(pairs_df._jdf.queryExecution().executedPlan())
                lay.update(_cell_join_metrics(nodes, len(pairs)))
                nodes += probes.plan_nodes(cand._jdf.queryExecution().executedPlan())
                lay.update(probes.python_udf_metrics(nodes))
            with tr.span("trace.kernels", i, tracing_only=True):
                lay.update(self._replay(k))
        shutil.rmtree(out_dir, ignore_errors=True)
        res = OpResult(ctx.sizes.footprints_per_op, lat, errors=errors)
        res.layer = lay
        return res

    def _check(self, k, pairs, overlay, per_fp, mask_rows, regions, manifest, lay) -> list[str]:
        ans = self.answer[k]
        area = {int(f): a for f, a in ans["area"].items()}
        errors = []
        by_pred = [set(), set(), set()]
        for r in pairs:
            by_pred[r["p"]].add((r["fid"], r["poly_id"]))
        if not by_pred[1] <= by_pred[0] or not by_pred[2] <= by_pred[0]:
            errors.append("contains/relate pair that is not an intersects pair")
        nulls = 0
        for r in overlay:
            fa, da = area[r["fid"]], self.dim_area[r["poly_id"]]
            if r["nul"]:
                nulls += 1
                errors.append(f"st_intersection nulled out footprint {r['fid']} x polygon {r['poly_id']}")
                continue
            ia = r["ia"]
            if ia > min(fa, da) * (1 + 1e-9) + 1e-9:
                errors.append(f"overlay area {ia} > operand area for {r['fid']},{r['poly_id']}")
            if ia > 0 and (r["fid"], r["poly_id"]) not in by_pred[0]:
                errors.append(f"non-empty overlay of a non-intersecting pair {r['fid']},{r['poly_id']}")
            if (r["fid"], r["poly_id"]) in by_pred[1] and abs(ia - fa) > 1e-6 * fa:
                errors.append(f"contained footprint {r['fid']}: overlay {ia} != area {fa}")
        lay["st.null_out_rows"] = nulls
        got_area = {r["fid"]: r["a"] for r in per_fp}
        for f, a in area.items():
            if abs(got_area.get(f, 0.0) - a) > 1e-6 * a + 1e-9:
                errors.append(f"footprint {f}: fragments sum to {got_area.get(f)}, area {a}")
        cells = sum(r["n_cells"] for r in regions)
        cell_area = (gen.EXTENT / RASTER_GRID) ** 2
        if (mask_rows, cells) != (ans["mask_rows"], ans["pixels"]):
            errors.append(f"raster: mask {mask_rows}/{ans['mask_rows']} rows, {cells}/{ans['pixels']} pixels")
        if abs(sum(r["area"] for r in regions) - cells * cell_area) > 1e-6 * cells * cell_area + 1e-9:
            errors.append("vectorized region areas do not sum to the pixel area")
        written = sum(b["rows"] for b in manifest["buckets"].values())
        if written != sum(r["n"] for r in per_fp):
            errors.append(f"checkpoint manifest holds {written} rows, {sum(r['n'] for r in per_fp)} written")
        return errors

    def _replay_setup(self, dim_wkb, n: int = 40) -> None:
        """Per slab, ``n`` (footprint, dim polygon) pairs whose envelopes
        overlap, and each footprint's lower-left envelope quarter as a
        clip rectangle."""
        dim_rings = oracle.read_rings(dim_wkb)
        dlo = np.array([r.min(axis=0) for r in dim_rings])
        dhi = np.array([r.max(axis=0) for r in dim_rings])
        self.samples = []
        for p in self.slabs:
            wkbs = pq.read_table(p).column("wkb").to_pylist()
            pairs, rects = [], []
            for w, r in zip(wkbs, oracle.read_rings(wkbs)):
                lo, hi = r.min(axis=0), r.max(axis=0)
                hit = np.nonzero(np.all(lo <= dhi, axis=1) & np.all(dlo <= hi, axis=1))[0]
                if len(hit):
                    pairs.append((w, dim_wkb[hit[0]]))
                    rects.append((w, (lo[0], lo[1], (lo[0] + hi[0]) / 2, (lo[1] + hi[1]) / 2)))
                if len(pairs) == n:
                    break
            self.samples.append((pairs, rects))

    def _replay(self, k: int) -> dict[str, float]:
        """Time relate, overlay and clip kernels on a fixed sample."""
        from geos_spark.kernels import relate as R
        from geos_spark.kernels.clip import clip_geom
        from geos_spark.kernels.overlay import intersection
        from geos_spark.kernels.wkb import parse_wkb

        pairs, rects = self.samples[k]
        geoms = [(parse_wkb(a), parse_wkb(b)) for a, b in pairs]
        clips = [(parse_wkb(w), box) for w, box in rects]
        _, rel_s = _timed(lambda: [R.relate(a, b) for a, b in geoms])
        _, ovl_s = _timed(lambda: [intersection(a, b) for a, b in geoms])
        _, clip_s = _timed(lambda: [clip_geom(g, *box) for g, box in clips])
        return {
            "kernels.relate.pairs_per_s": len(geoms) / rel_s,
            "kernels.overlay.pairs_per_s": len(geoms) / ovl_s,
            "kernels.clip.geoms_per_s": len(clips) / clip_s,
        }


WORKLOADS = {w.name: w for w in (PipBulk, PipStream, TilePipeline)}
