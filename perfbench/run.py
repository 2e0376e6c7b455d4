"""Run one benchmark workload and print its metrics.

From the repository root::

    python3 perfbench/run.py --workload pip_bulk --seed 1 --seconds 20 --trace 0

The inputs are generated from ``--seed`` (and cached) before anything is
clocked. The run then starts a local Spark session, reads the staged
inputs, runs untimed warm-up ops for WARMUP_SECONDS (all of which is ``setup_s``) and
measures closed-loop ops for ``--seconds``. Every op's output is
checked. Human-readable lines go to stdout first; the last stdout line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. A traced run
also writes its spans to ``.perfbench_run/traces/``. The exit code is
non-zero when any output check failed or the run could not start.

The figures are not comparable with the legacy ``bench.py`` suite and
its ``BENCH_r0*.json`` records, which used 32 task slots and kept the
best of several samples; this benchmark uses at most 4 slots and
reports medians over every sample.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
KEEP_INPUTS = 6  # cached input sets kept; older ones are deleted
DRIVER_MEMORY = "2g"
ARROW_BATCH_ROWS = "65536"  # the session's default, pinned against its env override
# untimed warm-up ops run until this many seconds have passed (at least
# one op): with a single op the JIT was still warming and the first
# measured ops ran 10-20% slower than the rest
WARMUP_SECONDS = 12.0
E2E_METRICS = ("setup_s", "rows_per_s", "latency_ms_p50", "peak_rss_mb")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest of p50/p90/p99/p99.9 with at least
    ten samples beyond it, or None when there are too few samples."""
    n = len(samples)
    for p in (99.9, 99.0, 90.0, 50.0):
        if n * (1 - p / 100) >= 10:
            xs = sorted(samples)
            return p, xs[min(n - 1, int(round(p / 100 * (n - 1))))]
    return None


def _prune_cache(cache: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)), key=os.path.getmtime
    )
    for e in entries[:-KEEP_INPUTS]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)


def _session(work: str, slots: int):
    """A local session with a fixed, explicit shape: ``slots`` task
    slots, as many shuffle partitions, a bounded driver heap and every
    scratch directory inside ``work``."""
    from geos_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cores=slots,
        shuffle_partitions=slots,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed, pre-touched heap: the JVM's resident size then no
            # longer depends on when G1 decides to grow the heap, and
            # peak_rss_mb moves with off-heap and python memory
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
            ),
            "spark.sql.execution.arrow.maxRecordsPerBatch": ARROW_BATCH_ROWS,
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the python workers it
    started) to exit."""
    from perfbench.probes import process_tree

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _layer_values(spec, ops, extra) -> dict[str, float]:
    """Per-layer metric values: the median over ops (and over
    micro-batches where an op reports several), sums for failure
    counts, 0 for a layer the workload does not use."""
    samples: dict[str, list[float]] = {}
    for r in ops:
        for k, v in r.layer.items():
            samples.setdefault(k, []).extend(v if isinstance(v, list) else [v])
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in extra:
            out[name] = float(extra[name])
        elif name in ("spark.tasks_failed", "st.null_out_rows"):
            out[name] = float(sum(samples.get(name, [0])))
        elif samples.get(name):
            out[name] = float(statistics.median(samples[name]))
        else:
            out[name] = 0.0
    unknown = set(samples) - {m["name"] for m in spec["per_layer"]}
    if unknown:
        raise RuntimeError(f"layer values not declared in BENCHMARK.json: {sorted(unknown)}")
    return out


def _op_counters(ctx, i, before, res) -> None:
    """Spark, JVM and process-tree deltas over one op (traced runs)."""
    from perfbench import probes

    jvm0, py0, gc0, t0 = before
    jvm1, py1 = ctx.monitor.cpu()
    gc1 = probes.gc_totals(ctx.spark)
    wall = time.perf_counter() - t0
    counts = [probes.job_counts(ctx.spark, f"op-{i}")]
    if res.spark_group:
        counts.append(probes.job_counts(ctx.spark, res.spark_group))
    jobs, stages, tasks, failed = (sum(c[j] for c in counts) for j in range(4))
    res.layer.update(
        {
            "spark.jobs_per_op": jobs,
            "spark.stages_per_op": stages,
            "spark.tasks_per_op": tasks,
            "spark.tasks_failed": failed,
            "jvm.gc_ms": gc1[0] - gc0[0],
            "jvm.gc_count": gc1[1] - gc0[1],
            "proc.jvm_cpu_s": jvm1 - jvm0,
            "proc.pyworker_cpu_s": py1 - py0,
            "proc.cpu_util": (jvm1 - jvm0 + py1 - py0) / (wall * ctx.slots),
        }
    )


def run(args) -> int:
    found = importlib.util.find_spec("geos_spark")
    if found is None or not (found.origin or "").startswith(ROOT + os.sep):
        print(f"perfbench: no geos_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench import gen, probes
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    sizes = wl_cls.sizes
    cache = os.path.join(RUN_DIR, "cache")
    os.makedirs(cache, exist_ok=True)
    inputs = gen.stage(cache, wl_cls.name, args.seed, sizes)
    wl_cls.answers(inputs)
    _prune_cache(cache, inputs)
    for stale in glob.glob(os.path.join(RUN_DIR, "work-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)  # left by a killed run
    work = os.path.join(RUN_DIR, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM Spark starts (launcher and driver) skips its perf-data
    # file, which would otherwise be written outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    slots = min(4, len(os.sched_getaffinity(0)))
    tracer = probes.Tracer(bool(args.trace))

    t_setup = time.perf_counter()
    with probes.TreeMonitor() as monitor:
        spark = _session(work, slots)
        try:
            spark.range(1).count()
            start_s = time.perf_counter() - t_setup
            ctx = Ctx(spark, inputs, work, sizes, tracer, monitor, slots)
            wl = wl_cls()
            wl.setup(ctx)
            t_warm = time.perf_counter()
            warm = []
            while not warm or time.perf_counter() - t_warm < WARMUP_SECONDS:
                spark.sparkContext.setJobGroup(f"op-{len(warm)}", "warm-up")
                warm.append(wl.op(ctx, len(warm)))
            setup_done = time.perf_counter()
            warmup_s = setup_done - t_warm
            setup_s = setup_done - t_setup

            ops = []
            deadline = setup_done + args.seconds
            i = len(warm)
            while True:
                # closed loop until the deadline; an op is not started
                # when less than half a typical op's time is left
                left = deadline - time.perf_counter()
                if left <= 0 or (ops and left < statistics.median(r.wall_s for r in ops) / 2):
                    break
                spark.sparkContext.setJobGroup(f"op-{i}", wl_cls.name)
                before = (*monitor.cpu(), probes.gc_totals(spark), time.perf_counter()) if ctx.traced else None
                res = wl.op(ctx, i)
                if ctx.traced:
                    _op_counters(ctx, i, before, res)
                ops.append(res)
                i += 1
            measured_s = time.perf_counter() - setup_done
            peak_mb = monitor.peak_mb()
            peak_kinds = monitor.peak_by_kind()
            overhead_ms = tracer.overhead_ms()
            final_errors, final_layers = wl.finish(ctx) if hasattr(wl, "finish") else ([], {})
        finally:
            _stop(spark)
    shutil.rmtree(work, ignore_errors=True)

    latencies = [r.wall_s * 1e3 for r in ops]
    attempted = len(ops)
    failed = sum(1 for r in ops if r.errors) + len(final_errors)
    failed = min(failed, attempted)
    errors = [e for r in warm for e in r.errors] + [e for r in ops for e in r.errors] + final_errors
    for e in errors[:20]:
        print("CHECK FAILED:", e)
    rows_per_s = sum(r.rows for r in ops) / measured_s
    p50 = statistics.median(latencies)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"workload {wl_cls.name}  seed {args.seed}  ops {len(ops)}  samples {len(latencies)}  slots {slots}")
    print("inputs", json.dumps({k: v for k, v in vars(sizes).items() if v}))
    print("latency samples ms", " ".join(f"{x:.0f}" for x in latencies))
    print("peak rss MB by process", json.dumps({k: round(v) for k, v in peak_kinds.items()}))
    tail = tail_percentile(latencies)
    tail_txt = f"p{tail[0]:g} {tail[1]:.1f} ms" if tail else "no percentile has 10 samples beyond it"
    if args.trace:
        with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
            tags = json.load(f)
        values = _layer_values(
            spec,
            ops,
            {
                **final_layers,
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "error_rate": failed / attempted,
                "trace.overhead_ms": overhead_ms / (len(warm) + len(ops)),
                "trace.op_latency_ms_p50": p50,
            },
        )
        for name, v in values.items():
            t = tags[name]
            print(f"{name:32s} {v:14.4f} {units[name]:8s} moves {t['moves']} on {','.join(t['workloads'])}")
        self_ms = tracer.self_times_ms()
        for name, ms in sorted(self_ms.items(), key=lambda kv: -kv[1]):
            print(f"self time {name:28s} {ms:10.1f} ms")
        trace_dir = os.path.join(RUN_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(
            os.path.join(trace_dir, f"{wl_cls.name}-seed{args.seed}-{os.getpid()}.json"),
            {"workload": wl_cls.name, "seed": args.seed, "metrics": values, "tags": tags},
        )
    else:
        values = dict(zip(E2E_METRICS, (setup_s, rows_per_s, p50, peak_mb)))
        for name, v in values.items():
            n = len(latencies) if name == "latency_ms_p50" else len(ops)
            extra = f"  ({tail_txt})" if name == "latency_ms_p50" else ""
            print(f"{name:16s} {v:14.4f} {units[name]:8s} n={n}{extra}")
        print(f"error_rate {failed / attempted:.4f} ratio ({failed} of {attempted} ops failed their check)")
    declared = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    if sorted(values) != sorted(declared):
        raise RuntimeError(f"metrics {sorted(values)} differ from BENCHMARK.json {sorted(declared)}")
    correct = not errors
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed if correct else max(failed, 1),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0 if correct else 1


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    return run(_args(argv))


if __name__ == "__main__":
    sys.exit(main())
