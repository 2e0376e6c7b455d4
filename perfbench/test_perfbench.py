"""Self-tests of the benchmark (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, oracle, run
from perfbench.workloads import POLYGON_LAYERS, WORKLOADS, PipStream, TilePipeline

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = gen.Sizes(
    polygons=8, points_per_op=500, point_slabs=2,
    footprints_per_op=6, footprint_slabs=1, microbatch_points=100, microbatch_files=2,
)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(d):
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_same_seed_gives_identical_inputs(tmp_path):
    a = gen.stage(str(tmp_path / "a"), "w", 7, SMALL)
    b = gen.stage(str(tmp_path / "b"), "w", 7, SMALL)
    fa, fb = _files(a), _files(b)
    assert len(fa) == 1 + 2 * gen.FILES_PER_SLAB + 1 + 2 + 1
    assert fa == fb


def test_different_seed_gives_different_inputs(tmp_path):
    fa = _files(gen.stage(str(tmp_path / "a"), "w", 7, SMALL))
    fb = _files(gen.stage(str(tmp_path / "b"), "w", 8, SMALL))
    assert fa.keys() == fb.keys()
    assert all(fa[k] != fb[k] for k in fa if k.endswith(".parquet"))


def _crossings(ring):
    """Pairs of non-adjacent edges of a closed ring that touch or cross."""
    a, b = ring[:-1], ring[1:]
    n = len(a)

    def orient(p, q, r):
        return np.sign((q[..., 0] - p[..., 0]) * (r[..., 1] - p[..., 1])
                       - (q[..., 1] - p[..., 1]) * (r[..., 0] - p[..., 0]))

    i, j = np.triu_indices(n, 2)
    keep = ~((i == 0) & (j == n - 1))
    i, j = i[keep], j[keep]
    hit = (orient(a[i], b[i], a[j]) * orient(a[i], b[i], b[j]) <= 0) & (
        orient(a[j], b[j], a[i]) * orient(a[j], b[j], b[i]) <= 0
    )
    return int(hit.sum())


def test_generated_rings_are_simple():
    sz = gen.Sizes(footprints_per_op=2000, footprint_vertices_min=4)
    t = gen.footprint_slab(5, 0, sz)
    rings = oracle.read_rings(t.column("wkb").to_pylist()) + gen.dim_rings(5, sz)[1]
    assert min(len(r) for r in rings) == 5
    assert [r for r in rings if _crossings(r)] == []


def test_hot_sites_follow_the_fixture_rule():
    centers, _ = gen.dim_rings(4, SMALL)
    t = gen.point_slab(4, 0, 1000, SMALL, centers)
    xy = np.column_stack([t.column("x").to_numpy(), t.column("y").to_numpy()])
    off = np.abs(xy - centers[0]).max(axis=1) <= SMALL.hotspot_window / 2
    assert off[::100].all() and off[::100].size == 10
    assert off.sum() < 20  # the uniform rest hardly ever falls in the window


def test_stream_arrivals_cycle_with_fresh_ids(tmp_path):
    sz = gen.Sizes(polygons=64, microbatch_points=2000, microbatch_files=2)
    d = gen.stage(str(tmp_path / "in"), "pip_stream", 3, sz)
    w = PipStream()
    w.tables = [pq.read_table(p) for p in sorted(glob.glob(os.path.join(d, "stream", "*")))]
    w.pairs = PipStream.answers(d)
    w.src, w.arrived = str(tmp_path), 0
    polys = os.path.join(d, "polygons.parquet")
    for j in range(5):
        path = w._arrive(sz.microbatch_points)
        ids = pq.read_table(path).column("point_id").to_numpy()
        assert ids.tolist() == list(range(j * 2000, (j + 1) * 2000))
        want = w.expected(j, sz.microbatch_points)
        assert want[0] > 0 and list(oracle.pip_answer(path, polys)) == want
    assert w.expected(0, 2000) != w.expected(2, 2000)


def test_even_odd_oracle_on_a_square_with_a_notch():
    ring = np.array([[0, 0], [10, 0], [10, 10], [6, 10], [5, 2], [4, 10], [0, 10], [0, 0]], float)
    x = np.array([1.0, 5.0, 5.0, 11.0, 9.5])
    y = np.array([1.0, 1.0, 8.0, 5.0, 9.5])
    pi, ri = oracle.even_odd_pairs(x, y, [ring])
    assert sorted(pi.tolist()) == [0, 1, 4]
    assert ri.tolist() == [0, 0, 0]


def test_wkb_round_trip():
    ring = np.array([[0, 0], [3, 0], [0, 4], [0, 0]], float)
    (back,) = oracle.read_rings([gen.polygon_wkb(ring)])
    assert np.array_equal(back, ring)
    assert oracle.ring_area(back) == 6.0


def test_pip_check_fails_on_a_planted_wrong_row(tmp_path):
    d = gen.stage(str(tmp_path), "pip_bulk", 3, SMALL)
    pts = os.path.join(d, "points", "slab-0000")
    polys = os.path.join(d, "polygons.parquet")
    expected = oracle.pip_answer(pts, polys)
    pt = pq.read_table(pts).to_pydict()
    pg = pq.read_table(polys).to_pydict()
    pi, ri = oracle.even_odd_pairs(
        np.asarray(pt["x"]), np.asarray(pt["y"]), oracle.read_rings(pg["wkb"])
    )
    assert expected[0] == len(pi) > 0
    ids = np.asarray(pt["point_id"])[pi]
    poly = np.asarray(pg["poly_id"])[ri]
    assert oracle.fingerprint(ids, poly) == tuple(expected)
    wrong = poly.copy()
    wrong[0] = (wrong[0] + 1) % SMALL.polygons
    assert oracle.fingerprint(ids, wrong) != tuple(expected)
    assert oracle.fingerprint(ids[1:], poly[1:]) != tuple(expected)


def test_tile_checks_fail_on_planted_wrong_rows():
    t = TilePipeline()
    t.dim_area = [100.0]
    t.answer = [{"area": {"1": 4.0}, "mask_rows": 3, "pixels": 3}]
    cell = (gen.EXTENT / 256) ** 2
    good = dict(
        pairs=[{"fid": 1, "poly_id": 0, "p": 0}, {"fid": 1, "poly_id": 0, "p": 1}],
        overlay=[{"fid": 1, "poly_id": 0, "ia": 4.0, "nul": False}],
        per_fp=[{"fid": 1, "a": 4.0, "n": 2}],
        mask_rows=3,
        regions=[{"n_cells": 3, "area": 3 * cell}],
        manifest={"buckets": {"0": {"rows": 2}}},
    )

    def check(**bad):
        args = {**good, **bad}
        return t._check(0, args["pairs"], args["overlay"], args["per_fp"], args["mask_rows"],
                        args["regions"], args["manifest"], {})

    assert check() == []
    assert check(pairs=good["pairs"][1:])  # contains pair without intersects pair
    assert check(overlay=[{"fid": 1, "poly_id": 0, "ia": 5.0, "nul": False}])
    assert check(overlay=[{"fid": 1, "poly_id": 0, "ia": None, "nul": True}])
    assert check(per_fp=[{"fid": 1, "a": 3.9, "n": 2}])
    assert check(mask_rows=2)
    assert check(regions=[{"n_cells": 2, "area": 2 * cell}])
    assert check(manifest={"buckets": {"0": {"rows": 1}}})


def test_benchmark_json_follows_its_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert name.match(m["name"]) and unit.match(m["unit"])
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in spec["end_to_end"] if m["name"] == "setup_s"
    ).items()


def test_printed_metrics_match_benchmark_json():
    spec = _spec()
    assert list(run.E2E_METRICS) == [m["name"] for m in spec["end_to_end"]]
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        tags = json.load(f)
    tags.pop("_note")
    assert list(tags) == [m["name"] for m in spec["per_layer"]]
    e2e = {m["name"] for m in spec["end_to_end"]} | {"error_rate", "none"}
    gated = {w["name"] for w in spec["workloads"]}
    for name, t in tags.items():
        assert t["moves"] in e2e
        assert set(t["workloads"]) <= set(WORKLOADS)
        # a layer of a workload outside BENCHMARK.json is measured by
        # the polygon pass of a gated workload's traced run
        assert bool(set(t["workloads"]) & gated) != ("measured_in" in t)
        assert ("measured_in" in t) == name.startswith(POLYGON_LAYERS)


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pip_bulk", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("n,expect", [(5, None), (20, 50.0), (120, 90.0), (1200, 99.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, expect):
    got = run.tail_percentile([float(i) for i in range(n)])
    assert (got and got[0]) == expect if expect else got is None
