"""Seeded input generation for the benchmark (numpy only, no Spark).

Every input is a pure function of ``(workload, seed, sizes)``: the
polygon dimension table, the point slabs and the footprint slabs are
drawn from ``numpy.random.default_rng`` streams derived from the seed,
written as parquet and cached under the benchmark's cache directory.
Generation runs before the timed phase and before set-up is clocked.

All coordinates are continuous float64 draws inside the open extent
(0, 4096)^2, so no point sits exactly on a polygon vertex or edge and
the engine's answers are comparable with the numpy oracle's.

Where the repository's fixture spec (``FIXTURES.md`` section 2) fixes a
shape it is followed: points are uniform over the 4096 x 4096 extent
except the "hot sites", every 100th row, which fall in one 64 x 64
window; footprints are star polygons of radius 5-50. The polygon
dimension (256 stars of 64-192 vertices, radius 60-160) and the slab
and micro-batch sizes have no documented source; they are chosen so
that each workload stresses the layer it is meant to.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXTENT = 4096.0
FILES_PER_SLAB = 4


@dataclass(frozen=True)
class Sizes:
    """Input properties of one workload; recorded with every run."""

    polygons: int = 256
    poly_vertices_min: int = 64
    poly_vertices_max: int = 192
    poly_radius_min: float = 60.0
    poly_radius_max: float = 160.0
    points_per_op: int = 0
    hotspot_every: int = 100  # every n-th point is a hot site
    hotspot_window: float = 64.0  # side of the square the hot sites fall in
    point_slabs: int = 0
    footprints_per_op: int = 0
    footprint_vertices_min: int = 8
    footprint_vertices_max: int = 24
    footprint_radius_min: float = 5.0
    footprint_radius_max: float = 50.0
    footprint_slabs: int = 0
    microbatch_points: int = 0
    microbatch_files: int = 0  # distinct files; arrivals cycle through them


def star_rings(rng, n, centers, rmin, rmax, vmin, vmax):
    """``n`` star-shaped simple polygons as closed (V+1, 2) rings.

    Vertex k's angle is drawn inside the k-th of V equal sectors (away
    from the sector ends), so angles strictly increase and no two
    neighbours are pi or more apart: every vertex then sees the centre,
    and with positive radii the ring is simple. Vertex counts and radii
    vary per polygon. ``vmin`` must be at least 4.
    """
    rings = []
    for i in range(n):
        v = int(rng.integers(vmin, vmax + 1))
        r0 = rng.uniform(rmin, rmax)
        ang = (np.arange(v) + rng.uniform(0.1, 0.9, v)) * (2.0 * np.pi / v)
        rad = r0 * rng.uniform(0.55, 1.0, v)
        xy = np.empty((v + 1, 2))
        xy[:v, 0] = centers[i, 0] + rad * np.cos(ang)
        xy[:v, 1] = centers[i, 1] + rad * np.sin(ang)
        xy[v] = xy[0]
        np.clip(xy, 1e-3, EXTENT - 1e-3, out=xy)
        rings.append(xy)
    return rings


def polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian WKB Polygon with one closed shell ring."""
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + np.ascontiguousarray(
        ring, dtype="<f8"
    ).tobytes()


def poly_table(id_col: str, ids, rings) -> pa.Table:
    """(id, wkb, xmin, ymin, xmax, ymax): the engine's polygon layout."""
    lo = np.array([r.min(axis=0) for r in rings])
    hi = np.array([r.max(axis=0) for r in rings])
    return pa.table(
        {
            id_col: pa.array(ids, pa.int64()),
            "wkb": pa.array([polygon_wkb(r) for r in rings], pa.binary()),
            "xmin": lo[:, 0],
            "ymin": lo[:, 1],
            "xmax": hi[:, 0],
            "ymax": hi[:, 1],
        }
    )


def dim_rings(seed: int, sz: Sizes):
    rng = np.random.default_rng([seed, 1])
    centers = rng.uniform(200.0, EXTENT - 200.0, (sz.polygons, 2))
    return centers, star_rings(
        rng, sz.polygons, centers, sz.poly_radius_min, sz.poly_radius_max,
        sz.poly_vertices_min, sz.poly_vertices_max,
    )


def point_slab(seed: int, slab: int, n: int, sz: Sizes, centers) -> pa.Table:
    """``n`` points, uniform over the extent except every
    ``hotspot_every``-th one, a hot site, which falls in a
    ``hotspot_window``-wide square around polygon 0's centre (the
    fixture spec's skew rule; the square lies inside the extent). Ids
    are unique across slabs."""
    rng = np.random.default_rng([seed, 2, slab])
    xy = rng.uniform(0.0, EXTENT, (n, 2))
    hot = xy[:: sz.hotspot_every]
    hot[:] = centers[0] + rng.uniform(-0.5, 0.5, hot.shape) * sz.hotspot_window
    np.clip(xy, 1e-6, EXTENT - 1e-6, out=xy)
    return pa.table(
        {
            "point_id": pa.array(slab * n + np.arange(n, dtype=np.int64), pa.int64()),
            "x": xy[:, 0],
            "y": xy[:, 1],
        }
    )


def footprint_slab(seed: int, slab: int, sz: Sizes) -> pa.Table:
    """Polygonal footprints with varied vertex counts and sizes."""
    rng = np.random.default_rng([seed, 3, slab])
    n = sz.footprints_per_op
    centers = rng.uniform(50.0, EXTENT - 50.0, (n, 2))
    rings = star_rings(
        rng, n, centers, sz.footprint_radius_min, sz.footprint_radius_max,
        sz.footprint_vertices_min, sz.footprint_vertices_max,
    )
    ids = slab * n + np.arange(n, dtype=np.int64)
    return poly_table("fid", ids, rings)


def write_table(t: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(t, tmp)
    os.replace(tmp, path)


def stage(root: str, workload: str, seed: int, sz: Sizes) -> str:
    """Write (or reuse) the inputs of one (workload, seed, sizes) under
    ``root`` and return their directory. A ``done.json`` marker with
    the sizes is written last, so an interrupted generation is redone.
    """
    digest = hashlib.sha256(json.dumps(asdict(sz), sort_keys=True).encode()).hexdigest()
    key = f"{workload}-s{seed}-{digest[:10]}"
    d = os.path.join(root, key)
    marker = os.path.join(d, "done.json")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    centers, rings = dim_rings(seed, sz)
    write_table(
        poly_table("poly_id", np.arange(sz.polygons), rings),
        os.path.join(d, "polygons.parquet"),
    )
    for s in range(sz.point_slabs):
        # a slab is a directory of FILES_PER_SLAB files, so the scan
        # splits into as many tasks as a production input would
        slab_dir = os.path.join(d, "points", f"slab-{s:04d}")
        os.makedirs(slab_dir)
        t = point_slab(seed, s, sz.points_per_op, sz, centers)
        step = -(-t.num_rows // FILES_PER_SLAB)
        for k in range(FILES_PER_SLAB):
            write_table(t.slice(k * step, step), os.path.join(slab_dir, f"part-{k}.parquet"))
    if sz.microbatch_files:
        os.makedirs(os.path.join(d, "stream"), exist_ok=True)
        for s in range(sz.microbatch_files):
            write_table(
                point_slab(seed, s, sz.microbatch_points, sz, centers),
                os.path.join(d, "stream", f"part-{s:04d}.parquet"),
            )
    if sz.footprint_slabs:
        os.makedirs(os.path.join(d, "footprints"), exist_ok=True)
        for s in range(sz.footprint_slabs):
            write_table(
                footprint_slab(seed, s, sz),
                os.path.join(d, "footprints", f"slab-{s:04d}.parquet"),
            )
    with open(marker + ".tmp", "w") as f:
        json.dump({"workload": workload, "seed": seed, "sizes": asdict(sz)}, f, indent=1)
    os.replace(marker + ".tmp", marker)
    return d
