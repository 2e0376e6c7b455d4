"""WKB codec: general reader/writer + vectorized batch fast paths.

Matches the reference's reader tolerance and writer canon:
- reader accepts both byte orders, ISO and extended (EWKB) flavor:
  Z flag 0x80000000, M flag 0x40000000, SRID flag 0x20000000, and ISO
  type offsets (1000/2000/3000) — ``src/io/WKBReader.cpp``,
  ``src/io/WKBWriter.cpp:285-325``;
- writer emits canonical NDR (little-endian) ISO WKB, XY only, which
  fixes byte-for-byte output (SURVEY §4.3).

Batch fast paths (`decode_points`, `encode_points`) treat a column of
uniform 21-byte NDR point WKBs as one numpy buffer — this is the shape
of the 10^12-row ingest path, where per-value python would dominate.
"""

from __future__ import annotations

import struct

import numpy as np

from geos_spark.kernels import geom as G

_Z_FLAG = 0x80000000
_M_FLAG = 0x40000000
_SRID_FLAG = 0x20000000


def _parse_header(buf: memoryview, pos: int):
    byte_order = buf[pos]
    fmt = "<" if byte_order == 1 else ">"
    (raw_type,) = struct.unpack_from(fmt + "I", buf, pos + 1)
    pos += 5
    has_z = bool(raw_type & _Z_FLAG)
    has_m = bool(raw_type & _M_FLAG)
    has_srid = bool(raw_type & _SRID_FLAG)
    base = raw_type & 0x0FFFFFFF
    # ISO type offsets: 1000*Z 2000*M 3000*ZM
    if base >= 3000:
        has_z = has_m = True
        base -= 3000
    elif base >= 2000:
        has_m = True
        base -= 2000
    elif base >= 1000:
        has_z = True
        base -= 1000
    srid = 0
    if has_srid:
        (srid,) = struct.unpack_from(fmt + "i", buf, pos)
        pos += 4
    dim = 2 + (1 if has_z else 0) + (1 if has_m else 0)
    return fmt, base, dim, srid, pos, has_z, has_m


def _read_coords(
    buf: memoryview, pos: int, n: int, dim: int, fmt: str, has_z: bool, has_m: bool
):
    """-> (coords(n,2), zs|None, ms|None, pos). Z precedes M when both
    are present (ISO interleaving, WKBReader::readCoordinate)."""
    total = n * dim
    if fmt == "<":
        arr = np.frombuffer(buf, dtype="<f8", count=total, offset=pos)
    else:
        arr = np.frombuffer(buf, dtype=">f8", count=total, offset=pos)
    arr = arr.astype(np.float64).reshape(n, dim)
    coords = np.ascontiguousarray(arr[:, :2])
    zs = ms = None
    col = 2
    if has_z:
        zs = np.ascontiguousarray(arr[:, col])
        col += 1
    if has_m:
        ms = np.ascontiguousarray(arr[:, col])
    return coords, zs, ms, pos + 8 * total


def _parse_body(buf: memoryview, pos: int) -> tuple[G.Geom, int]:
    fmt, base, dim, srid, pos, has_z, has_m = _parse_header(buf, pos)
    if base == G.POINT:
        coords, zs, ms, pos = _read_coords(buf, pos, 1, dim, fmt, has_z, has_m)
        if np.isnan(coords).all():
            g = G.Geom.empty(G.POINT)
            if has_z:
                g.zs = np.zeros(0, dtype=np.float64)
            if has_m:
                g.ms = np.zeros(0, dtype=np.float64)
        else:
            g = G.Geom(G.POINT, coords, zs=zs, ms=ms)
    elif base in (G.LINESTRING, G.CIRCULARSTRING):
        (n,) = struct.unpack_from(fmt + "I", buf, pos)
        pos += 4
        coords, zs, ms, pos = _read_coords(buf, pos, n, dim, fmt, has_z, has_m)
        g = G.Geom(base, coords, zs=zs, ms=ms)
    elif base == G.POLYGON:
        (nr,) = struct.unpack_from(fmt + "I", buf, pos)
        pos += 4
        rings = []
        zl: list = []
        ml: list = []
        for _ in range(nr):
            (n,) = struct.unpack_from(fmt + "I", buf, pos)
            pos += 4
            ring, zs, ms, pos = _read_coords(buf, pos, n, dim, fmt, has_z, has_m)
            rings.append(ring)
            if has_z:
                zl.append(zs)
            if has_m:
                ml.append(ms)
        g = G.Geom(
            G.POLYGON,
            rings,
            zs=zl if has_z else None,
            ms=ml if has_m else None,
        )
    elif base in (
        G.MULTIPOINT,
        G.MULTILINESTRING,
        G.MULTIPOLYGON,
        G.GEOMETRYCOLLECTION,
        # curve containers: members are full WKB child geometries,
        # including CurvePolygon rings (WKBReader.cpp:461-487)
        G.COMPOUNDCURVE,
        G.CURVEPOLYGON,
        G.MULTICURVE,
        G.MULTISURFACE,
    ):
        (n,) = struct.unpack_from(fmt + "I", buf, pos)
        pos += 4
        parts = []
        for _ in range(n):
            child, pos = _parse_body(buf, pos)
            parts.append(child)
        g = G.Geom(base, parts)
    else:
        raise ValueError(f"unsupported WKB type {base}")
    g.srid = srid
    return g, pos


def parse_wkb(buf: bytes) -> G.Geom:
    g, _ = _parse_body(memoryview(buf), 0)
    return g


def write_wkb(g: G.Geom) -> bytes:
    """Canonical NDR ISO WKB, dimension-preserving: leaves with a Z/M
    side channel get the ISO +1000/+2000/+3000 type offset and
    interleaved extra ordinates (the reference WKBWriter's default
    outputDimension is 4 since GEOS 3.12, include/geos/io/WKBWriter.h:85-95);
    XY geometries produce byte-identical output to the XY-only writer."""
    out = bytearray()
    _write_body(g, out)
    return bytes(out)


def write_ewkb(g: G.Geom, srid: int | None = None) -> bytes:
    """Extended-flavor (PostGIS EWKB) NDR WKB with an embedded SRID.

    The canonical ISO writer has no SRID slot, so this is how the
    per-geometry ``srid`` int tag (``capi/geos_c.h.in:2900``
    GEOSGetSRID / ``:3246`` GEOSSetSRID; WKBWriter flavour Extended +
    setIncludeSRID, ``src/io/WKBWriter.cpp:285-325``: Z 0x80000000,
    M 0x40000000, SRID 0x20000000) survives a binary column.  The
    top-level header carries the flag bits + srid; nested children
    stay canonical ISO bodies (the reader accepts either flavour at
    any level).  srid 0 (= "no srid") degrades to canonical ISO WKB,
    keeping the byte-stability contract for untagged geometries.
    """
    s = int(g.srid if srid is None else srid)
    iso = write_wkb(g)
    if s == 0:
        return iso
    code = (
        g.type_id
        | (_Z_FLAG if g.has_z else 0)
        | (_M_FLAG if g.has_m else 0)
        | _SRID_FLAG
    )
    return iso[:1] + struct.pack("<Ii", code, s) + iso[5:]


def _interleave(coords: np.ndarray, zs, ms) -> bytes:
    cols = [coords[:, 0], coords[:, 1]]
    if zs is not None:
        cols.append(np.asarray(zs, dtype=np.float64))
    if ms is not None:
        cols.append(np.asarray(ms, dtype=np.float64))
    return np.ascontiguousarray(
        np.column_stack(cols), dtype="<f8"
    ).tobytes()


def _write_body(g: G.Geom, out: bytearray) -> None:
    out.append(1)  # NDR
    # ISO type offsets (WKBConstants: 1000*Z 2000*M 3000*ZM), declared
    # per leaf; containers carry the offset of their own flags too
    # (WKBWriter::writeGeometryType)
    has_z = g.has_z
    has_m = g.has_m
    code = g.type_id + (1000 if has_z else 0) + (2000 if has_m else 0)
    out += struct.pack("<I", code)
    nan = float("nan")
    if g.type_id == G.POINT:
        dim = 2 + (1 if has_z else 0) + (1 if has_m else 0)
        if g.is_empty:
            out += struct.pack(f"<{dim}d", *([nan] * dim))
        else:
            vals = [g.data[0, 0], g.data[0, 1]]
            if has_z:
                vals.append(g.zs[0] if g.zs is not None else nan)
            if has_m:
                vals.append(g.ms[0] if g.ms is not None else nan)
            out += struct.pack(f"<{dim}d", *vals)
    elif g.type_id in (G.LINESTRING, G.CIRCULARSTRING):
        out += struct.pack("<I", len(g.data))
        if not has_z and not has_m:
            out += np.ascontiguousarray(g.data, dtype="<f8").tobytes()
        else:
            out += _interleave(g.data, g.zs, g.ms)
    elif g.type_id == G.POLYGON:
        out += struct.pack("<I", len(g.data))
        if not has_z and not has_m:
            for r in g.data:
                out += struct.pack("<I", len(r))
                out += np.ascontiguousarray(r, dtype="<f8").tobytes()
        else:
            nr = len(g.data)
            zl = g.zs if g.zs is not None else [None] * nr
            ml = g.ms if g.ms is not None else [None] * nr
            for r, zs, ms in zip(g.data, zl, ml):
                out += struct.pack("<I", len(r))
                zfill = (
                    (zs if zs is not None else np.full(len(r), nan))
                    if has_z
                    else None
                )
                mfill = (
                    (ms if ms is not None else np.full(len(r), nan))
                    if has_m
                    else None
                )
                out += _interleave(r, zfill, mfill)
    else:
        out += struct.pack("<I", len(g.data))
        for child in g.data:
            _write_body(child, out)


# ----------------------------------------------------------------------
# Batch fast paths
# ----------------------------------------------------------------------

_POINT_NDR_SIZE = 21  # 1 + 4 + 16


def encode_points(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized: coordinate arrays -> object array of NDR point WKBs."""
    n = len(x)
    buf = np.zeros((n, _POINT_NDR_SIZE), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = G.POINT  # little-endian uint32 type: bytes (1,0,0,0)
    buf[:, 5:13] = (
        np.asarray(x, dtype="<f8").view(np.uint8).reshape(n, 8)
    )
    buf[:, 13:21] = (
        np.asarray(y, dtype="<f8").view(np.uint8).reshape(n, 8)
    )
    raw = buf.tobytes()
    return np.array(
        [raw[i * _POINT_NDR_SIZE : (i + 1) * _POINT_NDR_SIZE] for i in range(n)],
        dtype=object,
    )


def decode_points(wkbs) -> np.ndarray:
    """Vectorized decode of uniform 21-byte NDR point WKBs -> (n,2).

    Falls back to the general parser for any non-conforming value.
    """
    vals = list(wkbs)
    n = len(vals)
    out = np.empty((n, 2), dtype=np.float64)
    fast = all(
        v is not None and len(v) == _POINT_NDR_SIZE and v[0] == 1 for v in vals
    )
    if fast and n:
        raw = b"".join(vals)
        buf = np.frombuffer(raw, dtype=np.uint8).reshape(n, _POINT_NDR_SIZE)
        out[:, 0] = buf[:, 5:13].copy().view("<f8").ravel()
        out[:, 1] = buf[:, 13:21].copy().view("<f8").ravel()
        return out
    for i, v in enumerate(vals):
        g = parse_wkb(v)
        if g.is_empty:
            out[i] = (np.nan, np.nan)
        else:
            out[i] = g.data[0]
    return out


def decode_polygons(wkbs) -> "tuple":
    """Decode a column of polygon/multipolygon WKBs into a PolygonPack.

    Returns (pack, geom_poly_offsets) where geom_poly_offsets maps each
    input geometry to its [start, end) polygon range in the pack (a
    MultiPolygon contributes several packed polygons).
    """
    from geos_spark.kernels.pip import PolygonPack

    coords = []
    ring_offsets = [0]
    ring_poly = []
    geom_offsets = [0]
    npoly = 0
    for v in wkbs:
        g = parse_wkb(v)
        polys = (
            [g]
            if g.type_id == G.POLYGON
            else [p for p in g.geoms() if p.type_id == G.POLYGON]
        )
        for p in polys:
            for r in p.data:
                coords.append(r)
                ring_offsets.append(ring_offsets[-1] + len(r))
                ring_poly.append(npoly)
            npoly += 1
        geom_offsets.append(npoly)
    c = np.concatenate(coords) if coords else np.zeros((0, 2), dtype=np.float64)
    pack = PolygonPack(c, np.array(ring_offsets), np.array(ring_poly), npoly)
    return pack, np.asarray(geom_offsets, dtype=np.int64)


def decode_polygons_flagged(wkbs) -> "tuple":
    """``decode_polygons`` plus ``bad``, a bool per input row that
    failed to decode; such a row gets no polygons (an empty range in
    ``geom_offsets``). One call on the normal path: rows are decoded
    one by one only when it raises."""
    bad = np.zeros(len(wkbs), dtype=bool)
    try:
        return (*decode_polygons(wkbs), bad)
    except Exception:
        pass
    for i, b in enumerate(wkbs):
        try:
            decode_polygons([b])
        except Exception:
            bad[i] = True
    pack, good = decode_polygons([b for b, x in zip(wkbs, bad) if not x])
    counts = np.zeros(len(wkbs), dtype=np.int64)
    counts[~bad] = np.diff(good)
    return pack, np.concatenate(([0], np.cumsum(counts))), bad
