"""WKT/WKB codec tests, including roundtrips over the reference's own
xmltester corpus geometries (every <a>/<b> WKT in the general suite
must parse and survive WKT->WKB->WKT)."""

import glob
import re
import struct

import numpy as np
import pytest

from geos_spark.kernels import geom as G
from geos_spark.kernels.wkb import (
    decode_points,
    decode_polygons,
    decode_polygons_flagged,
    encode_points,
    parse_wkb,
    write_wkb,
)
from geos_spark.kernels.wkt import parse_wkt, write_wkt

ROUNDTRIP = [
    "POINT (1 2)",
    "POINT EMPTY",
    "LINESTRING (0 0, 1 1, 2 0)",
    "LINESTRING EMPTY",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
    "POLYGON EMPTY",
    "MULTIPOINT ((1 1), (2 2))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 2))",
    "GEOMETRYCOLLECTION EMPTY",
]


@pytest.mark.parametrize("wkt", ROUNDTRIP)
def test_roundtrip(wkt):
    g = parse_wkt(wkt)
    g2 = parse_wkb(write_wkb(g))
    assert write_wkt(g2) == wkt


def test_wkb_big_endian_and_flags():
    import struct

    # XDR (big-endian) point with ISO Z type (1001), Z dropped
    buf = b"\x00" + struct.pack(">I", 1001) + struct.pack(">ddd", 1, 2, 3)
    g = parse_wkb(buf)
    assert g.type_id == G.POINT and g.data[0, 0] == 1 and g.data[0, 1] == 2

    # EWKB: Z flag + SRID flag
    buf = (
        b"\x01"
        + struct.pack("<I", 0x80000000 | 0x20000000 | 1)
        + struct.pack("<i", 4326)
        + struct.pack("<ddd", 7, 8, 9)
    )
    g = parse_wkb(buf)
    assert g.srid == 4326 and g.data[0, 0] == 7


def test_point_batch_roundtrip():
    rs = np.random.RandomState(0)
    x = rs.uniform(-180, 180, 1000)
    y = rs.uniform(-90, 90, 1000)
    pts = decode_points(encode_points(x, y))
    assert np.array_equal(pts, np.stack([x, y], axis=1))


def test_decode_polygons_pack():
    wkbs = [
        write_wkb(parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")),
        write_wkb(
            parse_wkt(
                "MULTIPOLYGON (((10 10, 12 10, 12 12, 10 10)),"
                " ((20 20, 22 20, 22 22, 20 20)))"
            )
        ),
    ]
    pack, offs = decode_polygons(wkbs)
    assert pack.n_polys == 3
    assert list(offs) == [0, 1, 3]
    assert pack.bbox[0].tolist() == [0, 0, 4, 4]


_SQUARE = write_wkb(parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
_TWO = write_wkb(
    parse_wkt(
        "MULTIPOLYGON (((10 10, 12 10, 12 12, 10 10)),"
        " ((20 20, 22 20, 22 22, 20 20)))"
    )
)
# one per way a polygon WKB can fail to decode
_MALFORMED = {
    "empty": b"",
    "header_only": _SQUARE[:4],
    "no_ring_count": _SQUARE[:5],
    "cut_ring_length": _SQUARE[:11],
    "cut_coordinates": _SQUARE[:-3],
    "unknown_type": _SQUARE[:1] + struct.pack("<I", 99) + _SQUARE[5:],
    "bad_byte_order": b"\x07" + _SQUARE[1:],
    "ring_count_past_end": _SQUARE[:5] + struct.pack("<I", 2**31) + _SQUARE[9:],
}


@pytest.mark.parametrize("kind", sorted(_MALFORMED))
def test_decode_polygons_flagged_flags_the_malformed_row(kind):
    bad_wkb = _MALFORMED[kind]
    with pytest.raises(Exception):
        decode_polygons([bad_wkb])
    pack, offs, bad = decode_polygons_flagged([_SQUARE, bad_wkb, _TWO])
    assert bad.tolist() == [False, True, False]
    # the bad row owns an empty polygon range; the others keep theirs
    assert offs.tolist() == [0, 1, 1, 3]
    ref, _ = decode_polygons([_SQUARE, _TWO])
    assert np.array_equal(pack.coords, ref.coords)
    assert np.array_equal(pack.bbox, ref.bbox)


@pytest.mark.parametrize("at", [0, 1, 2, 3])
def test_decode_polygons_flagged_keeps_rows_aligned(at):
    good = [_TWO, _SQUARE, _TWO]
    rows = good[:at] + [_MALFORMED["header_only"]] + good[at:]
    pack, offs, bad = decode_polygons_flagged(rows)
    assert np.flatnonzero(bad).tolist() == [at]
    sizes = np.diff(offs).tolist()
    assert sizes == [2, 1, 2][:at] + [0] + [2, 1, 2][at:]
    _, ref_offs = decode_polygons(good)
    assert offs[-1] == ref_offs[-1] == pack.n_polys


def test_decode_polygons_flagged_decodes_good_rows_in_one_call(monkeypatch):
    from geos_spark.kernels import wkb

    calls = []

    def counted(wkbs):
        calls.append(len(wkbs))
        return decode_polygons(wkbs)

    monkeypatch.setattr(wkb, "decode_polygons", counted)
    _, offs, bad = wkb.decode_polygons_flagged([_SQUARE, _TWO] * 3)
    assert calls == [6]
    assert not bad.any() and offs.tolist() == [0, 1, 3, 4, 6, 7, 9]


def test_decode_polygons_flagged_every_row_bad():
    pack, offs, bad = decode_polygons_flagged(list(_MALFORMED.values()))
    assert bad.all()
    assert offs.tolist() == [0] * (len(_MALFORMED) + 1)
    assert pack.n_polys == 0 and len(pack.coords) == 0


def test_decode_polygons_flagged_no_rows():
    pack, offs, bad = decode_polygons_flagged([])
    assert offs.tolist() == [0] and bad.tolist() == [] and pack.n_polys == 0

@pytest.mark.parametrize(
    "wkt,n_polys",
    [("POINT (1 2)", 0), ("LINESTRING (1 2, 3 4)", 0), ("POLYGON EMPTY", 1)],
)
def test_decode_polygons_flagged_non_areal_rows_are_not_bad(wkt, n_polys):
    # a row that decodes is never flagged, whatever polygons it yields
    _, offs, bad = decode_polygons_flagged([write_wkb(parse_wkt(wkt)), _SQUARE])
    assert not bad.any()
    assert offs.tolist() == [0, n_polys, n_polys + 1]


def _xml_wkts():
    wkts = []
    for f in sorted(
        glob.glob("/root/reference/tests/xmltester/tests/general/TestRelate*.xml")
    ):
        txt = open(f, encoding="utf-8", errors="replace").read()
        for m in re.finditer(r"<([ab])>\s*([^<]+?)\s*</\1>", txt, re.S):
            wkts.append(m.group(2).strip())
    return wkts


def test_xmltester_corpus_roundtrip():
    wkts = _xml_wkts()
    assert len(wkts) > 100
    for w in wkts:
        g = parse_wkt(w)
        g2 = parse_wkb(write_wkb(g))
        assert np.allclose(
            g.all_coords(), g2.all_coords(), rtol=0, atol=0
        ), w
