"""ESRI shapefile (.shp) walking — the geospatial payload format
whose header mixes BOTH byte orders ON PURPOSE: the 9994 file code,
the file length (in 16-bit words!) and every record header are
BIG-endian while the version, shape types and all geometry are
LITTLE-endian — the documented trap that silently produces garbage
lengths in a single-endian reader. Writer and reader are hand-rolled
from the public ESRI whitepaper: Point (type 1), PolyLine (3) and
Polygon (5) records plus Null shapes (0), part-index arrays, and
bounding boxes at BOTH levels VERIFIED against the actual coordinate
extremes rather than trusted (file-level box over all records,
per-record boxes over their points). Coordinates are integer-valued
doubles (exact in IEEE 754), so every derived sum and comparison is
exact across engines. Measured and Z-aware shape types (11..28) and
wrong file codes are honestly refused; record-length and
file-length-in-words mismatches raise.

Reference analog: none; sits beside the geohash / Hilbert rows as
the ingestion side of the engine's geospatial surface.
"""

from __future__ import annotations

import hashlib
import struct


def shp_file_spec(i: int, seed: int = 42) -> list[dict]:
    """Deterministic records for file i: integer-valued coordinates
    (exact doubles), a mix of points, polylines, polygons and null
    shapes."""
    recs = []
    for k in range(3 + (i + seed) % 6):
        sel = (i * 5 + k * 3) % 7
        if sel == 0:
            recs.append({"type": 0})                  # null shape
        elif sel < 4:
            recs.append({"type": 1,
                         "pts": [(i * 100 + k * 17,
                                  -(i * 53) + k * 29)]})
        else:
            npts = 3 + (i + k) % 4
            pts = [(i * 31 + k * 7 + p * 11,
                    i * 13 - k * 5 + p * 3 * (-1) ** p)
                   for p in range(npts)]
            if sel >= 6:                              # polygon: close
                pts.append(pts[0])
                recs.append({"type": 5, "pts": pts,
                             "parts": [0]})
            else:
                recs.append({"type": 3, "pts": pts,
                             "parts": [0] if npts < 5
                             else [0, npts // 2]})
    return recs


def _bbox(pts):
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return min(xs), min(ys), max(xs), max(ys)


def build_shp(i: int, seed: int = 42) -> bytes:
    recs = shp_file_spec(i, seed)
    allpts = [p for r in recs for p in r.get("pts", [])]
    fx0, fy0, fx1, fy1 = _bbox(allpts) if allpts else (0, 0, 0, 0)
    body = b""
    for num, r in enumerate(recs, start=1):
        if r["type"] == 0:
            content = struct.pack("<i", 0)
        elif r["type"] == 1:
            x, y = r["pts"][0]
            content = struct.pack("<idd", 1, float(x), float(y))
        else:
            x0, y0, x1, y1 = _bbox(r["pts"])
            content = struct.pack("<i4dii", r["type"], float(x0),
                                  float(y0), float(x1), float(y1),
                                  len(r["parts"]), len(r["pts"]))
            content += struct.pack("<%di" % len(r["parts"]),
                                   *r["parts"])
            for x, y in r["pts"]:
                content += struct.pack("<dd", float(x), float(y))
        body += struct.pack(">ii", num, len(content) // 2) + content
    total_words = (100 + len(body)) // 2
    # big-endian: code + 5 unused ints + length-in-16-bit-words
    hdr = struct.pack(">iiiiiii", 9994, 0, 0, 0, 0, 0, total_words)
    hdr += struct.pack("<ii", 1000, 1 if not allpts else
                       (recs[0]["type"] or 1))
    hdr += struct.pack("<4d", float(fx0), float(fy0), float(fx1),
                       float(fy1))
    hdr += struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)
    return hdr + body


# ── reader ──────────────────────────────────────────────────────────────

def parse_shp(raw: bytes) -> dict:
    if len(raw) < 100:
        raise ValueError("truncated shp header")
    code = struct.unpack(">i", raw[:4])[0]
    if code != 9994:
        raise ValueError("bad shapefile code (endianness?)")
    total_words = struct.unpack(">i", raw[24:28])[0]
    version, _ = struct.unpack("<ii", raw[28:36])
    if version != 1000:
        raise ValueError("bad shapefile version")
    fbox = struct.unpack("<4d", raw[36:68])
    pos = 100
    n_pts = 0
    kinds = {0: 0, 1: 0, 3: 0, 5: 0}
    rec_boxes_ok = True
    allx, ally = [], []
    coord_stream = []
    expect_num = 1
    while pos < len(raw):
        num, words = struct.unpack(">ii", raw[pos:pos + 8])
        if num != expect_num:
            raise ValueError("record numbers not sequential")
        expect_num += 1
        pos += 8
        content = raw[pos:pos + words * 2]
        if len(content) < words * 2:
            raise ValueError("record overruns file")
        pos += words * 2
        stype = struct.unpack("<i", content[:4])[0]
        if stype in (11, 13, 15, 18, 21, 23, 25, 28, 31):
            raise NotImplementedError(f"measured/Z shape {stype}")
        if stype not in kinds:
            raise ValueError(f"unknown shape type {stype}")
        kinds[stype] += 1
        if stype == 0:
            continue
        if stype == 1:
            x, y = struct.unpack("<dd", content[4:20])
            pts = [(x, y)]
        else:
            bx0, by0, bx1, by1, nparts, npts = struct.unpack(
                "<4dii", content[4:44])
            at = 44 + 4 * nparts
            pts = [struct.unpack("<dd", content[at + 16 * p:
                                                at + 16 * p + 16])
                   for p in range(npts)]
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            if (min(xs), min(ys), max(xs), max(ys)) != (bx0, by0,
                                                        bx1, by1):
                rec_boxes_ok = False
        n_pts += len(pts)
        for x, y in pts:
            allx.append(x)
            ally.append(y)
            coord_stream.append("%d,%d" % (int(x), int(y)))
    file_box_ok = (not allx) or (
        (min(allx), min(ally), max(allx), max(ally))
        == tuple(fbox))
    return {
        "n_records": sum(kinds.values()),
        "n_points_total": n_pts,
        "n_polylines": kinds[3], "n_polygons": kinds[5],
        "n_null": kinds[0],
        "file_bbox_ok": bool(file_box_ok),
        "record_bboxes_ok": rec_boxes_ok,
        "file_len_ok": total_words * 2 == len(raw),
        "coord_sum": int(sum(allx) + sum(ally)),
        "coords_md5": hashlib.md5(
            "|".join(coord_stream).encode()).hexdigest(),
    }
