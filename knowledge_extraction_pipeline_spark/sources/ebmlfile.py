"""EBML walking (the Matroska/WebM envelope, RFC 8794) — the
binary-XML format whose whole identity is the VINT: a length-prefixed
variable integer where the COUNT OF LEADING ZERO BITS in the first
byte announces the total width (1xxxxxxx = 1 byte / 7 data bits,
01xxxxxx = 2 bytes / 14 bits, ...). Element IDs keep their marker bit
(0x1A45DFA3 is a 4-byte ID as written); element SIZES strip it — and
a size VINT is allowed to be WIDER than minimal, so the fixtures
deliberately encode small sizes at 1..4-byte widths and the walk
counts the non-minimal ones (a reader that re-derives width from the
value desynchronizes immediately). The all-data-bits-set size is the
spec's "unknown size" sentinel and is honestly refused, as are
reserved all-zero first bytes and IDs wider than 4 bytes. The walk
descends the known master elements (EBML header, Segment, Info),
decodes big-endian unsigned ints and UTF-8 strings for known leaf
IDs, and skips unknown leaves by their declared size, counting them.

Reference analog: none; this sits beside the MP4 box walk and the
AVI RIFF walk as the third video-container discipline (box sizes /
chunk alignment / varint envelopes).
"""

from __future__ import annotations


# known element IDs (as written, marker bit included)
EBML_HDR, SEGMENT, INFO = 0x1A45DFA3, 0x18538067, 0x1549A966
VERSION, READ_VERSION = 0x4286, 0x42F7
MAX_ID_LEN, MAX_SIZE_LEN = 0x42F2, 0x42F3
DOCTYPE, DT_VERSION, DT_READ_VERSION = 0x4282, 0x4287, 0x4285
TIMECODE_SCALE, TITLE, MUXING_APP, WRITING_APP = \
    0x2AD7B1, 0x7BA9, 0x4D80, 0x5741
VOID = 0xEC
MASTERS = {EBML_HDR, SEGMENT, INFO}
UINT_LEAVES = {VERSION, READ_VERSION, MAX_ID_LEN, MAX_SIZE_LEN,
               DT_VERSION, DT_READ_VERSION, TIMECODE_SCALE}
STR_LEAVES = {DOCTYPE, TITLE, MUXING_APP, WRITING_APP}


def ebml_file_spec(i: int, seed: int = 42) -> dict:
    """Deterministic content + the size-VINT width schedule for
    file i (width_bump cycles 0..3 → sizes written 1..4 bytes wide
    where legal)."""
    return {
        "doctype": "matroska" if i % 3 else "webm",
        "dt_version": 1 + i % 4,
        "timecode_scale": 1000000 * (1 + i % 3),
        "title": "kg-title-%d" % i,
        "muxing": "kepmux/%d.%d" % (i % 5, seed % 10),
        "writing": "kepwrite-%d" % (i * 7 % 100),
        "width_bump": i % 4,
        "n_void": i % 3,
    }


def encode_vint_size(value: int, extra_width: int = 0) -> bytes:
    """Size VINT, optionally wider than minimal (legal per spec)."""
    width = 1
    while value >= (1 << (7 * width)) - 1:   # all-ones reserved
        width += 1
    width += extra_width
    if width > 8:
        raise ValueError("vint too wide")
    out = value | (1 << (7 * width))
    return out.to_bytes(width, "big")


def _uint_bytes(v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return v.to_bytes(n, "big")


def _elem(eid: int, body: bytes, extra_width: int = 0) -> bytes:
    nid = max(1, (eid.bit_length() + 7) // 8)
    return (eid.to_bytes(nid, "big")
            + encode_vint_size(len(body), extra_width) + body)


def build_ebml(i: int, seed: int = 42) -> bytes:
    sp = ebml_file_spec(i, seed)
    wb = sp["width_bump"]
    hdr_body = (
        _elem(VERSION, _uint_bytes(1))
        + _elem(READ_VERSION, _uint_bytes(1), extra_width=wb % 2)
        + _elem(MAX_ID_LEN, _uint_bytes(4))
        + _elem(MAX_SIZE_LEN, _uint_bytes(8))
        + _elem(DOCTYPE, sp["doctype"].encode(), extra_width=wb)
        + _elem(DT_VERSION, _uint_bytes(sp["dt_version"]))
        + _elem(DT_READ_VERSION, _uint_bytes(1))
    )
    info_body = (
        _elem(TIMECODE_SCALE, _uint_bytes(sp["timecode_scale"]))
        + _elem(TITLE, sp["title"].encode(), extra_width=wb % 3)
        + _elem(MUXING_APP, sp["muxing"].encode())
        + _elem(WRITING_APP, sp["writing"].encode())
    )
    seg_body = _elem(INFO, info_body)
    for v in range(sp["n_void"]):
        seg_body += _elem(VOID, b"\x00" * (3 + v))
    return (_elem(EBML_HDR, hdr_body)
            + _elem(SEGMENT, seg_body, extra_width=1))


# ── reader ──────────────────────────────────────────────────────────────

def read_vint(raw: bytes, pos: int,
              keep_marker: bool) -> tuple[int, int, int]:
    """Returns (value, width, new_pos). keep_marker=True for IDs."""
    if pos >= len(raw):
        raise ValueError("truncated vint")
    b0 = raw[pos]
    if b0 == 0:
        raise ValueError("reserved all-zero vint first byte")
    width = 9 - b0.bit_length()
    if pos + width > len(raw):
        raise ValueError("truncated vint body")
    v = int.from_bytes(raw[pos:pos + width], "big")
    if not keep_marker:
        v &= (1 << (7 * width)) - 1
        if v == (1 << (7 * width)) - 1:
            raise NotImplementedError("unknown-size element")
    return v, width, pos + width


def parse_ebml(raw: bytes) -> dict:
    st = {"n": 0, "depth": 0, "wide": 0, "unknown": 0, "xor": 0,
          "doctype": None, "dt_version": None, "tcs": None,
          "strings": []}

    def walk(pos: int, end: int, depth: int):
        st["depth"] = max(st["depth"], depth)
        while pos < end:
            eid, idw, pos = read_vint(raw, pos, keep_marker=True)
            if idw > 4:
                raise NotImplementedError(f"{idw}-byte element id")
            size, sw, pos = read_vint(raw, pos, keep_marker=False)
            min_w = 1
            while size >= (1 << (7 * min_w)) - 1:
                min_w += 1
            if sw > min_w:
                st["wide"] += 1
            if pos + size > end:
                raise ValueError("element overruns parent")
            st["n"] += 1
            st["xor"] ^= eid
            body = raw[pos:pos + size]
            if eid in MASTERS:
                walk(pos, pos + size, depth + 1)
            elif eid in UINT_LEAVES:
                v = int.from_bytes(body, "big")
                if eid == DT_VERSION:
                    st["dt_version"] = v
                elif eid == TIMECODE_SCALE:
                    st["tcs"] = v
            elif eid in STR_LEAVES:
                s = body.decode("utf-8")
                st["strings"].append(s)
                if eid == DOCTYPE:
                    st["doctype"] = s
            else:
                st["unknown"] += 1
            pos += size

    walk(0, len(raw), 1)
    return st
