"""TrueType / sfnt font-container walking — the format whose header
IS a binary-search plan: the offset table's searchRange /
entrySelector / rangeShift fields must be consistent with numTables
(they are VERIFIED, not trusted), every table carries a big-endian
uint32-sum checksum over its zero-padded body, the 'head' table hides
its own checkSumAdjustment from its checksum (the classic circular-
checksum trick: adjustment = 0xB1B0AFBA minus the whole-file sum,
verified both ways), the 0x5F0F3CF5 magic is checked, and the cmap
format-4 segment arrays (endCode / startCode / idDelta /
idRangeOffset with the mandatory 0xFFFF terminator) are walked by
their first-endCode-not-less-than rule to map probe characters to
glyph ids, cross-checked against maxp's glyph count. CFF ('OTTO'),
TrueType collections ('ttcf') and cmap formats other than 4 are
honestly refused.

Reference analog: none; fonts are a real corpus payload (PDF and web
archives embed them) and this is their container discipline.
"""

from __future__ import annotations

import struct


PROBES = "ABCDE"


def sfnt_file_spec(i: int, seed: int = 42) -> dict:
    n_segs = 2 + i % 3
    segs = []
    start = 0x41
    gid = 1
    for s in range(n_segs):
        width = 3 + (i + s) % 4
        segs.append({"start": start, "end": start + width - 1,
                     "first_gid": gid})
        gid += width
        start += width + 1 + (i + s) % 2      # gaps between segments
    return {
        "units_per_em": 1000 + 16 * (i % 4),
        "num_glyphs": gid,
        "segs": segs,
        "family": "KG Font %d" % i,
        "style": "Regular" if i % 2 == 0 else "Italic",
        "version_str": "Version %d.%03d" % (1 + i % 3, seed),
        "advances": [(400 + 7 * (i + g) % 300)
                     for g in range(3 + i % 4)],
    }


def _checksum(data: bytes) -> int:
    if len(data) % 4:
        data += b"\x00" * (4 - len(data) % 4)
    total = 0
    for k in range(0, len(data), 4):
        total = (total + struct.unpack(">I", data[k:k + 4])[0]) \
            & 0xFFFFFFFF
    return total


def _cmap4(segs: list[dict]) -> bytes:
    ends = [s["end"] for s in segs] + [0xFFFF]
    starts = [s["start"] for s in segs] + [0xFFFF]
    deltas = [(s["first_gid"] - s["start"]) & 0xFFFF
              for s in segs] + [1]
    n = len(ends)
    seg2 = n * 2
    sr = 2 ** (n.bit_length() - 1) * 2
    sub = struct.pack(">HHHHHHH", 4, 16 + 8 * n, 0, seg2, sr,
                      n.bit_length() - 1, seg2 - sr)
    sub += struct.pack(">%dH" % n, *ends)
    sub += b"\x00\x00"                         # reservedPad
    sub += struct.pack(">%dH" % n, *starts)
    sub += struct.pack(">%dH" % n, *deltas)
    sub += struct.pack(">%dH" % n, *([0] * n))  # idRangeOffset
    return (struct.pack(">HH", 0, 1)
            + struct.pack(">HHI", 3, 1, 12) + sub)


def _name_table(sp: dict) -> bytes:
    entries = [(1, sp["family"]), (2, sp["style"]),
               (5, sp["version_str"]),
               (4, sp["family"] + " " + sp["style"])]
    strings = b""
    recs = b""
    for nid, s in entries:
        enc = s.encode("utf-16-be")
        recs += struct.pack(">HHHHHH", 3, 1, 0x409, nid,
                            len(enc), len(strings))
        strings += enc
    return (struct.pack(">HHH", 0, len(entries),
                        6 + 12 * len(entries)) + recs + strings)


def build_sfnt(i: int, seed: int = 42) -> bytes:
    sp = sfnt_file_spec(i, seed)
    head = struct.pack(
        ">IIIIHHQQhhhhHHhhh", 0x00010000, 0x00010000, 0,
        0x5F0F3CF5, 0, sp["units_per_em"], 0, 0, 0, -200,
        1000, 800, 0, 3, 0, 0, 0) + b"\x00\x00"
    maxp = struct.pack(">IH", 0x00005000, sp["num_glyphs"])
    hhea = struct.pack(">IhhhHhhhhhhhhhhhH", 0x00010000, 800, -200,
                       90, 1200, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0,
                       len(sp["advances"]))
    hmtx = b"".join(struct.pack(">Hh", a, 10 + k)
                    for k, a in enumerate(sp["advances"]))
    tables = [(b"cmap", _cmap4(sp["segs"])), (b"head", head),
              (b"hhea", hhea), (b"hmtx", hmtx),
              (b"maxp", maxp), (b"name", _name_table(sp))]
    tables.sort()
    n = len(tables)
    es = n.bit_length() - 1
    sr = 16 * (2 ** es)
    hdr = struct.pack(">IHHHH", 0x00010000, n, sr, es, 16 * n - sr)
    off = 12 + 16 * n
    dir_entries = []
    bodies = b""
    head_off = None
    for tag, body in tables:
        pad = (-len(body)) % 4
        if tag == b"head":
            head_off = off
        dir_entries.append((tag, _checksum(body), off, len(body)))
        bodies += body + b"\x00" * pad
        off += len(body) + pad
    directory = b"".join(struct.pack(">4sIII", *e)
                         for e in dir_entries)
    raw = bytearray(hdr + directory + bodies)
    total = _checksum(bytes(raw))
    adj = (0xB1B0AFBA - total) & 0xFFFFFFFF
    raw[head_off + 8:head_off + 12] = struct.pack(">I", adj)
    return bytes(raw)


# ── reader ──────────────────────────────────────────────────────────────

def parse_sfnt(raw: bytes) -> dict:
    if raw[:4] == b"OTTO":
        raise NotImplementedError("CFF-flavoured OpenType")
    if raw[:4] == b"ttcf":
        raise NotImplementedError("TrueType collection")
    ver, n, sr, es, rs = struct.unpack(">IHHHH", raw[:12])
    if ver != 0x00010000:
        raise ValueError("not a TrueType sfnt")
    exp_es = n.bit_length() - 1
    plan_ok = (es == exp_es and sr == 16 * (2 ** exp_es)
               and rs == 16 * n - sr)
    tabs = {}
    for k in range(n):
        tag, cks, off, length = struct.unpack(
            ">4sIII", raw[12 + 16 * k:28 + 16 * k])
        if off + length > len(raw):
            raise ValueError("table overruns file")
        tabs[tag] = (cks, off, length)
    sums_ok = True
    for tag, (cks, off, length) in tabs.items():
        body = raw[off:off + length]
        if tag == b"head":
            body = body[:8] + b"\x00\x00\x00\x00" + body[12:]
        if _checksum(body) != cks:
            sums_ok = False
    file_ok = _checksum(raw) == 0xB1B0AFBA
    if b"head" not in tabs or b"maxp" not in tabs \
            or b"cmap" not in tabs:
        raise ValueError("missing required table")
    _, hoff, _ = tabs[b"head"]
    magic = struct.unpack(">I", raw[hoff + 12:hoff + 16])[0]
    upem = struct.unpack(">H", raw[hoff + 18:hoff + 20])[0]
    _, moff, _ = tabs[b"maxp"]
    num_glyphs = struct.unpack(">H", raw[moff + 4:moff + 6])[0]
    _, coff, _ = tabs[b"cmap"]
    _, n_enc = struct.unpack(">HH", raw[coff:coff + 4])
    sub_off = None
    for k in range(n_enc):
        pid, eid, so = struct.unpack(
            ">HHI", raw[coff + 4 + 8 * k:coff + 12 + 8 * k])
        if (pid, eid) == (3, 1):
            sub_off = coff + so
    if sub_off is None:
        raise ValueError("no windows unicode cmap")
    fmt = struct.unpack(">H", raw[sub_off:sub_off + 2])[0]
    if fmt != 4:
        raise NotImplementedError(f"cmap format {fmt}")
    seg2 = struct.unpack(">H", raw[sub_off + 6:sub_off + 8])[0]
    nseg = seg2 // 2
    base = sub_off + 14
    ends = struct.unpack(">%dH" % nseg, raw[base:base + seg2])
    starts = struct.unpack(
        ">%dH" % nseg, raw[base + seg2 + 2:base + 2 * seg2 + 2])
    deltas = struct.unpack(
        ">%dH" % nseg,
        raw[base + 2 * seg2 + 2:base + 3 * seg2 + 2])

    def glyph(c: int) -> int:
        for s in range(nseg):                 # first endCode >= c
            if ends[s] >= c:
                if starts[s] <= c:
                    return (c + deltas[s]) & 0xFFFF
                return 0
        return 0

    probe_sum = sum(glyph(ord(c)) for c in PROBES)
    if any(0 < glyph(ord(c)) >= num_glyphs + 1 for c in PROBES):
        raise ValueError("glyph id beyond maxp count")
    # name strings (3,1,0x409 records, UTF-16BE)
    names = []
    if b"name" in tabs:
        _, noff, _ = tabs[b"name"]
        _, cnt, stro = struct.unpack(">HHH", raw[noff:noff + 6])
        for k in range(cnt):
            pid, eid, lang, nid, ln, so = struct.unpack(
                ">HHHHHH", raw[noff + 6 + 12 * k:noff + 18 + 12 * k])
            if (pid, eid, lang) == (3, 1, 0x409):
                s = raw[noff + stro + so:noff + stro + so + ln] \
                    .decode("utf-16-be")
                names.append(f"{nid}={s}")
    return {
        "n_tables": n, "plan_ok": plan_ok, "upem": upem,
        "num_glyphs": num_glyphs, "n_segments": nseg,
        "sums_ok": sums_ok, "file_ok": file_ok,
        "magic_ok": magic == 0x5F0F3CF5, "probe_sum": probe_sum,
        "names": names,
    }
