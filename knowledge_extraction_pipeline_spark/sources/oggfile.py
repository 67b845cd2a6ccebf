"""Ogg container walking — the streaming-media encapsulation surface
(RFC 3533). Writer and reader are hand-rolled from the public spec:
27-byte page headers ("OggS", version 0), little-endian granule /
serial / sequence fields, the lacing-value segment table (255 =
packet continues, <255 terminates — a 510-byte packet is THREE lacing
values [255, 255, 0], the edge memcpy-minded parsers drop), packets
spanning pages via the 0x01 continued flag, grouped multiplexing of
concurrent logical bitstreams, the -1 granule sentinel on pages where
no packet completes, and the format's own CRC-32 (polynomial
0x04C11DB7, NOT reflected, init 0, no final xor — deliberately
incompatible with zlib's reflected crc32, so borrowing zlib.crc32
flips every page). Every 4th file carries one deliberately corrupted
page CRC, making the verifier's failure path part of the pinned
result. Version != 0 and truncations are honestly refused.

Reference analog: none (the reference ingests PDFs only,
core/document_processor.py:91-177); this is the engine's multimodal
extension surface.
"""

from __future__ import annotations

import struct


_MAXSEG = 5          # lacing values per page (tiny → forces spanning)


def ogg_crc(data: bytes) -> int:
    """CRC-32/OGG: poly 0x04C11DB7 forward (not reflected), init 0,
    no final xor — the exact variant RFC 3533 mandates."""
    crc = 0
    for b in data:
        crc ^= b << 24
        for _ in range(8):
            if crc & 0x80000000:
                crc = ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF
            else:
                crc = (crc << 1) & 0xFFFFFFFF
    return crc


def ogg_file_spec(i: int, seed: int = 42) -> list[dict]:
    """Deterministic logical streams for file i: serials and packet
    sizes (sizes straddle the 255/510 lacing boundaries on purpose)."""
    streams = []
    for s in range(1 + i % 2):
        n_pk = 3 + (i + s) % 5
        sizes = [(i * 137 + s * 11 + p * 659) % 1800
                 for p in range(n_pk)]
        streams.append({"serial": 1000 * i + s + seed, "sizes": sizes})
    return streams


def packet_bytes(i: int, s: int, p: int, size: int) -> bytes:
    return bytes((i + 31 * p + 7 * s + q) % 251 for q in range(size))


def paginate_stream(sizes: list[int]) -> list[dict]:
    """Pure pagination shared by writer and oracle: greedy fill of at
    most _MAXSEG lacing values per page. Returns per-page dicts with
    lacing values, which packet indices complete, whether the page
    starts mid-packet (continued), and the end-of-page granule
    (completed-packet count, or -1 when none completes on the page)."""
    lacing = []          # (value, packet_idx, is_final_segment)
    for p, size in enumerate(sizes):
        for _ in range(size // 255):
            lacing.append((255, p, False))
        lacing.append((size % 255, p, True))
    pages = []
    pos = 0
    completed = 0
    mid_packet = False
    while pos < len(lacing):
        segs = lacing[pos:pos + _MAXSEG]
        pos += len(segs)
        done_here = [p for _, p, fin in segs if fin]
        completed += len(done_here)
        pages.append({
            "lacing": [v for v, _, _ in segs],
            "continued": mid_packet,
            "granule": completed if done_here else -1,
        })
        mid_packet = not segs[-1][2]
    return pages


def _page(serial: int, seq: int, flags: int, granule: int,
          lacing: list[int], payload: bytes,
          corrupt_crc: bool = False) -> bytes:
    hdr = (b"OggS" + bytes([0, flags])
           + struct.pack("<q", granule)
           + struct.pack("<II", serial, seq)
           + b"\x00\x00\x00\x00"
           + bytes([len(lacing)]) + bytes(lacing))
    crc = ogg_crc(hdr + payload)
    if corrupt_crc:
        crc ^= 0x00000001
    return hdr[:22] + struct.pack("<I", crc) + hdr[26:] + payload


def build_ogg(i: int, seed: int = 42) -> bytes:
    spec = ogg_file_spec(i, seed)
    per_stream = []
    for s, st in enumerate(spec):
        blob = b"".join(packet_bytes(i, s, p, sz)
                        for p, sz in enumerate(st["sizes"]))
        pages = paginate_stream(st["sizes"])
        out, off = [], 0
        for seq, pg in enumerate(pages):
            plen = sum(pg["lacing"])
            flags = (0x01 if pg["continued"] else 0)
            if seq == 0:
                flags |= 0x02                         # BOS
            if seq == len(pages) - 1:
                flags |= 0x04                         # EOS
            corrupt = i % 4 == 3 and s == 0 and seq == 1
            out.append(_page(st["serial"], seq, flags, pg["granule"],
                             pg["lacing"], blob[off:off + plen],
                             corrupt_crc=corrupt))
            off += plen
        per_stream.append(out)
    # grouped multiplexing: round-robin page interleave across streams
    out = []
    depth = max(len(p) for p in per_stream)
    for d in range(depth):
        for pages in per_stream:
            if d < len(pages):
                out.append(pages[d])
    return b"".join(out)


# ── reader ──────────────────────────────────────────────────────────────

def parse_ogg(raw: bytes) -> dict:
    pos = 0
    pages = []
    carry: dict[int, bytearray | None] = {}
    packets: dict[int, list[bytes]] = {}
    expect_seq: dict[int, int] = {}
    while pos < len(raw):
        if pos + 27 > len(raw):
            raise ValueError("truncated ogg page header")
        if raw[pos:pos + 4] != b"OggS":
            raise ValueError("bad ogg capture pattern")
        version = raw[pos + 4]
        if version != 0:
            raise NotImplementedError(f"ogg version {version}")
        flags = raw[pos + 5]
        granule = struct.unpack("<q", raw[pos + 6:pos + 14])[0]
        serial, seq = struct.unpack("<II", raw[pos + 14:pos + 22])
        crc_stored = struct.unpack("<I", raw[pos + 22:pos + 26])[0]
        nseg = raw[pos + 26]
        table = raw[pos + 27:pos + 27 + nseg]
        if len(table) < nseg:
            raise ValueError("truncated segment table")
        body_at = pos + 27 + nseg
        plen = sum(table)
        if body_at + plen > len(raw):
            raise ValueError("truncated page body")
        body = raw[body_at:body_at + plen]
        zeroed = (raw[pos:pos + 22] + b"\x00\x00\x00\x00"
                  + raw[pos + 26:body_at + plen])
        crc_ok = ogg_crc(zeroed) == crc_stored
        if expect_seq.setdefault(serial, 0) != seq:
            raise ValueError("page sequence gap")
        expect_seq[serial] = seq + 1
        continued = bool(flags & 0x01)
        if continued != (carry.get(serial) is not None):
            raise ValueError("continued flag / carry mismatch")
        pages.append({"serial": serial, "flags": flags,
                      "granule": granule, "crc_ok": crc_ok,
                      "continued": continued, "plen": plen})
        cur = carry.get(serial)
        off = 0
        for v in table:
            chunk = body[off:off + v]
            off += v
            cur = bytearray() if cur is None else cur
            cur += chunk
            if v < 255:
                packets.setdefault(serial, []).append(bytes(cur))
                cur = None
        carry[serial] = cur
        pos = body_at + plen
    if any(c is not None for c in carry.values()):
        raise ValueError("unterminated packet at end of stream")
    return {"pages": pages, "packets": packets}
