"""XZ container walking — the .xz STRUCTURE read by hand while the
LZMA2 payload is honestly refused (compressed-math decode is out of
scope; container navigation is the data-engineering skill: find the
blocks, verify the integrity metadata, account for every byte). The
writer is the stdlib lzma module (the REAL xz writer — sqlitefile
discipline); the reader walks the public file format
(https://tukaani.org/xz/xz-file-format.txt) BACKWARD, stream by
stream: the 12-byte stream footer (CRC32, backward-size, stream flags,
`YZ` magic), the index (0x00 indicator, record-count varint, per-block
unpadded/uncompressed size varints, 4-padding, CRC32 — VERIFIED with
zlib.crc32), then jumps over the block region to the 12-byte stream
header (FD 37 7A 58 5A 00 magic, flags echoed by the footer — the
echo is CHECKED, plus the header-flags CRC32). Concatenated streams
(planted: 1-3 per file) exercise the multi-stream loop.
"""

from __future__ import annotations

import lzma
import struct
import zlib


def xz_doc_spec(i: int, seed: int = 42) -> list[bytes]:
    """1-3 logical chunks, each becoming its own concatenated stream."""
    n_streams = 1 + i % 3
    return [(f"chunk {i}/{s} " * (10 + (i * 3 + s * 7 + seed) % 30)
             + "tail").encode()
            for s in range(n_streams)]


def build_xz(i: int, seed: int = 42) -> bytes:
    return b"".join(
        lzma.compress(chunk, format=lzma.FORMAT_XZ,
                      check=lzma.CHECK_CRC32)
        for chunk in xz_doc_spec(i, seed))


# ── reader ──────────────────────────────────────────────────────────────

def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    val = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated xz varint")
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 63:
            raise ValueError("xz varint too wide")


def parse_xz(raw: bytes) -> dict:
    pos_end = len(raw)
    n_streams = 0
    n_blocks = 0
    unc_total = 0
    index_ok = True
    echo_ok = True
    check_type = None
    while pos_end > 0:
        if pos_end < 32:
            raise ValueError("truncated xz stream")
        footer = raw[pos_end - 12:pos_end]
        if footer[10:12] != b"YZ":
            raise ValueError("bad stream footer magic")
        f_crc, back_size_enc = struct.unpack("<II", footer[:8])
        f_flags = footer[8:10]
        if zlib.crc32(footer[4:10]) != f_crc:
            raise ValueError("stream footer CRC mismatch")
        index_size = (back_size_enc + 1) * 4
        idx_start = pos_end - 12 - index_size
        idx = raw[idx_start:pos_end - 12]
        if idx[:1] != b"\x00":
            raise ValueError("bad index indicator")
        p = 1
        n_rec, p = _varint(idx, p)
        blocks_size = 0
        for _ in range(n_rec):
            unpadded, p = _varint(idx, p)
            unc, p = _varint(idx, p)
            blocks_size += unpadded + (-unpadded) % 4
            unc_total += unc
        n_blocks += n_rec
        while p % 4 != 0:
            if idx[p] != 0:
                raise ValueError("nonzero index padding")
            p += 1
        idx_crc = struct.unpack("<I", idx[p:p + 4])[0]
        if zlib.crc32(idx[:p]) != idx_crc:
            index_ok = False
        hdr_start = idx_start - blocks_size - 12
        hdr = raw[hdr_start:hdr_start + 12]
        if hdr[:6] != b"\xfd7zXZ\x00":
            raise ValueError("bad stream header magic")
        h_flags = hdr[6:8]
        h_crc = struct.unpack("<I", hdr[8:12])[0]
        if zlib.crc32(h_flags) != h_crc:
            raise ValueError("stream header CRC mismatch")
        if h_flags != f_flags:
            echo_ok = False
        check_type = h_flags[1] & 0x0F
        n_streams += 1
        pos_end = hdr_start
    return {"n_streams": n_streams, "n_blocks": n_blocks,
            "uncompressed_total": unc_total, "check_type": check_type,
            "index_crcs_ok": index_ok, "flags_echo_ok": echo_ok}
