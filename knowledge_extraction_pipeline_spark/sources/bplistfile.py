"""Binary property-list walking — the `bplist00` format under every
Apple-ecosystem export and many mobile-app data dumps. The writer is
the stdlib plistlib (the REAL bplist writer); the reader is hand-rolled
from the public format (Apple CFBinaryPList.c header comments): the
8-byte magic, the 32-byte TRAILER read first (offset-int size,
object-ref size, object count, top-object id, offset-table position),
the offset table, and marker-nibble object decode — 0x0 null/bool,
0x1 int (2^n big-endian bytes), 0x4 data, 0x5 ASCII string, 0x6
UTF-16BE string, 0xA array and 0xD dict (ref-width object references,
keys then values), with the 0xF length-escape (length lives in a
following int object). Reals/dates/sets are honestly refused. Cycle
protection bounds the reference walk.
"""

from __future__ import annotations

import plistlib
import struct


def bplist_doc_spec(i: int, seed: int = 42) -> dict:
    return {
        "name": f"record-{i:03d}",
        "count": (i * 7919 + seed) % 100_000 + 2 ** (8 * (i % 4)),
        "flags": [(i + j) % 3 == 0 for j in range(2 + i % 6)],
        "blob": bytes((i * 13 + j) % 256 for j in range(5 + i % 20)),
        "unicode_name": f"répertoire-{i % 9}",
        "nested": {"level": 2, "deeper": {"level": 3}},
    }


def build_bplist(i: int, seed: int = 42) -> bytes:
    s = bplist_doc_spec(i, seed)
    return plistlib.dumps(
        {"name": s["name"], "count": s["count"], "flags": s["flags"],
         "blob": s["blob"], "unicode_name": s["unicode_name"],
         "nested": s["nested"]},
        fmt=plistlib.FMT_BINARY, sort_keys=True)


# ── reader ──────────────────────────────────────────────────────────────

def parse_bplist(raw: bytes):
    if raw[:8] != b"bplist00":
        raise ValueError("not a bplist00")
    trailer = raw[-32:]
    off_size, ref_size, n_obj, top, table_off = struct.unpack(
        ">BBQQQ", trailer[6:])
    offsets = [int.from_bytes(
        raw[table_off + k * off_size:table_off + (k + 1) * off_size],
        "big") for k in range(n_obj)]

    def read_len(pos: int, nib: int) -> tuple[int, int]:
        if nib != 0xF:
            return nib, pos
        m = raw[pos]
        if m >> 4 != 0x1:
            raise ValueError("length escape must be an int object")
        nbytes = 1 << (m & 0x0F)
        val = int.from_bytes(raw[pos + 1:pos + 1 + nbytes], "big")
        return val, pos + 1 + nbytes

    def obj(idx: int, depth: int = 0):
        if depth > 32:
            raise ValueError("reference cycle or over-deep plist")
        pos = offsets[idx]
        marker = raw[pos]
        kind, nib = marker >> 4, marker & 0x0F
        pos += 1
        if kind == 0x0:
            if nib == 0x0:
                return None
            if nib == 0x8:
                return False
            if nib == 0x9:
                return True
            raise NotImplementedError(f"0x0 variant {nib:x}")
        if kind == 0x1:
            nbytes = 1 << nib
            return int.from_bytes(raw[pos:pos + nbytes], "big",
                                  signed=nbytes == 8)
        if kind == 0x4:
            ln, pos = read_len(pos, nib)
            return raw[pos:pos + ln]
        if kind == 0x5:
            ln, pos = read_len(pos, nib)
            return raw[pos:pos + ln].decode("ascii")
        if kind == 0x6:
            ln, pos = read_len(pos, nib)
            return raw[pos:pos + 2 * ln].decode("utf-16-be")
        if kind == 0xA:
            ln, pos = read_len(pos, nib)
            refs = [int.from_bytes(raw[pos + k * ref_size:
                                       pos + (k + 1) * ref_size], "big")
                    for k in range(ln)]
            return [obj(r, depth + 1) for r in refs]
        if kind == 0xD:
            ln, pos = read_len(pos, nib)
            kr = [int.from_bytes(raw[pos + k * ref_size:
                                     pos + (k + 1) * ref_size], "big")
                  for k in range(ln)]
            vr = [int.from_bytes(
                raw[pos + (ln + k) * ref_size:
                    pos + (ln + k + 1) * ref_size], "big")
                for k in range(ln)]
            return {obj(k2, depth + 1): obj(v2, depth + 1)
                    for k2, v2 in zip(kr, vr)}
        raise NotImplementedError(f"bplist marker kind 0x{kind:x}")

    return obj(top), n_obj
