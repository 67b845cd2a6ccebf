"""Protocol-Buffers wire-format walking — the RPC/log-shipping ingestion
surface (protobuf-framed records are a dominant container for telemetry
and ML training logs). Both the writer and the reader are hand-rolled
from the public wire-format spec (https://protobuf.dev/programming-guides/
encoding/), but they are separate code paths and the reader is driven
purely by the tag stream: base-128 varints, key = (field_number << 3) |
wire_type, wire types 0 (varint), 1 (64-bit little-endian), 2
(length-delimited: strings, packed repeated varints, nested messages) and
5 (32-bit little-endian), ZigZag decode for sint fields, and the
REQUIRED unknown-field skip behavior (a conforming reader must hop over
fields it has no schema for, by wire type alone). Writer-order freedom is
exercised too: odd messages serialize their fields in reverse order,
which a tag-driven reader must not care about.

A golden-bytes
unit test (tests/test_protobuf.py) pins the writer to spec-known
encodings (e.g. varint 300 = 0xAC 0x02) so writer/reader bugs cannot
cancel.
"""

from __future__ import annotations

from collections.abc import Iterator


def message_spec(i: int, seed: int = 42) -> dict:
    """Deterministic logical content for message i — pure formulas, so the
    oracle re-derives every manifest column without touching wire bytes.
    Values deliberately straddle varint byte boundaries (rec_id and the
    packed vals go multi-byte), go negative (score exercises ZigZag), and
    exceed 32 bits (big exercises fixed64)."""
    return {
        "rec_id": i * 131071 + seed,
        "name": f"msg_{i}_" + "n" * (i % 9),
        "score": ((i * 37 + seed) % 20001) - 10000,
        "flags": (i * 2654435761 + seed) % (2 ** 32),
        "meta_hour": i % 24,
        "meta_tag": f"tag{i % 7}",
        "tags": [f"t{i}_{j}" for j in range(i % 5)],
        "vals": [(i * 13 + j * 71 + seed) % 1_000_000
                 for j in range(3 + i % 6)],
        "big": i * 67_280_421_310_721 + 17,
        "unk_v": (i * 997 + seed) % 100_000,
        "extra_unk": i % 3 == 0,
    }


# ── writer ──────────────────────────────────────────────────────────────

def _varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("varint is unsigned; zigzag first")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def _key(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _ld(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + _varint(len(payload)) + payload


def build_message(i: int, seed: int = 42) -> bytes:
    """Wire-format writer. Field layout of the (unnamed) record schema:
      1 rec_id   varint        5 meta    nested {1 hour varint, 2 tag str}
      2 name     string        6 tags    repeated string
      3 score    sint (zigzag) 7 vals    packed repeated varint
      4 flags    fixed32       8 big     fixed64
      14/15 — fields the READER HAS NO SCHEMA FOR (unknown-field skip)
    Odd messages write fields in reverse order (wire order is free)."""
    s = message_spec(i, seed)
    meta = (_key(1, 0) + _varint(s["meta_hour"])
            + _ld(2, s["meta_tag"].encode()))
    packed = b"".join(_varint(v) for v in s["vals"])
    parts = [
        _key(1, 0) + _varint(s["rec_id"]),
        _ld(2, s["name"].encode()),
        _key(3, 0) + _varint(_zigzag(s["score"])),
        _key(4, 5) + s["flags"].to_bytes(4, "little"),
        _ld(5, meta),
        b"".join(_ld(6, t.encode()) for t in s["tags"]),
        _ld(7, packed),
        _key(8, 1) + s["big"].to_bytes(8, "little"),
        _key(15, 0) + _varint(s["unk_v"]),
    ]
    if s["extra_unk"]:
        parts.append(_ld(14, b"skip me " + bytes([i % 256])))
    if i % 2 == 1:
        parts = parts[::-1]
    return b"".join(parts)


# ── reader (tag-driven; never sees the writer's layout) ────────────────

def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _walk(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field, wire, raw) triples for one message level."""
    pos = 0
    while pos < len(buf):
        k, pos = _read_varint(buf, pos)
        field, wire = k >> 3, k & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            yield field, wire, v
        elif wire == 1:
            if pos + 8 > len(buf):
                raise ValueError("truncated fixed64")
            yield field, wire, int.from_bytes(buf[pos:pos + 8], "little")
            pos += 8
        elif wire == 5:
            if pos + 4 > len(buf):
                raise ValueError("truncated fixed32")
            yield field, wire, int.from_bytes(buf[pos:pos + 4], "little")
            pos += 4
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("truncated length-delimited")
            yield field, wire, buf[pos:pos + ln]
            pos += ln
        else:
            raise ValueError(f"unsupported wire type {wire}")


def parse_message(buf: bytes) -> dict:
    """Schema-aware projection of the tag stream; unknown fields are
    counted and skipped (the spec-mandated reader behavior)."""
    out = {"rec_id": None, "name": None, "score": None, "flags": None,
           "meta_hour": None, "meta_tag": None, "tags": [], "vals": [],
           "big": None, "n_unknown": 0}
    for field, wire, raw in _walk(buf):
        if field == 1 and wire == 0:
            out["rec_id"] = raw
        elif field == 2 and wire == 2:
            out["name"] = raw.decode()
        elif field == 3 and wire == 0:
            out["score"] = _unzigzag(raw)
        elif field == 4 and wire == 5:
            out["flags"] = raw
        elif field == 5 and wire == 2:
            for f2, w2, r2 in _walk(raw):
                if f2 == 1 and w2 == 0:
                    out["meta_hour"] = r2
                elif f2 == 2 and w2 == 2:
                    out["meta_tag"] = r2.decode()
                else:
                    out["n_unknown"] += 1
        elif field == 6 and wire == 2:
            out["tags"].append(raw.decode())
        elif field == 7 and wire == 2:
            pos = 0
            while pos < len(raw):
                v, pos = _read_varint(raw, pos)
                out["vals"].append(v)
        elif field == 8 and wire == 1:
            out["big"] = raw
        else:
            out["n_unknown"] += 1
    return out
