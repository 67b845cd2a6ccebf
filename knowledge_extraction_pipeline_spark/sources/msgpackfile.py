"""MessagePack walking — the compact schemaless sibling of JSON that
caches, queues and RPC layers ship by the billion. Writer and reader
are hand-rolled from the public spec (https://github.com/msgpack/
msgpack/blob/master/spec.md) as separate code paths: the writer always
picks the MINIMAL encoding (fixint / fixstr / fixarray / fixmap first,
then uint8/16/32/64, int8/16/32, str8/16, array16, map16), which is
the canonical behavior of real msgpack libraries; the reader is driven
purely by the leading type byte and handles every family the writer can
emit plus honest refusal of the ones it can't (ext, bin, float here —
refusing beats guessing). Golden vectors in tests/test_msgpackfile.py
pin both directions to spec-known byte strings so writer/reader bugs
cannot cancel.

Fixture records deliberately straddle every encoding boundary: ints at
127/128/255/256/65535/65536 and 2³², negatives at -32/-33/-128/-129,
strings at 31/32 chars, arrays at 15/16 elements, maps at 15/16 keys.
"""

from __future__ import annotations


_ID_EDGES = [0, 127, 128, 255, 256, 65_535, 65_536, 4_294_967_296]
_NEG_EDGES = [-1, -32, -33, -128, -129, -32_768, -32_769]


def msgpack_spec(i: int, seed: int = 42) -> dict:
    return {
        "rec_id": _ID_EDGES[i % len(_ID_EDGES)] + i,
        "neg": _NEG_EDGES[i % len(_NEG_EDGES)] - (i % 3),
        "name": f"rec_{i}_" + "n" * ((i * 7 + seed) % 40),
        "tags": [f"t{i}_{j}" for j in range((i * 3) % 20)],
        "flag": i % 2 == 0,
        "big": 2 ** 33 + i * 977,
        "meta_hour": i % 24,
        "n_extra": 10 if i % 5 == 0 else 0,
    }


# ── writer (minimal encodings) ──────────────────────────────────────────

def _mp_int(n: int) -> bytes:
    if 0 <= n <= 0x7F:
        return bytes([n])
    if -32 <= n < 0:
        return bytes([n & 0xFF])
    if 0 <= n <= 0xFF:
        return b"\xcc" + bytes([n])
    if 0 <= n <= 0xFFFF:
        return b"\xcd" + n.to_bytes(2, "big")
    if 0 <= n <= 0xFFFFFFFF:
        return b"\xce" + n.to_bytes(4, "big")
    if 0 <= n:
        return b"\xcf" + n.to_bytes(8, "big")
    if -128 <= n < 0:
        return b"\xd0" + n.to_bytes(1, "big", signed=True)
    if -32_768 <= n < 0:
        return b"\xd1" + n.to_bytes(2, "big", signed=True)
    if -2_147_483_648 <= n < 0:
        return b"\xd2" + n.to_bytes(4, "big", signed=True)
    return b"\xd3" + n.to_bytes(8, "big", signed=True)


def _mp_str(s: str) -> bytes:
    raw = s.encode()
    if len(raw) <= 31:
        return bytes([0xA0 | len(raw)]) + raw
    if len(raw) <= 0xFF:
        return b"\xd9" + bytes([len(raw)]) + raw
    return b"\xda" + len(raw).to_bytes(2, "big") + raw


def _mp_array_hdr(n: int) -> bytes:
    if n <= 15:
        return bytes([0x90 | n])
    return b"\xdc" + n.to_bytes(2, "big")


def _mp_map_hdr(n: int) -> bytes:
    if n <= 15:
        return bytes([0x80 | n])
    return b"\xde" + n.to_bytes(2, "big")


def build_msgpack(i: int, seed: int = 42) -> bytes:
    s = msgpack_spec(i, seed)
    items: list[tuple[str, bytes]] = [
        ("rec_id", _mp_int(s["rec_id"])),
        ("neg", _mp_int(s["neg"])),
        ("name", _mp_str(s["name"])),
        ("tags", _mp_array_hdr(len(s["tags"]))
         + b"".join(_mp_str(t) for t in s["tags"])),
        ("flag", b"\xc3" if s["flag"] else b"\xc2"),
        ("nil", b"\xc0"),
        ("big", _mp_int(s["big"])),
        ("m", _mp_map_hdr(1) + _mp_str("hour") + _mp_int(s["meta_hour"])),
    ]
    items += [(f"f{j}", _mp_int(j)) for j in range(s["n_extra"])]
    return (_mp_map_hdr(len(items))
            + b"".join(_mp_str(k) + v for k, v in items))


# ── reader (type-byte driven) ───────────────────────────────────────────

def _decode(buf: bytes, pos: int):
    b = buf[pos]
    pos += 1
    if b <= 0x7F:
        return b, pos
    if b >= 0xE0:
        return b - 0x100, pos
    if 0xA0 <= b <= 0xBF:
        ln = b & 0x1F
        return buf[pos:pos + ln].decode(), pos + ln
    if 0x90 <= b <= 0x9F:
        out = []
        for _ in range(b & 0x0F):
            v, pos = _decode(buf, pos)
            out.append(v)
        return out, pos
    if 0x80 <= b <= 0x8F:
        out = {}
        for _ in range(b & 0x0F):
            k, pos = _decode(buf, pos)
            v, pos = _decode(buf, pos)
            out[k] = v
        return out, pos
    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b == 0xCC:
        return buf[pos], pos + 1
    if b == 0xCD:
        return int.from_bytes(buf[pos:pos + 2], "big"), pos + 2
    if b == 0xCE:
        return int.from_bytes(buf[pos:pos + 4], "big"), pos + 4
    if b == 0xCF:
        return int.from_bytes(buf[pos:pos + 8], "big"), pos + 8
    if b == 0xD0:
        return int.from_bytes(buf[pos:pos + 1], "big", signed=True), \
            pos + 1
    if b == 0xD1:
        return int.from_bytes(buf[pos:pos + 2], "big", signed=True), \
            pos + 2
    if b == 0xD2:
        return int.from_bytes(buf[pos:pos + 4], "big", signed=True), \
            pos + 4
    if b == 0xD3:
        return int.from_bytes(buf[pos:pos + 8], "big", signed=True), \
            pos + 8
    if b == 0xD9:
        ln = buf[pos]
        return buf[pos + 1:pos + 1 + ln].decode(), pos + 1 + ln
    if b == 0xDA:
        ln = int.from_bytes(buf[pos:pos + 2], "big")
        return buf[pos + 2:pos + 2 + ln].decode(), pos + 2 + ln
    if b == 0xDC:
        n = int.from_bytes(buf[pos:pos + 2], "big")
        pos += 2
        out = []
        for _ in range(n):
            v, pos = _decode(buf, pos)
            out.append(v)
        return out, pos
    if b == 0xDE:
        n = int.from_bytes(buf[pos:pos + 2], "big")
        pos += 2
        out = {}
        for _ in range(n):
            k, pos = _decode(buf, pos)
            v, pos = _decode(buf, pos)
            out[k] = v
        return out, pos
    raise NotImplementedError(f"msgpack type byte 0x{b:02x} unsupported")


def decode_msgpack(buf: bytes):
    v, pos = _decode(buf, 0)
    if pos != len(buf):
        raise ValueError("trailing bytes after msgpack value")
    return v
