"""CBOR walking (RFC 8949) — the IoT/COSE wire format, hand-rolled
writer and reader with the CORE DETERMINISTIC ENCODING rules
ENFORCED, not just accepted: every integer argument must use the
SHORTEST form (23/24, 255/256, 65535/65536, 2^32 straddled by planted
fixtures — a reader that tolerates a 2-byte 10 is wrong), map keys
must be sorted in bytewise-lexicographic order of their encodings,
and duplicates are rejected. Major types 0/1 (unsigned/negative
integers through 8-byte arguments), 2 (byte strings), 3 (UTF-8 text),
4 (arrays), 5 (maps) and the type-7 simple values false/true/null are
walked with cycle-bounded descent; floats, tags, indefinite-length
items and other simple values are honestly refused rather than
half-parsed — the msgpack discipline applied to CBOR's argument
grammar.

Reference analog: none (the reference ingests PDFs only,
core/document_processor.py:91-177).
"""

from __future__ import annotations


# integers straddling every shortest-form promotion boundary
_BOUNDARY_INTS = [0, 1, 23, 24, 255, 256, 65535, 65536,
                  4294967295, 4294967296, -1, -24, -25, -256, -257]


def cbor_file_spec(i: int, seed: int = 42) -> list:
    """Deterministic top-level array of items for file i: boundary
    integers, texts, byte strings, nested arrays and sorted maps,
    booleans/null."""
    items: list = []
    for k in range(3 + (i + seed) % 6):
        sel = (i * 7 + k * 5) % 6
        if sel == 0:
            items.append(_BOUNDARY_INTS[(i + k) % len(_BOUNDARY_INTS)])
        elif sel == 1:
            items.append("txt:%d:%d" % (i, k) + "x" * ((i + k) % 40))
        elif sel == 2:
            items.append(bytes((i + k + q) % 256
                               for q in range((i * 3 + k) % 30)))
        elif sel == 3:
            items.append([(i + k) % 100, "n%d" % k,
                          [k, True, None]])
        elif sel == 4:
            items.append({"a%d" % k: k, "b": i % 50,
                          "longer-key": [k, k + 1]})
        else:
            items.append(k % 2 == 0)
    return items


def _head(major: int, arg: int) -> bytes:
    """Shortest-form head for a major type + argument."""
    if arg < 24:
        return bytes([(major << 5) | arg])
    if arg < 256:
        return bytes([(major << 5) | 24, arg])
    if arg < 65536:
        return bytes([(major << 5) | 25]) + arg.to_bytes(2, "big")
    if arg < 4294967296:
        return bytes([(major << 5) | 26]) + arg.to_bytes(4, "big")
    return bytes([(major << 5) | 27]) + arg.to_bytes(8, "big")


def encode_cbor(obj) -> bytes:
    """Canonical (core deterministic) encoding."""
    if obj is False:
        return b"\xf4"
    if obj is True:
        return b"\xf5"
    if obj is None:
        return b"\xf6"
    if isinstance(obj, int):
        if obj >= 0:
            return _head(0, obj)
        return _head(1, -1 - obj)
    if isinstance(obj, bytes):
        return _head(2, len(obj)) + obj
    if isinstance(obj, str):
        b = obj.encode("utf-8")
        return _head(3, len(b)) + b
    if isinstance(obj, list):
        return _head(4, len(obj)) + b"".join(encode_cbor(x)
                                             for x in obj)
    if isinstance(obj, dict):
        enc = sorted((encode_cbor(k), encode_cbor(v))
                     for k, v in obj.items())
        return _head(5, len(enc)) + b"".join(k + v for k, v in enc)
    raise TypeError(f"unsupported {type(obj)}")


def build_cbor(i: int, seed: int = 42) -> bytes:
    return encode_cbor(cbor_file_spec(i, seed))


# ── reader ──────────────────────────────────────────────────────────────

_MAX_DEPTH = 32


def _read_head(raw: bytes, pos: int) -> tuple[int, int, int]:
    """Returns (major, argument, new_pos); enforces shortest form."""
    if pos >= len(raw):
        raise ValueError("truncated cbor head")
    b0 = raw[pos]
    major, info = b0 >> 5, b0 & 0x1F
    if info < 24:
        return major, info, pos + 1
    if info == 31:
        raise NotImplementedError("indefinite-length item")
    if info > 27:
        raise ValueError(f"reserved additional info {info}")
    width = 1 << (info - 24)
    if pos + 1 + width > len(raw):
        raise ValueError("truncated cbor argument")
    arg = int.from_bytes(raw[pos + 1:pos + 1 + width], "big")
    floor = 24 if info == 24 else 1 << (8 << (info - 25))
    if arg < floor:
        raise ValueError(f"non-minimal argument {arg} in "
                         f"{width}-byte form")
    return major, arg, pos + 1 + width


def _decode(raw: bytes, pos: int, depth: int = 0):
    """Returns (value, new_pos, stats_delta). Stats: dict of counters
    + the max depth reached."""
    if depth > _MAX_DEPTH:
        raise ValueError("cbor nesting too deep")
    if pos >= len(raw):
        raise ValueError("truncated cbor item")
    major = raw[pos] >> 5
    if major == 7:
        b0 = raw[pos]
        if b0 == 0xF4:
            return False, pos + 1, {"depth": depth}
        if b0 == 0xF5:
            return True, pos + 1, {"depth": depth}
        if b0 == 0xF6:
            return None, pos + 1, {"depth": depth}
        if b0 in (0xF9, 0xFA, 0xFB):
            raise NotImplementedError("cbor float unsupported")
        raise NotImplementedError(f"simple value {b0:#x}")
    if major == 6:
        raise NotImplementedError("cbor tag unsupported")
    major, arg, pos = _read_head(raw, pos)
    if major == 0:
        return arg, pos, {"ints": 1, "depth": depth}
    if major == 1:
        return -1 - arg, pos, {"ints": 1, "depth": depth}
    if major == 2:
        if pos + arg > len(raw):
            raise ValueError("truncated byte string")
        return raw[pos:pos + arg], pos + arg, {"depth": depth}
    if major == 3:
        if pos + arg > len(raw):
            raise ValueError("truncated text string")
        return (raw[pos:pos + arg].decode("utf-8"), pos + arg,
                {"texts": 1, "depth": depth})
    if major == 4:
        out = []
        md = depth
        stats: dict = {"arrays": 1}
        for _ in range(arg):
            v, pos, st = _decode(raw, pos, depth + 1)
            out.append(v)
            md = max(md, st.pop("depth"))
            for k2, c in st.items():
                stats[k2] = stats.get(k2, 0) + c
        stats["depth"] = md
        return out, pos, stats
    if major == 5:
        out = {}
        md = depth
        stats = {"maps": 1}
        prev_key = None
        for _ in range(arg):
            kstart = pos
            k, pos, st1 = _decode(raw, pos, depth + 1)
            kenc = raw[kstart:pos]
            if prev_key is not None and kenc <= prev_key:
                raise ValueError("map keys not canonically sorted"
                                 " or duplicated")
            prev_key = kenc
            v, pos, st2 = _decode(raw, pos, depth + 1)
            out[k] = v
            for st in (st1, st2):
                md = max(md, st.pop("depth"))
                for k2, c in st.items():
                    stats[k2] = stats.get(k2, 0) + c
        stats["depth"] = md
        return out, pos, stats
    raise AssertionError


def parse_cbor(raw: bytes) -> dict:
    val, pos, stats = _decode(raw, 0)
    if pos != len(raw):
        raise ValueError("trailing bytes after cbor item")
    if not isinstance(val, list):
        raise ValueError("expected a top-level array")
    return {"value": val, "stats": stats}
