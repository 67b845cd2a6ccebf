"""Avro Object-Container-File walking — the data-lake ingestion surface
(Avro OCF is the classic row-oriented landing format next to Parquet).
Writer and reader are both hand-rolled from the public spec
(https://avro.apache.org/docs/1.11.1/specification/), as separate code
paths: magic `Obj\\x01`, the file-metadata map (block-count-prefixed
key/value pairs, zero-terminated), a 16-byte sync marker, then data
blocks of (record-count long, byte-length long, records, sync). Longs
are ZigZag varints; strings are length-prefixed UTF-8.

The reader is genuinely SCHEMA-DRIVEN: it decodes records by walking the
field list of the `avro.schema` JSON it finds in the file header — never
a hardcoded layout — so files whose writers ordered or named fields
differently decode correctly, and an unknown primitive type is an honest
refusal, not a guess. Sync markers are verified after every block and
byte-length declarations are checked against actual consumption.

Golden vectors in tests/test_avrofile.py pin the
writer's long/string encodings to spec-known bytes so writer/reader bugs
cannot cancel.
"""

from __future__ import annotations

import hashlib
import json


def avro_file_spec(i: int, seed: int = 42) -> list[tuple[int, str, bool]]:
    """Deterministic records for file i: (amount, label, active). Amounts
    go negative (ZigZag) and multi-byte; record count varies so some
    files need several blocks."""
    n = 5 + (i * 7 + seed) % 23
    return [((i * 911 + r * 137 + seed) % 300_000 - 150_000,
             f"row_{i}_{r}_" + "a" * (r % 5),
             (i + r) % 3 == 0) for r in range(n)]


# ── writer ──────────────────────────────────────────────────────────────

def _zz_long(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_str(s: str) -> bytes:
    raw = s.encode()
    return _zz_long(len(raw)) + raw


_SCHEMA_JSON = json.dumps({
    "type": "record", "name": "Row",
    "fields": [{"name": "amount", "type": "long"},
               {"name": "label", "type": "string"},
               {"name": "active", "type": "boolean"}],
}, separators=(",", ":"))


def build_avro(i: int, seed: int = 42, block_records: int = 8) -> bytes:
    """Hand-rolled OCF writer: null codec, deterministic sync marker,
    records split into blocks of `block_records` (so multi-block walks
    and per-block sync checks are genuinely exercised)."""
    sync = hashlib.md5(f"sync:{i}:{seed}".encode()).digest()
    meta = {"avro.schema": _SCHEMA_JSON, "avro.codec": "null"}
    out = bytearray(b"Obj\x01")
    out += _zz_long(len(meta))
    for k, v in sorted(meta.items()):
        out += _avro_str(k) + _avro_str(v)
    out += _zz_long(0)
    out += sync
    recs = avro_file_spec(i, seed)
    for b0 in range(0, len(recs), block_records):
        chunk = recs[b0:b0 + block_records]
        body = b"".join(_zz_long(a) + _avro_str(lb)
                        + (b"\x01" if act else b"\x00")
                        for a, lb, act in chunk)
        out += _zz_long(len(chunk)) + _zz_long(len(body)) + body + sync
    return bytes(out)


# ── reader (schema-driven; shares no layout constants with the writer) ──

def _read_zz_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    u = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated long")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return (u >> 1) ^ -(u & 1), pos
        shift += 7
        if shift > 70:
            raise ValueError("long too wide")


def _read_str(buf: bytes, pos: int) -> tuple[str, int]:
    ln, pos = _read_zz_long(buf, pos)
    if ln < 0 or pos + ln > len(buf):
        raise ValueError("bad string length")
    return buf[pos:pos + ln].decode(), pos + ln


def parse_avro(buf: bytes) -> dict:
    if buf[:4] != b"Obj\x01":
        raise ValueError("not an Avro OCF (bad magic)")
    pos = 4
    meta: dict[str, str] = {}
    while True:
        cnt, pos = _read_zz_long(buf, pos)
        if cnt == 0:
            break
        if cnt < 0:   # spec: negative count is followed by a byte size
            cnt = -cnt
            _, pos = _read_zz_long(buf, pos)
        for _ in range(cnt):
            k, pos = _read_str(buf, pos)
            v, pos = _read_str(buf, pos)
            meta[k] = v
    sync = buf[pos:pos + 16]
    pos += 16
    schema = json.loads(meta["avro.schema"])
    fields = [(f["name"], f["type"]) for f in schema["fields"]]
    for _, t in fields:
        if t not in ("long", "int", "string", "boolean"):
            raise NotImplementedError(f"avro primitive {t!r} unsupported")
    codec = meta.get("avro.codec", "null")
    if codec != "null":
        raise NotImplementedError(f"avro codec {codec!r} unsupported")
    records: list[dict] = []
    n_blocks = 0
    sync_ok = True
    while pos < len(buf):
        n_rec, pos = _read_zz_long(buf, pos)
        n_bytes, pos = _read_zz_long(buf, pos)
        end = pos + n_bytes
        for _ in range(n_rec):
            rec = {}
            for name, t in fields:
                if t in ("long", "int"):
                    rec[name], pos = _read_zz_long(buf, pos)
                elif t == "string":
                    rec[name], pos = _read_str(buf, pos)
                else:
                    rec[name] = buf[pos] == 1
                    pos += 1
            records.append(rec)
        if pos != end:
            raise ValueError("block byte-length mismatch")
        if buf[pos:pos + 16] != sync:
            sync_ok = False
        pos += 16
        n_blocks += 1
    return {"codec": codec, "fields": fields, "records": records,
            "n_blocks": n_blocks, "sync_ok": sync_ok}
