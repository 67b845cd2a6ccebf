"""Archive/shard containers for training-data pipelines — the WebDataset-
style ingestion surface a 100 TB corpus ships in: tar shard member listing
via a hand-written POSIX ustar header walk, ZIP central-directory walking
with CRC verification against the local entries, and Sun AU (au/.snd)
audio decode. Writers use the stdlib (tarfile / zipfile / struct) so the
parsers are exercised against independently-produced bytes; the parsers are
hand-rolled from the public format specs (POSIX.1-1988 ustar, PKWARE
APPNOTE.TXT, the Sun audio file header) and never import the stdlib
readers. Reference analog: none — the reference ingests loose PDFs
(core/document_processor.py); shard manifests are the scale-path
replacement for per-file listings.
"""

from __future__ import annotations

import hashlib
import io
import struct
import tarfile
import zipfile
import zlib

import numpy as np

# ───────────────────────── tar (POSIX ustar) ─────────────────────────

def tar_member_spec(shard_id: int, seed: int = 42) -> list[tuple[str, bytes, int]]:
    """Deterministic member list for a synthetic shard: names, contents
    and mtimes are pure formulas of (shard_id, j, seed) so the oracle can
    re-derive every manifest column without touching tar bytes."""
    k = 3 + shard_id % 4
    members = []
    for j in range(k):
        ext = "txt" if j % 2 == 0 else "json"
        name = f"sample_{shard_id:04d}_{j}.{ext}"
        reps = 5 + (shard_id * 7 + j * 13 + seed) % 40
        content = (f"doc {shard_id}:{j} " * reps).encode("ascii")
        mtime = 1_600_000_000 + shard_id * 86_400 + j * 60
        members.append((name, content, mtime))
    return members


def build_tar(members: list[tuple[str, bytes, int]]) -> bytes:
    """Genuine ustar bytes via the stdlib WRITER (the parser below never
    sees tarfile) — USTAR_FORMAT pins the plain POSIX.1-1988 layout."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for name, content, mtime in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(content)
            ti.mtime = mtime
            tf.addfile(ti, io.BytesIO(content))
    return buf.getvalue()


def _octal(field: bytes) -> int:
    s = field.rstrip(b"\x00 ").lstrip(b" ")
    return int(s, 8) if s else 0


def parse_tar(payload: bytes) -> list[tuple[str, int, int, str, int, str]]:
    """Hand-rolled ustar walk (POSIX.1-1988): 512-byte headers, octal
    size/mtime fields, checksum = unsigned byte sum with the chksum field
    read as spaces, member data padded to whole blocks, two zero blocks
    at the end. Returns (name, size, mtime, typeflag, chksum_ok, md5)."""
    out = []
    off = 0
    n = len(payload)
    while off + 512 <= n:
        block = payload[off:off + 512]
        if block == b"\x00" * 512:
            break
        name = block[0:100].split(b"\x00", 1)[0].decode("utf-8",
                                                        errors="replace")
        try:
            size = _octal(block[124:136])
            mtime = _octal(block[136:148])
            stored_ck = _octal(block[148:156])
        except ValueError:
            # corrupted numeric field: the walk can't advance reliably —
            # emit the broken header and stop instead of cascading garbage
            out.append((name, 0, 0, "?", 0, ""))
            break
        typeflag = chr(block[156]) if block[156] else "0"
        calc_ck = sum(block[:148]) + 8 * 0x20 + sum(block[156:])
        data = payload[off + 512:off + 512 + size]
        md5 = hashlib.md5(data).hexdigest()
        out.append((name, size, mtime, typeflag,
                    int(calc_ck == stored_ck), md5))
        off += 512 + ((size + 511) // 512) * 512
    return out


# ───────────────────────── zip (APPNOTE.TXT) ─────────────────────────

def zip_entry_spec(shard_id: int, seed: int = 42) -> list[tuple[str, bytes, int]]:
    """Deterministic entries: (name, content, method); contents repeat a
    token so DEFLATE entries genuinely compress."""
    k = 2 + shard_id % 4
    entries = []
    for j in range(k):
        name = f"part_{shard_id:04d}/{j:02d}.txt"
        reps = 8 + (shard_id * 5 + j * 11 + seed) % 60
        content = (f"token{(shard_id * j + seed) % 97} " * reps).encode()
        method = zipfile.ZIP_DEFLATED if j % 2 else zipfile.ZIP_STORED
        entries.append((name, content, method))
    return entries


def build_zip(entries: list[tuple[str, bytes, int]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, content, method in entries:
            zi = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            zf.writestr(zi, content, compress_type=method)
    return buf.getvalue()


def parse_zip_central_directory(
        payload: bytes) -> list[tuple[str, int, int, int, int]]:
    """Hand-rolled ZIP walk: scan backwards for the end-of-central-
    directory record (PK\\x05\\x06), jump to the central directory, read
    each file header (PK\\x01\\x02), then verify every entry against its
    LOCAL header (PK\\x03\\x04) by inflating the stored/deflated data and
    re-computing CRC-32 and the uncompressed size. Returns
    (name, method, usize, crc32, crc_ok)."""
    eocd = payload.rfind(b"PK\x05\x06")
    if eocd < 0:
        return []
    n_entries = struct.unpack_from("<H", payload, eocd + 10)[0]
    cd_off = struct.unpack_from("<I", payload, eocd + 16)[0]
    out = []
    off = cd_off
    for _ in range(n_entries):
        if payload[off:off + 4] != b"PK\x01\x02":
            break
        method = struct.unpack_from("<H", payload, off + 10)[0]
        crc = struct.unpack_from("<I", payload, off + 16)[0]
        csize = struct.unpack_from("<I", payload, off + 20)[0]
        usize = struct.unpack_from("<I", payload, off + 24)[0]
        nlen = struct.unpack_from("<H", payload, off + 28)[0]
        xlen = struct.unpack_from("<H", payload, off + 30)[0]
        clen = struct.unpack_from("<H", payload, off + 32)[0]
        lho = struct.unpack_from("<I", payload, off + 42)[0]
        name = payload[off + 46:off + 46 + nlen].decode("utf-8",
                                                        errors="replace")
        ok = 0
        if payload[lho:lho + 4] == b"PK\x03\x04":
            nlen2 = struct.unpack_from("<H", payload, lho + 26)[0]
            xlen2 = struct.unpack_from("<H", payload, lho + 28)[0]
            data = payload[lho + 30 + nlen2 + xlen2:
                           lho + 30 + nlen2 + xlen2 + csize]
            try:
                raw = (zlib.decompress(data, -15) if method == 8 else
                       bytes(data))
                ok = int(len(raw) == usize
                         and (zlib.crc32(raw) & 0xFFFFFFFF) == crc)
            except zlib.error:
                ok = 0
        out.append((name, method, usize, crc, ok))
        off += 46 + nlen + xlen + clen
    return out


# ───────────────────────── Sun AU (.snd) ─────────────────────────

AU_ULAW = 1
AU_PCM16 = 3


def encode_au(rate: int, x: np.ndarray, encoding: int,
              annotation: bytes = b"kep\x00") -> bytes:
    """Genuine big-endian Sun audio bytes: magic '.snd', data offset
    (24 + annotation), data size, encoding (1 = 8-bit G.711 μ-law,
    3 = 16-bit linear PCM big-endian), sample rate, one channel."""
    from .multimodal import ulaw_compress
    if encoding == AU_ULAW:
        data = ulaw_compress(x.astype(np.int64)).astype(np.uint8).tobytes()
    elif encoding == AU_PCM16:
        data = x.astype(">i2").tobytes()
    else:
        raise NotImplementedError(f"AU encoding {encoding} not supported")
    hdr = struct.pack(">4sIIIII", b".snd", 24 + len(annotation),
                      len(data), encoding, rate, 1)
    return hdr + annotation + data


def decode_au(payload: bytes) -> tuple[int, np.ndarray]:
    """Hand-rolled AU parse: header walk honoring the data offset (the
    annotation field is variable-length), μ-law expanded through the
    shared G.711 inverse, PCM16 read big-endian."""
    from .multimodal import ulaw_expand
    magic, off, dsize, enc, rate, ch = struct.unpack_from(">4sIIIII",
                                                          payload, 0)
    if magic != b".snd":
        raise NotImplementedError("not a Sun AU payload")
    if ch != 1:
        raise NotImplementedError("only mono AU supported")
    data = payload[off:off + dsize]
    if enc == AU_ULAW:
        x = ulaw_expand(np.frombuffer(data, dtype=np.uint8))
    elif enc == AU_PCM16:
        x = np.frombuffer(data, dtype=">i2").astype(np.int16)
    else:
        raise NotImplementedError(f"AU encoding {enc} not supported")
    return rate, x.astype(np.int16)


# ───────────────────────── gzip (RFC 1952) ─────────────────────────

def gzip_member_spec(shard_id: int,
                     seed: int = 42) -> list[tuple[str, bytes, int, int]]:
    """Deterministic members for one concatenated multi-member .gz shard:
    (name, content, mtime, style). style 0 = stdlib writer (FNAME only,
    XFL 2, OS 255); style 1 = hand-built header exercising the FEXTRA +
    FNAME + FCOMMENT + FHCRC branches (OS 3). Pure (shard_id, j, seed)
    formulas so the oracle re-derives every manifest column bytes-free."""
    k = 2 + shard_id % 3
    members = []
    for j in range(k):
        name = f"part_{shard_id:04d}_{j}.txt"
        reps = 7 + (shard_id * 11 + j * 17 + seed) % 50
        content = (f"gz {shard_id}:{j} payload " * reps).encode("ascii")
        mtime = 1_650_000_000 + shard_id * 3600 + j * 90
        members.append((name, content, mtime, j % 2))
    return members


def build_gzip_member(name: str, content: bytes, mtime: int,
                      style: int) -> bytes:
    """style 0: genuine stdlib gzip bytes (the parser never imports gzip
    for reading). style 1: RFC 1952 header written field-by-field with
    FEXTRA ('KE' subfield), FCOMMENT and FHCRC set, raw-deflate body via
    zlib — the flag branches the stdlib writer never produces."""
    import gzip as _gzip
    if style == 0:
        buf = io.BytesIO()
        with _gzip.GzipFile(filename=name, mode="wb", fileobj=buf,
                            compresslevel=9, mtime=mtime) as f:
            f.write(content)
        return buf.getvalue()
    hdr = bytearray()
    hdr += b"\x1f\x8b\x08"
    hdr.append(0x02 | 0x04 | 0x08 | 0x10)        # FHCRC|FEXTRA|FNAME|FCOMMENT
    hdr += struct.pack("<I", mtime)
    hdr += b"\x02\x03"                           # XFL=2, OS=3 (unix)
    extra = b"KE\x04\x00" + struct.pack("<I", len(content))
    hdr += struct.pack("<H", len(extra)) + extra
    hdr += name.encode("latin-1") + b"\x00"
    hdr += b"synthetic shard member\x00"
    hdr += struct.pack("<H", zlib.crc32(bytes(hdr)) & 0xFFFF)
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    body = co.compress(content) + co.flush()
    trailer = struct.pack("<II", zlib.crc32(content) & 0xFFFFFFFF,
                          len(content) & 0xFFFFFFFF)
    return bytes(hdr) + body + trailer


def parse_gzip_members(
        payload: bytes) -> list[tuple[int, str, int, int, int, int, int, int, str]]:
    """Hand-rolled RFC 1952 walk over a CONCATENATED multi-member gzip
    stream: fixed header, FEXTRA/FNAME/FCOMMENT/FHCRC branches (header CRC16
    verified when present), raw-deflate body inflated with zlib (wbits=-15,
    the primitive — never gzip.decompress), then the CRC-32 + ISIZE trailer
    re-checked against the inflated bytes. Returns one row per member:
    (idx, name, mtime, flg, os, usize, crc32, crc_ok, md5)."""
    out = []
    pos, idx = 0, 0
    n = len(payload)
    while pos + 10 <= n:
        start = pos
        if payload[pos:pos + 2] != b"\x1f\x8b" or payload[pos + 2] != 8:
            raise ValueError(f"bad gzip magic at {pos}")
        flg = payload[pos + 3]
        mtime = struct.unpack_from("<I", payload, pos + 4)[0]
        os_byte = payload[pos + 9]
        pos += 10
        if flg & 0x04:                                        # FEXTRA
            xlen = struct.unpack_from("<H", payload, pos)[0]
            pos += 2 + xlen
        name = None
        if flg & 0x08:                                        # FNAME
            end = payload.index(b"\x00", pos)
            name = payload[pos:end].decode("latin-1")
            pos = end + 1
        if flg & 0x10:                                        # FCOMMENT
            pos = payload.index(b"\x00", pos) + 1
        hcrc_ok = True
        if flg & 0x02:                                        # FHCRC
            stored = struct.unpack_from("<H", payload, pos)[0]
            hcrc_ok = stored == (zlib.crc32(payload[start:pos]) & 0xFFFF)
            pos += 2
        d = zlib.decompressobj(-15)
        content = d.decompress(payload[pos:])
        if not d.eof:
            raise ValueError("truncated deflate body")
        tail_at = n - len(d.unused_data)
        crc_stored, isize = struct.unpack_from("<II", payload, tail_at)
        crc = zlib.crc32(content) & 0xFFFFFFFF
        ok = hcrc_ok and crc == crc_stored \
            and (len(content) & 0xFFFFFFFF) == isize
        out.append((idx, name, mtime, flg, os_byte, len(content), crc,
                    int(ok), hashlib.md5(content).hexdigest()))
        pos = tail_at + 8
        idx += 1
    return out
