"""LZ4 block-format walking — the compression codec under half the
lake (parquet LZ4, Kafka, RocksDB). Writer (a greedy hash-of-4-grams
compressor) and reader are hand-rolled from the public block spec
(https://github.com/lz4/lz4/blob/dev/doc/lz4_Block_format.md) as
separate code paths: token byte with 4-bit literal/match-length
nibbles, 255-terminated length extension bytes, little-endian 2-byte
match offsets, the minimum-match-of-4 rule, the literals-only final
sequence (a block must END with literals; the last 5 bytes are always
literal), and — the part naive decoders break on — OVERLAPPING match
copies (offset < match length), which the spec defines as byte-by-byte
forward copy, turning offset-1 matches into RLE runs. Fixtures plant
long single-char runs so the overlap path is exercised in every file;
golden tests decode HAND-WRITTEN foreign blocks the writer never
produced, so writer/reader bugs cannot cancel.
"""

from __future__ import annotations

import hashlib


def lz4_doc_spec(i: int, seed: int = 42) -> bytes:
    """Deterministic plaintext: repeated phrases (back-references),
    a single-char run (offset-1 overlap), and md5 hex (literals)."""
    phrase = f"the quick pipeline {i % 7} ".encode()
    run = bytes([97 + i % 26]) * (20 + (i * 3 + seed) % 40)
    noise = hashlib.md5(f"lz4:{i}:{seed}".encode()).hexdigest().encode()
    return (phrase * (3 + i % 4) + run + noise
            + phrase + b"|end" + bytes([48 + i % 10]))


# ── writer (greedy, hash of 4-grams, most-recent position) ──────────────

def _length(n: int) -> bytes:
    out = bytearray()
    while n >= 255:
        out.append(255)
        n -= 255
    out.append(n)
    return bytes(out)


def lz4_compress_with_stats(src: bytes) -> tuple[bytes, dict]:
    """Returns (block, stats). The stats are the WRITER'S own emission
    accounting (sequences/matches/overlaps/max match), used by the
    oracle so the reader's parse is checked against an independently
    counted ground truth."""
    n = len(src)
    out = bytearray()
    stats = {"n_sequences": 0, "n_matches": 0, "n_overlap_matches": 0,
             "max_match_len": 0}
    table: dict[bytes, int] = {}
    anchor = 0
    pos = 0
    # spec: the last 5 bytes are always literals; last match must start
    # 12 bytes before the end (simplified: stop matching near the tail)
    limit = max(0, n - 12)
    while pos < limit:
        key = src[pos:pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is not None and pos - cand <= 0xFFFF \
                and src[cand:cand + 4] == key:
            mlen = 4
            while (pos + mlen < n - 5
                   and src[cand + mlen] == src[pos + mlen]):
                mlen += 1
            lit = src[anchor:pos]
            tok_l = min(len(lit), 15)
            tok_m = min(mlen - 4, 15)
            out.append((tok_l << 4) | tok_m)
            if tok_l == 15:
                out += _length(len(lit) - 15)
            out += lit
            out += (pos - cand).to_bytes(2, "little")
            if tok_m == 15:
                out += _length(mlen - 4 - 15)
            stats["n_sequences"] += 1
            stats["n_matches"] += 1
            if pos - cand < mlen:
                stats["n_overlap_matches"] += 1
            stats["max_match_len"] = max(stats["max_match_len"], mlen)
            pos += mlen
            anchor = pos
        else:
            pos += 1
    lit = src[anchor:]
    tok_l = min(len(lit), 15)
    out.append(tok_l << 4)
    if tok_l == 15:
        out += _length(len(lit) - 15)
    out += lit
    stats["n_sequences"] += 1
    return bytes(out), stats


# ── reader ──────────────────────────────────────────────────────────────

def _read_len(buf: bytes, pos: int, base: int) -> tuple[int, int]:
    n = base
    if base == 15:
        while True:
            if pos >= len(buf):
                raise ValueError("truncated length extension")
            b = buf[pos]
            pos += 1
            n += b
            if b != 255:
                break
    return n, pos


def lz4_decompress(buf: bytes) -> tuple[bytes, dict]:
    out = bytearray()
    pos = 0
    n_seq = 0
    n_match = 0
    n_overlap = 0
    max_match = 0
    while pos < len(buf):
        token = buf[pos]
        pos += 1
        n_seq += 1
        lit_len, pos = _read_len(buf, pos, token >> 4)
        if pos + lit_len > len(buf):
            raise ValueError("literals overrun block")
        out += buf[pos:pos + lit_len]
        pos += lit_len
        if pos >= len(buf):
            break                       # final literals-only sequence
        if pos + 2 > len(buf):
            raise ValueError("truncated match offset")
        offset = int.from_bytes(buf[pos:pos + 2], "little")
        pos += 2
        if offset == 0 or offset > len(out):
            raise ValueError("invalid match offset")
        mlen, pos = _read_len(buf, pos, token & 0x0F)
        mlen += 4
        n_match += 1
        max_match = max(max_match, mlen)
        if offset < mlen:
            n_overlap += 1
        start = len(out) - offset
        for k in range(mlen):           # byte-by-byte: overlap-correct
            out.append(out[start + k])
    return bytes(out), {"n_sequences": n_seq, "n_matches": n_match,
                        "n_overlap_matches": n_overlap,
                        "max_match_len": max_match}
