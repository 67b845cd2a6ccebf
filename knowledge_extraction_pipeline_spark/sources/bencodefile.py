"""Bencode walking — the BitTorrent metainfo encoding (BEP-3), the
container every .torrent file and DHT message uses. Writer and reader
are hand-rolled from the public spec (https://www.bittorrent.org/
beps/bep_0003.html) as separate code paths: integers `i<digits>e`
(leading zeros and `-0` are ILLEGAL and the reader rejects them),
byte strings `<len>:<bytes>`, lists `l...e`, and dictionaries `d...e`
whose keys MUST appear in sorted byte order — the reader enforces that
canonical-ordering rule rather than silently accepting unsorted input,
because info-dict hashing depends on it. Golden vectors in
tests/test_bencodefile.py pin both directions to spec examples
(i42e, 4:spam, l4:spame, d3:cow3:mooe).
"""

from __future__ import annotations

import hashlib


def torrent_spec(i: int, seed: int = 42) -> dict:
    n_pieces = 3 + (i * 7 + seed) % 14
    piece_len = 16384 * (1 + i % 4)
    return {
        "announce": f"udp://tracker{i % 5}.example.invalid:6969",
        "name": f"dataset_{i:03d}.tar",
        "piece_length": piece_len,
        "length": piece_len * (n_pieces - 1) + 1 + (i * 997 + seed)
        % (piece_len - 1),
        "n_pieces": n_pieces,
        "pieces": b"".join(
            hashlib.sha1(f"piece:{i}:{j}:{seed}".encode()).digest()
            for j in range(n_pieces)),
        "trackers": [[f"udp://t{i}-{j}.example.invalid:6969"]
                     for j in range(1 + i % 4)],
        "creation_date": 1_700_000_000 + i * 86_400,
    }


# ── writer ──────────────────────────────────────────────────────────────

def _benc(v) -> bytes:
    if isinstance(v, int):
        return b"i%de" % v
    if isinstance(v, bytes):
        return b"%d:%s" % (len(v), v)
    if isinstance(v, str):
        raw = v.encode()
        return b"%d:%s" % (len(raw), raw)
    if isinstance(v, list):
        return b"l" + b"".join(_benc(x) for x in v) + b"e"
    if isinstance(v, dict):
        out = b"d"
        for k in sorted(v, key=lambda s: s.encode()):
            out += _benc(k) + _benc(v[k])
        return out + b"e"
    raise TypeError(type(v))


def build_torrent(i: int, seed: int = 42) -> bytes:
    s = torrent_spec(i, seed)
    return _benc({
        "announce": s["announce"],
        "announce-list": s["trackers"],
        "creation date": s["creation_date"],
        "info": {
            "length": s["length"],
            "name": s["name"],
            "piece length": s["piece_length"],
            "pieces": s["pieces"],
        },
    })


# ── reader ──────────────────────────────────────────────────────────────

def _decode(buf: bytes, pos: int):
    b = buf[pos:pos + 1]
    if b == b"i":
        end = buf.index(b"e", pos)
        digits = buf[pos + 1:end]
        body = digits[1:] if digits[:1] == b"-" else digits
        if not body.isdigit():
            raise ValueError("malformed integer")
        if body != b"0" and body[:1] == b"0":
            raise ValueError("leading zero in integer")
        if digits == b"-0":
            raise ValueError("negative zero")
        return int(digits), end + 1
    if b == b"l":
        pos += 1
        out = []
        while buf[pos:pos + 1] != b"e":
            v, pos = _decode(buf, pos)
            out.append(v)
        return out, pos + 1
    if b == b"d":
        pos += 1
        out = {}
        prev = None
        while buf[pos:pos + 1] != b"e":
            k, pos = _decode(buf, pos)
            if not isinstance(k, bytes):
                raise ValueError("dict key must be a byte string")
            if prev is not None and k <= prev:
                raise ValueError("dict keys not in sorted order")
            prev = k
            v, pos = _decode(buf, pos)
            out[k.decode()] = v
        return out, pos + 1
    if b.isdigit():
        colon = buf.index(b":", pos)
        ln = int(buf[pos:colon])
        if ln > 1 and buf[pos:pos + 1] == b"0":
            raise ValueError("leading zero in length")
        return buf[colon + 1:colon + 1 + ln], colon + 1 + ln
    raise ValueError(f"unexpected byte {b!r} at {pos}")


def decode_bencode(buf: bytes):
    v, pos = _decode(buf, 0)
    if pos != len(buf):
        raise ValueError("trailing bytes after bencode value")
    return v
