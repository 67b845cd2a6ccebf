"""DNS wire-format walking (RFC 1035) — the passive-DNS telemetry
surface, and home of the spec detail naive parsers break on: QNAME
LABEL COMPRESSION, where a name is a sequence of length-prefixed labels
that may end in a two-byte pointer (0xC0 | offset) to an earlier name —
including pointers into the MIDDLE of another name's label chain.
Writer and reader are hand-rolled as separate code paths: the writer
emits response messages whose answer names point at the question name
and whose CNAME targets share compressed suffixes; the reader follows
pointers with a jump guard (bounded hops — a pointer loop is an honest
error, not a hang), enforces big-endian header/count fields, and
decodes A (IPv4) and CNAME RDATA, skipping unknown RR types by
RDLENGTH the way the spec requires.

Golden vectors in tests/test_dnsfile.py pin the
compression encoding to RFC 1035 §4.1.4 semantics.
"""

from __future__ import annotations

import struct


def dns_msg_spec(i: int, seed: int = 42) -> dict:
    host = f"h{i % 20}.svc{i % 7}.example.invalid"
    n_a = 1 + (i * 3 + seed) % 4
    return {
        "txn_id": (i * 2654435761 + seed) % 65_536,
        "qname": host,
        "cname": f"edge{i % 5}.cdn.example.invalid",
        "ips": [f"10.{(i + j) % 256}.{(i * 7 + j) % 256}."
                f"{(i * 13 + j * 3) % 256}" for j in range(n_a)],
        "ttls": [60 * (1 + (i + j) % 5) for j in range(n_a)],
        "with_txt": i % 4 == 0,     # an RR type the reader must skip
    }


# ── writer ──────────────────────────────────────────────────────────────

def _labels(name: str) -> bytes:
    out = b"".join(bytes([len(p)]) + p.encode()
                   for p in name.split("."))
    return out + b"\x00"


def build_dns(i: int, seed: int = 42) -> bytes:
    s = dns_msg_spec(i, seed)
    n_extra = (1 if s["with_txt"] else 0)
    hdr = struct.pack(">HHHHHH", s["txn_id"], 0x8180, 1,
                      1 + len(s["ips"]) + n_extra, 0, 0)
    out = bytearray(hdr)
    qname_off = len(out)
    out += _labels(s["qname"]) + struct.pack(">HH", 1, 1)   # A IN
    # CNAME answer: NAME = pointer to the question name
    cname_rd = _labels(s["cname"])
    out += struct.pack(">HHHIH", 0xC000 | qname_off, 5, 1, 300,
                       len(cname_rd))
    cname_rdata_off = len(out)
    out += cname_rd
    if s["with_txt"]:     # TXT RR the schema-aware reader must skip
        txt = b"\x07skip me"
        out += struct.pack(">HHHIH", 0xC000 | qname_off, 16, 1, 30,
                           len(txt)) + txt
    # A answers: NAME = pointer to the CNAME RDATA (mid-message target)
    for ip, ttl in zip(s["ips"], s["ttls"]):
        out += struct.pack(">HHHIH", 0xC000 | cname_rdata_off, 1, 1,
                           ttl, 4)
        out += bytes(int(x) for x in ip.split("."))
    return bytes(out)


# ── reader ──────────────────────────────────────────────────────────────

def read_name(buf: bytes, pos: int,
              max_jumps: int = 16) -> tuple[str, int, int]:
    """Decode a possibly-compressed name. Returns (name, next_pos,
    n_jumps); next_pos is the position after the name AT THE ORIGINAL
    nesting level (pointers never advance the outer cursor past their
    two bytes)."""
    labels = []
    jumps = 0
    end_pos = None
    while True:
        if pos >= len(buf):
            raise ValueError("truncated name")
        b = buf[pos]
        if b & 0xC0 == 0xC0:
            if pos + 1 >= len(buf):
                raise ValueError("truncated pointer")
            target = ((b & 0x3F) << 8) | buf[pos + 1]
            if end_pos is None:
                end_pos = pos + 2
            jumps += 1
            if jumps > max_jumps:
                raise ValueError("pointer loop")
            pos = target
        elif b == 0:
            if end_pos is None:
                end_pos = pos + 1
            return ".".join(labels), end_pos, jumps
        elif b & 0xC0:
            raise NotImplementedError("EDNS extended label types")
        else:
            labels.append(buf[pos + 1:pos + 1 + b].decode())
            pos += 1 + b


def parse_dns(buf: bytes) -> dict:
    if len(buf) < 12:
        raise ValueError("truncated DNS header")
    txn_id, flags, qd, an, ns, ar = struct.unpack(">HHHHHH", buf[:12])
    if qd != 1:
        raise NotImplementedError("multi-question messages unsupported")
    pos = 12
    qname, pos, _ = read_name(buf, pos)
    pos += 4       # QTYPE + QCLASS
    a_records = []
    cnames = []
    min_ttl = None
    skipped = 0
    jumps = 0
    for _ in range(an):
        _, pos, j = read_name(buf, pos)
        jumps += j
        rtype, rclass, ttl, rdlen = struct.unpack(
            ">HHIH", buf[pos:pos + 10])
        pos += 10
        rdata = buf[pos:pos + rdlen]
        if rtype == 1 and rdlen == 4:
            a_records.append(".".join(str(b) for b in rdata))
            pos += rdlen
        elif rtype == 5:
            tgt, _, j2 = read_name(buf, pos)
            jumps += j2
            cnames.append(tgt)
            pos += rdlen
        else:
            skipped += 1
            pos += rdlen
        min_ttl = ttl if min_ttl is None else min(min_ttl, ttl)
    return {"txn_id": txn_id, "qname": qname, "n_answers": an,
            "a_records": a_records, "cnames": cnames,
            "n_skipped": skipped, "min_ttl": min_ttl,
            "n_pointer_jumps": jumps}
