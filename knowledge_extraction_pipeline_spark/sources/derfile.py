"""ASN.1 DER walking — the encoding under every X.509 certificate,
LDAP message and SNMP packet. Writer and reader are hand-rolled from
the public spec (ITU-T X.690) as separate code paths: TLV structures
with short- and long-form DEFINITE lengths (DER forbids indefinite —
the reader rejects 0x80), constructed SEQUENCE descent, INTEGER with
minimal two's-complement bytes (a redundant leading 0x00 is a DER
violation the reader rejects), UTF8String, UTCTime, BIT STRING with
its unused-bits prefix octet, and OBJECT IDENTIFIER with the 40·X+Y
first-arc packing and base-128 continuation arcs. Golden vectors in
tests/test_derfile.py pin the classic encodings (OID 1.2.840.113549
= 2a 86 48 86 f7 0d; INTEGER −128 = 02 01 80).

Fixtures are certificate-SHAPED documents: SEQUENCE { serial INTEGER,
subject UTF8String, validity SEQUENCE { UTCTime, UTCTime }, sigalg
OID, key BIT STRING } — long-form lengths forced by >127-byte keys.
"""

from __future__ import annotations


_OIDS = ["1.2.840.113549.1.1.11", "1.2.840.10045.4.3.2",
         "1.3.101.112", "1.2.840.113549.1.1.5"]


def der_doc_spec(i: int, seed: int = 42) -> dict:
    key_len = 120 + (i * 17 + seed) % 80      # some >127 → long form
    return {
        "serial": (i * 2654435761 + seed) % (2 ** 40) - 2 ** 39,
        "subject": f"CN=svc-{i:03d}.example.invalid",
        "not_before": f"26{(i % 12) + 1:02d}01000000Z",
        "not_after": f"27{(i % 12) + 1:02d}01000000Z",
        "sigalg": _OIDS[i % len(_OIDS)],
        "key": bytes((i * 31 + j * 7 + seed) % 256
                     for j in range(key_len)),
    }


# ── writer ──────────────────────────────────────────────────────────────

def _len(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    raw = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes([0x80 | len(raw)]) + raw


def _tlv(tag: int, body: bytes) -> bytes:
    return bytes([tag]) + _len(len(body)) + body


def _der_int(n: int) -> bytes:
    length = 1
    while True:
        try:
            body = n.to_bytes(length, "big", signed=True)
            break
        except OverflowError:
            length += 1
    return _tlv(0x02, body)


def _der_oid(oid: str) -> bytes:
    arcs = [int(a) for a in oid.split(".")]
    body = bytearray([40 * arcs[0] + arcs[1]])
    for a in arcs[2:]:
        enc = bytearray([a & 0x7F])
        a >>= 7
        while a:
            enc.insert(0, 0x80 | (a & 0x7F))
            a >>= 7
        body += enc
    return _tlv(0x06, bytes(body))


def build_der(i: int, seed: int = 42) -> bytes:
    s = der_doc_spec(i, seed)
    validity = _tlv(0x30, _tlv(0x17, s["not_before"].encode())
                    + _tlv(0x17, s["not_after"].encode()))
    body = (_der_int(s["serial"])
            + _tlv(0x0C, s["subject"].encode())
            + validity
            + _der_oid(s["sigalg"])
            + _tlv(0x03, b"\x00" + s["key"]))
    return _tlv(0x30, body)


# ── reader ──────────────────────────────────────────────────────────────

def _read_len(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    pos += 1
    if b < 0x80:
        return b, pos
    if b == 0x80:
        raise ValueError("indefinite length forbidden in DER")
    n = b & 0x7F
    if pos + n > len(buf):
        raise ValueError("truncated long-form length")
    return int.from_bytes(buf[pos:pos + n], "big"), pos + n


def der_walk(buf: bytes, pos: int = 0, end: int | None = None,
             depth: int = 1):
    """Yield (depth, tag, body_bytes_or_children) TLVs at one level."""
    end = len(buf) if end is None else end
    while pos < end:
        tag = buf[pos]
        ln, p2 = _read_len(buf, pos + 1)
        if p2 + ln > end:
            raise ValueError("TLV overruns container")
        yield depth, tag, buf[p2:p2 + ln]
        pos = p2 + ln


def _decode_int(body: bytes) -> int:
    if len(body) > 1 and ((body[0] == 0 and body[1] < 0x80)
                          or (body[0] == 0xFF and body[1] >= 0x80)):
        raise ValueError("non-minimal INTEGER (DER violation)")
    return int.from_bytes(body, "big", signed=True)


def _decode_oid(body: bytes) -> str:
    arcs = [body[0] // 40, body[0] % 40]
    val = 0
    for b in body[1:]:
        val = (val << 7) | (b & 0x7F)
        if not b & 0x80:
            arcs.append(val)
            val = 0
    return ".".join(str(a) for a in arcs)


def parse_cert_like(buf: bytes) -> dict:
    tlvs = list(der_walk(buf))
    if len(tlvs) != 1 or tlvs[0][1] != 0x30:
        raise ValueError("expected one top-level SEQUENCE")
    fields = list(der_walk(tlvs[0][2], depth=2))
    tags = [t for _, t, _ in fields]
    if tags != [0x02, 0x0C, 0x30, 0x06, 0x03]:
        raise ValueError(f"unexpected field layout {tags}")
    validity = list(der_walk(fields[2][2], depth=3))
    if [t for _, t, _ in validity] != [0x17, 0x17]:
        raise ValueError("bad validity SEQUENCE")
    key_body = fields[4][2]
    unused = key_body[0]
    return {
        "serial": _decode_int(fields[0][2]),
        "subject": fields[1][2].decode(),
        "not_before": validity[0][2].decode(),
        "not_after": validity[1][2].decode(),
        "sigalg_oid": _decode_oid(fields[3][2]),
        "key": key_body[1:],
        "key_bits": 8 * len(key_body[1:]) - unused,
        "max_depth": 3,
    }
