"""PCAP capture-file walking — the network-telemetry ingestion surface
(packet captures are a real large-scale data source, and the format
mixes BOTH endiannesses: little-endian libpcap record headers around
big-endian network-order IP fields — the classic parsing trap). Writer
and reader are hand-rolled from the public formats (libpcap file
format; RFC 791 IPv4; RFC 768 UDP; RFC 1071 checksum): 24-byte global
header with the 0xa1b2c3d4 magic (the byte-swapped magic is detected
and honestly refused rather than half-supported), LINKTYPE_RAW packets
holding 20-byte optionless IPv4 headers with the ones-complement
header checksum VERIFIED per packet, then UDP. Every 6th packet
carries a deliberately corrupted checksum, so the verifier's failure
path is part of the pinned result — a parser that skips verification
flips the hash. A golden test pins the checksum routine to the classic
textbook header (sum b1e6).
"""

from __future__ import annotations

import struct


def pcap_file_spec(i: int, seed: int = 42) -> list[dict]:
    """Deterministic packets for file i: src/dst, ports, payload, and
    whether the IP checksum is corrupted (every 6th packet)."""
    n = 10 + (i * 11 + seed) % 30
    out = []
    for p in range(n):
        payload = (f"pkt:{i}:{p}:" + "d" * ((i + p * 3) % 24)).encode()
        out.append({
            "ts_sec": 1_700_000_000 + i * 60 + p,
            "ts_usec": (i * 7919 + p * 131 + seed) % 1_000_000,
            "src": (10, 0, i % 16, p % 7),
            "dst": (10, 1, p % 5, i % 9),
            "sport": 1024 + (i + p) % 60_000,
            "dport": 53 if p % 3 == 0 else 443,
            "payload": payload,
            "corrupt": p % 6 == 5,
        })
    return out


def ip_checksum(header: bytes) -> int:
    """RFC 1071 ones-complement sum of 16-bit big-endian words."""
    total = 0
    for w in range(0, len(header), 2):
        total += int.from_bytes(header[w:w + 2], "big")
    while total >> 16:
        total = (total & 0xFFFF) + (total >> 16)
    return (~total) & 0xFFFF


def _ipv4(pkt: dict) -> bytes:
    udp_len = 8 + len(pkt["payload"])
    total_len = 20 + udp_len
    hdr = struct.pack(
        ">BBHHHBBH4B4B", 0x45, 0, total_len,
        (pkt["ts_usec"] % 65_536), 0x4000, 64, 17, 0,
        *pkt["src"], *pkt["dst"])
    ck = ip_checksum(hdr)
    if pkt["corrupt"]:
        ck ^= 0x00FF
    hdr = hdr[:10] + ck.to_bytes(2, "big") + hdr[12:]
    udp = struct.pack(">HHHH", pkt["sport"], pkt["dport"], udp_len, 0)
    return hdr + udp + pkt["payload"]


def build_pcap(i: int, seed: int = 42) -> bytes:
    out = bytearray(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0,
                                65_535, 101))       # LINKTYPE_RAW
    for pkt in pcap_file_spec(i, seed):
        data = _ipv4(pkt)
        out += struct.pack("<IIII", pkt["ts_sec"], pkt["ts_usec"],
                           len(data), len(data))
        out += data
    return bytes(out)


# ── reader ──────────────────────────────────────────────────────────────

def parse_pcap(raw: bytes) -> list[dict]:
    if len(raw) < 24:
        raise ValueError("truncated pcap global header")
    magic = struct.unpack("<I", raw[:4])[0]
    if magic == 0xD4C3B2A1:
        raise NotImplementedError("byte-swapped pcap unsupported")
    if magic != 0xA1B2C3D4:
        raise ValueError("not a pcap file (bad magic)")
    _, _, _, _, _, network = struct.unpack("<HHiIII", raw[4:24])
    if network != 101:
        raise NotImplementedError(f"linktype {network} unsupported")
    pos = 24
    pkts = []
    while pos < len(raw):
        if pos + 16 > len(raw):
            raise ValueError("truncated record header")
        ts_sec, ts_usec, incl, orig = struct.unpack(
            "<IIII", raw[pos:pos + 16])
        pos += 16
        if incl != orig or pos + incl > len(raw):
            raise ValueError("truncated packet")
        data = raw[pos:pos + incl]
        pos += incl
        if len(data) < 20 or data[0] >> 4 != 4:
            raise ValueError("not IPv4")
        ihl = (data[0] & 0x0F) * 4
        hdr = data[:ihl]
        ck_ok = ip_checksum(hdr[:10] + b"\x00\x00" + hdr[12:]) \
            == int.from_bytes(hdr[10:12], "big")
        proto = data[9]
        src = ".".join(str(b) for b in data[12:16])
        total_len = int.from_bytes(data[2:4], "big")
        pkt = {"ts_sec": ts_sec, "ts_usec": ts_usec, "src": src,
               "proto": proto, "ck_ok": ck_ok, "payload": b""}
        if proto == 17 and len(data) >= ihl + 8:
            udp_len = int.from_bytes(data[ihl + 4:ihl + 6], "big")
            if ihl + udp_len != total_len:
                raise ValueError("udp/ip length mismatch")
            pkt["payload"] = data[ihl + 8:ihl + udp_len]
        pkts.append(pkt)
    return pkts
