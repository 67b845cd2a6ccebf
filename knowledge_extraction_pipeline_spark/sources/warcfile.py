"""WARC (ISO 28500) record walking — the format web-scale training
corpora actually arrive in (Common Crawl ships WARC): CRLF-delimited
'WARC/1.0' version blocks, named headers, a byte-exact Content-Length
over the payload, the two-CRLF record separator (off-by-one-CRLF is
THE classic WARC reader bug — both separators are verified, not
skipped-over), and the WARC-Payload-Digest header in its canonical
'sha1:' + RFC 4648 BASE32 form, VERIFIED by hand-rolled base32 over
hashlib's sha1 — a reader that hex-encodes instead of base32 fails
every record. Response records carry a full embedded HTTP/1.1
message whose status line and headers are parsed and whose body must
exactly fill Content-Length minus the HTTP head. warcinfo / request
/ response / resource types are walked; unknown WARC-Types,
non-1.x versions and digest mismatches (planted in every 5th file's
second record) are surfaced in the parse result rather than silently
accepted.

Reference analog: none (the reference ingests local PDFs); this is
the acquisition surface a 100 TB text pipeline starts from.
"""

from __future__ import annotations

import base64
import hashlib


CRLF = b"\r\n"


def warc_file_spec(i: int, seed: int = 42) -> list[dict]:
    """Deterministic records for file i: a warcinfo, then
    request/response pairs and a resource, with every 5th file's
    second record carrying a deliberately corrupted payload digest."""
    recs = [{"type": "warcinfo",
             "uri": None,
             "body": ("software: kep-spark/%d\r\nformat: WARC/1.0"
                      % (seed)).encode()}]
    for k in range(2 + i % 3):
        uri = "http://example-%d.test/page/%d?q=%d" % (i % 7, k, i)
        req = ("GET /page/%d?q=%d HTTP/1.1\r\nHost: example-%d.test"
               "\r\nUser-Agent: kep-bot/1.0\r\n\r\n" % (k, i, i % 7)
               ).encode()
        recs.append({"type": "request", "uri": uri, "body": req})
        status = 200 if (i + k) % 4 else 404
        html = ("<html><body>doc %d-%d %s</body></html>"
                % (i, k, "x" * ((i * 7 + k * 13) % 40))).encode()
        http = (("HTTP/1.1 %d %s\r\nContent-Type: text/html\r\n"
                 "Content-Length: %d\r\n\r\n"
                 % (status, "OK" if status == 200 else "Not Found",
                    len(html))).encode() + html)
        recs.append({"type": "response", "uri": uri, "body": http,
                     "corrupt_digest": i % 5 == 0 and k == 0})
    recs.append({"type": "resource",
                 "uri": "urn:kep:blob:%d" % i,
                 "body": bytes((i + q) % 251
                               for q in range(20 + i % 30))})
    return recs


def payload_digest(body: bytes) -> str:
    return "sha1:" + base64.b32encode(
        hashlib.sha1(body).digest()).decode()


def build_warc(i: int, seed: int = 42) -> bytes:
    out = bytearray()
    for n, r in enumerate(recs := warc_file_spec(i, seed)):
        dig = payload_digest(r["body"])
        if r.get("corrupt_digest"):
            dig = dig[:-2] + ("AA" if dig[-2:] != "AA" else "BB")
        hdrs = ["WARC/1.0",
                "WARC-Type: " + r["type"],
                "WARC-Record-ID: <urn:uuid:%08d-%04d>" % (i, n),
                "WARC-Date: 2026-01-%02dT00:00:%02dZ"
                % (1 + i % 28, n % 60),
                "Content-Length: %d" % len(r["body"]),
                "WARC-Payload-Digest: " + dig]
        if r["uri"]:
            hdrs.append("WARC-Target-URI: " + r["uri"])
        if r["type"] == "response":
            hdrs.append("Content-Type: application/http;"
                        "msgtype=response")
        out += CRLF.join(h.encode() for h in hdrs)
        out += CRLF + CRLF + r["body"] + CRLF + CRLF
    return bytes(out)


# ── reader ──────────────────────────────────────────────────────────────

def parse_warc(raw: bytes) -> list[dict]:
    pos = 0
    records = []
    while pos < len(raw):
        head_end = raw.find(CRLF + CRLF, pos)
        if head_end < 0:
            raise ValueError("unterminated warc header block")
        head = raw[pos:head_end].decode("utf-8")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/1."):
            raise NotImplementedError(
                f"unsupported version {lines[0]!r}")
        hdrs = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(": ")
            hdrs[k.lower()] = v
        wtype = hdrs.get("warc-type")
        if wtype not in ("warcinfo", "request", "response",
                        "resource", "metadata", "revisit"):
            raise ValueError(f"unknown WARC-Type {wtype!r}")
        length = int(hdrs["content-length"])
        body_at = head_end + 4
        body = raw[body_at:body_at + length]
        if len(body) < length:
            raise ValueError("payload overruns file")
        sep = raw[body_at + length:body_at + length + 4]
        if sep != CRLF + CRLF:
            raise ValueError("missing two-CRLF record separator")
        pos = body_at + length + 4
        digest_ok = None
        want = hdrs.get("warc-payload-digest")
        if want:
            digest_ok = payload_digest(body) == want
        rec = {"type": wtype, "uri": hdrs.get("warc-target-uri"),
               "len": length, "digest_ok": digest_ok,
               "status": None, "http_body": None}
        if wtype == "response" and body.startswith(b"HTTP/1."):
            he = body.find(CRLF + CRLF)
            if he < 0:
                raise ValueError("unterminated http head")
            status_line = body[:body.find(CRLF)].decode()
            rec["status"] = int(status_line.split(" ")[1])
            rec["http_body"] = body[he + 4:]
            # the embedded Content-Length must match exactly
            for ln in body[:he].decode().split("\r\n")[1:]:
                k, _, v = ln.partition(": ")
                if k.lower() == "content-length" \
                        and int(v) != len(rec["http_body"]):
                    raise ValueError("embedded http length mismatch")
        records.append(rec)
    return records
