"""MIME multipart message walking — the mail-corpus ingestion surface of a
training-data pipeline (mbox/EML shards are a classic web-scale text
source). The WRITER is the stdlib email package (so the parser is
exercised against independently-produced bytes); the PARSER is hand-rolled
from RFC 2045/2046: header block split, Content-Type parameter scan
(quoted and bare boundary values), strict `--boundary` delimiter walk with
the RFC 2046 "CRLF belongs to the delimiter" rule, and hand-written
base64 + quoted-printable decoders (never email.parser / base64 /
quopri). Reference analog: none — the reference ingests loose PDFs
(core/document_processor.py:91-177); mail shards are an additional
container class next to tar/zip/gzip.
"""

from __future__ import annotations

import hashlib


def mime_part_spec(msg_id: int,
                   seed: int = 42) -> list[tuple[str, str, str | None, bytes]]:
    """Deterministic part list for one multipart/mixed message:
    (content_type, encoding, filename, decoded_content). Pure
    (msg_id, j, seed) formulas so the oracle re-derives every manifest
    column without touching message bytes. Part 0 is 7bit text, part 1 is
    base64 binary (non-ascii bytes force the encoding), part 2 (present
    for msg_id % 3 != 0) is quoted-printable text with '=', tab and
    8-bit-free specials that QP must escape."""
    parts: list[tuple[str, str, str | None, bytes]] = []
    reps = 4 + (msg_id * 7 + seed) % 20
    parts.append(("text/plain", "7bit", None,
                  (f"plain part of message {msg_id} " * reps).encode()))
    blob = bytes((msg_id * 31 + k * 17 + seed) % 256
                 for k in range(120 + (msg_id * 13) % 90))
    parts.append(("application/octet-stream", "base64",
                  f"blob_{msg_id:04d}.bin", blob))
    if msg_id % 3 != 0:
        qp = (f"qp part {msg_id}: total=100% =sign\ttab "
              * (3 + msg_id % 4)).encode()
        parts.append(("text/plain", "quoted-printable", None, qp))
    return parts


def build_mime(msg_id: int, seed: int = 42) -> bytes:
    """Genuine RFC 2045 bytes via the stdlib email WRITER (the parser
    below never imports email): multipart/mixed with a pinned boundary,
    per-part Content-Transfer-Encoding applied by the stdlib encoders."""
    from email import encoders
    from email.mime.application import MIMEApplication
    from email.mime.multipart import MIMEMultipart
    from email.mime.nonmultipart import MIMENonMultipart
    from email.mime.text import MIMEText

    msg = MIMEMultipart("mixed", boundary=f"=_shard_{msg_id:06d}_boundary")
    msg["From"] = "pipeline@example.org"
    msg["Subject"] = f"shard message {msg_id}"
    for ctype, enc, name, content in mime_part_spec(msg_id, seed):
        if enc == "7bit":
            part = MIMEText(content.decode("ascii"), "plain", "us-ascii")
        elif enc == "base64":
            part = MIMEApplication(content, "octet-stream")
            part.add_header("Content-Disposition", "attachment",
                            filename=name)
        else:
            maj, min_ = ctype.split("/")
            part = MIMENonMultipart(maj, min_)
            part.set_payload(content)
            encoders.encode_quopri(part)
        msg.attach(part)
    return msg.as_bytes()


_B64 = {c: i for i, c in enumerate(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/")}


def _decode_base64(text: bytes) -> bytes:
    """Hand-rolled RFC 2045 base64: whitespace skipped, 4 symbols → 3
    bytes, '=' padding truncates the final quantum."""
    out = bytearray()
    quad: list[int] = []
    pad = 0
    for ch in text:
        if ch in (9, 10, 13, 32):
            continue
        if ch == 0x3D:                         # '='
            pad += 1
            quad.append(0)
            continue
        quad.append(_B64[ch])
        if len(quad) == 4 and pad == 0:
            v = (quad[0] << 18) | (quad[1] << 12) | (quad[2] << 6) | quad[3]
            out += bytes(((v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF))
            quad = []
    if quad:
        v = (quad[0] << 18) | (quad[1] << 12) | (quad[2] << 6) | quad[3]
        n = 3 - pad
        out += bytes(((v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF))[:n]
    return bytes(out)


def _decode_qp(text: bytes) -> bytes:
    """Hand-rolled RFC 2045 quoted-printable: =XX hex escapes, soft line
    breaks ('=' before CRLF/LF vanish with the break), everything else
    verbatim (CRLF normalized to LF by the caller's line handling)."""
    out = bytearray()
    i, n = 0, len(text)
    while i < n:
        b = text[i]
        if b == 0x3D:                          # '='
            if i + 1 < n and text[i + 1] == 0x0A:
                i += 2
                continue
            if i + 2 < n and text[i + 1] == 0x0D and text[i + 2] == 0x0A:
                i += 3
                continue
            out.append(int(text[i + 1:i + 3].decode("ascii"), 16))
            i += 3
            continue
        out.append(b)
        i += 1
    return bytes(out)


def _split_headers(block: bytes) -> tuple[dict[str, str], bytes]:
    """Header block → {lower(name): unfolded value}, plus the body after
    the first blank line. Continuation lines (leading WS) unfold."""
    for sep in (b"\r\n\r\n", b"\n\n"):
        at = block.find(sep)
        if at >= 0:
            head, body = block[:at], block[at + len(sep):]
            break
    else:
        head, body = block, b""
    headers: dict[str, str] = {}
    last = None
    for raw in head.replace(b"\r\n", b"\n").split(b"\n"):
        line = raw.decode("latin-1")
        if line[:1] in (" ", "\t") and last is not None:
            headers[last] += " " + line.strip()
            continue
        if ":" in line:
            name, _, val = line.partition(":")
            last = name.strip().lower()
            headers[last] = val.strip()
    return headers, body


def _param(value: str, name: str) -> str | None:
    """Extract a Content-Type/-Disposition parameter (quoted or bare)."""
    for piece in value.split(";")[1:]:
        k, _, v = piece.strip().partition("=")
        if k.strip().lower() == name:
            v = v.strip()
            if v[:1] == '"' and v[-1:] == '"':
                v = v[1:-1]
            return v
    return None


def parse_mime_parts(
        payload: bytes) -> list[tuple[int, str, str, str | None, int, str]]:
    """Hand-rolled multipart walk: top-level headers give the boundary;
    the body splits on `--boundary` delimiter LINES (the preceding line
    break belongs to the delimiter — RFC 2046 §5.1.1 — so part content
    never grows a phantom trailing newline); `--boundary--` closes. Each
    part's headers give content-type / transfer-encoding / filename, its
    body decodes through the hand-written base64 / quoted-printable
    decoders. Returns (idx, content_type, encoding, filename, usize,
    md5-of-decoded)."""
    headers, body = _split_headers(payload)
    ctype = headers.get("content-type", "")
    if not ctype.lower().startswith("multipart/"):
        raise ValueError("not a multipart message")
    boundary = _param(ctype, "boundary")
    if not boundary:
        raise ValueError("multipart without boundary")
    delim = b"--" + boundary.encode("latin-1")
    chunks = []
    cur: list[bytes] | None = None
    for line in body.split(b"\n"):
        bare = line[:-1] if line[-1:] == b"\r" else line
        if bare == delim or bare == delim + b"--":
            if cur is not None:
                chunks.append(b"\n".join(cur))
            if bare == delim + b"--":
                cur = None
                break
            cur = []
            continue
        if cur is not None:
            cur.append(line)
    out = []
    for idx, chunk in enumerate(chunks):
        ph, pbody = _split_headers(chunk)
        ptype = ph.get("content-type", "text/plain").split(";")[0] \
            .strip().lower()
        enc = ph.get("content-transfer-encoding", "7bit").strip().lower()
        name = _param(ph.get("content-disposition", ""), "filename") \
            or _param(ph.get("content-type", ""), "name")
        if enc == "base64":
            content = _decode_base64(pbody)
        elif enc == "quoted-printable":
            content = _decode_qp(pbody)
        else:
            content = pbody.replace(b"\r\n", b"\n")
        out.append((idx, ptype, enc, name, len(content),
                    hashlib.md5(content).hexdigest()))
    return out
