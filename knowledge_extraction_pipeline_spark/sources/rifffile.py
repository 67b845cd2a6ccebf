"""RIFF/AVI container walking — the video-container surface in its
original chunked form (Microsoft AVI RIFF spec): the little-endian
"RIFF"+size+"AVI " envelope, the nested LIST tree (hdrl → avih main
header, one strl per stream with strh/strf, then movi holding the
actual '00dc' frame / '01wb' audio chunks), the WORD-ALIGNMENT trap
(odd-sized chunk data is followed by one pad byte NOT counted in the
chunk size — walkers that skip `size` instead of `size + size%2`
desynchronize on the first odd frame), and the optional idx1 index
whose entry offsets are VERIFIED against the movi chunk positions
they claim to point at (offset convention: from the first byte of the
'movi' fourcc). The avih total_frames field is cross-checked against
the actual count of video chunks and the verdict pinned per file.
Big-endian RIFX and non-AVI RIFF forms (e.g. WAVE) are honestly
refused rather than half-parsed.

Reference analog: none (the reference ingests PDFs only,
core/document_processor.py:91-177); this extends the engine's
multimodal surface next to the MP4 box walk.
"""

from __future__ import annotations

import hashlib
import struct


def avi_file_spec(i: int, seed: int = 42) -> dict:
    """Deterministic AVI layout for file i: geometry, frame/audio
    chunk sizes (odd sizes on purpose — they exercise the pad byte),
    index presence."""
    n_frames = 4 + (i * 3 + seed) % 9
    frames = [(i * 53 + f * 97) % 600 + 1 for f in range(n_frames)]
    has_audio = i % 3 == 0
    audio = [(i * 29 + a * 71) % 300 + 1
             for a in range(2 + i % 3)] if has_audio else []
    return {
        "width": 160 + 16 * (i % 8),
        "height": 120 + 8 * (i % 5),
        "fps_rate": 10 + i % 20,
        "frames": frames,
        "audio": audio,
        "has_idx": i % 2 == 0,
    }


def frame_bytes(i: int, f: int, size: int) -> bytes:
    return bytes((i * 7 + f * 3 + q) % 253 for q in range(size))


def audio_bytes(i: int, a: int, size: int) -> bytes:
    return bytes((i * 11 + a * 5 + q) % 249 for q in range(size))


def _chunk(fourcc: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _list(fourcc: bytes, body: bytes) -> bytes:
    return b"LIST" + struct.pack("<I", 4 + len(body)) + fourcc + body


def build_avi(i: int, seed: int = 42) -> bytes:
    sp = avi_file_spec(i, seed)
    w, h = sp["width"], sp["height"]
    n_streams = 1 + (1 if sp["audio"] else 0)
    avih = struct.pack(
        "<IIIIIIIIII", 1_000_000 // sp["fps_rate"], 0, 0,
        0x10 if sp["has_idx"] else 0, len(sp["frames"]), 0,
        n_streams, 0, w, h) + b"\x00" * 16
    strh_v = (b"vids" + b"RAW " + struct.pack("<IHHIIIIIIII", 0, 0, 0,
              0, 1, sp["fps_rate"], 0, len(sp["frames"]), 0, 0, 0)
              + struct.pack("<hhhh", 0, 0, w, h))
    strf_v = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                         w * h * 3, 0, 0, 0, 0)
    strl = _list(b"strl", _chunk(b"strh", strh_v)
                 + _chunk(b"strf", strf_v))
    if sp["audio"]:
        strh_a = (b"auds" + b"\x00" * 4
                  + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 8000,
                                0, sum(sp["audio"]), 0, 0, 0)
                  + struct.pack("<hhhh", 0, 0, 0, 0))
        strf_a = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        strl += _list(b"strl", _chunk(b"strh", strh_a)
                      + _chunk(b"strf", strf_a))
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + strl)
    movi_chunks = []
    for f, size in enumerate(sp["frames"]):
        movi_chunks.append(_chunk(b"00dc", frame_bytes(i, f, size)))
    for a, size in enumerate(sp["audio"]):
        movi_chunks.append(_chunk(b"01wb", audio_bytes(i, a, size)))
    movi_body = b"".join(movi_chunks)
    movi = _list(b"movi", movi_body)
    idx = b""
    if sp["has_idx"]:
        entries, off = [], 4           # offset 0 = 'movi' fourcc byte
        for f, size in enumerate(sp["frames"]):
            entries.append(struct.pack("<4sIII", b"00dc", 0x10,
                                       off, size))
            off += 8 + size + size % 2
        for a, size in enumerate(sp["audio"]):
            entries.append(struct.pack("<4sIII", b"01wb", 0x10,
                                       off, size))
            off += 8 + size + size % 2
        idx = _chunk(b"idx1", b"".join(entries))
    body = b"AVI " + hdrl + movi + idx
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ── reader ──────────────────────────────────────────────────────────────

def _walk_chunks(raw: bytes, pos: int, end: int):
    """Yield (fourcc, data_start, size) while enforcing word
    alignment; raises on truncation."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated chunk header")
        fourcc = raw[pos:pos + 4]
        size = struct.unpack("<I", raw[pos + 4:pos + 8])[0]
        if pos + 8 + size > end:
            raise ValueError("truncated chunk body")
        yield fourcc, pos + 8, size
        pos += 8 + size + size % 2


def parse_avi(raw: bytes) -> dict:
    if raw[:4] == b"RIFX":
        raise NotImplementedError("big-endian RIFX unsupported")
    if raw[:4] != b"RIFF":
        raise ValueError("not a RIFF file")
    total = struct.unpack("<I", raw[4:8])[0]
    if 8 + total > len(raw):
        raise ValueError("truncated RIFF body")
    form = raw[8:12]
    if form != b"AVI ":
        raise NotImplementedError(f"RIFF form {form!r} unsupported")
    avih = None
    stream_types: list[bytes] = []
    movi_at = None
    movi_chunks = []        # (fourcc, offset_from_movi_fourcc, size)
    idx_entries = None
    frames_data = []
    n_odd = 0

    def walk_list(pos, end):
        nonlocal avih, movi_at, idx_entries, n_odd
        for fourcc, at, size in _walk_chunks(raw, pos, end):
            data = raw[at:at + size]
            if fourcc == b"LIST":
                kind = data[:4]
                if kind == b"movi":
                    movi_at = at
                    for fc, cat, csz in _walk_chunks(raw, at + 4,
                                                     at + size):
                        movi_chunks.append((fc, cat - 8 - at, csz))
                        if csz % 2:
                            n_odd += 1
                        if fc.endswith(b"dc"):
                            frames_data.append(raw[cat:cat + csz])
                else:
                    walk_list(at + 4, at + size)
            elif fourcc == b"avih":
                avih = struct.unpack("<IIIIIIIIII", data[:40])
            elif fourcc == b"strh":
                stream_types.append(data[:4])
            elif fourcc == b"idx1":
                idx_entries = [struct.unpack("<4sIII",
                                             data[k:k + 16])
                               for k in range(0, size, 16)]

    walk_list(12, 8 + total)
    if avih is None or movi_at is None:
        raise ValueError("missing avih or movi")
    idx_ok = None
    if idx_entries is not None:
        idx_ok = len(idx_entries) == len(movi_chunks) and all(
            (fc, off, sz) == (mfc, moff, msz)
            for (fc, _, off, sz), (mfc, moff, msz)
            in zip(idx_entries, movi_chunks))
    n_frame_chunks = sum(1 for fc, _, _ in movi_chunks
                         if fc.endswith(b"dc"))
    return {
        "width": avih[8], "height": avih[9],
        "n_streams": avih[6], "total_frames": avih[4],
        "n_frame_chunks": n_frame_chunks,
        "frames_match": avih[4] == n_frame_chunks,
        "n_audio_chunks": sum(1 for fc, _, _ in movi_chunks
                              if fc.endswith(b"wb")),
        "n_odd_padded": n_odd,
        "has_idx1": idx_entries is not None,
        "idx_ok": idx_ok,
        "movi_bytes": sum(sz for _, _, sz in movi_chunks),
        "frames_md5": hashlib.md5(b"|".join(frames_data)).hexdigest(),
        "stream_types": stream_types,
    }
