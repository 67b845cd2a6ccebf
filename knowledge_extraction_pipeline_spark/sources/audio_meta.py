"""Compressed-audio METADATA parsers — FLAC STREAMINFO and MPEG-1 Layer
III (MP3) frame-header walks. Deliberately metadata-only, like the MP4 box
walk (sources/multimodal.parse_mp4): the entropy-coded audio payloads stay
opaque (honest scope — no codec libs in this sandbox), but everything a
corpus manifest needs (rates, channels, durations, frame accounting,
VBR detection, embedded signature) is parsed bit-exactly from the public
specs (xiph.org FLAC format; ISO/IEC 11172-3 header layout). Writers pack
the bytes with int.to_bytes/manual bit math; parsers re-derive fields
independently."""

from __future__ import annotations

import struct

import numpy as np

# ───────────────────────── FLAC STREAMINFO ─────────────────────────

def encode_flac_streaminfo(min_bs: int, max_bs: int, min_fs: int,
                           max_fs: int, rate: int, channels: int,
                           bps: int, total: int, md5_digest: bytes,
                           padding: int = 64) -> bytes:
    """Genuine FLAC metadata bytes: 'fLaC' magic, a STREAMINFO block
    (type 0, 34 bytes, bit-packed per the xiph spec) and a PADDING block
    carrying the last-metadata-block flag."""
    if not (rate < (1 << 20) and 1 <= channels <= 8 and 4 <= bps <= 32
            and total < (1 << 36)):
        raise ValueError("field out of STREAMINFO bit range")
    body = (min_bs.to_bytes(2, "big") + max_bs.to_bytes(2, "big")
            + min_fs.to_bytes(3, "big") + max_fs.to_bytes(3, "big"))
    packed = (rate << 44) | ((channels - 1) << 41) | ((bps - 1) << 36) | total
    body += packed.to_bytes(8, "big") + md5_digest
    assert len(body) == 34
    out = b"fLaC"
    out += bytes([0x00]) + len(body).to_bytes(3, "big") + body
    out += bytes([0x80 | 0x01]) + padding.to_bytes(3, "big") \
        + b"\x00" * padding
    return out


def parse_flac_streaminfo(
        payload: bytes) -> tuple[int, int, int, int, int, str]:
    """Hand-rolled STREAMINFO parse: metadata-block walk honoring the
    last-block flag, then the 20/3/5/36-bit field group unpacked from the
    big-endian 64-bit word. Returns (rate, channels, bps, total_samples,
    n_blocks, md5_hex)."""
    if payload[:4] != b"fLaC":
        raise NotImplementedError("not a FLAC payload")
    off = 4
    info = None
    n_blocks = 0
    while off + 4 <= len(payload):
        hdr = payload[off]
        btype = hdr & 0x7F
        blen = int.from_bytes(payload[off + 1:off + 4], "big")
        body = payload[off + 4:off + 4 + blen]
        n_blocks += 1
        if btype == 0:
            packed = int.from_bytes(body[10:18], "big")
            rate = packed >> 44
            channels = ((packed >> 41) & 0x07) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            info = (rate, channels, bps, total, body[18:34].hex())
        off += 4 + blen
        if hdr & 0x80:
            break
    if info is None:
        raise NotImplementedError("no STREAMINFO block")
    rate, channels, bps, total, md5hex = info
    return rate, channels, bps, total, n_blocks, md5hex


# ───────────────────── MPEG-1 Layer III frames ─────────────────────

MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                256, 320)                      # kbps, MPEG-1 Layer III
MP3_RATES = (44100, 48000, 32000)


def mp3_frame_spec(i: int, seed: int = 42) -> tuple[int, list[tuple[int, int]]]:
    """(rate_idx, [(bitrate_idx, padding), ...]) as pure formulas of i."""
    rate_idx = i % 3
    n_frames = 40 + (i % 7) * 10
    frames = [(1 + (i * (j + 1) + seed) % 14, 1 if j % 3 == 0 else 0)
              for j in range(n_frames)]
    return rate_idx, frames


def encode_mp3(i: int, seed: int = 42) -> bytes:
    """Genuine MPEG-1 Layer III byte stream: an ID3v2.3 tag (syncsafe
    size) followed by frames whose headers carry real bitrate/samplerate
    indices and whose lengths follow 144·bitrate/rate + padding."""
    rate_idx, frames = mp3_frame_spec(i, seed)
    rate = MP3_RATES[rate_idx]
    tag_body = bytes((i * 31 + j * 7 + seed) % 256
                     for j in range(100 + i % 50))
    size = len(tag_body)
    syncsafe = bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                      (size >> 7) & 0x7F, size & 0x7F])
    out = b"ID3" + bytes([3, 0, 0]) + syncsafe + tag_body
    for j, (bidx, pad) in enumerate(frames):
        bitrate = MP3_BITRATES[bidx]
        flen = (144 * bitrate * 1000) // rate + pad
        hdr = bytes([0xFF, 0xFB, (bidx << 4) | (rate_idx << 2) | (pad << 1),
                     0x00])
        filler = bytes((i + j * 13 + k) % 256 for k in range(flen - 4))
        out += hdr + filler
    return out


def parse_mp3_frames(payload: bytes) -> tuple[int, int, int, int]:
    """Hand-rolled MP3 walk: skip the ID3v2 tag via its syncsafe size,
    then iterate frame headers — 11-bit sync, MPEG-1 Layer III only,
    bitrate/samplerate table decode, padded frame-length advance.
    Returns (sample_rate, n_frames, sum_bitrate_kbps, is_vbr)."""
    off = 0
    if payload[:3] == b"ID3":
        size = ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14) \
            | ((payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        off = 10 + size
    rates = set()
    bitrates = []
    n = len(payload)
    while off + 4 <= n:
        b0, b1, b2 = payload[off], payload[off + 1], payload[off + 2]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        version = (b1 >> 3) & 0x03
        layer = (b1 >> 1) & 0x03
        if version != 3 or layer != 1:
            raise NotImplementedError("only MPEG-1 Layer III supported")
        bidx = (b2 >> 4) & 0x0F
        ridx = (b2 >> 2) & 0x03
        pad = (b2 >> 1) & 0x01
        if bidx in (0, 15) or ridx == 3:
            raise NotImplementedError("free-form/bad bitrate or rate index")
        rate = MP3_RATES[ridx]
        bitrate = MP3_BITRATES[bidx]
        rates.add(rate)
        bitrates.append(bitrate)
        off += (144 * bitrate * 1000) // rate + pad
    if not bitrates or len(rates) != 1:
        raise NotImplementedError("no frames or mixed sample rates")
    return (rates.pop(), len(bitrates), sum(bitrates),
            int(len(set(bitrates)) > 1))


# ───────────────── IMA ADPCM (WAV format 0x11) ─────────────────

IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)


def _ima_clamp16(v: int) -> int:
    return -32768 if v < -32768 else (32767 if v > 32767 else v)


def _ima_encode_sample(sample: int, pred: int, idx: int) -> tuple[int, int, int]:
    step = IMA_STEP_TABLE[idx]
    diff = sample - pred
    nib = 0
    if diff < 0:
        nib = 8
        diff = -diff
    d = 0
    if diff >= step:
        nib |= 4
        diff -= step
        d += step
    if diff >= step >> 1:
        nib |= 2
        diff -= step >> 1
        d += step >> 1
    if diff >= step >> 2:
        nib |= 1
        d += step >> 2
    d += step >> 3
    pred = _ima_clamp16(pred - d if nib & 8 else pred + d)
    idx = max(0, min(88, idx + IMA_INDEX_TABLE[nib]))
    return nib, pred, idx


def _ima_decode_nibble(nib: int, pred: int, idx: int) -> tuple[int, int]:
    step = IMA_STEP_TABLE[idx]
    d = step >> 3
    if nib & 1:
        d += step >> 2
    if nib & 2:
        d += step >> 1
    if nib & 4:
        d += step
    pred = _ima_clamp16(pred - d if nib & 8 else pred + d)
    idx = max(0, min(88, idx + IMA_INDEX_TABLE[nib]))
    return pred, idx


_IMA_BLOCK_ALIGN = 256                    # mono: 4-byte header + 252 data
_IMA_SPB = 1 + (_IMA_BLOCK_ALIGN - 4) * 2  # samples per block = 505


def encode_wav_adpcm(rate: int, x: np.ndarray) -> bytes:
    """Genuine WAV format-0x11 (IMA/DVI ADPCM) bytes: 20-byte fmt with
    cbSize=2 + samplesPerBlock, fact chunk, block headers carrying the
    seed predictor/index, 4-bit nibbles little-end-first."""
    samples = [int(v) for v in x]
    blocks = bytearray()
    idx = 0
    i = 0
    n = len(samples)
    while i < n:
        chunk = samples[i:i + _IMA_SPB]
        pred = chunk[0]
        blocks += struct.pack("<hBB", pred, idx, 0)
        nibs = []
        for s in chunk[1:]:
            nib, pred, idx = _ima_encode_sample(s, pred, idx)
            nibs.append(nib)
        while len(nibs) < _IMA_SPB - 1:
            nib, pred, idx = _ima_encode_sample(pred, pred, idx)
            nibs.append(nib)
        for j in range(0, len(nibs), 2):
            blocks.append(nibs[j] | (nibs[j + 1] << 4))
        i += _IMA_SPB
    n_blocks = (n + _IMA_SPB - 1) // _IMA_SPB
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, rate,
                      rate * _IMA_BLOCK_ALIGN // _IMA_SPB,
                      _IMA_BLOCK_ALIGN, 4, 2, _IMA_SPB)
    fact = struct.pack("<I", n_blocks * _IMA_SPB)
    out = b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"fact" + struct.pack("<I", len(fact)) + fact
    out += b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    return b"RIFF" + struct.pack("<I", len(out)) + out


def decode_wav_adpcm(payload: bytes) -> tuple[int, np.ndarray]:
    """Hand-rolled RIFF walk + IMA ADPCM expansion: per block, the seed
    predictor/index come from the block header, then each 4-bit nibble
    steps the exact integer predictor recurrence (step/index tables from
    the IMA spec)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    off = 12
    fmt = data = None
    while off + 8 <= len(payload):
        cid = payload[off:off + 4]
        ln = struct.unpack("<I", payload[off + 4:off + 8])[0]
        if cid == b"fmt ":
            fmt = payload[off + 8:off + 8 + ln]
        elif cid == b"data":
            data = payload[off + 8:off + 8 + ln]
        off += 8 + ln + (ln % 2)
    if fmt is None or data is None:
        raise NotImplementedError("missing fmt/data chunk")
    tag, ch, rate, _, balign, bits = struct.unpack("<HHIIHH", fmt[:16])
    if tag != 0x11 or ch != 1 or bits != 4:
        raise NotImplementedError("only mono 4-bit IMA ADPCM supported")
    out: list[int] = []
    for boff in range(0, len(data), balign):
        block = data[boff:boff + balign]
        pred, idx, _ = struct.unpack("<hBB", block[:4])
        out.append(pred)
        for b in block[4:]:
            for nib in (b & 0x0F, b >> 4):
                pred, idx = _ima_decode_nibble(nib, pred, idx)
                out.append(pred)
    return rate, np.array(out, np.int16)
