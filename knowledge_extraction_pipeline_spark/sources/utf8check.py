"""UTF-8 well-formedness walking — the validation every ingestion
pipeline runs before anything else, hand-rolled from RFC 3629's
table: 1-byte 00-7F; 2-byte C2-DF + continuation; 3-byte E0 A0-BF /
E1-EC 80-BF / ED 80-9F (surrogates D800-DFFF FORBIDDEN) / EE-EF; 4-byte
F0 90-BF / F1-F3 / F4 80-8F (beyond U+10FFFF forbidden); C0/C1 and
F5-FF are never legal (overlongs / out of range). The checker walks
bytes with the shortest-form table — it never round-trips through
Python's decoder — and classifies each defect: overlong, surrogate,
out-of-range, bare continuation, truncated sequence, illegal byte.

Fixtures plant every defect class deterministically between valid
multi-byte runs, so the tests pin the validator's FAILURE taxonomy,
not just its accept path.
"""

from __future__ import annotations


_DEFECTS = [
    b"\xc0\xaf",              # overlong 2-byte
    b"\xed\xa0\x80",          # UTF-16 surrogate D800
    b"\xf5\x80\x80\x80",      # beyond U+10FFFF
    b"\x80",                  # bare continuation
    b"\xe2\x82",              # truncated 3-byte (followed by ASCII)
    b"\xc3",                  # truncated 2-byte at end of buffer
]


def utf8_doc_spec(i: int, seed: int = 42) -> dict:
    """Valid runs (ASCII + é + € + 𝄞) with 0-3 planted defects."""
    n_defects = i % 4
    defects = [_DEFECTS[(i + j * 2 + seed) % (len(_DEFECTS) - 1)]
               for j in range(n_defects)]
    tail_trunc = i % 7 == 0
    valid = ("ok" + "é" * (1 + i % 3) + "€" * (i % 2)
             + "𝄞" * (i % 2)).encode()
    return {"valid": valid, "defects": defects,
            "tail_trunc": tail_trunc,
            "n_ascii": 2, "n_2byte": 1 + i % 3, "n_3byte": i % 2,
            "n_4byte": i % 2}


def build_utf8_doc(i: int, seed: int = 42) -> bytes:
    s = utf8_doc_spec(i, seed)
    out = bytearray(s["valid"])
    for d in s["defects"]:
        out += d + b"a"     # resync on an ASCII byte after each defect
    if s["tail_trunc"]:
        out += _DEFECTS[5]
    return bytes(out)


def check_utf8(buf: bytes) -> dict:
    pos = 0
    n = len(buf)
    counts = {1: 0, 2: 0, 3: 0, 4: 0}
    errors: list[tuple[int, str]] = []

    def cont_ok(p: int, k: int) -> bool:
        return all(p + j < n and 0x80 <= buf[p + j] <= 0xBF
                   for j in range(k))

    while pos < n:
        b = buf[pos]
        if b <= 0x7F:
            counts[1] += 1
            pos += 1
        elif 0xC2 <= b <= 0xDF:
            if cont_ok(pos + 1, 1):
                counts[2] += 1
                pos += 2
            else:
                errors.append((pos, "truncated"))
                pos += 1
        elif b in (0xC0, 0xC1):
            errors.append((pos, "overlong"))
            pos += 1
        elif 0xE0 <= b <= 0xEF:
            lo, hi = 0x80, 0xBF
            kind = None
            if b == 0xE0:
                lo = 0xA0
                kind = "overlong"
            elif b == 0xED:
                hi = 0x9F
                kind = "surrogate"
            if (pos + 2 < n + 1 and pos + 1 < n
                    and lo <= buf[pos + 1] <= hi
                    and cont_ok(pos + 2, 1)):
                counts[3] += 1
                pos += 3
            elif (pos + 1 < n and 0x80 <= buf[pos + 1] <= 0xBF
                  and not (lo <= buf[pos + 1] <= hi)):
                errors.append((pos, kind or "truncated"))
                pos += 1
            else:
                errors.append((pos, "truncated"))
                pos += 1
        elif 0xF0 <= b <= 0xF4:
            lo, hi = 0x80, 0xBF
            kind = None
            if b == 0xF0:
                lo = 0x90
                kind = "overlong"
            elif b == 0xF4:
                hi = 0x8F
                kind = "out_of_range"
            if (pos + 1 < n and lo <= buf[pos + 1] <= hi
                    and cont_ok(pos + 2, 2)):
                counts[4] += 1
                pos += 4
            elif (pos + 1 < n and 0x80 <= buf[pos + 1] <= 0xBF
                  and not (lo <= buf[pos + 1] <= hi)):
                errors.append((pos, kind or "truncated"))
                pos += 1
            else:
                errors.append((pos, "truncated"))
                pos += 1
        elif 0x80 <= b <= 0xBF:
            errors.append((pos, "bare_continuation"))
            pos += 1
        else:                   # F5-FF
            errors.append((pos, "out_of_range"))
            pos += 1
    return {"counts": counts, "errors": errors}
