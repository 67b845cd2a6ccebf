"""XPM (X PixMap v3) walking — the text-format image: a C array
literal whose strings carry a "<w> <h> <ncolors> <cpp>" values line,
a color table mapping <cpp>-character keys to '#RRGGBB' colors or the
'None' transparency sentinel, and <h> pixel rows of exactly
w*cpp characters. Writer and reader are hand-rolled from the public
XPM3 spec: C block comments are stripped, strings are extracted
between double quotes, characters-per-pixel of 1 AND 2 are exercised
(the cpp=2 case breaks every reader that indexes rows bytewise), and
the walk VERIFIES the declared geometry against the actual rows —
wrong row length, unknown pixel key, duplicate color key, and cpp > 2
are all refused. Transparent pixels are counted via the 'None'
sentinel.

Reference analog: none (the reference ingests PDFs only); this sits
beside the binary image walks (BMP/PNG/GIF/...) as the text-encoded
image surface.
"""

from __future__ import annotations

import re


_KEYS1 = "abcdefgh"
_KEYS2 = ["aa", "ab", "ba", "bb", "ca", "cb", "da", "db"]


def xpm_file_spec(i: int, seed: int = 42) -> dict:
    """Deterministic geometry, palette and pixel formula for file i."""
    ncolors = 2 + i % 4
    cpp = 2 if i % 7 == 3 else 1
    keys = (_KEYS2 if cpp == 2 else list(_KEYS1))[:ncolors]
    colors = []
    for k in range(ncolors):
        if i % 5 == 2 and k == ncolors - 1:
            colors.append("None")
        else:
            colors.append("#%06X" % ((i * 654321 + k * 123457 + seed)
                                     % 0x1000000))
    return {
        "width": 8 + i % 9,
        "height": 6 + i % 5,
        "ncolors": ncolors,
        "cpp": cpp,
        "keys": keys,
        "colors": colors,
    }


def pixel_index(i: int, x: int, y: int, ncolors: int) -> int:
    return (x * 3 + y * 7 + i) % ncolors


def build_xpm(i: int, seed: int = 42) -> bytes:
    sp = xpm_file_spec(i, seed)
    lines = ["/* XPM */", "static char * graft_%d[] = {" % i,
             '"%d %d %d %d",' % (sp["width"], sp["height"],
                                 sp["ncolors"], sp["cpp"])]
    for k, col in zip(sp["keys"], sp["colors"]):
        lines.append('"%s c %s",' % (k, col))
    for y in range(sp["height"]):
        row = "".join(sp["keys"][pixel_index(i, x, y, sp["ncolors"])]
                      for x in range(sp["width"]))
        lines.append('"%s",' % row)
    lines.append("};")
    return "\n".join(lines).encode()


# ── reader ──────────────────────────────────────────────────────────────

def parse_xpm(raw: bytes) -> dict:
    text = raw.decode("ascii")
    text = re.sub(r"/\*.*?\*/", "", text, flags=re.S)
    strings = re.findall(r'"([^"]*)"', text)
    if not strings:
        raise ValueError("no XPM strings found")
    head = strings[0].split()
    if len(head) != 4:
        raise ValueError("bad XPM values line")
    w, h, nc, cpp = (int(x) for x in head)
    if cpp > 2:
        raise NotImplementedError(f"cpp {cpp} unsupported")
    if len(strings) != 1 + nc + h:
        raise ValueError("string count != 1 + ncolors + height")
    palette: dict[str, str] = {}
    for line in strings[1:1 + nc]:
        key = line[:cpp]
        m = re.match(r"^.{%d}\s+c\s+(\S+)$" % cpp, line)
        if not m:
            raise ValueError(f"bad color line {line!r}")
        if key in palette:
            raise ValueError(f"duplicate color key {key!r}")
        palette[key] = m.group(1)
    keys = list(palette)
    idx = {k: n for n, k in enumerate(keys)}
    n_transparent = 0
    index_sum = 0
    rows = []
    for line in strings[1 + nc:]:
        if len(line) != w * cpp:
            raise ValueError("pixel row length != width * cpp")
        row = []
        for x in range(w):
            key = line[x * cpp:(x + 1) * cpp]
            if key not in idx:
                raise ValueError(f"unknown pixel key {key!r}")
            row.append(idx[key])
            index_sum += idx[key]
            if palette[key] == "None":
                n_transparent += 1
        rows.append(row)
    return {
        "width": w, "height": h, "n_colors": nc, "cpp": cpp,
        "palette": palette, "n_transparent": n_transparent,
        "index_sum": index_sum, "rows": rows,
    }
