"""ORC footer walking — the second lake format read BY HAND, and proof
the hand-rolled protobuf wire walker (sources/protobuf._walk)
generalizes to real third-party bytes: ORC's PostScript and Footer are
protobuf messages (https://orc.apache.org/specification/ORCv1/). The
writer is the REAL ORC writer (pyarrow.orc, uncompressed so the footer
is raw protobuf; compressed footers are honestly refused); the reader
walks from the tail: last byte = postscript length, PostScript
{1 footerLength, 2 compression, 8000 magic "ORC"}, then the Footer
{3 stripes, 4 types, 6 numberOfRows, 7 statistics} with
StripeInformation {5 numberOfRows}, Type {1 kind, 3 fieldNames} and
ColumnStatistics {1 numberOfValues, 2 intStatistics (sint64 zigzag
min/max/sum), 4 stringStatistics (min/max/total length)}.

Stripe SPLIT POINTS are writer policy, not content — so the walker
reports only the invariant the reader can verify (Σ stripe rows = total
rows) plus content-determined values (row count, field names, int and
string column statistics); tests cross-check the stripe count against
pyarrow's OWN ORCFile reader, an implementation independent of this
walker.
"""

from __future__ import annotations


from .protobuf import _unzigzag, _walk

def orc_file_spec(i: int, seed: int = 42) -> list[tuple[int, str]]:
    """Deterministic logical rows (k, v); k goes negative so the sint64
    ZigZag path in intStatistics is genuinely exercised; row counts are
    large enough that the small stripe_size forces multi-stripe files."""
    n = 2500 + (i * 331 + seed) % 2000
    return [((i * 733 + r * 97 + seed) % 80_000 - 40_000,
             f"s{i}_{r % 11}") for r in range(n)]


def build_orc(i: int, seed: int = 42) -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.orc as orc
    rows = orc_file_spec(i, seed)
    t = pa.table({"k": pa.array([k for k, _ in rows], pa.int64()),
                  "v": pa.array([v for _, v in rows], pa.string())})
    buf = io.BytesIO()
    orc.write_table(t, buf, compression="uncompressed",
                    stripe_size=4096)
    return buf.getvalue()


# ── reader (tail walk via the generic protobuf tag stream) ──────────────

def _collect(buf: bytes) -> dict[int, list]:
    out: dict[int, list] = {}
    for f, w, r in _walk(buf):
        out.setdefault(f, []).append(r)
    return out


def parse_orc_footer(raw: bytes) -> dict:
    if raw[:4] != b"ORC\n" and raw[:3] != b"ORC":
        raise ValueError("not an ORC file (bad header magic)")
    ps_len = raw[-1]
    ps = _collect(raw[-1 - ps_len:-1])
    if ps.get(8000, [b""])[0] != b"ORC":
        raise ValueError("bad postscript magic")
    if ps.get(2, [0])[0] != 0:       # CompressionKind NONE = 0
        raise NotImplementedError("compressed ORC footer unsupported")
    flen = ps[1][0]
    footer = _collect(raw[-1 - ps_len - flen:-1 - ps_len])
    n_rows = footer.get(6, [0])[0]
    stripe_rows = [_collect(s).get(5, [0])[0] for s in footer.get(3, [])]
    types = [_collect(s) for s in footer.get(4, [])]
    root = types[0] if types else {}
    names = [b.decode() for b in root.get(3, [])]
    stats = [_collect(s) for s in footer.get(7, [])]
    out = {"n_rows": n_rows, "stripe_rows": stripe_rows,
           "field_names": names}
    # column order: root, then leaves in schema order (k, v)
    if len(stats) >= 3:
        ints = _collect(stats[1].get(2, [b""])[0]) if 2 in stats[1] else {}
        out["k_min"] = _unzigzag(ints.get(1, [0])[0])
        out["k_max"] = _unzigzag(ints.get(2, [0])[0])
        out["k_sum"] = _unzigzag(ints.get(3, [0])[0])
        strs = _collect(stats[2].get(4, [b""])[0]) if 4 in stats[2] else {}
        out["v_min"] = strs.get(1, [b""])[0].decode()
        out["v_max"] = strs.get(2, [b""])[0].decode()
        out["v_total_len"] = _unzigzag(strs.get(3, [0])[0])
    return out
