"""Parquet footer walking — reading the lake format's own metadata BY
HAND. The writer is the REAL parquet writer (pyarrow), so the parser
faces independently-produced bytes (the sqlitefile discipline); the
reader never imports pyarrow.parquet — it walks the file tail per the
public specs: the `PAR1` magic, the 4-byte little-endian footer length,
and the Thrift Compact Protocol encoding of FileMetaData
(https://parquet.apache.org/docs/file-format/metadata/ +
https://github.com/apache/thrift/blob/master/doc/specs/
thrift-compact-protocol.md): short/long field headers with field-id
deltas, ZigZag varint i16/i32/i64, length-prefixed binaries, size<<4
list headers with the 0xF long form, and nested structs to the
Statistics leaves.

Only content-determined metadata is emitted — schema names, total and
per-row-group row counts (row groups are pinned by an explicit
row_group_size), and int64 column min/max statistics decoded from their
8-byte little-endian plain encoding. Byte offsets, compressed sizes and
created_by are writer-version artifacts and deliberately excluded.
"""

from __future__ import annotations


ROW_GROUP_SIZE = 50


def parquet_file_spec(i: int, seed: int = 42) -> list[tuple[int, str]]:
    """Deterministic logical rows for file i: (k, v). Pure formulas so the
    oracle re-derives counts, row-group splits and min/max stats without
    touching parquet bytes."""
    n = 60 + (i * 17 + seed) % 140
    return [((i * 733 + r * 91 + seed) % 100_000 - 50_000,
             f"s{i}_{r % 10}") for r in range(n)]


def build_parquet(i: int, seed: int = 42) -> bytes:
    """REAL parquet bytes via pyarrow (the independent writer); the
    hand-rolled reader below never touches pyarrow.parquet."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = parquet_file_spec(i, seed)
    t = pa.table({"k": pa.array([k for k, _ in rows], pa.int64()),
                  "v": pa.array([v for _, v in rows], pa.string())})
    buf = io.BytesIO()
    pq.write_table(t, buf, row_group_size=ROW_GROUP_SIZE)
    return buf.getvalue()


# ── thrift compact protocol walker ──────────────────────────────────────

def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too wide")


def _zz(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _read_value(ctype: int, buf: bytes, pos: int):
    if ctype == 1:
        return True, pos
    if ctype == 2:
        return False, pos
    if ctype == 3:                       # byte
        return buf[pos], pos + 1
    if ctype in (4, 5, 6):               # i16 / i32 / i64: zigzag varint
        u, pos = _uvarint(buf, pos)
        return _zz(u), pos
    if ctype == 7:                       # double, little-endian
        import struct
        return struct.unpack("<d", buf[pos:pos + 8])[0], pos + 8
    if ctype == 8:                       # binary / string
        ln, pos = _uvarint(buf, pos)
        return buf[pos:pos + ln], pos + ln
    if ctype in (9, 10):                 # list / set
        hdr = buf[pos]
        pos += 1
        size = hdr >> 4
        etype = hdr & 0x0F
        if size == 0xF:
            size, pos = _uvarint(buf, pos)
        out = []
        for _ in range(size):
            if etype in (1, 2):          # bool list elements: 1 byte each
                out.append(buf[pos] == 1)
                pos += 1
            else:
                v, pos = _read_value(etype, buf, pos)
                out.append(v)
        return out, pos
    if ctype == 12:                      # struct
        return _read_struct(buf, pos)
    raise NotImplementedError(f"thrift compact type {ctype}")


def _read_struct(buf: bytes, pos: int) -> tuple[dict, int]:
    out: dict[int, object] = {}
    last_id = 0
    while True:
        if pos >= len(buf):
            raise ValueError("unterminated struct")
        hdr = buf[pos]
        pos += 1
        if hdr == 0:
            return out, pos
        delta = hdr >> 4
        ctype = hdr & 0x0F
        if delta == 0:                   # long-form: explicit zigzag id
            u, pos = _uvarint(buf, pos)
            fid = _zz(u)
        else:
            fid = last_id + delta
        last_id = fid
        if ctype in (1, 2):              # bool packed into the header
            out[fid] = ctype == 1
        else:
            out[fid], pos = _read_value(ctype, buf, pos)
    raise AssertionError


def parse_footer(raw: bytes) -> dict:
    """PAR1-tail walk → the FileMetaData field tree (ids per
    parquet.thrift: 1 version, 2 schema, 3 num_rows, 4 row_groups;
    RowGroup: 1 columns, 3 num_rows; ColumnChunk: 3 meta_data;
    ColumnMetaData: 3 path_in_schema, 5 num_values, 12 statistics;
    Statistics: 5 max_value, 6 min_value)."""
    if raw[:4] != b"PAR1" or raw[-4:] != b"PAR1":
        raise ValueError("not a parquet file (bad magic)")
    flen = int.from_bytes(raw[-8:-4], "little")
    footer = raw[-8 - flen:-8]
    fmd, _ = _read_struct(footer, 0)
    schema = fmd.get(2, [])
    leaves = [el for el in schema[1:]
              if not el.get(5)]          # no num_children → leaf column
    names = [el[4].decode() for el in leaves]
    rgs = []
    for rg in fmd.get(4, []):
        cols = {}
        for chunk in rg.get(1, []):
            md = chunk.get(3, {})
            path = ".".join(p.decode() for p in md.get(3, []))
            stats = md.get(12, {})
            mn = stats.get(6, stats.get(2))
            mx = stats.get(5, stats.get(1))
            cols[path] = {
                "num_values": md.get(5),
                "min": int.from_bytes(mn, "little", signed=True)
                if isinstance(mn, (bytes, bytearray)) and len(mn) == 8
                else None,
                "max": int.from_bytes(mx, "little", signed=True)
                if isinstance(mx, (bytes, bytearray)) and len(mx) == 8
                else None,
            }
        rgs.append({"num_rows": rg.get(3), "cols": cols})
    return {"version": fmd.get(1), "num_rows": fmd.get(3),
            "leaf_names": names, "row_groups": rgs}
