"""RFC 4180 CSV walking — the lowest common denominator of data
interchange, and the format most often parsed WRONG (split-on-comma
breaks on the first quoted field). The writer is the stdlib csv module
(a real, independently-implemented producer — the sqlitefile
discipline); the reader is a hand-rolled byte-level state machine from
the spec (https://www.rfc-editor.org/rfc/rfc4180): four states (field
start, unquoted, quoted, quote-seen), `""` escape pairs inside quoted
fields, embedded commas and line breaks inside quotes, both CRLF and
bare-LF record terminators, and a final record without a terminator.
Malformed input (a bare quote inside an unquoted field, bytes after a
closing quote) is an honest ValueError, not a guess.

Fixture rows deliberately contain commas, double quotes, CRLF and LF
inside fields, and empty fields, so every state transition is genuinely
exercised.
"""

from __future__ import annotations


def csv_file_spec(i: int, seed: int = 42) -> list[tuple[int, str, str]]:
    """Deterministic rows (a, b, c). b cycles through hostile shapes:
    embedded comma, embedded double quote, embedded CRLF, embedded bare
    LF, empty — so quoting, escape doubling and in-quote line breaks are
    all exercised in every file."""
    n = 8 + (i * 5 + seed) % 17
    rows = []
    for r in range(n):
        a = (i * 613 + r * 47 + seed) % 10_000 - 5_000
        k = r % 5
        if k == 0:
            b = f"plain_{i}_{r}"
        elif k == 1:
            b = f"comma,{i},{r}"
        elif k == 2:
            b = f'quote"{i}"{r}'
        elif k == 3:
            b = f"crlf\r\nline_{r}"
        else:
            b = f"lf\nline_{r}"
        c = "" if r % 4 == 0 else f"c{i}_{r}"
        rows.append((a, b, c))
    return rows


def build_csv(i: int, seed: int = 42) -> bytes:
    """REAL CSV bytes via the stdlib writer (QUOTE_MINIMAL, CRLF
    terminators — the RFC's canonical form); the reader below never
    imports csv."""
    import csv
    import io
    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, lineterminator="\r\n")
    for a, b, c in csv_file_spec(i, seed):
        w.writerow([a, b, c])
    return buf.getvalue().encode()


# ── reader: the four-state RFC 4180 machine ─────────────────────────────

def parse_csv(raw: bytes) -> list[list[str]]:
    text = raw.decode()
    records: list[list[str]] = []
    field: list[str] = []
    record: list[str] = []
    state = "START"          # START | UNQUOTED | QUOTED | QUOTE_SEEN
    pos = 0
    n = len(text)

    def end_field() -> None:
        record.append("".join(field))
        field.clear()

    def end_record() -> None:
        end_field()
        records.append(list(record))
        record.clear()

    while pos < n:
        ch = text[pos]
        if state == "START":
            if ch == '"':
                state = "QUOTED"
            elif ch == ",":
                end_field()
            elif ch == "\r" and text[pos + 1:pos + 2] == "\n":
                end_record()
                pos += 1
            elif ch == "\n":
                end_record()
            else:
                field.append(ch)
                state = "UNQUOTED"
        elif state == "UNQUOTED":
            if ch == ",":
                end_field()
                state = "START"
            elif ch == "\r" and text[pos + 1:pos + 2] == "\n":
                end_record()
                state = "START"
                pos += 1
            elif ch == "\n":
                end_record()
                state = "START"
            elif ch == '"':
                raise ValueError("bare quote in unquoted field")
            else:
                field.append(ch)
        elif state == "QUOTED":
            if ch == '"':
                state = "QUOTE_SEEN"
            else:
                field.append(ch)
        else:                # QUOTE_SEEN
            if ch == '"':    # escaped "" → literal quote, stay quoted
                field.append('"')
                state = "QUOTED"
            elif ch == ",":
                end_field()
                state = "START"
            elif ch == "\r" and text[pos + 1:pos + 2] == "\n":
                end_record()
                state = "START"
                pos += 1
            elif ch == "\n":
                end_record()
                state = "START"
            else:
                raise ValueError("data after closing quote")
        pos += 1
    if state == "QUOTED":
        raise ValueError("unterminated quoted field")
    if field or record or state in ("UNQUOTED", "QUOTE_SEEN"):
        end_record()     # final record without terminator
    return records
