"""iCalendar (RFC 5545) walking with recurrence expansion — the
scheduling-data ingestion surface (calendar exports are a common
personal-data container, and RRULE expansion is the part naive parsers
skip). The writer emits spec-shaped .ics text with the 75-octet LINE
FOLDING the RFC requires (continuation lines start with one space); the
reader UNFOLDS first (CRLF + leading space/tab join), walks
BEGIN:VEVENT/END:VEVENT blocks, parses DTSTART (basic UTC form
YYYYMMDDTHHMMSSZ) and RRULE parts, and expands two recurrence shapes
exactly per the RFC:

  FREQ=DAILY;INTERVAL=k;COUNT=n   → dtstart + j·k days, j < n
  FREQ=WEEKLY;BYDAY=..;COUNT=n    → chronological days ≥ dtstart whose
                                    weekday is in BYDAY (INTERVAL=1),
                                    first n occurrences

Anything else (UNTIL, BYMONTHDAY, INTERVAL>1 weekly, timezone-local
DTSTART) is an honest NotImplementedError — wrong calendar math is
worse than refusal."""

from __future__ import annotations

from datetime import datetime, timedelta


_BYDAY_SETS = ["MO,WE,FR", "TU,TH", "SA,SU", "MO,TU,WE,TH,FR"]
_DAY_CODES = ["MO", "TU", "WE", "TH", "FR", "SA", "SU"]  # 0=Monday


def ics_cal_spec(i: int, seed: int = 42) -> list[dict]:
    """Deterministic events for calendar i. SUMMARY is long enough to
    force RFC 5545 line folding in the writer."""
    events = []
    for j in range(2 + i % 3):
        start = (datetime(2026, 1, 1, (j * 7) % 24, 30)
                 + timedelta(days=(i * 3 + j * 5) % 60))
        if j % 2 == 0:
            rule = {"freq": "DAILY", "interval": 1 + (i + j) % 3,
                    "count": 4 + (i + j) % 10}
        else:
            rule = {"freq": "WEEKLY",
                    "byday": _BYDAY_SETS[(i + j) % len(_BYDAY_SETS)],
                    "count": 5 + (i % 6)}
        events.append({
            "uid": f"ev-{i}-{j}@example.invalid",
            "dtstart": start,
            "rule": rule,
            "summary": (f"Event {i}/{j} — a deliberately long summary "
                        f"line that must be folded at seventy-five "
                        f"octets per RFC 5545 section 3.1 " + "pad" * j),
        })
    return events


def expand_rrule(dtstart: datetime, rule: dict) -> list[datetime]:
    if rule["freq"] == "DAILY":
        step = timedelta(days=rule.get("interval", 1))
        return [dtstart + j * step for j in range(rule["count"])]
    if rule["freq"] == "WEEKLY":
        if rule.get("interval", 1) != 1:
            raise NotImplementedError("weekly INTERVAL>1 unsupported")
        want = {d for d in rule["byday"].split(",")}
        out = []
        day = dtstart
        while len(out) < rule["count"]:
            if _DAY_CODES[day.weekday()] in want:
                out.append(day)
            day += timedelta(days=1)
        return out
    raise NotImplementedError(f"FREQ={rule['freq']} unsupported")


def _fold(line: str) -> str:
    """RFC 5545 §3.1: lines longer than 75 octets are folded with
    CRLF + single space continuations."""
    raw = line.encode()
    if len(raw) <= 75:
        return line
    parts = [raw[:75]]
    raw = raw[75:]
    while raw:
        parts.append(raw[:74])
        raw = raw[74:]
    return "\r\n ".join(p.decode() for p in parts)


def _fmt(dt: datetime) -> str:
    return dt.strftime("%Y%m%dT%H%M%SZ")


def build_ics(i: int, seed: int = 42) -> bytes:
    lines = ["BEGIN:VCALENDAR", "VERSION:2.0",
             "PRODID:-//kep-spark//synthetic//EN"]
    for ev in ics_cal_spec(i, seed):
        r = ev["rule"]
        if r["freq"] == "DAILY":
            rr = (f"FREQ=DAILY;INTERVAL={r['interval']}"
                  f";COUNT={r['count']}")
        else:
            rr = f"FREQ=WEEKLY;BYDAY={r['byday']};COUNT={r['count']}"
        lines += ["BEGIN:VEVENT", f"UID:{ev['uid']}",
                  f"DTSTART:{_fmt(ev['dtstart'])}", f"RRULE:{rr}",
                  _fold(f"SUMMARY:{ev['summary']}"), "END:VEVENT"]
    lines.append("END:VCALENDAR")
    return ("\r\n".join(lines) + "\r\n").encode()


# ── reader ──────────────────────────────────────────────────────────────

def _unfold(text: str) -> list[str]:
    lines = text.split("\r\n")
    out: list[str] = []
    for ln in lines:
        if ln[:1] in (" ", "\t") and out:
            out[-1] += ln[1:]
        elif ln:
            out.append(ln)
    return out


def parse_ics(raw: bytes) -> list[dict]:
    lines = _unfold(raw.decode())
    events: list[dict] = []
    cur: dict | None = None
    for ln in lines:
        if ln == "BEGIN:VEVENT":
            cur = {}
        elif ln == "END:VEVENT":
            if cur is None:
                raise ValueError("END:VEVENT without BEGIN")
            events.append(cur)
            cur = None
        elif cur is not None:
            key, _, val = ln.partition(":")
            cur[key] = val
    out = []
    for ev in events:
        ds = ev["DTSTART"]
        if not ds.endswith("Z"):
            raise NotImplementedError("non-UTC DTSTART unsupported")
        dtstart = datetime.strptime(ds, "%Y%m%dT%H%M%SZ")
        parts = dict(p.split("=", 1) for p in ev["RRULE"].split(";"))
        if "UNTIL" in parts or "BYMONTHDAY" in parts:
            raise NotImplementedError("UNTIL/BYMONTHDAY unsupported")
        rule: dict = {"freq": parts["FREQ"],
                      "count": int(parts["COUNT"])}
        if "INTERVAL" in parts:
            rule["interval"] = int(parts["INTERVAL"])
        if "BYDAY" in parts:
            rule["byday"] = parts["BYDAY"]
        occs = expand_rrule(dtstart, rule)
        out.append({"uid": ev["UID"], "freq": parts["FREQ"],
                    "occurrences": occs,
                    "summary": ev.get("SUMMARY", "")})
    return out
