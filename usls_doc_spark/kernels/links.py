"""Hyperlink extraction from raw HTML — the crawl-frontier / anchor-text
lens over the same pages the boilerplate parser strips.

Anchor text is a first-class web-curation signal (link-graph ranking,
crawl prioritization, anchor-based document expansion a la ORCAS): for
every ``<a href=...>...</a>`` on a page, emit (href, visible anchor
text). The boilerplate parser (kernels/boilerplate.py) deliberately
DISCARDS nav/footer link text as boilerplate; this kernel is the
complementary view that keeps exactly those links.

Pure stdlib (re + html.unescape), no Spark imports — the Spark side
(pipeline/links.py) runs it per page through pipeline/crossing.map_rows.
"""

from __future__ import annotations

import re
from html import unescape

# An anchor open tag with an href attribute, through the nearest close
# tag. HTML forbids nested <a>, so the non-greedy body never spans
# another anchor on well-formed markup; on malformed markup the scan
# degrades to shorter captures (never raises).
_ANCHOR_RE = re.compile(
    r"<a\s[^>]*?href\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]+))[^>]*>"
    r"(.*?)</a\s*>",
    re.IGNORECASE | re.DOTALL,
)
_TAG_STRIP_RE = re.compile(r"<[^>]*>")


def extract_links(html: str) -> list[tuple[str, str]]:
    """(href, anchor_text) pairs in document order. Inner markup is
    stripped, entities unescaped, whitespace collapsed — the same text
    normalization the block parser applies to block text."""
    out: list[tuple[str, str]] = []
    for m in _ANCHOR_RE.finditer(html):
        href = m.group(2) or m.group(3) or m.group(4) or ""
        body = _TAG_STRIP_RE.sub(" ", m.group(5))
        text = " ".join(unescape(body).split())
        out.append((unescape(href), text))
    return out
