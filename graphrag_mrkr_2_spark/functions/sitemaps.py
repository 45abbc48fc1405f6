"""Sitemap parsing (sitemaps.org protocol) for the crawl-frontier path.

Robots files advertise sitemaps (functions/robots.py surfaces the lines);
this parses the documents they point at: XML ``urlset`` and
``sitemapindex`` (with or without the namespace, as served in the wild),
gzip-compressed variants, and the plain-text one-URL-per-line format.
Parsing rides xml.parsers.expat directly with entity declarations
REJECTED and a size cap — a crawled sitemap is untrusted input and the
classic billion-laughs entity bomb must die at the parser, not in memory.

Returns (kind, entries): kind ∈ {"urlset", "sitemapindex", "text"} and
entries a list of {loc, lastmod, changefreq, priority} dicts (index
entries carry loc/lastmod only). Raises ValueError on malformed input —
callers quarantine per payload. The reference has no crawling layer.
"""

from __future__ import annotations

import gzip
import io
import zlib

_MAX_SITEMAP_BYTES = 52_428_800  # the protocol's own 50 MB limit
_MAX_URLS = 50_000               # likewise


def bounded_gunzip(data: bytes) -> bytes:
    """STREAM-decompress a gzip member with the cap applied as bytes
    materialize — a one-shot gzip.decompress would fully expand a ~1000:1
    bomb before any size check could run (review r7). Raises ValueError on
    a bad member or a cap overflow (shared by parse_sitemap and the
    discovery-expansion operator; review r8)."""
    try:
        with gzip.GzipFile(fileobj=io.BytesIO(data)) as gf:
            out = gf.read(_MAX_SITEMAP_BYTES + 1)
    except (OSError, EOFError, zlib.error) as e:
        raise ValueError(f"bad gzip member: {e}") from e
    if len(out) > _MAX_SITEMAP_BYTES:
        raise ValueError(
            f"gzip member exceeds the {_MAX_SITEMAP_BYTES >> 20} MB decompression cap"
        )
    return out


def parse_sitemap(data: bytes) -> tuple[str, list[dict]]:
    if data[:2] == b"\x1f\x8b":
        try:
            data = bounded_gunzip(data)
        except ValueError as e:
            raise ValueError(f"sitemap: {e}") from e
    if len(data) > _MAX_SITEMAP_BYTES:
        raise ValueError("sitemap: exceeds the 50 MB protocol limit")
    if data.startswith(b"\xef\xbb\xbf"):
        data = data[3:]  # BOM stripped for BOTH the XML and text paths
    head = data.lstrip()[:200]
    if head.startswith(b"<"):
        return _parse_xml(data)
    # plain-text sitemap: one absolute URL per line
    urls = []
    for line in data.decode("utf-8", "replace").splitlines():
        line = line.strip()
        if not line:
            continue
        if not line.lower().startswith(("http://", "https://")):
            raise ValueError("sitemap: non-URL line in text sitemap")
        urls.append({"loc": line, "lastmod": None, "changefreq": None,
                     "priority": None})
        if len(urls) > _MAX_URLS:
            raise ValueError("sitemap: exceeds the 50k-URL protocol limit")
    if not urls:
        raise ValueError("sitemap: empty")
    return "text", urls


def _parse_xml(data: bytes) -> tuple[str, list[dict]]:
    from xml.parsers import expat

    parser = expat.ParserCreate(namespace_separator=" ")

    def _reject_entities(*_args):
        raise ValueError("sitemap: entity declarations are not allowed")

    parser.EntityDeclHandler = _reject_entities
    parser.ExternalEntityRefHandler = lambda *a: 0  # refuse resolution

    state = {"root": None, "stack": [], "cur": None, "text": []}
    entries: list[dict] = []

    def _local(name: str) -> str:
        return name.rsplit(" ", 1)[-1].lower()

    def start(name, _attrs):
        tag = _local(name)
        state["stack"].append(tag)
        depth = len(state["stack"])
        if depth == 1:
            if tag not in ("urlset", "sitemapindex"):
                raise ValueError(f"sitemap: unexpected root <{tag}>")
            state["root"] = tag
        elif depth == 2 and tag in ("url", "sitemap"):
            state["cur"] = {"loc": None, "lastmod": None,
                            "changefreq": None, "priority": None}
        state["text"] = []

    def chars(text):
        state["text"].append(text)

    def end(name):
        tag = _local(name)
        depth = len(state["stack"])
        cur = state["cur"]
        if depth == 3 and cur is not None and \
                tag in ("loc", "lastmod", "changefreq", "priority"):
            cur[tag] = "".join(state["text"]).strip() or None
        elif depth == 2 and cur is not None:
            if cur["loc"]:
                entries.append(cur)
                if len(entries) > _MAX_URLS:
                    raise ValueError(
                        "sitemap: exceeds the 50k-URL protocol limit")
            state["cur"] = None
        state["stack"].pop()
        state["text"] = []

    parser.StartElementHandler = start
    parser.EndElementHandler = end
    parser.CharacterDataHandler = chars
    try:
        parser.Parse(data, True)
    except expat.ExpatError as e:
        raise ValueError(f"sitemap: malformed XML: {e}") from e
    if state["root"] is None:
        raise ValueError("sitemap: no root element")
    return state["root"], entries
