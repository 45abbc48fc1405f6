"""RSS/Atom feed parsing (functions/feeds.py): format fixtures from the
two specs plus the hostile-input quarantine contract."""

from __future__ import annotations

import pytest

from graphrag_mrkr_2_spark.functions.feeds import parse_feed

RSS = b"""<?xml version="1.0"?>
<rss version="2.0"><channel>
  <title>Site</title>
  <item>
    <title>First post</title>
    <link>https://x.example/1</link>
    <pubDate>Mon, 05 Jan 2026 10:00:00 GMT</pubDate>
    <description>Summary one</description>
  </item>
  <item><title>Second</title><link>https://x.example/2</link></item>
</channel></rss>
"""

ATOM = b"""<?xml version="1.0" encoding="utf-8"?>
<feed xmlns="http://www.w3.org/2005/Atom">
  <title>Site</title>
  <entry>
    <title>Hello</title>
    <link rel="self" href="https://x.example/e1.atom"/>
    <link rel="alternate" href="https://x.example/e1"/>
    <published>2026-01-05T10:00:00Z</published>
    <updated>2026-01-06T10:00:00Z</updated>
    <summary>Sum</summary>
  </entry>
  <entry>
    <title>Updated only</title>
    <link href="https://x.example/e2"/>
    <updated>2026-02-01T00:00:00Z</updated>
  </entry>
</feed>
"""


class TestParse:
    def test_rss(self):
        kind, entries = parse_feed(RSS)
        assert kind == "rss"
        assert entries[0] == {
            "title": "First post", "link": "https://x.example/1",
            "published": "Mon, 05 Jan 2026 10:00:00 GMT",
            "summary": "Summary one"}
        assert entries[1]["link"] == "https://x.example/2"
        assert entries[1]["published"] is None

    def test_atom(self):
        kind, entries = parse_feed(ATOM)
        assert kind == "atom"
        # rel=alternate beats rel=self; published beats updated
        assert entries[0]["link"] == "https://x.example/e1"
        assert entries[0]["published"] == "2026-01-05T10:00:00Z"
        assert entries[0]["summary"] == "Sum"
        # rel-less link accepted; updated fills missing published
        assert entries[1]["link"] == "https://x.example/e2"
        assert entries[1]["published"] == "2026-02-01T00:00:00Z"

    def test_channel_title_not_leaked_into_items(self):
        _, entries = parse_feed(RSS)
        assert all(e["title"] != "Site" for e in entries)

    def test_bom(self):
        assert parse_feed(b"\xef\xbb\xbf" + RSS)[0] == "rss"


class TestHostile:
    def test_entity_bomb_rejected(self):
        bomb = (b"<?xml version='1.0'?><!DOCTYPE rss ["
                b"<!ENTITY a 'aaaa'>]>"
                b"<rss><channel><item><title>&a;</title></item>"
                b"</channel></rss>")
        with pytest.raises(ValueError, match="entity"):
            parse_feed(bomb)

    def test_wrong_root(self):
        with pytest.raises(ValueError, match="root"):
            parse_feed(b"<urlset/>")

    def test_malformed(self):
        with pytest.raises(ValueError):
            parse_feed(b"<rss><channel><item></rss>")

    def test_fuzz_valueerror_only(self):
        import random

        rng = random.Random(9)
        for _ in range(200):
            blob = bytes(rng.randrange(256)
                         for _ in range(rng.randrange(0, 150)))
            try:
                parse_feed(blob)
            except ValueError:
                pass


def test_atom_first_alternate_link_wins():
    """ADVICE r7: a second rel=alternate must not overwrite the first."""
    from graphrag_mrkr_2_spark.functions.feeds import parse_feed

    feed = b"""<?xml version="1.0"?>
<feed xmlns="http://www.w3.org/2005/Atom">
  <title>t</title>
  <entry>
    <title>e1</title>
    <link rel="self" href="https://x.example/self"/>
    <link rel="alternate" href="https://x.example/first"/>
    <link rel="alternate" href="https://x.example/second"/>
  </entry>
  <entry>
    <title>e2</title>
    <link rel="self" href="https://x.example/self2"/>
  </entry>
</feed>"""
    kind, entries = parse_feed(feed)
    assert kind == "atom"
    assert entries[0]["link"] == "https://x.example/first"
    # self-only entry still falls back to the non-alternate placeholder
    assert entries[1]["link"] == "https://x.example/self2"
