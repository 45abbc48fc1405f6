"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md F1/F2).

Schema per BASELINE.json input_hint:
    (url string, warc_ts timestamp, html binary, text string, lang string)

- urls: ``https://{domain}/{section}/{slug}-{i}``; domains Zipf-distributed
  so a few head domains own ~30% of rows (exercises url-hash repartitioning).
- html: rendered from the F2 template (nav/toc/footer noise that must NOT
  leak into text; article with h1/h2/h3, paragraphs, ul, pre, table,
  blockquote; one long paragraph exceeding max tokens to force splits).
- text: the frozen output of ``extract_plain_text(html)`` — the
  byte-identical-per-url oracle column.
- paragraphs embed mock-LLM vocabulary entity mentions (functions/mock_llm)
  so extraction fixtures derive from content.

All randomness is counter-mode SHA-256 on (seed, row_index): any subset of
rows can be generated on any executor independently — no RNG state, no
ordering sensitivity, scale-out friendly by construction.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.html_text import extract_plain_text
from ..functions.mock_llm import ENTITY_VOCAB

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

_DOMAINS = [f"site{i:02d}.example.{tld}" for i, tld in enumerate(
    ["com", "org", "net", "com", "io", "dev", "com", "org", "eu", "it",
     "com", "net", "org", "io", "com", "de", "fr", "com", "org", "net"]
)]
_SECTIONS = ["docs", "kb", "blog", "wiki", "guides", "reference"]
_BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

_FILLER = (
    "The platform processes requests through layered services and stores "
    "operational state durably. Administrators review configuration before "
    "rollout and monitor throughput continuously. Each deployment follows a "
    "documented procedure with explicit verification steps and rollback "
    "points. Capacity planning considers peak load, storage growth, and "
    "replication overhead across availability zones."
).split(". ")


def _h(seed: int, i: int, tag: str) -> bytes:
    return hashlib.sha256(f"{seed}:{i}:{tag}".encode()).digest()


def _hint(seed: int, i: int, tag: str, mod: int) -> int:
    return int.from_bytes(_h(seed, i, tag)[:8], "big") % mod


def _zipf_domain(seed: int, i: int) -> str:
    # weights 1/rank over 20 domains -> head domain ~17% of traffic
    weights = [1.0 / r for r in range(1, len(_DOMAINS) + 1)]
    total = sum(weights)
    x = (_hint(seed, i, "dom", 10**9) / 10**9) * total
    acc = 0.0
    for d, w in zip(_DOMAINS, weights):
        acc += w
        if x <= acc:
            return d
    return _DOMAINS[-1]


def _para(seed: int, i: int, k: int, mention_idx: list[int]) -> str:
    """A paragraph embedding the given vocabulary mentions."""
    sentences = []
    for m, vi in enumerate(mention_idx):
        name = ENTITY_VOCAB[vi][0]
        filler = _FILLER[_hint(seed, i, f"f{k}:{m}", len(_FILLER))]
        sentences.append(f"{name} is documented here. {filler}.")
    if not mention_idx:
        sentences.append(_FILLER[_hint(seed, i, f"f{k}", len(_FILLER))] + ".")
    return " ".join(sentences)


def make_page(i: int, seed: int = 42) -> dict:
    domain = _zipf_domain(seed, i)
    section = _SECTIONS[_hint(seed, i, "sec", len(_SECTIONS))]
    slug = f"page-{_hint(seed, i, 'slug', 10**6):06d}"
    url = f"https://{domain}/{section}/{slug}-{i}"

    nvocab = len(ENTITY_VOCAB)
    base = _hint(seed, i, "ent", nvocab)
    n_mentions = 3 + _hint(seed, i, "nm", 6)  # 3..8 distinct entities per page
    mentions = [(base + 3 * j) % nvocab for j in range(n_mentions)]
    mentions = list(dict.fromkeys(mentions))

    title = f"Operations guide {i}"
    h1 = f"Architecture overview {_hint(seed, i, 'h1', 1000)}"
    h2 = f"Components and dependencies"
    h3 = f"Operational procedures"
    p1 = _para(seed, i, 1, mentions[: len(mentions) // 2])
    p2 = _para(seed, i, 2, mentions[len(mentions) // 2 :])
    # long paragraph > max_tokens (1000 tok ~ 4000 chars) to force splitting
    long_sents = []
    for k in range(60):
        vi = mentions[k % len(mentions)]
        long_sents.append(
            f"Step {k + 1} involves {ENTITY_VOCAB[vi][0]} and requires "
            f"{_FILLER[_hint(seed, i, f'l{k}', len(_FILLER))].lower()}."
        )
    p3 = " ".join(long_sents)

    items = "".join(
        f"<li>Check {ENTITY_VOCAB[vi][0]} status</li>" for vi in mentions[:3]
    )
    table_rows = "".join(
        f"<tr><td>{ENTITY_VOCAB[vi][0]}</td><td>enabled</td></tr>" for vi in mentions[:2]
    )

    html = f"""<html><head>
  <title>{title}</title>
  <link rel="canonical" href="{url}"/>
</head><body>
  <nav>SKIPPED NAV LINKS</nav>
  <div class="toc">SKIPPED TABLE OF CONTENTS</div>
  <article>
    <h1 id="a1">{h1}</h1>
    <p>{p1}</p>
    <h2 id="a2">{h2}</h2>
    <p>{p2}</p>
    <ul>{items}</ul>
    <pre>carbonio status --verbose</pre>
    <table><tr><th>Component</th><th>State</th></tr>{table_rows}</table>
    <blockquote>Always back up before migrating.</blockquote>
    <h3 id="a3">{h3}</h3>
    <p>{p3}</p>
  </article>
  <footer>SKIPPED FOOTER</footer>
</body></html>"""

    lang_bucket = _hint(seed, i, "lang", 100)
    lang = "en" if lang_bucket < 90 else ("it" if lang_bucket < 95 else "de")
    ts = _BASE_TS + timedelta(seconds=i * 37 % 864000)

    return {
        "url": url,
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": extract_plain_text(html),
        "lang": lang,
    }


_ADVERSARIAL_VARIANTS = 8
# Length of variant 5's single <p>; the 10 MB test patches it.
BIG_PAGE_CHARS = 200_000


def make_adversarial_page(i: int) -> dict:
    """Hostile-input page generator (VERDICT r3 'Next round' #8): the checked-
    in fixture source for the adversarial parity gate. Variant ``i % 8``:

    0. deep nesting          300-level div/span towers around real content
    1. malformed entities    unterminated/unknown/overflowing &-references
    2. mis-nested tags       unclosed <p>, interleaved <b><i></b></i>, stray
                             closers, orphan <li>/<td>
    3. comment/script traps  markup-shaped text inside <!-- -->, <script>,
                             <style> that must NOT surface or chunk
    4. unicode soup          BOM, NBSP, ZWJ, combining marks, CJK, emoji,
                             RTL runs mixed into mentions
    5. single-tag megapage   ONE <p> of ~``BIG_PAGE_CHARS`` chars (the
                             10 MB case: BIG_PAGE_CHARS=10_000_000)
    6. attribute bombs       multi-KB attribute values, quotes/brackets
                             inside attributes, duplicate ids
    7. hollow page           boilerplate-only / whitespace body

    Every variant still embeds ENTITY_VOCAB mentions so the extraction
    oracle has real work; text is the frozen extract_plain_text output,
    keeping the byte-identical-per-url invariant.
    """
    nvocab = len(ENTITY_VOCAB)
    base = _hint(42, i, "aent", nvocab)
    mentions = [(base + 5 * j) % nvocab for j in range(4)]
    mentions = list(dict.fromkeys(mentions))
    names = [ENTITY_VOCAB[v][0] for v in mentions]
    variant = i % _ADVERSARIAL_VARIANTS
    url = f"https://hostile{i % 7}.example.test/adv/{variant}/case-{i}"

    body = ""
    if variant == 0:
        depth = 300
        inner = f"<h1>Deep dive {i}</h1><p>{names[0]} is documented here. " \
                f"{names[1]} is documented here.</p>"
        body = ("<div><span>" * depth) + inner + ("</span></div>" * depth)
    elif variant == 1:
        body = (
            f"<h1>Entity torture {i}</h1>"
            f"<p>{names[0]} is documented here.&nbsp with &#xZZ; broken refs "
            f"&amp unterminated &bogusref; unknown &#99999999999; overflow "
            f"and a stray & ampersand. {names[1]} is documented here.</p>"
        )
    elif variant == 2:
        body = (
            f"<h1>Mis-nesting {i}"
            f"<p>{names[0]} is documented here. <b>bold <i>both</b> italic?</i>"
            f"<p>{names[1]} is documented here.</div></div>"
            f"<li>orphan item</li><td>orphan cell</td>"
        )
    elif variant == 3:
        body = (
            f"<h1>Trap markup {i}</h1>"
            f"<!-- <h1>ghost heading</h1><p>ghost para</p> -->"
            f"<script>var x = \"<h2>not a heading</h2>\"; if (a < b) {{}}</script>"
            f"<style>.x::before {{ content: \"<li>styled</li>\"; }}</style>"
            f"<p>{names[0]} is documented here. {names[1]} is documented here.</p>"
        )
    elif variant == 4:
        body = (
            f"﻿<h1>Unicode {i} 中文 \U0001f600</h1>"
            f"<p>{names[0]} is documented here. ​"
            f"naïve café שלום "
            f"{names[1]} is documented here.</p>"
        )
    elif variant == 5:
        sent = f"{names[0]} is documented here. {names[1]} is documented here. "
        reps = max(1, BIG_PAGE_CHARS // len(sent))
        body = f"<p>{sent * reps}</p>"
    elif variant == 6:
        bomb = "x" * 4096
        body = (
            f"<h1 id=\"dup\" data-blob=\"{bomb}\" title='quote\"inside'>Attr bomb {i}</h1>"
            f"<p id=\"dup\" data-angle=\"a<b>c\">{names[0]} is documented here. "
            f"{names[1]} is documented here.</p>"
        )
    else:
        body = "<nav>ONLY NAV</nav>   \n\t  <footer>ONLY FOOTER</footer>"

    html = f"<html><head><title>adv {i}</title></head><body>{body}</body></html>"
    return {
        "url": url,
        "warc_ts": _BASE_TS + timedelta(seconds=i * 53 % 864000),
        "html": html.encode("utf-8"),
        "text": extract_plain_text(html),
        "lang": "en",
    }


def generate_adversarial_pages(spark: SparkSession, n: int) -> DataFrame:
    partitions = max(1, min(16, n // 8 or 1))

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_adversarial_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return spark.range(0, n, numPartitions=partitions).mapInPandas(_gen, PAGES_SCHEMA)


def generate_pages(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed generation: spark.range → mapInPandas(make_page)."""
    partitions = partitions or max(1, min(64, n // 200 or 1))

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return spark.range(0, n, numPartitions=partitions).mapInPandas(_gen, PAGES_SCHEMA)
