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


def generate_pages(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed generation: spark.range → mapInPandas(make_page)."""
    partitions = partitions or max(1, min(64, n // 200 or 1))

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return spark.range(0, n, numPartitions=partitions).mapInPandas(_gen, PAGES_SCHEMA)
