"""C7: entity/relationship description summarization (Phase 4).

Reference: core/description_summarizer.py:99-373 — LLM-compresses long
accumulated descriptions when an entity is mentioned often; gated by
``_should_summarize`` (:347-373): non-empty, mention_count >= 3,
len(description) >= 200 (settings summarization_min_mentions/_min_length).
Claimed 50-70% compression; does not affect (subj, pred, obj) triples.

Spark shape: the gate is a cheap column predicate evaluated JVM-side so the
expensive summarizer UDF only sees qualifying rows; the summarizer itself is
an injectable batch callable (texts -> summaries) — the deterministic
default keeps the first sentences up to a target length (network-free), and
an LLM client drops into the same seam.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SummarizerFn = Callable[[list[str]], list[str]]


def deterministic_summarizer(texts: list[str]) -> list[str]:
    """Stand-in for the LLM: keep leading description lines up to 300
    characters (descriptions accumulate as sorted newline-joined sets, so a
    prefix is a deterministic, meaningful digest)."""
    out = []
    for t in texts:
        if len(t) <= 300:
            out.append(t)
            continue
        kept: list[str] = []
        used = 0
        for line in t.split("\n"):
            if used + len(line) + 1 > 300 and kept:
                break
            kept.append(line)
            used += len(line) + 1
        out.append("\n".join(kept)[:300])
    return out


def should_summarize_col():
    """description_summarizer.py:347-373 (_should_summarize) as a predicate
    over ``description`` and ``mention_count``."""
    desc = F.col("description")
    return (
        desc.isNotNull()
        & (F.length(F.trim(desc)) > 0)
        & (F.col("mention_count") >= 3)
        & (F.length(desc) >= 200)
    )


def summarize_descriptions(
    nodes: DataFrame,
    summarizer: SummarizerFn = deterministic_summarizer,
) -> DataFrame:
    """Rewrite qualifying descriptions through the summarizer seam.

    Gate runs JVM-side; only gated rows pay the Python crossing. The output
    schema equals the input (description replaced in place), so this drops
    into the pipeline between build_nodes and persistence.
    """
    marked = nodes.withColumn("__summarize", should_summarize_col())

    schema = nodes.schema

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mask = pdf["__summarize"].fillna(False)
            if mask.any():
                pdf.loc[mask, "description"] = summarizer(
                    pdf.loc[mask, "description"].tolist())
            yield pdf.drop(columns=["__summarize"])

    return marked.mapInPandas(_run, schema)
