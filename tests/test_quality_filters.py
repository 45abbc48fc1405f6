"""Quality scoring + content filter: Python oracle vs Spark column exprs."""

import pytest

from graphrag_mrkr_2_spark.functions.quality import (
    analyze_text_quality,
    should_embed_chunk,
    should_remove_chunk,
)

SAMPLES = [
    "This is a perfectly normal paragraph of english text with reasonable words in it for testing.",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z aa bb cc dd ee",  # fragmented
    "short",
    "x" * 200,
    "test " * 50,  # single-word repetition
    "!!!! #### $$$$ %%%% ^^^^ &&&& **** (((( )))) @@@@ !!!! #### $$$$ %%%%",  # special chars
    "Line one has words here\nLine two also has words\nLine three wraps up",
    "Ünïcödé tëxt wïth artefacts ünïcödé wörds ïn ït för the penalty path okay",
    "triple   spaces   inside   this   otherwise   normal   sentence   here",
    "",
    "   ",
    "word",
]


def test_quality_oracle_basics():
    good = analyze_text_quality(SAMPLES[0])
    assert good["quality_score"] > 0.5 and good["is_readable"]
    assert analyze_text_quality("")["quality_score"] == 0.0
    assert analyze_text_quality("tiny")["quality_score"] == 0.0  # len<5


def test_should_remove_chunk_rules():
    assert should_remove_chunk("bad", 0, 0)  # short + no entities
    assert not should_remove_chunk("bad", 1, 0)
    assert not should_remove_chunk(SAMPLES[0], 0, 0)


def test_content_filter_reasons():
    assert should_embed_chunk(SAMPLES[0])[0]
    assert should_embed_chunk("short")[1] == "too_short"
    assert should_embed_chunk("x" * 200_000)[1] == "too_long"
    assert should_embed_chunk("test " * 50)[1] == "repetitive"
    ok, reason = should_embed_chunk(SAMPLES[5])
    assert not ok and reason == "bad_char_distribution"


@pytest.mark.spark
def test_spark_filter_matches_oracle(spark):
    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators.extract import with_content_filter

    df = spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)], ["i", "content"])
    got = {
        r["i"]: r["filter_reason"]
        for r in with_content_filter(df).select("i", "filter_reason").collect()
    }
    for i, s in enumerate(SAMPLES):
        ok, reason = should_embed_chunk(s)
        expected = None if ok else reason
        assert got[i] == expected, f"sample {i}: spark={got[i]} oracle={expected}"


# edge whitespace beyond U+0020, the only character Spark's trim strips
PADDED = [
    "lorem ipsum dolor sit amet consectetur adipiscing\n\n\n",  # 49 stripped
    "abcd\n\n",  # 4 stripped
    "\t\r\n" + SAMPLES[0] + "\x0b\x0c",
    "\n" + "words that are all different here and now ok" + "\r\n\t",
    "Line one has words\t\nLine two has words\r\nLine three\x0b\n\t\n",
    "\u00a0\u3000" + SAMPLES[6] + "\x1c\u2003",  # stripped by the filter only
]


@pytest.mark.spark
def test_filter_and_quality_strip_like_their_twins(spark):
    """with_content_filter and with_quality_score strip like str.strip(),
    whole text and per line, so they agree with should_embed_chunk and
    analyze_text_quality on whitespace-padded text."""
    from graphrag_mrkr_2_spark.operators.extract import (
        with_content_filter,
        with_quality_score,
    )

    df = spark.createDataFrame(list(enumerate(PADDED)), ["i", "content"])
    reasons = {r["i"]: r["filter_reason"] for r in with_content_filter(df).collect()}
    assert reasons[0] == "too_short"
    for i, s in enumerate(PADDED):
        ok, reason = should_embed_chunk(s)
        assert reasons[i] == (None if ok else reason), f"sample {i}"
    scores = {r["i"]: r["quality_score"] for r in with_quality_score(df).collect()}
    assert scores[1] == 0.0
    for i, s in enumerate(PADDED):
        expected = analyze_text_quality(s)["quality_score"]
        assert scores[i] == pytest.approx(expected, abs=1e-9), f"sample {i}"


# words joined by whitespace that Java's plain \s (and RE2's) does not know
SEPARATORS = ("\u00a0", "\u3000", "\x0b", " \u00a0 ")
JOINED = (
    [sep.join(f"word{i}" for i in range(12)) + sep + "end of the line" for sep in SEPARATORS]
    + [sep.join(["repeat"] * 30) for sep in SEPARATORS]
    + ["alpha\u00a0beta gamma\u3000delta\nepsilon\x0bzeta eta theta iota kappa lambda"]
)


@pytest.mark.spark
def test_filter_and_quality_split_like_their_twins(spark):
    """with_content_filter splits words and counts spaces, and
    with_quality_score counts spaces and splits each line, by str.isspace(),
    as should_embed_chunk and analyze_text_quality do."""
    from graphrag_mrkr_2_spark.operators.extract import (
        with_content_filter,
        with_quality_score,
    )

    df = spark.createDataFrame(list(enumerate(JOINED)), ["i", "content"])
    reasons = {r["i"]: r["filter_reason"] for r in with_content_filter(df).collect()}
    scores = {r["i"]: r["quality_score"] for r in with_quality_score(df).collect()}
    for i, s in enumerate(JOINED):
        ok, reason = should_embed_chunk(s)
        assert reasons[i] == (None if ok else reason), f"sample {i}"
        expected = analyze_text_quality(s)["quality_score"]
        assert scores[i] == pytest.approx(expected, abs=1e-9), f"sample {i}"


@pytest.mark.spark
def test_spark_quality_matches_oracle(spark):
    from graphrag_mrkr_2_spark.operators.extract import with_quality_score

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(SAMPLES) if s.strip()], ["i", "content"]
    )
    got = {r["i"]: r["quality_score"] for r in with_quality_score(df).collect()}
    for i, s in enumerate(SAMPLES):
        if not s.strip():
            continue
        expected = analyze_text_quality(s)["quality_score"]
        assert got[i] == pytest.approx(expected, abs=1e-9), f"sample {i}"


@pytest.mark.spark
def test_post_entity_chunk_removal_matches_oracle(spark):
    """T6 keeps exactly the chunks should_remove_chunk keeps, on the 40-page
    chunks with their J6 extraction counts plus short chunks padded with
    whitespace that Spark's trim (U+0020 only) does not strip."""
    from collections import Counter

    from graphrag_mrkr_2_spark.operators.extract import (
        chunk_pages,
        filter_chunks,
        post_entity_chunk_removal,
    )
    from graphrag_mrkr_2_spark.operators.triples import entity_counts_per_chunk
    from helpers import extract_mentions
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    word = "abcdefghijklmnopqrstuvwxyzab"  # 28 letters: short once stripped
    padded = {
        "pad-newlines": (word + "\n\n\n", 0, 0),
        "pad-tab": ("\t" + word + " \n", 0, 0),
        "pad-nbsp": ("\u00a0" + word + "\u3000", 0, 0),
        "pad-separator": (word + "\x1c\x1f", 0, 0),
        "pad-with-entity": (word + "\n\n\n", 1, 0),
        "long-padded": ("\n" + word + "abcd\t", 0, 0),
    }
    chunks = filter_chunks(chunk_pages(generate_pages(spark, 40)))
    mentions = extract_mentions(chunks)
    counts = entity_counts_per_chunk(mentions)

    # J6 against the mention rows themselves
    kinds = Counter((r["chunk_id"], r["kind"]) for r in mentions.collect())
    got_counts = {
        r["chunk_id"]: (r["entity_count"], r["relationship_count"]) for r in counts.collect()
    }
    assert got_counts == {
        c: (kinds[(c, "entity")], kinds[(c, "relationship")]) for c, _ in kinds
    }

    content = {r["chunk_id"]: r["content"] for r in chunks.collect()}
    assert len(content) == 178
    content.update({k: v[0] for k, v in padded.items()})
    counts_of = {**got_counts, **{k: v[1:] for k, v in padded.items()}}
    all_chunks = spark.createDataFrame(list(content.items()), ["chunk_id", "content"])
    all_counts = spark.createDataFrame(
        [(k, *v) for k, v in counts_of.items()],
        "chunk_id string, entity_count long, relationship_count long",
    )
    kept = {
        r["chunk_id"]
        for r in post_entity_chunk_removal(all_chunks, all_counts).collect()
    }
    expected = {
        c for c, text in content.items() if not should_remove_chunk(text, *counts_of.get(c, (0, 0)))
    }
    assert kept == expected
    assert {"pad-with-entity", "long-padded"} <= kept
    assert not kept & {"pad-newlines", "pad-tab", "pad-nbsp", "pad-separator"}
