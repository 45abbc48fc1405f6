"""Quality scoring + content filter: Python oracle vs Spark column exprs."""

import pytest

from graphrag_mrkr_2_spark.functions.quality import should_embed_chunk
from helpers import analyze_text_quality

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
