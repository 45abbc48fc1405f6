"""BPE encoder (cl100k algorithm, injected ranks) + TokenCounter mode switch.

The real cl100k_base ranks file is absent from this container (no tiktoken,
no network), so these tests pin the ALGORITHM — pre-tokenizer behavior and
the greedy lowest-rank merge loop — against a small constructed ranks table
whose merges are verified by hand, plus the fallback/BPE mode switch in
functions/tokens.py and a BPE-mode chunker golden.
"""

import base64

import pytest

from graphrag_mrkr_2_spark.functions.bpe import (
    BytePairEncoder,
    get_default_encoder,
)
from graphrag_mrkr_2_spark.functions.tokens import (
    count_tokens,
    split_by_tokens,
    tail_text,
)

# toy ranks: every single byte ranks as its own value; a few hand-chosen
# merges above 255. th(256) < he(257) < the(258) orders the merge loop.
TOY_RANKS = {bytes([b]): b for b in range(256)}
TOY_RANKS[b"th"] = 256
TOY_RANKS[b"he"] = 257
TOY_RANKS[b"the"] = 258
TOY_RANKS[b" t"] = 259


@pytest.fixture()
def enc():
    return BytePairEncoder(TOY_RANKS)


@pytest.fixture()
def bpe_mode(enc, tmp_path, monkeypatch):
    """Token counts come from the toy table, installed the way a deployment
    installs cl100k: a ranks file named by SPARK_GRAFT_BPE_RANKS."""
    ranks = tmp_path / "toy.tiktoken"
    ranks.write_bytes(b"".join(base64.b64encode(t) + b" %d\n" % r for t, r in TOY_RANKS.items()))
    monkeypatch.setenv("SPARK_GRAFT_BPE_RANKS", str(ranks))
    return enc


def test_whole_piece_shortcut(enc):
    assert enc.encode("the") == [258]


def test_greedy_lowest_rank_merge_order(enc):
    # h e t h e: lowest-rank pair is th(256) -> [h, e, th, e];
    # then he(257) -> [he, th, e]; then th+e=the(258) -> [he, the]
    assert enc.encode("hethe") == [257, 258]


def test_merge_stops_when_no_pair_ranked(enc):
    # "theo": th -> the -> [the, o]; no "theo" rank exists
    assert enc.encode("theo") == [258, ord("o")]


def test_decode_roundtrip(enc):
    for s in ["the theo hethe", "don't stop", "a1234 b", "  x\ny "]:
        assert enc.decode(enc.encode(s)) == s


def test_cl100k_pretokenizer_shapes(enc):
    # contractions split as '(?i:[sdmt]|ll|ve|re); numbers group <=3 digits;
    # a leading space attaches to the following word
    pieces = enc._re.findall("don't stop 1234")
    assert pieces == ["don", "'t", " stop", " ", "123", "4"]


def test_from_tiktoken_file(tmp_path, enc):
    path = tmp_path / "toy.tiktoken"
    with open(path, "wb") as fh:
        for tok, rank in TOY_RANKS.items():
            fh.write(base64.b64encode(tok) + b" " + str(rank).encode() + b"\n")
    loaded = BytePairEncoder.from_tiktoken_file(str(path))
    assert loaded.encode("hethe theo") == enc.encode("hethe theo")


def test_token_functions_fallback_mode_unchanged():
    """With no encoder installed the original char//4 contract holds
    byte-for-byte (the frozen-golden mode of test_tokenizer_parity)."""
    assert get_default_encoder() is None
    assert count_tokens("abcdefgh") == 2
    assert tail_text("abcdefgh", 1) == "efgh"
    assert split_by_tokens("a" * 10, 2) == ["a" * 8, "aa"]


def test_token_functions_bpe_mode(bpe_mode):
    # "the theo" -> [the, ' ', the, o] under the toy table
    assert count_tokens("the theo") == 4
    assert tail_text("the theo", 1) == "o"
    assert tail_text("the theo", 99) == "the theo"  # whole text when short
    # reference _split_by_tokens: windows of max stepped by max-overlap
    assert split_by_tokens("the theo", 2, 1) == ["the ", " the", "theo", "o"]


def test_count_monotone_under_concat(enc):
    # sanity property on arbitrary text: token count is positive and decode
    # inverts encode even for multi-byte UTF-8
    s = "café über 北京 the"
    toks = enc.encode(s)
    assert toks and enc.decode(toks) == s


def test_bpe_mode_chunker_golden(bpe_mode, monkeypatch):
    """BPE-mode golden alongside the fallback-mode goldens
    (test_tokenizer_parity): the SAME HTML chunks differently when token
    counts come from the encoder — frozen here so a regression in either the
    encoder or the mode plumbing breaks loudly."""
    from graphrag_mrkr_2_spark.functions.html_text import HtmlHeadingChunker

    html = (
        "<html><body><h1>The Thesis</h1>"
        + "".join(f"<p>{'the theo ' * 12}end {i}</p>" for i in range(4))
        + "</body></html>"
    )
    bpe_chunks = HtmlHeadingChunker(
        target_tokens=60, min_tokens=10, max_tokens=80, overlap_tokens=5
    ).chunk_html(html)
    monkeypatch.delenv("SPARK_GRAFT_BPE_RANKS")
    fallback_chunks = HtmlHeadingChunker(
        target_tokens=60, min_tokens=10, max_tokens=80, overlap_tokens=5
    ).chunk_html(html)

    # the BPE mode must produce a DIFFERENT packing than char//4 on this
    # input, and both stay deterministic
    assert [c["metadata"]["token_count"] for c in bpe_chunks] != [
        c["metadata"]["token_count"] for c in fallback_chunks
    ]
    # frozen golden (computed once with the toy table, pinned thereafter)
    assert [c["metadata"]["token_count"] for c in bpe_chunks] == BPE_GOLDEN_COUNTS
    assert [c["text"][:20] for c in bpe_chunks] == BPE_GOLDEN_PREFIXES


# frozen by the first verified run; see test_bpe_mode_chunker_golden
BPE_GOLDEN_COUNTS = [75, 72, 72, 72]
BPE_GOLDEN_PREFIXES = [
    "The Thesis\n\nthe theo",
    "end 0\n\nthe theo the ",
    "end 1\n\nthe theo the ",
    "end 2\n\nthe theo the ",
]


class TestSeamRobustness:
    def test_partial_ranks_table_degrades(self):
        from graphrag_mrkr_2_spark.functions.bpe import BytePairEncoder

        # table missing most single bytes: unknown bytes count as 1 token
        enc = BytePairEncoder({b"a": 0, b"b": 1, b"ab": 2})
        toks = enc.encode("ab\xf0z")
        assert toks[0] == 2  # 'ab' merged
        assert all(isinstance(t, int) for t in toks)
        assert enc.count("ab\xf0z") == len(toks)  # no crash
        assert "�" in enc.decode(toks)  # unknowns decode to U+FFFD

    def test_env_unset_clears_cached_encoder(self, tmp_path, monkeypatch):
        import base64 as b64

        from graphrag_mrkr_2_spark.functions.bpe import get_default_encoder

        ranks = tmp_path / "mini.tiktoken"
        ranks.write_bytes(b64.b64encode(b"a") + b" 0\n")
        monkeypatch.setenv("SPARK_GRAFT_BPE_RANKS", str(ranks))
        assert get_default_encoder() is not None
        monkeypatch.delenv("SPARK_GRAFT_BPE_RANKS")
        assert get_default_encoder() is None  # stale cache cleared
