"""Chunk pattern learner — Spark operator vs the REFERENCE's own code.

The reference's ChunkPatternLearner._apply_pattern is a pure function over
an ordered chunk list (chunk_pattern_learner.py:147-313); we import it from
/root/reference (graph-db stub only — neo4j is absent) and run it as the
oracle against chunk_suggestions on identical inputs, including the
post-processing contract of get_suggestions (:88-128).
"""

from __future__ import annotations

import sys
import types
from unittest import mock

import pytest

from graphrag_mrkr_2_spark.operators import chunk_patterns
from graphrag_mrkr_2_spark.operators.chunk_patterns import (
    BUILTIN_PATTERNS,
    ChunkPattern,
    chunk_suggestions,
)

_REFERENCE_ROOT = "/root/reference"


def _load_reference_learner():
    """Import the reference learner with a graph-db stub (neo4j absent).

    chunk_pattern_store / chunk_change_log are stdlib-only and import as-is;
    ChunkPatternLearner is instantiated via __new__ so no SQLite store is
    created — _apply_pattern touches no instance state."""
    if _REFERENCE_ROOT not in sys.path:
        sys.path.append(_REFERENCE_ROOT)
    if "core.graph_db" not in sys.modules:
        fake = types.ModuleType("core.graph_db")
        fake.graph_db = object()
        sys.modules["core.graph_db"] = fake
    try:
        from core.chunk_pattern_learner import ChunkPatternLearner  # noqa: PLC0415
        from core.chunk_pattern_store import BUILTIN_PATTERNS as REF_BUILTINS  # noqa: PLC0415
    except Exception:
        return None, None
    return ChunkPatternLearner.__new__(ChunkPatternLearner), REF_BUILTINS


_REF_LEARNER, _REF_BUILTINS = _load_reference_learner()


def _chunks_fixture():
    """One document's ordered chunks exercising every builtin pattern."""
    rows = [
        ("d1", "d1_c0", 0, "TODO"),
        ("d1", "d1_c1", 1, "ok"),
        ("d1", "d1_c2", 2, "-----"),
        ("d1", "d1_c3", 3, "This is a perfectly normal paragraph of chunk text with plenty of words."),
        ("d1", "d1_c4", 4, "!!! ??? ,,, ;;; ::: ..."),
        ("d1", "d1_c5", 5, "duplicate content block number one"),
        ("d1", "d1_c6", 6, "Duplicate   Content Block number ONE  "),
        ("d1", "d1_c7", 7, "   [TBD]  "),
        # second document: no suggestions at all
        ("d2", "d2_c0", 0, "Another entirely ordinary chunk with enough length and letters."),
    ]
    return rows


def _ref_suggestions(rows, patterns, min_confidence=0.5, max_suggestions=10):
    """Drive the reference's _apply_pattern + get_suggestions post-steps."""
    by_doc: dict[str, list[dict]] = {}
    for doc, cid, idx, content in rows:
        by_doc.setdefault(doc, []).append(
            {"id": cid, "chunk_index": idx, "content": content}
        )
    out = []
    for doc in sorted(by_doc):
        chunks = sorted(by_doc[doc], key=lambda c: c["chunk_index"])
        suggestions = []
        for pattern in patterns:
            suggestions.extend(_REF_LEARNER._apply_pattern(pattern, chunks))
        suggestions = [s for s in suggestions if s.confidence >= min_confidence]
        suggestions.sort(key=lambda s: s.confidence, reverse=True)  # stable
        for s in suggestions[:max_suggestions]:
            out.append(
                (
                    doc,
                    s.chunk_id,
                    s.chunk_index,
                    s.action.value,
                    round(s.confidence, 6),
                    s.reasoning,
                    s.pattern_name,
                    tuple(s.related_chunk_ids),
                )
            )
    return sorted(out)


def _suggest(df, patterns=BUILTIN_PATTERNS, max_suggestions=10):
    """chunk_suggestions with a pattern store and per-document limit."""
    with mock.patch.multiple(
        chunk_patterns, BUILTIN_PATTERNS=patterns, MAX_SUGGESTIONS=max_suggestions
    ):
        return chunk_suggestions(df)


def _spark_suggestions(spark, rows, **kwargs):
    df = spark.createDataFrame(
        rows, "document_id string, chunk_id string, chunk_index int, content string"
    )
    got = _suggest(df, **kwargs).collect()
    return sorted(
        (
            r.document_id,
            r.chunk_id,
            r.chunk_index,
            r.action,
            round(r.confidence, 6),
            r.reasoning,
            r.pattern_name,
            tuple(r.related_chunk_ids or ()),
        )
        for r in got
    )


@pytest.mark.skipif(_REF_LEARNER is None, reason="/root/reference unavailable")
class TestReferenceParity:
    def test_builtin_patterns_mirror_store(self):
        """Our BUILTIN_PATTERNS must carry the store's exact criteria in the
        fresh-store order (is_builtin DESC, usage 0, name ASC)."""
        ref = sorted(_REF_BUILTINS, key=lambda p: p.name)
        assert [p.name for p in BUILTIN_PATTERNS] == [p.name for p in ref]
        for ours, theirs in zip(BUILTIN_PATTERNS, ref):
            assert ours.match_type == theirs.match_type
            assert ours.match_criteria == theirs.match_criteria
            assert ours.action == theirs.action
            assert ours.confidence == theirs.confidence

    def test_full_builtin_parity(self, spark):
        rows = _chunks_fixture()
        ref_pats = sorted(_REF_BUILTINS, key=lambda p: p.name)
        want = _ref_suggestions(rows, ref_pats)
        got = _spark_suggestions(spark, rows)
        assert got == want
        assert len(want) > 5  # fixture actually exercises the patterns

    def test_parity_with_min_length_and_custom_regex(self, spark):
        rows = _chunks_fixture() + [
            ("d1", "d1_c8", 8, "x" * 2500),
            ("d3", "d3_c0", 0, "see ERRATA: revise before release"),
        ]
        from core.chunk_pattern_store import ChunkPattern as RefPattern  # noqa: PLC0415

        ref_pats = [
            RefPattern(
                id="p-long",
                name="Overlong",
                description="",
                match_type="length",
                match_criteria={"min_length": 2000},
                action="split",
                confidence=0.6,
            ),
            RefPattern(
                id="p-errata",
                name="Errata Marker",
                description="",
                match_type="regex",
                match_criteria={"pattern": r"errata", "flags": "I"},
                action="flag",
                confidence=0.55,
            ),
        ]
        ours = [
            ChunkPattern(
                id="p-long",
                name="Overlong",
                match_type="length",
                match_criteria={"min_length": 2000},
                action="split",
                confidence=0.6,
            ),
            ChunkPattern(
                id="p-errata",
                name="Errata Marker",
                match_type="regex",
                match_criteria={"pattern": r"errata", "flags": "I"},
                action="flag",
                confidence=0.55,
            ),
        ]
        assert _spark_suggestions(spark, rows, patterns=ours) == _ref_suggestions(
            rows, ref_pats
        )

    def test_max_suggestions_truncation_parity(self, spark):
        # many short chunks -> more than max_suggestions matches
        rows = [("d9", f"d9_c{i}", i, "tiny") for i in range(15)]
        ref_pats = sorted(_REF_BUILTINS, key=lambda p: p.name)
        want = _ref_suggestions(rows, ref_pats, max_suggestions=5)
        got = _spark_suggestions(spark, rows, max_suggestions=5)
        assert got == want
        assert all(len([w for w in want if w[0] == "d9"]) == 5 for _ in [0])


class TestOperatorContract:
    def test_consecutive_runs_and_related_ids(self, spark):
        rows = [
            ("d1", "c0", 0, "aa"),
            ("d1", "c1", 1, "bb"),
            ("d1", "c2", 2, "cc"),
            ("d1", "c3", 3, "long enough chunk that breaks the consecutive short run here."),
            ("d1", "c4", 4, "dd"),  # run of 1: below min_consecutive
        ]
        pats = [
            ChunkPattern(
                id="consec",
                name="Consecutive Short Chunks",
                match_type="length",
                match_criteria={"max_length": 50, "min_consecutive": 2},
                action="merge",
                confidence=0.75,
            )
        ]
        df = spark.createDataFrame(
            rows, "document_id string, chunk_id string, chunk_index int, content string"
        )
        out = _suggest(df, patterns=pats).collect()
        assert len(out) == 1
        (r,) = out
        assert r.chunk_id == "c0"
        assert r.related_chunk_ids == ["c1", "c2"]
        assert r.reasoning == "Found 3 consecutive chunks matching Consecutive Short Chunks"

    def test_duplicate_normalization(self, spark):
        rows = [
            ("d1", "c0", 0, "The   Quick  Brown Fox jumps over things"),
            ("d1", "c1", 1, "  the quick brown fox JUMPS over things  "),
            ("d1", "c2", 2, "short dup"),  # < 20 chars normalized: ignored
            ("d1", "c3", 3, "short dup"),
        ]
        pats = [p for p in BUILTIN_PATTERNS if p.match_type == "similarity"]
        df = spark.createDataFrame(
            rows, "document_id string, chunk_id string, chunk_index int, content string"
        )
        out = _suggest(df, patterns=pats).collect()
        assert [(r.chunk_id, r.related_chunk_ids) for r in out] == [("c1", ["c0"])]

    def test_disabled_and_empty_patterns(self, spark):
        rows = [("d1", "c0", 0, "TODO")]
        df = spark.createDataFrame(
            rows, "document_id string, chunk_id string, chunk_index int, content string"
        )
        disabled = [
            ChunkPattern(
                id="x",
                name="X",
                match_type="regex",
                match_criteria={"pattern": "TODO"},
                enabled=False,
            )
        ]
        assert _suggest(df, patterns=disabled).count() == 0
        assert _suggest(df, patterns=[]).count() == 0

    def test_invalid_regex_skips_pattern_not_job(self, spark):
        """A non-compiling (or Python-only dialect) regex must skip that
        pattern with a warning — reference compiles with try/except and
        skips (chunk_pattern_learner.py:178-183) — never fail the scan."""
        rows = [("d1", "c0", 0, "TODO item")]
        df = spark.createDataFrame(
            rows, "document_id string, chunk_id string, chunk_index int, content string"
        )
        pats = [
            ChunkPattern(
                id="bad",
                name="Bad",
                match_type="regex",
                match_criteria={"pattern": "("},
            ),
            ChunkPattern(
                id="pyonly",
                name="PyOnly",
                match_type="regex",
                match_criteria={"pattern": "(?P<n>TODO)"},
            ),
            ChunkPattern(
                id="good",
                name="Good",
                match_type="regex",
                match_criteria={"pattern": "TODO"},
            ),
        ]
        with pytest.warns(UserWarning, match="does not compile"):
            out = _suggest(df, patterns=pats).collect()
        assert [r.pattern_name for r in out] == ["Good"]

    def test_plan_stays_jvm_side_for_row_patterns(self, spark):
        """regex/length/content patterns must compile to pure codegen
        predicates — no Python UDFs anywhere in the plan."""
        rows = [("d1", "c0", 0, "TODO")]
        df = spark.createDataFrame(
            rows, "document_id string, chunk_id string, chunk_index int, content string"
        )
        pats = [p for p in BUILTIN_PATTERNS if p.match_type in ("regex", "content")] + [
            ChunkPattern(
                id="s",
                name="Very Short Chunks",
                match_type="length",
                match_criteria={"max_length": 20},
                action="delete",
                confidence=0.8,
            )
        ]
        plan = _suggest(df, patterns=pats)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
