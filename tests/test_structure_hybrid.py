"""Structure-hybrid chunking — the docling_hybrid analog.

Reference contract under test:
- chunk shape: core/docling_chunker.py:55-73 — heading hierarchy kept,
  heading path prepended, token counts recorded, tables standalone.
"""

from __future__ import annotations

import pytest

from graphrag_mrkr_2_spark.functions.chunking import StructureHybridChunker
from graphrag_mrkr_2_spark.functions.docformats import (
    docx_blocks,
    document_blocks,
    encode_docx,
    encode_pdf,
    pdf_blocks,
)


# ---------------------------------------------------------------------------
# block extraction (functions/docformats.py)
# ---------------------------------------------------------------------------


class TestDocxBlocks:
    def test_headings_levels_and_paragraphs(self):
        data = encode_docx(
            [("Heading1", "Intro"), "Body one.", ("Heading2", "Sub"), "Body two."]
        )
        blocks = docx_blocks(data)
        assert [(b["kind"], b.get("level"), b["text"]) for b in blocks] == [
            ("heading", 1, "Intro"),
            ("paragraph", None, "Body one."),
            ("heading", 2, "Sub"),
            ("paragraph", None, "Body two."),
        ]

    def test_title_style_is_level_zero(self):
        blocks = docx_blocks(encode_docx([("Title", "The Title"), "Text."]))
        assert blocks[0] == {
            "kind": "heading",
            "level": 0,
            "text": "The Title",
            "page": None,
        }

    def test_empty_paragraphs_skipped(self):
        blocks = docx_blocks(encode_docx(["", "  ", "Real."]))
        assert [b["text"] for b in blocks] == ["Real."]

    def test_garbage_returns_none(self):
        assert docx_blocks(b"not a zip") is None

    def test_dispatcher(self):
        data = encode_docx(["Hello."])
        assert document_blocks(data, "x/y/report.docx") is not None
        assert document_blocks(data, "docx") is not None
        assert document_blocks(None, "a.docx") is None
        assert document_blocks(b"\x00", "a.xlsx") is None  # no extractor


class TestPdfBlocks:
    def test_pages_numbered(self):
        data = encode_pdf([["Page one."], ["Page two."]])
        blocks = pdf_blocks(data)
        assert all(b["kind"] == "paragraph" for b in blocks)
        assert [b["page"] for b in blocks] == [1, 2]

    def test_blank_line_paragraph_split(self, monkeypatch):
        # the minimal encoder can't emit a blank text line, so pin the
        # blank-line split contract against an injected page text
        from graphrag_mrkr_2_spark.functions import docformats

        monkeypatch.setattr(
            docformats, "pdf_pages_text", lambda data: ["Para A.\n\nPara B.", "C."]
        )
        blocks = docformats.pdf_blocks(b"%PDF-ignored")
        assert [(b["text"], b["page"]) for b in blocks] == [
            ("Para A.", 1),
            ("Para B.", 1),
            ("C.", 2),
        ]

    def test_garbage_returns_none(self):
        assert pdf_blocks(b"%PDF-??? truncated") is None


# ---------------------------------------------------------------------------
# StructureHybridChunker goldens (core/docling_chunker.py:55-73 semantics)
# ---------------------------------------------------------------------------


def _blocks(*specs):
    out = []
    for kind, level, text, page in specs:
        out.append({"kind": kind, "level": level, "text": text, "page": page})
    return out


class TestStructureHybridChunker:
    def test_heading_path_prefix_and_hierarchy(self):
        ch = StructureHybridChunker()
        chunks = ch.chunk_blocks(
            _blocks(
                ("heading", 1, "A", None),
                ("paragraph", None, "a text.", None),
                ("heading", 2, "B", None),
                ("paragraph", None, "b text.", None),
                ("heading", 1, "C", None),
                ("paragraph", None, "c text.", None),
            )
        )
        assert [c["metadata"]["heading_path"] for c in chunks] == ["A", "A > B", "C"]
        assert [c["metadata"]["section_title"] for c in chunks] == ["A", "B", "C"]
        assert chunks[0]["text"] == "A\n\na text."
        assert chunks[1]["text"] == "A > B\n\nb text."
        # sibling level-1 heading popped the stack — no "A > C"
        assert chunks[2]["text"] == "C\n\nc text."

    def test_no_heading_path_when_disabled(self):
        ch = StructureHybridChunker(include_heading_path=False)
        chunks = ch.chunk_blocks(
            _blocks(("heading", 1, "H", None), ("paragraph", None, "p.", None))
        )
        assert chunks[0]["text"] == "p."
        assert chunks[0]["metadata"]["heading_path"] == "H"

    def test_table_chunks_standalone(self):
        ch = StructureHybridChunker()
        chunks = ch.chunk_blocks(
            _blocks(
                ("heading", 1, "H", None),
                ("paragraph", None, "before.", None),
                ("table", None, "c1 | c2\nv1 | v2", None),
                ("paragraph", None, "after.", None),
            )
        )
        texts = [c["text"] for c in chunks]
        assert texts == ["H\n\nbefore.", "H\n\nc1 | c2\nv1 | v2", "H\n\nafter."]

    def test_page_boundary_never_straddled(self):
        ch = StructureHybridChunker()
        chunks = ch.chunk_blocks(
            _blocks(
                ("paragraph", None, "on page one.", 1),
                ("paragraph", None, "still page one.", 1),
                ("paragraph", None, "page two now.", 2),
            )
        )
        assert [c["metadata"]["page"] for c in chunks] == [1, 2]
        assert "page two" not in chunks[0]["text"]

    def test_token_count_metadata(self):
        ch = StructureHybridChunker()
        (chunk,) = ch.chunk_blocks(_blocks(("paragraph", None, "one two three", None)))
        assert chunk["metadata"]["token_count"] == 3

    def test_oversize_section_splits_with_overlap(self):
        ch = StructureHybridChunker(
            target_tokens=12, min_tokens=3, max_tokens=16, overlap_tokens=2
        )
        paras = [f"sentence number {i} with several words in it." for i in range(8)]
        blocks = _blocks(("heading", 1, "Big", None)) + _blocks(
            *[("paragraph", None, p, None) for p in paras]
        )
        chunks = ch.chunk_blocks(blocks)
        assert len(chunks) > 1
        # every piece stays under max and keeps the section metadata
        for c in chunks:
            assert c["metadata"]["token_count"] <= 16 + 2  # + overlap slack
            assert c["metadata"]["heading_path"] == "Big"

    def test_empty_blocks(self):
        assert StructureHybridChunker().chunk_blocks([]) == []
        assert StructureHybridChunker().chunk_blocks(None) == []


# ---------------------------------------------------------------------------
# Spark e2e: binary docs → keep_binary loader → chunk_pages(structure_hybrid)
# ---------------------------------------------------------------------------


@pytest.fixture()
def binary_doc_dir(tmp_path):
    (tmp_path / "report.docx").write_bytes(
        encode_docx(
            [
                ("Heading1", "Overview"),
                "The system ingests web pages.",
                ("Heading2", "Design"),
                "It is built on Spark.",
            ]
        )
    )
    (tmp_path / "paper.pdf").write_bytes(
        encode_pdf([["First page paragraph."], ["Second page paragraph."]])
    )
    return str(tmp_path)


class TestChunkPagesStructureHybrid:
    def test_end_to_end(self, spark, binary_doc_dir):
        from graphrag_mrkr_2_spark.operators.extract import chunk_pages
        from graphrag_mrkr_2_spark.sources.loaders import read_binary_documents

        pages = read_binary_documents(spark, binary_doc_dir, keep_binary=True)
        assert "binary" in pages.columns
        chunks = chunk_pages(pages, strategy="structure_hybrid").collect()

        docx = sorted(
            (r for r in chunks if r.url.endswith("report.docx")),
            key=lambda r: r.chunk_index,
        )
        assert [r.heading_path for r in docx] == ["Overview", "Overview > Design"]
        assert docx[0].content == "Overview\n\nThe system ingests web pages."
        assert docx[1].content == "Overview > Design\n\nIt is built on Spark."
        assert [r.section_title for r in docx] == ["Overview", "Design"]

        pdf = sorted(
            (r for r in chunks if r.url.endswith("paper.pdf")),
            key=lambda r: r.chunk_index,
        )
        assert [r.page for r in pdf] == [1, 2]
        assert pdf[0].content == "First page paragraph."

        # TextUnit id/hash contract intact (core/chunking.py:508-513)
        for r in chunks:
            assert r.chunk_id.startswith(r.document_id + "_tu_")
            assert len(r.content_hash) == 40

    def test_fallback_to_legacy_without_structure(self, spark, tmp_path):
        from graphrag_mrkr_2_spark.operators.extract import chunk_pages

        # a .txt payload yields no blocks → per-row legacy downgrade
        (tmp_path / "plain.txt").write_bytes(b"Just some plain text content.")
        pages = spark.createDataFrame(
            [("file:/plain.txt", None, None, "Just some plain text content.", None, None)],
            "url string, warc_ts string, html binary, text string, lang string, binary binary",
        )
        rows = chunk_pages(pages, strategy="structure_hybrid").collect()
        assert len(rows) == 1
        assert rows[0].content == "Just some plain text content."
        assert rows[0].heading_path is None

    def test_structure_chunks_match_local_chunker(self, spark, binary_doc_dir):
        """Spark path ≡ driving StructureHybridChunker directly (no drift
        between the distributed operator and the local golden)."""
        from graphrag_mrkr_2_spark.functions.docformats import (
            decode_document,
            document_blocks,
        )
        from graphrag_mrkr_2_spark.operators.extract import chunk_pages
        from graphrag_mrkr_2_spark.sources.loaders import read_binary_documents
        from pathlib import Path

        pages = read_binary_documents(spark, binary_doc_dir, keep_binary=True)
        got = {
            (r.url.rsplit("/", 1)[-1], r.chunk_index): r.content
            for r in chunk_pages(pages, strategy="structure_hybrid").collect()
        }
        ch = StructureHybridChunker()
        want = {}
        for p in Path(binary_doc_dir).iterdir():
            blocks = document_blocks(p.read_bytes(), p.name)
            for i, c in enumerate(ch.chunk_blocks(blocks)):
                want[(p.name, i)] = c["text"]
        assert got == want


class TestPipelineStructureHybrid:
    """run_kg_pipeline(strategy='structure_hybrid') — the full pipeline must
    actually run the strategy (review r5: the column prune used to drop
    'binary' and the fused pass had no structure branch, silently legacy-
    chunking every row)."""

    # the fixture docs are short; the default 50-char floor would filter
    # every chunk and make the parity checks vacuous
    @staticmethod
    def _cfg():
        from graphrag_mrkr_2_spark.config import ContentFilterConfig, PipelineConfig

        return PipelineConfig(content_filter=ContentFilterConfig(min_chunk_length=5))

    def test_fused_matches_modular_and_keeps_structure(
        self, spark, binary_doc_dir, modular_kg
    ):
        from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
        from graphrag_mrkr_2_spark.sources.loaders import read_binary_documents

        pages = read_binary_documents(spark, binary_doc_dir, keep_binary=True)
        fused = run_kg_pipeline(pages, cfg=self._cfg(), strategy="structure_hybrid")
        m_chunks, m_triples = modular_kg(
            pages, cfg=self._cfg(), strategy="structure_hybrid"
        )

        t_f = {(r["subj"], r["pred"], r["obj"]) for r in fused.triples.collect()}
        t_m = {(r["subj"], r["pred"], r["obj"]) for r in m_triples.collect()}
        assert t_f == t_m

        # the structure strategy really ran: heading-aware chunk ids match
        # the modular chunk_pages output, heading_path populated for docx
        cols = ["chunk_id", "chunk_index", "content_hash", "heading_path", "page"]
        c_f = {tuple(r[c] for c in cols) for r in fused.chunks.select(*cols).collect()}
        c_m = {tuple(r[c] for c in cols) for r in m_chunks.select(*cols).collect()}
        assert c_f == c_m and c_f
        assert any(r[3] for r in c_f), "no heading_path — structure never ran"

    def test_materialized_unified_pass_carries_structure_metadata(
        self, spark, binary_doc_dir
    ):
        from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
        from graphrag_mrkr_2_spark.sources.loaders import read_binary_documents

        pages = read_binary_documents(spark, binary_doc_dir, keep_binary=True)
        uni = run_kg_pipeline(pages, cfg=self._cfg(), strategy="structure_hybrid")
        rows = uni.chunks.collect()
        assert {r.heading_path for r in rows if r.url.endswith("report.docx")} == {
            "Overview",
            "Overview > Design",
        }
        # pdf page numbers come from the structure blocks, not byte offsets
        assert sorted(r.page for r in rows if r.url.endswith("paper.pdf")) == [1, 2]

    def test_missing_binary_column_is_a_plan_time_error(self, spark):
        from graphrag_mrkr_2_spark.operators.extract import chunk_pages
        from graphrag_mrkr_2_spark.operators.triples import extract_mentions_fused
        from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
        from graphrag_mrkr_2_spark.sources.pages import generate_pages

        pages = generate_pages(spark, 2)  # no 'binary' column
        with pytest.raises(ValueError, match="binary"):
            chunk_pages(pages, strategy="structure_hybrid")
        with pytest.raises(ValueError, match="binary"):
            extract_mentions_fused(pages, strategy="structure_hybrid")
        with pytest.raises(ValueError, match="binary"):
            run_kg_pipeline(pages, strategy="structure_hybrid")

        # legacy chunks the text column; without it, fail at plan time
        # rather than in a Python worker
        no_text = pages.drop("text")
        with pytest.raises(ValueError, match="text"):
            chunk_pages(no_text, strategy="legacy")
        with pytest.raises(ValueError, match="text"):
            extract_mentions_fused(no_text, strategy="legacy")

        # a misspelled strategy is an error, not a quiet legacy run
        with pytest.raises(ValueError, match="html-heading"):
            chunk_pages(pages, strategy="html-heading")
        with pytest.raises(ValueError, match="html-heading"):
            extract_mentions_fused(pages, strategy="html-heading")
        with pytest.raises(ValueError, match="html-heading"):
            run_kg_pipeline(pages, strategy="html-heading")
