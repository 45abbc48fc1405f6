"""Legacy recursive character chunking + TextUnit id/offset assignment.

Reimplements:
- the recursive character splitter the reference delegates to LangChain for
  (core/chunking.py:260-264: RecursiveCharacterTextSplitter(chunk_size=1200,
  chunk_overlap=150, separators=["\\n\\n", "\\n", " ", ""]); defaults from
  config/settings.py:138-139). The algorithm below is the standard public
  LangChain recursive-split/greedy-merge algorithm, written from scratch.
- offset/page/hash/id assignment: core/chunking.py:160-235 (running
  ``text.find(chunk, offset)``), page boundaries from "## Page N" markers
  (:464-501), ``content_hash = sha1(content)`` (:503-506), stable TextUnit id
  ``{doc_id}_tu_{start}_{end}_{sha1[:8]}`` (:508-513).
"""

from __future__ import annotations

import hashlib
import re

_PAGE_RE = re.compile(r"^## Page (\d+)", re.MULTILINE)


class RecursiveCharacterSplitter:
    """Recursive split on ["\\n\\n", "\\n", " ", ""] with greedy overlap merge."""

    def __init__(
        self,
        chunk_size: int = 1200,
        chunk_overlap: int = 150,
    ) -> None:
        self.chunk_size = chunk_size
        self.chunk_overlap = chunk_overlap

    def split_text(self, text: str) -> list[str]:
        return self._split(text, ["\n\n", "\n", " ", ""])

    def _split(self, text: str, separators: list[str]) -> list[str]:
        final_chunks: list[str] = []
        separator = separators[-1]
        new_separators: list[str] = []
        for i, sep in enumerate(separators):
            if sep == "":
                separator = sep
                break
            if sep in text:
                separator = sep
                new_separators = separators[i + 1 :]
                break

        splits = list(text) if separator == "" else text.split(separator)
        splits = [s for s in splits if s != ""]

        good_splits: list[str] = []
        for s in splits:
            if len(s) < self.chunk_size:
                good_splits.append(s)
            else:
                if good_splits:
                    final_chunks.extend(self._merge(good_splits, separator))
                    good_splits = []
                if not new_separators:
                    final_chunks.append(s)
                else:
                    final_chunks.extend(self._split(s, new_separators))
        if good_splits:
            final_chunks.extend(self._merge(good_splits, separator))
        return final_chunks

    def _merge(self, splits: list[str], separator: str) -> list[str]:
        sep_len = len(separator)
        docs: list[str] = []
        current: list[str] = []
        total = 0
        for s in splits:
            s_len = len(s)
            if current and total + s_len + sep_len > self.chunk_size:
                doc = separator.join(current).strip()
                if doc:
                    docs.append(doc)
                # slide window: drop from the front until within overlap budget
                while total > self.chunk_overlap or (
                    current and total + s_len + sep_len > self.chunk_size
                ):
                    total -= len(current[0]) + (sep_len if len(current) > 1 else 0)
                    current.pop(0)
            current.append(s)
            total += s_len + (sep_len if len(current) > 1 else 0)
        doc = separator.join(current).strip()
        if doc:
            docs.append(doc)
        return docs


def build_page_boundaries(text: str) -> list[dict]:
    """core/chunking.py:464-501 (_build_page_boundaries)."""
    matches = list(_PAGE_RE.finditer(text))
    if not matches:
        return [{"page": 1, "start": 0, "end": len(text)}]
    boundaries = []
    for idx, match in enumerate(matches):
        start = match.start()
        end = matches[idx + 1].start() if idx + 1 < len(matches) else len(text)
        boundaries.append({"page": int(match.group(1)), "start": start, "end": end})
    return boundaries


def page_for_offset(offset: int, boundaries: list[dict]) -> int:
    """core/chunking.py:495-501 (_get_page_for_offset)."""
    for boundary in boundaries:
        if boundary["start"] <= offset < boundary["end"]:
            return boundary["page"]
    return boundaries[-1]["page"] if boundaries else 1


def content_hash(content: str) -> str:
    """core/chunking.py:503-506 — sha1 hex of the chunk text."""
    return hashlib.sha1(content.encode("utf-8")).hexdigest()


def text_unit_id(document_id: str, start: int, end: int, chash: str) -> str:
    """core/chunking.py:508-513 — {doc}_tu_{start}_{end}_{sha1[:8]}."""
    return f"{document_id}_tu_{start}_{end}_{chash[:8]}"


def assign_text_units(document_id: str, text: str, chunks: list[str]) -> list[dict]:
    """Offset/page/hash/id assignment over raw chunk strings.

    core/chunking.py:160-235: running ``text.find(chunk, offset)`` for char
    offsets (fallback to the running offset when not found), page lookup,
    sha1 hash, stable id.
    """
    boundaries = build_page_boundaries(text)
    out: list[dict] = []
    current_offset = 0
    for i, chunk in enumerate(chunks):
        chunk_offset = text.find(chunk, current_offset)
        if chunk_offset == -1:
            chunk_offset = current_offset
        current_offset = chunk_offset + len(chunk)
        start, end = chunk_offset, chunk_offset + len(chunk)
        chash = content_hash(chunk)
        out.append(
            {
                "chunk_id": text_unit_id(document_id, start, end, chash),
                "document_id": document_id,
                "content": chunk,
                "page": page_for_offset(start, boundaries),
                "start_offset": start,
                "end_offset": end,
                "chunk_index": i,
                "content_hash": chash,
            }
        )
    return out


def chunk_document(document_id: str, text: str, chunk_size: int = 1200, chunk_overlap: int = 150) -> list[dict]:
    """Full legacy path: recursive split + TextUnit assignment."""
    splitter = RecursiveCharacterSplitter(chunk_size=chunk_size, chunk_overlap=chunk_overlap)
    return assign_text_units(document_id, text, splitter.split_text(text))


class StructureHybridChunker:
    """Structure-aware hybrid chunking over parsed document blocks — the
    Spark analog of the reference's docling_hybrid strategy
    (core/chunking.py:149-158 dispatch; core/docling_chunker.py:55-73:
    Docling's HybridChunker walks the parsed document model, keeps the
    heading hierarchy, prepends the heading path, records token counts).

    Input blocks come from functions/docformats.document_blocks:
    ``{"kind": "heading"|"paragraph"|"table", "level", "text", "page"}``.
    Semantics:

    - a heading stack tracks the hierarchy: a level-L heading pops entries
      with level ≥ L (heading_path = " > ".join, section_title = last);
    - consecutive paragraph blocks under one heading and one page form a
      section — chunks never straddle a heading or a page boundary (the
      structural boundaries a flat splitter destroys);
    - table blocks chunk standalone (docling serializes tables as their own
      chunks), never merged into surrounding prose;
    - sections pack into token-budgeted chunks with the SAME packer the
      html_heading strategy uses (target/min/max/overlap, tail overlap,
      oversize sentence split, small-chunk merge — html_chunker.py:247-336
      semantics), so the two structure-aware strategies stay consistent;
    - ``include_heading_path`` prepends the path to the chunk text
      (docling_chunker.py:66-69) and every chunk carries
      heading_path/section_title/page/token_count metadata.
    """

    def __init__(
        self,
        target_tokens: int = 800,
        min_tokens: int = 180,
        max_tokens: int = 1000,
        overlap_tokens: int = 100,
        include_heading_path: bool = True,
    ) -> None:
        from .html_text import HtmlHeadingChunker

        self.include_heading_path = include_heading_path
        # reuse the html chunker's token packer verbatim (same budgets)
        self._packer = HtmlHeadingChunker(
            target_tokens, min_tokens, max_tokens, overlap_tokens, include_heading_path
        )

    def chunk_blocks(self, blocks: list[dict]) -> list[dict]:
        from .tokens import count_tokens

        sections: list[dict] = []  # {heading_path, section_title, page, parts}
        stack: list[tuple[int, str]] = []
        current: dict | None = None

        def flush() -> None:
            nonlocal current
            if current and current["parts"]:
                sections.append(current)
            current = None

        for b in blocks or []:
            kind = b.get("kind")
            text = (b.get("text") or "").strip()
            if not text:
                continue
            if kind == "heading":
                flush()
                level = b.get("level") or 0
                while stack and stack[-1][0] >= level:
                    stack.pop()
                stack.append((level, text))
            elif kind == "table":
                flush()
                sections.append(
                    {
                        "heading_path": " > ".join(t for _, t in stack),
                        "section_title": stack[-1][1] if stack else None,
                        "page": b.get("page"),
                        "parts": [text],
                    }
                )
            else:
                path = " > ".join(t for _, t in stack)
                page = b.get("page")
                if current and (
                    current["heading_path"] != path or current["page"] != page
                ):
                    flush()
                if current is None:
                    current = {
                        "heading_path": path,
                        "section_title": stack[-1][1] if stack else None,
                        "page": page,
                        "parts": [],
                    }
                current["parts"].append(text)
        flush()

        chunks: list[dict] = []
        for sec in sections:
            section_text = "\n\n".join(sec["parts"]).strip()
            if self.include_heading_path and sec["heading_path"]:
                section_text = f"{sec['heading_path']}\n\n{section_text}".strip()
            for chunk_text in self._packer._split_text(section_text):
                chunk_text = chunk_text.strip()
                if not chunk_text:
                    continue
                chunks.append(
                    {
                        "text": chunk_text,
                        "metadata": {
                            "heading_path": sec["heading_path"] or None,
                            "section_title": sec["section_title"],
                            "page": sec["page"],
                            "token_count": count_tokens(chunk_text),
                        },
                    }
                )
        return chunks
