"""Binary document decode kernels (functions/docformats.py) vs hand-built
files — DOCX/XLSX/PPTX authored as OOXML zips, PDF authored with real
FlateDecode streams, so the decoders are exercised on genuine format bytes
without any codec library on either side."""

from __future__ import annotations

import io
import zipfile
import zlib

import pytest

from graphrag_mrkr_2_spark.functions.docformats import (
    decode_document,
    docx_text,
    pdf_pages_text,
    pdf_text,
    pptx_text,
    xlsx_sheets,
    xlsx_text,
)

W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
P_NS = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
R_NS = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
SS_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
PR_NS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'


# ---------------------------------------------------------------------------
# builders
# ---------------------------------------------------------------------------


def build_docx(paragraphs: list[str], tables: list[list[list[str]]] | None = None) -> bytes:
    def para(text: str) -> str:
        return f"<w:p><w:r><w:t xml:space='preserve'>{text}</w:t></w:r></w:p>"

    body = "".join(para(t) for t in paragraphs)
    for tbl in tables or []:
        rows = "".join(
            "<w:tr>"
            + "".join(f"<w:tc>{para(cell)}</w:tc>" for cell in row)
            + "</w:tr>"
            for row in tbl
        )
        body += f"<w:tbl>{rows}</w:tbl>"
    doc = f"<w:document {W_NS}><w:body>{body}</w:body></w:document>"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", doc)
    return buf.getvalue()


def build_xlsx(sheets: dict[str, list[list]]) -> bytes:
    strings: list[str] = []

    def cell_xml(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, bool):
            return f"<c r='{ref}' t='b'><v>{1 if v else 0}</v></c>"
        if isinstance(v, (int, float)):
            return f"<c r='{ref}'><v>{v}</v></c>"
        if v not in strings:
            strings.append(v)
        return f"<c r='{ref}' t='s'><v>{strings.index(v)}</v></c>"

    def colname(i: int) -> str:
        name = ""
        i += 1
        while i:
            i, rem = divmod(i - 1, 26)
            name = chr(65 + rem) + name
        return name

    sheet_xmls = []
    for rows in sheets.values():
        rx = "".join(
            "<row r='%d'>%s</row>"
            % (ri + 1, "".join(cell_xml(f"{colname(ci)}{ri+1}", v) for ci, v in enumerate(row)))
            for ri, row in enumerate(rows)
        )
        sheet_xmls.append(f"<worksheet {SS_NS}><sheetData>{rx}</sheetData></worksheet>")

    wb_sheets = "".join(
        f"<sheet name='{name}' sheetId='{i+1}' r:id='rId{i+1}'/>"
        for i, name in enumerate(sheets)
    )
    workbook = f"<workbook {SS_NS} {R_NS}><sheets>{wb_sheets}</sheets></workbook>"
    rels = (
        f"<Relationships {PR_NS}>"
        + "".join(
            f"<Relationship Id='rId{i+1}' Type='x' Target='worksheets/sheet{i+1}.xml'/>"
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )
    sst = (
        f"<sst {SS_NS}>"
        + "".join(f"<si><t xml:space='preserve'>{s}</t></si>" for s in strings)
        + "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        for i, xml in enumerate(sheet_xmls):
            zf.writestr(f"xl/worksheets/sheet{i+1}.xml", xml)
    return buf.getvalue()


def build_pptx(slides: list[dict]) -> bytes:
    """slides: [{'paras': [...], 'table': [[...], ...]}]"""
    slide_xmls = []
    for s in slides:
        shapes = ""
        if s.get("paras"):
            paras = "".join(
                f"<a:p><a:r><a:t>{t}</a:t></a:r></a:p>" for t in s["paras"]
            )
            shapes += f"<p:sp><p:txBody {A_NS}>{paras}</p:txBody></p:sp>"
        if s.get("table"):
            rows = "".join(
                "<a:tr>"
                + "".join(
                    f"<a:tc><a:txBody><a:p><a:r><a:t>{c}</a:t></a:r></a:p></a:txBody></a:tc>"
                    for c in row
                )
                + "</a:tr>"
                for row in s["table"]
            )
            shapes += f"<p:graphicFrame><a:tbl {A_NS}>{rows}</a:tbl></p:graphicFrame>"
        slide_xmls.append(f"<p:sld {P_NS} {A_NS}><p:cSld><p:spTree>{shapes}</p:spTree></p:cSld></p:sld>")

    sld_ids = "".join(
        f"<p:sldId id='{256+i}' r:id='rId{i+1}'/>" for i in range(len(slides))
    )
    presentation = f"<p:presentation {P_NS} {R_NS}><p:sldIdLst>{sld_ids}</p:sldIdLst></p:presentation>"
    rels = (
        f"<Relationships {PR_NS}>"
        + "".join(
            f"<Relationship Id='rId{i+1}' Type='x' Target='slides/slide{i+1}.xml'/>"
            for i in range(len(slides))
        )
        + "</Relationships>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("ppt/presentation.xml", presentation)
        zf.writestr("ppt/_rels/presentation.xml.rels", rels)
        for i, xml in enumerate(slide_xmls):
            zf.writestr(f"ppt/slides/slide{i+1}.xml", xml)
    return buf.getvalue()


def build_pdf(pages: list[list[str]], compress: bool = True) -> bytes:
    """Minimal real PDF: catalog → pages → page objects with (optionally
    Flate-compressed) content streams of Td/Tj text operators."""
    objects: list[bytes] = []  # 1-based object numbers

    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # obj 1
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )  # obj 2
    for i, lines in enumerate(pages):
        content_num = 4 + 2 * i
        objects.append(
            f"<< /Type /Page /Parent 2 0 R /Contents {content_num} 0 R >>".encode()
        )
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            esc = line.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
            if j:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + esc.encode("latin-1") + b") Tj")
        ops.append(b"ET")
        stream = b" ".join(ops)
        if compress:
            comp = zlib.compress(stream)
            objects.append(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                % (len(comp), comp)
            )
        else:
            objects.append(
                b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
            )

    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(out.tell())
        out.write(b"%d 0 obj\n" % num)
        out.write(body)
        out.write(b"\nendobj\n")
    xref_pos = out.tell()
    out.write(b"xref\n0 %d\n" % (len(objects) + 1))
    out.write(b"0000000000 65535 f \n")
    for off in offsets[1:]:
        out.write(b"%010d 00000 n \n" % off)
    out.write(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_pos)
    )
    return out.getvalue()


# ---------------------------------------------------------------------------
# DOCX
# ---------------------------------------------------------------------------


class TestDocx:
    def test_paragraphs_then_tables_reference_assembly(self):
        # docx_loader.py:33-45 — paragraphs first, tables as ' | ' rows
        data = build_docx(
            ["First paragraph.", "  ", "Second paragraph."],
            tables=[[["h1", "h2"], ["a", "b"]]],
        )
        assert docx_text(data) == (
            "First paragraph.\n\nSecond paragraph.\n\nh1 | h2\n\na | b"
        )

    def test_blank_cells_skipped(self):
        data = build_docx([], tables=[[["x", "  ", "y"]]])
        assert docx_text(data) == "x | y"

    def test_empty_doc_returns_none(self):
        # docx_loader.py:47-49
        assert docx_text(build_docx(["   "])) is None

    def test_garbage_returns_none(self):
        assert docx_text(b"not a zip at all") is None


# ---------------------------------------------------------------------------
# XLSX
# ---------------------------------------------------------------------------


class TestXlsx:
    def test_shared_strings_numbers_bools(self):
        data = build_xlsx(
            {"Data": [["name", "qty", "ok"], ["widget", 3, True], ["gadget", 2.5, False]]}
        )
        sheets = xlsx_sheets(data)
        assert sheets["Data"] == [
            ["name", "qty", "ok"],
            ["widget", 3.0, True],
            ["gadget", 2.5, False],
        ]

    def test_sparse_cells_aligned_by_reference(self):
        # cell r="C1" with A/B absent must land in column index 2
        data = build_xlsx({"S": [["a", None, "c"]]})
        assert xlsx_sheets(data)["S"] == [["a", None, "c"]]

    def test_text_assembly_headers_and_samples(self):
        data = build_xlsx(
            {"Summary Q1": [["region", "revenue"], ["emea", 10.0], ["apac", 20.0]]}
        )
        text = xlsx_text(data)
        assert "=== EXCEL WORKBOOK ANALYSIS ===" in text
        assert "Sheet names: Summary Q1" in text
        # name-keyword sheet typing, xlsx_loader.py:46-51
        assert "Sheet type: Summary" in text
        assert "Dimensions: 2 rows × 2 columns" in text
        assert "=== Sample Data from 'Summary Q1' ===" in text
        assert "Row 1: region: emea | revenue: 10.0" in text

    def test_na_values_lower_density(self):
        # xlsx_loader.py:578-586 na_values
        data = build_xlsx({"D": [["c1", "c2"], ["NULL", "#N/A"], ["x", "y"]]})
        assert "Data density: 50.0%" in xlsx_text(data)


# ---------------------------------------------------------------------------
# PPTX
# ---------------------------------------------------------------------------


class TestPptx:
    def test_slides_in_presentation_order_with_tables(self):
        data = build_pptx(
            [
                {"paras": ["Title Slide", "subtitle here"]},
                {"paras": ["Agenda"], "table": [["col1", "col2"], ["v1", ""]]},
            ]
        )
        text = pptx_text(data)
        assert "=== SLIDE 1 ===" in text and "=== SLIDE 2 ===" in text
        assert text.index("Title Slide") < text.index("Agenda")
        # pptx_loader.py:63-77 table shape
        assert "--- Table Content ---" in text
        assert "HEADERS: col1 | col2" in text
        assert "Row 1: v1 | [empty]" in text

    def test_empty_pptx_returns_none(self):
        assert pptx_text(b"junk") is None


# ---------------------------------------------------------------------------
# PDF
# ---------------------------------------------------------------------------


class TestPdf:
    def test_flate_pages_and_reference_assembly(self):
        data = build_pdf(
            [["Hello world.", "Second line."], ["Page two text."]], compress=True
        )
        pages = pdf_pages_text(data)
        assert pages == ["Hello world.\nSecond line.", "Page two text."]
        # pdf_loader.py:39-54 page banner assembly
        assert pdf_text(data) == (
            "--- Page 1 ---\nHello world.\nSecond line."
            "\n\n--- Page 2 ---\nPage two text."
        )

    def test_uncompressed_streams(self):
        data = build_pdf([["plain stream text"]], compress=False)
        assert pdf_text(data) == "--- Page 1 ---\nplain stream text"

    def test_escapes_and_parens(self):
        data = build_pdf([["a (nested) \\ backslash"]])
        assert "a (nested) \\ backslash" in pdf_text(data)

    def test_tj_array_and_hex_strings(self):
        stream = b"BT [(Hel) (lo)] TJ 0 -14 Td <776f726c64> Tj ET"
        content = (
            b"%%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
            b"trailer\n<< /Root 1 0 R >>\n%%%%EOF\n" % (len(stream), stream)
        )
        assert pdf_pages_text(content) == ["Hello\nworld"]

    def test_blank_pdf_returns_none(self):
        assert pdf_text(build_pdf([[]])) is None
        assert pdf_text(b"\x00\x01garbage") is None


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------


class TestDispatch:
    def test_by_extension_and_format_key(self):
        docx = build_docx(["hi"])
        assert decode_document(docx, "report.docx") == "hi"
        assert decode_document(docx, "docx") == "hi"

    def test_unknown_format_quarantines(self):
        assert decode_document(b"bytes", "report.tiff") is None
        assert decode_document(None, "pdf") is None


# ---------------------------------------------------------------------------
# production encoders round-trip
# ---------------------------------------------------------------------------


class TestEncoders:
    def test_encode_docx_roundtrip_unicode(self):
        from graphrag_mrkr_2_spark.functions.docformats import encode_docx

        paras = ["héllo & <world>", "数据处理", "third"]
        assert docx_text(encode_docx(paras)) == "\n\n".join(paras)

    def test_encode_pdf_roundtrip(self):
        from graphrag_mrkr_2_spark.functions.docformats import encode_pdf

        data = encode_pdf([["line one (x)", "line two"], ["page 2"]])
        assert pdf_text(data) == (
            "--- Page 1 ---\nline one (x)\nline two\n\n--- Page 2 ---\npage 2"
        )


# ---------------------------------------------------------------------------
# Spark wiring
# ---------------------------------------------------------------------------


class TestSparkIntegration:
    def test_read_binary_documents_mixed_dir(self, spark, tmp_path):
        (tmp_path / "a.docx").write_bytes(build_docx(["Spark decodes docx."]))
        (tmp_path / "b.pdf").write_bytes(build_pdf([["Spark decodes pdf."]]))
        (tmp_path / "c.xlsx").write_bytes(build_xlsx({"S": [["k"], ["v"]]}))
        (tmp_path / "d.bin").write_bytes(b"\x00opaque")  # quarantine

        from graphrag_mrkr_2_spark.sources.loaders import read_binary_documents

        rows = {
            r["url"].rsplit("/", 1)[-1]: r["text"]
            for r in read_binary_documents(spark, str(tmp_path)).collect()
        }
        assert rows["a.docx"] == "Spark decodes docx."
        assert rows["b.pdf"] == "--- Page 1 ---\nSpark decodes pdf."
        assert "=== EXCEL WORKBOOK ANALYSIS ===" in rows["c.xlsx"]
        assert rows["d.bin"] is None

    def test_decode_documents_operator(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import decode_documents

        payloads = [
            ("m1", "docx", bytearray(build_docx(["alpha"]))),
            ("m2", "pdf", bytearray(build_pdf([["beta"]]))),
            ("m3", "pptx", bytearray(build_pptx([{"paras": ["gamma"]}]))),
            ("m4", "docx", None),
        ]
        df = spark.createDataFrame(payloads, "media_id string, fmt string, payload binary")
        out = {r["media_id"]: r["text"] for r in decode_documents(df).collect()}
        assert out["m1"] == "alpha"
        assert out["m2"] == "--- Page 1 ---\nbeta"
        assert "gamma" in out["m3"]
        assert out["m4"] is None

    def test_binary_loader_composes_with_chunker(self, spark, tmp_path):
        """The decoded pages table feeds the same downstream pipeline as any
        loader (S1 contract)."""
        (tmp_path / "doc.docx").write_bytes(
            build_docx(["Heading text here.", "Body sentence about systems."])
        )
        from graphrag_mrkr_2_spark.sources.loaders import read_binary_documents

        pages = read_binary_documents(spark, str(tmp_path))
        assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
        n = pages.where(F_length_ok()).count()
        assert n == 1


def F_length_ok():
    from pyspark.sql import functions as F

    return F.length("text") > 10


class TestPdfRobustness:
    def test_obj_pattern_inside_stream_bytes(self):
        """Binary stream content containing 'N 0 obj' / 'endobj' byte
        patterns must not corrupt the object map (parser walks extents and
        bounds streams by /Length)."""
        evil = b"garbage 2 0 obj <</Type /Page>> endobj more"
        stream = b"BT (real text) Tj ET " + evil
        content = (
            b"%%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
            b"trailer\n<< /Root 1 0 R >>\n%%%%EOF\n" % (len(stream), stream)
        )
        # the evil bytes are not text-show operators so they are ignored;
        # the point is the object map stays intact and the page text decodes
        assert pdf_pages_text(content) == ["real text"]

    def test_flate_stream_with_embedded_markers(self):
        """A compressed stream whose BYTES contain 'endobj'/'obj' still
        decodes when /Length is present."""
        import zlib as _z

        inner = b"BT (alpha) Tj ET"
        comp = _z.compress(inner)
        # splice the scary markers into a trailing comment object AFTER the
        # stream to prove the cursor lands correctly
        content = (
            b"%%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream\nendobj\n"
            b"trailer\n<< /Root 1 0 R >>\n%%%%EOF\n" % (len(comp), comp)
        )
        assert pdf_pages_text(content) == ["alpha"]

    def test_random_flate_bytes_roundtrip_sweep(self):
        """encode_pdf streams are zlib bytes that MAY contain 'n 0 obj';
        sweep many payloads to assert decode never breaks."""
        from graphrag_mrkr_2_spark.functions.docformats import encode_pdf

        for i in range(50):
            lines = [f"line {i} {j} " + "x" * (i % 7) for j in range(6)]
            data = encode_pdf([lines])
            pages = pdf_pages_text(data)
            assert pages == ["\n".join(x.strip() for x in lines)], i


class TestSizeGuard:
    def test_oversized_files_filtered_with_pushdown(self, spark, tmp_path, monkeypatch):
        (tmp_path / "small.docx").write_bytes(build_docx(["keep me"]))
        (tmp_path / "big.docx").write_bytes(build_docx(["drop me " * 2000]))

        from graphrag_mrkr_2_spark.sources import loaders
        from graphrag_mrkr_2_spark.sources.loaders import read_binary_documents

        small_size = (tmp_path / "small.docx").stat().st_size
        monkeypatch.setattr(loaders, "MAX_FILE_BYTES", small_size)
        df = read_binary_documents(spark, str(tmp_path))
        rows = df.collect()
        assert [r["url"].rsplit("/", 1)[-1] for r in rows] == ["small.docx"]
        # the length predicate reaches the binaryFile scan (pushdown)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" not in plan or "length" in plan


class TestObjectStreams:
    def test_page_tree_inside_objstm(self):
        """PDF 1.5 layout: catalog/pages/page dicts live inside a compressed
        /Type /ObjStm; only the content stream is a direct object."""
        import zlib as _z

        content_stream = b"BT (from objstm layout) Tj ET"
        # objects 1 (catalog), 2 (pages), 3 (page) packed into one ObjStm
        o1 = b"<< /Type /Catalog /Pages 2 0 R >>"
        o2 = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
        o3 = b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
        offs = [0, len(o1) + 1, len(o1) + 1 + len(o2) + 1]
        header = f"1 {offs[0]} 2 {offs[1]} 3 {offs[2]} ".encode()
        body = o1 + b" " + o2 + b" " + o3
        packed = _z.compress(header + body)
        pdf = (
            b"%%PDF-1.5\n"
            b"5 0 obj\n<< /Type /ObjStm /N 3 /First %d /Length %d /Filter /FlateDecode >>\n"
            b"stream\n%s\nendstream\nendobj\n"
            b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
            b"trailer\n<< /Root 1 0 R >>\n%%%%EOF\n"
            % (len(header), len(packed), packed, len(content_stream), content_stream)
        )
        assert pdf_pages_text(pdf) == ["from objstm layout"]

    def test_direct_object_wins_over_objstm_duplicate(self):
        import zlib as _z

        # ObjStm claims object 3 is a different page; the direct object wins
        o3_fake = b"<< /Type /Page /Parent 2 0 R /Contents 9 0 R >>"
        header = b"3 0 "
        packed = _z.compress(header + o3_fake)
        stream = b"BT (direct) Tj ET"
        pdf = (
            b"%%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
            b"6 0 obj\n<< /Type /ObjStm /N 1 /First %d /Length %d /Filter /FlateDecode >>\n"
            b"stream\n%s\nendstream\nendobj\n"
            b"trailer\n<< /Root 1 0 R >>\n%%%%EOF\n"
            % (len(stream), stream, len(header), len(packed), packed)
        )
        assert pdf_pages_text(pdf) == ["direct"]


class TestXlsxDates:
    def _build_with_styles(self) -> bytes:
        """XLSX with a styles.xml: style 1 = builtin date fmt 14, style 2 =
        custom date fmt, style 0 = general."""
        styles = (
            f"<styleSheet {SS_NS}>"
            "<numFmts count='1'><numFmt numFmtId='164' formatCode='yyyy-mm-dd hh:mm'/></numFmts>"
            "<cellXfs count='3'>"
            "<xf numFmtId='0'/><xf numFmtId='14'/><xf numFmtId='164'/>"
            "</cellXfs></styleSheet>"
        )
        sheet = (
            f"<worksheet {SS_NS}><sheetData>"
            "<row r='1'>"
            "<c r='A1' s='1'><v>45292</v></c>"      # 2024-01-01, builtin
            "<c r='B1' s='2'><v>45292.5</v></c>"    # custom date fmt
            "<c r='C1' s='0'><v>45292</v></c>"      # plain number
            "</row></sheetData></worksheet>"
        )
        workbook = f"<workbook {SS_NS} {R_NS}><sheets><sheet name='S' sheetId='1' r:id='rId1'/></sheets></workbook>"
        rels = f"<Relationships {PR_NS}><Relationship Id='rId1' Type='x' Target='worksheets/sheet1.xml'/></Relationships>"
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("[Content_Types].xml", "<Types/>")
            zf.writestr("xl/workbook.xml", workbook)
            zf.writestr("xl/_rels/workbook.xml.rels", rels)
            zf.writestr("xl/styles.xml", styles)
            zf.writestr("xl/worksheets/sheet1.xml", sheet)
        return buf.getvalue()

    def test_date_styled_cells_become_datetimes(self):
        import datetime

        rows = xlsx_sheets(self._build_with_styles())["S"]
        a, b, c = rows[0]
        assert a == datetime.datetime(2024, 1, 1)
        assert b == datetime.datetime(2024, 1, 1, 12, 0)
        assert c == 45292.0  # general style stays numeric

    def test_no_styles_file_keeps_numbers(self):
        rows = xlsx_sheets(build_xlsx({"S": [[45292.0]]}))["S"]
        assert rows[0][0] == 45292.0


class TestXlsxDateEdgeCases:
    def test_absurd_serial_stays_numeric_not_quarantined(self):
        """Epoch-millis in a date-styled cell must not OverflowError the
        workbook."""
        styles = (
            f"<styleSheet {SS_NS}><cellXfs count='2'>"
            "<xf numFmtId='0'/><xf numFmtId='14'/></cellXfs></styleSheet>"
        )
        sheet = (
            f"<worksheet {SS_NS}><sheetData><row r='1'>"
            "<c r='A1' s='1'><v>1700000000000</v></c>"
            "<c r='B1' s='1'><v>-5</v></c>"
            "</row></sheetData></worksheet>"
        )
        data = _zip_xlsx(styles, sheet)
        rows = xlsx_sheets(data)["S"]
        assert rows[0] == [1700000000000.0, -5.0]
        assert xlsx_text(data) is not None

    def test_date1904_epoch(self):
        import datetime

        styles = (
            f"<styleSheet {SS_NS}><cellXfs count='2'>"
            "<xf numFmtId='0'/><xf numFmtId='14'/></cellXfs></styleSheet>"
        )
        sheet = (
            f"<worksheet {SS_NS}><sheetData><row r='1'>"
            "<c r='A1' s='1'><v>43830</v></c>"
            "</row></sheetData></worksheet>"
        )
        data = _zip_xlsx(styles, sheet, date1904=True)
        assert xlsx_sheets(data)["S"][0][0] == datetime.datetime(2024, 1, 1)


def _zip_xlsx(styles: str, sheet: str, date1904: bool = False) -> bytes:
    pr = "<workbookPr date1904='1'/>" if date1904 else ""
    workbook = (
        f"<workbook {SS_NS} {R_NS}>{pr}"
        "<sheets><sheet name='S' sheetId='1' r:id='rId1'/></sheets></workbook>"
    )
    rels = f"<Relationships {PR_NS}><Relationship Id='rId1' Type='x' Target='worksheets/sheet1.xml'/></Relationships>"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/styles.xml", styles)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()
