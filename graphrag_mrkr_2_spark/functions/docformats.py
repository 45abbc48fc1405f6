"""Pure-stdlib binary document decoders: DOCX / XLSX / PPTX / PDF → text.

The reference decodes uploaded binary documents with codec libraries
(python-docx, openpyxl+pandas, python-pptx, pypdf — ingestion/loaders/
docx_loader.py, xlsx_loader.py, pptx_loader.py, pdf_loader.py). None of
those libraries ship in this container, but all four FORMATS are decodable
without them:

- DOCX / XLSX / PPTX are OOXML: a zip (stdlib ``zipfile``) of XML parts
  (stdlib ``xml.etree``);
- PDF text extraction needs only zlib (stdlib) for FlateDecode streams plus
  a small parser for the page tree and BT/ET text operators.

So these kernels are REAL decoders, not stubs — the remaining genuine env
seams are raster media (image/audio/video frames, operators/multimodal.py),
which truly require native codecs.

Text-assembly semantics mirror the reference loaders (cited per function):
what the user's pipeline receives for a given binary payload matches what
the reference's loader emits for the same file, for the deterministic
(non-OCR, non-LLM) paths.

Scale shape: every kernel is ``bytes -> str | None``, called from Arrow
``mapInPandas`` batches (sources/loaders.py:read_binary_documents,
operators/multimodal.py:decode_documents) — one payload decoded at a time,
streaming through a partition; nothing here touches the driver.
"""

from __future__ import annotations

import io
import re
import zipfile
import zlib
from xml.etree import ElementTree as ET

__all__ = [
    "docx_text",
    "docx_blocks",
    "pdf_blocks",
    "document_blocks",
    "pptx_text",
    "xlsx_sheets",
    "xlsx_text",
    "pdf_pages_text",
    "pdf_text",
    "decode_document",
    "encode_docx",
    "encode_pdf",
]

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_SS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PR = "{http://schemas.openxmlformats.org/package/2006/relationships}"


# ---------------------------------------------------------------------------
# DOCX — WordprocessingML
# ---------------------------------------------------------------------------


def _docx_paragraph_text(p: ET.Element) -> str:
    """python-docx ``paragraph.text`` semantics: concatenated run text with
    tabs and breaks rendered (docx/text/paragraph.py upstream behavior)."""
    parts: list[str] = []
    for node in p.iter():
        tag = node.tag
        if tag == f"{_W}t":
            parts.append(node.text or "")
        elif tag == f"{_W}tab":
            parts.append("\t")
        elif tag in (f"{_W}br", f"{_W}cr"):
            parts.append("\n")
    return "".join(parts)


def _docx_cell_text(tc: ET.Element) -> str:
    """python-docx ``cell.text``: cell paragraphs joined by newlines."""
    return "\n".join(_docx_paragraph_text(p) for p in tc.findall(f"{_W}p"))


def docx_text(data: bytes) -> str | None:
    """DOCX → text, mirroring the reference's DOCXLoader.load
    (ingestion/loaders/docx_loader.py:27-53): non-blank top-level paragraphs
    first, then tables as ' | '-joined non-blank cells per row, all joined
    with blank lines; None when nothing was extracted."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            root = ET.fromstring(zf.read("word/document.xml"))
    except Exception:
        return None
    body = root.find(f"{_W}body")
    if body is None:
        return None
    text_content: list[str] = []
    tables: list[str] = []
    for child in body:
        if child.tag == f"{_W}p":
            text = _docx_paragraph_text(child)
            if text.strip():
                text_content.append(text)
        elif child.tag == f"{_W}tbl":
            for tr in child.findall(f"{_W}tr"):
                cell_texts = [_docx_cell_text(tc) for tc in tr.findall(f"{_W}tc")]
                row_text = [t for t in cell_texts if t.strip()]
                if row_text:
                    tables.append(" | ".join(row_text))
    # reference walks doc.paragraphs (body-level only) then doc.tables
    text_content.extend(tables)
    if not text_content:
        return None
    return "\n\n".join(text_content)


# ---------------------------------------------------------------------------
# PPTX — PresentationML
# ---------------------------------------------------------------------------


def _pptx_slide_paths(zf: zipfile.ZipFile) -> list[str]:
    """Slides in presentation order via presentation.xml sldIdLst + rels;
    falls back to name-sorted ppt/slides/slide*.xml."""
    try:
        pres = ET.fromstring(zf.read("ppt/presentation.xml"))
        rels = ET.fromstring(zf.read("ppt/_rels/presentation.xml.rels"))
        rid_to_target = {
            rel.get("Id"): rel.get("Target") for rel in rels.findall(f"{_PR}Relationship")
        }
        paths = []
        for sld in pres.iter(f"{_P}sldId"):
            target = rid_to_target.get(sld.get(f"{_R}id"))
            if target:
                paths.append("ppt/" + target.lstrip("/") if not target.startswith("ppt/") else target)
        if paths:
            return paths
    except Exception:
        pass
    names = [n for n in zf.namelist() if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)]
    return sorted(names, key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)))


def pptx_text(data: bytes) -> str | None:
    """PPTX → text, mirroring the reference PPTXLoader's deterministic core
    (ingestion/loaders/pptx_loader.py:23-79,142-233): per slide a
    '=== SLIDE N ===' header, shape text frames as newline-joined non-blank
    paragraphs (runs concatenated), tables as '--- Table Content ---' with
    'HEADERS: a | b' then 'Row i: c | d' ('[empty]' for blank cells). The
    reference's layout-name/metadata prose needs python-pptx layout objects
    (presentation-level state, not slide XML) and is omitted; the extracted
    CONTENT lines match."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except Exception:
        return None
    with zf:
        slides = _pptx_slide_paths(zf)
        out: list[str] = []
        for i, path in enumerate(slides, start=1):
            try:
                root = ET.fromstring(zf.read(path))
            except Exception:
                continue
            slide_parts: list[str] = [f"=== SLIDE {i} ==="]
            body: list[str] = []
            # shape text bodies are p:txBody (PresentationML); table cell
            # bodies are a:txBody inside a:tbl and handled below
            for frame in root.iter(f"{_P}txBody"):
                paras = []
                for p in frame.findall(f"{_A}p"):
                    run_text = "".join(t.text or "" for t in p.iter(f"{_A}t"))
                    if run_text.strip():
                        paras.append(run_text.strip())
                if paras:
                    body.append("\n".join(paras))
            for tbl in root.iter(f"{_A}tbl"):
                rows = tbl.findall(f"{_A}tr")
                if not rows:
                    continue
                tlines = ["--- Table Content ---"]
                for ridx, tr in enumerate(rows):
                    cells = []
                    for tc in tr.findall(f"{_A}tc"):
                        cell = " ".join(
                            "".join(t.text or "" for t in tc.iter(f"{_A}t")).split()
                        )
                        cells.append(cell if cell else "[empty]")
                    if ridx == 0:
                        tlines.append("HEADERS: " + " | ".join(cells))
                    else:
                        tlines.append(f"Row {ridx}: " + " | ".join(cells))
                body.append("\n".join(tlines))
            if body:
                slide_parts.append("CONTENT:")
                slide_parts.extend(body)
            out.append("\n".join(slide_parts))
    return "\n\n".join(out) if out else None


# ---------------------------------------------------------------------------
# XLSX — SpreadsheetML
# ---------------------------------------------------------------------------


def _col_index(cell_ref: str) -> int:
    """'BC12' → 0-based column 54."""
    col = 0
    for ch in cell_ref:
        if ch.isalpha():
            col = col * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return col - 1


_BUILTIN_DATE_FMT_IDS = set(range(14, 23)) | set(range(45, 48))
_DATE_FMT_CHAR_RE = re.compile(r"[ymdhs]", re.I)
_FMT_LITERAL_RE = re.compile(r'"[^"]*"|\[[^\]]*\]')


def _xlsx_date_styles(zf: zipfile.ZipFile) -> set[int]:
    """Indices into cellXfs whose number format renders a date/time —
    builtin ids 14-22/45-47 plus custom formats containing y/m/d/h/s
    outside quoted literals and [brackets] (openpyxl's is_date_format
    heuristic)."""
    if "xl/styles.xml" not in zf.namelist():
        return set()
    try:
        root = ET.fromstring(zf.read("xl/styles.xml"))
    except ET.ParseError:
        return set()
    custom_date_ids: set[int] = set()
    for fmt in root.iter(f"{_SS}numFmt"):
        code = _FMT_LITERAL_RE.sub("", fmt.get("formatCode") or "")
        if _DATE_FMT_CHAR_RE.search(code):
            custom_date_ids.add(int(fmt.get("numFmtId", "-1")))
    date_styles: set[int] = set()
    cell_xfs = root.find(f"{_SS}cellXfs")
    if cell_xfs is None:
        return set()
    for i, xf in enumerate(cell_xfs.findall(f"{_SS}xf")):
        fmt_id = int(xf.get("numFmtId", "0"))
        if fmt_id in _BUILTIN_DATE_FMT_IDS or fmt_id in custom_date_ids:
            date_styles.add(i)
    return date_styles


_EXCEL_MAX_SERIAL = 2_958_466  # year 9999


def _excel_serial_to_datetime(serial: float, date1904: bool = False):
    """Excel serial → datetime. 1900 system: 1899-12-30 epoch (standard
    phantom-leap-day correction, matching openpyxl post-1900-March); 1904
    system (Mac-authored workbooks, workbookPr date1904): 1904-01-01 epoch.
    Out-of-range serials (negative, or absurd values like epoch-millis in a
    date-styled cell) return None — the caller keeps the raw float rather
    than quarantining the workbook on OverflowError."""
    import datetime as _dt

    if not (0 <= serial < _EXCEL_MAX_SERIAL):
        return None
    epoch = _dt.datetime(1904, 1, 1) if date1904 else _dt.datetime(1899, 12, 30)
    return epoch + _dt.timedelta(days=serial)


def xlsx_sheets(data: bytes) -> dict[str, list[list]]:
    """XLSX → {sheet_name: rows} with typed cells (str/float/bool/datetime/
    None), resolving sharedStrings, inline strings, and date-styled number
    cells — the decode step openpyxl performs for the reference's
    pd.read_excel (xlsx_loader.py:574-586)."""
    out: dict[str, list[list]] = {}
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        date_styles = _xlsx_date_styles(zf)
        shared: list[str] = []
        date1904 = False
        if "xl/sharedStrings.xml" in zf.namelist():
            sroot = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in sroot.findall(f"{_SS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_SS}t")))
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        pr = wb.find(f"{_SS}workbookPr")
        if pr is not None and (pr.get("date1904") or "").lower() in ("1", "true"):
            date1904 = True
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rid_to_target = {
            rel.get("Id"): rel.get("Target") for rel in rels.findall(f"{_PR}Relationship")
        }
        for sheet in wb.iter(f"{_SS}sheet"):
            name = sheet.get("name")
            target = rid_to_target.get(sheet.get(f"{_R}id"))
            if not target:
                continue
            path = target.lstrip("/")
            if not path.startswith("xl/"):
                path = "xl/" + path
            try:
                sroot = ET.fromstring(zf.read(path))
            except Exception:
                out[name] = []
                continue
            rows: list[list] = []
            for row in sroot.iter(f"{_SS}row"):
                cells: list = []
                for c in row.findall(f"{_SS}c"):
                    ref = c.get("r") or ""
                    idx = _col_index(ref) if ref else len(cells)
                    while len(cells) < idx:
                        cells.append(None)
                    ctype = c.get("t", "n")
                    v = c.find(f"{_SS}v")
                    if ctype == "s" and v is not None and v.text is not None:
                        cells.append(shared[int(v.text)])
                    elif ctype == "inlineStr":
                        is_el = c.find(f"{_SS}is")
                        cells.append(
                            "".join(t.text or "" for t in is_el.iter(f"{_SS}t"))
                            if is_el is not None
                            else None
                        )
                    elif ctype == "b" and v is not None and v.text is not None:
                        cells.append(v.text.strip() == "1")
                    elif v is not None and v.text is not None:
                        if ctype == "str":
                            cells.append(v.text)
                        else:
                            try:
                                num = float(v.text)
                            except ValueError:
                                cells.append(v.text)
                            else:
                                style = c.get("s")
                                converted = None
                                if style is not None and int(style) in date_styles:
                                    converted = _excel_serial_to_datetime(
                                        num, date1904
                                    )
                                cells.append(converted if converted is not None else num)
                    else:
                        cells.append(None)
                rows.append(cells)
            width = max((len(r) for r in rows), default=0)
            out[name] = [r + [None] * (width - len(r)) for r in rows]
    return out


_NA_VALUES = {"", "NULL", "null", "NA", "n/a", "#N/A", "#REF!", "#VALUE!"}


def _xlsx_dataframe(rows: list[list]):
    """Header-row-0 DataFrame with the reference's na_values
    (xlsx_loader.py:578-586) and its unnamed-column rule (:598-605)."""
    import pandas as pd

    if not rows:
        return pd.DataFrame()
    header, body = rows[0], rows[1:]
    cols = [
        (str(c).strip() if c is not None and str(c) != "nan" else f"Column_{i+1}")
        for i, c in enumerate(header)
    ]
    df = pd.DataFrame(body, columns=cols)
    return df.map(lambda v: None if (isinstance(v, str) and v in _NA_VALUES) else v)


XLSX_MAX_SHEETS = 20  # sheets rendered per workbook
XLSX_MAX_ROWS = 1000  # rows read per sheet


def xlsx_text(data: bytes) -> str | None:
    """XLSX → analysis text mirroring the reference XLSXLoader.load
    assembly (xlsx_loader.py:525-649): workbook header, then per sheet the
    '=== WORKSHEET ===' analysis core (type-by-name-keyword :46-62,
    dimensions, data density :64-69, structure :72-79) and the
    '=== Sample Data ===' block (:420-464, 8 rows, 40-char truncation,
    'Col: value | ...' rows). The column-statistics / business-context /
    insights prose (pandas describe() output formatting) is summarized to
    the structural lines; the decoded VALUES feeding it are complete."""
    try:
        sheets = xlsx_sheets(data)
    except Exception:
        return None
    if not sheets:
        return None
    parts: list[str] = []
    parts.append("=== EXCEL WORKBOOK ANALYSIS ===")
    parts.append(f"Total sheets: {len(sheets)}")
    parts.append(f"Sheet names: {', '.join(sheets)}")
    parts.append("")
    for n_done, (name, rows) in enumerate(sheets.items()):
        if n_done >= XLSX_MAX_SHEETS:
            parts.append(f"... and {len(sheets) - n_done} more sheets (limit reached)")
            break
        df = _xlsx_dataframe(rows[: XLSX_MAX_ROWS + 1])
        if df.empty:
            parts.append(f"WORKSHEET '{name}': [Empty]")
            parts.append("")
            continue
        parts.append(f"=== WORKSHEET: '{name}' ===")
        name_lower = name.lower()
        if any(k in name_lower for k in ("summary", "overview", "dashboard", "report")):
            sheet_type = "summary"
        elif any(k in name_lower for k in ("pivot", "analysis", "breakdown")):
            sheet_type = "analysis"
        elif any(k in name_lower for k in ("raw", "data", "detail", "transaction")):
            sheet_type = "raw_data"
        else:
            sheet_type = "data"
        parts.append(f"Sheet type: {sheet_type.replace('_', ' ').title()}")
        parts.append(f"Dimensions: {df.shape[0]} rows × {df.shape[1]} columns")
        total = df.shape[0] * df.shape[1]
        density = (df.notna().sum().sum() / total) if total else 0.0
        parts.append(f"Data density: {density:.1%}")
        if df.shape[1] > df.shape[0] and df.shape[1] > 10:
            structure = "wide format"
        elif density < 0.3 and df.shape[0] < 50:
            structure = "sparse layout"
        else:
            structure = "tabular"
        parts.append(f"Structure: {structure}")
        parts.append("")
        # sample block — xlsx_loader.py:420-464
        parts.append(f"=== Sample Data from '{name}' ===")
        n_sample = min(8, len(df))
        parts.append(f"First {n_sample} rows:")
        for idx in range(n_sample):
            row_data = []
            for col in df.columns:
                value = str(df.iloc[idx, df.columns.get_loc(col)])
                if len(value) > 40:
                    value = value[:37] + "..."
                row_data.append(f"{col}: {value}")
            parts.append(f"Row {idx + 1}: {' | '.join(row_data)}")
        if len(df) > n_sample:
            parts.append(f"... and {len(df) - n_sample} more rows")
        parts.append("")
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# PDF — minimal object/page/content-stream parser (pypdf's extract_text role)
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b", re.S)
_NAME_RE = re.compile(rb"/([^\s/<>\[\]()]+)")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_NUM_RE = re.compile(rb"[-+]?[\d.]+")
_BOOL_RE = re.compile(rb"true|false|null")


def _parse_pdf_value(buf: bytes, pos: int):
    """Parse one PDF object value at pos → (value, next_pos). Values:
    dict, array, name, number, ref (n, 'R'), string (skipped as text),
    booleans/null."""
    n = len(buf)
    while pos < n and buf[pos : pos + 1].isspace():
        pos += 1
    if pos >= n:
        return None, pos
    c = buf[pos : pos + 1]
    if buf[pos : pos + 2] == b"<<":
        d: dict[str, object] = {}
        pos += 2
        while pos < n:
            while pos < n and buf[pos : pos + 1].isspace():
                pos += 1
            if buf[pos : pos + 2] == b">>":
                return d, pos + 2
            m = _NAME_RE.match(buf, pos)
            if not m:
                pos += 1
                continue
            key = m.group(1).decode("latin-1")
            val, pos = _parse_pdf_value(buf, m.end())
            d[key] = val
        return d, pos
    if c == b"[":
        arr: list = []
        pos += 1
        while pos < n:
            while pos < n and buf[pos : pos + 1].isspace():
                pos += 1
            if buf[pos : pos + 1] == b"]":
                return arr, pos + 1
            val, newpos = _parse_pdf_value(buf, pos)
            if newpos == pos:
                pos += 1
                continue
            arr.append(val)
            pos = newpos
        return arr, pos
    if c == b"/":
        m = _NAME_RE.match(buf, pos)
        return ("name", m.group(1).decode("latin-1")), m.end()
    if c == b"(":
        depth, pos0 = 1, pos + 1
        while pos0 < n and depth:
            ch = buf[pos0 : pos0 + 1]
            if ch == b"\\":
                pos0 += 1
            elif ch == b"(":
                depth += 1
            elif ch == b")":
                depth -= 1
            pos0 += 1
        return ("string", buf[pos + 1 : pos0 - 1]), pos0
    # pattern.match(buf, pos) — NOT re.match(pat, buf[pos:]): slicing the
    # remaining buffer copies O(file) bytes per parsed token, which made
    # the object parser quadratic in file size (r8: 0.23 ms/KB at 50 KB
    # degrading to 0.65 ms/KB at 800 KB; flat after this fix)
    m = _REF_RE.match(buf, pos)
    if m:
        return ("ref", int(m.group(1))), m.end()
    m = _NUM_RE.match(buf, pos)
    if m:
        try:
            num = float(m.group(0))
        except ValueError:
            num = 0.0
        return num, m.end()
    m = _BOOL_RE.match(buf, pos)
    if m:
        return m.group(0) == b"true", m.end()
    return None, pos + 1


def _pdf_objects(data: bytes) -> dict[int, tuple[dict, bytes | None]]:
    """objnum → (dict, stream_bytes). Scans for 'n g obj' rather than
    trusting the xref table (robust to hand-built or appended files), but
    parses SEQUENTIALLY with object extents: an 'n g obj' byte pattern that
    happens to occur inside a previous object's (compressed) stream is
    skipped, and stream bytes are bounded by the numeric /Length when
    present, so neither 'obj' nor 'endobj' false hits inside binary stream
    content can corrupt the object map."""
    objects: dict[int, tuple[dict, bytes | None]] = {}
    cursor = 0
    for m in _OBJ_RE.finditer(data):
        if m.start() < cursor:
            continue  # inside the previous object's extent (stream bytes)
        num = int(m.group(1))
        val, vend = _parse_pdf_value(data, m.end())
        d = val if isinstance(val, dict) else {}
        stream = None
        send = vend
        sm = re.match(rb"\s*stream(\r\n|\n|\r)", data[vend : vend + 16])
        if sm:
            sstart = vend + sm.end()
            length = d.get("Length")
            if isinstance(length, float) and length >= 0:
                send = sstart + int(length)
                raw = data[sstart:send]
            else:  # /Length indirect or absent — fall back to the marker
                e = data.find(b"endstream", sstart)
                send = e if e >= 0 else len(data)
                raw = data[sstart:send]
            filt = d.get("Filter")
            names = []
            if isinstance(filt, tuple) and filt[0] == "name":
                names = [filt[1]]
            elif isinstance(filt, list):
                names = [f[1] for f in filt if isinstance(f, tuple) and f[0] == "name"]
            if "FlateDecode" in names:
                try:
                    raw = zlib.decompress(raw)
                except zlib.error:
                    raw = b""
            stream = raw
        endpos = data.find(b"endobj", send)
        cursor = endpos + len(b"endobj") if endpos >= 0 else max(send, m.end())
        objects[num] = (d, stream)

    # PDF 1.5+ object streams: object DICTS (incl. pages) may live inside
    # /Type /ObjStm compressed streams — N pairs of "objnum offset" then the
    # bare objects starting at /First. Direct objects win on collision.
    for _num, (d, stream) in list(objects.items()):
        if d.get("Type") != ("name", "ObjStm") or not stream:
            continue
        n_objs = d.get("N")
        first = d.get("First")
        if not isinstance(n_objs, float) or not isinstance(first, float):
            continue
        header = stream[: int(first)].split()
        try:
            nums = [int(header[2 * i]) for i in range(int(n_objs))]
            offs = [int(header[2 * i + 1]) for i in range(int(n_objs))]
        except (IndexError, ValueError):
            continue
        for onum, off in zip(nums, offs):
            if onum in objects:
                continue
            val, _ = _parse_pdf_value(stream, int(first) + off)
            objects[onum] = (val if isinstance(val, dict) else {}, None)
    return objects


def _pdf_page_order(objects: dict[int, tuple[dict, bytes | None]], data: bytes) -> list[int]:
    """Page object numbers in tree order (trailer /Root → /Pages → /Kids),
    falling back to ascending object number of /Type /Page objects."""

    def walk(num: int, acc: list[int], seen: set[int]) -> None:
        if num in seen or num not in objects:
            return
        seen.add(num)
        d, _ = objects[num]
        t = d.get("Type")
        if t == ("name", "Page"):
            acc.append(num)
            return
        kids = d.get("Kids")
        if isinstance(kids, list):
            for k in kids:
                if isinstance(k, tuple) and k[0] == "ref":
                    walk(k[1], acc, seen)

    m = re.search(rb"/Root\s+(\d+)\s+\d+\s+R", data)
    acc: list[int] = []
    if m and int(m.group(1)) in objects:
        root_d, _ = objects[int(m.group(1))]
        pages = root_d.get("Pages")
        if isinstance(pages, tuple) and pages[0] == "ref":
            walk(pages[1], acc, set())
    if not acc:
        acc = sorted(
            num for num, (d, _) in objects.items() if d.get("Type") == ("name", "Page")
        )
    return acc


_PDF_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _pdf_literal_string(raw: bytes) -> str:
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        ch = raw[i : i + 1]
        if ch == b"\\" and i + 1 < n:
            nxt = raw[i + 1 : i + 2]
            if nxt in _PDF_ESCAPES:
                out.append(_PDF_ESCAPES[nxt])
                i += 2
                continue
            m = re.match(rb"[0-7]{1,3}", raw[i + 1 :])
            if m:
                out.append(chr(int(m.group(0), 8)))
                i += 1 + m.end()
                continue
            i += 1
            continue
        out.append(ch.decode("latin-1"))
        i += 1
    return "".join(out)


_TEXT_OP_RE = re.compile(
    rb"\((?P<lit>(?:\\.|[^\\()])*)\)\s*(?P<op1>Tj|'|\")"  # literal shows
    rb"|<(?P<hex>[0-9A-Fa-f\s]*)>\s*(?P<op2>Tj|'|\")"  # hex shows
    rb"|\[(?P<arr>(?:\\.|[^\]])*)\]\s*TJ"  # array shows
    rb"|(?P<nl>T\*|TD|Td)"  # line moves
    rb"|(?P<bt>BT)|(?P<et>ET)"
)
_ARR_ITEM_RE = re.compile(rb"\((?P<lit>(?:\\.|[^\\()])*)\)|<(?P<hex>[0-9A-Fa-f\s]*)>")


def _content_stream_text(stream: bytes) -> str:
    """BT/ET text-operator extraction: Tj / ' / \" / TJ shows concatenated;
    Td/TD/T* and the ' and \" operators start a new line — the same
    visible-text recovery pypdf's extract_text performs for simple
    (non-CID) fonts."""
    lines: list[str] = []
    cur: list[str] = []

    def flush() -> None:
        if cur:
            text = "".join(cur).strip()
            if text:
                lines.append(text)
            cur.clear()

    for m in _TEXT_OP_RE.finditer(stream):
        if m.group("nl") or m.group("bt"):
            flush()
        elif m.group("et"):
            flush()
        elif m.group("op1"):
            if m.group("op1") in (b"'", b'"'):
                flush()
            cur.append(_pdf_literal_string(m.group("lit")))
        elif m.group("op2"):
            if m.group("op2") in (b"'", b'"'):
                flush()
            hx = re.sub(rb"\s", b"", m.group("hex"))
            if len(hx) % 2:
                hx += b"0"
            cur.append(bytes.fromhex(hx.decode("ascii")).decode("latin-1"))
        elif m.group("arr") is not None:
            for im in _ARR_ITEM_RE.finditer(m.group("arr")):
                if im.group("lit") is not None:
                    cur.append(_pdf_literal_string(im.group("lit")))
                else:
                    hx = re.sub(rb"\s", b"", im.group("hex"))
                    if len(hx) % 2:
                        hx += b"0"
                    cur.append(bytes.fromhex(hx.decode("ascii")).decode("latin-1"))
    flush()
    return "\n".join(lines)


def pdf_pages_text(data: bytes) -> list[str]:
    """Per-page extracted text (pypdf ``page.extract_text()`` role for
    simple fonts; FlateDecode + uncompressed content streams)."""
    objects = _pdf_objects(data)
    pages: list[str] = []
    for num in _pdf_page_order(objects, data):
        d, _ = objects[num]
        contents = d.get("Contents")
        refs: list[int] = []
        if isinstance(contents, tuple) and contents[0] == "ref":
            refs = [contents[1]]
        elif isinstance(contents, list):
            refs = [c[1] for c in contents if isinstance(c, tuple) and c[0] == "ref"]
        stream = b"\n".join(
            objects[r][1] or b"" for r in refs if r in objects
        )
        pages.append(_content_stream_text(stream))
    return pages


def pdf_text(data: bytes) -> str | None:
    """PDF → text mirroring the reference PDFLoader's non-OCR path
    (ingestion/loaders/pdf_loader.py:36-62): per page
    '--- Page N ---\\n{text}' for pages with text, joined with blank lines;
    None when nothing was extracted."""
    try:
        pages = pdf_pages_text(data)
    except Exception:
        return None
    text_content = [
        f"--- Page {i + 1} ---\n{t}" for i, t in enumerate(pages) if t.strip()
    ]
    if not text_content:
        return None
    return "\n\n".join(text_content)


_HEADING_STYLE_RE = re.compile(r"^heading\s*(\d+)$", re.I)


def docx_blocks(data: bytes) -> list[dict] | None:
    """DOCX → structured blocks [{kind, level, text, page}] — the repo's
    analog of the parsed document model the reference's docling hybrid
    chunker consumes (core/docling_chunker.py:55-73: items with heading
    hierarchy).  Heading detection: body-level paragraphs whose
    ``w:pPr/w:pStyle`` is Title (level 0) or Heading N (level N); tables
    become one 'table' block (rows ' | '-joined, the docx_text rendering).
    DOCX has no static pagination → page is None.  None on parse failure
    or an empty body (same quarantine contract as docx_text)."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            root = ET.fromstring(zf.read("word/document.xml"))
    except Exception:
        return None
    body = root.find(f"{_W}body")
    if body is None:
        return None
    blocks: list[dict] = []
    for child in body:
        if child.tag == f"{_W}p":
            text = _docx_paragraph_text(child)
            if not text.strip():
                continue
            style_el = child.find(f"{_W}pPr/{_W}pStyle")
            style = (style_el.get(f"{_W}val") or "") if style_el is not None else ""
            m = _HEADING_STYLE_RE.match(style)
            if m:
                blocks.append(
                    {"kind": "heading", "level": int(m.group(1)), "text": text, "page": None}
                )
            elif style.lower() == "title":
                blocks.append({"kind": "heading", "level": 0, "text": text, "page": None})
            else:
                blocks.append({"kind": "paragraph", "level": None, "text": text, "page": None})
        elif child.tag == f"{_W}tbl":
            rows = []
            for tr in child.findall(f"{_W}tr"):
                cells = [t for t in (_docx_cell_text(tc) for tc in tr.findall(f"{_W}tc")) if t.strip()]
                if cells:
                    rows.append(" | ".join(cells))
            if rows:
                blocks.append(
                    {"kind": "table", "level": None, "text": "\n".join(rows), "page": None}
                )
    return blocks or None


def pdf_blocks(data: bytes) -> list[dict] | None:
    """PDF → structured blocks: per-page paragraphs (blank-line split) with
    1-based page numbers.  The minimal content-stream parser carries no
    font-size information, so no heading blocks — the structure signal PDFs
    contribute is PAGINATION, which the structure-hybrid chunker respects
    (no chunk straddles a page boundary unless a page is oversize)."""
    try:
        pages = pdf_pages_text(data)
    except Exception:
        return None
    blocks: list[dict] = []
    for i, page_text in enumerate(pages):
        for para in re.split(r"\n\s*\n", page_text):
            if para.strip():
                blocks.append(
                    {"kind": "paragraph", "level": None, "text": para.strip(), "page": i + 1}
                )
    return blocks or None


def document_blocks(data: bytes | None, fmt: str) -> list[dict] | None:
    """Structured-block dispatcher (docx/pdf; extension or bare name).
    Formats without a block extractor return None — callers fall back to
    flat-text strategies, mirroring _resolve_chunking_strategy's
    docling-absent fallback (core/chunking.py:288-295)."""
    if not data:
        return None
    key = fmt.rsplit(".", 1)[-1].lower()
    if key == "docx":
        return docx_blocks(data)
    if key == "pdf":
        return pdf_blocks(data)
    return None


# ---------------------------------------------------------------------------
# minimal encoders — round-trip verification + binary sink kernels
# ---------------------------------------------------------------------------


def encode_docx(paragraphs: list) -> bytes:
    """Minimal valid DOCX (one paragraph per entry). Used by the driver's
    binary round-trip oracle (encode → decode ≡ deterministic SQL transform)
    and as the kernel for a binary-document sink.

    An entry may be a plain string or a ``(style, text)`` pair (e.g.
    ``("Heading1", "Intro")``) to emit a styled paragraph — enough
    structure for docx_blocks round-trips."""
    from xml.sax.saxutils import escape, quoteattr

    def _para(entry) -> str:
        if isinstance(entry, tuple):
            style, text = entry
            # quoteattr, not escape: escape() leaves quotes alone, so a
            # style name containing an apostrophe would break out of the
            # single-quoted attribute and make the XML unparseable
            ppr = f"<w:pPr><w:pStyle w:val={quoteattr(style)}/></w:pPr>"
        else:
            ppr, text = "", entry
        return (
            f"<w:p>{ppr}<w:r><w:t xml:space='preserve'>"
            f"{escape(text)}</w:t></w:r></w:p>"
        )

    body = "".join(_para(p) for p in paragraphs)
    doc = (
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        f'wordprocessingml/2006/main"><w:body>{body}</w:body></w:document>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", doc)
    return buf.getvalue()


def encode_pdf(pages: list[list[str]]) -> bytes:
    """Minimal valid PDF: FlateDecode content streams of Td/Tj operators,
    one text line per Td. Latin-1 only (simple fonts have no unicode cmap
    here); callers sanitize non-latin text first."""
    objects: list[bytes] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
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
            ops.append(b"(" + esc.encode("latin-1", "replace") + b") Tj")
        ops.append(b"ET")
        comp = zlib.compress(b" ".join(ops))
        objects.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
            % (len(comp), comp)
        )
    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objects, start=1):
        offsets.append(out.tell())
        out.write(b"%d 0 obj\n" % num)
        out.write(body)
        out.write(b"\nendobj\n")
    xref_pos = out.tell()
    out.write(b"xref\n0 %d\n" % (len(objects) + 1))
    out.write(b"0000000000 65535 f \n")
    for off in offsets:
        out.write(b"%010d 00000 n \n" % off)
    out.write(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_pos)
    )
    return out.getvalue()


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

_DECODERS = {
    "pdf": pdf_text,
    "docx": docx_text,
    "xlsx": xlsx_text,
    "pptx": pptx_text,
}


def decode_document(data: bytes | None, fmt: str) -> str | None:
    """Decode one binary payload by format key ('pdf'|'docx'|'xlsx'|'pptx',
    or a filename whose extension resolves to one). Unknown formats return
    None (quarantine row) rather than raising — one bad file must not fail
    a 100 TB ingest job (the reference logs-and-skips the same way)."""
    if not data:
        return None
    key = fmt.lower().rsplit(".", 1)[-1]
    decoder = _DECODERS.get(key)
    return decoder(data) if decoder else None
