"""Streaming .xlsx cell reader built on the stdlib (zipfile + ElementTree).

The container has no openpyxl, so this module parses the OOXML SpreadsheetML
format directly — the format is a public ISO/ECMA spec (ECMA-376). The reader
reproduces the reference's scan semantics (``src/lib.rs:30-65``): a lazy,
row-major, *sparse* cell stream — absent cells are never emitted; explicitly
present but valueless cells are emitted as Empty (→ ``""`` downstream, while
absent cells densify to NULL — the reference's critical null-vs-empty-string
distinction, ``src/lib.rs:398`` vs ``:428-433``).

Decoder tiers. :func:`walk_buffer` picks one per in-memory buffer: the
find-based walker when :func:`_fast_path_eligible` proves its
preconditions, else the ElementTree walker. Inside the find-based walker
each row first tries the strict single-regex tokenizer and falls back to
the generic find-based cell split. All three tiers hand every ``<v>``
text to the one ``t=`` decoder, :func:`decode_value`, and must emit the
ElementTree walker's stream exactly (the differential tests pin this).

Memory bound: sheet parts up to ``_FAST_BUFFER_LIMIT`` are inflated into
one buffer, so per-task memory is O(min(sheet, limit) + sst). Larger parts
stream through ``ElementTree.iterparse`` with element eviction, which keeps
one ``<row>`` subtree resident: O(row + sst), the bound the reference
claims (``README.md:9``). A split-path task holds only its own byte range
of the part, O(sheet / tasks + sst).
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Iterator
from xml.etree import ElementTree as ET

from ..errors import DataToParquetError
from ..kernels import _ERROR_TOKENS as _XLSX_ERR_TOKENS
from ..kernels import format_float

__all__ = ["XlsxWorkbook", "parse_cell_ref", "parse_dimension"]

_MAIN_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
)
_PKG_REL_NS = (
    "{http://schemas.openxmlformats.org/package/2006/relationships}"
)

_CELL_REF_RE = re.compile(r"^([A-Z]+)(\d+)$")


def decode_value(t: str | None, v: str, sst: list[str]) -> str:
    """Normalized string of a cell's non-empty ``<v>`` text under its
    ``t=`` type (ECMA-376 §18.18.11 ST_CellType), per the reference
    stringify rules (``src/lib.rs:387-400``)."""
    if t is None or t == "n":
        # int fast path (calamine parses i64 first, f64 fallback)
        digits = v[1:] if v[0] == "-" else v
        if digits.isdigit():
            # canonical form passes through untouched; "007"/"-0"
            # renormalize via int()
            if (
                len(digits) <= 18
                and (digits == "0" or digits[0] != "0")
                and v != "-0"
            ):
                return v
            iv = int(v)
            if -(2**63) <= iv < 2**63:
                return str(iv)
            # beyond i64 → f64 like calamine
        try:
            return format_float(float(v))
        except ValueError:
            return v
    if t == "s":
        try:
            return sst[int(v)]
        except (ValueError, IndexError):
            return v
    if t == "b":
        return "false" if v in ("0", "false", "FALSE") else "true"
    if t == "e":
        return _XLSX_ERR_TOKENS.get(v, v)
    return v  # "str", "d", unknown -> literal text


def _text_of(elem: ET.Element) -> str:
    """Concatenated text of all <t> descendants (rich-text runs)."""
    return "".join(t.text or "" for t in elem.iter(f"{_MAIN_NS}t"))


def walk_rows(stream, sst: list[str]):
    """ElementTree row walker over a SpreadsheetML worksheet document:
    yields (row_idx, [(col, normalized_string), ...]) per physically-present
    ``<row>``. This is the reference tier the faster ones are tested
    against."""
    ROW, C, V, IS = (f"{_MAIN_NS}{tag}" for tag in ("row", "c", "v", "is"))
    row_counter = -1
    for _, el in ET.iterparse(stream):  # end events only
        if el.tag != ROW:
            continue
        r_attr = el.get("r")
        row_counter = int(r_attr) - 1 if r_attr else row_counter + 1
        out: list[tuple[int, str]] = []
        col = -1
        for c in el:
            if c.tag != C:
                continue
            ref = c.get("r")
            if ref:
                # manual A1 parse (letters only; row already known)
                acc = 0
                for ch in ref:
                    o = ord(ch)
                    if o < 65 or o > 90:
                        break
                    acc = acc * 26 + (o - 64)
                col = acc - 1
            else:
                col += 1
            s = ""  # present-but-empty unless a <v>/<is> child holds text
            for child in c:  # first direct v/is child wins
                if child.tag == V:
                    if child.text:
                        s = decode_value(c.get("t"), child.text, sst)
                    break
                if child.tag == IS:
                    s = _text_of(child)
                    break
            out.append((col, s))
        yield row_counter, out
        el.clear()


# --- find-based fast path --------------------------------------------------
# SpreadsheetML from real producers (Excel, openpyxl, this repo's fixture
# writer) declares the main namespace as the DEFAULT namespace and never by
# prefix, never uses CDATA/comments/PIs inside sheet parts, and is UTF-8.
# Under those conditions (cheaply verified over the whole buffer up front),
# <row>/<c>/<v>/<is> elements can be located with string finds + small
# regexes — ~2.5× faster than ElementTree iterparse. Anything unusual
# disqualifies the buffer and the ET walker runs instead, so the fast path
# can never be silently wrong: it either proves its preconditions or defers.

# Per-task inflate-to-memory bound for whole sheet parts. Deliberately
# small: with one task per workbook, every concurrent task may hold buffer +
# decoded text (~3× this) at once. Larger parts stream through the ET walker
# (or the split path's byte ranges for single large files).
_FAST_BUFFER_LIMIT = 32 * 1024 * 1024
_MAIN_NS_URI = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_XMLNS_PREFIX_RE = re.compile(rb'xmlns:[A-Za-z0-9_]+="([^"]*)"')
_ROW_TAIL = " />\t\r\n"
_ROW_R_RE = re.compile(r'\br="(\d+)"')
_T_TEXT_RE = re.compile(r"<t(?:\s[^>]*)?>(.*?)</t>", re.S)
# a cell start tag, not a rich-text run property such as <color>/<charset>
_CELL_SPLIT_RE = re.compile(r"<c(?=[\s/>])")
# split ranges start at row tags whose first attribute is r=
_ROW_R = b'<row r="'
_RANGE_END_RE = re.compile(rb'<row r="|</sheetData>')
_FIRST_ROW_RE = re.compile(rb"<sheetData[\s>].*?(<row[\s/>])", re.S)
_READ_ON_BYTES = 64 * 1024


def _fast_path_eligible(data: bytes) -> bool:
    # the sheet must actually live in the SpreadsheetML main namespace as
    # the DEFAULT namespace — otherwise the fast walker would "parse" rows
    # the namespace-keyed ET walker would (correctly) not recognize at all
    if data.find(b'xmlns="' + _MAIN_NS_URI.encode() + b'"') == -1:
        return False
    if data.find(b"<![CDATA[") != -1 or data.find(b"<!--") != -1:
        return False
    if data.find(b"<?", 1) != -1:  # any PI beyond the leading XML decl
        return False
    if data.find(b"<extLst") != -1:
        # extension lists may nest arbitrary elements inside <c>, which the
        # find-based cell splitter assumes cannot happen
        return False
    head = data[:200]
    if b"encoding" in head and b"UTF-8" not in head and b"utf-8" not in head:
        return False
    for m in _XMLNS_PREFIX_RE.finditer(data):
        if m.group(1) == _MAIN_NS_URI.encode():
            return False  # prefixed main-ns elements are possible → defer
    return True


def _unescape(s: str) -> str:
    if "&" in s:
        import html

        # valid XML can only contain the five predefined entities + numeric
        # character references — all of which html.unescape resolves
        return html.unescape(s)
    return s


#: Strict single-pass cell tokenizer for the three machine-written cell
#: shapes (r15 optimization): self-closing, ``<v>`` scalar without XML
#: escapes, and single-run ``<t xml:space="preserve">`` inline string
#: without escapes. A row parses on this tier ONLY when consecutive
#: matches tile its entire body (checked below) — any other attribute,
#: attribute order, escape, or element form leaves a gap and the row
#: falls back to the generic find-based decoder, so this tier can never
#: be silently wrong: per cell it either proves one of the three shapes
#: or defers.
_STRICT_CELL_RE = re.compile(
    r'<c r="([A-Z]{1,3})\d*"(?: t="([a-zA-Z]+)")?'
    r'(?:/>'
    r"|><v>([^<&]*)</v></c>"
    r'|><is><t xml:space="preserve">([^<&]*)</t></is></c>)'
)


def _decode_strict_cells(
    body: str, sst: list[str]
) -> list[tuple[int, str]] | None:
    """Decode a ``<row>`` body via :data:`_STRICT_CELL_RE`; None when the
    matches do not tile the body exactly (caller falls back)."""
    out: list[tuple[int, str]] = []
    pos = 0
    for m in _STRICT_CELL_RE.finditer(body):
        if m.start() != pos:
            return None
        pos = m.end()
        letters, t, v, istext = m.groups()
        acc = 0
        for ch in letters:
            acc = acc * 26 + (ord(ch) - 64)
        if istext is not None:
            out.append((acc - 1, istext))
        elif not v:  # self-closing or empty <v> → present-but-empty
            out.append((acc - 1, ""))
        else:
            out.append((acc - 1, decode_value(t, v, sst)))
    if pos != len(body):
        return None
    return out


def _decode_cells(body: str, sst: list[str]) -> list[tuple[int, str]]:
    """Generic find-based decode of a ``<row>`` body: splitting on ``<c``
    start tags isolates cells, because inside ``<row>`` the schema-valid
    children are only ``<c>`` (``<extLst>`` is excluded by eligibility).
    All parsing after the split is C-speed str.find/slice."""
    out: list[tuple[int, str]] = []
    col = -1
    for part in _CELL_SPLIT_RE.split(body)[1:]:
        gt = part.find(">")
        attrs = part[:gt]
        ri = attrs.find(' r="')
        if ri != -1:
            # identical arithmetic to walk_rows' manual A1 parse
            acc = 0
            for ch in attrs[ri + 4 : attrs.index('"', ri + 4)]:
                o = ord(ch)
                if o < 65 or o > 90:
                    break
                acc = acc * 26 + (o - 64)
            col = acc - 1
        else:
            col += 1
        if attrs.endswith("/"):  # self-closing <c/> → present-empty
            out.append((col, ""))
            continue
        content = part[gt + 1 :]
        # ET semantics: first direct v/is child wins
        vpos = content.find("<v")
        ipos = content.find("<is")
        if ipos != -1 and (vpos == -1 or ipos < vpos):
            out.append(
                (
                    col,
                    "".join(
                        _unescape(t) for t in _T_TEXT_RE.findall(content[ipos:])
                    ),
                )
            )
            continue
        v = None
        if vpos != -1:
            vgt = content.find(">", vpos)
            if vgt != -1 and content[vgt - 1] != "/":
                vend = content.find("</v>", vgt)
                if vend != -1:
                    v = _unescape(content[vgt + 1 : vend])
        if not v:  # absent or empty <v> → present-but-empty
            out.append((col, ""))
            continue
        ti = attrs.find(' t="')
        t = attrs[ti + 4 : attrs.index('"', ti + 4)] if ti != -1 else None
        out.append((col, decode_value(t, v, sst)))
    return out


def walk_rows_fast(data: bytes, sst: list[str]):
    """Find-based row walker over a whole in-memory worksheet document.
    Same contract as :func:`walk_rows`; only called when
    ``_fast_path_eligible`` proved the preconditions. Returns None
    (pre-iteration) if decoding fails."""
    try:
        text = data.decode("utf-8")
    except UnicodeDecodeError:
        return None

    def rows():
        pos = 0
        row_counter = -1
        n = len(text)
        while True:
            i = text.find("<row", pos)
            if i < 0:
                return
            tail = i + 4
            if tail < n and text[tail] not in _ROW_TAIL:
                pos = tail  # e.g. <rowBreaks>
                continue
            j = text.find(">", i)
            if j < 0:
                return
            m = _ROW_R_RE.search(text[i:j])
            row_counter = int(m.group(1)) - 1 if m else row_counter + 1
            if text[j - 1] == "/":  # self-closing: physically-present, empty
                yield row_counter, []
                pos = j + 1
                continue
            k = text.find("</row>", j)
            if k < 0:
                return
            body = text[j + 1 : k]
            cells = _decode_strict_cells(body, sst)
            if cells is None:
                cells = _decode_cells(body, sst)
            yield row_counter, cells
            pos = k + 6

    return rows()


def walk_buffer(data: bytes, sst: list[str]):
    """The tier choice for one in-memory worksheet document: the find-based
    walker when the buffer proves its preconditions, else ElementTree."""
    rows = walk_rows_fast(data, sst) if _fast_path_eligible(data) else None
    return rows if rows is not None else walk_rows(io.BytesIO(data), sst)


def parse_cell_ref(ref: str) -> tuple[int, int]:
    """``"B3"`` -> (row=2, col=1), both 0-based."""
    m = _CELL_REF_RE.match(ref)
    if not m:
        raise DataToParquetError(f"bad cell reference: {ref!r}")
    letters, digits = m.groups()
    col = 0
    for ch in letters:
        col = col * 26 + (ord(ch) - 64)
    return int(digits) - 1, col - 1


def parse_dimension(ref: str) -> tuple[tuple[int, int], tuple[int, int]]:
    """``"A1:F100"`` -> ((0,0),(99,5)); single-cell ``"A1"`` -> ((0,0),(0,0))."""
    if ":" in ref:
        a, b = ref.split(":", 1)
        return parse_cell_ref(a), parse_cell_ref(b)
    cell = parse_cell_ref(ref)
    return cell, cell


class Workbook:
    """The shell .xlsx and .xlsb workbooks share: the zip container, the
    ``[(sheet_name, zip_member)]`` map a subclass's ``_load_sheet_map``
    reads, sheet selection and the context-manager protocol."""

    _KIND = ""

    def __init__(self, path: str) -> None:
        self.path = path
        try:
            self._zip = zipfile.ZipFile(path)
        except (zipfile.BadZipFile, OSError) as e:
            raise DataToParquetError(
                f"cannot open {self._KIND} {path!r}: {e}"
            ) from e
        self._sheet_targets = self._load_sheet_map()
        self._sst: list[str] | None = None

    @property
    def sheet_names(self) -> list[str]:
        return [name for name, _ in self._sheet_targets]

    def resolve_sheet(
        self, sheet_name: str | None = None, sheet_index: int | None = None
    ) -> str:
        """Reference sheet-selection rules (``get_sheet_name``, src/lib.rs:105-124):
        explicit name > 0-based index (bounds-checked) > first sheet."""
        names = self.sheet_names
        if sheet_name is not None:
            if sheet_name not in names:
                raise DataToParquetError(f"Sheet {sheet_name!r} not found")
            return sheet_name
        if sheet_index is not None:
            if sheet_index >= len(names) or sheet_index < 0:
                raise DataToParquetError(
                    f"Sheet index {sheet_index} out of bounds"
                )
            return names[sheet_index]
        if not names:
            raise DataToParquetError("No worksheets found")
        return names[0]

    def _member(self, sheet: str) -> str:
        return dict(self._sheet_targets)[sheet]

    def close(self) -> None:
        self._zip.close()

    def __enter__(self) -> "Workbook":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class XlsxWorkbook(Workbook):
    """Lazily-scanning .xlsx workbook (reference O1/O4 semantics)."""

    _KIND = "xlsx"

    # -- workbook structure ------------------------------------------------
    def _load_sheet_map(self) -> list[tuple[str, str]]:
        """[(sheet_name, zip_member_path)] in workbook order."""
        rels: dict[str, str] = {}
        try:
            with self._zip.open("xl/_rels/workbook.xml.rels") as f:
                for _, el in ET.iterparse(f):
                    if el.tag == f"{_PKG_REL_NS}Relationship":
                        target = el.get("Target", "")
                        if target.startswith("/"):
                            target = target.lstrip("/")
                        else:
                            target = "xl/" + target
                        rels[el.get("Id", "")] = target
        except KeyError:
            pass
        sheets: list[tuple[str, str]] = []
        with self._zip.open("xl/workbook.xml") as f:
            for _, el in ET.iterparse(f):
                if el.tag == f"{_MAIN_NS}sheet":
                    rid = el.get(f"{_REL_NS}id", "")
                    target = rels.get(rid, f"xl/worksheets/sheet{len(sheets) + 1}.xml")
                    sheets.append((el.get("name", f"Sheet{len(sheets) + 1}"), target))
        return sheets

    # -- shared strings ----------------------------------------------------
    def _shared_strings(self) -> list[str]:
        if self._sst is None:
            sst: list[str] = []
            try:
                with self._zip.open("xl/sharedStrings.xml") as f:
                    for _, el in ET.iterparse(f):
                        if el.tag == f"{_MAIN_NS}si":
                            sst.append(_text_of(el))
                            el.clear()
            except KeyError:
                pass
            self._sst = sst
        return self._sst

    # -- cell stream -------------------------------------------------------
    def dimensions(self, sheet: str) -> tuple[tuple[int, int], tuple[int, int]] | None:
        """The sheet's declared dimension box, if present."""
        with self._zip.open(self._member(sheet)) as f:
            for event, el in ET.iterparse(f, events=("start",)):
                tag = el.tag
                if tag == f"{_MAIN_NS}dimension":
                    ref = el.get("ref")
                    return parse_dimension(ref) if ref else None
                if tag == f"{_MAIN_NS}sheetData":
                    return None  # no dimension element before data
        return None

    def iter_rows_str(
        self, sheet: str, span: tuple[int, int, int] | None = None
    ) -> Iterator[tuple[int, list[tuple[int, str]]]]:
        """Yields (row_idx, [(col, normalized_string), ...]) for each
        physically-present row, cells already normalized per the reference
        stringify rules (``src/lib.rs:387-400``).

        ``span = (head, lo, hi)`` is one nominal byte range of the inflated
        part (the split path's task unit). The task aligns it itself: it
        starts at the first ``<row r="`` at or after ``lo`` (range 0, whose
        ``lo`` is ``head``, at the first row) and reads on past ``hi`` up to
        the next ``<row r="`` or ``</sheetData>``; a range with no aligned
        start before ``hi`` is empty. Rows without a leading ``r=`` thus stay
        with the range before them and are numbered as when streaming. The
        rows are parsed as a document of their own, the part's first
        ``head`` bytes (XML declaration, ``<worksheet …>`` start tag with
        its namespace declarations, up to ``<sheetData>``) + the rows + the
        closing tags, so every tier sees the same namespaces as the whole
        part.
        """
        sst = self._shared_strings()
        member = self._member(sheet)
        with self._zip.open(member) as f:
            if span is not None:
                head, lo, hi = span
                prolog = f.read(head)
                f.seek(lo)  # forward seek inflates and discards
                buf = bytearray(f.read(hi - lo + len(_ROW_R) - 1))
                # a match ends inside buf, so it starts before hi
                start = 0 if lo == head else buf.find(_ROW_R)
                if start < 0:
                    return
                pos = hi - lo
                while (m := _RANGE_END_RE.search(buf, pos)) is None:
                    more = f.read(_READ_ON_BYTES)
                    if not more:
                        break
                    pos = max(pos, len(buf) - len(b"</sheetData>") + 1)
                    buf += more
                end = m.start() if m else buf.find(b"</sheetData>", start)
                rows = memoryview(buf)[start : end if end >= 0 else len(buf)]
                doc = b"".join((prolog, rows, b"</sheetData></worksheet>"))
                yield from walk_buffer(doc, sst)
            elif self._zip.getinfo(member).file_size <= _FAST_BUFFER_LIMIT:
                yield from walk_buffer(f.read(), sst)
            else:
                yield from walk_rows(f, sst)

    def first_row_offset(self, sheet: str) -> int | None:
        """Offset of the first ``<row`` in the inflated part, looked for in
        the part's first MiB only; None if it is not there."""
        with self._zip.open(self._member(sheet)) as f:
            m = _FIRST_ROW_RE.search(f.read(1 << 20))
        return m.start(1) if m else None
