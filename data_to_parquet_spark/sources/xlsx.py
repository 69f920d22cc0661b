"""Streaming .xlsx cell reader built on the stdlib (zipfile + ElementTree).

The container has no openpyxl, so this module parses the OOXML SpreadsheetML
format directly — the format is a public ISO/ECMA spec (ECMA-376). The reader
reproduces the reference's scan semantics (``src/lib.rs:30-65``): a lazy,
row-major, *sparse* cell stream — absent cells are never emitted; explicitly
present but valueless cells are emitted as Empty (→ ``""`` downstream, while
absent cells densify to NULL — the reference's critical null-vs-empty-string
distinction, ``src/lib.rs:398`` vs ``:428-433``).

Decoders. One decoder sits in front of ElementTree. :func:`walk_buffer`
hands an in-memory buffer to the columnar tier (:class:`ColumnarRows`)
when :func:`_fast_path_eligible` and :func:`decode_columnar` prove it:
``pyarrow.compute`` splits the rows and cells, matches every cell against
three machine-written shapes and densifies straight into Arrow columns. A
cell of any other shape (a styled number, a formula, escaped text) is
decoded alone by the find-based cell split (:func:`_decode_cells`) and
the rest of its row stays columnar; a row whose cells cannot be checked
one by one (text after its start tag, a cell without a leading ``r=``,
columns out of order) is decoded whole by that split. Every other buffer,
and every part too large to buffer, goes to the ElementTree walker
(:func:`walk_rows`). Both hand the ``<v>`` texts they do not pass through
to the one ``t=`` decoder, :func:`decode_value`, and the columnar tier
must give the ElementTree walker's cells exactly (the differential tests
pin this). A truncated part raises ``ParseError`` in both: neither
returns fewer rows quietly.

Memory bound: sheet parts up to ``_FAST_BUFFER_LIMIT`` are inflated into
one buffer, so per-task memory is O(min(sheet, limit) + sst). Larger parts
stream through ``ElementTree.iterparse`` with element eviction, which keeps
one ``<row>`` subtree resident: O(row + sst), the bound the reference
claims (``README.md:9``). A split-path task holds only its own byte range
of the part, O(sheet / tasks + sst).
"""

from __future__ import annotations

import functools
import io
import itertools
import re
import zipfile
from typing import Iterator
from xml.etree import ElementTree as ET

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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


# --- eligibility of the columnar tier -----------------------------------------
# SpreadsheetML from real producers (Excel, openpyxl, this repo's fixture
# writer) declares the main namespace as the DEFAULT namespace and never by
# prefix, never uses CDATA/comments/PIs inside sheet parts, and is UTF-8.
# Under those conditions (cheaply verified over the whole buffer up front),
# <row>/<c>/<v>/<is> elements can be located by splitting on their start
# tags instead of parsing XML. Anything unusual disqualifies the buffer and
# the ElementTree walker runs instead, so the columnar tier can never be
# silently wrong: it either proves its preconditions or defers.

# Per-task inflate-to-memory bound for whole sheet parts. Deliberately
# small: with one task per workbook, every concurrent task may hold buffer +
# decoded text (~3× this) at once. Larger parts stream through the ET walker
# (or the split path's byte ranges for single large files).
_FAST_BUFFER_LIMIT = 32 * 1024 * 1024
_MAIN_NS_URI = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_XMLNS_PREFIX_RE = re.compile(rb'xmlns:[A-Za-z0-9_]+="([^"]*)"')
_T_TEXT_RE = re.compile(r"<t(?:\s[^>]*)?>(.*?)</t>", re.S)
# a cell start tag, not a rich-text run property such as <color>/<charset>
_CELL_SPLIT_RE = re.compile(r"<c(?=[\s/>])")
# split ranges start at row tags whose first attribute is r=
_ROW_R = b'<row r="'
_RANGE_END_RE = re.compile(rb'<row r="|</sheetData>')
_FIRST_ROW_RE = re.compile(rb"<sheetData[\s>].*?(<row[\s/>])", re.S)
_READ_ON_BYTES = 64 * 1024


# Markup that keeps a buffer off the columnar tier, keyed by a byte of each
# token that machine-written sheet XML seldom holds, so memchr (bytes.find
# of one byte) jumps from hit to hit; ``(token, first allowed offset)``:
# the XML declaration may open the buffer, no other processing
# instruction may appear.
_REFUSED_MARKUP = {
    b"!": ((b"<![CDATA[", 0), (b"<!--", 0)),
    b"?": ((b"<?", 1),),
    b"L": ((b"<extLst", 0),),  # extension lists may nest any element in <c>
}
_CHECKED_HITS = 16  # hits checked in place before a plain find takes over
_MAIN_VALUE = b'="' + _MAIN_NS_URI.encode() + b'"'
# bytes that may precede "xmlns" inside a prefix declaration's name
_PREFIX_BYTES = frozenset(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_:"
)


def _holds_refused_markup(data: bytes) -> bool:
    """Whether any ``_REFUSED_MARKUP`` token occurs at or after its first
    allowed offset."""
    for rare, tokens in _REFUSED_MARKUP.items():
        i = data.find(rare)
        for _ in range(_CHECKED_HITS):
            if i == -1:
                break
            for token, lo in tokens:
                at = i - token.index(rare)
                if at >= lo and data.startswith(token, at):
                    return True
            i = data.find(rare, i + 1)
        else:
            if any(
                data.find(token, max(i - token.index(rare), lo)) != -1
                for token, lo in tokens
            ):
                return True
    return False


def _may_bind_main_prefix(data: bytes) -> bool:
    """False when every occurrence of the quoted main-namespace URI is a
    default declaration (``xmlns="…"``), so no ``xmlns:p="…"`` can bind
    it."""
    q = data.find(_MAIN_VALUE)
    while q != -1:
        default = (
            q >= 5
            and data.startswith(b"xmlns", q - 5)
            and (q == 5 or data[q - 6] not in _PREFIX_BYTES)
        )
        if not default:
            return True
        q = data.find(_MAIN_VALUE, q + 1)
    return False


def _fast_path_eligible(data: bytes) -> bool:
    """Whether a sheet buffer may take the columnar tier: the
    SpreadsheetML main namespace is the DEFAULT namespace (otherwise the
    tier would "parse" rows the namespace-keyed ET walker would,
    correctly, not recognize), no prefix binds it (prefixed
    main-namespace elements are possible), the encoding is UTF-8, and no
    CDATA, comment, later processing instruction or extension list
    occurs. Each rule reads the buffer at memchr speed: the exact prefix
    scan runs only when :func:`_may_bind_main_prefix` says it must."""
    main = _MAIN_NS_URI.encode()
    if data.find(b'xmlns="' + main + b'"') == -1:
        return False
    head = data[:200]
    if b"encoding" in head and b"UTF-8" not in head and b"utf-8" not in head:
        return False
    if _may_bind_main_prefix(data) and any(
        m.group(1) == main for m in _XMLNS_PREFIX_RE.finditer(data)
    ):
        return False
    return not _holds_refused_markup(data)


def _unescape(s: str) -> str:
    if "&" in s:
        import html

        # valid XML can only contain the five predefined entities + numeric
        # character references — all of which html.unescape resolves
        return html.unescape(s)
    return s


def _decode_cells(body: str, sst: list[str]) -> list[tuple[int, str]]:
    """Generic find-based decode of a ``<row>`` body (or of one cell):
    splitting on ``<c`` start tags isolates cells, because inside ``<row>``
    the schema-valid children are only ``<c>`` (``<extLst>`` is excluded by
    eligibility). All parsing after the split is C-speed str.find/slice."""
    out: list[tuple[int, str]] = []
    col = -1
    for part in _CELL_SPLIT_RE.split(body)[1:]:
        gt = part.find(">")
        attrs = part[:gt]
        ri = attrs.find(' r="')
        if ri != -1 and attrs[ri + 4] != '"':  # r="" counts as no r=
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


def _truncated(what: str) -> ET.ParseError:
    return ET.ParseError(f"{what}: the sheet part is truncated")


# --- columnar tier -----------------------------------------------------------
# Machine-written sheets (this repo's writers and most export libraries)
# use three cell shapes. For a buffer of such rows pyarrow.compute does the
# per-cell work: split the rows on </row> and each row on "<c ", match
# every cell piece against the shapes with one anchored RE2 pattern, and
# densify with numpy positions plus take. Python only decodes what the
# vectorized rules do not pass through: t="s"/t="e" cells, non-canonical
# numbers, each cell of another shape (alone) and the rows whose cells
# cannot be checked one by one (whole).

#: a cell piece after "<c ": self-closing, a ``<v>`` scalar without XML
#: escapes, or a single-run ``xml:space="preserve"`` inline string without
#: escapes; ``r=`` first and an optional ``t=`` second
_CELL_SHAPES = (
    r'^r="(?P<col>[A-Z]{1,3})[0-9]*"(?: t="(?P<t>[a-zA-Z]+)")?'
    r"(?:/>|><v>(?P<v>[^<&]*)</v></c>"
    r'|><is><t xml:space="preserve">(?P<s>[^<&]*)</t></is></c>)$'
)
#: a row's text before its first "<c ": the start tag and nothing else
_ROW_HEAD = r'^<row r="[0-9]+"[^>]*>$'
_ROW_INDEX = r'^<row r="(?P<r>[0-9]{1,9})"'
# <v> texts decode_value returns unchanged: i64 ints of up to 18 digits
# without leading zeros (and not "-0"), and decimals of at most 15 digits
# without trailing zeros — at most 15 significant digits make such a
# decimal the shortest round-trip form of its double, which format_float
# prints positionally
_CANONICAL_INT = r"^(?:0|-?[1-9][0-9]{0,17})$"
_CANONICAL_DEC = r"^-?(?:0|[1-9][0-9]*)\.[0-9]*[1-9]$"
_NUMERIC_T = pa.array(["", "n"])
_DECODED_T = pa.array(["s", "e"])
_FALSE = pa.array(["0", "false", "FALSE"])
# rows decoded per step; a multiple of the batch size is used
_STEP_ROWS = 4096


@functools.cache
def _column_letters() -> pa.Array:
    """``A`` … ``ZZZ`` in column order: entry ``i`` names column ``i``."""
    letters = [chr(65 + i) for i in range(26)]
    return pa.array(
        ["".join(p) for n in (1, 2, 3) for p in itertools.product(letters, repeat=n)]
    )


class ColumnarRows:
    """The rows of one worksheet buffer whose structure the columnar tier
    proved: ``rows`` holds each row's text up to its ``</row>`` and
    ``row_index`` each row's 0-based ``r=``. Cells decode lazily, a slice
    of rows at a time."""

    def __init__(self, rows: pa.StringArray, row_index: np.ndarray, sst: list[str]):
        self.rows = rows
        self.row_index = row_index
        self.sst = sst

    def __len__(self) -> int:
        return len(self.rows)

    def _decode(self, lo: int, hi: int):
        """Cells of rows ``lo:hi`` as ``(row, col, values)`` in document
        order: numpy row positions (relative to ``lo``) and 0-based columns,
        and an Arrow string array of cell values, each (row, col) at most
        once."""
        split = pc.split_pattern(self.rows.slice(lo, hi - lo), "<c ")
        pieces = split.flatten()
        heads = np.asarray(split.offsets)[:-1]
        parent = np.asarray(pc.list_parent_indices(split))
        cells = pc.extract_regex(pieces, _CELL_SHAPES)
        shaped = np.asarray(cells.is_valid())
        letters, t, v, s = cells.flatten()
        col = np.asarray(
            pc.fill_null(pc.index_in(letters, _column_letters()), -1)
        ).astype(np.int64)
        # a row falls back whole when text follows its start tag, a cell
        # piece of another shape lacks a leading r= or is not one cell, or
        # its columns do not strictly increase; other odd pieces decode
        # alone and the rest of the row stays columnar
        head_ok = pc.match_substring_regex(pieces.take(pa.array(heads)), _ROW_HEAD)
        fallback = ~np.asarray(head_ok)
        odd = ~shaped
        odd[heads] = False
        # (row, piece position: the row's document order, col, value)
        alone: list[tuple[int, int, int, str]] = []
        odd_at = np.flatnonzero(odd)
        for i, r, piece in zip(
            odd_at.tolist(), parent[odd_at].tolist(), pieces.take(odd_at).to_pylist()
        ):
            one = _decode_cells("<c " + piece, self.sst) if piece[:3] == 'r="' else ()
            if len(one) == 1:
                alone.append((r, i, *one[0]))
            else:
                fallback[r] = True
        if alone:
            col[[a[1] for a in alone]] = [a[2] for a in alone]
        unordered = (parent[1:] == parent[:-1]) & (col[1:] <= col[:-1])
        fallback[parent[1:][unordered]] = True

        keep = shaped & ~fallback[parent]
        kept = pa.array(keep)
        t, v, s = t.filter(kept), v.filter(kept), s.filter(kept)
        has_v = pc.not_equal(v, "")
        canonical = pc.or_(
            pc.match_substring_regex(v, _CANONICAL_INT),
            pc.and_(
                pc.match_substring_regex(v, _CANONICAL_DEC),
                pc.less_equal(pc.binary_length(pc.utf8_ltrim(v, "-")), 16),
            ),
        )
        python = pc.and_(
            has_v,
            pc.or_(
                pc.is_in(t, _DECODED_T),
                pc.and_(pc.is_in(t, _NUMERIC_T), pc.invert(canonical)),
            ),
        )
        values = pc.if_else(
            pc.and_(has_v, pc.equal(t, "b")),
            pc.if_else(pc.is_in(v, _FALSE), "false", "true"),
            pc.binary_join_element_wise(v, s, ""),
        )
        if pc.any(python).as_py():
            pairs = zip(t.filter(python).to_pylist(), v.filter(python).to_pylist())
            decoded = [decode_value(tt or None, vv, self.sst) for tt, vv in pairs]
            values = pc.replace_with_mask(
                values, python, pa.array(decoded, pa.string())
            )

        rows, cols = parent[keep].astype(np.int64), col[keep]
        fell = fallback.tolist()
        extra = [cell for cell in alone if not fell[cell[0]]]
        for i in np.flatnonzero(fallback).tolist():
            text = self.rows[lo + i].as_py()
            # a repeated column: the last value wins
            row = dict(_decode_cells(text[text.index(">") + 1 :], self.sst))
            extra += [(i, k, *cell) for k, cell in enumerate(row.items())]
        if extra:
            r, at, c, x = zip(*extra)
            rows = np.concatenate([rows, np.array(r, np.int64)])
            cols = np.concatenate([cols, np.array(c, np.int64)])
            values = pa.concat_arrays([values, pa.array(x, pa.string())])
            order = np.lexsort((np.concatenate([np.flatnonzero(keep), at]), rows))
            rows, cols, values = rows[order], cols[order], values.take(order)
        return rows, cols, values

    def __iter__(self) -> Iterator[tuple[int, list[tuple[int, str]]]]:
        """``(row_idx, [(col, value), ...])`` per row, as the row walkers
        give them, decoding ``_STEP_ROWS`` rows at a time."""
        for lo in range(0, len(self), _STEP_ROWS):
            hi = min(lo + _STEP_ROWS, len(self))
            rows, cols, values = self._decode(lo, hi)
            cells = list(zip(cols.tolist(), values.to_pylist()))
            ends = np.searchsorted(rows, np.arange(hi - lo + 1)).tolist()
            for i, r in enumerate(self.row_index[lo:hi].tolist()):
                yield r, cells[ends[i] : ends[i + 1]]

    def cells(self, i: int) -> list[tuple[int, str]]:
        """Row ``i``'s ``(col, value)`` cells, as the row walkers give them."""
        _, cols, values = self._decode(i, i + 1)
        return list(zip(cols.tolist(), values.to_pylist()))

    def batches(
        self,
        first: int,
        start_col: int,
        num_cols: int,
        batch_size: int,
        names: list[str],
    ) -> Iterator[pa.RecordBatch]:
        """Rows ``first:`` as ``batch_size``-row batches of nullable strings
        named ``names`` over columns ``start_col:start_col + num_cols``: an
        absent cell is NULL, a present-but-empty one ``""``, and cells outside
        the span are dropped."""
        step = batch_size * -(-_STEP_ROWS // batch_size)
        for lo in range(first, len(self), step):
            hi = min(lo + step, len(self))
            rows, cols, values = self._decode(lo, hi)
            rel = cols - start_col
            inside = (rel >= 0) & (rel < num_cols)
            take = np.full((num_cols, hi - lo), -1, np.int64)
            take[rel[inside], rows[inside]] = np.flatnonzero(inside)
            chunk = pa.RecordBatch.from_arrays(
                [values.take(pa.array(ix, mask=ix < 0)) for ix in take], names=names
            )
            for off in range(0, hi - lo, batch_size):
                yield chunk.slice(off, batch_size)


def decode_columnar(data: bytes, sst: list[str]) -> ColumnarRows | None:
    """The columnar tier for one in-memory worksheet document that
    :func:`_fast_path_eligible` accepted: its rows when the bytes between
    ``<sheetData>`` and ``</sheetData>`` are UTF-8 ``<row r="N" …>…</row>``
    elements back to back (nothing between rows, no self-closing row and no
    row without a leading ``r=``), None otherwise. Raises ``ParseError``
    for a document without ``</sheetData>``."""
    a = data.find(b"<sheetData>")
    if a < 0:
        return None
    a += len(b"<sheetData>")
    b = data.find(b"</sheetData>", a)
    if b < 0:
        raise _truncated("no </sheetData>")
    if b - a >= 2**31:
        return None
    text = pa.StringArray.from_buffers(
        1,
        pa.py_buffer(np.array([0, b - a], np.int32)),
        pa.py_buffer(memoryview(data)[a:b]),
    )
    try:
        text.validate(full=True)
    except pa.ArrowInvalid:
        return None
    pieces = pc.split_pattern(text, "</row>").flatten()
    if pieces[-1].as_py() != "":
        return None
    rows = pieces.slice(0, len(pieces) - 1)
    index = pc.extract_regex(rows, _ROW_INDEX).flatten()[0]
    # every row starts with "<row"; one more anywhere is a row inside a row
    if index.null_count or data.count(b"<row", a, b) != len(rows):
        return None
    return ColumnarRows(rows, np.asarray(pc.cast(index, pa.int64())) - 1, sst)


def walk_buffer(data: bytes, sst: list[str]):
    """The decoder choice for one in-memory worksheet document: a
    :class:`ColumnarRows` when :func:`_fast_path_eligible` and
    :func:`decode_columnar` prove the buffer, else the ElementTree
    walker's row stream."""
    if _fast_path_eligible(data):
        rows = decode_columnar(data, sst)
        if rows is not None:
            return rows
    return walk_rows(io.BytesIO(data), sst)


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

    def sheet_rows(self, sheet: str, span: tuple[int, int, int] | None = None):
        """The rows a scan decodes; the .xlsx reader may return them
        columnar."""
        return self.iter_rows_str(sheet)

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

    def _sheet_doc(
        self, sheet: str, span: tuple[int, int, int] | None
    ) -> bytes | None:
        """The in-memory worksheet document a scan decodes: one split range
        behind the part's own head (see :meth:`sheet_rows`), or the whole
        part up to ``_FAST_BUFFER_LIMIT``; None for a larger part, which
        streams. Raises ``ParseError`` when the last range reaches the end
        of the part without ``</sheetData>``."""
        member = self._member(sheet)
        if span is None and self._zip.getinfo(member).file_size > _FAST_BUFFER_LIMIT:
            return None
        with self._zip.open(member) as f:
            if span is None:
                return f.read()
            head, lo, hi = span
            prolog = f.read(head)
            f.seek(lo)  # forward seek inflates and discards
            buf = bytearray(f.read(hi - lo + len(_ROW_R) - 1))
            # a match ends inside buf, so it starts before hi
            start = 0 if lo == head else buf.find(_ROW_R)
            if start < 0:
                start = end = 0
            else:
                pos = hi - lo
                while (m := _RANGE_END_RE.search(buf, pos)) is None:
                    more = f.read(_READ_ON_BYTES)
                    if not more:
                        break
                    pos = max(pos, len(buf) - len(b"</sheetData>") + 1)
                    buf += more
                end = m.start() if m else buf.find(b"</sheetData>", start)
                if end < 0:
                    raise _truncated("no </sheetData>")
        rows = memoryview(buf)[start:end]
        return b"".join((prolog, rows, b"</sheetData></worksheet>"))

    def sheet_rows(self, sheet: str, span: tuple[int, int, int] | None = None):
        """The rows a scan decodes, from one read of the part: a
        :class:`ColumnarRows` when the columnar tier proves the buffer, else
        the ElementTree walker's stream of (row_idx, [(col,
        normalized_string), ...]) per physically-present row. Either
        iterates as that stream, cells normalized per the reference
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
        closing tags, so both decoders see the same namespaces as the whole
        part.
        """
        sst = self._shared_strings()
        doc = self._sheet_doc(sheet, span)
        if doc is not None:
            return walk_buffer(doc, sst)

        def streamed():
            with self._zip.open(self._member(sheet)) as f:
                yield from walk_rows(f, sst)

        return streamed()

    def iter_rows_str(
        self, sheet: str, span: tuple[int, int, int] | None = None
    ) -> Iterator[tuple[int, list[tuple[int, str]]]]:
        """:meth:`sheet_rows` as one row stream."""
        yield from self.sheet_rows(sheet, span)

    def first_row_offset(self, sheet: str) -> int | None:
        """Offset of the first ``<row`` in the inflated part, looked for in
        the part's first MiB only; None if it is not there."""
        with self._zip.open(self._member(sheet)) as f:
            m = _FIRST_ROW_RE.search(f.read(1 << 20))
        return m.start(1) if m else None
