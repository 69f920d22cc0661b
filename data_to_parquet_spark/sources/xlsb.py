"""Streaming .xlsb (Excel Binary Workbook) cell reader, stdlib-only.

The container has no pyxlsb, so this parses the binary format directly from
the published [MS-XLSB] specification (Microsoft Open Specifications): a ZIP
container whose parts are streams of binary records — a variable-length
record id (1-2 bytes, 7 bits each), a varint length (1-4 bytes, 7 bits each),
then the payload. Only the records needed for the reference's scan semantics
(``src/lib.rs:68-102``) are decoded; unknown records are skipped by length,
which is what makes the reader robust and memory-bounded.

Exposes the same interface as :class:`.xlsx.XlsxWorkbook` so the Spark source
(:mod:`.excel`) is format-agnostic.
"""

from __future__ import annotations

import struct
from typing import BinaryIO, Iterator
from xml.etree import ElementTree as ET

from ..errors import DataToParquetError
from ..kernels import CellValue
from .xlsx import Workbook

__all__ = ["XlsbWorkbook"]

# record ids ([MS-XLSB] §2.3: record enumeration)
BRT_ROW_HDR = 0x0000
BRT_CELL_BLANK = 0x0001
BRT_CELL_RK = 0x0002
BRT_CELL_ERROR = 0x0003
BRT_CELL_BOOL = 0x0004
BRT_CELL_REAL = 0x0005
BRT_CELL_ST = 0x0006
BRT_CELL_ISST = 0x0007
BRT_FMLA_STRING = 0x0008
BRT_FMLA_NUM = 0x0009
BRT_FMLA_BOOL = 0x000A
BRT_FMLA_ERROR = 0x000B
BRT_SST_ITEM = 0x0013
BRT_WS_DIM = 0x0094
BRT_BUNDLE_SH = 0x009C

_CELL_RECORDS = frozenset(
    (
        BRT_CELL_BLANK,
        BRT_CELL_RK,
        BRT_CELL_ERROR,
        BRT_CELL_BOOL,
        BRT_CELL_REAL,
        BRT_CELL_ST,
        BRT_CELL_ISST,
        BRT_FMLA_STRING,
        BRT_FMLA_NUM,
        BRT_FMLA_BOOL,
        BRT_FMLA_ERROR,
    )
)

# BErr error codes ([MS-XLSB] BErr) -> Excel literal; kernels.excel_error_token
# maps the literal to the calamine debug token downstream.
_BERR = {
    0x00: "#NULL!",
    0x07: "#DIV/0!",
    0x0F: "#VALUE!",
    0x17: "#REF!",
    0x1D: "#NAME?",
    0x24: "#NUM!",
    0x2A: "#N/A",
    0x2B: "#GETTING_DATA",
}


def read_record_header(f: BinaryIO) -> tuple[int, int] | None:
    """(record_id, payload_length), or None at EOF."""
    b = f.read(1)
    if not b:
        return None
    rid = b[0] & 0x7F
    if b[0] & 0x80:
        b2 = f.read(1)
        if not b2:
            return None
        rid |= (b2[0] & 0x7F) << 7
    length = 0
    for shift in range(0, 28, 7):
        lb = f.read(1)
        if not lb:
            return None
        length |= (lb[0] & 0x7F) << shift
        if not lb[0] & 0x80:
            break
    return rid, length


def iter_records(f: BinaryIO) -> Iterator[tuple[int, bytes]]:
    while True:
        hdr = read_record_header(f)
        if hdr is None:
            return
        rid, length = hdr
        payload = f.read(length)
        if len(payload) < length:
            return
        yield rid, payload


def _wide_string(payload: bytes, off: int) -> tuple[str, int]:
    """XLWideString: 4-byte cch + cch UTF-16LE code units."""
    (cch,) = struct.unpack_from("<I", payload, off)
    off += 4
    s = payload[off : off + 2 * cch].decode("utf-16-le", errors="replace")
    return s, off + 2 * cch


def _nullable_wide_string(payload: bytes, off: int) -> tuple[str | None, int]:
    (cch,) = struct.unpack_from("<I", payload, off)
    if cch == 0xFFFFFFFF:
        return None, off + 4
    return _wide_string(payload, off)


def decode_rk(raw: int) -> CellValue:
    """RkNumber ([MS-XLSB] §2.5.122): bit0 = ÷100 flag, bit1 = int flag,
    bits 2-31 = value (int) or the high 30 bits of an f64."""
    f_x100 = raw & 0x1
    f_int = raw & 0x2
    if f_int:
        # arithmetic shift right 2 of the signed 32-bit value
        v = raw - (1 << 32) if raw & 0x80000000 else raw
        num: float | int = v >> 2
    else:
        (num,) = struct.unpack("<d", struct.pack("<Q", (raw & 0xFFFFFFFC) << 32))
    if f_x100:
        num = num / 100
        return CellValue("float", float(num))
    if f_int:
        return CellValue("int", int(num))
    return CellValue("float", float(num))


def _real_to_cell(v: float) -> CellValue:
    # calamine yields f64 for BrtCellReal; keep Float semantics
    return CellValue("float", v)


class XlsbWorkbook(Workbook):
    """Lazily-scanning .xlsb workbook with the XlsxWorkbook interface."""

    _KIND = "xlsb"

    # -- workbook structure ------------------------------------------------
    def _load_sheet_map(self) -> list[tuple[str, str]]:
        rels: dict[str, str] = {}
        try:
            with self._zip.open("xl/_rels/workbook.bin.rels") as f:
                ns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
                for _, el in ET.iterparse(f):
                    if el.tag == f"{ns}Relationship":
                        target = el.get("Target", "")
                        target = (
                            target.lstrip("/")
                            if target.startswith("/")
                            else "xl/" + target
                        )
                        rels[el.get("Id", "")] = target
        except KeyError:
            pass
        sheets: list[tuple[str, str]] = []
        with self._zip.open("xl/workbook.bin") as f:
            for rid, payload in iter_records(f):
                if rid != BRT_BUNDLE_SH:
                    continue
                # hsState (4) + iTabID (4) + strRelID + strName
                off = 8
                rel_id, off = _nullable_wide_string(payload, off)
                name, off = _wide_string(payload, off)
                target = rels.get(
                    rel_id or "",
                    f"xl/worksheets/sheet{len(sheets) + 1}.bin",
                )
                sheets.append((name, target))
        return sheets

    # -- shared strings ----------------------------------------------------
    def _shared_strings(self) -> list[str]:
        if self._sst is None:
            sst: list[str] = []
            try:
                with self._zip.open("xl/sharedStrings.bin") as f:
                    for rid, payload in iter_records(f):
                        if rid == BRT_SST_ITEM:
                            # RichStr: 1 flag byte, then XLWideString (runs
                            # and phonetic data follow; skipped by length)
                            s, _ = _wide_string(payload, 1)
                            sst.append(s)
            except KeyError:
                pass
            self._sst = sst
        return self._sst

    # -- cell stream -------------------------------------------------------
    def dimensions(
        self, sheet: str
    ) -> tuple[tuple[int, int], tuple[int, int]] | None:
        with self._zip.open(self._member(sheet)) as f:
            for rid, payload in iter_records(f):
                if rid == BRT_WS_DIM:
                    r0, r1, c0, c1 = struct.unpack_from("<IIII", payload, 0)
                    return (r0, c0), (r1, c1)
                if rid == BRT_ROW_HDR:
                    return None  # sheet data began without a dimension
        return None

    def iter_cells(self, sheet: str) -> Iterator[tuple[int, int, CellValue]]:
        """Sparse row-major cell stream (row, col, CellValue)."""
        sst = self._shared_strings()
        row = 0
        with self._zip.open(self._member(sheet)) as f:
            for rid, payload in iter_records(f):
                if rid == BRT_ROW_HDR:
                    (row,) = struct.unpack_from("<I", payload, 0)
                    continue
                if rid not in _CELL_RECORDS:
                    continue
                # Cell struct: column (4) + iStyleRef:24/flags:8 (4)
                (col,) = struct.unpack_from("<I", payload, 0)
                yield row, col, self._cell_value(rid, payload, sst)

    @staticmethod
    def _cell_value(rid: int, payload: bytes, sst: list[str]) -> CellValue:
        off = 8  # past the Cell struct
        if rid == BRT_CELL_BLANK:
            return CellValue("empty", None)
        if rid == BRT_CELL_RK:
            (raw,) = struct.unpack_from("<I", payload, off)
            return decode_rk(raw)
        if rid in (BRT_CELL_ERROR, BRT_FMLA_ERROR):
            literal = _BERR.get(payload[off], f"#ERR{payload[off]:02X}")
            return CellValue("error", literal)
        if rid in (BRT_CELL_BOOL, BRT_FMLA_BOOL):
            return CellValue("bool", payload[off] != 0)
        if rid in (BRT_CELL_REAL, BRT_FMLA_NUM):
            (v,) = struct.unpack_from("<d", payload, off)
            return _real_to_cell(v)
        if rid in (BRT_CELL_ST, BRT_FMLA_STRING):
            s, _ = _wide_string(payload, off)
            return CellValue("string", s)
        if rid == BRT_CELL_ISST:
            (isst,) = struct.unpack_from("<I", payload, off)
            try:
                return CellValue("string", sst[isst])
            except IndexError:
                return CellValue("string", str(isst))
        raise DataToParquetError(f"unexpected cell record 0x{rid:04X}")

    def iter_rows_str(
        self, sheet: str
    ) -> Iterator[tuple[int, list[tuple[int, str]]]]:
        """(row_idx, [(col, normalized_string), ...]) per present row —
        the same row-level contract as ``XlsxWorkbook.iter_rows_str``."""
        from ..kernels import cell_to_string

        cur_row: int | None = None
        cells: list[tuple[int, str]] = []
        for row, col, value in self.iter_cells(sheet):
            if row != cur_row:
                if cur_row is not None:
                    yield cur_row, cells
                cur_row = row
                cells = []
            cells.append((col, cell_to_string(value)))
        if cur_row is not None:
            yield cur_row, cells
