"""Tests for the .xlsb binary source (FIXTURES.md F6: same logical content
as the xlsx fixture must convert identically — the post-scan path is shared).
"""

from __future__ import annotations

import struct

import pytest

from data_to_parquet_spark import DataToParquetError, read_excel
from data_to_parquet_spark.sources.xlsb import decode_rk

from .xlsb_fixture import write_xlsb
from .xlsx_fixture import write_xlsx


def _rows(df):
    return [tuple(r) for r in df.collect()]


class TestRkDecoding:
    def test_int_form(self):
        assert decode_rk((42 << 2) | 0x2).value == 42
        assert decode_rk((42 << 2) | 0x2).kind == "int"

    def test_negative_int(self):
        raw = ((-7 << 2) & 0xFFFFFFFF) | 0x2
        assert decode_rk(raw).value == -7

    def test_float_form(self):
        # 1.5 = 0x3FF8000000000000; its high 30 bits fit the RK float form
        high = struct.unpack("<Q", struct.pack("<d", 1.5))[0] >> 32
        raw = high & 0xFFFFFFFC  # flag bits 0 (no ÷100, not int)
        cell = decode_rk(raw)
        assert cell.kind == "float" and cell.value == 1.5

    def test_x100_form(self):
        raw = ((150 << 2) & 0xFFFFFFFF) | 0x3  # 150/100 = 1.5
        cell = decode_rk(raw)
        assert cell.kind == "float" and cell.value == 1.5


def test_xlsb_basic(spark, tmp_path):
    path = str(tmp_path / "b1.xlsb")
    write_xlsb(
        path,
        {
            "Sheet1": [
                ["id", "amount", "name", "active", "err"],
                [1, 1.5, "alice", True, ("error", "#DIV/0!")],
                [2, 0.30000000000000004, "bob 哈", False, ("error", "#N/A")],
            ]
        },
    )
    df = read_excel(spark, path)
    assert df.columns == ["id", "amount", "name", "active", "err"]
    assert sorted(_rows(df)) == [
        ("1", "1.5", "alice", "true", "Div0"),
        ("2", "0.30000000000000004", "bob 哈", "false", "NA"),
    ]


def test_xlsb_matches_xlsx_conversion(spark, tmp_path):
    """F6: same logical content through both formats → identical output."""
    content = {
        "S": [
            ["a", "b", "c"],
            [10, "x", 2.25],
            [("empty",), "y", False],
            [30, None, 1.0],
        ]
    }
    x_path = str(tmp_path / "same.xlsx")
    b_path = str(tmp_path / "same.xlsb")
    write_xlsx(x_path, content)
    write_xlsb(b_path, content)
    assert sorted(_rows(read_excel(spark, x_path))) == sorted(
        _rows(read_excel(spark, b_path))
    )


def test_xlsb_sheet_selection_and_skip(spark, tmp_path):
    path = str(tmp_path / "multi.xlsb")
    write_xlsb(
        path,
        {
            "One": [["h"], ["v1"]],
            "Two": [["junk"], ["hdr"], ["d1"], ["d2"]],
        },
    )
    assert _rows(read_excel(spark, path, sheet_name="Two", skip_rows=1)) == [
        ("d1",),
        ("d2",),
    ]
    assert read_excel(spark, path, sheet_index=0).columns == ["h"]
    with pytest.raises(DataToParquetError, match="out of bounds"):
        read_excel(spark, path, sheet_index=5)


def test_xlsb_null_vs_empty(spark, tmp_path):
    path = str(tmp_path / "sparse.xlsb")
    write_xlsb(
        path,
        {"S": [["a", "b", "c"], ["r1", None, ("empty",)]]},
    )
    assert _rows(read_excel(spark, path)) == [("r1", None, "")]


def test_xlsb_rk_variants(spark, tmp_path):
    path = str(tmp_path / "rk.xlsb")
    write_xlsb(
        path,
        {"S": [["v"], [("rk_int", 1234)], [("rk_x100", 12.5)], [10 ** 12]]},
    )
    assert sorted(_rows(read_excel(spark, path))) == [
        ("1000000000000",),
        ("12.5",),
        ("1234",),
    ]


def _record_offsets(part: bytes) -> list[tuple[int, int]]:
    """(header start, payload start) of every record in an xlsb part."""
    out, pos = [], 0
    while pos < len(part):
        start = pos
        pos += 2 if part[pos] & 0x80 else 1
        length, shift = 0, 0
        while True:
            b = part[pos]
            pos += 1
            length |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                break
        out.append((start, pos))
        pos += length
    return out


@pytest.mark.parametrize("cut", ["boundary", "mid_header", "mid_payload"])
def test_truncated_xlsb_sheet(tmp_path, cut):
    """An xlsb sheet part cut inside a record header or payload (and
    re-zipped with a valid CRC) fails the read with an error naming the
    file and the sheet; a cut on a record boundary is a clean end (the
    generator writes no BrtEndSheetData) and reads the rows before it."""
    import zipfile

    from data_to_parquet_spark.sources import excel as excel_mod
    from perfbench import gen

    path = str(tmp_path / "cut.xlsb")
    gen.write_xlsb(path, 400, 3)
    names = excel_mod.infer_schema(path).fieldNames()
    member = "xl/worksheets/sheet1.bin"
    with zipfile.ZipFile(path) as z:
        parts = {i.filename: z.read(i.filename) for i in z.infolist()}
    records = _record_offsets(parts[member])
    # the BrtRowHdr (0x00) of a row in the middle of the sheet
    head, payload = next(
        r for r in records[len(records) // 2:] if parts[member][r[0]] == 0x00
    )
    at = {"boundary": head, "mid_header": head + 1,
          "mid_payload": payload + 5}[cut]
    parts[member] = parts[member][:at]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in parts.items():
            z.writestr(name, data)

    def read():
        return [
            r
            for b in excel_mod.read_workbook(path, None, None, 0, 1000, names)
            for r in b.to_pylist()
        ]

    if cut == "boundary":
        rows = read()
        assert 0 < len(rows) < 400
        assert [r[names[0]] for r in rows] == [str(i) for i in range(len(rows))]
    else:
        with pytest.raises(DataToParquetError, match="'Data'.*truncated"):
            read()


@pytest.mark.parametrize("closed", [True, False], ids=["closed", "cut"])
def test_xlsb_sheet_data_must_close(tmp_path, closed):
    """A part that opens BrtBeginSheetData must close it with
    BrtEndSheetData: a part cut on a record boundary after the opening
    fails the read with an error naming the file and the sheet, and the
    closed part reads every row."""
    import zipfile

    from data_to_parquet_spark.sources import excel as excel_mod
    from perfbench import gen

    path = str(tmp_path / "paired.xlsb")
    gen.write_xlsb(path, 400, 5)
    names = excel_mod.infer_schema(path).fieldNames()
    member = "xl/worksheets/sheet1.bin"
    with zipfile.ZipFile(path) as z:
        parts = {i.filename: z.read(i.filename) for i in z.infolist()}
    part = parts[member]
    records = _record_offsets(part)
    # BrtBeginSheetData after the dimension record, BrtEndSheetData last
    first_row = records[1][0]
    body = part[first_row:]
    if not closed:
        body = body[: next(
            h - first_row for h, _ in records[len(records) // 2:] if part[h] == 0x00
        )]
    parts[member] = (
        part[:first_row] + gen._brt(0x91, b"") + body
        + (gen._brt(0x92, b"") if closed else b"")
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in parts.items():
            z.writestr(name, data)

    def read():
        return [
            r
            for b in excel_mod.read_workbook(path, None, None, 0, 1000, names)
            for r in b.to_pylist()
        ]

    if closed:
        rows = read()
        assert [r[names[0]] for r in rows] == [str(i) for i in range(400)]
    else:
        with pytest.raises(DataToParquetError, match="'Data'.*truncated"):
            read()
