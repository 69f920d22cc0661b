"""The columnar tier (``decode_columnar``) must decode exactly like the row
walkers. On the three machine-written cell shapes it decodes a cell itself:
numbers and booleans by vectorized rules, which these tests pin against
``decode_value``. A cell of another shape is decoded alone by
``_decode_cells`` while the rest of its row stays columnar; a row whose
cells cannot be checked one by one (no leading ``r=``, text after the start
tag, columns out of order, a bare ``<c>``) is decoded whole by
``_decode_cells``. Either way the cells must be that decoder's output, and
the other rows of the buffer stay columnar.
"""

from __future__ import annotations

from unittest import mock
from xml.etree.ElementTree import ParseError

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_to_parquet_spark.sources import xlsx
from data_to_parquet_spark.sources.xlsx import (
    _decode_cells,
    decode_columnar,
    decode_value,
)

SST = ["alpha", "beta"]
# machine-shaped rows after the row under test, which must stay columnar
_FILLER = "".join(
    f'<row r="{r}"><c r="A{r}"><v>{r}</v></c></row>' for r in range(2, 6)
)


def _rows(body: str):
    doc = (
        '<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="'
        f'{xlsx._MAIN_NS_URI}"><sheetData><row r="1">{body}</row>{_FILLER}'
        "</sheetData></worksheet>"
    ).encode()
    rows = decode_columnar(doc, SST)
    assert rows is not None
    return rows


def decoded_by_split(body: str) -> list[str]:
    """The texts ``_decode_cells`` decoded while the tier decoded the whole
    test buffer: single cells, or a row body that fell back whole."""
    seen = []

    def spy(text, sst):
        seen.append(text)
        return _decode_cells(text, sst)

    rows = _rows(body)
    with mock.patch.object(xlsx, "_decode_cells", side_effect=spy):
        rows._decode(0, len(rows))
    return seen


def dec(body: str):
    """The cells of a row decoded by the columnar tier alone."""
    with mock.patch.object(
        xlsx, "_decode_cells", side_effect=AssertionError("row fell back")
    ):
        return _rows(body).cells(0)


def dec_any(body: str):
    """The cells of a row, falling back where the tier must."""
    return _rows(body).cells(0)


def test_strict_decodes_the_three_shapes():
    body = (
        '<c r="A5"><v>3</v></c>'
        '<c r="B5"><v>3.75</v></c>'
        '<c r="C5" t="inlineStr"><is><t xml:space="preserve">name_3</t></is></c>'
        '<c r="D5" t="b"><v>1</v></c>'
        '<c r="E5" t="s"><v>1</v></c>'
        '<c r="F5" t="e"><v>#DIV/0!</v></c>'
        '<c r="G5"/>'
        '<c r="H5"><v></v></c>'
        '<c r="J5" t="str"><v>raw</v></c>'
    )
    assert dec(body) == [
        (0, "3"),
        (1, "3.75"),
        (2, "name_3"),
        (3, "true"),
        (4, "beta"),
        (5, "Div0"),
        (6, ""),
        (7, ""),
        (9, "raw"),  # explicit column gap honored (J skips I)
    ]
    assert decoded_by_split(body) == []


def test_strict_numeric_renormalization_matches_generic():
    body = (
        '<c r="A1"><v>007</v></c>'
        '<c r="B1"><v>-0</v></c>'
        '<c r="C1"><v>1e2</v></c>'
        '<c r="D1"><v>99999999999999999999999</v></c>'
    )
    # beyond-i64 integers take the f64 path like calamine (rounds to 1e23,
    # printed positionally per Rust Display)
    assert dec(body) == [
        (0, "7"),
        (1, "0"),
        (2, "100"),
        (3, "100000000000000000000000"),
    ]


# numeric texts at the edges of the pass-through rules: non-canonical
# forms, 18/19-digit and i64-bound ints, and decimals of 15-18 digits,
# some of which are not the shortest form of their double
_NUMERIC_EDGES = [
    "-0", "007", "0", "0.0", "1.50", "0.00001", "1e2", "-1E-2", "+5",
    ".5", "5.", "-.5", "00.5", "0.5", "-0.5", "123.25", "-4096.75",
    "123456789012345678", "-123456789012345678", "1234567890123456789",
    "9223372036854775807", "-9223372036854775808", "9223372036854775808",
    "-9223372036854775809", "99999999999999999999",
    "1.23456789012345", "0.12345678901234", "0.123456789012345",
    "1.234567890123456", "1.2345678901234567", "12345678901234.5",
    "123456789012345.5", "0.00000000000001", "0.000000000000001",
    "1.0000000000000002", "0.1000000000000000055511151231257827",
    "0.30000000000000001", "1.00000000000000001", "0.1000000000000001",
    "NaN", "inf", "-", "1 ", " 1", "١٢",
]


def test_numeric_edges_match_decode_value():
    for v in _NUMERIC_EDGES:
        for t in ("", ' t="n"'):
            body = f'<c r="A1"{t}><v>{v}</v></c>'
            assert dec(body) == [(0, decode_value(None, v, SST))], body
    for v in ("0", "1", "false", "FALSE", "False", "true", "2", "-0"):
        body = f'<c r="A1" t="b"><v>{v}</v></c>'
        assert dec(body) == [(0, decode_value("b", v, SST))], body
    # the pass-through rules do pass these through
    for v in ("0", "-7", "123456789012345678", "0.00001", "-4096.75",
              "1.23456789012345"):
        assert decode_value(None, v, SST) == v


@settings(max_examples=300, deadline=None)
@given(
    v=st.from_regex(r"\A-?[0-9]{1,21}(\.[0-9]{0,19})?\Z")
    | st.from_regex(r"\A[0-9+\-.eE]{1,8}\Z"),
    t=st.sampled_from(["", "n", "b", "s", "e", "str", "d", "inlineStr"]),
)
def test_value_rules_match_decode_value(v, t):
    attr = f' t="{t}"' if t else ""
    assert dec(f'<c r="B1"{attr}><v>{v}</v></c>') == [
        (1, decode_value(t or None, v, SST))
    ]


def test_strict_refuses_anything_else():
    # escapes, style attrs, multi-run inline strings, formulas and text
    # after a cell: each such cell is decoded alone by the find-based
    # decoder, and its neighbours stay columnar
    for odd in (
        '<c r="B1"><v>1&amp;2</v></c>',
        '<c r="B1" s="3"><v>1</v></c>',
        '<c r="B1" s="1" t="s"><v>1</v></c>',
        '<c r="B1" t="inlineStr"><is><t>a</t><t>b</t></is></c>',
        '<c r="B1"><v>1</v></c>junk',
        '<c r="B1" t="inlineStr"><is><t xml:space="preserve">a&lt;b</t></is></c>',
        '<c r="B1"><f>A1</f><v>2</v></c>',
    ):
        body = f'<c r="A1"><v>0</v></c>{odd}<c r="C1"><v>2</v></c>'
        assert decoded_by_split(body) == [odd], body
        assert dec_any(body) == _decode_cells(body, SST), body
    # reordered attrs, missing r, a bare <c>, junk after the start tag,
    # columns out of order (also when an odd cell carries the column):
    # the row falls back whole and gives exactly its cells
    for body in (
        '<c t="b" r="A1"><v>1</v></c><c r="B1"><v>2</v></c>',
        '<c r="A1" s="1"><v>1</v></c><c s="1"><v>2</v></c>',
        "<c><v>1</v></c>",
        '<c r="A1"><v>1</v></c><c><v>2</v></c>',
        'junk<c r="A1"><v>1</v></c>',
        '<c r="B1"><v>1</v></c><c r="A1"><v>2</v></c>',
        '<c r="B1" s="1"><v>1</v></c><c r="A1"><v>2</v></c>',
    ):
        seen = decoded_by_split(body)
        assert seen[-1] == body and all(text in body for text in seen), body
        assert dec_any(body) == _decode_cells(body, SST), body


def test_empty_cell_ref_counts_as_absent():
    """``r=""`` numbers its cell like a missing ``r=`` (the previous column
    plus one), as ElementTree does, decoded alone or in a whole row."""
    import io

    for body in (
        '<c r=""><v>1</v></c><c r="C1"><v>2</v></c>',
        '<c r="B1"><v>1</v></c><c r=""><v>2</v></c>',
    ):
        doc = (
            '<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="'
            f'{xlsx._MAIN_NS_URI}"><sheetData><row r="1">{body}</row>'
            "</sheetData></worksheet>"
        ).encode()
        et = list(xlsx.walk_rows(io.BytesIO(doc), SST))
        assert list(decode_columnar(doc, SST)) == et, body
        assert dec_any(body) == et[0][1] == _decode_cells(body, SST), body


def test_repeated_column_falls_back_last_wins():
    body = '<c r="A1"><v>1</v></c><c r="A1"><v>2</v></c>'
    assert decoded_by_split(body) == [body]
    assert dec_any(body) == [(0, "2")]  # as the densifier assigns in order


def test_escaped_cell_falls_back_only_its_row():
    """Only the escaped cell leaves the vectorized rules: it decodes alone,
    its row's other cells and the other rows stay columnar."""
    escaped = (
        '<c r="B1" t="inlineStr"><is><t xml:space="preserve">x &amp; y</t></is></c>'
    )
    body = f'<c r="A1"><v>1</v></c>{escaped}<c r="C1"><v>2.5</v></c>'
    assert decoded_by_split(body) == [escaped]  # the four filler rows stay
    rows = _rows(body)
    assert rows.cells(0) == [(0, "1"), (1, "x & y"), (2, "2.5")]
    assert rows.cells(0) == _decode_cells(body, SST)
    with mock.patch.object(
        xlsx, "_decode_cells", side_effect=AssertionError("row fell back")
    ):
        assert [rows.cells(i) for i in range(1, 5)] == [
            [(0, str(r))] for r in range(2, 6)
        ]


def test_strict_empty_row_body():
    assert dec("") == []


def test_truncated_buffer_raises():
    """The tier requires ``</sheetData>``: a buffer cut at a row boundary
    or inside a row raises instead of decoding the rows before the cut."""
    doc = (
        '<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="'
        f'{xlsx._MAIN_NS_URI}"><sheetData>{_FILLER}'
    ).encode()
    for cut in (len(doc), len(doc) - 10):
        with pytest.raises(ParseError, match="truncated"):
            decode_columnar(doc[:cut], SST)
