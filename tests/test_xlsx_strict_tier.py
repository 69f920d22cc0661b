"""The r15 strict cell tokenizer (_STRICT_CELL_RE tier inside
walk_rows_fast) must decode exactly like the generic find-based decoder
on the three machine-written shapes, and must REFUSE (return None →
per-row fallback) any body its matches do not tile completely — that
refusal is what makes the tier safe on escapes, style attributes,
attribute reorderings and multi-run inline strings.
"""

from __future__ import annotations

from data_to_parquet_spark.sources.xlsx import _decode_strict_cells

SST = ["alpha", "beta"]


def dec(body: str):
    return _decode_strict_cells(body, SST)


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


def test_strict_refuses_anything_else():
    # escapes, style attrs, reordered attrs, multi-run inline strings,
    # missing r, trailing junk — every one must defer to the generic path
    for body in (
        '<c r="A1"><v>1&amp;2</v></c>',
        '<c r="A1" s="3"><v>1</v></c>',
        '<c t="b" r="A1"><v>1</v></c>',
        '<c r="A1" t="inlineStr"><is><t>a</t><t>b</t></is></c>',
        "<c><v>1</v></c>",
        '<c r="A1"><v>1</v></c>junk',
        'junk<c r="A1"><v>1</v></c>',
        '<c r="A1" t="inlineStr"><is><t xml:space="preserve">a&lt;b</t></is></c>',
    ):
        assert dec(body) is None, body


def test_strict_empty_row_body():
    assert dec("") == []
