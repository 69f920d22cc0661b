"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed gives
byte-identical workbooks and tables. Each workbook generator also returns
the output the engine must produce for it (one list of nullable strings per
column, in row order), so the checker never derives expectations from the
engine under test.
"""

from __future__ import annotations

import hashlib
import os
import random
import struct
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
XML_DECL = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'

HEADERS = ["id", "qty", "price", "name", "active", "score", "note", "opt"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ERRORS = {"#DIV/0!": "Div0", "#N/A": "NA", "#VALUE!": "Value", "#REF!": "Ref"}
XLSB_ERR_CODES = {"#DIV/0!": 0x07, "#N/A": 0x2A, "#VALUE!": 0x0F, "#REF!": 0x17}


def col_letter(idx: int) -> str:
    s = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        s = chr(65 + rem) + s
    return s


def quarter(rng: random.Random, lo: int, hi: int) -> tuple[str, float]:
    """A float with a non-zero quarter fraction: its shortest repr is also
    the engine's expected text, so no float formatting is re-implemented."""
    v = rng.randint(lo, hi) + rng.choice((0.25, 0.5, 0.75))
    if rng.random() < 0.3:
        v = -v
    return repr(v), v


def column_digest(columns) -> str:
    """Order-sensitive digest of a table given as string columns (lists,
    Arrow arrays or chunked arrays of nullable strings). Nulls and empty strings
    hash differently; row order and column order both matter."""
    h = hashlib.sha256()
    for col in columns:
        if isinstance(col, list):
            col = pa.array(col, pa.string())
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        col = col.cast(pa.string())
        h.update(np.asarray(pc.is_null(col)).tobytes())
        filled = pc.fill_null(col, "")
        offsets = np.frombuffer(filled.buffers()[1], dtype=np.int32)[
            filled.offset : filled.offset + len(filled) + 1
        ]
        h.update((offsets - offsets[0]).tobytes())
        data = filled.buffers()[2]
        if data is not None:
            h.update(memoryview(data)[offsets[0] : offsets[-1]])
    return h.hexdigest()


class _Zip(zipfile.ZipFile):
    """Deflated members with a fixed timestamp: a member named by a string
    would carry the time of writing, and two writes of one seed would
    differ."""

    def writestr(self, name, data):
        info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        super().writestr(info, data, compresslevel=1)


def _zip_workbook(path: str, sheet_xml: str, sst: list[str], styled: bool) -> None:
    rels = f'<Relationship Id="rId1" Type="{REL}/worksheet" Target="worksheets/sheet1.xml"/>'
    overrides = (
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    )
    if sst:
        rels += f'<Relationship Id="rId2" Type="{REL}/sharedStrings" Target="sharedStrings.xml"/>'
    if styled:
        rels += f'<Relationship Id="rId3" Type="{REL}/styles" Target="styles.xml"/>'
    with _Zip(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            f'{XML_DECL}<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
            'content-types"><Default Extension="rels" ContentType="application/'
            'vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" '
            f'ContentType="application/xml"/>{overrides}</Types>',
        )
        z.writestr(
            "_rels/.rels",
            f'{XML_DECL}<Relationships xmlns="{PKG_REL}"><Relationship Id="rId1" '
            f'Type="{REL}/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        )
        z.writestr(
            "xl/workbook.xml",
            f'{XML_DECL}<workbook xmlns="{NS}" xmlns:r="{REL}"><sheets>'
            '<sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            f'{XML_DECL}<Relationships xmlns="{PKG_REL}">{rels}</Relationships>',
        )
        if sst:
            items = "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in sst)
            z.writestr(
                "xl/sharedStrings.xml",
                f'{XML_DECL}<sst xmlns="{NS}" count="{len(sst)}" '
                f'uniqueCount="{len(sst)}">{items}</sst>',
            )
        if styled:
            z.writestr(
                "xl/styles.xml",
                f'{XML_DECL}<styleSheet xmlns="{NS}"><fonts count="1"><font/></fonts>'
                '<fills count="1"><fill/></fills><borders count="1"><border/></borders>'
                '<cellStyleXfs count="1"><xf/></cellStyleXfs><cellXfs count="2">'
                '<xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs>'
                "</styleSheet>",
            )
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)


def _sheet_xml(n_rows: int, body: list[str], comment: bool) -> str:
    header = "".join(
        f'<c r="{col_letter(i)}1" t="inlineStr"><is><t xml:space="preserve">{h}</t></is></c>'
        for i, h in enumerate(HEADERS)
    )
    # an XML comment makes the sheet ineligible for the find-based fast
    # path, so the reader falls back to its ElementTree tier
    note = "<!-- exported by a legacy tool -->" if comment else ""
    return (
        f'{XML_DECL}<worksheet xmlns="{NS}">{note}<dimension ref="A1:'
        f'{col_letter(len(HEADERS) - 1)}{n_rows + 1}"/><sheetData>'
        f'<row r="1">{header}</row>' + "".join(body) + "</sheetData></worksheet>"
    )


def write_machine_xlsx(path: str, n_rows: int, seed: int) -> list[list]:
    """Machine-shaped workbook (the strict decoder tier's three cell forms):
    ints, floats, inline strings without escapes, booleans, absent cells and
    present-but-empty cells. Returns the expected output columns."""
    rng = random.Random(seed)
    cols: list[list] = [[] for _ in HEADERS]
    body = []
    for i in range(n_rows):
        r = i + 2
        qty = rng.randint(-500, 5000)
        price_txt, _ = quarter(rng, 0, 99999)
        name = f"{rng.choice(WORDS)}_{rng.randint(0, 9999)}"
        active = rng.random() < 0.5
        score_txt, _ = quarter(rng, 0, 99)
        roll = rng.random()
        note = None if roll < 0.1 else ("" if roll < 0.2 else rng.choice(WORDS))
        opt = rng.randint(0, 10**12) if rng.random() < 0.7 else None
        cells = [
            f'<c r="A{r}"><v>{i}</v></c><c r="B{r}"><v>{qty}</v></c>'
            f'<c r="C{r}"><v>{price_txt}</v></c>'
            f'<c r="D{r}" t="inlineStr"><is><t xml:space="preserve">{name}</t></is></c>'
            f'<c r="E{r}" t="b"><v>{int(active)}</v></c><c r="F{r}"><v>{score_txt}</v></c>'
        ]
        if note == "":
            cells.append(f'<c r="G{r}"/>')
        elif note is not None:
            cells.append(f'<c r="G{r}" t="inlineStr"><is><t xml:space="preserve">{note}</t></is></c>')
        if opt is not None:
            cells.append(f'<c r="H{r}"><v>{opt}</v></c>')
        body.append(f'<row r="{r}">' + "".join(cells) + "</row>")
        row = [str(i), str(qty), price_txt, name, "true" if active else "false",
               score_txt, note, None if opt is None else str(opt)]
        for c, v in zip(cols, row):
            c.append(v)
    _zip_workbook(path, _sheet_xml(n_rows, body, comment=False), [], styled=False)
    return cols


def _excel_cell(rng: random.Random, r: int, c: int, sst: dict[str, int]):
    """One Excel-shaped cell: (xml or None for absent, expected text)."""
    ref = f"{col_letter(c)}{r}"
    kind = rng.randrange(9)
    if rng.random() < 0.15:
        return None, None  # sparse row: absent cell
    if kind == 0:
        s = f"{rng.choice(WORDS)} {rng.choice(WORDS)}"
        idx = sst.setdefault(s, len(sst))
        return f'<c r="{ref}" t="s"><v>{idx}</v></c>', s
    if kind == 1:
        serial = rng.randint(36526, 47482)
        if rng.random() < 0.5:
            return f'<c r="{ref}" s="1"><v>{serial}</v></c>', str(serial)
        txt = repr(serial + 0.5)
        return f'<c r="{ref}" s="1"><v>{txt}</v></c>', txt
    if kind == 2:
        s = f"R&D <{rng.choice(WORDS)}> \"{rng.randint(0, 99)}\""
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(s)}</t></is></c>', s
    if kind == 3:
        lit = rng.choice(sorted(ERRORS))
        return f'<c r="{ref}" t="e"><v>{escape(lit)}</v></c>', ERRORS[lit]
    if kind == 4:
        s = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T10:30:00"
        return f'<c r="{ref}" t="d"><v>{s}</v></c>', s
    if kind == 5:
        s = f"{rng.choice(WORDS)}-{rng.randint(0, 999)}"
        return f'<c r="{ref}" t="str"><f>CONCAT("{s}")</f><v>{s}</v></c>', s
    if kind == 6:
        b = rng.random() < 0.5
        return f'<c r="{ref}" t="b"><v>{int(b)}</v></c>', "true" if b else "false"
    if kind == 7:
        txt, _ = quarter(rng, 0, 9999)
        return f'<c r="{ref}"><v>{txt}</v></c>', txt
    return f'<c r="{ref}"/>', ""


def write_excel_xlsx(path: str, n_rows: int, seed: int, comment: bool) -> list[list]:
    """Excel-shaped workbook: shared strings, ``s=`` styled date serials,
    escaped inline text, errors, ISO dates, formula strings, booleans and
    sparse rows. ``comment`` puts an XML comment in the sheet so the reader
    must use its ElementTree tier."""
    rng = random.Random(seed)
    sst: dict[str, int] = {}
    cols: list[list] = [[] for _ in HEADERS]
    body = []
    for i in range(n_rows):
        r = i + 2
        cells = [f'<c r="A{r}"><v>{i}</v></c>']
        row = [str(i)]
        for c in range(1, len(HEADERS)):
            xml, text = _excel_cell(rng, r, c, sst)
            if xml is not None:
                cells.append(xml)
            row.append(text)
        body.append(f'<row r="{r}">' + "".join(cells) + "</row>")
        for col, v in zip(cols, row):
            col.append(v)
    _zip_workbook(path, _sheet_xml(n_rows, body, comment), list(sst), styled=True)
    return cols


def _brt(rid: int, payload: bytes) -> bytes:
    head = bytes([rid]) if rid < 0x80 else bytes([(rid & 0x7F) | 0x80, (rid >> 7) & 0x7F])
    out, n = bytearray(head), len(payload)
    while True:
        b, n = n & 0x7F, n >> 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out) + payload


def _wide(s: str) -> bytes:
    enc = s.encode("utf-16-le")
    return struct.pack("<I", len(enc) // 2) + enc


def write_xlsb(path: str, n_rows: int, seed: int) -> list[list]:
    """Binary workbook ([MS-XLSB] records): RK ints, IEEE doubles, shared
    strings, booleans, errors, blanks and absent cells."""
    rng = random.Random(seed)
    sst: dict[str, int] = {}
    cols: list[list] = [[] for _ in HEADERS]

    def hdr(c: int) -> bytes:
        return struct.pack("<I", c) + b"\x00\x00\x00\x00"

    def isst(c: int, s: str) -> bytes:
        return _brt(0x07, hdr(c) + struct.pack("<I", sst.setdefault(s, len(sst))))

    body = bytearray(_brt(0x94, struct.pack("<IIII", 0, n_rows, 0, len(HEADERS) - 1)))
    body += _brt(0x00, struct.pack("<I", 0) + b"\x00" * 13)
    for c, h in enumerate(HEADERS):
        body += isst(c, h)
    for i in range(n_rows):
        body += _brt(0x00, struct.pack("<I", i + 1) + b"\x00" * 13)
        body += _brt(0x02, hdr(0) + struct.pack("<I", ((i << 2) & 0xFFFFFFFF) | 0x2))
        row = [str(i)]
        for c in range(1, len(HEADERS)):
            kind = rng.randrange(6)
            if rng.random() < 0.15:
                row.append(None)
                continue
            if kind == 0:
                n = rng.randint(-(1 << 20), 1 << 20)
                body += _brt(0x02, hdr(c) + struct.pack("<I", ((n << 2) & 0xFFFFFFFF) | 0x2))
                row.append(str(n))
            elif kind == 1:
                txt, v = quarter(rng, 0, 99999)
                body += _brt(0x05, hdr(c) + struct.pack("<d", v))
                row.append(txt)
            elif kind == 2:
                s = f"{rng.choice(WORDS)} {rng.randint(0, 999)}"
                body += isst(c, s)
                row.append(s)
            elif kind == 3:
                b = rng.random() < 0.5
                body += _brt(0x04, hdr(c) + bytes([int(b)]))
                row.append("true" if b else "false")
            elif kind == 4:
                lit = rng.choice(sorted(XLSB_ERR_CODES))
                body += _brt(0x03, hdr(c) + bytes([XLSB_ERR_CODES[lit]]))
                row.append(ERRORS[lit])
            else:
                body += _brt(0x01, hdr(c))
                row.append("")
        for col, v in zip(cols, row):
            col.append(v)
    wb = _brt(0x9C, struct.pack("<II", 0, 1) + _wide("rId1") + _wide("Data"))
    sst_blob = b"".join(_brt(0x13, b"\x00" + _wide(s)) for s in sst)
    with _Zip(path, "w") as z:
        z.writestr("xl/workbook.bin", wb)
        z.writestr(
            "xl/_rels/workbook.bin.rels",
            f'{XML_DECL}<Relationships xmlns="{PKG_REL}"><Relationship Id="rId1" '
            f'Type="{REL}/worksheet" Target="worksheets/sheet1.bin"/></Relationships>',
        )
        z.writestr("xl/sharedStrings.bin", sst_blob)
        z.writestr("xl/worksheets/sheet1.bin", bytes(body))
    return cols


def write_fleet(directory: str, n_files: int, rows_per_file: int, seed: int) -> list[list]:
    """A fleet of small workbooks sharing one header: every fourth file is
    .xlsb, every eighth .xlsx carries an XML comment (ElementTree tier), the
    rest are Excel-shaped .xlsx. Returns the expected columns of all files
    concatenated in file-name order (the order the reader lists them)."""
    os.makedirs(directory, exist_ok=True)
    cols: list[list] = [[] for _ in HEADERS]
    for f in range(n_files):
        fseed = seed * 1000 + f
        stem = os.path.join(directory, f"book{f:03d}")
        if f % 4 == 3:
            part = write_xlsb(stem + ".xlsb", rows_per_file, fseed)
        else:
            part = write_excel_xlsx(stem + ".xlsx", rows_per_file, fseed, comment=f % 8 == 6)
        for col, p in zip(cols, part):
            col.extend(p)
    return cols


# --------------------------------------------------------------------------
# Registry tables: the TPC-H-shaped star schema plus the events stream,
# document corpus and embedding table the operator modules read.

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "hot", "small", "large", "black", "white"]
NOUNS = ["ring", "bolt", "widget", "gear", "nut", "pipe", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int) + 1, n)).astype("datetime64[us]")


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each registry table at scale factor ``sf``: table by
    table, the row counts of the repository's testdata sets (TESTDATA.md) at
    sf0.001, sf0.01 and sf0.1. The document corpus and the embedding table
    have a floor of 500
    rows and grow from sf0.01 on, 5000 documents and 2000 embeddings at
    sf0.1."""
    n_ord = int(1_500_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    return {
        "region": 5, "nation": 25, "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf), "part": int(200_000 * sf), "orders": n_ord,
        "lineitem": 4 * n_ord, "events": int(1_000_000 * sf),
        "documents": n_doc, "embeddings": max(500, min(n_doc, int(20_000 * sf))),
    }


def _corpus(rng, n_doc: int) -> list[str]:
    """Documents of 10-99 words from ``WORDS``; then one in twenty, chosen
    at random, is overwritten in turn by a copy of another document plus
    " dup" (a copy may itself be a copy), as in the testdata corpus."""
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(k)))
             for k in rng.integers(10, 100, n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        j = int(rng.integers(0, n_doc - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return texts


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten registry tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    rows = table_rows(sf)
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_line, n_evt = rows["orders"], rows["lineitem"], rows["events"]
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    put("events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_evt),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    n_doc, n_emb = rows["documents"], rows["embeddings"]
    texts = _corpus(rng, n_doc)
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[x] for x in rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
