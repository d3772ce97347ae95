"""Tabular surface tests: sniffing, TXT lines, validation, row scrub,
cell export (canonical + compat), external stages (FIXTURES.md section 5,
SURVEY.md S1-S8 / J4 / X1-X2)."""

import sys
from typing import Sequence

import pytest
from pyspark import cloudpickle

from azure_based_pii_redactor_spark.engine.tabular_pipeline import (
    export_tabular_cells,
    scrub_tabular,
)
from azure_based_pii_redactor_spark.kernel.column_config import ColumnConfig
from azure_based_pii_redactor_spark.kernel.entities import Entity
from azure_based_pii_redactor_spark.kernel.export import (
    build_row_redaction,
    redact_cell_value,
    resolve_replacement_export,
)
from azure_based_pii_redactor_spark.kernel.redact import RedactOptions
from azure_based_pii_redactor_spark.kernel.scrub import detect_with_column
from azure_based_pii_redactor_spark.sources.tabular import (
    decode_base64_column,
    read_csv_sniffed,
    read_txt_lines,
    sniff_delimiter,
    validate_upload,
    write_csv,
)

CSV_SEMI = (
    "name;email;phone;notes\n"
    'Alice;alice@corp.example.com;(212) 555-4567;"note; with semi"\n'
    "Bob;bob@corp.example.com;;blank phone\n"
)


# -- S1 sniffing ---------------------------------------------------------------

def test_sniff_order_and_fallback():
    assert sniff_delimiter("a,b\n1,2\n") == ","
    assert sniff_delimiter("single line only") == ","  # fallback


def test_read_csv_sniffed(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text(CSV_SEMI)
    df, delim = read_csv_sniffed(spark, str(p))
    assert delim == ";"
    assert df.count() == 2 and len(df.columns) == 4


def test_read_txt_lines(spark, tmp_path):
    p = tmp_path / "t.txt"
    p.write_text("first line\n\n  \nsecond a@b.com line\n")
    df = read_txt_lines(spark, str(p))
    rows = df.orderBy("line_number").collect()
    assert [r.text for r in rows] == ["first line", "second a@b.com line"]


def test_validate_upload():
    validate_upload("x.csv", 100)
    with pytest.raises(ValueError):
        validate_upload("x.exe", 100)
    with pytest.raises(ValueError):
        validate_upload("x.csv", 51 * 1024 * 1024)


# -- export kernel (pure) -------------------------------------------------------

E1 = Entity("email", "a@b.com", 5, 12, 0.95, "PersonalInfo")
E2 = Entity("mac_address", "aa:bb:cc:dd:ee:ff", 20, 37, 0.9, "TechnicalInfo")


def test_resolve_replacement_export_variant():
    assert resolve_replacement_export(E2, "replace", {}) == "[REDACTED_MAC_ADDRESS]"
    assert resolve_replacement_export(E1, "replace", {}) == "[REDACTED_EMAIL]"
    # empty custom label does NOT override (file.go:1146)
    assert resolve_replacement_export(E1, "replace", {"email": ""}) == "[REDACTED_EMAIL]"
    assert resolve_replacement_export(E1, "mask", {"email": "<E>"}) == "<E>"


def test_build_row_redaction_approvals():
    text = "mail a@b.com mac aa:bb:cc:dd:ee:ff x"
    ents = [
        (Entity("email", "a@b.com", 5, 12, 0.95, "P"), 1, True),
        (Entity("mac_address", "aa:bb:cc:dd:ee:ff", 17, 34, 0.9, "T"), 2, False),
    ]
    out, n = build_row_redaction(text, ents)
    assert n == 1 and "[REDACTED_EMAIL]" in out and "aa:bb" in out
    # skip set overrides stored approval both ways
    out2, n2 = build_row_redaction(text, ents, skip_ids=frozenset({1}))
    assert "a@b.com" in out2 and "[REDACTED_MAC_ADDRESS]" in out2 and n2 == 1


def test_redact_cell_value_containment():
    # entity offsets are ROW-level; cell splice preserved as compat quirk
    ents = [(Entity("email", "a@b.com", 5, 12, 0.95, "P"), 1, True)]
    cell = "mail a@b.com"
    assert redact_cell_value(cell, ents) == "mail [REDACTED_EMAIL]"
    # not contained -> untouched
    assert redact_cell_value("no pii here", ents) == "no pii here"
    # contained but offsets out of cell range -> silently skipped (quirk)
    ents2 = [(Entity("email", "a@b.com", 50, 57, 0.95, "P"), 1, True)]
    assert redact_cell_value("x a@b.com", ents2) == "x a@b.com"


# -- external stages -------------------------------------------------------------

class FakePersonDetector:
    """Deterministic stand-in for the Azure PII call: flags occurrences of
    a fixed name list as ``Person`` entities (category mapping per
    ``azure.go:239-253``)."""

    def __init__(self, names: Sequence[str] = ("Jane Doe", "John Smith")):
        self.names = tuple(names)

    def __call__(self, text: str) -> list[Entity]:
        out: list[Entity] = []
        lower = text.lower()
        for name in self.names:
            needle = name.lower()
            start = 0
            while True:
                idx = lower.find(needle, start)
                if idx == -1:
                    break
                end = idx + len(name)
                out.append(Entity(type="Person", text=text[idx:end],
                                  start=idx, end=end, confidence=0.99,
                                  category="Person"))
                start = end
        return out


class ThresholdValidator:
    """Deterministic stand-in for the GPT validator: approves redaction
    for entities at/above a confidence threshold, rejects below (the real
    one fail-opens to redact on any error -- detector.go:153-164,
    preserved in kernel.scrub.detect_with_column)."""

    def __init__(self, min_confidence: float = 0.75):
        self.min_confidence = min_confidence

    def __call__(self, text, entities):
        return [
            (e.confidence >= self.min_confidence,
             e.confidence >= self.min_confidence,
             0.9)
            for e in entities
        ]


class FailingValidator:
    """Always raises -- exercises the fail-open default path."""

    def __call__(self, text, entities):
        raise RuntimeError("remote validator unavailable")


# the doubles ride into Spark tasks (test_pipeline_advanced_path), and a
# test module is not importable on the Python workers: ship them by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def test_detect_with_column_gpt_paths():
    text = "patient mail a@b.com ssn 536-90-4399"
    cfg = ColumnConfig(min_confidence=0.0)
    # threshold validator drops low-confidence entities
    validated, scores = detect_with_column(
        text, cfg, gpt_validator=ThresholdValidator(0.92)
    )
    types = {e.type for e in validated}
    assert "ssn" in types and "email" in types
    assert "bank_account" not in types  # 0.70 < 0.92 -> should_redact False
    # failing validator fail-opens: everything kept
    validated2, _ = detect_with_column(
        text, cfg, gpt_validator=FailingValidator()
    )
    assert {e.type for e in validated2} >= types
    # confidence updated to adjusted score
    assert all(0 <= e.confidence <= 1 for e in validated)


def test_external_detector_injection():
    det = FakePersonDetector(["Jane Doe"])
    text = "report by Jane Doe yesterday"
    validated, _ = detect_with_column(
        text, ColumnConfig(min_confidence=0.0), external_detector=det
    )
    assert any(e.type == "Person" for e in validated)


# -- Spark tabular flow -----------------------------------------------------------

@pytest.fixture(scope="module")
def cells_df(spark):
    rows = [
        (1, "Alice", "alice@corp.example.com", "(212) 555-4567", "ok"),
        (2, "Bob", "bob@corp.example.com", "", "ssn 536-90-4399"),
        (3, "Carol", "", "   ", "plain note"),
    ]
    return spark.createDataFrame(
        rows, "row_number int, name string, email string, phone string, notes string"
    )


def test_scrub_tabular_rows(spark, cells_df):
    out = scrub_tabular(cells_df, ["email", "phone", "notes"]).orderBy("row_number")
    rows = out.collect()
    assert rows[0].n_entities >= 2  # email + phone
    assert "[REDACTED_EMAIL]" in rows[0].scrubbed_row_text
    assert rows[1].n_entities >= 2  # email + ssn
    assert "[REDACTED_SSN]" in rows[1].scrubbed_row_text
    assert rows[2].n_entities == 0
    # disabled column (name) must not be scrubbed into row text
    assert "Alice" not in rows[0].scrubbed_row_text


def test_export_cells_canonical_and_compat(spark, cells_df):
    scrubbed = scrub_tabular(cells_df, ["email", "phone", "notes"])
    for mode in ("canonical", "compat"):
        out = export_tabular_cells(
            scrubbed, ["email", "phone", "notes"], mode=mode
        ).orderBy("row_number").collect()
        assert "[REDACTED_EMAIL]" in out[0].email, mode
        assert out[0].name == "Alice"  # disabled col untouched
        assert out[2].phone == "   "  # blank passthrough (P2)
        if mode == "canonical":
            # per-cell re-scrub finds the ssn at its cell-local offset
            assert "[REDACTED_SSN]" in out[1].notes
        else:
            # reference quirk (file.go:1898-1916): ROW-level offsets
            # (26..37) exceed the cell length, the splice is silently
            # skipped and the ssn survives -- preserved byte-for-byte
            assert out[1].notes == "ssn 536-90-4399"


def test_write_csv_roundtrip(spark, cells_df, tmp_path):
    scrubbed = scrub_tabular(cells_df, ["email"])
    exported = export_tabular_cells(scrubbed, ["email"])
    dest = str(tmp_path / "out_csv")
    write_csv(exported.drop("entities"), dest, delimiter=";")
    back = spark.read.option("header", True).option("delimiter", ";").csv(dest)
    assert back.count() == 3
    assert "[REDACTED_EMAIL]" in "".join(
        r.email or "" for r in back.collect()
    )


def test_pipeline_advanced_path(spark):
    """Advanced (DetectWithColumn) path through the Spark pipeline:
    column-config filtering + validator with fail-open + confidence
    adjustment baked into entities."""
    from azure_based_pii_redactor_spark.engine.pipeline import run_scrub_pipeline
    from azure_based_pii_redactor_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 150, seed=42)
    plain = run_scrub_pipeline(pages)
    advanced = run_scrub_pipeline(
        pages,
        column_config=ColumnConfig(min_confidence=0.0,
                                   detection_mode="aggressive"),
        gpt_validator=ThresholdValidator(0.75),
    )
    p = {r.url: r for r in plain.filter("keep").collect()}
    a = {r.url: r for r in advanced.filter("keep").collect()}
    assert set(p) == set(a)  # quality decision unaffected
    # validator drops low-confidence types; entity counts can only shrink
    assert all(a[u].n_entities <= p[u].n_entities for u in a)
    # surviving entities carry ADJUSTED confidences (weighted-average
    # values, not the raw pattern priors)
    raw_priors = {0.7, 0.75, 0.8, 0.85, 0.9, 0.95}
    adjusted = [
        e.confidence
        for u in a for e in (a[u].entities or [])
    ]
    assert adjusted and not set(adjusted) <= raw_priors


def test_export_cells_rescrub_and_skip_ids(spark, cells_df):
    scrubbed = scrub_tabular(cells_df, ["email", "phone", "notes"])
    # rescrub: fresh detection; refuses skip_entities
    out = export_tabular_cells(
        scrubbed, ["email", "phone", "notes"], mode="rescrub"
    ).orderBy("row_number").collect()
    assert "[REDACTED_SSN]" in out[1].notes
    with pytest.raises(ValueError, match="rescrub"):
        export_tabular_cells(scrubbed, ["email"], mode="rescrub",
                             skip_entities=frozenset({(1, 0, 1, "x")}),
                             row_key="row_number")
    # canonical honors per-row skip keys: disapprove ONLY row 2's ssn
    ssn_row2 = [
        (2, e.start, e.end, e.type)
        for r in scrubbed.filter("row_number = 2").collect()
        for e in (r.entities or []) if e.type == "ssn"
    ]
    assert ssn_row2
    out2 = export_tabular_cells(
        scrubbed, ["email", "phone", "notes"],
        skip_entities=frozenset(ssn_row2), row_key="row_number",
    ).orderBy("row_number").collect()
    assert "536-90-4399" in out2[1].notes  # disapproved -> survives
    assert "[REDACTED_EMAIL]" in out2[1].email  # same row, other entity
    assert "[REDACTED_EMAIL]" in out2[0].email  # other rows unaffected
    # unknown enabled column fails loudly (silent no-op = PII leak)
    with pytest.raises(ValueError, match="enabled_cols"):
        export_tabular_cells(scrubbed, ["Email"])
    with pytest.raises(ValueError, match="enabled_cols"):
        scrub_tabular(cells_df, ["Email"])


def test_redact_cell_value_anchored():
    from azure_based_pii_redactor_spark.kernel.export import (
        redact_cell_value_anchored,
    )

    # stored entity has ROW-level offsets (50..57) but is re-anchored to
    # the cell, including multiple occurrences
    ents = [(Entity("email", "a@b.com", 50, 57, 0.95, "P"), 1, True)]
    assert (redact_cell_value_anchored("x a@b.com y a@b.com", ents)
            == "x [REDACTED_EMAIL] y [REDACTED_EMAIL]")
    # disapproved via skip set -> untouched
    assert (redact_cell_value_anchored("x a@b.com", ents,
                                       skip_ids=frozenset({1}))
            == "x a@b.com")


# -- RE2/ASCII parity (Go reference semantics) --------------------------------

def test_ascii_regex_parity():
    from azure_based_pii_redactor_spark.kernel.patterns import detect_pii

    # non-ASCII digits never match (Go \d is ASCII)
    assert detect_pii("id ٣٣٣-٣٣-٣٣٣٣ end") == []
    # \b exists between accented letter and digit under ASCII semantics,
    # exactly like Go RE2
    types = {e.type for e in detect_pii("café123456789 x")}
    assert "bank_account" in types


def test_extract_text_malformed_utf8_tolerant():
    from azure_based_pii_redactor_spark.engine.pipeline import extract_text

    out = extract_text(b"<html><body>caf\xe9 latin-1</body></html>")
    assert out == "caf� latin-1"  # no exception, replacement char


def test_sniffer_detects_real_delimiters():
    assert sniff_delimiter("a;b\n1;2\n") == ";"
    assert sniff_delimiter("a\tb\n1\t2\n") == "\t"
    assert sniff_delimiter("a|b\n1|2\n") == "|"
    assert sniff_delimiter("a,b\n1,2\n") == ","
    assert sniff_delimiter("one\ntwo\n") == ","  # no columns anywhere


# -- S3 Excel decode (stdlib zipfile + xml.etree) -------------------------------

def _make_xlsx(sheets):
    """Build a minimal valid xlsx in memory: sheets is
    [(title, rows_xml)] where rows_xml is the <sheetData> inner XML.
    Shared strings table is fixed by the caller via the global list below."""
    import io as _io
    import zipfile

    buf = _io.BytesIO()
    n = len(sheets)
    with zipfile.ZipFile(buf, "w") as zf:
        overrides = "".join(
            f'<Override PartName="/xl/worksheets/sheet{i+1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.worksheet+xml"/>'
            for i in range(n)
        )
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxml'
            'formats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'sharedStrings+xml"/>' + overrides + "</Types>",
        )
        zf.writestr(
            "_rels/.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
            'xmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        )
        sheet_els = "".join(
            f'<sheet name="{title}" sheetId="{i+1}" r:id="rId{i+1}"/>'
            for i, (title, _) in enumerate(sheets)
        )
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas.openxml'
            'formats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{sheet_els}</sheets></workbook>",
        )
        rels = "".join(
            f'<Relationship Id="rId{i+1}" Type="http://schemas.openxml'
            'formats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i+1}.xml"/>'
            for i in range(n)
        ) + (
            f'<Relationship Id="rId{n+1}" Type="http://schemas.openxml'
            'formats.org/officeDocument/2006/relationships/sharedStrings" '
            'Target="sharedStrings.xml"/>'
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
            f'xmlformats.org/package/2006/relationships">{rels}'
            "</Relationships>",
        )
        zf.writestr(
            "xl/sharedStrings.xml",
            '<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.'
            'org/spreadsheetml/2006/main" count="4" uniqueCount="4">'
            "<si><t>name</t></si><si><t>Alice</t></si>"
            "<si><r><t>Bo</t></r><r><t>b</t></r></si>"  # rich-text runs
            "<si><t>email</t></si></sst>",
        )
        for i, (_, rows_xml) in enumerate(sheets):
            zf.writestr(
                f"xl/worksheets/sheet{i+1}.xml",
                '<?xml version="1.0"?><worksheet xmlns="http://schemas.open'
                'xmlformats.org/spreadsheetml/2006/main">'
                f"<sheetData>{rows_xml}</sheetData></worksheet>",
            )
    return buf.getvalue()


_SHEET1 = (
    '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>3</v></c></row>'
    '<row r="2"><c r="A2" t="s"><v>1</v></c>'
    '<c r="B2" t="inlineStr"><is><t>alice@corp.example.com</t></is></c>'
    '<c r="C2"><v>42</v></c></row>'
    # sparse row: B3 missing entirely, D3 present -> pad with ""
    '<row r="3"><c r="A3" t="s"><v>2</v></c>'
    '<c r="C3"><v>3.14</v></c><c r="D3" t="b"><v>1</v></c></row>'
)
_SHEET2 = (
    '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
    '<row r="2"><c r="A2" t="str"><v>formula-result</v></c>'
    '<c r="B2" t="b"><v>0</v></c></row>'
)


def test_parse_xlsx_stdlib():
    from azure_based_pii_redactor_spark.sources.tabular import parse_xlsx

    blob = _make_xlsx([("People", _SHEET1), ("Misc", _SHEET2)])
    rows = parse_xlsx(blob)
    assert rows == [
        ("People", 0, ["name", "email"]),
        ("People", 1, ["Alice", "alice@corp.example.com", "42"]),
        ("People", 2, ["Bob", "", "3.14", "TRUE"]),
        ("Misc", 0, ["name"]),
        ("Misc", 1, ["formula-result", "FALSE"]),
    ]


def test_parse_xlsx_row_gaps():
    """Excel omits empty rows from the XML: row indices must come from
    the r attribute (1-based) with the gaps padded as empty rows, so a
    sheet whose first row is blank does NOT have its first data row
    eaten as the header (excelize GetRows parity)."""
    from azure_based_pii_redactor_spark.sources.tabular import parse_xlsx

    gap_sheet = (
        # row 1 entirely absent; data starts at r=2, then a gap to r=4
        '<row r="2"><c r="A2" t="s"><v>0</v></c></row>'
        '<row r="4"><c r="A4" t="s"><v>1</v></c></row>'
    )
    rows = parse_xlsx(_make_xlsx([("Gaps", gap_sheet)]))
    assert rows == [
        ("Gaps", 0, []),            # padded blank row
        ("Gaps", 1, ["name"]),      # r=2 -> index 1, NOT 0
        ("Gaps", 2, []),            # padded gap
        ("Gaps", 3, ["Alice"]),     # r=4 -> index 3
    ]
    # no r attributes at all: enumerate fallback
    bare = "<row><c><v>7</v></c></row><row><c><v>8</v></c></row>"
    rows = parse_xlsx(_make_xlsx([("Bare", bare)]))
    assert rows == [("Bare", 0, ["7"]), ("Bare", 1, ["8"])]


def test_read_excel_spark_scan(spark, tmp_path):
    from azure_based_pii_redactor_spark.sources.tabular import read_excel

    p = tmp_path / "book.xlsx"
    p.write_bytes(_make_xlsx([("People", _SHEET1), ("Misc", _SHEET2)]))
    df = read_excel(spark, str(p))
    rows = sorted(
        (r.sheet, r.row_number, list(r.cells)) for r in df.collect()
    )
    # header row (row 0) of each sheet is skipped, file.go:2160
    assert rows == [
        ("Misc", 1, ["formula-result", "FALSE"]),
        ("People", 1, ["Alice", "alice@corp.example.com", "42"]),
        ("People", 2, ["Bob", "", "3.14", "TRUE"]),
    ]


# -- S5 / S8 one-liner sources ---------------------------------------------------

def test_decode_base64_column(spark):
    import base64

    from azure_based_pii_redactor_spark.sources.tabular import (
        decode_base64_column,
    )

    payload = base64.b64encode(b"name,email\nAlice,a@b.com\n").decode()
    df = spark.createDataFrame([(payload,)], "file_content string")
    out = decode_base64_column(df).collect()[0]
    assert bytes(out.file_content) == b"name,email\nAlice,a@b.com\n"


def test_write_json_roundtrip(spark, tmp_path):
    from azure_based_pii_redactor_spark.sources.tabular import write_json

    df = spark.createDataFrame(
        [(1, "a@b.com"), (2, None)], "id int, email string"
    )
    out_dir = str(tmp_path / "j")
    write_json(df, out_dir)
    back = spark.read.json(out_dir)
    got = {(r.id, r.email if hasattr(r, "email") else None)
           for r in back.collect()}
    assert (1, "a@b.com") in got and len(got) == 2


def test_parse_xlsx_edge_cases():
    """xlsx without sharedStrings; cells lacking r= refs fall back to
    positional append; empty <v/>."""
    import io as _io
    import zipfile

    from azure_based_pii_redactor_spark.sources.tabular import parse_xlsx

    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "_rels/.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
            'xmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="t" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas.openxml'
            'formats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets>'
            "</workbook>",
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
            'xmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxml'
            'formats.org/spreadsheetml/2006/main"><sheetData>'
            "<row><c><v>1</v></c><c><v>2</v></c></row>"  # no r= refs
            '<row><c r="B2"><v/></c></row>'  # empty v, sparse
            "</sheetData></worksheet>",
        )
    rows = parse_xlsx(buf.getvalue())
    assert rows == [("S", 0, ["1", "2"]), ("S", 1, ["", ""])]


def test_parse_xlsx_absolute_rel_target():
    """Apache-POI-style absolute relationship targets
    ('/xl/worksheets/sheet1.xml') must resolve."""
    import io as _io
    import zipfile

    from azure_based_pii_redactor_spark.sources.tabular import parse_xlsx

    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas.openxml'
            'formats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets>'
            "</workbook>",
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
            'xmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="t" '
            'Target="/xl/worksheets/sheet1.xml"/></Relationships>',
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxml'
            'formats.org/spreadsheetml/2006/main"><sheetData>'
            "<row><c><v>7</v></c></row></sheetData></worksheet>",
        )
    assert parse_xlsx(buf.getvalue()) == [("S", 0, ["7"])]


def test_write_csv_quoted_field_roundtrip(spark, tmp_path):
    """RFC-4180 doubled quotes on the sink: a cell containing a double
    quote must survive write -> read through the engine's own paths
    (Spark's default backslash escaping corrupts it)."""
    d = str(tmp_path / "quoted")
    df = spark.createDataFrame(
        [(1, 'he said "hi"'), (2, "plain")], "id int, note string"
    )
    write_csv(df, d)
    got, _ = read_csv_sniffed(spark, d)
    vals = {int(r.id): r.note for r in got.collect()}
    assert vals[1] == 'he said "hi"'
    assert vals[2] == "plain"


def test_decode_base64_invalid_payload_is_null(spark):
    """One malformed base64 payload must not kill the batch (the
    reference fails per-file): it decodes to NULL."""
    df = spark.createDataFrame(
        [("aGVsbG8=",), ("!!!not-base64!!!",)], "file_content string"
    )
    rows = decode_base64_column(df).collect()
    assert bytes(rows[0].file_content) == b"hello"
    assert rows[1].file_content is None


def test_read_csv_ragged_wide_rows_keep_extra_fields(spark, tmp_path):
    """Rows WIDER than the header keep their extra fields (Go
    FieldsPerRecord=-1 scans every field; PERMISSIVE's silent
    truncation would drop potential PII before the scrub)."""
    p = tmp_path / "ragged.csv"
    p.write_text("a,b\n1,2\n3,4,ssn 536-90-4399,x@y.example\n")
    got, delim = read_csv_sniffed(spark, str(p))
    assert delim == ","
    assert got.columns == ["a", "b", "_extra0", "_extra1"]
    wide = [r for r in got.collect() if r.a == "3"][0]
    assert wide._extra0 == "ssn 536-90-4399"
    assert wide._extra1 == "x@y.example"
    narrow = [r for r in got.collect() if r.a == "1"][0]
    assert narrow._extra0 is None


def test_read_csv_quoted_embedded_newline(spark, tmp_path):
    """A quoted cell containing a newline is ONE record (Go's
    encoding/csv semantics; requires multiLine)."""
    p = tmp_path / "multiline.csv"
    p.write_text('id,note\n1,"line1\nline2"\n2,last\n')
    got, _ = read_csv_sniffed(spark, str(p))
    rows = {r.id: r.note for r in got.collect()}
    assert len(rows) == 2
    assert rows["1"] == "line1\nline2"


def test_validate_process_size_cap():
    import pytest

    from azure_based_pii_redactor_spark.sources.tabular import (
        MAX_PROCESS_BYTES,
        validate_process_size,
    )

    validate_process_size(MAX_PROCESS_BYTES)
    with pytest.raises(ValueError, match="too large to process"):
        validate_process_size(MAX_PROCESS_BYTES + 1)
