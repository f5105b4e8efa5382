"""Pure-stdlib xlsx codec + distributed Excel sidecar ingest (S8).

The writer below builds REAL minimal .xlsx workbooks (OPC zip of XML
parts) so the reader is exercised against the actual container format,
covering shared strings, inline strings, numeric cells, boolean cells,
sparse rows (missing cell refs), and multi-sheet workbooks — without
any Excel engine in the container.
"""

from __future__ import annotations

import io
import json
import zipfile

import pytest

from ingest_pipeline_spark.sources.readers import (
    read_excel,
    read_excel_sidecars,
    xlsx_parse,
)


def _col_letters(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def xlsx_bytes(
    sheets: dict[str, list[list]],
    inline_strings: bool = False,
) -> bytes:
    """Minimal standards-shaped xlsx writer (zipfile + handwritten XML).

    Strings go through xl/sharedStrings.xml by default (the path real
    writers take); inline_strings=True embeds them as t="inlineStr"
    cells instead, covering the other decode branch.  Numbers are
    numeric cells; bools are t="b".
    """
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    shared: list[str] = []
    sheet_xmls = []
    for rows in sheets.values():
        body = []
        for ri, row in enumerate(rows):
            cells = []
            for ci, val in enumerate(row):
                if val is None:
                    continue
                ref = f"{_col_letters(ci)}{ri + 1}"
                if isinstance(val, bool):
                    cells.append(
                        f'<c r="{ref}" t="b"><v>{1 if val else 0}</v></c>'
                    )
                elif isinstance(val, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{val}</v></c>')
                elif inline_strings:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>{val}</t></is></c>'
                    )
                else:
                    if val not in shared:
                        shared.append(val)
                    cells.append(
                        f'<c r="{ref}" t="s"><v>{shared.index(val)}</v></c>'
                    )
            body.append(f'<row r="{ri + 1}">{"".join(cells)}</row>')
        sheet_xmls.append(
            f'<?xml version="1.0"?><worksheet {ns}>'
            f'<sheetData>{"".join(body)}</sheetData></worksheet>'
        )

    sheet_decls = "".join(
        f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, name in enumerate(sheets)
    )
    workbook = (
        f'<?xml version="1.0"?><workbook {ns} xmlns:r="{rns}">'
        f"<sheets>{sheet_decls}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{rns}/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + f'<Relationship Id="rId{len(sheets) + 1}" Type="{rns}/sharedStrings"'
        ' Target="sharedStrings.xml"/></Relationships>'
    )
    sst = (
        f'<?xml version="1.0"?><sst {ns} count="{len(shared)}" '
        f'uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    root_rels = (
        '<?xml version="1.0"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    ctypes = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.'
        'org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/></Types>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", ctypes)
        zf.writestr("_rels/.rels", root_rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        for i, xml in enumerate(sheet_xmls):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
    return buf.getvalue()


def test_xlsx_parse_shared_and_types():
    data = xlsx_bytes(
        {
            "Survey": [
                ["name", "score", "active"],
                ["alice", 12, True],
                ["bob", 3.5, False],
            ]
        }
    )
    name, rows = xlsx_parse(data)
    assert name == "Survey"
    assert rows == [
        ["name", "score", "active"],
        ["alice", "12", "TRUE"],
        ["bob", "3.5", "FALSE"],
    ]


def test_xlsx_parse_inline_sparse_multisheet():
    data = xlsx_bytes(
        {
            "A": [["h1", "h2", "h3"], ["x", None, "z"]],
            "B": [["k"], ["only"]],
        },
        inline_strings=True,
    )
    name, rows = xlsx_parse(data, sheet=0)
    assert name == "A"
    # sparse row: missing B2 → None, row padded to its rightmost cell
    assert rows[1] == ["x", None, "z"]
    name_b, rows_b = xlsx_parse(data, sheet="B")
    assert name_b == "B" and rows_b == [["k"], ["only"]]
    with pytest.raises(ValueError):
        xlsx_parse(data, sheet="missing")
    with pytest.raises(ValueError):
        xlsx_parse(b"PK\x03\x04 not a zip at all")


def test_read_excel_single_workbook(spark, tmp_path):
    p = tmp_path / "survey.xlsx"
    p.write_bytes(
        xlsx_bytes({"S": [["assay", "n"], ["codex", 4], ["maldi", 7]]})
    )
    df = read_excel(spark, str(p))
    assert df.columns == ["assay", "n"]
    got = {r.assay: r.n for r in df.collect()}
    assert got == {"codex": "4", "maldi": "7"}


def test_read_excel_sidecars_distributed(spark, tmp_path):
    for i in range(9):
        d = tmp_path / f"upload{i}"
        d.mkdir()
        (d / "survey.xlsx").write_bytes(
            xlsx_bytes(
                {"Sheet1": [["dataset", "n_files"], [f"ds{i}", i * 10]]}
            )
        )
    (tmp_path / "upload9").mkdir()
    (tmp_path / "upload9" / "survey.xlsx").write_bytes(b"corrupt bytes")

    df = read_excel_sidecars(spark, str(tmp_path / "*" / "survey.xlsx"))
    rows = df.collect()
    good = [r for r in rows if r.error is None]
    bad = [r for r in rows if r.error is not None]
    assert len(good) == 9 and len(bad) == 1
    docs = {json.loads(r.row_json)["dataset"]: json.loads(r.row_json) for r in good}
    assert docs["ds4"] == {"dataset": "ds4", "n_files": "40"}
    assert all(r.sheet == "Sheet1" and r.row_idx == 0 for r in good)
    assert bad[0].row_idx is None and "zip" in bad[0].error

    # the scan is the distributed binaryFile source, parse is Arrow-batched
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "binaryFile" in plan and "MapInPandas" in plan
    assert "Scan ExistingRDD" not in plan  # i.e. not driver-parallelized


def test_xlsx_write_sheet_name_rules():
    """r11 ADVICE: a double quote in the sheet name corrupted
    workbook.xml (saxutils.escape doesn't escape '\"'); quoteattr fixes
    that, and Excel's 31-char / illegal-char name rules are enforced."""
    import pytest

    from ingest_pipeline_spark.sources.readers import xlsx_parse
    from ingest_pipeline_spark.sources.sinks import xlsx_write_bytes

    rows = [["a", "b"], ["1", "2"]]
    blob = xlsx_write_bytes('He said "hi" & <bye>', rows)
    name, got = xlsx_parse(blob)
    assert name == 'He said "hi" & <bye>' and got == rows
    for bad in ("", "x" * 32, "a[b", "a]b", "a:b", "a*b", "a?b", "a/b", "a\\b"):
        with pytest.raises(ValueError):
            xlsx_write_bytes(bad, rows)
