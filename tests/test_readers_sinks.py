"""I/O tier tests: forced schemas, skipRows, Excel/XML scans, remote
staging, single-file gzip JSON sink contract."""

from __future__ import annotations

import gzip
import json
import os

import pytest

from evidence_datasource_parsers_spark.sources.readers import (
    read_excel,
    from_rows,
    read_csv,
)
from evidence_datasource_parsers_spark.sources.sinks import (
    write_evidence_strings,
)


def test_read_csv_forced_schema_and_skiprows(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("junk meta line\nanother junk\ngene,score\ng1,0.5\ng2,1.5\n")
    df = read_csv(
        spark,
        str(p),
        schema="gene string, score double",
        header=True,
        skip_rows=2,
    )
    rows = {r["gene"]: r["score"] for r in df.collect()}
    assert rows == {"g1": 0.5, "g2": 1.5}


def test_read_csv_multiline_quoted(spark, tmp_path):
    p = tmp_path / "m.csv"
    p.write_text('id,desc\n1,"line one\nline two"\n')
    df = read_csv(spark, str(p), multiline=True)
    assert df.collect()[0]["desc"] == "line one\nline two"


def test_write_evidence_strings_single_file(spark, tmp_path):
    df = from_rows(
        spark,
        [("ENSG1", "EFO:1", 0.9), ("ENSG2", "EFO:2", 0.2)],
        "targetFromSourceId string, diseaseFromSourceMappedId string, resourceScore double",
    )
    out = str(tmp_path / "evidence.json.gz")
    write_evidence_strings(df, out)
    assert os.path.isfile(out)
    with gzip.open(out, "rt") as fh:
        lines = [json.loads(line) for line in fh]
    assert len(lines) == 2
    assert {l["targetFromSourceId"] for l in lines} == {"ENSG1", "ENSG2"}


def test_read_xml_elements(spark, tmp_path):
    """S11: ElementTree walk -> DataFrame (Orphanet.py:52-126 shape)."""
    from evidence_datasource_parsers_spark.sources.readers import (
    read_excel,
        read_xml_elements,
    )

    xml = tmp_path / "disorders.xml"
    xml.write_text(
        """<?xml version="1.0"?>
        <DisorderList>
          <Disorder id="1">
            <OrphaCode>558</OrphaCode>
            <Name>Marfan syndrome</Name>
            <Gene symbol="FBN1"/>
          </Disorder>
          <Disorder id="2">
            <OrphaCode>773</OrphaCode>
            <Name>Neurofibromatosis</Name>
            <Gene symbol="NF1"/>
          </Disorder>
        </DisorderList>"""
    )

    def extract(elem):
        return {
            "orpha_code": elem.findtext("OrphaCode"),
            "name": elem.findtext("Name"),
            "gene": elem.find("Gene").get("symbol"),
        }

    df = read_xml_elements(
        spark, str(xml), "Disorder", extract,
        schema="orpha_code string, name string, gene string",
    )
    rows = {r["orpha_code"]: r for r in df.collect()}
    assert rows["558"]["gene"] == "FBN1"
    assert rows["773"]["name"] == "Neurofibromatosis"


def test_stage_remote_file_url(spark, tmp_path):
    """S9: addFile/SparkFiles staging round-trip (file:// URL)."""
    from evidence_datasource_parsers_spark.sources.readers import stage_remote

    src = tmp_path / "remote.tsv"
    src.write_text("gene\tscore\ng1\t0.5\n")
    local = stage_remote(spark, f"file://{src}")
    df = read_csv(spark, local, sep="\t", infer_schema=True)
    assert df.collect()[0]["gene"] == "g1"


def test_write_evidence_strings_parallel_mode(spark, tmp_path):
    """K1 scale path: single_file=False keeps the write parallel (a
    directory of gzip parts)."""
    import glob
    import gzip
    import json

    df = from_rows(spark, [(i,) for i in range(100)], "id long").repartition(4)
    out = str(tmp_path / "parallel_out")
    write_evidence_strings(df, out, single_file=False)
    parts = glob.glob(f"{out}/part-*.json.gz")
    assert len(parts) > 1
    ids = []
    for p in parts:
        with gzip.open(p, "rt") as fh:
            ids += [json.loads(line)["id"] for line in fh]
    assert sorted(ids) == list(range(100))


def _write_xlsx(path, sheets):
    """Minimal hand-rolled .xlsx (zip of XML parts) — lets the stdlib
    reader be tested against a real file without openpyxl.  ``sheets`` is
    [(name, rows)]; str cells go through sharedStrings (rich-text split for
    one of them), bools/numbers inline, None cells omitted (sparse rows)."""
    import zipfile

    strings: list[str] = []

    def cell_xml(ref, v):
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        strings.append(str(v))
        return f'<c r="{ref}" t="s"><v>{len(strings) - 1}</v></c>'

    def col_ref(i):
        name = ""
        i += 1
        while i:
            i, rem = divmod(i - 1, 26)
            name = chr(65 + rem) + name
        return name

    ws_xmls = []
    for _, rows in sheets:
        body = []
        for r, row in enumerate(rows, start=1):
            cells = "".join(
                cell_xml(f"{col_ref(c)}{r}", v) for c, v in enumerate(row)
            )
            body.append(f'<row r="{r}">{cells}</row>')
        ws_xmls.append(
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        )

    # one rich-text entry exercises multi-<t> concatenation
    sis = []
    for s in strings:
        if s == "Gene ID Ensembl":
            sis.append("<si><r><t>Gene ID </t></r><r><t>Ensembl</t></r></si>")
        else:
            sis.append(f"<si><t xml:space=\"preserve\">{s}</t></si>")
    ss_xml = (
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(sis)
        + "</sst>"
    )
    sheet_tags = "".join(
        f'<sheet name="{n}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (n, _) in enumerate(sheets)
    )
    wb_xml = (
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
        f'relationships"><sheets>{sheet_tags}</sheets></workbook>'
    )
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(sheets))
    )
    rels_xml = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
        f'relationships">{rels}</Relationships>'
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb_xml)
        zf.writestr("xl/_rels/workbook.xml.rels", rels_xml)
        zf.writestr("xl/sharedStrings.xml", ss_xml)
        for i, x in enumerate(ws_xmls):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", x)


def test_read_excel_multiheader_skiprows_skipfooter(spark, tmp_path):
    """CvdiGeneBurden.py:100-106 shape: title row skipped, two header rows
    with a merged (forward-filled) top level, footer note dropped."""
    path = str(tmp_path / "t.xlsx")
    _write_xlsx(
        path,
        [
            (
                "ST6",
                [
                    ["supplementary table 6"],                      # skiprows=1
                    ["phenotype", "Gene ID Ensembl", "ALL ancestry", None],
                    [None, None, "beta", "pval"],                   # merged top
                    ["height", "ENSG1", 0.5, 1e-8],
                    ["bmi", "ENSG2", -0.25, 0.003],
                    ["source: cohort X"],                           # skipfooter=1
                ],
            ),
            ("ST3", [["method", "cutoff"], ["skat", 2.5e-6]]),
        ],
    )
    df = read_excel(
        spark, path, sheet_name="ST6", skiprows=1, header=[0, 1], skipfooter=1
    )
    assert df.columns == [
        "phenotype",
        "Gene ID Ensembl",
        "ALL ancestry_beta",
        "ALL ancestry_pval",
    ]
    rows = {r["phenotype"]: r for r in df.collect()}
    assert rows["height"]["Gene ID Ensembl"] == "ENSG1"
    assert rows["bmi"]["ALL ancestry_beta"] == -0.25
    assert rows["height"]["ALL ancestry_pval"] == 1e-8


def test_read_excel_sheet_by_name_and_index(spark, tmp_path):
    path = str(tmp_path / "t2.xlsx")
    _write_xlsx(
        path,
        [
            ("PROBES", [["probe", "score", "ok"], ["abc-1", 7, True]]),
            ("other", [["x"], ["y"]]),
        ],
    )
    by_name = read_excel(spark, path, sheet_name="PROBES")
    by_idx = read_excel(spark, path, sheet_name=0)
    assert by_name.columns == ["probe", "score", "ok"]
    r = by_name.collect()[0]
    assert (r["probe"], r["score"], r["ok"]) == ("abc-1", 7.0, True)
    assert [row.asDict() for row in by_idx.collect()] == [
        row.asDict() for row in by_name.collect()
    ]
    with pytest.raises(KeyError):
        read_excel(spark, path, sheet_name="missing")


def test_read_excel_unreferenced_cells_and_all_none_column(spark, tmp_path):
    """Two legal-but-awkward xlsx shapes some writers emit: cells without
    the optional r= reference (must advance a running column index, not
    clobber the previous cell), and a column that is entirely empty (must
    type as string explicitly — Spark cannot infer from all-None)."""
    import zipfile

    path = str(tmp_path / "noref.xlsx")
    # sheet1: header row references columns A,B,C; data row has NO r=
    # attributes at all — cells fall into columns 0,1,2 in document order
    ws = (
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="str"><v>a</v></c>'
        '<c r="B1" t="str"><v>empty</v></c>'
        '<c r="C1" t="str"><v>b</v></c>'
        "</row>"
        "<row>"
        '<c><v>1</v></c><c t="str"></c><c t="str"><v>x</v></c>'
        "</row>"
        "<row>"
        '<c><v>2</v></c><c t="str"></c><c t="str"><v>y</v></c>'
        "</row>"
        "</sheetData></worksheet>"
    )
    wb = (
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
        '2006/main" xmlns:r="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships">'
        '<sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", ws)

    df = read_excel(spark, path)
    assert df.columns == ["a", "empty", "b"]
    assert dict(df.dtypes)["empty"] == "string"  # all-None column survives
    rows = sorted((r["a"], r["empty"], r["b"]) for r in df.collect())
    assert rows == [(1.0, None, "x"), (2.0, None, "y")]


def test_compaction_flat_dir(spark, tmp_path):
    """50 tiny files compact to the planned count with identical rows."""
    from evidence_datasource_parsers_spark.operators.compaction import (
        compact_files,
        compaction_plan,
        _data_files,
    )

    out = str(tmp_path / "frag")
    df = spark.range(2000).selectExpr("id", "id * 2 AS v")
    df.repartition(50).write.mode("overwrite").parquet(out)
    before = compaction_plan(out, target_file_bytes=1 << 30)
    assert before["n_files"] >= 50 and before["worth_it"]
    assert before["target_files"] == 1
    expect = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())

    res = compact_files(spark, out, target_file_bytes=1 << 30)
    assert len(res["compacted"]) == 1
    after = compaction_plan(out, target_file_bytes=1 << 30)
    assert after["n_files"] == 1 and not after["worth_it"]
    got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
    assert got == expect
    assert all(s > 0 for _, s in _data_files(out))


def test_compaction_partitioned_tree(spark, tmp_path):
    """Hive-partitioned trees compact per leaf, preserving layout, the
    partition column, and every row."""
    from evidence_datasource_parsers_spark.operators.compaction import (
        compact_files,
    )

    out = str(tmp_path / "part")
    df = spark.range(1000).selectExpr("id", "CAST(id % 3 AS INT) AS part")
    df.repartition(20).write.mode("overwrite").partitionBy(
        "part"
    ).parquet(out)
    expect = sorted((r.id, r.part) for r in spark.read.parquet(out).collect())
    res = compact_files(spark, out, target_file_bytes=1 << 30)
    assert len(res["compacted"]) == 3  # one per leaf partition
    back = spark.read.parquet(out)
    assert sorted((r.id, r.part) for r in back.collect()) == expect
    import os

    for leaf in ("part=0", "part=1", "part=2"):
        files = [
            f
            for f in os.listdir(os.path.join(out, leaf))
            if not f.startswith(("_", ".")) and not f.endswith(".crc")
        ]
        assert len(files) == 1, (leaf, files)


def test_read_json_corrupt_record_policies(spark, tmp_path):
    from evidence_datasource_parsers_spark.sources.readers import read_json

    p = tmp_path / "mixed.json"
    p.write_text('{"a": 1}\nNOT JSON AT ALL\n{"a": 3}\n')

    # default PERMISSIVE: bad line survives as nulls
    perm = read_json(spark, str(p), schema="a bigint")
    assert perm.count() == 3
    assert perm.where("a IS NULL").count() == 1

    # corrupt_col captures the raw line for audit
    audited = read_json(
        spark, str(p), schema="a bigint, _bad string", corrupt_col="_bad"
    )
    bad = [r._bad for r in audited.where("_bad IS NOT NULL").collect()]
    assert bad == ["NOT JSON AT ALL"]

    # DROPMALFORMED removes it
    dropped = read_json(spark, str(p), schema="a bigint",
                        mode="DROPMALFORMED")
    assert sorted(r.a for r in dropped.collect()) == [1, 3]

    # FAILFAST raises
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_json(spark, str(p), schema="a bigint",
                  mode="FAILFAST").collect()


def test_read_csv_malformed_modes(spark, tmp_path):
    from evidence_datasource_parsers_spark.sources.readers import read_csv

    p = tmp_path / "mixed.csv"
    p.write_text("a,b\n1,x\nTHIS,LINE,HAS,TOO,MANY,COLUMNS\n3,z\n")
    schema = "a bigint, b string"

    dropped = read_csv(spark, str(p), schema=schema, mode="DROPMALFORMED")
    assert sorted(r.a for r in dropped.collect()) == [1, 3]

    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_csv(spark, str(p), schema=schema, mode="FAILFAST").collect()
