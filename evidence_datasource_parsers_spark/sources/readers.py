"""Source operators S1-S14 (SURVEY §2.1), Spark-first.

Thin declarative wrappers over ``spark.read`` so every scan benefits from
predicate pushdown, column pruning and partition pruning.  Each pipeline
names its reader; the reference's extension-dispatching autodetect reader
(``common/evidence.py:230-285``, SURVEY S8) has no counterpart.  Remote staging
(S9) and driver-parsed formats (Excel S10, XML S11, REST S12/S13) are isolated
behind small functions that land in a DataFrame as early as possible.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    sep: str = ",",
    header: bool = True,
    schema: StructType | str | None = None,
    infer_schema: bool = False,
    multiline: bool = False,
    null_value: str | None = None,
    quote: str = '"',
    skip_rows: int = 0,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV/TSV scan: S1 (options), S2 (forced schema), S3 (multi-file),
    S4 (inferSchema).  ``mode`` is the malformed-line policy
    (PERMISSIVE | DROPMALFORMED | FAILFAST — same contract as read_json).

    ``skip_rows`` replaces the reference's fragile
    ``monotonically_increasing_id``-based preamble skipping
    (``modules/ClinGen.py:66-70``).  OSS Spark CSV has no skip option, so the
    preamble is stripped deterministically on the driver into a temp file —
    valid because preamble-bearing inputs are, by nature, small curated files
    that are already staged locally (see ``stage_remote``); large fact data
    never carries a preamble.
    """
    if skip_rows:
        if not isinstance(paths, str) or not os.path.isfile(paths):
            raise ValueError("skip_rows requires a single local file")
        import tempfile

        stripped = tempfile.NamedTemporaryFile(
            mode="w", suffix=".csv", delete=False
        )
        with open(paths) as src, stripped:
            for i, line in enumerate(src):
                if i >= skip_rows:
                    stripped.write(line)
        paths = stripped.name
    reader = (
        spark.read.option("header", header)
        .option("sep", sep)
        .option("quote", quote)
        .option("multiLine", multiline)
        .option("escape", '"')
        .option("mode", mode)
    )
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    if isinstance(paths, str):
        paths = [paths]
    return reader.csv(list(paths))


def read_json(
    spark: SparkSession,
    paths: str | list[str],
    schema: StructType | str | None = None,
    recursive: bool = False,
    multiline: bool = False,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON / JSON-lines scan (S5) incl. recursive directory lookup (S6).

    Corrupt-line policy — crawl-scale JSON always has some: the default
    PERMISSIVE keeps bad lines as all-NULL rows; pass ``corrupt_col``
    (with an explicit ``schema`` that includes that string column — a
    Spark requirement) to capture the raw offending line for audit
    instead of losing it; ``mode='DROPMALFORMED'`` silently drops;
    ``mode='FAILFAST'`` raises on the first bad line (the right setting
    for curated inputs where corruption means upstream breakage).
    """
    reader = spark.read.option("multiLine", multiline).option("mode", mode)
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if schema is not None:
        reader = reader.schema(schema)
    if isinstance(paths, str):
        paths = [paths]
    return reader.json(list(paths))


def read_parquet(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Parquet scan (S7) — columnar, pushdown-friendly; the scale path."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.parquet(*paths)


def from_rows(
    spark: SparkSession,
    rows: Iterable,
    schema: StructType | str | list[str] | None = None,
) -> DataFrame:
    """In-memory table from Python objects (S14) — small LUTs only.

    At cluster scale this is for dimension/config data that will broadcast;
    fact data must arrive through a file/stream source.
    """
    return spark.createDataFrame(list(rows), schema=schema)


def _xlsx_cell_col(ref: str) -> int:
    """'BC23' → 0-based column index 54."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


def _xlsx_grid(path: str, sheet_name) -> list[list]:
    """Raw cell grid of one worksheet from a .xlsx, stdlib only.

    xlsx is a zip of XML parts: workbook.xml names the sheets, the .rels
    part maps them to worksheet files, sharedStrings.xml interns string
    cells.  Cell types handled: shared string (t=s), inline/literal string
    (t=str/inlineStr), boolean (t=b), number (default).  Date styling is not
    resolved — date cells surface as Excel serial numbers.
    """
    import xml.etree.ElementTree as ET
    import zipfile

    NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
    PNS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

    with zipfile.ZipFile(path) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rid_to_target = {
            r.get("Id"): r.get("Target") for r in rels.iter(f"{PNS}Relationship")
        }
        sheets = [
            (s.get("name"), rid_to_target[s.get(f"{RNS}id")])
            for s in wb.iter(f"{NS}sheet")
        ]
        if isinstance(sheet_name, int):
            target = sheets[sheet_name][1]
        else:
            matches = [t for n, t in sheets if n == sheet_name]
            if not matches:
                raise KeyError(
                    f"sheet {sheet_name!r} not in {[n for n, _ in sheets]}"
                )
            target = matches[0]
        if not target.startswith("xl/"):
            target = "xl/" + target.lstrip("/")

        strings: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            ss = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in ss.iter(f"{NS}si"):
                # rich-text runs split one logical string across <t> elements
                strings.append("".join(t.text or "" for t in si.iter(f"{NS}t")))

        ws = ET.fromstring(zf.read(target))
        rows: list[list] = []
        for row in ws.iter(f"{NS}row"):
            cells: list = []
            next_col = 0  # running index: cells may legally omit r=
            for c in row.iter(f"{NS}c"):
                ref = c.get("r")
                # OOXML makes the cell reference optional; an unreferenced
                # cell occupies the column after the previous cell
                col = _xlsx_cell_col(ref) if ref else next_col
                next_col = col + 1
                while len(cells) <= col:
                    cells.append(None)
                ctype = c.get("t", "n")
                v = c.find(f"{NS}v")
                if ctype == "inlineStr":
                    is_el = c.find(f"{NS}is")
                    val = (
                        "".join(t.text or "" for t in is_el.iter(f"{NS}t"))
                        if is_el is not None
                        else None
                    )
                elif v is None or v.text is None:
                    val = None
                elif ctype == "s":
                    val = strings[int(v.text)]
                elif ctype == "b":
                    val = v.text == "1"
                elif ctype == "str":
                    val = v.text
                else:
                    num = float(v.text)
                    val = int(num) if num.is_integer() else num
                cells[col] = val
            rows.append(cells)
        width = max((len(r) for r in rows), default=0)
        return [r + [None] * (width - len(r)) for r in rows]


def read_excel(
    spark: SparkSession,
    path: str,
    sheet_name=0,
    skiprows: int = 0,
    skipfooter: int = 0,
    header=0,
) -> DataFrame:
    """Excel scan (S10/R6): stdlib zipfile + ElementTree xlsx parser →
    DataFrame — no openpyxl dependency, so the path actually executes in
    this image.

    Mirrors ``modules/CvdiGeneBurden.py:100-106`` (multi-row ``header``
    list with horizontal forward-fill of merged header cells, ``skiprows``,
    ``skipfooter``) and ``chemicalProbes.py:123-129`` (sheet selection by
    name).  Multi-row headers flatten to '_'-joined names (deduplicated
    consecutive levels), matching how the reference immediately collapses
    its MultiIndex via ``get_level_values``.  Driver-side by design: the
    reference's Excel inputs are small curated supplements; bulk data must
    arrive via parquet/CSV/JSON.
    """
    grid = _xlsx_grid(path, sheet_name)[skiprows:]
    if skipfooter:
        grid = grid[:-skipfooter]

    header_rows = [header] if isinstance(header, int) else list(header)
    raw_headers = [grid[i] for i in header_rows]
    body = grid[max(header_rows) + 1 :]

    # merged header cells store their value only in the top-left cell:
    # forward-fill each header row horizontally (pandas does the same for
    # MultiIndex headers)
    filled: list[list] = []
    for hr in raw_headers:
        cur, out = None, []
        for v in hr:
            if v is not None and v != "":
                cur = v
            out.append(cur)
        filled.append(out)

    names: list[str] = []
    width = len(grid[0]) if grid else 0
    for i in range(width):
        levels: list[str] = []
        for hr in filled:
            lv = hr[i]
            if lv is None or lv == "":
                continue
            lv = str(lv)
            if not levels or levels[-1] != lv:
                levels.append(lv)
        names.append("_".join(levels) if levels else f"col{i}")

    # column-major type resolution: all-numeric columns become doubles,
    # anything mixed degrades to string (Spark rows must be homogeneous).
    # The schema is built EXPLICITLY (not inferred from names alone): an
    # all-None column gives Spark's inferencer nothing to work with and
    # would fail the createDataFrame — it types as string here.
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    cols = list(zip(*body)) if body else [[] for _ in range(width)]

    def resolve(col):
        vals = [v for v in col if v is not None]
        if vals and all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals):
            return [float(v) if v is not None else None for v in col], DoubleType()
        if vals and all(isinstance(v, bool) for v in vals):
            return list(col), BooleanType()
        return [str(v) if v is not None else None for v in col], StringType()

    resolved = [resolve(c) for c in cols]
    schema = StructType(
        [StructField(n, r[1]) for n, r in zip(names, resolved)]
    )
    data = [
        tuple(resolved[i][0][r] for i in range(width))
        for r in range(len(body))
    ]
    return spark.createDataFrame(data, schema=schema)


def read_xml_elements(
    spark: SparkSession,
    path: str,
    record_tag: str,
    field_extractor,
    schema: StructType | str | None = None,
) -> DataFrame:
    """XML scan (S11): ElementTree walk → rows → DataFrame.

    Mirrors ``modules/Orphanet.py:52-126``.  ``field_extractor(elem) -> dict``
    maps one ``<record_tag>`` element to a flat row.  Driver-side by design:
    the reference's XML inputs are small curated dumps; large XML at cluster
    scale should be converted upstream or read with a distributed XML source.
    """
    import xml.etree.ElementTree as ET

    root = ET.parse(path).getroot()
    rows = [field_extractor(elem) for elem in root.iter(record_tag)]
    return spark.createDataFrame(rows, schema=schema)


def stage_remote(spark: SparkSession, url: str) -> str:
    """Remote file staging (S9): HTTP/FTP URL → local path via SparkFiles.

    Mirrors ``common/evidence.py:203-205``; on a real cluster prefer a direct
    ``spark.read`` against an object-store/HTTP-capable filesystem connector.
    """
    from pyspark import SparkFiles

    spark.sparkContext.addFile(url)
    return SparkFiles.get(url.split("/")[-1])
