"""Minimal PDF text extraction for crawl ingestion (stdlib only).

``application/pdf`` is the largest non-HTML text slice of a real crawl;
this tier turns those payloads into ``documents``-shaped text rows.  It implements a tolerant
subset of ISO 32000-1 (the open PDF spec):

  * **object scan, not xref trust** — crawled PDFs routinely carry
    truncated or lying cross-reference tables, so objects are located by
    scanning ``N G obj … endobj`` spans directly (resync on the next
    object header rather than trusting offsets);
  * **FlateDecode content streams** (zlib is stdlib); other filters
    (DCT, LZW, …) skip that stream rather than failing the document;
  * **text-showing operators** ``Tj`` ``'`` ``"`` ``TJ`` with
    literal-string escapes (``\\( \\) \\\\ \\n \\r \\t \\b \\f``, octal,
    line continuations, balanced nested parens) and hex strings;
    UTF-16BE with BOM per §7.9.2.2, else PDFDocEncoding approximated as
    cp1252 (the standard practical reading);
  * **line structure** from ``Td``/``TD``/``T*`` moves and the ``'``/
    ``"`` next-line shows; pages joined with newlines in /Kids-free
    document order.

Anything beyond the subset degrades by skipping the object — a crawl
parse must degrade, not fail; malformed input raises ``ValueError``
only (the media-kernel exception contract, see tests/test_container_fuzz).

``encode_pdf`` writes a small, standards-valid single-font PDF (correct
xref offsets, optional Flate) — the deterministic fixture source for
tests and the q62 oracle leg, same pattern as ``encode_mp4``/
``encode_ogg``.

Parity note: the reference engine (opentargets/evidence_datasource_parsers)
ingests pre-extracted JSON and never parses PDFs; this tier exists for
the crawl sources feeding an LLM training corpus.
"""

from __future__ import annotations

import re
import zlib

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["encode_pdf", "parse_pdf", "pdf_text_frame"]


# ---------------------------------------------------------------------------
# writer (test/oracle fixture source)


def _pdf_escape(line: str) -> bytes:
    """Literal-string bytes for ``line``; falls back to a UTF-16BE hex
    string when the text leaves cp1252 (exercising the parser's other
    string path is a feature)."""
    try:
        raw = line.encode("cp1252")
    except UnicodeEncodeError:
        return b"<FEFF" + line.encode("utf-16-be").hex().upper().encode() + b">"
    return (
        b"("
        + raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
        + b")"
    )


def encode_pdf(
    pages: list[list[str]],
    *,
    flate: bool = True,
    title: str | None = None,
    producer: str = "evidence-spark",
) -> bytes:
    """A minimal valid PDF: one Helvetica font, one content stream per
    page, correct xref offsets, optional FlateDecode.  ``pages`` is a
    list of pages, each a list of text lines."""
    objs: list[bytes] = []  # bodies; object number = index + 1

    n = len(pages)
    first_page_obj = 4
    kids = b" ".join(
        b"%d 0 R" % (first_page_obj + 2 * i) for i in range(n)
    )
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n
    )  # 2
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )  # 3
    for i, lines in enumerate(pages):
        content = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                content.append(b"0 -14 Td")
            content.append(_pdf_escape(line) + b" Tj")
        content.append(b"ET")
        data = b" ".join(content)
        filt = b""
        if flate:
            data = zlib.compress(data)
            filt = b" /Filter /FlateDecode"
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >>"
            b" /Contents %d 0 R >>" % (first_page_obj + 2 * i + 1)
        )
        objs.append(
            b"<< /Length %d%s >>\nstream\n" % (len(data), filt)
            + data
            + b"\nendstream"
        )
    info_num = len(objs) + 1
    info = b"<< /Producer " + _pdf_escape(producer)
    if title is not None:
        info += b" /Title " + _pdf_escape(title)
    objs.append(info + b" >>")

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R >>\n"
        b"startxref\n%d\n%%%%EOF\n" % (len(objs) + 1, info_num, xref_at)
    )
    return bytes(out)


# ---------------------------------------------------------------------------
# parser


def _decode_pdf_string(raw: bytes) -> str:
    if raw[:2] == b"\xfe\xff":  # §7.9.2.2: UTF-16BE with BOM
        return raw[2:].decode("utf-16-be", "replace")
    try:
        return raw.decode("cp1252")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def _parse_literal(content: bytes, i: int) -> tuple[bytes, int]:
    """Parse a ``(…)`` literal string starting at the ``(``.  Returns
    (string bytes, index past the closing paren)."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(content)
    while i < n and depth:
        c = content[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = content[i]
            if e in b"nrtbf":
                out.append(b"\n\r\t\b\f"[b"nrtbf".index(e)])
                i += 1
            elif e in b"0123456789"[:8]:
                oct_digits = bytearray([e])
                i += 1
                while (
                    i < n and len(oct_digits) < 3 and content[i] in b"01234567"
                ):
                    oct_digits.append(content[i])
                    i += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in b"\r\n":  # line continuation
                i += 1
                if e == 0x0D and i < n and content[i] == 0x0A:
                    i += 1
            else:  # \( \) \\ and unknown escapes: literal char
                out.append(e)
                i += 1
            continue
        if c == 0x28:  # ( — balanced nesting
            depth += 1
            out.append(c)
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(c)
        else:
            out.append(c)
        i += 1
    return bytes(out), i


def _parse_hex(content: bytes, i: int) -> tuple[bytes, int]:
    """Parse a ``<…>`` hex string starting at the ``<``."""
    end = content.find(b">", i)
    if end < 0:
        end = len(content)
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", content[i + 1 : end])
    if len(digits) % 2:
        digits += b"0"  # §7.3.4.3: odd count → trailing 0
    return bytes.fromhex(digits.decode("ascii")), end + 1


_SHOW_OPS = (b"Tj", b"'", b'"')
_NEWLINE_OPS = (b"Td", b"TD", b"T*")


def _extract_stream_text(content: bytes) -> list[str]:
    """Text lines shown by one content stream — see the module doc for
    the operator subset."""
    lines: list[str] = []
    cur: list[str] = []
    pending: list[str] = []
    i, n = 0, len(content)

    def flush():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    while i < n:
        c = content[i]
        if c == 0x28:  # (
            raw, i = _parse_literal(content, i)
            pending.append(_decode_pdf_string(raw))
        elif c == 0x3C:  # < or <<
            if content[i : i + 2] == b"<<":
                i += 2
            else:
                raw, i = _parse_hex(content, i)
                pending.append(_decode_pdf_string(raw))
        elif c == 0x25:  # % comment to end of line
            j = content.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif (
            0x41 <= c <= 0x5A
            or 0x61 <= c <= 0x7A
            or c in (0x27, 0x22, 0x2A)
        ):
            j = i
            while j < n and (
                0x41 <= content[j] <= 0x5A
                or 0x61 <= content[j] <= 0x7A
                or content[j] in (0x27, 0x22, 0x2A, 0x30)
            ):
                j += 1
            tok = content[i:j]
            if tok in _SHOW_OPS:
                if tok in (b"'", b'"'):  # next-line show
                    flush()
                cur.extend(pending)
                pending.clear()
            elif tok == b"TJ":
                cur.extend(pending)
                pending.clear()
            elif tok in _NEWLINE_OPS or tok == b"ET":
                flush()
                pending.clear()
            else:  # any other operator consumes its operands
                pending.clear()
            i = j
        else:
            i += 1
    flush()
    return lines


def parse_pdf(blob: bytes) -> dict:
    """Tolerant PDF read → ``{version, n_pages, title, producer, text}``.

    Raises ``ValueError`` when the blob is not a PDF at all; structural
    damage INSIDE a PDF degrades (objects that don't parse are skipped),
    because a crawl's long tail is full of truncated captures."""
    if blob[:5] != b"%PDF-":
        raise ValueError("not a PDF (missing %PDF- header)")
    version = blob[5:8].decode("ascii", "replace")

    # object scan — resilient to broken xref.  The walk is SEQUENTIAL:
    # after each object's span (extended past chance 'endobj' bytes
    # inside its stream) the cursor jumps to the span end, so byte
    # patterns that look like object headers INSIDE stream data are
    # never scanned.  A redefined object number keeps the LATER
    # definition — incremental-update files append the replacement and
    # the spec says the newest wins.
    objects: dict[int, bytes] = {}
    hdr_re = re.compile(rb"(\d+)\s+\d+\s+obj\b")
    pos = 0
    while True:
        m = hdr_re.search(blob, pos)
        if m is None:
            break
        num = int(m.group(1))
        start = m.end()
        end = blob.find(b"endobj", start)
        while end >= 0:
            body = blob[start:end]
            sidx = body.find(b"stream")
            if sidx < 0 or b"endstream" in body[sidx:]:
                break
            end = blob.find(b"endobj", end + 6)
        if end < 0:
            break  # unterminated final object (truncated capture)
        objects[num] = blob[start:end]
        pos = end + 6

    def _direct_length(head: bytes) -> int | None:
        """/Length as an int: direct value, or resolved through an
        indirect ref (the common real-world layout — writers stream
        first and backfill the length object).  The (?!\\d) guard stops
        the regex backtracking '/Length 15 0 R' into a bogus direct 1."""
        lm = re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", head)
        if lm:
            return int(lm.group(1))
        ir = re.search(rb"/Length\s+(\d+)\s+\d+\s+R", head)
        if ir:
            target = objects.get(int(ir.group(1)))
            if target is not None:
                vm = re.search(rb"(\d+)", target)
                if vm:
                    return int(vm.group(1))
        return None

    def stream_bytes(body: bytes) -> bytes | None:
        m = re.search(rb"\bstream\r?\n", body)
        if not m:
            return None
        data = body[m.end() :]
        # a resolvable /Length is authoritative — binary stream data can
        # legitimately END in EOL bytes, so trimming by delimiter alone
        # would eat them (found the hard way: deflate output ending 0x0A)
        length = _direct_length(body[: m.start()])
        if length is not None and length <= len(data):
            return_data = data[:length]
            if b"/FlateDecode" in body[: m.start()]:
                try:
                    return zlib.decompress(return_data)
                except zlib.error:
                    return None
            if re.search(rb"/Filter\s*[/\[]", body[: m.start()]):
                return None
            return return_data
        e = data.rfind(b"endstream")
        if e >= 0:
            data = data[:e]
            # spec: exactly ONE EOL between the data and 'endstream'
            if data.endswith(b"\r\n"):
                data = data[:-2]
            elif data.endswith((b"\n", b"\r")):
                data = data[:-1]
        if b"/FlateDecode" in body[: m.start()]:
            try:
                return zlib.decompress(data)
            except zlib.error:
                return None  # foreign/damaged filter: skip, don't fail
        if re.search(rb"/Filter\s*[/\[]", body[: m.start()]):
            return None  # non-Flate filter (DCT, LZW, …): skip
        return data

    # object streams (PDF 1.5+, /Type /ObjStm): most modern PDFs pack
    # their dicts — page objects included — into Flate-compressed object
    # streams, so skipping them would blind the extractor to the modern
    # web's PDFs.  Layout per §7.5.7: /N pairs of "objnum offset" ints in
    # the first /First bytes, then the concatenated objects.  Embedded
    # objects never shadow a top-level (re)definition: top-level wins ties
    # (incremental updates rewrite top level).
    for body in list(objects.values()):
        head = body.split(b"stream", 1)[0]
        if not re.search(rb"/Type\s*/ObjStm\b", head):
            continue
        data = stream_bytes(body)
        nm = re.search(rb"/N\s+(\d+)", head)
        fm = re.search(rb"/First\s+(\d+)", head)
        if data is None or nm is None or fm is None:
            continue
        first = int(fm.group(1))
        try:
            ints = [int(t) for t in data[:first].split()]
        except ValueError:
            continue
        pairs = list(zip(ints[0::2], ints[1::2]))[: int(nm.group(1))]
        for i, (num, off) in enumerate(pairs):
            end_off = (
                pairs[i + 1][1] if i + 1 < len(pairs) else len(data) - first
            )
            objects.setdefault(num, data[first + off : first + end_off])

    pages: list[str] = []
    n_pages = 0
    for num in objects:
        body = objects[num]
        head = body.split(b"stream", 1)[0]
        if not re.search(rb"/Type\s*/Page\b", head):
            continue
        n_pages += 1
        refs = [
            int(r)
            for r in re.findall(rb"(\d+)\s+\d+\s+R", _contents_of(head))
        ]
        page_lines: list[str] = []
        for ref in refs:
            target = objects.get(ref)
            if target is None:
                continue
            data = stream_bytes(target)
            if data is not None:
                page_lines.extend(_extract_stream_text(data))
        pages.append("\n".join(page_lines))

    # document metadata: the trailer's /Info ref is authoritative;
    # without one (broken trailer), fall back to the first /Type-free
    # dict carrying the keys — annotations/outlines also use /Title but
    # always carry a /Type, the Info dict never does
    title = producer = None
    info_bodies: list[bytes] = []
    im = None
    for im in re.finditer(rb"/Info\s+(\d+)\s+\d+\s+R", blob):
        pass  # last trailer wins (incremental updates append trailers)
    if im is not None and int(im.group(1)) in objects:
        info_bodies = [objects[int(im.group(1))]]
    else:
        info_bodies = [
            b
            for b in objects.values()
            if (b"/Producer" in b or b"/Title" in b)
            and b"/Type" not in b.split(b"stream", 1)[0]
        ]
    for body in info_bodies:
        t = _info_string(body, b"/Title")
        p = _info_string(body, b"/Producer")
        if title is None:
            title = t
        if producer is None:
            producer = p
        if title is not None and producer is not None:
            break
    return {
        "version": version,
        "n_pages": n_pages,
        "title": title,
        "producer": producer,
        "text": "\n".join(pages),
    }


def _contents_of(head: bytes) -> bytes:
    """The value span of /Contents in a page dict: a single ref or a
    ref array."""
    m = re.search(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)", head)
    return m.group(1) if m else b""


def _info_string(body: bytes, key: bytes) -> str | None:
    m = re.search(re.escape(key) + rb"\s*\(", body)
    if m:
        raw, _ = _parse_literal(body, m.end() - 1)
        return _decode_pdf_string(raw)
    m = re.search(re.escape(key) + rb"\s*<([0-9A-Fa-f\s]*)>", body)
    if m:
        raw, _ = _parse_hex(body, m.start() + len(key)
                            + body[m.start() + len(key):].find(b"<"))
        return _decode_pdf_string(raw)
    return None


# ---------------------------------------------------------------------------
# Spark surface


def pdf_text_frame(
    df: DataFrame,
    payload_col: str = "payload",
    *,
    text_col: str = "pdf_text",
) -> DataFrame:
    """Byte rows → extracted-text rows: every column except
    ``payload_col`` passes through and ``(pdf_text, pdf_pages,
    pdf_title)`` are appended — one narrow Arrow ``mapInPandas`` pass
    riding the upstream scan's parallelism, same operator shape as
    :func:`functions.charset.decode_text_frame`.  Non-PDF / unparseable
    payloads yield NULL columns (gate or drop downstream), never a task
    failure."""
    from collections.abc import Iterator

    keep = [f.name for f in df.schema.fields if f.name != payload_col]
    keep_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != payload_col
    )
    out_schema = (
        f"{keep_ddl}, {text_col} string, pdf_pages int, pdf_title string"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            texts, npages, titles = [], [], []
            for blob in pdf_batch[payload_col]:
                try:
                    meta = parse_pdf(bytes(blob))
                    texts.append(meta["text"])
                    npages.append(meta["n_pages"])
                    titles.append(meta["title"])
                except (ValueError, TypeError):
                    texts.append(None)
                    npages.append(None)
                    titles.append(None)
            out = pdf_batch[keep].copy()
            out[text_col] = texts
            out["pdf_pages"] = pd.array(npages, dtype="Int32")
            out["pdf_title"] = titles
            yield out

    return df.mapInPandas(kernel, out_schema)
