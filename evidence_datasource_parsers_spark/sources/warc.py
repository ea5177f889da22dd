"""WARC (Web ARChive) source — the format web crawls actually arrive in.

Common Crawl publishes ~1 GB ``.warc.gz`` files by the hundred thousand;
a training-data pipeline's first step is turning them into a documents
table.  Stdlib-only parser (ISO 28500 record grammar: a ``WARC/1.x``
version line, CRLF headers, a blank line, ``Content-Length`` payload
bytes, CRLF CRLF), driven through Spark's ``binaryFile`` DataFrame source
+ ``mapInPandas`` — declarative scan, Arrow-batched Python parse, no RDD.

Scale model: parallelism is PER FILE — exactly how crawl corpora are
shipped (thousands of ~1 GB members).  ``binaryFile`` materializes the
COMPRESSED bytes in the task (~1 GB); decompression then streams
record-at-a-time, so peak memory ≈ compressed size + one record, never
the decompressed file (~5×).  Oversized single records (rare >100 MB
payloads) are truncated at ``max_payload`` with a flag column rather
than OOMing the executor.

HTTP response records additionally expose status + Content-Type and the
BODY split out of the HTTP envelope — the part a text pipeline feeds to
``strip_html``/language-ID.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

WARC_SCHEMA = (
    "path string, warc_type string, url string, warc_date string, "
    "record_id string, content_type string, http_status int, "
    "http_content_type string, payload binary, payload_truncated boolean"
)


def _read_headers(stream, first_line: bytes | None = None) -> dict | None:
    """Read a WARC header block: version line + headers until blank line.
    Returns None at end of stream.  Tolerates leading blank lines (the
    inter-record CRLF CRLF).  ``first_line`` lets the resync path hand back
    an already-consumed version line."""
    line = first_line if first_line is not None else stream.readline()
    while line in (b"\r\n", b"\n"):
        line = stream.readline()
    if not line:
        return None
    if not line.startswith(b"WARC/"):
        raise ValueError(f"expected WARC version line, got {line[:40]!r}")
    headers: dict = {}
    while True:
        line = stream.readline()
        if line in (b"\r\n", b"\n", b""):
            return headers
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace")
            )


def iter_warc_records(
    raw: bytes,
    max_payload: int = 100 * 1024 * 1024,
    mode: str = "PERMISSIVE",
) -> Iterator[dict]:
    """Yield parsed records from (possibly multi-member gzip) WARC bytes.

    ``mode`` is the malformed-record policy, same contract as the CSV/JSON
    readers (crawl archives at scale ALWAYS contain a few mangled records;
    one must not fail a 1 GB member):

    * ``PERMISSIVE`` (default) — a record with a bad version line, a
      non-numeric/negative Content-Length, or junk between records is
      emitted as a flagged row (``warc_type='__malformed__'``, the
      offending bytes in ``payload``), then the parser resyncs at the next
      ``WARC/`` version line.
    * ``DROPMALFORMED`` — same resync, bad records silently skipped.
    * ``FAILFAST`` — raise, the right setting for curated archives.
    """
    if mode not in ("PERMISSIVE", "DROPMALFORMED", "FAILFAST"):
        raise ValueError(f"unknown malformed-record mode {mode!r}")
    if raw[:2] == b"\x1f\x8b":
        stream = gzip.GzipFile(fileobj=io.BytesIO(raw))
    else:
        stream = io.BytesIO(raw)
    pending: bytes | None = None
    while True:
        try:
            headers = _read_headers(stream, pending)
            pending = None
            if headers is None:
                return
            length = int(headers.get("content-length", "0"))
            if length < 0:
                raise ValueError(f"negative Content-Length {length}")
        except ValueError as exc:
            if mode == "FAILFAST":
                raise
            if mode == "PERMISSIVE":
                yield {
                    "warc_type": "__malformed__",
                    "url": None,
                    "warc_date": None,
                    "record_id": None,
                    "content_type": None,
                    "payload": str(exc).encode("utf-8", "replace")[:4096],
                    "payload_truncated": False,
                }
            # resync: scan forward to the next WARC version line (or EOF)
            pending = None
            while True:
                line = stream.readline()
                if not line:
                    return
                if line.startswith(b"WARC/"):
                    pending = line
                    break
            continue
        truncated = length > max_payload
        take = min(length, max_payload)
        payload = stream.read(take)
        if truncated:
            # drain the rest of the record without holding it
            remaining = length - take
            while remaining > 0:
                chunk = stream.read(min(remaining, 1 << 20))
                if not chunk:
                    break
                remaining -= len(chunk)
        yield {
            "warc_type": headers.get("warc-type", ""),
            "url": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "record_id": headers.get("warc-record-id"),
            "content_type": headers.get("content-type"),
            "payload": payload,
            "payload_truncated": truncated,
            # carried for the CDX tier (sources/cdx.py): revisit records
            # declare the original body's digest here instead of carrying
            # the body
            "payload_digest": headers.get("warc-payload-digest"),
        }


def _dechunk(body: bytes) -> bytes | None:
    """Reassemble a Transfer-Encoding: chunked body, or None if the
    framing is broken/truncated (crawl archives hold plenty of both —
    the caller falls back to the raw bytes, never fails the task)."""
    out = []
    i = 0
    while True:
        j = body.find(b"\r\n", i)
        if j < 0:
            return None
        size_tok = body[i:j].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return None
        if size == 0:
            return b"".join(out)
        start, end = j + 2, j + 2 + size
        if end > len(body) or body[end:end + 2] != b"\r\n":
            return None
        out.append(body[start:end])
        i = end + 2


def split_http_payload(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content_type, body) from an HTTP response envelope; a
    payload that isn't HTTP comes back (None, None, payload).

    The body is TRANSFER- and CONTENT-decoded the way a browser sees it:
    chunked framing reassembled, then gzip/x-gzip/deflate bodies
    decompressed (both zlib-wrapped and raw-deflate flavors — real
    servers ship both under the same label).  Anything that doesn't
    decode cleanly (truncated capture, unknown coding like br/zstd
    without the lib) keeps its raw bytes — a crawl parse must degrade,
    not fail, and downstream sniffers see the same bytes a replay proxy
    would store."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        head, sep, body = payload.partition(b"\n\n")
    status: int | None = None
    ctype: str | None = None
    cenc = tenc = ""
    lines = head.split(b"\r\n") if b"\r\n" in head else head.split(b"\n")
    parts = lines[0].split()
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    for ln in lines[1:]:
        low = ln.lower()
        if ctype is None and low.startswith(b"content-type:"):
            ctype = ln.split(b":", 1)[1].strip().decode("utf-8", "replace")
        elif low.startswith(b"content-encoding:"):
            cenc = low.split(b":", 1)[1].strip().decode("ascii", "replace")
        elif low.startswith(b"transfer-encoding:"):
            tenc = low.split(b":", 1)[1].strip().decode("ascii", "replace")
    if "chunked" in tenc:
        dechunked = _dechunk(body)
        if dechunked is not None:
            body = dechunked
    if cenc in ("gzip", "x-gzip"):
        try:
            body = gzip.decompress(body)
        except Exception:  # noqa: BLE001 — truncated/lying capture
            pass
    elif cenc == "deflate":
        import zlib

        try:
            body = zlib.decompress(body)
        except Exception:  # noqa: BLE001
            try:  # raw deflate: the OTHER thing servers call "deflate"
                body = zlib.decompress(body, -15)
            except Exception:  # noqa: BLE001
                pass
    return status, ctype, body


def read_warc(
    spark: SparkSession,
    path: str,
    *,
    responses_only: bool = False,
    max_payload: int = 100 * 1024 * 1024,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """WARC directory/glob → DataFrame (one row per record; see
    WARC_SCHEMA).  For ``warc-type=response`` rows, ``payload`` is the
    HTTP BODY and status/Content-Type are promoted to columns; other
    record types keep their raw payload.  ``mode`` is the malformed-record
    policy (see :func:`iter_warc_records`); PERMISSIVE's flagged rows are
    filtered by ``responses_only=True`` (they are not responses), so audit
    them with ``responses_only=False``.
    """
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    return _records_from_files(files, responses_only, max_payload, mode)


def _records_from_files(
    files: DataFrame,
    responses_only: bool,
    max_payload: int,
    mode: str,
) -> DataFrame:
    """(path, content) archive rows → WARC_SCHEMA record rows — the shared
    kernel behind the batch reader and the streaming source (mapInPandas
    is stateless, so the same pass serves both)."""
    import pandas as pd

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                for rec in iter_warc_records(bytes(content), max_payload, mode):
                    if responses_only and rec["warc_type"] != "response":
                        continue
                    status, ctype, body = (None, None, rec["payload"])
                    if rec["warc_type"] == "response":
                        status, ctype, body = split_http_payload(
                            rec["payload"]
                        )
                    rows.append(
                        (
                            p,
                            rec["warc_type"],
                            rec["url"],
                            rec["warc_date"],
                            rec["record_id"],
                            rec["content_type"],
                            status,
                            ctype,
                            body,
                            rec["payload_truncated"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "warc_type", "url", "warc_date", "record_id",
                    "content_type", "http_status", "http_content_type",
                    "payload", "payload_truncated",
                ],
            )

    return files.mapInPandas(parse, WARC_SCHEMA)


def warc_documents(
    spark: SparkSession,
    path: str,
    max_payload: int = 100 * 1024 * 1024,
    main_content: bool = False,
    charset: str = "utf8",
    include_pdf: bool = False,
) -> DataFrame:
    """WARC directory → the engine's documents shape:
    (doc_id, url, crawl_ts, text).

    Successful (2xx) HTML/text responses only; ``text`` is the HTML-
    stripped body (functions/html.py), ``url`` the canonical crawl URL
    (functions/urls.py — tracking params, fragments, default ports gone),
    ``doc_id`` the portable 60-bit hash of the RECORD id, so re-parsing
    the same archives yields identical ids (and downstream
    split/shard/dedup decisions) on any engine.

    ``main_content=True`` swaps the conservative expression-tier
    ``strip_html`` for the readability tier
    (:func:`functions.html.extract_main_text_frame`): boilerplate
    chrome (nav/footer link blocks) is removed, and the frame gains
    ``title``/``n_blocks_kept``/``n_blocks_total`` columns; HTML pages
    whose every block is chrome get NULL text (gate or drop them
    downstream).  Non-HTML text/* bodies pass through unchanged either
    way.

    ``charset`` picks the byte→text tier: ``"utf8"`` (default) is the
    zero-cost JVM ``CAST(payload AS STRING)`` — correct for the ~90% of
    the web that is UTF-8, replacement-soup for the rest; ``"sniff"``
    routes through :func:`functions.charset.decode_text_frame` (HTML5
    sniff order: BOM > Content-Type > <meta> > UTF-8 validation >
    cp1252 fallback) in one Arrow ``mapInPandas`` pass and adds
    ``charset``/``charset_source`` provenance columns.  Same partition
    count either way — the decode rides the WARC scan's parallelism.

    ``include_pdf=True`` adds a row per successful ``application/pdf``
    response with ``text`` extracted by the tolerant stdlib PDF tier
    (:func:`functions.pdf.pdf_text_frame`); unparseable PDFs arrive
    with NULL text for downstream gating.  PDF rows carry NULL in the
    charset provenance columns (they are not charset-sniffed) and, under
    ``main_content=True``, the PDF /Title as ``title``.

    Cost note: the PDF branch is a second subtree over the same record
    lineage, so one action scans + record-parses the archives twice
    (Spark does not share subplans across a union without caching).
    Persisting 100 TB of parsed records is not the answer; if the double
    parse matters for a one-shot job, run the two branches as separate
    writes over a cached ``read_warc`` frame sized to fit, or accept the
    second scan — it is embarrassingly parallel and I/O-bound.
    """
    recs = read_warc(
        spark, path, responses_only=True, max_payload=max_payload
    )
    return _documents_from_records(
        recs,
        main_content=main_content,
        charset=charset,
        include_pdf=include_pdf,
    )


def stream_warc_documents(
    spark: SparkSession,
    path: str,
    max_payload: int = 100 * 1024 * 1024,
    charset: str = "utf8",
    include_pdf: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING twin of :func:`warc_documents`: watch ``path`` for new
    WARC archives and emit documents-shaped rows per micro-batch — feed
    straight into ``streaming.incremental.incremental_dedupe_sink`` so a
    live crawl dedupes against the same cross-run store the nightly
    batch refreshes maintain.

    The whole chain is stateless narrow work (binaryFile file source →
    the shared record/documents kernels), so it streams without
    watermarks or state stores; per-trigger cost is the new archives'
    scan.  ``main_content`` is not offered here: the readability tier
    join-backs the same stream (a streaming self-join) — run it on the
    sink's output instead.  ``max_files_per_trigger`` bounds a backlog
    catch-up batch (archives are ~1 GB each; 1000 executors digest ~2k
    files per wave comfortably)."""
    reader = spark.readStream.format("binaryFile")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.schema(
        "path string, modificationTime timestamp, length long,"
        " content binary"
    ).load(path).select("path", "content")
    recs = _records_from_files(
        files, True, max_payload, "PERMISSIVE"
    )
    return _documents_from_records(
        recs, main_content=False, charset=charset, include_pdf=include_pdf
    )


def _documents_from_records(
    recs: DataFrame,
    *,
    main_content: bool,
    charset: str,
    include_pdf: bool,
) -> DataFrame:
    """WARC record rows → documents rows — shared by the batch reader and
    the streaming source (every step is a narrow deterministic
    transformation, except main_content's bounded join-back, which the
    streaming path excludes)."""
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.functions.hashing import (
        portable_hash,
    )
    from evidence_datasource_parsers_spark.functions.html import strip_html
    from evidence_datasource_parsers_spark.functions.urls import (
        canonicalize_url,
    )

    textual = recs.where(
        F.col("http_status").between(200, 299)
        & (
            F.col("http_content_type").startswith("text/")
            | F.col("http_content_type").isNull()
        )
    )
    if charset == "sniff":
        from evidence_datasource_parsers_spark.functions.charset import (
            decode_text_frame,
        )

        textual = decode_text_frame(
            textual.select(
                "record_id", "url", "warc_date", "http_content_type",
                "payload",
            ),
            "payload",
            "http_content_type",
            text_col="__body_text",
        )
        body = F.col("__body_text")
        extra = ["charset", "charset_source"]
    elif charset == "utf8":
        body = F.col("payload").cast("string")
        extra = []
    else:
        raise ValueError(
            f"charset must be 'utf8' or 'sniff', got {charset!r}"
        )
    base = textual.select(
        portable_hash(F.col("record_id")).alias("doc_id"),
        canonicalize_url(F.col("url")).alias("url"),
        # ISO-8601 WARC-Date → the crawl timestamp temporal_split consumes
        F.to_timestamp(
            F.regexp_replace(F.col("warc_date"), "Z$", "+00:00")
        ).alias("crawl_ts"),
        F.col("http_content_type").startswith("text/html").alias("__html"),
        body.alias("__body"),
        *extra,
    )
    if not main_content:
        docs = base.select(
            "doc_id", "url", "crawl_ts",
            F.when(F.col("__html"), strip_html(F.col("__body")))
            .otherwise(F.col("__body"))
            .alias("text"),
            *extra,
        )
    else:
        from evidence_datasource_parsers_spark.functions.html import (
            extract_main_text_frame,
        )

        main = extract_main_text_frame(
            base.where(F.col("__html")), "__body", "doc_id"
        )
        docs = base.join(main, on="doc_id", how="left").select(
            "doc_id", "url", "crawl_ts",
            F.when(F.col("__html"), F.col("main_text"))
            .otherwise(F.col("__body"))
            .alias("text"),
            "title", "n_blocks_kept", "n_blocks_total",
            *extra,
        )
    if not include_pdf:
        return docs
    from evidence_datasource_parsers_spark.functions.pdf import (
        pdf_text_frame,
    )

    pdfs = recs.where(
        F.col("http_status").between(200, 299)
        & F.col("http_content_type").startswith("application/pdf")
    ).select("record_id", "url", "warc_date", "payload")
    pdf_docs = pdf_text_frame(pdfs, "payload", text_col="__pdf_text").select(
        portable_hash(F.col("record_id")).alias("doc_id"),
        canonicalize_url(F.col("url")).alias("url"),
        F.to_timestamp(
            F.regexp_replace(F.col("warc_date"), "Z$", "+00:00")
        ).alias("crawl_ts"),
        F.col("__pdf_text").alias("text"),
        *([F.col("pdf_title").alias("title")] if main_content else []),
    )
    return docs.unionByName(pdf_docs, allowMissingColumns=True)


def warc_media(
    spark: SparkSession,
    path: str,
    max_payload: int = 100 * 1024 * 1024,
    decode_stats: bool = True,
    content_prefix: str = "image/",
    decode_hook=None,
) -> DataFrame:
    """WARC directory → the multimodal media shape: one row per successful
    (2xx) ``image/*`` response — (media_id, url, crawl_ts, content_type,
    blob) — optionally joined with REAL decoded-pixel statistics.

    ``content_prefix`` selects the modality: ``"image/"`` (default, stats
    from :func:`multimodal.decoded_image_stats`), ``"audio/"``
    (:func:`multimodal.audio_features` — duration/RMS/ZCR/dominant-Hz
    for PCM-WAV payloads — coalesced with the
    :func:`multimodal.audio_meta_frame` container tier, so MP3/FLAC/OGG
    payloads still get rate/channels/duration plus ``audio_format`` and
    FLAC's ``pcm_md5``; only the sample-derived columns stay NULL), or
    ``"video/"`` (:func:`multimodal.video_meta_frame` — n_frames/fps/
    dims for MJPEG-AVI and ISO-BMFF/MP4 containers, NULL rows
    otherwise).  Any other prefix returns blob rows only.

    This closes the crawl→multimodal loop the way ``warc_documents``
    closes crawl→text: the same archives a text pipeline ingests carry the
    corpus's images, and with the native JPEG (baseline + progressive) /
    PNG / BMP decoders (operators/multimodal.py, functions/jpeg.py) the
    decode column is real — undecodable or unsupported variants (palette
    PNG, arithmetic JPEG) surface as NULL stats rows to route to a
    PIL-backed kernel, never as task failures.

    ``media_id`` is the portable 60-bit hash of the WARC record id —
    identical ids on re-parse, same contract as ``warc_documents``.

    Scale shape: per-file parallelism from the WARC scan; the decode pass
    is one narrow Arrow mapInPandas over (id, blob) — no shuffle; join
    back to the metadata is id-equi (AQE broadcasts the stats side when
    small).  Set ``decode_stats=False`` to get just the blob rows (e.g.
    to feed ``resize_images`` or an external embedding model).

    ``decode_hook`` (multimodal.decode_blob contract: top-level
    ``(bytes) -> dict | None``, None defers to the stdlib decoders)
    extends the stats column to codecs the sandbox cannot parse —
    a PIL/ffmpeg deployment passes one hook here and MP4/WebP/MP3
    responses get real stats rows instead of NULLs, same schema.
    """
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.functions.hashing import (
        portable_hash,
    )
    from evidence_datasource_parsers_spark.functions.urls import (
        canonicalize_url,
    )

    recs = read_warc(
        spark, path, responses_only=True, max_payload=max_payload
    )
    media = recs.where(
        F.col("http_status").between(200, 299)
        & F.col("http_content_type").startswith(content_prefix)
    ).select(
        portable_hash(F.col("record_id")).alias("media_id"),
        canonicalize_url(F.col("url")).alias("url"),
        F.to_timestamp(
            F.regexp_replace(F.col("warc_date"), "Z$", "+00:00")
        ).alias("crawl_ts"),
        F.col("http_content_type").alias("content_type"),
        F.col("payload").alias("blob"),
    )
    if not decode_stats:
        return media
    if content_prefix == "audio/":
        from evidence_datasource_parsers_spark.operators.multimodal import (
            audio_features,
            audio_meta_frame,
        )

        stats = audio_features(
            media, "blob", "media_id", decode_hook=decode_hook
        )
        # container tier (functions/audiometa.py): rate/channels/duration
        # for the compressed codecs (MP3/FLAC/OGG) the sample decoder
        # reports NULL on, plus format and FLAC's PCM MD5.  The decoded
        # values win the coalesce; the meta walk is headers-only cost.
        meta = audio_meta_frame(media, "blob", "media_id").select(
            "media_id",
            F.col("format").alias("audio_format"),
            F.col("sample_rate").alias("__m_sr"),
            F.col("channels").alias("__m_ch"),
            F.col("duration_s").alias("__m_dur"),
            "pcm_md5",
        )
        stats = stats.join(meta, on="media_id", how="left").select(
            "media_id",
            F.coalesce("sample_rate", "__m_sr").alias("sample_rate"),
            F.coalesce("channels", "__m_ch").alias("channels"),
            "n_frames",
            F.coalesce("duration_s", "__m_dur").alias("duration_s"),
            "rms", "zero_crossing_rate", "dominant_hz",
            "audio_format", "pcm_md5",
        )
        return media.join(stats, on="media_id", how="left")
    if content_prefix == "video/":
        from evidence_datasource_parsers_spark.operators.multimodal import (
            video_meta_frame,
        )

        stats = video_meta_frame(
            media, "blob", "media_id", decode_hook=decode_hook
        )
        return media.join(stats, on="media_id", how="left")
    if content_prefix != "image/":
        return media  # no native stats kernel for this modality
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decoded_image_stats,
    )

    stats = decoded_image_stats(
        media, "blob", "media_id", decode_hook=decode_hook
    )
    return media.join(stats, on="media_id", how="left")
