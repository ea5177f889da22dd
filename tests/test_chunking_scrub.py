"""Document chunking windows and PII scrubbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.chunking import chunk_documents


def test_chunk_windows_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_tokens=4, overlap=1).collect(),
        key=lambda r: r.chunk_idx,
    )
    texts = [r.chunk_text.split(" ") for r in rows]
    # step = 3: windows start at t0, t3, t6 — the last covers through t9
    assert texts[0] == ["t0", "t1", "t2", "t3"]
    assert texts[1] == ["t3", "t4", "t5", "t6"]
    assert texts[2] == ["t6", "t7", "t8", "t9"]
    assert len(texts) == 3  # no spurious tail window past the end
    # consecutive windows share exactly `overlap` tokens
    for a, b in zip(texts, texts[1:]):
        assert a[-1:] == b[:1]
    assert [r.chunk_token_count for r in rows] == [4, 4, 4]


def test_chunk_short_null_and_validation(spark):
    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=128, overlap=16)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 3  # no document disappears
    assert rows[1].chunk_token_count == 3
    assert rows[2].chunk_token_count == 0 and rows[2].chunk_text == ""
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_chunks_cover_corpus_tokens(spark, sf_dir):
    """Every document's token count is recoverable from its chunks:
    sum(chunk tokens) - rewound overlaps == original tokens."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    ct, ov = 64, 8
    chunks = chunk_documents(docs, chunk_tokens=ct, overlap=ov)
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("chunk_token_count").alias("chunk_sum"),
        F.count("*").alias("n_chunks"),
    )
    orig = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    bad = (
        per_doc.join(orig, "doc_id")
        .where(
            F.col("chunk_sum") - (F.col("n_chunks") - 1) * ov
            != F.col("n_tokens")
        )
        .count()
    )
    assert bad == 0


def test_scrub_pii_and_counts(spark):
    from evidence_datasource_parsers_spark.functions.textstats import (
        pii_counts,
        scrub_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.user+tag@example.co.uk or call +1 (415) 555-0199 now"),
            (2, "server 10.0.12.7 leaked ssn 123-45-6789"),
            (3, "nothing sensitive here, just 7 words"),
        ],
        "id long, text string",
    )
    out = {
        r.id: r
        for r in df.select(
            "id",
            scrub_pii("text").alias("clean"),
            pii_counts("text").alias("counts"),
        ).collect()
    }
    assert "<EMAIL>" in out[1].clean and "example.co.uk" not in out[1].clean
    assert "<PHONE>" in out[1].clean and "555-0199" not in out[1].clean
    assert out[1].counts["email"] == 1 and out[1].counts["phone"] == 1
    assert "<IPV4>" in out[2].clean and "<SSN>" in out[2].clean
    assert out[3].clean == "nothing sensitive here, just 7 words"
    assert all(v == 0 for v in out[3].counts.values())


def test_duplicate_line_fraction(spark):
    from evidence_datasource_parsers_spark.functions.textstats import (
        duplicate_line_fraction,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "cookie banner\nreal content here\ncookie banner"),
            (2, "a\nb\nc"),
            (3, ""),
            (4, "same\nsame\nsame"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", duplicate_line_fraction(F.col("text")).alias("f")
        ).collect()
    }
    # doc 1: 'cookie banner' ×2 = 26 dup chars of 43 line chars
    assert got[1] == pytest.approx(26 / 43)
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] == 1.0


def test_top_ngram_char_fraction_and_signals(spark):
    from evidence_datasource_parsers_spark.functions.textstats import (
        repetition_signals,
        top_ngram_char_fraction,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now"),       # 'buy now' ×3 → 21/23
            (2, "all words here are distinct"),
            (3, "one"),                            # fewer than n tokens
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", top_ngram_char_fraction(F.col("text"), 2).alias("f")
        ).collect()
    }
    assert got[1] == pytest.approx(21 / 23)
    assert got[2] < 0.5
    assert got[3] == 0.0

    out = repetition_signals(df).collect()
    cols = set(out[0].asDict())
    assert {"dup_line_frac", "top_2gram_frac"} <= cols


def test_scrub_pii_preserves_dates_and_timestamps(spark):
    """The phone pattern must not swallow date/timestamp shapes — dates are
    training signal, not PII (the loose digit-run pattern matched
    '2024-01-01 16:30' before the tightened E.164-bounded regex)."""
    from evidence_datasource_parsers_spark.functions.textstats import scrub_pii
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "meeting on 2024-01-01 16:30 in room 4"),
            (2, "logged at 2023-12-31T23:59:59 by job 17"),
            (3, "call me at +1 (415) 555-2671 tomorrow"),
            (4, "phone 4155552671 or 041 555 26 71"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.clean
        for r in df.select(
            "doc_id", scrub_pii("text").alias("clean")
        ).collect()
    }
    assert got[1] == "meeting on 2024-01-01 16:30 in room 4"
    assert got[2] == "logged at 2023-12-31T23:59:59 by job 17"
    assert "<PHONE>" in got[3] and "555" not in got[3]
    assert "<PHONE>" in got[4]


def test_duplicate_line_fraction_literal_separator(spark):
    """sep is a literal string, not a regex: '|' must not split on every
    character."""
    from evidence_datasource_parsers_spark.functions.textstats import (
        duplicate_line_fraction,
    )

    df = spark.createDataFrame(
        [(1, "alpha|beta|alpha"), (2, "no separators here")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id",
            duplicate_line_fraction(F.col("text"), sep="|").alias("f"),
        ).collect()
    }
    assert got[1] == pytest.approx(10 / 14)  # 'alpha' x2 of 14 chars
    assert got[2] == 0.0


def test_compression_ratio_signal(spark):
    from evidence_datasource_parsers_spark.functions.textstats import (
        compression_ratio,
    )

    prose = (
        "The committee reviewed seventeen distinct proposals before "
        "selecting a winner, citing methodology, novelty, and rigor."
    ) * 3
    spam = "buy now " * 60
    df = spark.createDataFrame(
        [(1, prose), (2, spam), (3, None), (4, "")],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.cr for r in df.select(
        "doc_id", compression_ratio("text").alias("cr")).collect()}
    assert got[2] < got[1] < 1.0  # spam compresses much further
    assert got[2] < 0.2
    assert got[3] is None and got[4] is None
