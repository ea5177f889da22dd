"""Document chunking windows."""

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
