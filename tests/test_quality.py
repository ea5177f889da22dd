"""Tests for the hashing-trick quality features (functions/quality.py)
and the stopword language guess (functions/textstats.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.quality import (
    WEIGHT_SCALE,
    placeholder_weight,
    token_bucket,
)


def test_weight_family_bounds_and_bucketing(spark):
    """Placeholder weights stay in [-WEIGHT_SCALE, WEIGHT_SCALE]; buckets
    stay in [0, n_buckets); both are deterministic across sessions."""
    df = spark.range(2048).select(
        F.col("id"),
        placeholder_weight(F.col("id")).alias("w"),
        token_bucket(F.col("id").cast("string"), 4096).alias("b"),
    )
    rows = df.collect()
    assert all(-WEIGHT_SCALE <= r.w <= WEIGHT_SCALE for r in rows)
    assert all(0 <= r.b < 4096 for r in rows)
    again = {r.id: (r.w, r.b) for r in df.collect()}
    assert {r.id: (r.w, r.b) for r in rows} == again


def test_lang_guess_six_languages(spark):
    from evidence_datasource_parsers_spark.functions.textstats import (
        lang_guess,
    )

    df = spark.createDataFrame(
        [
            (1, "il problema che non funziona per niente"),
            (2, "uma casa com os amigos que vieram para jantar"),
            (3, "the cat and the dog of a friend"),
        ],
        "i int, text string",
    )
    got = {r.i: r.g for r in
           df.select("i", lang_guess("text").alias("g")).collect()}
    assert got == {1: "it", 2: "pt", 3: "en"}
