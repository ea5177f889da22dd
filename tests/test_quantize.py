"""int8 embedding quantization: round-trip error bound, zero-vector edge,
schema compactness, and top-k recall surviving the round trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.quantize import (
    dequantize_embeddings,
    quantize_embeddings,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_roundtrip_error_bound(spark, sf_dir):
    e = quantize_embeddings(_emb(spark, sf_dir))
    d = dequantize_embeddings(e, out_col="deq")
    # per-component |x - x̂| <= scale/2 = max|x|/254 (+ float32 rounding slack)
    worst = d.select(
        F.max(
            F.array_max(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    F.col("deq").cast("array<double>"),
                    lambda a, b: F.abs(a - b)
                    / (F.array_max(F.transform(F.col("embedding").cast("array<double>"), F.abs)) / 254.0 + 1e-12),
                )
            )
        ).alias("ratio")
    ).collect()[0]["ratio"]
    assert worst <= 1.001, worst


def test_schema_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = quantize_embeddings(df)
    assert dict(q.dtypes)["q_embedding"] == "array<tinyint>"
    assert dict(q.dtypes)["q_scale"] == "float"
    rows = {r.vec_id: r for r in q.collect()}
    assert rows[1].q_embedding == [64, -127, 32]  # 0.5/(1/127)≈63.5→64
    assert rows[2].q_embedding == [0, 0, 0] and rows[2].q_scale == 0.0
    deq = {r.vec_id: r.emb2 for r in
           dequantize_embeddings(q, out_col="emb2").collect()}
    assert deq[2] == [0.0, 0.0, 0.0]


def test_topk_recall_survives_quantization(spark, sf_dir):
    from evidence_datasource_parsers_spark.operators.similarity import (
        brute_force_topk,
    )

    e = _emb(spark, sf_dir)
    deq = dequantize_embeddings(quantize_embeddings(e), out_col="embedding_q")
    def topk(vec_col):
        q = deq.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col(vec_col).alias("embedding")
        )
        c = deq.select(
            F.col("vec_id").alias("neighbor_id"), F.col(vec_col).alias("embedding")
        )
        return {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(q, c, k=5).collect()
        }
    exact, quant = topk("embedding"), topk("embedding_q")
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"int8 round trip lost too much recall: {recall}"


def test_incremental_embedding_dedupe_quantized_store(spark):
    """The int8 store drops the same re-ingests the float store does, old
    store rows never drift (quantized exactly once), and the store schema
    is the 8x-lighter int8 layout."""
    from evidence_datasource_parsers_spark.operators.quantize import (
        incremental_embedding_dedupe_quantized,
    )

    dim = 8
    base = [1.0, 0.5, -0.25, 2.0, 0.0, 1.5, -1.0, 0.75]
    near = [v * 1.001 + (0.001 if i == 0 else 0) for i, v in enumerate(base)]
    ortho = [-0.5, 1.0, 2.0, 0.25, -1.5, 0.0, 1.0, -0.75]
    b1 = spark.createDataFrame(
        [(1, base), (2, ortho)], "vec_id long, v array<double>"
    )
    r1 = incremental_embedding_dedupe_quantized(
        b1, None, "v", "vec_id", dim=dim
    )
    store1 = r1.store.localCheckpoint(eager=True)
    r1.pinned.unpersist()
    assert set(store1.columns) == {"vec_id", "q_embedding", "q_scale"}
    assert store1.schema["q_embedding"].dataType.elementType.typeName() == "byte"

    b2 = spark.createDataFrame(
        [(10, near), (11, [0.1, -2.0, 0.3, 0.0, 1.1, -0.4, 0.9, 2.2])],
        "vec_id long, v array<double>",
    )
    r2 = incremental_embedding_dedupe_quantized(
        b2, store1, "v", "vec_id", dim=dim
    )
    assert {r.vec_id for r in r2.fresh.collect()} == {11}
    # old rows carried bit-identically — no quantize/dequantize drift
    old = {r.vec_id: (list(r.q_embedding), r.q_scale)
           for r in store1.collect()}
    new = {r.vec_id: (list(r.q_embedding), r.q_scale)
           for r in r2.store.collect()}
    assert set(new) == {1, 2, 11}
    for k, v in old.items():
        assert new[k] == v
    r2.pinned.unpersist()
