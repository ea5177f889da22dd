"""Multi-stage training-data pipelines over the real documents table:
the incremental lexical refresh, the pretokenization half (BPE → chunk →
shard) and the embedding-side refresh loop — every stage a repo operator,
chained on one DataFrame lineage.

The assertions check the contracts BETWEEN stages (ids survive, text only
shrinks, shards are topology-free) rather than any single operator's
internals.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.chunking import chunk_documents


def test_incremental_refresh_pipeline(spark, sf_dir):
    """The batch-refresh twin of the at-rest pipeline: run 1 ingests half
    the corpus and persists the lexical fingerprint store; run 2 ingests
    the other half (which the synthetic corpus seeds with exact and near
    duplicates of run 1's docs), and only genuinely-new content flows
    through splitting → sharding.  Contracts checked BETWEEN
    stages: drops actually happen, survivors are a subset of the batch,
    the store grows by exactly the survivors, re-runs are deterministic,
    and the final shard assignment is topology-free."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_lsh_dedupe,
        lsh_fingerprints,
    )
    from evidence_datasource_parsers_spark.operators.sampling import (
        split_assign,
    )
    from evidence_datasource_parsers_spark.operators.sharding import (
        assign_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    # run 1: first ingest — everything is fresh, store = its fingerprints
    r1 = incremental_lsh_dedupe(b1, None, "text", "doc_id", mode="word", k=3)
    n_b1_distinct = r1.fresh.count()
    store = r1.store.localCheckpoint(eager=True)  # "persisted" between runs
    r1.pinned.unpersist()
    assert store.select("doc_id").distinct().count() == n_b1_distinct

    # run 2: refresh batch — re-crawls must be dropped against the STORE
    r2 = incremental_lsh_dedupe(b2, store, "text", "doc_id", mode="word", k=3)
    fresh_ids = {r.doc_id for r in r2.fresh.select("doc_id").collect()}
    b2_ids = {r.doc_id for r in b2.select("doc_id").collect()}
    assert fresh_ids <= b2_ids
    assert len(fresh_ids) < len(b2_ids), "corpus seeds cross-parity dups"
    # store grew by exactly the surviving docs
    assert (
        r2.store.select("doc_id").distinct().count()
        == n_b1_distinct + len(fresh_ids)
    )
    # determinism: an identical re-run computes the identical fresh set
    r2b = incremental_lsh_dedupe(b2, store, "text", "doc_id", mode="word", k=3)
    assert {r.doc_id for r in r2b.fresh.select("doc_id").collect()} == fresh_ids
    r2b.pinned.unpersist()

    # downstream: split leakage-safely, shard deterministically
    fresh = r2.fresh
    split = split_assign(fresh, "doc_id", {"train": 0.9, "val": 0.1})
    sharded = assign_shards(split, "doc_id", 4)
    rows = {
        r.doc_id: (r.split, r.shard, r.shard_pos) for r in sharded.collect()
    }
    assert set(rows) == fresh_ids
    again = {
        r.doc_id: (r.split, r.shard, r.shard_pos)
        for r in assign_shards(
            split_assign(
                fresh.repartition(7), "doc_id", {"train": 0.9, "val": 0.1}
            ),
            "doc_id",
            4,
        ).collect()
    }
    assert again == rows  # end-to-end topology-free
    r2.pinned.unpersist()

    # the incremental path and a from-scratch at-rest pass agree on content:
    # every fresh doc's fingerprint is genuinely absent from run 1's store
    fp2 = lsh_fingerprints(
        r2.fresh, "text", "doc_id", mode="word", k=3
    )
    overlap = fp2.select("content_hash").join(
        store.select("content_hash"), on="content_hash", how="left_semi"
    )
    assert overlap.count() == 0


def test_pretokenization_pipeline(spark, sf_dir):
    """BPE learn → apply/count → chunk → shard: the tokenizer-aware half of
    a training-data pipeline, contracts asserted between stages."""
    from evidence_datasource_parsers_spark.functions.bpe import (
        apply_bpe,
        bpe_token_count,
        learn_bpe_merges,
    )
    from evidence_datasource_parsers_spark.operators.sharding import (
        assign_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    n0 = docs.count()

    # 1. learn a small merge table on the corpus itself
    merges = learn_bpe_merges(docs, "text", n_merges=64)
    assert len(merges) == 64
    bc = spark.sparkContext.broadcast(merges)

    # 2. tokenize: counts must equal the applied token arrays' sizes and
    # reconstruct the original words
    tk = docs.select(
        "doc_id",
        apply_bpe(bc, "text").alias("toks"),
        bpe_token_count(bc, "text").alias("n_tok"),
    )
    bad = tk.where(F.size("toks") != F.col("n_tok")).count()
    assert bad == 0
    sample = tk.orderBy("doc_id").first()
    joined = "".join(sample.toks).replace("</w>", " ").strip()
    orig = docs.orderBy("doc_id").first().text
    assert joined.split() == orig.split()

    # 3. chunk to fixed windows; every doc survives
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=8)
    assert chunks.select("doc_id").distinct().count() == n0

    # 4. deterministic shards over chunk keys
    keyed = chunks.withColumn(
        "chunk_key",
        F.concat_ws(":", F.col("doc_id"), F.col("chunk_idx")),
    )
    sh = assign_shards(keyed, "chunk_key", num_shards=8)
    assert sh.count() == chunks.count()
    a = sorted((r.chunk_key, r.shard, r.shard_pos)
               for r in sh.collect())
    b = sorted((r.chunk_key, r.shard, r.shard_pos)
               for r in assign_shards(
                   keyed.repartition(13), "chunk_key", num_shards=8
               ).collect())
    assert a == b


def test_semantic_refresh_pipeline(spark, sf_dir):
    """The embedding-side refresh loop end-to-end: run 1 ingests half the
    vectors into an int8 store + an IVF index; run 2's batch (seeded with
    near-identical re-embeds of run-1 vectors) dedups against the
    DEQUANTIZED store, and survivors append to the maintained index —
    contracts asserted between stages."""
    from pyspark.sql import functions as F2

    from evidence_datasource_parsers_spark.operators.ivf import (
        assign_cells,
        deterministic_centroids,
    )
    from evidence_datasource_parsers_spark.operators.quantize import (
        incremental_embedding_dedupe_quantized,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F2.col("embedding").cast("array<double>").alias("embedding")
    )
    dim = len(emb.first().embedding)
    b1 = emb.where(F2.col("vec_id") % 2 == 0)
    # batch 2: genuinely-new odd vectors + EXACT re-embeds of three stored
    # ones under new ids (the re-ingest the store must absorb)
    redo = b1.limit(3).select(
        (F2.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    b2 = emb.where(F2.col("vec_id") % 2 == 1).unionByName(redo)

    r1 = incremental_embedding_dedupe_quantized(
        b1, None, "embedding", "vec_id", dim=dim, threshold=0.98
    )
    n1 = r1.fresh.count()
    store = r1.store.localCheckpoint(eager=True)
    r1.pinned.unpersist()
    assert store.columns == ["vec_id", "q_embedding", "q_scale"]
    assert store.count() == n1

    r2 = incremental_embedding_dedupe_quantized(
        b2, store, "embedding", "vec_id", dim=dim, threshold=0.98
    )
    fresh_ids = {r.vec_id for r in r2.fresh.select("vec_id").collect()}
    assert all(i < 1_000_000 for i in fresh_ids), "re-embeds must drop"
    assert fresh_ids, "genuinely new vectors must survive"
    r2.pinned.unpersist()

    # maintained IVF index: run-1 vectors indexed, survivors appended
    cents = deterministic_centroids(dim, 8)
    idx = assign_cells(b1, cents)
    idx2 = idx.unionByName(
        assign_cells(r2.fresh.select("vec_id", "embedding"), cents)
    )
    assert idx2.count() == n1 + len(fresh_ids)
