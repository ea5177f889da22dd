"""Append-only store advance (the round-8 verdict's item 4): every
hash-family incremental operator exposes ``delta`` — the batch's disjoint
store contribution — and persisting by APPENDING the delta is equivalent
to rewriting the unioned store, at O(batch) instead of O(store) I/O.

Also covers the refreshByPath hazard the discipline must respect: a
commit to the store path invalidates dependent plans, so consumers
checkpoint ``fresh``/``ready`` BEFORE appending the delta."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_delta_append_advance_equivalence(spark, tmp_path):
    """Two rounds through an on-disk store advanced by appending deltas:
    decisions match the in-plan store, and round 1's files survive
    untouched."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_exact_dedupe,
    )

    store_dir = str(tmp_path / "store")
    r1 = incremental_exact_dedupe(
        _docs(spark, [(1, "alpha"), (2, "beta")]), None, "text", "doc_id"
    )
    fresh1 = r1.fresh.localCheckpoint(eager=True)
    r1.delta.write.mode("append").parquet(store_dir)
    r1.fresh.unpersist()
    assert {r.doc_id for r in fresh1.collect()} == {1, 2}
    before = {
        f: os.path.getmtime(os.path.join(store_dir, f))
        for f in os.listdir(store_dir) if f.endswith(".parquet")
    }

    store = spark.read.parquet(store_dir)
    r2 = incremental_exact_dedupe(
        _docs(spark, [(10, "alpha"), (11, "gamma")]), store, "text", "doc_id"
    )
    fresh2 = r2.fresh.localCheckpoint(eager=True)
    r2.delta.write.mode("append").parquet(store_dir)
    r2.fresh.unpersist()
    assert {r.doc_id for r in fresh2.collect()} == {11}
    after = {
        f: os.path.getmtime(os.path.join(store_dir, f))
        for f in os.listdir(store_dir) if f.endswith(".parquet")
    }
    for f, mtime in before.items():
        assert after[f] == mtime  # history untouched
    # the advanced dir equals the in-plan store view
    assert spark.read.parquet(store_dir).count() == 3
    r3 = incremental_exact_dedupe(
        _docs(spark, [(20, "gamma"), (21, "delta")]),
        spark.read.parquet(store_dir), "text", "doc_id",
    )
    assert {r.doc_id for r in r3.fresh.collect()} == {21}
    r3.fresh.unpersist()


def test_lsh_delta_is_disjoint_store_complement(spark):
    """store == carried ∪ delta with the two sides disjoint (the
    precondition that makes append-only advance exact)."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_lsh_dedupe, lsh_fingerprints,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    carried = lsh_fingerprints(
        _docs(spark, [(1, base), (2, "completely different body here")]),
        "text", "doc_id",
    ).localCheckpoint(eager=True)
    res = incremental_lsh_dedupe(
        _docs(spark, [(10, base.replace("lazy", "sleepy")),
                      (11, "an unrelated brand new document entirely")]),
        carried, "text", "doc_id", threshold=0.3,
    )
    rows = lambda df: {  # noqa: E731  (sig is an array → tuple it)
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }
    d, c, s = rows(res.delta), rows(carried), rows(res.store)
    assert d and not (d & c)
    assert d | c == s
    # the near-dup (10) was dropped, so only 11's fingerprints advance
    assert {r["doc_id"] for r in res.delta.collect()} == {11}
    res.pinned.unpersist()


def test_append_bucketed_store_advance(spark, tmp_path):
    """Bucketed store advance: append keeps the bucket layout (probe join
    shuffles ONLY the probe side) and the history files untouched."""
    from evidence_datasource_parsers_spark.sources.sinks import (
        append_bucketed_store,
        read_bucketed_store,
        write_bucketed_store,
    )

    path = str(tmp_path / "bkt")
    table = "t_store_advance_bkt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = spark.range(1000).select(F.col("id").alias("k"))
    write_bucketed_store(base, path, table, ["k"], 8)
    before = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    delta = spark.range(1000, 1100).select(F.col("id").alias("k"))
    append_bucketed_store(delta, table, ["k"], 8)
    after = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    for f, mtime in before.items():
        assert after[f] == mtime
    assert len(after) > len(before)
    store = read_bucketed_store(spark, table)
    assert store.count() == 1100
    probe = spark.range(1050, 1060).select(F.col("id").alias("k"))
    plan = (
        store.join(probe, on="k", how="left_semi")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one Exchange: the probe shuffles into the store's bucket layout;
    # the appended store is still read in place
    assert plan.count("Exchange") == 1
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_exact_store_delta_matches_store(spark):
    """incremental_exact_dedupe's delta is the store's complement of the
    carried rows: carried ∪ delta == store, and a re-crawl adds nothing."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_exact_dedupe,
    )

    b1 = _docs(spark, [(1, "a long enough real document body here")])
    r1 = incremental_exact_dedupe(b1, None, "text", "doc_id")
    carried = r1.delta.localCheckpoint(eager=True)
    b2 = _docs(
        spark,
        [(10, "a long enough real document body here"),  # re-crawl
         (11, "x")],
    )
    r2 = incremental_exact_dedupe(b2, carried, "text", "doc_id")
    rows = lambda df: sorted(r[0] for r in df.collect())  # noqa: E731
    assert rows(carried) + rows(r2.delta) == rows(r2.store)
    assert [r.doc_id for r in r2.fresh.select("doc_id").collect()] == [11]
    assert len(rows(r2.delta)) == 1


def test_span_delta_append_advance_equivalence(spark, tmp_path):
    """The gram store is append-only too: three batches advanced by
    appending deltas to a dir clean documents exactly as carrying the
    in-plan merged store would, and saturated grams stop contributing
    delta rows."""
    from evidence_datasource_parsers_spark.operators.span_dedup import (
        incremental_span_dedupe,
    )

    shared = "s1 s2 s3 s4"
    batches = [
        _docs(spark, [(1, f"f1 f2 f3 f4 f5 {shared}")]),
        _docs(spark, [(2, f"{shared} g1 g2 g3 g4 g5")]),
        _docs(spark, [(3, f"h1 h2 h3 h4 {shared} h5 h6 h7 h8")]),
    ]
    store_dir = str(tmp_path / "grams")

    # path A: on-disk append-only advance
    disk_cleaned = []
    for b in batches:
        carried = (
            spark.read.parquet(store_dir)
            if os.path.exists(store_dir) else None
        )
        res = incremental_span_dedupe(b, carried, min_tokens=4)
        disk_cleaned.append(
            {(r["doc_id"], r["clean_text"], r["n_removed_tokens"])
             for r in res.cleaned.collect()}
        )
        res.delta.write.mode("append").parquet(store_dir)
        res.pinned.unpersist()

    # path B: in-plan carried store (the pre-round-9 usage)
    mem_cleaned, carried = [], None
    for b in batches:
        res = incremental_span_dedupe(b, carried, min_tokens=4)
        mem_cleaned.append(
            {(r["doc_id"], r["clean_text"], r["n_removed_tokens"])
             for r in res.cleaned.collect()}
        )
        carried = res.store.localCheckpoint(eager=True)
        res.pinned.unpersist()

    assert disk_cleaned == mem_cleaned
    # batch 1 saw the span once (unique), batches 2 and 3 excise it
    assert all(n == 0 for _, _, n in disk_cleaned[0])
    assert all(n == 4 for _, _, n in disk_cleaned[1])
    assert all(n == 4 for _, _, n in disk_cleaned[2])

    # saturation bounds the history: the SHARED grams (present in both
    # batch 1 and batch 2) reached the threshold in batch 2, so batch 3
    # appended NO rows for them — grams unique to one batch don't count
    store = spark.read.parquet(store_dir)
    gram_sets = []
    for b in batches[:2]:
        r = incremental_span_dedupe(b, None, min_tokens=4)
        gram_sets.append({x["gram_hash"] for x in r.delta.collect()})
        r.pinned.unpersist()
    shared_hashes = gram_sets[0] & gram_sets[1]
    assert shared_hashes  # the s1..s4 gram at minimum
    per_gram = {
        r["gram_hash"]: r["cnt"]
        for r in store.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert all(per_gram[h] == 2 for h in shared_hashes)  # b1 + b2 only


def test_bucketed_writes_emit_one_file_per_bucket(spark, tmp_path):
    """r14 small-files fix (guide §6): a bucketed write emits one file per
    (task, bucket), so without the sink-side repartition a P-partition
    frame lands as up to P×n_buckets files per write — 2048 for a default
    local session.  Both the initial write and each append must emit at
    most n_buckets part files."""
    import os

    from evidence_datasource_parsers_spark.sources.sinks import (
        append_bucketed_store,
        write_bucketed_store,
    )

    sd = str(tmp_path / "store")
    table = "t_onefile_per_bucket"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = spark.range(0, 1000).repartition(8).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_bucketed_store(base, sd, table, ["k"], 4)

    def parts():
        return sum(
            len([x for x in files if x.startswith("part-")])
            for _, _, files in os.walk(sd)
        )

    assert parts() <= 4
    delta = spark.range(1000, 2000).repartition(8).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    n0 = parts()
    append_bucketed_store(delta, table, ["k"], 4)
    assert parts() - n0 <= 4
    # rows all present after the layout-shaping repartition
    assert spark.table(table).count() == 2000
    spark.sql(f"DROP TABLE IF EXISTS {table}")
