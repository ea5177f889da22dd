"""Sink operators K1-K2 (SURVEY §2.2).

The reference's output contract is ONE gzipped JSON-lines file per pipeline
(``common/evidence.py:66-80``): coalesce(1) → write → assert single part →
rename.  That deliberate anti-parallelism is kept *opt-in here*: at 100 TB the
default sink writes partitioned output and the single-file contract is only
applied to the (small) final evidence sets that need it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame


def write_evidence_strings(
    df: DataFrame, out_path: str, single_file: bool = True
) -> None:
    """Gzipped JSON-lines evidence sink (K1).

    single_file=True reproduces the reference contract exactly: one part file,
    renamed to *out_path*.  single_file=False keeps the write parallel and
    *out_path* becomes a directory of gzipped parts (the scale path).
    """
    tmp = out_path + ".spark-tmp" if single_file else out_path
    writer = df.coalesce(1) if single_file else df
    (
        writer.write.format("json")
        .mode("overwrite")
        .option("compression", "org.apache.hadoop.io.compress.GzipCodec")
        .save(tmp)
    )
    if single_file:
        parts = glob.glob(os.path.join(tmp, "part-*.json.gz"))
        assert len(parts) == 1, f"expected exactly 1 part file, got {parts}"
        shutil.move(parts[0], out_path)
        shutil.rmtree(tmp)


def write_output(df: DataFrame, out_path: str, fmt: str | None = None) -> None:
    """Generic extension-dispatched writer (K2), parity with
    ``modules/BrainCRISPR.py:310-317``."""
    if fmt is None:
        fmt = (
            "parquet"
            if out_path.endswith(".parquet")
            else "orc" if out_path.endswith(".orc") else "json"
        )
    df.write.mode("overwrite").format(fmt).save(out_path)


def write_partitioned(
    df: DataFrame,
    out_path: str,
    partition_by: list[str],
    fmt: str = "parquet",
    buckets: tuple[int, list[str], str] | None = None,
) -> None:
    """The 100 TB sink: hive-partitioned (and optionally bucketed) output.

    ``partition_by`` columns become directory partitions (partition pruning
    on read); ``buckets=(n, cols, table_name)`` additionally bucket-sorts so
    downstream joins/aggs on those columns are shuffle-free.  Bucketing
    requires a table (saveAsTable) — Spark's bucket metadata lives in the
    catalog, not the files.
    """
    if buckets is None:
        df.write.mode("overwrite").format(fmt).partitionBy(*partition_by).save(
            out_path
        )
    else:
        n, cols, table = buckets
        (
            df.write.mode("overwrite")
            .format(fmt)
            .partitionBy(*partition_by)
            .bucketBy(n, *cols)
            .sortBy(*cols)
            .option("path", out_path)
            .saveAsTable(table)
        )


def corpus_checksum(df: DataFrame) -> dict:
    """Order- and partitioning-insensitive content fingerprint of a frame:
    ``{rows, checksum, checksum_sum}`` — the bitwise XOR and the
    decimal-exact SUM (mod 2^60) of the portable 60-bit hash of every
    row's canonical form, folded in ONE aggregation.

    Both folds are commutative/associative, so the values are identical
    however the rows are partitioned, ordered, or recomputed.  The PAIR is
    the equality check: XOR alone cancels duplicate-row pairs ({A,B,B}
    ≡ {A,C,C}), but their hash SUMS differ — comparing both makes the
    fingerprint exact multiset equality up to 60-bit collisions, with no
    row-uniqueness precondition.

    Timestamp columns are canonicalized session-timezone-independently
    (absolute instants → epoch micros; NTZ/date wall-clocks → their
    string form), so the same data checksums identically across clusters
    with different ``spark.sql.session.timeZone`` — the cross-cluster
    comparison is the point of the manifest."""
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.functions.hashing import (
        portable_hash,
    )

    dts = dict(df.dtypes)

    def canon(name: str):
        dt = dts[name]
        if dt == "timestamp":  # absolute instant: TZ-free epoch micros
            return F.unix_micros(F.col(name)).alias(name)
        if dt in ("timestamp_ntz", "date"):  # wall-clock: TZ-free string
            return F.col(name).cast("string").alias(name)
        return F.col(name)

    row = portable_hash(
        F.to_json(F.struct(*[canon(c) for c in sorted(df.columns)]))
    )
    out = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(row).alias("cx"),  # bit_xor aggregate: Spark >= 3.2
        F.sum(row.cast("decimal(38,0)")).alias("cs"),  # exact to 38 digits
    ).collect()[0]
    return {
        "rows": out["rows"],
        "checksum": int(out["cx"] or 0),
        "checksum_sum": int(out["cs"] or 0) % (1 << 60),
    }


def write_with_manifest(
    df: DataFrame,
    out_path: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> dict:
    """Partitioned write + a ``_MANIFEST.json`` beside it recording row
    count, schema DDL, and the order-insensitive corpus checksum — the
    reproducibility contract of a training-data release: a re-run (or a
    migration to another cluster) produced the same dataset iff the
    manifests match."""
    import json

    # write + checksum are two actions over the same frame: persist around
    # them so the manifest describes the rows that were ACTUALLY written
    # even when the lineage is nondeterministic (same hazard the runner
    # guards for sink+validate)
    df.persist()
    try:
        write_partitioned(df, out_path, partition_by or [], fmt=fmt)
        manifest = {
            "format": fmt,
            "partition_by": partition_by or [],
            "schema": df.schema.simpleString(),
            **corpus_checksum(df),
        }
    finally:
        df.unpersist()
    # write through the Hadoop FileSystem API so out_path may be any
    # supported URI (s3a://, gs://, hdfs://) — a local open() would crash
    # AFTER the expensive data write on every non-local release path
    _write_text(
        df.sparkSession,
        out_path.rstrip("/") + "/_MANIFEST.json",
        json.dumps(manifest, indent=2, sort_keys=True),
    )
    return manifest


def _write_text(spark, path: str, content: str) -> None:
    """Small-text write via Hadoop FS (works for local paths AND object
    stores; driver-side, for manifest-sized payloads only)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


#: Sidecar recording a bucketed store's spec beside its files.  The
#: session catalog here is in-memory (no Hive metastore), so the bucket
#: METADATA — which is what makes the zero-Exchange store-side scan
#: possible — dies with the session while the files survive.  The sidecar
#: is the durable half: :func:`register_bucketed_store` re-attaches the
#: spec in a fresh session with one ``CREATE TABLE`` (no data I/O).
#: Underscore-prefixed so parquet listings ignore it, like ``_SUCCESS``.
BUCKET_SPEC_FILE = "_bucket_spec.json"


def read_bucket_spec(store_dir: str) -> dict | None:
    """The spec stamped by :func:`write_bucketed_store`, or None when the
    directory carries no sidecar (its files were not bucket-written, or
    predate the sidecar — treat them as plain parquet)."""
    p = os.path.join(store_dir, BUCKET_SPEC_FILE)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def schema_ddl(df: DataFrame) -> str:
    """Column-list DDL for ``CREATE TABLE`` — Spark refuses bucketing
    clauses without an explicit column list
    ([SPECIFY_BUCKETING_IS_NOT_ALLOWED]), so the spec must carry one."""
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def register_bucketed_store(spark, table: str, store_dir: str) -> None:
    """Re-attach an on-disk bucketed store to a FRESH session's catalog.

    ``write_bucketed_store`` records the bucket spec in a sidecar; this
    replays it as ``CREATE TABLE … CLUSTERED BY … INTO n BUCKETS
    LOCATION``, after which ``spark.table(table)`` scans report
    ``Bucketed: true`` again (verified: a re-registered table's store-side
    join has zero Exchange, identical to the writing session's plan).
    Raises when the directory has no sidecar — registering plain-parquet
    files as bucketed would LIE to the planner and silently mis-join.
    """
    spec = read_bucket_spec(store_dir)
    if spec is None:
        raise ValueError(
            f"{store_dir} has no {BUCKET_SPEC_FILE} sidecar: its files "
            "were not written by write_bucketed_store, and declaring a "
            "bucket layout they don't have would corrupt every join "
            "planned against it"
        )
    # a re-register (possibly at a different dir after a drop) must not
    # ride a stale validated-binding memo from the previous binding
    from evidence_datasource_parsers_spark.streaming.incremental import (
        invalidate_table_binding,
    )

    invalidate_table_binding(table)
    cols = ", ".join(f"`{c}`" for c in spec["bucket_cols"])
    loc = os.path.abspath(store_dir).replace("'", "\\'")
    spark.sql(
        f"CREATE TABLE {table} ({spec['schema']}) USING parquet "
        f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
        f"INTO {spec['n_buckets']} BUCKETS LOCATION '{loc}'"
    )


def write_bucketed_store(
    df: DataFrame,
    out_path: str,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
) -> None:
    """Persist an incremental-dedup state store (exact-hash store or LSH
    fingerprint store) bucketed AND sorted on its join key.

    The point is the next run's plan: a bucketed scan reports
    ``HashPartitioning(bucket_cols)``, so the per-batch anti/semi-join
    against the store shuffles ONLY the (small) new batch into the store's
    bucket layout — the corpus-scale store is read in place, never
    exchanged (plan-asserted in tests/test_plan_shapes.py).  Bucket
    metadata lives in the session catalog, hence saveAsTable; the files
    themselves sit at ``out_path`` and survive the session.

    Pick ``n_buckets`` for the store's TARGET size (store rows ≈ corpus
    docs × bands), not the first batch's: buckets are fixed at write time
    and each bucket must stay executor-memory-sized at full scale.

    A ``_bucket_spec.json`` sidecar is stamped beside the files so a
    FRESH session (whose in-memory catalog lost the table) can re-attach
    the bucket metadata with :func:`register_bucketed_store` instead of
    falling back to a store-shuffling plain read.

    The frame is repartitioned onto the bucket layout before the write
    (r14, guide §6): a bucketed write emits one file per (task, bucket)
    pair, so writing a P-partition frame directly produces up to
    P×n_buckets files (measured: 2048 for a 32-partition frame at 64
    buckets) — repartition(n_buckets, bucket_cols) uses the SAME
    murmur3-pmod assignment as the bucket spec, so each task holds
    exactly one bucket and the store lands as n_buckets files.  Trade:
    write parallelism is capped at n_buckets tasks — pick n_buckets for
    the store's target size (below) and this is the compaction-grade
    layout every subsequent scan wants.
    """
    (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", out_path)
        .saveAsTable(table)
    )
    # sidecar via Hadoop FS so object-store paths work too; the local
    # read_bucket_spec covers the sandbox and any posix deployment
    _write_text(
        df.sparkSession,
        out_path.rstrip("/") + "/" + BUCKET_SPEC_FILE,
        json.dumps(
            {
                "bucket_cols": list(bucket_cols),
                "n_buckets": int(n_buckets),
                "schema": schema_ddl(df),
            }
        ),
    )


def store_bucket_identity(
    store_dir: str, default_cols: list[str], default_buckets: int
) -> tuple[list[str], int]:
    """The (bucket_cols, n_buckets) an APPEND must use: the store's
    recorded ``_bucket_spec.json`` when present — the spec is the
    store's identity, and appending under the caller's configuration
    instead (e.g. a CLI default of 64 against a store created with 8)
    dies in Spark's opaque 'Specified bucketing does not match' —
    falling back to the caller's values only when no sidecar exists
    yet."""
    spec = read_bucket_spec(store_dir)
    if spec is None:
        return list(default_cols), int(default_buckets)
    return list(spec["bucket_cols"]), int(spec["n_buckets"])


def append_bucketed_store(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
) -> None:
    """Advance a :func:`write_bucketed_store` store by APPENDING a batch's
    delta rows — O(batch) I/O regardless of store size, vs the O(store)
    rewrite of calling :func:`write_bucketed_store` with the unioned
    store every round.  The bucket spec must match the table's (Spark
    validates and refuses a mismatch); each append adds one file set per
    bucket, so schedule an occasional compaction (re-write via
    :func:`write_bucketed_store`) on an explicit cadence when file counts
    grow.  Correctness needs the delta to be
    DISJOINT from the stored rows; every incremental operator's
    ``delta`` field satisfies that by construction.

    The delta is repartitioned onto the bucket layout first (r14, guide
    §6): a bucketed write emits one file per (task, bucket), so a
    P-partition delta appended directly adds up to P×n_buckets files PER
    BATCH (measured: +2048 files and 5.7s for a 32-partition 20k-row
    delta at 64 buckets; repartitioned: +64 files, 2.4s on the same
    host).  The extra exchange is O(batch) — the cheap side by
    construction — and it keeps the store's file count linear in batches
    instead of batches×partitions, which is what the probe scan and
    refreshTable pay for."""
    (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode("append")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )
    # the session may hold a cached relation (file listing) for the table
    # from a pre-append read — the insert does not reliably invalidate it,
    # and a stale listing silently MISSES the appended delta on the next
    # probe (observed: table count short by exactly one batch).  Metadata
    # refresh, O(files).
    df.sparkSession.catalog.refreshTable(table)


def read_bucketed_store(spark, table: str) -> DataFrame:
    """Read a store written by :func:`write_bucketed_store` WITH its bucket
    metadata (``spark.read.parquet`` on the path would discard the
    partitioning info and re-shuffle the store on the next join)."""
    return spark.table(table)
