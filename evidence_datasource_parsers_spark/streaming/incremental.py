"""Streaming ingestion against the persistent dedup store.

A watermark-bounded stream dedup forgets every hash older than the
horizon, which is correct for in-flight duplicate events but useless
against a re-crawl arriving days later.  This module closes the loop between Structured Streaming and the batch-side
fingerprint-store pattern (``operators.dedupe.incremental_exact_dedupe``):
each micro-batch is deduped against the ON-DISK store that batch refreshes
also maintain, so the live stream and nightly backfills share ONE notion of
"already ingested" with unbounded memory of the past at ~8 bytes/document.

Delivery semantics: the store advances BEFORE the fresh rows are
appended, so a crash between the two writes loses that batch's output but
never double-counts it (at-most-once per batch for the sink, exactly-once
for the store).  Flip the order for at-least-once output and clean up with
an exact dedup downstream.  True exactly-once needs a transactional table
format for both writes — the operator shape is unchanged.

Store-advance discipline: every DEDUP store advances APPEND-ONLY — the
operator's ``delta`` (the batch's contribution: disjoint fingerprint
rows for the hash families, capped per-batch gram counts for span,
whose probes take the capped sum per gram) is appended beside the
carried files, O(batch) I/O per micro-batch regardless of store size.
The HLL sketch store advances the same way (mergeable sketches: the
batch's own sketch rows append; probes merge per group).  Compaction
(``span_dedup.compact_gram_store``, ``sketches.compact_sketch_store``,
:func:`rewrite_bucketed_store`) is an explicit-cadence operation, never
per-batch.

Scale: the per-batch cost is the batch scan + one anti-join against the
store (AQE broadcast while the store is small; see
``sinks.write_bucketed_store`` for the co-located layout once it is not).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def recover_store_dir(store_dir: str) -> bool:
    """Crash-window recovery for the tmp+swap store discipline.

    The swap is two renames — ``store → __old_X`` then ``__swap_Y →
    store`` — and a crash between them leaves NO directory at
    ``store_dir``: without recovery the next run would silently restart
    from an empty store (ADVICE r4).  Called at the top of every batch:
    if the store is missing but a ``__old_*`` sibling exists, the newest
    one is renamed back into place (the crashed batch never committed its
    checkpoint, so it replays against the restored store — idempotent for
    both the dedup and the HLL sinks).  With the store present, leftover
    ``__old_*`` / ``__swap_*`` siblings are stale garbage and are swept.

    Single-writer contract (same as the sinks themselves).  Returns True
    if a restore happened.
    """
    parent = os.path.dirname(store_dir) or "."
    base = os.path.basename(store_dir)
    if not os.path.isdir(parent):
        return False
    olds = sorted(
        d for d in os.listdir(parent) if d.startswith(f"{base}__old_")
    )
    swaps = sorted(
        d for d in os.listdir(parent) if d.startswith(f"{base}__swap_")
    )
    # write_batch_summary staging leftovers (crash between the staged
    # parquet write and its finally-cleanup) are garbage at the top of
    # ANY batch — single-writer contract — even before the store exists
    for d in os.listdir(parent):
        if d.startswith(f"{base}__stage_"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    restored = False
    if not os.path.isdir(store_dir) and not olds and swaps:
        # no committed store and nothing to restore: any __swap_* sibling
        # is an UNCOMMITTED first write (the atomic first-batch create
        # crashed before its rename, or swap_store_dir's fresh-store
        # branch did) — the checkpoint never committed, the batch will
        # replay, so the leftover is garbage
        for d in swaps:
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        swaps = []
    if not os.path.isdir(store_dir) and olds:
        # the __old_ suffix is a random uuid, so name order says nothing
        # about age — pick the most recently renamed (mtime) candidate so
        # two coexisting crash leftovers restore the newest state
        newest = max(
            olds, key=lambda d: os.path.getmtime(os.path.join(parent, d))
        )
        olds.remove(newest)
        os.rename(os.path.join(parent, newest), store_dir)
        restored = True
    if os.path.isdir(store_dir):
        for d in olds + swaps:
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    return restored


def swap_store_dir(store_dir: str, tmp: str) -> None:
    """Swap a fully-written ``tmp`` directory into place at ``store_dir``.
    Not atomic (two renames); pair with :func:`recover_store_dir` at the
    start of the next batch/run to close the crash window."""
    if os.path.isdir(store_dir):
        old = f"{store_dir}__old_{uuid.uuid4().hex[:8]}"
        os.rename(store_dir, old)
        os.rename(tmp, store_dir)
        shutil.rmtree(old)
    else:
        os.rename(tmp, store_dir)


def copy_store_sidecars(
    src_dir: str, dst_dir: str, exclude: tuple[str, ...] = ()
) -> list[str]:
    """Carry a store's identity sidecars (``_*.json`` — bucket spec,
    span cap, canon k, hamming combo split, bottom-k …) from ``src_dir``
    into a freshly written ``dst_dir`` before a swap promotes it.

    A compaction rewrites the PARQUET files but must not lose the
    sidecars that make the store probeable: dropping
    ``_simhash_index_meta.json`` in the swap strands a key-index store
    behind the (misleading) 'classic store must be MIGRATED' refusal
    until someone hand-stamps it (ADVICE r12).  Files already present in
    ``dst_dir`` (e.g. the fresh ``_bucket_spec.json`` a bucketed rewrite
    just stamped) are left alone.  Returns the copied names.
    """
    if not os.path.isdir(src_dir):
        return []
    copied = []
    for name in sorted(os.listdir(src_dir)):
        if not (name.startswith("_") and name.endswith(".json")):
            continue
        if name in exclude:
            continue
        dst = os.path.join(dst_dir, name)
        if os.path.exists(dst):
            continue
        shutil.copy2(os.path.join(src_dir, name), dst)
        copied.append(name)
    return copied


def rewrite_store_dir(store_dir: str, df: DataFrame) -> int:
    """The full swap-safe rewrite sequence every compaction shares:
    eagerly checkpoint ``df`` (severing its lineage from the files the
    swap deletes), write to a tmp sibling, carry the identity sidecars
    over, swap into place.  Returns the rewritten row count.  Callers
    run :func:`recover_store_dir` BEFORE reading the store they derive
    ``df`` from."""
    out = df.localCheckpoint(eager=True)
    n = out.count()
    tmp = f"{store_dir}__swap_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(tmp)
    # NOT _bucket_spec.json: this rewrite emits PLAIN files, and carrying
    # the spec over would make the new dir LIE about a bucket layout the
    # files no longer have (every later registration would mis-join)
    copy_store_sidecars(store_dir, tmp, exclude=("_bucket_spec.json",))
    swap_store_dir(store_dir, tmp)
    return n


def rewrite_bucketed_store(
    spark,
    table: str,
    store_dir: str,
    df: DataFrame,
    bucket_cols: list[str] | None = None,
    n_buckets: int | None = None,
) -> int:
    """:func:`rewrite_store_dir` for a BUCKETED TABLE store (the
    ``store_table`` form of :func:`incremental_dedupe_sink`) — the
    compaction half of the table store's lifecycle, collapsing the
    one-file-set-per-bucket-per-append history back to one.

    Same swap discipline, plus catalog bookkeeping: the collapsed frame
    is eagerly checkpointed (severing its lineage from the files the
    swap deletes), written bucketed to a tmp sibling under the dir's
    recorded ``_bucket_spec.json`` spec — compaction must NOT change the
    store's bucket identity, or the next append would mis-bucket — then
    the dirs swap and ``table`` is re-registered at the new files.  A
    crash in the window leaves either the old dir (recoverable by
    :func:`recover_store_dir`, like every swap) or the new one; the
    catalog entry is rebuilt from the sidecar either way, so nothing
    durable is lost with the in-memory catalog.  Returns the rewritten
    row count.

    ``bucket_cols``/``n_buckets`` BOOTSTRAP a plain-parquet store (no
    sidecar — e.g. one built by earlier rounds without a table, or by
    the one-file-per-batch counter sinks) into a bucketed table at this
    compaction boundary — the migration path :func:`read_store`'s
    refusal message points at.  On a store that already HAS a sidecar
    they must match it or be omitted: the spec is the store's identity,
    and silently re-bucketing under a different spec would strand every
    co-located consumer.
    """
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
        register_bucketed_store,
        write_bucketed_store,
    )

    spec = read_bucket_spec(store_dir)
    if spec is None:
        if not bucket_cols:
            raise ValueError(
                f"{store_dir} has no _bucket_spec.json sidecar — pass "
                "bucket_cols (+ n_buckets) to bootstrap it into a "
                "bucketed table, or compact it with rewrite_store_dir"
            )
        spec = {
            "bucket_cols": list(bucket_cols),
            "n_buckets": int(n_buckets or 64),
        }
    elif (bucket_cols and list(bucket_cols) != spec["bucket_cols"]) or (
        n_buckets and int(n_buckets) != spec["n_buckets"]
    ):
        raise ValueError(
            f"store records bucket spec {spec['bucket_cols']} × "
            f"{spec['n_buckets']} but the caller asked "
            f"{bucket_cols} × {n_buckets} — the recorded spec is the "
            "store's identity; omit the overrides or re-create the store"
        )
    missing = [c for c in spec["bucket_cols"] if c not in df.columns]
    if missing:
        raise ValueError(
            f"compacted frame lost bucket column(s) {missing} — the "
            f"store's bucket identity is {spec['bucket_cols']} and a "
            "rewrite without them would break every later append/probe"
        )
    # refuse a name already bound to a DIFFERENT directory BEFORE any
    # work — the unchecked drop-and-rebind below would silently repoint
    # every consumer of that name at this store's rows (review finding
    # r12), and failing after the tmp write would waste the whole pass
    if spark.catalog.tableExists(table):
        _validate_table_binding(spark, table, store_dir)
    out = df.localCheckpoint(eager=True)
    n = out.count()
    token = uuid.uuid4().hex[:8]
    tmp = f"{store_dir}__swap_{token}"
    tmp_table = f"{table}__swap_{token}"
    # write_bucketed_store pre-shuffles onto the bucket layout itself
    # (r14) so each write task owns exactly one bucket — the explicit
    # repartition that used to live here is now the sink's contract.
    write_bucketed_store(
        out, tmp, tmp_table, spec["bucket_cols"], spec["n_buckets"],
    )
    # the identity sidecars beyond the bucket spec (hamming combo split,
    # canon k, span cap …) live ONLY in the old dir the swap deletes —
    # carry them into tmp or the compacted store refuses its next probe
    copy_store_sidecars(store_dir, tmp)
    # both registrations are metadata-only for external tables: dropping
    # them leaves the files for the dir swap to move (the name-binding
    # guard already ran at the top)
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    invalidate_table_binding(table)
    swap_store_dir(store_dir, tmp)
    register_bucketed_store(spark, table, store_dir)
    return n


def create_bucketed_store_atomic(
    spark,
    delta: DataFrame,
    store_dir: str,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    stamp=None,
) -> None:
    """First-batch creation of a bucketed TABLE store with all-or-nothing
    visibility: the bucketed files are written into a ``__swap_*`` tmp
    sibling, ``stamp(tmp)`` lands the mode's identity sidecars THERE
    (hamming combo split, canon k, span cap — ``_bucket_spec.json`` is
    already stamped by the write itself), and ONE rename makes the store
    appear fully formed.

    The point is the crash window ADVICE r12 flagged: stamping the
    hamming sidecar AFTER a direct ``write_bucketed_store`` at the live
    path leaves, on a crash between the two, a store that
    ``_check_hamming_index_meta`` refuses with the wrong diagnosis
    ('classic store must be MIGRATED').  Here a crash before the rename
    leaves NO store at all — :func:`recover_store_dir` sweeps the
    orphaned tmp and the replayed batch recreates it; a crash after the
    rename leaves the complete store, sidecars included.  The catalog
    re-registration after the rename is metadata-only and idempotent on
    replay.
    """
    from evidence_datasource_parsers_spark.sources.sinks import (
        register_bucketed_store,
        write_bucketed_store,
    )

    token = uuid.uuid4().hex[:8]
    tmp = f"{store_dir}__swap_{token}"
    tmp_table = f"{table}__swap_{token}"
    write_bucketed_store(delta, tmp, tmp_table, bucket_cols, n_buckets)
    if stamp is not None:
        stamp(tmp)
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    invalidate_table_binding(table)
    os.rename(tmp, store_dir)
    register_bucketed_store(spark, table, store_dir)


#: The ONE place the hamming key-index modes' default combo splits live
#: (a test asserts these match the operator signatures' defaults, so the
#: validate-and-stamp gate can never silently desync from the probe).
#: ``remux``'s split is fixed by construction (full hash, one combo).
HAMMING_INDEX_IDENTITY: dict[str, dict] = {
    "simhash": {"nbits": 32, "max_hamming": 3, "n_blocks": 6},
    "phash": {"nbits": 63, "max_hamming": 6, "n_blocks": 9},
    "audio": {"nbits": 63, "max_hamming": 8, "n_blocks": 10},
    "remux": {"nbits": 63, "max_hamming": 0, "n_blocks": 1},
}


def _index_identity(mode: str, dedupe_opts: dict) -> dict:
    """The combo split THIS sink configuration will probe with: the
    mode's defaults overridden by the caller's dedupe_opts (simhash
    exposes all three knobs; phash/audio expose the hamming ones;
    remux is fixed)."""
    ident = dict(HAMMING_INDEX_IDENTITY[mode])
    if mode == "simhash":
        ident["nbits"] = dedupe_opts.get("nbits", ident["nbits"])
    if mode != "remux":
        ident["max_hamming"] = dedupe_opts.get(
            "max_hamming", ident["max_hamming"]
        )
        ident["n_blocks"] = dedupe_opts.get("n_blocks", ident["n_blocks"])
    return ident


def _check_hamming_index_meta(store_dir: str, ident: dict) -> None:
    """Validate a hamming key-index store's combo-split sidecar against
    the sink's configuration — a store probed under a different
    (nbits, max_hamming, n_blocks) silently MISSES near-dups, so
    missing/mismatched sidecars refuse, like the span cap / canon k."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        read_simhash_index_meta,
    )

    if not os.path.isdir(store_dir):
        return
    recorded = read_simhash_index_meta(store_dir)
    if recorded is None:
        raise ValueError(
            f"hamming index store {store_dir} has no "
            "_simhash_index_meta.json sidecar: its combo split is "
            f"unknown and probing it under {ident} could miss "
            "near-dups. A fresh KEY-INDEX store just needs the stamp "
            "(write_simhash_index_meta with the true split); a CLASSIC "
            "fingerprint store from earlier rounds must be MIGRATED "
            "first — explode it with simhash_key_index (or the "
            "multimodal fingerprint frame + the same builder), write it "
            "with sinks.write_bucketed_store(['combo', 'key'], n), then "
            "stamp — classic rows have no combo/key columns and cannot "
            "be probed by the index path."
        )
    if recorded != ident:
        raise ValueError(
            f"hamming index store {store_dir} was built with "
            f"{recorded}; this sink is configured with {ident} — the "
            "packed keys are not comparable"
        )


#: Modes whose per-batch store probe joins on STORED columns directly —
#: exactly these can ride a bucketed store table with zero store-side
#: Exchange.  The hamming family (simhash/phash/audio/remux) qualifies
#: through its KEY-INDEX store form (`incremental_simhash_dedupe_indexed`
#: / `multimodal._incremental_fingerprint_dedupe_indexed`: the
#: block-combination keys are persisted, not re-derived per batch).
#: ``video`` stays out (its overlap rule needs a store-wide per-clip
#: frame-count aggregate regardless of layout) and so does
#: ``embedding`` (hyperplane bucket keys are derived from the vectors).
SINK_BUCKET_COLS: dict[str, list[str]] = {
    "exact": ["content_hash"],
    "lsh": ["band", "key"],
    "simhash": ["combo", "key"],
    "phash": ["combo", "key"],
    "audio": ["combo", "key"],
    "remux": ["combo", "key"],
    "span": ["gram_hash"],
    "canon": ["seg_key"],
}


#: (table name lowercased, realpath) pairs whose catalog binding this
#: process already validated — the check is a DESCRIBE + driver collect,
#: which must not re-run on every micro-batch of a long stream.  Safe to
#: memoize under the stores' single-writer contract: a binding, once
#: valid, only changes through the library's own drop/re-register paths
#: (rewrite_bucketed_store, register_bucketed_store), which call
#: :func:`invalidate_table_binding` so the memo can never outlive the
#: binding it certified.
_VALIDATED_BINDINGS: set[tuple[str, str]] = set()


def invalidate_table_binding(table: str) -> None:
    """Forget every memoized validation for ``table`` — called by the
    library paths that drop or re-register a store table (a re-register
    at a DIFFERENT directory would otherwise ride the stale memo and let
    ``read_store`` silently probe the wrong files)."""
    t = table.lower()
    stale = [k for k in _VALIDATED_BINDINGS if k[0] == t]
    for k in stale:
        _VALIDATED_BINDINGS.discard(k)


def _validate_table_binding(spark, store_table: str, store_dir: str) -> None:
    """Refuse a catalog name that does not denote THIS store's files:
    a temp view shadowing the name (``spark.table`` resolves the view
    first — its arbitrary rows would silently become the dedup store),
    or a table registered at a different location (a stale registration
    from another store in this session)."""
    key = (store_table.lower(), os.path.realpath(store_dir))
    if key in _VALIDATED_BINDINGS:
        return
    tbl = spark.catalog.getTable(store_table)
    if (tbl.tableType or "").upper() in ("TEMPORARY", "TEMP", "VIEW"):
        raise ValueError(
            f"{store_table!r} names a {tbl.tableType} view in this "
            "session, not the bucketed store table — spark.table() would "
            "resolve the view and silently dedupe against its rows; drop "
            "the view or pick a distinct store_table name"
        )
    loc = next(
        (
            r.data_type
            for r in spark.sql(
                f"DESCRIBE TABLE EXTENDED {store_table}"
            ).collect()
            if r.col_name == "Location"
        ),
        None,
    )
    want = "file:" + os.path.abspath(store_dir)
    if loc is None or loc.rstrip("/") not in (
        want, want.rstrip("/"), "file://" + os.path.abspath(store_dir),
    ):
        raise ValueError(
            f"catalog table {store_table} points at {loc}, not "
            f"{store_dir} — a stale registration from another store "
            "in this session; drop it or pick a distinct table name"
        )
    _VALIDATED_BINDINGS.add(key)


def _refuse_plain_append(store_dir: str, surface: str) -> None:
    """A plain ``parquet`` append into a dir carrying ``_bucket_spec.json``
    drops non-bucket-named part files between the bucketed ones: the
    append SUCCEEDS silently and the next bucketed-table scan dies with
    Spark's opaque 'Invalid bucket file' — so the engine refuses here,
    at the append, with the real story."""
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
    )

    if os.path.isdir(store_dir) and read_bucket_spec(store_dir) is not None:
        raise ValueError(
            f"{store_dir} is a bucketed TABLE store (it carries "
            f"_bucket_spec.json): appending plain parquet would poison "
            f"its bucket layout. Pass {surface}, or compact it back to "
            "a plain dir first."
        )


def read_store(spark, store_dir: str, store_table: str | None = None):
    """Bucketed-table-first store read — shared by the streaming sink and
    the ``refresh`` CLI.

    * ``store_table`` set and registered in this session's catalog →
      ``spark.table`` (the scan keeps its bucket metadata: the probe
      join's store side has no Exchange — the same plan the library
      operators get from ``read_bucketed_store``);
    * set but NOT in the catalog (a restarted stream: the in-memory
      catalog died with the previous session, the files did not) →
      re-register from the ``_bucket_spec.json`` sidecar and read the
      table.  A dir WITHOUT the sidecar is refused — its files were
      appended as plain parquet and declaring a bucket layout they don't
      have would silently mis-join;
    * ``store_table`` None → plain parquet read (the pre-round-12 path,
      correct but O(store) shuffle per batch once the store outgrows
      AQE's broadcast threshold).

    Returns None when no store exists yet (first batch).
    """
    if store_table is None:
        return (
            spark.read.parquet(store_dir)
            if os.path.isdir(store_dir)
            else None
        )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucket_spec,
        register_bucketed_store,
    )

    if spark.catalog.tableExists(store_table):
        _validate_table_binding(spark, store_table, store_dir)
        return spark.table(store_table)
    if not os.path.isdir(store_dir):
        return None
    if read_bucket_spec(store_dir) is None:
        raise ValueError(
            f"store_table={store_table!r} was requested but {store_dir} "
            "has no _bucket_spec.json sidecar: its files were written as "
            "plain parquet (by an earlier run without store_table?), not "
            "by the bucketed path. Bootstrap it once at a compaction "
            "boundary (`compact --table <name> --bucket-col <key> "
            "--buckets <n>`, or rewrite_bucketed_store with bucket_cols) "
            "or drop store_table."
        )
    register_bucketed_store(spark, store_table, store_dir)
    return spark.table(store_table)


def incremental_dedupe_sink(
    stream: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    text_col: str,
    id_col: str,
    mode: str = "exact",
    provenance_dir: str | None = None,
    store_table: str | None = None,
    store_buckets: int = 64,
    **dedupe_opts,
):
    """foreachBatch sink: drop every document already in the cross-run
    store, advance the store at ``store_dir`` append-only (the
    operator's delta), append survivors to ``out_dir`` (parquet).
    Returns the started StreamingQuery.

    ``mode`` selects the store semantics — the full incremental triad is
    available to the stream:

      * ``'exact'``  — 8-byte content hashes (`incremental_exact_dedupe`);
      * ``'lsh'``    — MinHash-LSH fingerprints: a re-crawl with a few
        changed words is still dropped (`incremental_lsh_dedupe`);
      * ``'simhash'`` — hamming-distance fingerprints
        (`incremental_simhash_dedupe`; with ``store_table`` the
        key-index form `incremental_simhash_dedupe_indexed`);
      * ``'embedding'`` — semantic re-embeds dropped against an INT8
        vector store (`quantize.incremental_embedding_dedupe_quantized`);
        ``text_col`` names the vector column.
      * ``'phash'`` — perceptual IMAGE near-dup: re-encoded/resized
        copies of stored photos dropped against an (id, phash) store
        (`multimodal.incremental_phash_dedupe`; with ``store_table``
        the key-index form); ``text_col`` names the binary blob column.
      * ``'audio'`` — perceptual AUDIO near-dup: re-rendered/resampled
        copies of stored recordings dropped against an (id, afp)
        spectral-fingerprint store (`multimodal.incremental_audio_dedupe`;
        with ``store_table`` the key-index form); ``text_col`` names the
        binary blob column.
      * ``'video'`` — clip-level near-dup: re-encoded/re-muxed copies of
        stored clips dropped against an (id, frame_idx, phash)
        sampled-frame store (`multimodal.incremental_video_dedupe`);
        ``text_col`` names the binary blob column.
      * ``'remux'`` — exact elementary-stream dedup: the same encoded
        video repackaged in a new container dropped against an
        (id, stream_hash) store (`multimodal.incremental_remux_dedupe`;
        with ``store_table`` the key-index form); no codec needed, so
        this tier is fully real for MP4/H.264; ``text_col`` names the
        binary blob column.
      * ``'span'`` — exact substring dedup: duplicated token spans are
        EXCISED (documents are rewritten, not dropped — every batch doc is
        appended with clean_text/n_tokens/n_removed_tokens) against a
        saturating gram-count store (`span_dedup.incremental_span_dedupe`).
      * ``'canon'`` — fuzzy METADATA canonicalization: every batch doc is
        appended ENRICHED with canonical_id/canonical (nothing dropped),
        its ``text_col`` short-string label mapped to the representative
        carried in the segment-index store
        (`fuzzy_join.incremental_canonicalize_indexed`); ``max_dist`` is
        store identity, validated against the ``_canon_store_meta.json``
        sidecar like the span cap.

    ``store_table``: name a session-catalog TABLE for the store and the
    sink carries it BUCKETED on the mode's probe-join key
    (:data:`SINK_BUCKET_COLS`) — the per-batch probe then reads the
    store in place and shuffles only the batch into the store's bucket
    layout (plan-asserted in tests/test_plan_shapes.py), the same
    zero-store-side-Exchange plan the library operators get from
    ``sinks.read_bucketed_store``.  Without it the store is read as
    plain parquet: correct, but once the store outgrows AQE's broadcast
    threshold every micro-batch re-shuffles O(store) rows — at corpus
    scale a long-running stream pays that forever, which is the cost
    the bucketed layout exists to avoid.  The table's bucket spec also
    lands in a ``_bucket_spec.json`` sidecar, so a RESTARTED stream (new
    session, empty in-memory catalog) re-registers the table from the
    files instead of degrading to the plain read.  Only the modes whose
    probe can join on stored columns accept it: exact/lsh/span/canon
    directly, and the hamming family (simhash/phash/audio/remux) through
    their KEY-INDEX store forms — the ``*_indexed`` operators persist
    the block-combination keys, so the probe equi-joins stored
    ``(combo, key)`` columns AND skips the classic forms' per-batch
    O(store × combos) re-explode; their combo split is store identity,
    validated against (and stamped into) the shared
    ``_simhash_index_meta.json`` sidecar.  NOTE the two store FORMS are
    not interchangeable: a classic store carried without ``store_table``
    must be migrated once (``simhash_key_index`` /
    ``multimodal`` fingerprint frames → ``sinks.write_bucketed_store``
    on ``(combo, key)`` → ``write_simhash_index_meta``) before this
    flag can probe it.  ``video`` refuses the flag (its overlap rule
    needs a store-wide per-clip frame-count aggregate regardless of
    layout), as does ``embedding`` (hyperplane bucket keys are derived
    from the vectors at probe time).  Size
    ``store_buckets`` for the store's TARGET size, not the first
    batch's.  Compact a table-backed store with
    :func:`rewrite_bucketed_store` (CLI: ``compact --table``) — the same
    tmp+swap discipline as plain dirs plus the catalog re-registration;
    never call ``write_bucketed_store`` directly at the live store path
    (an overwrite onto the dir the input's lineage still reads).

    ``dedupe_opts`` pass through to the chosen operator (num_perm/bands/k
    for lsh — including the production ``hot_bucket_cap`` guard;
    nbits/max_hamming/n_blocks for simhash; threshold).  The LSH
    operator's shingle ``mode`` ('char'/'word') is passed as
    ``shingle_mode`` here, since ``mode`` selects the store kind.

    ``provenance_dir`` (``mode='lsh'`` only): per-batch drop audit — the
    ``lsh_drop_provenance`` frame ``(batch_id, store_id, est_jaccard,
    reason)`` plus a ``stream_batch_id`` column appends there each
    micro-batch, written BEFORE the store swap (it reads the pre-update
    store files).  A second fingerprint pass per batch, per the
    operator's diagnostic contract — point it at sampled streams when
    auditing store behavior, leave None in the hot path.
    """
    from evidence_datasource_parsers_spark.operators import dedupe as dd

    if mode not in (
        "exact", "lsh", "simhash", "embedding", "phash", "audio", "video",
        "remux", "span", "canon",
    ):
        raise ValueError(f"unknown dedupe mode {mode!r}")
    if provenance_dir is not None and mode != "lsh":
        raise ValueError(
            "provenance_dir requires mode='lsh' (lsh_drop_provenance is "
            f"the only provenance twin), got mode={mode!r}"
        )
    if store_table is not None and mode not in SINK_BUCKET_COLS:
        raise ValueError(
            f"store_table is only supported for modes {sorted(SINK_BUCKET_COLS)}: "
            f"mode={mode!r} derives its probe-join keys by exploding the "
            "stored fingerprints at probe time, so a bucketed store "
            "cannot co-locate its candidate join"
        )

    owner_spark = stream.sparkSession  # the session that starts the query

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_store_dir(store_dir)
        store = read_store(spark, store_dir, store_table)
        if mode == "exact":
            eres = dd.incremental_exact_dedupe(
                batch_df, store, text_col, id_col, **dedupe_opts
            )
            fresh, new_store, delta = eres.fresh, eres.store, eres.delta
        elif mode == "lsh":
            opts = dict(dedupe_opts)
            if "shingle_mode" in opts:
                opts["mode"] = opts.pop("shingle_mode")
            res = dd.incremental_lsh_dedupe(
                batch_df, store, text_col, id_col, **opts
            )
            fresh, new_store, delta = res.fresh, res.store, res.delta
            fresh = fresh.persist()  # consumed once; pinned fp covers store
            if provenance_dir is not None and store is not None:
                audit_keys = ("num_perm", "bands", "k", "mode", "threshold")
                dd.lsh_drop_provenance(
                    batch_df, store, text_col, id_col,
                    **{k: v for k, v in opts.items() if k in audit_keys},
                ).withColumn(
                    "stream_batch_id", F.lit(batch_id).cast("long")
                ).write.mode("append").parquet(provenance_dir)
        elif mode == "simhash":
            if store_table is not None:
                # key-INDEX store (pre-exploded (combo, key) rows)
                _check_hamming_index_meta(
                    store_dir, _index_identity("simhash", dedupe_opts)
                )
                res = dd.incremental_simhash_dedupe_indexed(
                    batch_df, store, text_col, id_col, **dedupe_opts
                )
            else:
                res = dd.incremental_simhash_dedupe(
                    batch_df, store, text_col, id_col, **dedupe_opts
                )
            fresh, new_store, delta = res.fresh, res.store, res.delta
            fresh = fresh.persist()
        elif mode == "phash":
            from evidence_datasource_parsers_spark.operators.multimodal import (  # noqa: E501
                incremental_phash_dedupe,
                incremental_phash_dedupe_indexed,
            )

            if store_table is not None:
                _check_hamming_index_meta(
                    store_dir, _index_identity("phash", dedupe_opts)
                )
                res = incremental_phash_dedupe_indexed(
                    batch_df, store, text_col, id_col, **dedupe_opts
                )
            else:
                res = incremental_phash_dedupe(
                    batch_df, store, text_col, id_col, **dedupe_opts
                )
            fresh, new_store, delta = res.fresh, res.store, res.delta
            fresh = fresh.persist()
        elif mode == "audio":
            from evidence_datasource_parsers_spark.operators.multimodal import (  # noqa: E501
                incremental_audio_dedupe,
                incremental_audio_dedupe_indexed,
            )

            if store_table is not None:
                _check_hamming_index_meta(
                    store_dir, _index_identity("audio", dedupe_opts)
                )
                res = incremental_audio_dedupe_indexed(
                    batch_df, store, text_col, id_col, **dedupe_opts
                )
            else:
                res = incremental_audio_dedupe(
                    batch_df, store, text_col, id_col, **dedupe_opts
                )
            fresh, new_store, delta = res.fresh, res.store, res.delta
            fresh = fresh.persist()
        elif mode == "video":
            from evidence_datasource_parsers_spark.operators.multimodal import (
                incremental_video_dedupe,
            )

            res = incremental_video_dedupe(
                batch_df, store, text_col, id_col, **dedupe_opts
            )
            fresh, new_store, delta = res.fresh, res.store, res.delta
            fresh = fresh.persist()
        elif mode == "remux":
            from evidence_datasource_parsers_spark.operators.multimodal import (  # noqa: E501
                incremental_remux_dedupe,
                incremental_remux_dedupe_indexed,
            )

            if store_table is not None:
                _check_hamming_index_meta(
                    store_dir, _index_identity("remux", dedupe_opts)
                )
                res = incremental_remux_dedupe_indexed(
                    batch_df, store, text_col, id_col, **dedupe_opts
                )
            else:
                res = incremental_remux_dedupe(
                    batch_df, store, text_col, id_col, **dedupe_opts
                )
            fresh, new_store, delta = res.fresh, res.store, res.delta
            fresh = fresh.persist()
        elif mode == "canon":
            from evidence_datasource_parsers_spark.operators.fuzzy_join import (  # noqa: E501
                incremental_canonicalize_indexed,
                read_canon_store_meta,
            )

            # max_dist is store identity: the segment split is k-specific,
            # so probing a k=2 store at k=3 silently MISSES matches — the
            # same refuse-on-mismatch discipline as the span gram cap.
            k = dedupe_opts.get("max_dist", 2)
            if os.path.isdir(store_dir):
                recorded = read_canon_store_meta(store_dir)
                if recorded is None:
                    raise ValueError(
                        f"canon store {store_dir} has no "
                        "_canon_store_meta.json sidecar: its max_dist is "
                        f"unknown, and probing it at max_dist={k} could "
                        "miss matches. Stamp the store once with "
                        "write_canon_store_meta(store_dir, <true k>) and "
                        "re-run."
                    )
                if recorded != k:
                    raise ValueError(
                        f"canon store {store_dir} was built with "
                        f"max_dist={recorded}; this sink is configured "
                        f"with {k} — the segment indexes are not "
                        "comparable"
                    )
            res = incremental_canonicalize_indexed(
                batch_df, store, text_col, id_col, **dedupe_opts
            )
            # "fresh" here is the batch ENRICHED (canonical labels added),
            # not a survivor subset; the store advance discipline is
            # identical (append the delta's segment rows)
            fresh, new_store, delta = res.mapping, res.store, res.delta
            fresh = fresh.persist()
        elif mode == "span":
            from evidence_datasource_parsers_spark.operators.span_dedup import (
                incremental_span_dedupe,
            )

            # The saturation cap is part of the store's identity — FAIL
            # the batch BEFORE probing if the dir's sidecar disagrees
            # (probing a cap-2 store at threshold 3 under-counts and
            # silently misses duplicate spans).  A sidecar-LESS existing
            # store is ambiguous: its cap is whatever the round that
            # built it used, so adopting this run's configuration would
            # lock in a possibly-wrong identity — refuse it like the
            # compact CLI does, and let the operator stamp it once via
            # write_gram_store_meta with the known true cap.  The
            # sidecar is (re)written after the append so a first-batch
            # crash never leaves a parquet-less dir.
            cap = dedupe_opts.get("min_occurrences", 2)
            if os.path.isdir(store_dir):
                from evidence_datasource_parsers_spark.operators.span_dedup import (  # noqa: E501
                    read_gram_store_meta,
                )

                recorded = read_gram_store_meta(store_dir)
                if recorded is None:
                    raise ValueError(
                        f"gram store {store_dir} has no "
                        "_span_gram_meta.json sidecar: its saturation "
                        "cap is unknown, and probing it at "
                        f"min_occurrences={cap} could under-count. "
                        "Stamp the store once with "
                        "write_gram_store_meta(store_dir, <true cap>) "
                        "and re-run."
                    )
                if recorded != cap:
                    raise ValueError(
                        f"gram store {store_dir} was built with "
                        f"min_occurrences={recorded}; this sink is "
                        f"configured with {cap} — the capped counts are "
                        "not comparable"
                    )
            res = incremental_span_dedupe(
                batch_df, store, text_col, id_col, **dedupe_opts
            )
            # "fresh" here is the batch REWRITTEN (spans excised), not a
            # survivor subset — the advance discipline is identical: the
            # gram store is append-only too (probes take the capped sum
            # per gram; compact_gram_store on an explicit cadence)
            fresh, new_store, delta = res.cleaned, res.store, res.delta
            fresh = fresh.persist()
        else:  # embedding
            from evidence_datasource_parsers_spark.operators.quantize import (
                incremental_embedding_dedupe_quantized,
            )

            res = incremental_embedding_dedupe_quantized(
                batch_df, store, text_col, id_col, **dedupe_opts
            )
            fresh, new_store, delta = res.fresh, res.store, res.delta
            fresh = fresh.persist()
        def stamp_identity(d: str) -> None:
            """Land the mode's identity sidecars in dir ``d`` — stamped
            into the atomic create's tmp dir BEFORE the store becomes
            visible (a crash can then never leave a store whose identity
            is unrecorded — ADVICE r12), and re-stamped (idempotent,
            equal values) after every later append."""
            if mode == "canon":
                from evidence_datasource_parsers_spark.operators.fuzzy_join import (  # noqa: E501
                    write_canon_store_meta,
                )

                write_canon_store_meta(d, dedupe_opts.get("max_dist", 2))
            if store_table is not None and mode in HAMMING_INDEX_IDENTITY:
                # the CHECKED identity is the STAMPED identity — one
                # resolver, so the gate can never certify a split the
                # probe didn't use (review finding r12)
                ident = _index_identity(mode, dedupe_opts)
                dd.write_simhash_index_meta(
                    d, ident["nbits"], ident["max_hamming"],
                    ident["n_blocks"],
                )
            if mode == "span":
                from evidence_datasource_parsers_spark.operators.span_dedup import (  # noqa: E501
                    write_gram_store_meta,
                )

                write_gram_store_meta(
                    d, dedupe_opts.get("min_occurrences", 2)
                )

        try:
            # Every store advances APPEND-ONLY: the delta (the batch's
            # contribution — disjoint rows for the hash families, capped
            # per-batch gram counts for span) lands beside the carried
            # files — O(batch) I/O per micro-batch regardless of how
            # much history the store holds.  fresh MUST be eagerly
            # checkpointed BEFORE the append: committing a write to
            # store_dir refreshes that path (file listing + dependent
            # cache invalidation), so a lazy fresh would re-evaluate
            # against the advanced store — where its own batch is now
            # "seen" — and emit nothing.  Store first, output second:
            # crash between the two loses the batch's output, never
            # double-ingests it — the same at-most-once the swap
            # discipline gave.
            fresh_mat = fresh.localCheckpoint(eager=True)
            if store_table is not None:
                from evidence_datasource_parsers_spark.sources.sinks import (
                    append_bucketed_store,
                )

                cols = SINK_BUCKET_COLS[mode]
                # sever the delta's lineage (it reads the table the append
                # targets) before the insert lists the table's files
                delta_mat = delta.localCheckpoint(eager=True)
                if store is None:
                    # first batch creates the table atomically: bucketed
                    # files + _bucket_spec.json + identity sidecars all
                    # appear in ONE rename, so no crash can leave a store
                    # whose combo split / k / cap is unrecorded
                    create_bucketed_store_atomic(
                        spark, delta_mat, store_dir, store_table, cols,
                        store_buckets, stamp=stamp_identity,
                    )
                else:
                    from evidence_datasource_parsers_spark.sources.sinks import (  # noqa: E501
                        store_bucket_identity,
                    )

                    # the recorded spec is the store's identity — append
                    # under IT, not this sink's configuration (a
                    # store_buckets drift would die in Spark's opaque
                    # bucketing-mismatch error)
                    acols, abuckets = store_bucket_identity(
                        store_dir, cols, store_buckets
                    )
                    append_bucketed_store(
                        delta_mat, store_table, acols, abuckets
                    )
                # foreachBatch runs in a CLONED session: the table write
                # registers/refreshes through the clone's catalog, while
                # the session that STARTED the stream keeps its own
                # relation cache — left alone, a pre-stream spark.table()
                # there would keep serving the pre-advance file listing.
                # Table existence is shared (external catalog); only the
                # per-session cache needs the nudge.
                if owner_spark is not spark:
                    owner_spark.catalog.refreshTable(store_table)
            else:
                # a restarted stream whose config dropped store_table must
                # not poison a bucketed dir with plain part files
                _refuse_plain_append(store_dir, "store_table=<name>")
                delta.write.mode("append").parquet(store_dir)
            # idempotent re-stamp (equal values) — covers the plain-dir
            # path and keeps later appends self-healing if a sidecar was
            # hand-deleted; the table-create path already stamped inside
            # the atomic rename
            stamp_identity(store_dir)
            fresh_mat.write.mode("append").parquet(out_dir)
        finally:
            fresh.unpersist()
            # exact derives everything from fresh; canon's clustering is
            # checkpoint-materialized inside duplicate_clusters — neither
            # carries a pinned handle
            if mode not in ("exact", "canon"):
                res.pinned.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_distinct_count_sink(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    lgk: int = 12,
    store_table: str | None = None,
    store_buckets: int = 32,
):
    """foreachBatch sink maintaining the mergeable HLL sketch store
    (operators/sketches.py) across micro-batches AND runs: per batch,
    APPEND the batch's own sketches beside the carried history — the
    sketches are mergeable, so a multi-row-per-group append history is a
    valid store and the advance never reads or rewrites it (O(batch) I/O
    at any store size, the same delta discipline as the dedup sinks).

    The store IS the output — distinct-count dashboards read it with
    ``sketch_store_estimates`` (merge per group, then estimate) at any
    time; re-ingested values cannot inflate it (HLL registers take
    maxima), and a REPLAYED batch appends a redundant sketch the
    register-maxima merge absorbs — idempotent under at-least-once, the
    property that makes sketch stores SAFER than exact counters.
    Collapse the history with ``compact_sketch_store`` on an explicit
    cadence.  :func:`recover_store_dir` still runs first so a store left
    mid-swap by an older-version crash (or by a compaction) recovers.

    ``store_table``: carry the store as a bucketed catalog TABLE on
    ``group_cols`` — ``sketch_store_estimates``' per-group merge then
    reads the history in place (the groupBy rides the bucket layout,
    zero store-side Exchange).  Safe for HLL because register maxima
    absorb a replayed batch's redundant sketch on their own (the
    additive counter kinds must keep the file-overwrite form).
    """
    from evidence_datasource_parsers_spark.operators.sketches import (
        hll_store,
    )

    def summarize(b):
        return hll_store(b, group_cols, value_col, lgk)

    if store_table is not None:
        return _append_summary_sink_table(
            stream, store_dir, checkpoint, summarize, store_table,
            list(group_cols), store_buckets,
        )
    return _append_summary_sink(stream, store_dir, checkpoint, summarize)


def streaming_histogram_sink(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    edges: list[float],
):
    """foreachBatch sink for the mergeable fixed-edge HISTOGRAM store —
    identical append-history discipline to the HLL sink (one counts row
    per group per micro-batch; bin adds are exact, so probes through
    ``compact_histogram_store``/``histogram_store_percentiles`` match
    the one-shot histogram bin-for-bin).  ``edges`` are part of the
    store identity and must match every writer that ever appends.
    Replay-IDEMPOTENT despite counts adding (unlike HLL register maxima,
    adds have no natural absorption): each batch lands as one
    deterministically named file a replay overwrites, not re-appends —
    see ``_append_summary_sink``."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        histogram_store,
    )

    return _append_summary_sink(
        stream, store_dir, checkpoint,
        lambda b: histogram_store(b, group_cols, value_col, edges),
    )


def streaming_frequency_sink(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
):
    """foreachBatch sink for the COUNT-MIN frequency store — the third
    counter-store streaming surface: per micro-batch, append the batch's
    own sparse sketch cells; probe anytime with ``cms_estimate`` (which
    reads the raw history directly).  Hash parameters are part of the
    store identity.  Replay-idempotent the same way the histogram sink
    is: one deterministically named file per batch (cell counts add, so
    overwrite-not-append is what makes replays safe)."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        cms_store,
    )

    return _append_summary_sink(
        stream, store_dir, checkpoint,
        lambda b: cms_store(b, group_cols, value_col, depth, width, salt),
    )


def streaming_df_sink(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    text_col: str,
    id_col: str,
    delim: str = " ",
):
    """foreachBatch sink for the document-frequency store
    (operators/df_store.py) — per batch, append the batch's own
    (kind, term, n) additive rows beside the carried history: term df
    counts and the two meta rows (N, Σdl) all ADD across disjoint
    batches, so probes through ``compact_df_store``/``bm25_against_store``
    see the whole ingested corpus's statistics.  Effectively-once via
    the shared one-file-per-batch replay discipline; collapse with
    ``compact --kind df`` on an explicit cadence.  The disjoint-batch
    contract is the dedup sinks' output contract — point this sink at
    their ``out_dir`` stream, not at a raw crawl."""
    from evidence_datasource_parsers_spark.operators.df_store import (
        df_store_delta,
    )

    return _append_summary_sink(
        stream, store_dir, checkpoint,
        lambda b: df_store_delta(b, text_col, id_col, delim),
    )


def streaming_membership_sink(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    k: int = 4,
    m_bits: int = 65536,
    salt: str = "bloom",
    store_table: str | None = None,
    store_buckets: int = 32,
):
    """foreachBatch sink for the BLOOM membership store — the fourth
    counter-store streaming surface: per micro-batch, append the batch's
    own touched-word rows; probe anytime with ``bloom_member`` (which
    ORs the raw history directly).  ``k``/``m_bits``/``salt`` are the
    filter identity.  Doubly replay-safe: the per-batch file overwrite
    (``write_batch_summary``) AND the OR-merge's idempotence each absorb
    a replay on their own.

    ``store_table``: carry the store as a bucketed catalog TABLE on
    ``(group_cols…, __w)`` — ``bloom_member``'s (group, word) probe join
    then reads the corpus-scale history in place, zero store-side
    Exchange.  Safe for Bloom precisely because the OR-merge alone
    absorbs replays (the additive counter kinds must keep the
    file-overwrite form)."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        bloom_store,
    )

    def summarize(b):
        return bloom_store(b, group_cols, value_col, k, m_bits, salt)

    if store_table is not None:
        return _append_summary_sink_table(
            stream, store_dir, checkpoint, summarize, store_table,
            [*group_cols, "__w"], store_buckets,
        )
    return _append_summary_sink(stream, store_dir, checkpoint, summarize)


def streaming_sample_sink(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    group_cols: list[str],
    id_col: str,
    value_col: str,
    k: int = 256,
    salt: str = "bk",
):
    """foreachBatch sink for the BOTTOM-K sample store — the quantile
    member for distributions with no up-front edges: per micro-batch,
    append the batch's own bottom-k rows; probe anytime with
    ``sample_quantiles`` (which re-reduces the raw history first).
    ``k``/``salt`` are the sample identity; ``id_col`` must be unique
    across batches.  Doubly replay-safe like the Bloom sink: the
    per-batch file overwrite AND the reduction's idempotence (identical
    rows collapse before ranking) each absorb a replay.

    The sink records ``k`` in a ``_bottomk_meta.json`` sidecar — same
    identity discipline as the span gram cap: compacting/probing at the
    wrong k silently biases the sample.  The sidecar is stamped BEFORE
    the first append (sidecar-only dirs self-heal on replay: the stamp
    is atomic and re-validates as equal) and an existing store whose
    sidecar disagrees or is missing is REFUSED; a foreign/legacy dir is
    unstuck once with ``write_bottomk_store_meta(store_dir, k)``."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        bottomk_sample_store,
        read_bottomk_store_meta,
        write_bottomk_store_meta,
    )

    def summarize(b: DataFrame) -> DataFrame:
        if os.path.isdir(store_dir):
            recorded = read_bottomk_store_meta(store_dir)
            if recorded is None:
                raise ValueError(
                    f"bottom-k store {store_dir} has no "
                    "_bottomk_meta.json sidecar: its build k is "
                    f"unknown and probing/advancing at k={k} could "
                    "bias the sample. Stamp it once with "
                    "write_bottomk_store_meta(store_dir, <true k>)."
                )
            if recorded != k:
                raise ValueError(
                    f"bottom-k store {store_dir} was built with "
                    f"k={recorded}; this sink is configured with {k}"
                )
        else:
            # stamp-first: a crash between the stamp and the first
            # append leaves a sidecar-only dir the replay accepts
            write_bottomk_store_meta(store_dir, k)
        return bottomk_sample_store(b, group_cols, id_col, value_col, k, salt)

    return _append_summary_sink(
        stream, store_dir, checkpoint, summarize
    )


def write_batch_summary(
    summary: DataFrame, store_dir: str, token: str, batch_id: int
) -> None:
    """Land one micro-batch's summary rows as ONE deterministically named
    file — ``batch-{token}-{batch_id}.parquet`` via staging dir + atomic
    ``os.replace`` — so a replayed batch overwrites its earlier file
    instead of double-appending it.  The exactly-once primitive under the
    counter-store sinks; safe because counter summaries are aggregates
    bounded by the group/cell space, never the batch's row count."""
    import shutil
    import uuid as _uuid

    staging = f"{store_dir}__stage_{_uuid.uuid4().hex[:8]}"
    try:
        summary.coalesce(1).write.mode("overwrite").parquet(staging)
        parts = [
            f for f in os.listdir(staging)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        if not parts:  # empty batch — nothing to record
            return
        if len(parts) > 1:  # pragma: no cover — coalesce(1) contract
            raise RuntimeError(
                f"expected one part file in {staging}, got {parts}"
            )
        os.makedirs(store_dir, exist_ok=True)
        os.replace(
            os.path.join(staging, parts[0]),
            os.path.join(store_dir, f"batch-{token}-{batch_id}.parquet"),
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _append_summary_sink_table(
    stream, store_dir, checkpoint, summarize, store_table, bucket_cols,
    store_buckets,
):
    """Bucketed-TABLE twin of :func:`_append_summary_sink` for the
    counter kinds whose merge is IDEMPOTENT (HLL register maxima, Bloom
    word ORs): a replayed batch's duplicate rows are absorbed by the
    merge itself, so the table append needs no per-batch file-overwrite
    trick — the probe side then reads the carried history in place
    (zero store-side Exchange, plan-asserted), the same ``store_table``
    lifecycle as the dedup sinks: atomic first-batch create,
    ``_bucket_spec.json`` restart re-registration, ``compact --table``.
    The ADDITIVE kinds (histogram/CMS/df) must NOT ride this — a replay
    would double-count — which is why only the idempotent sinks expose
    ``store_table``."""
    owner_spark = stream.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_store_dir(store_dir)
        store = read_store(spark, store_dir, store_table)
        delta = summarize(batch_df).localCheckpoint(eager=True)
        if store is None:
            create_bucketed_store_atomic(
                spark, delta, store_dir, store_table, bucket_cols,
                store_buckets,
            )
        else:
            from evidence_datasource_parsers_spark.sources.sinks import (
                append_bucketed_store,
                store_bucket_identity,
            )

            acols, abuckets = store_bucket_identity(
                store_dir, bucket_cols, store_buckets
            )
            append_bucketed_store(delta, store_table, acols, abuckets)
        if owner_spark is not spark:
            owner_spark.catalog.refreshTable(store_table)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _append_summary_sink(stream, store_dir, checkpoint, summarize):
    """Shared shape of the counter-store sinks: summarize the batch into
    its own mergeable rows, append them beside the carried history —
    O(batch) I/O per micro-batch; compaction is an explicit-cadence
    operation (`compact_sketch_store` / `compact_histogram_store` /
    `compact_cms_store`).  recover_store_dir runs first so a store left
    mid-swap by a compaction (or an older-version crash) recovers.

    REPLAY-IDEMPOTENT: each micro-batch lands as ONE deterministically
    named file (``batch-{stream token}-{batch_id}.parquet``, atomic
    ``os.replace`` from a staging dir), so a foreachBatch replay — a crash
    between the append and the checkpoint commit — overwrites its own
    earlier file instead of double-appending it.  That upgrades the exact
    counters (histogram/CMS, where cell counts ADD) from at-least-once to
    effectively-once; single-file-per-batch is safe because the summaries
    are aggregates bounded by the group/cell space, never the batch's
    rows.  The stream token (a hash of the checkpoint path) keeps two
    different streams appending to one store from clobbering each other's
    batch files.  One caveat remains: do not run compaction while a
    stream is mid-crash — a replay after its history was collapsed would
    re-add the batch.
    """
    import hashlib

    token = hashlib.md5(checkpoint.encode()).hexdigest()[:8]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        recover_store_dir(store_dir)
        write_batch_summary(summarize(batch_df), store_dir, token, batch_id)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
