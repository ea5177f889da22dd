"""Exact duplicated-span removal — the suffix-array substring-dedup
formulation (Lee et al. 2022, "Deduplicating Training Data Makes Language
Models Better") re-expressed Spark-first.

Removing boilerplate at fixed non-overlapping window granularity is
fast, but a duplicated passage that straddles two windows survives.  This
module is the EXACT formulation at word-L-gram
granularity: a token is removed iff it sits inside some length-L token
window whose content occurs at least ``min_occurrences`` times in the
corpus.  That is precisely the token set covered by duplicated substrings
of >= L tokens (a duplicated span of M >= L tokens contributes M - L + 1
duplicated anchors covering all M tokens; a token in no duplicated L-window
is in no duplicated >= L-token span).

Spark-first shape — no suffix array is materialized; the same span set
falls out of three narrow relational stages:

  1. anchor inventory: per doc, every word-L-gram start position with a
     60-bit portable content hash (functions/hashing.py — identical in the
     DuckDB oracle).  Built with native HOFs (``transform`` over a
     ``sequence``, ``slice``, ``md5``) and ``posexplode`` — whole-stage
     codegen, no Python.  Row count is O(total corpus tokens), the same
     asymptotic cost a suffix array pays, but it streams: nothing is held
     per-executor beyond a hash + two longs per anchor.
  2. recurrence: groupBy the gram hash (map-side combined; shuffle keys are
     8-byte hashes, never text), keep hashes seen >= min_occurrences times,
     join back to the anchor inventory (the duplicated-gram table is
     heavy-tailed-small; AQE picks broadcast when it fits).
  3. maximal spans: per doc, sort anchor positions and merge runs — two
     anchors chain iff their L-windows overlap or touch (gap <= L), a
     single window + running-sum island pass, one shuffle on doc id.

At 100 TB the only wide stages are the hash-keyed count (combiner-friendly,
near-uniform md5 keys — no salting needed) and the doc-keyed island merge
(keyed by the corpus' natural partition key).  The join back is the one
data-size-proportional join and carries only (hash, doc, pos) triples.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.hashing import (
    HEX_CHARS,
    portable_hash_sql,
)

#: anchor-gram separator — byte 0x01 never appears in whitespace-split words
GRAM_SEP = "\x01"


def _words(text_col: Column) -> Column:
    """Whitespace tokenization shared with the oracle: trim, split on runs
    of whitespace, drop empties (an all-whitespace or NULL doc → [])."""
    return F.filter(
        F.split(F.trim(F.coalesce(text_col, F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )


def _gram_hash(words: Column, start0: Column, n: int) -> Column:
    """Portable 60-bit hash of the n words starting at 0-based ``start0``.

    Inlined twin of functions.hashing.portable_hash over the joined slice;
    the oracle computes ('0x' || substr(md5(...),1,15))::BIGINT of the same
    chr(1)-joined slice.
    """
    joined = F.concat_ws(GRAM_SEP, F.slice(words, start0 + F.lit(1), n))
    return F.conv(F.substring(F.md5(joined), 1, HEX_CHARS), 16, 10).cast(
        "long"
    )


def duplicated_anchor_positions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    min_occurrences: int = 2,
    persist: bool = True,
) -> DataFrame:
    """0-based start positions of every duplicated word-L-gram.

    Returns ``(id_col, pos)`` — one row per anchor whose L-gram content
    occurs >= min_occurrences times corpus-wide (within-doc repeats count,
    matching the substring-dedup definition).

    The anchor inventory feeds BOTH the recurrence count and the join-back;
    without pinning, each consumer re-runs the md5-per-token gram hashing —
    the dominant cost of the whole operator.  ``persist`` (default) pins
    the (id, pos, hash) triples — 24 bytes/token, MEMORY_AND_DISK so it
    spills rather than OOMs at corpus scale; pass False to trade a second
    hashing pass for zero storage (the right call on a cache-starved
    cluster).
    """
    anchors = _anchor_inventory(df, text_col, id_col, min_tokens)
    if persist:
        anchors = anchors.persist()
    dup = (
        anchors.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_occurrences)
        .select("__gh")
    )
    return anchors.join(dup, "__gh").select(id_col, "pos")


def _anchor_inventory(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """``(id_col, pos, __gh)`` — every word-n-gram start with its hash."""
    toks = df.select(id_col, _words(F.col(text_col)).alias("__w"))
    return (
        toks.where(F.size("__w") >= n)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("__w") - F.lit(n)),
                    lambda i: _gram_hash(F.col("__w"), i, n),
                )
            ).alias("pos", "__gh"),
        )
        .select(id_col, F.col("pos").cast("long").alias("pos"), "__gh")
    )


def _merge_islands(pos: DataFrame, id_col: str, n: int) -> DataFrame:
    """Maximal spans from duplicated anchor positions ``(id_col, pos)`` —
    the window + running-sum island pass shared by the at-rest and
    incremental tiers."""
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > n, 1).otherwise(0)
    island = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pos.withColumn("__isl", island)
        .groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("long").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    min_occurrences: int = 2,
    persist: bool = True,
) -> DataFrame:
    """Maximal duplicated token spans per document.

    Returns ``(id_col, span_start, span_end)`` with 0-based INCLUSIVE word
    indices: every token in [span_start, span_end] lies inside some
    duplicated L-gram window, and the spans are maximal (merging runs of
    anchors whose windows overlap or touch).
    """
    # anchors at p and q (p < q) chain iff window [q, q+n-1] overlaps or
    # touches [p, p+n-1], i.e. q - p <= n; a NULL lag (first anchor) is not
    # a break — CASE falls through to 0 on both engines
    pos = duplicated_anchor_positions(
        df, text_col, id_col, min_tokens, min_occurrences, persist
    )
    return _merge_islands(pos, id_col, min_tokens)


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    min_occurrences: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Excise every duplicated span and rebuild the text.

    Returns the input columns plus ``clean_text`` (surviving words joined
    by single spaces — whitespace is normalized as a side effect, matching
    the tokenization), ``n_tokens`` and ``n_removed_tokens``.  Documents
    with no duplicated span pass through with n_removed_tokens = 0.

    Pass a precomputed ``spans`` frame (from :func:`duplicated_spans` over
    the SAME df/params) when the caller also consumes the span table — the
    whole anchor→recurrence→merge chain then runs once, not twice.
    """
    if spans is None:
        spans = duplicated_spans(
            df, text_col, id_col, min_tokens, min_occurrences
        )
    return _excise(df, spans, text_col, id_col)


def _excise(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Excision tail shared by the at-rest and incremental tiers: drop the
    tokens covered by ``spans`` and rebuild ``clean_text`` per document."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = df.withColumn("__w", _words(F.col(text_col))).join(
        per_doc, id_col, "left"
    )
    sp = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    indexed = F.transform(
        F.col("__w"), lambda x, i: F.struct(x.alias("t"), i.alias("i"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            sp,
            lambda p: (s["i"] >= p["span_start"]) & (s["i"] <= p["span_end"]),
        ),
    )
    return (
        joined.withColumn(
            "clean_text",
            F.concat_ws(" ", F.transform(kept, lambda s: s["t"])),
        )
        .withColumn("n_tokens", F.size("__w").cast("long"))
        .withColumn(
            "n_removed_tokens",
            (F.size("__w") - F.size(kept)).cast("long"),
        )
        .drop("__w", "__spans")
    )


# --- oracle fragment (DuckDB dialect) --------------------------------------


def span_dedup_oracle_ctes(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    min_occurrences: int = 2,
) -> str:
    """DuckDB CTE chain replaying stages 1-3 bit-identically: ``sp_w``
    (token lists), ``sp_spans`` (maximal spans).  Kept beside the operator
    so the constants (separator, hash width, chain gap) can never drift."""
    n = min_tokens
    gram = f"array_to_string(w[i : i + {n - 1}], chr(1))"
    return f"""
    sp_w AS (SELECT {id_col},
                    list_filter(regexp_split_to_array(
                                    trim(coalesce({text_col}, '')), '\\s+'),
                                x -> x <> '') AS w
             FROM {table}),
    sp_g AS (SELECT {id_col}, CAST(i - 1 AS BIGINT) AS pos,
                    {portable_hash_sql(gram)} AS gh
             FROM sp_w, unnest(range(1, len(w) - {n} + 2)) AS t(i)
             WHERE len(w) >= {n}),
    sp_dup AS (SELECT gh FROM sp_g GROUP BY gh
               HAVING count(*) >= {min_occurrences}),
    sp_pos AS (SELECT {id_col}, pos FROM sp_g JOIN sp_dup USING (gh)),
    sp_brk AS (SELECT {id_col}, pos,
                      CASE WHEN pos - lag(pos) OVER
                             (PARTITION BY {id_col} ORDER BY pos) > {n}
                           THEN 1 ELSE 0 END AS brk
               FROM sp_pos),
    sp_isl AS (SELECT {id_col}, pos,
                      sum(brk) OVER (PARTITION BY {id_col} ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING) AS isl
               FROM sp_brk),
    sp_spans AS (SELECT {id_col}, min(pos) AS span_start,
                        CAST(max(pos) + {n - 1} AS BIGINT) AS span_end
                 FROM sp_isl GROUP BY {id_col}, isl)"""


# ---------------------------------------------------------------------------
# Incremental tier — the gram-count store, completing the fingerprint-store
# matrix (exact / LSH / SimHash / embedding / pHash / audio / video) for the
# substring-dedup modality.
# ---------------------------------------------------------------------------


class IncrementalSpanResult(NamedTuple):
    """Result of :func:`incremental_span_dedupe`.

    ``pinned`` is the persisted anchor frame both outputs derive from; call
    ``pinned.unpersist()`` after materializing ``cleaned`` and ``store``
    (the same no-leaked-cache contract as the LSH/pHash incremental ops).
    ``delta`` is the batch's store contribution alone — one
    ``(gram_hash, n_seen)`` row per batch gram not already saturated in
    the carried store: APPEND it to advance the on-disk store in
    O(batch), the same discipline as the hash-family stores.  Duplicate
    rows per gram across appends are the FORMAT (probes take the capped
    sum; see the saturation algebra note on the operator)."""

    cleaned: DataFrame
    store: DataFrame
    pinned: DataFrame
    delta: DataFrame


def incremental_span_dedupe(
    new_batch: DataFrame,
    gram_store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    min_occurrences: int = 2,
) -> IncrementalSpanResult:
    """Batch-over-batch exact substring dedup: excise from the NEW batch
    every token span whose L-gram content has occurred >= min_occurrences
    times across ALL ingested batches, without re-reading the historical
    corpus.

    ``gram_store`` carries ``(gram_hash, n_seen)`` rows with ``n_seen``
    SATURATED at min_occurrences — the marking test only needs "did the
    cumulative count reach the threshold", so counts never grow past it.
    The store may hold SEVERAL rows per gram (one per past append —
    probes take the capped SUM per gram), which is what makes the
    advance append-only: a compacted store (one row per gram) and a raw
    append history are both valid inputs.  Pass None on the first run.

    Saturation algebra (why the capped sum of capped per-batch terms is
    exact): min(cap, Σ min(bcᵢ, cap)) = min(cap, Σ bcᵢ) — if any term
    saturated, both sides are cap; otherwise every term is exact.  So
    appending each batch's saturated counts and capping at probe time
    matches the single merged saturating counter row for row, and a
    batch-2 document is cleaned exactly as the at-rest operator would
    clean it over the full union — property-tested.  The usual
    incremental caveat applies in the other direction: batch-1
    documents were cleaned with only batch-1 knowledge; a duplicate whose
    second copy arrives later is excised from the LATER copy only (same
    temporal semantics as the LSH/embedding stores, where the FIRST copy is
    the one retained).

    100 TB shape: the store is O(distinct grams) ≈ O(corpus tokens) rows of
    (8-byte hash, 1-byte count) — the same asymptotic state a suffix array
    carries, but mergeable and bucketable.  Write it bucketed by gram_hash
    (sources/sinks.py:write_bucketed_store), ADVANCE it by appending
    ``delta`` (grams already saturated in the store contribute no new
    row, so the history stops growing for boilerplate grams), and probe
    it with a store-side semi-join + a batch-bounded capped-sum
    aggregate — store-sized data is never shuffled per round.
    """
    n = min_tokens
    anchors = _anchor_inventory(new_batch, text_col, id_col, n).persist()
    batch_counts = anchors.groupBy(F.col("__gh").alias("gram_hash")).agg(
        F.count(F.lit(1)).alias("__bc")
    )
    if gram_store is not None:
        # probe: only store rows for grams PRESENT in the batch matter;
        # the semi-join reads the (bucketed) store in place and the
        # capped-sum aggregate is batch-bounded
        hits = (
            gram_store.select("gram_hash", "n_seen")
            .join(
                batch_counts.select("gram_hash"),
                on="gram_hash",
                how="left_semi",
            )
            .groupBy("gram_hash")
            .agg(
                F.least(
                    F.sum("n_seen"), F.lit(min_occurrences)
                ).cast("long").alias("__sc")
            )
        )
        merged = batch_counts.join(hits, "gram_hash", "left").select(
            "gram_hash",
            F.col("__bc"),
            F.coalesce(F.col("__sc"), F.lit(0)).alias("__sc"),
        )
    else:
        merged = batch_counts.select(
            "gram_hash", "__bc", F.lit(0).cast("long").alias("__sc")
        )
    total = F.col("__bc") + F.col("__sc")
    # delta: saturated batch counts for grams the store hasn't saturated
    # yet — appending nothing for already-saturated grams both bounds the
    # history and keeps the capped-sum algebra exact
    delta = merged.where(F.col("__sc") < min_occurrences).select(
        "gram_hash",
        F.least(F.col("__bc"), F.lit(min_occurrences))
        .cast("long").alias("n_seen"),
    )
    store = (
        gram_store.select("gram_hash", "n_seen").unionByName(delta)
        if gram_store is not None
        else delta
    )
    dup = (
        merged.where((total >= min_occurrences) & (F.col("__bc") > 0))
        .select(F.col("gram_hash").alias("__gh"))
    )
    pos = anchors.join(dup, "__gh").select(id_col, "pos")
    spans = _merge_islands(pos, id_col, n)
    cleaned = _excise(new_batch, spans, text_col, id_col)
    return IncrementalSpanResult(
        cleaned=cleaned, store=store, pinned=anchors, delta=delta
    )
