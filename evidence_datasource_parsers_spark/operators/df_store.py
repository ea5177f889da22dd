"""Incremental document-frequency store — corpus retrieval statistics
(BM25/IDF) carried batch-over-batch.

``functions/tfidf.py`` scores documents against the corpus they sit in:
every call re-tokenizes the corpus to rebuild ``doc_freq``, ``N`` and
``avgdl``.  A refresh loop needs the opposite shape — score a NEW batch
with the statistics of everything ingested so far, without rescanning
history.  This module carries those statistics as the engine's 12th
append-only store:

    (kind string, term string, n long)

* ``kind='df'``   — one row per term: the number of ingested docs
  containing it.  Counts ADD across appends (the same additive-delta
  algebra as the span gram store), so advancing the store is appending
  the batch's own distinct-term counts — O(batch) I/O, no rewrite.
* ``kind='meta'`` — two reserved rows: ``('__n_docs', N)`` (docs with at
  least one token, matching ``term_relevance``'s N) and
  ``('__sum_dl', Σdl)`` (total tokens).  Reserved names cannot collide
  with real terms: ``kind`` separates the namespaces, not the spelling.

Contract: batches must be DISJOINT document sets (the dedup stages
upstream guarantee exactly that) — a re-ingested doc would double-count
its terms.  Compaction (``compact_df_store``) is the usual
explicit-cadence sum-per-key collapse; persist with
``sinks.write_bucketed_store(..., ["term"], n)`` so the per-batch probe
reads the store in place (the query-term filter prunes the bucketed
scan; the surviving ≤|query| rows broadcast back into the batch join).

Vocabulary scale: the store is VOCABULARY-sized, not corpus-sized —
Zipf bounds distinct terms orders of magnitude below token count, and a
hot term costs one row regardless of frequency.

Reference parity note: the reference has no retrieval scoring (grep
clean); beyond-parity capability for the LLM-pipeline use case, same
family as operators/dedupe.py's carried stores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "DF_STORE_SCHEMA",
    "bm25_against_store",
    "compact_df_store",
    "df_store_delta",
    "df_store_stats",
]

DF_STORE_SCHEMA = "kind string, term string, n long"

_N_DOCS = "__n_docs"
_SUM_DL = "__sum_dl"


def df_store_delta(
    batch: DataFrame,
    text_col: str,
    id_col: str,
    delim: str = " ",
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """The batch's additive store contribution.

    One tokenize+explode pass: per-doc distinct terms → per-term doc
    counts, plus the two meta rows derived from the same tf frame (dl =
    Σtf per doc — never a second token pass, the ``term_relevance``
    discipline).  NULL-text docs contribute nothing, including to N —
    identical to the at-rest scorer's convention.

    ``exclude_ids`` enforces the module's disjoint-batch contract when
    the caller cannot guarantee it upstream: a frame whose FIRST column
    holds already-ingested document ids (e.g. the ids previously shipped
    to the corpus ``out`` dir, or a seen-store projection) — batch docs
    matching it are anti-joined away BEFORE counting, so a re-ingested
    document cannot silently double-count its terms and inflate N/Σdl
    (the additive algebra has no natural absorption for replays, unlike
    HLL register maxima).  Pipelines that feed this from a dedup
    operator's ``fresh`` output are disjoint by construction and can
    leave it None.
    """
    # function-local import: functions/tfidf itself imports from the
    # operators package, so a module-level import here is a cycle when
    # operators/__init__ loads this module first
    from evidence_datasource_parsers_spark.functions.tfidf import tokenize

    if exclude_ids is not None:
        seen = exclude_ids.select(
            F.col(exclude_ids.columns[0]).alias(id_col)
        )
        batch = batch.join(seen, on=id_col, how="left_anti")
    tok = batch.select(
        F.col(id_col).alias("__id"),
        F.explode(tokenize(F.col(text_col), delim)).alias("term"),
    )
    tf = tok.groupBy("__id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("__tf")
    )
    df_rows = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.lit("df").alias("kind"), "term", "n")
    dl = tf.groupBy("__id").agg(F.sum("__tf").alias("__dl"))
    meta = dl.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.coalesce(F.sum("__dl"), F.lit(0)).cast("long").alias("__s"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("meta").alias("kind"),
                    F.lit(_N_DOCS).alias("term"),
                    F.col("__n").alias("n"),
                ),
                F.struct(
                    F.lit("meta").alias("kind"),
                    F.lit(_SUM_DL).alias("term"),
                    F.col("__s").alias("n"),
                ),
            )
        ).alias("__r")
    ).select("__r.*")
    return df_rows.unionByName(meta)


def compact_df_store(store: DataFrame) -> DataFrame:
    """Explicit-cadence collapse: sum the additive rows per (kind, term).
    Meta rows sum too — N and Σdl are additive across disjoint batches by
    construction."""
    return store.groupBy("kind", "term").agg(
        F.sum("n").cast("long").alias("n")
    )


def df_store_stats(store: DataFrame) -> DataFrame:
    """One-row frame ``(__n double, __sumdl double)`` from the meta rows —
    the in-plan corpus scalars (crossJoin-broadcast it, never collect)."""
    return (
        store.where(F.col("kind") == "meta")
        .groupBy()
        .agg(
            F.sum(F.when(F.col("term") == _N_DOCS, F.col("n")))
            .cast("double")
            .alias("__n"),
            F.sum(F.when(F.col("term") == _SUM_DL, F.col("n")))
            .cast("double")
            .alias("__sumdl"),
        )
    )


def bm25_against_store(
    batch: DataFrame,
    store: DataFrame,
    query_terms: list[str],
    text_col: str,
    id_col: str,
    *,
    delim: str = " ",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-doc BM25 of BATCH docs for a bag-of-terms query, scored with
    the STORE's corpus statistics (df / N / avgdl from history, tf / dl
    from the batch) — the search-engine shape: fresh documents ranked by
    what the whole ingested corpus knows about term rarity.

    Exact formula parity with ``functions/tfidf.py`` (same idf_bm25 /
    avgdl expressions), so a store built from a corpus in ONE batch
    scores that corpus identically to the at-rest ``term_relevance``
    BM25 summed over the query terms — equivalence-tested.  A query term
    the store has never seen takes df = 0 (maximal idf), via the left join's
    coalesce.  Docs sharing no query term are absent (score 0 by
    convention, same as the at-rest scorer).

    A store with NO meta rows (never advanced, or filtered to
    ``kind='df'``) has no N/avgdl to score with — every bm25 would come
    out NULL.  That degenerate probe FAILS LOUDLY at execution (an
    in-plan assert on the one-row stats frame, no extra driver job)
    instead of returning silently-NULL scores (ADVICE r11).

    Plan shape: the ``isin`` lands on the store's bucketed scan (pruned
    read, ≤|query| surviving rows → broadcast back) and on the batch's
    tf aggregate; the corpus scalars ride a broadcast 1-row crossJoin
    (the F7 in-plan-scalar pattern).  Nothing store-sized shuffles.
    """
    from evidence_datasource_parsers_spark.functions.tfidf import tokenize

    terms = [t for t in query_terms]
    tok = batch.select(
        F.col(id_col),
        F.explode(tokenize(F.col(text_col), delim)).alias("term"),
    )
    tf = tok.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    qtf = tf.where(F.col("term").isin(terms))
    dfreq = (
        store.where((F.col("kind") == "df") & F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("n").cast("long").alias("doc_freq"))
    )
    # in-plan guard: assert_true raises at execution when the store has
    # no meta rows; expressed as a `when` over the assert's NULL result
    # so column pruning can never drop it (an unused assert column would
    # be optimized away)
    valid = F.col("__n").isNotNull() & (F.col("__n") > 0)
    err = F.lit(
        "bm25_against_store: store has no meta rows (kind='meta') — "
        "advance it with df_store_delta at least once before probing"
    )
    stats = df_store_stats(store).select(
        F.when(F.assert_true(valid, err).isNull(), F.col("__n")).alias(
            "__n"
        ),
        "__sumdl",
    )
    n, dfq = F.col("__n"), F.col("doc_freq").cast("double")
    idf_bm25 = F.log(
        F.lit(1.0) + (n - dfq + F.lit(0.5)) / (dfq + F.lit(0.5))
    )
    avgdl = F.col("__sumdl") / n
    tfd = F.col("tf").cast("double")
    bm25 = (
        idf_bm25
        * (tfd * F.lit(k1 + 1.0))
        / (
            tfd
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
        )
    )
    scored = (
        qtf.join(dl, on=id_col)
        .join(F.broadcast(dfreq), on="term", how="left")
        .withColumn("doc_freq", F.coalesce(F.col("doc_freq"), F.lit(0)))
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), bm25.alias("__bm25"))
    )
    return scored.groupBy(id_col).agg(
        F.sum("__bm25").alias("bm25_score")
    )
