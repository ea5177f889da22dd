"""Training-data-pipeline query catalog: text analysis, dedup, similarity.

These queries exercise the LLM-data operators (operators/dedupe.py,
operators/similarity.py, functions/textstats.py) on the ``documents`` and
``embeddings`` tables.  The DuckDB oracles are *generated* from the same
constants (permutation coefficients, shingle width, stopword lists) so both
engines compute bit-identical results via the portable md5 hash family.

Registered into the shared CATALOG on import.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.hashing import (
    P_BASE,
    P_PERM,
    perm_coefficients,
    portable_hash_sql,
)
from evidence_datasource_parsers_spark.functions.urls import (
    canonicalize_url_sql,
    registrable_domain_sql,
)
from evidence_datasource_parsers_spark.functions.quality import (
    KNUTH,
    WEIGHT_SCALE,
    placeholder_weight,
    token_bucket,
)
from evidence_datasource_parsers_spark.functions.textstats import (
    LANG_STOPWORDS,
    STOPWORDS_EN,
    bpe_like_token_count,
)
from evidence_datasource_parsers_spark.operators.fuzzy_join import (
    edit_distance_self_join,
)
from evidence_datasource_parsers_spark.operators.dedupe import (
    char_shingles,
    exact_dedupe,
    incremental_lsh_dedupe,
    incremental_simhash_dedupe,
    lsh_candidate_pairs_from_buckets,
    lsh_fingerprints,
    minhash_signatures_exploded,
    normalized_text,
    simhash_fingerprints,
)
from evidence_datasource_parsers_spark.operators.similarity import (
    COS_QUANT_DECIMALS,
    brute_force_topk,
    deterministic_planes,
    quantize_sql,
)
from evidence_datasource_parsers_spark.plans.catalog import (
    CATALOG,
    cents,
    load,
    rebalance,
    register,
)

# --- shared oracle fragments (DuckDB dialect) ------------------------------

NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
SHINGLE_K = 5
WORD_SHINGLE_N = 3
QUALITY_BUCKETS = 4096


def _shingles_sql(t: str = "t") -> str:
    """Distinct 5-char shingle list of a normalized text expr (oracle side)."""
    return (
        f"list_distinct(list_transform("
        f"range(greatest(length({t}) - {SHINGLE_K - 1}, 1)), "
        f"i -> substr({t}, i + 1, {SHINGLE_K})))"
    )


def _word_shingles_sql(t: str = "t") -> str:
    """Distinct 3-word shingle list of the normalized text ``t``."""
    n = WORD_SHINGLE_N
    return (
        f"list_distinct(list_transform("
        f"range(greatest(len(string_split({t}, ' ')) - {n - 1}, 1)), "
        f"i -> array_to_string(string_split({t}, ' ')[i + 1 : i + {n}], ' ')))"
    )


def _bases_sql() -> str:
    return (
        f"list_transform({_word_shingles_sql()}, "
        f"s -> ({portable_hash_sql('s')} % {P_BASE}))"
    )


def _minhash_sql(i: int) -> str:
    a, b = perm_coefficients(i)
    return f"list_min(list_transform(bases, b -> ({a} * b + {b}) % {P_PERM}))"


def _sw(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _lang_hits_sql() -> str:
    cols = []
    for code, sw in sorted(LANG_STOPWORDS.items()):
        cols.append(
            f"len(list_filter(toks, x -> x IN ({_sw(sw)}))) AS h_{code}"
        )
    return ", ".join(cols)


def _synth_url():
    """Deterministic messy crawl URL per document — mixed-case scheme/host,
    a stripped default port on every 3rd doc, a trailing slash on every
    5th, tracking params, unsorted params, a fragment.  The q29 oracle
    derives the CANONICAL form independently (plain string construction),
    so the canonicalizer's whole policy is value-hash checked."""
    doc = F.col("doc_id")
    scheme = F.when(doc % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    tld = F.when(doc % 2 == 0, F.lit("Com")).otherwise(F.lit("CO.UK"))
    port = F.when(
        doc % 3 == 0,
        F.when(doc % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
    ).otherwise(F.lit(""))
    trail = F.when(doc % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    return F.concat(
        scheme,
        F.lit("://WWW."),
        F.upper(F.col("source")),
        F.lit(".Example."),
        tld,
        port,
        F.lit("/p/"),
        doc.cast("string"),
        trail,
        F.lit("?utm_source=x&z="),
        F.col("lang"),
        F.lit("&a=1#frag"),
    )


def _synth_url_sql() -> str:
    """SQL-string twin of :func:`_synth_url` (r13 driver-time shave —
    feeds the url SQL twins so the two URL output columns parse in one
    py4j round trip each; value-identity vs the Column form is covered
    by the q29 oracle, which derives the canonical form independently)."""
    scheme = "CASE WHEN (doc_id % 2) = 0 THEN 'HTTP' ELSE 'https' END"
    tld = "CASE WHEN (doc_id % 2) = 0 THEN 'Com' ELSE 'CO.UK' END"
    port = (
        "CASE WHEN (doc_id % 3) = 0 THEN "
        "CASE WHEN (doc_id % 2) = 0 THEN ':80' ELSE ':443' END "
        "ELSE '' END"
    )
    trail = "CASE WHEN (doc_id % 5) = 0 THEN '/' ELSE '' END"
    return (
        f"concat({scheme}, '://WWW.', upper(source), '.Example.', {tld}, "
        f"{port}, '/p/', CAST(doc_id AS STRING), {trail}, "
        f"'?utm_source=x&z=', lang, '&a=1#frag')"
    )


@register(
    "q29_doc_stats",
    f"""
    WITH n AS (SELECT doc_id, lang, {NORM} AS t FROM documents),
    tk AS (SELECT doc_id, lang, t, string_split(t, ' ') AS toks FROM n),
    h AS (SELECT doc_id, lang, t, toks, {_lang_hits_sql()} FROM tk)
    SELECT doc_id,
           length(t) AS n_chars_norm,
           len(toks) AS n_tokens,
           CAST(ceil(length(t) / 4.0) AS BIGINT) AS est_bpe_tokens,
           CAST(len(regexp_extract_all(t, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]'))
                AS INT) AS bpe_tokens,
           len(list_filter(toks, x -> x IN ({_sw(STOPWORDS_EN)}))) * 1.0
               / len(toks) AS stopword_ratio,
           CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT)
               * 1.0 / len(toks) AS mean_token_len,
           CAST(list_sum(list_transform(toks,
                x -> ((('0x' || substr(md5(x || ':quality'), 1, 15))::BIGINT
                       % {QUALITY_BUCKETS}) * {KNUTH}) % {2 * WEIGHT_SCALE + 1}
                     - {WEIGHT_SCALE})) AS BIGINT)
               / ({WEIGHT_SCALE} * len(toks)) AS lexical_score,
           lang AS lang_label,
           h_de AS hits_de, h_en AS hits_en, h_es AS hits_es, h_fr AS hits_fr,
           h_it AS hits_it, h_pt AS hits_pt,
           CASE WHEN h_pt >= h_it AND h_pt >= h_fr AND h_pt >= h_es
                     AND h_pt >= h_en AND h_pt >= h_de THEN 'pt'
                WHEN h_it >= h_fr AND h_it >= h_es AND h_it >= h_en
                     AND h_it >= h_de THEN 'it'
                WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
                WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
                WHEN h_en >= h_de THEN 'en'
                ELSE 'de' END AS lang_guess,
           -- canonical form of the synthesized crawl URL, derived
           -- INDEPENDENTLY of the Spark-side canonicalizer: lowered
           -- scheme/host, default port gone, tracking params gone,
           -- params sorted, fragment gone, trailing slash trimmed
           lower(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
             || '://www.' || s.source || '.example.'
             || (CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'co.uk' END)
             || '/p/' || CAST(doc_id AS VARCHAR)
             || '?a=1&z=' || lang AS canon_url,
           'example.' || (CASE WHEN doc_id % 2 = 0 THEN 'com'
                          ELSE 'co.uk' END) AS url_domain
    FROM h JOIN (SELECT doc_id AS sid, lower(source) AS source
                 FROM documents) s ON s.sid = h.doc_id
    """,
    tags=("text", "quality", "token-count", "lang-id"),
    bench=True,
)
def q29(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring + token counting + stopword-heuristic language ID over
    documents — all built-ins, one narrow pass, no shuffle.  Language guess
    is per-language stopword hit counts → argmax (ties → greatest language
    code, mirrored in the oracle CASE chain).  ``lexical_score`` is the
    hashing-trick linear quality model (functions/quality.py): integer
    bucket weights summed over the staged token array, one exact division —
    the oracle replays bucket, weight family, and accumulator bit-for-bit.
    ``canon_url``/``url_domain`` run the URL canonicalizer
    (functions/urls.py) over a synthesized messy crawl URL (mixed case,
    default ports, tracking params, fragment, trailing slash); the oracle
    constructs the expected canonical string INDEPENDENTLY, so the whole
    normalization policy is value-checked rather than replayed.

    rebalance() re-audited after the regex-BPE leg made the per-row stage
    heavier: sf0.1 min-of-3 cold-cache 0.74s with vs 0.99s without — the
    fan-out shuffle still pays for itself, kept."""
    d = rebalance(spark, load(spark, sf, "documents"), memo_key=(sf, "documents"))
    # materialize normalization + tokenization once; every stat references
    # the columns instead of inlining the regexp pipeline per expression
    staged = d.withColumn("__t", normalized_text(F.col("text"))).withColumn(
        "__toks", F.split(F.col("__t"), " ")
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    toks, t = F.col("__toks"), F.col("__t")
    # hits reuse the staged (already-lowercased, already-split) token
    # array: the raw-text stopword_hits path re-tokenizes per language —
    # 12 extra array passes across 6 languages + the guess (measured
    # ~0.2s at sf0.1).  Same values: __t is lowercase and stopwords are
    # single lowercase words, so the token SET matches raw tokenization.
    # Materialize each language's hit count ONCE behind a projection
    # boundary (r13): the filter/array_contains HOF is CodegenFallback —
    # interpreted, no subexpression elimination — so inlining the same
    # count into both the output column AND the argmax struct ran every
    # language's token scan twice (12 scans per row).  Referencing the
    # named columns halves that (measured median 2.12s → 1.40s on this
    # stage's isolated run; guess values identical — same counts, same
    # max-struct tie semantics).  Built as SQL strings — one py4j round
    # trip per language instead of one per expression node (the r13
    # driver-time shave; the parsed filter/array_contains tree is the
    # same one the Column API produced).
    def _hits(sw_l):
        # escape quotes/backslashes: LANG_STOPWORDS is documented as
        # swappable, and a word like "l'" must survive the SQL literal
        arr = ", ".join(
            "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'"
            for w in sw_l
        )
        return F.expr(
            f"size(filter(__toks, x -> array_contains(array({arr}), x)))"
        )

    codes = sorted(LANG_STOPWORDS)
    staged = staged.withColumns(
        {f"hits_{code}": _hits(LANG_STOPWORDS[code]) for code in codes}
    )
    hit_cols = [F.col(f"hits_{code}") for code in codes]
    guess = F.array_max(
        F.array(
            *[
                F.struct(
                    F.col(f"hits_{code}").alias("hits"),
                    F.lit(code).alias("code"),
                )
                for code in codes
            ]
        )
    )["code"]
    return staged.select(
        "doc_id",
        F.length(t).alias("n_chars_norm"),
        F.size(toks).alias("n_tokens"),
        F.ceil(F.length(t) / 4.0).alias("est_bpe_tokens"),
        bpe_like_token_count(t).alias("bpe_tokens"),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
            * 1.0
            / F.size(toks)
        ).alias("stopword_ratio"),
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            * 1.0
            / F.size(toks)
        ).alias("mean_token_len"),
        (
            F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda a, x: a
                + placeholder_weight(token_bucket(x, QUALITY_BUCKETS)),
            )
            / (F.lit(WEIGHT_SCALE) * F.size(toks))
        ).alias("lexical_score"),
        F.col("lang").alias("lang_label"),
        *hit_cols,
        guess.alias("lang_guess"),
        # URL legs as parsed SQL strings (r13): the canonicalizer's
        # Column form cost ~100 driver round trips per call; the SQL
        # twins build the identical tree in one (alpha-equivalent
        # plans + value equality pinned in tests/test_urls.py)
        F.expr(canonicalize_url_sql(_synth_url_sql())).alias("canon_url"),
        F.expr(registrable_domain_sql(_synth_url_sql())).alias("url_domain"),
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@register(
    "q32_exact_dedupe",
    f"""
    SELECT {portable_hash_sql(NORM)} AS content_hash,
           min(doc_id) AS doc_id,
           count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
    tags=("dedup", "exact"),
    bench=True,
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: hash-groupBy keeping the lowest doc_id (uniform 60-bit
    shuffle key — no skew at any scale)."""
    return exact_dedupe(load(spark, sf, "documents"), "text", "doc_id")


MINHASH_PERMS = 16
LSH_BANDS = 4


def _sig_list_sql() -> str:
    mins = ", ".join(_minhash_sql(i) for i in range(MINHASH_PERMS))
    return f"""
    WITH n AS (SELECT doc_id, {NORM} AS t FROM documents),
    sh AS (SELECT doc_id, {_bases_sql()} AS bases FROM n),
    sig AS (SELECT doc_id, [{mins}] AS s FROM sh)
    """


@register(
    "q33_minhash_signature",
    _sig_list_sql()
    + """
    SELECT doc_id, array_to_string(s, '_') AS minhash_sig FROM sig
    """,
    tags=("dedup", "minhash"),
    bench=True,
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures (16 permutations over 3-word shingles), stringified
    for stable hashing.  Explode + aggregate formulation: fully codegen'd,
    map-side partial combine, shuffle carries 16 longs per doc partition.

    rebalance() added r13: the single-row-group local file plans as ONE
    scan partition, serializing the md5-per-shingle leg on one core
    (median 1.15s → 0.95s isolated; the helper now skips itself on
    well-partitioned input, so this costs nothing at cluster scale)."""
    d = rebalance(spark, load(spark, sf, "documents"), memo_key=(sf, "documents"))
    sig = minhash_signatures_exploded(
        d, "doc_id", "text", "__sig", MINHASH_PERMS, WORD_SHINGLE_N, mode="word"
    )
    return sig.select("doc_id", F.concat_ws("_", "__sig").alias("minhash_sig"))


def _bucket_union_sql() -> str:
    rpb = MINHASH_PERMS // LSH_BANDS
    selects = []
    for b in range(LSH_BANDS):
        key = " || '_' || ".join(
            f"CAST(s[{b * rpb + r + 1}] AS VARCHAR)" for r in range(rpb)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS key FROM sig"
        )
    return " UNION ALL ".join(selects)


INCR_EST_THRESHOLD = 0.5


@register(
    "q34_lsh_candidates",
    _sig_list_sql()
    + f""",
    buckets AS ({_bucket_union_sql()}),
    pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, 'pair' AS src
      FROM buckets l JOIN buckets r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    ch AS (SELECT doc_id, coalesce({portable_hash_sql(NORM)}, -1) AS ch
           FROM documents),
    surv AS (SELECT min(doc_id) AS doc_id
             FROM ch WHERE doc_id % 2 = 1 GROUP BY ch),
    exact_drop AS (
      SELECT c.doc_id FROM ch c JOIN surv s ON c.doc_id = s.doc_id
      WHERE c.ch IN (SELECT ch FROM ch WHERE doc_id % 2 = 0)
    ),
    near_drop AS (
      SELECT DISTINCT nb.doc_id
      FROM buckets nb
      JOIN surv s ON nb.doc_id = s.doc_id
      JOIN buckets sb ON nb.band = sb.band AND nb.key = sb.key
                     AND sb.doc_id % 2 = 0
      JOIN sig sn ON sn.doc_id = nb.doc_id
      JOIN sig ss ON ss.doc_id = sb.doc_id
      WHERE len(list_filter(range({MINHASH_PERMS}),
                            i -> sn.s[i+1] = ss.s[i+1]))
            * 1.0 / {MINHASH_PERMS} >= {INCR_EST_THRESHOLD}
    ),
    incr AS (
      SELECT s.doc_id AS id_a, CAST(NULL AS BIGINT) AS id_b,
             'incr_fresh' AS src
      FROM surv s
      WHERE s.doc_id NOT IN (SELECT doc_id FROM exact_drop)
        AND s.doc_id NOT IN (SELECT doc_id FROM near_drop)
    )
    SELECT * FROM pairs UNION ALL SELECT * FROM incr
    """,
    tags=("dedup", "minhash", "lsh", "incremental"),
    bench=True,
)
def q34(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup dedup, at-rest AND incremental.

    Leg 1 (src='pair'): candidate pairs over the whole corpus (4 bands ×
    4 rows, similarity threshold ≈ (1/b)^(1/r) ≈ 0.7) — the shuffle key is
    the band bucket, never the text.

    Leg 2 (src='incr_fresh'): the batch-refresh story — even doc_ids play
    the historical corpus (their persisted :func:`lsh_fingerprints` rows
    are the ONLY state carried), odd doc_ids play a new crawl batch;
    :func:`incremental_lsh_dedupe` drops re-crawls that exact-match OR
    near-match (estimated Jaccard ≥ 0.5) the store, and the surviving
    fresh doc ids are emitted with a NULL id_b.  The oracle recomputes
    both legs from the same hash constants, so a drift in the store
    schema, the estimator, or the threshold breaks the value hash.

    Single-scan shape: the corpus fingerprints (signature + content hash +
    band keys) are computed ONCE and persisted; the at-rest pair leg
    self-joins their bucket rows, the store is the even slice, and the
    incremental leg reuses the odd slice via ``batch_fingerprints`` — at
    100 TB the signature pass IS the corpus scan, so every derived consumer
    must share it rather than re-hash."""
    # rebalance ONLY feeds the fingerprint pass (the md5-per-shingle fan-out
    # it exists for); the incremental leg's new_batch is the RAW scan — its
    # only consumer is a broadcast semi-join probe with no partitioning
    # requirement, and routing the rebalanced frame there left a pointless
    # RoundRobinPartitioning exchange in the fresh-output leg (r13: plan
    # shows Exchange(62) gone, median 2.01s → 1.79s isolated).
    d_raw = load(spark, sf, "documents")
    d = rebalance(spark, d_raw, memo_key=(sf, "documents"))
    fp = lsh_fingerprints(
        d,
        "text",
        "doc_id",
        num_perm=MINHASH_PERMS,
        bands=LSH_BANDS,
        k=WORD_SHINGLE_N,
        mode="word",
    ).persist()
    pairs = lsh_candidate_pairs_from_buckets(
        fp.select("doc_id", "band", "key"), "doc_id"
    ).select("id_a", "id_b", F.lit("pair").alias("src"))
    res = incremental_lsh_dedupe(
        d_raw.filter(F.col("doc_id") % 2 == 1),
        fp.filter(F.col("doc_id") % 2 == 0),
        "text",
        "doc_id",
        num_perm=MINHASH_PERMS,
        bands=LSH_BANDS,
        k=WORD_SHINGLE_N,
        mode="word",
        threshold=INCR_EST_THRESHOLD,
        batch_fingerprints=fp.filter(F.col("doc_id") % 2 == 1),
        persist_fp=False,  # fp is persisted above; the filter rides its cache
    )
    incr = res.fresh.select(
        F.col("doc_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.lit("incr_fresh").alias("src"),
    )
    return pairs.unionByName(incr)


from evidence_datasource_parsers_spark.functions.fingerprint import (
    MOD_SMALL as WINNOW_MOD,
)

WINNOW_K = 5
WINNOW_W = 4
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3
SIMHASH_BLOCKS = 6


def _simhash_bits_sql() -> str:
    terms = []
    for j in range(SIMHASH_BITS):
        terms.append(
            f"(CASE WHEN 2 * len(list_filter(hs, x -> (x >> {j}) & 1 = 1)) > n "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "q35_simhash",
    f"""
    WITH n AS (SELECT doc_id, {NORM} AS t FROM documents),
    tk AS (SELECT doc_id, t, list_distinct(string_split(t, ' ')) AS toks FROM n),
    h AS (SELECT doc_id, t,
                 list_transform(toks, s -> {portable_hash_sql('s')}) AS hs,
                 len(toks) AS n
          FROM tk),
    fp AS (SELECT doc_id,
                  {portable_hash_sql('t')} AS ch,
                  CAST({_simhash_bits_sql()} AS BIGINT) AS sim
           FROM h),
    evens AS (SELECT * FROM fp WHERE doc_id % 2 = 0),
    odds AS (
      SELECT min(doc_id) AS doc_id, ch, min(sim) AS sim
      FROM fp WHERE doc_id % 2 = 1 GROUP BY ch
    ),
    surv AS (
      SELECT o.* FROM odds o
      WHERE NOT EXISTS (SELECT 1 FROM evens e WHERE e.ch = o.ch)
        AND NOT EXISTS (SELECT 1 FROM evens e
                        WHERE bit_count(xor(e.sim, o.sim))
                              <= {SIMHASH_MAX_HAMMING})
    )
    SELECT doc_id, ch AS content_hash, sim AS simhash, 'sig' AS src FROM fp
    UNION ALL
    SELECT doc_id, ch AS content_hash, sim AS simhash, 'incr_fresh' AS src
    FROM surv
    UNION ALL
    SELECT doc_id, fphash AS content_hash, CAST(NULL AS BIGINT) AS simhash,
           'winnow' AS src
    FROM (
        WITH wtok AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(coalesce(text, '')),
                                       '\\s+', ' ', 'g')) AS wt
            FROM documents WHERE doc_id % 10 = 0
        ), wg AS (
            SELECT doc_id,
                   CASE WHEN length(wt) >= {WINNOW_K}
                        THEN list_transform(
                            range(1, length(wt) - {WINNOW_K} + 2),
                            i -> list_reduce(
                                list_prepend(CAST(0 AS BIGINT),
                                    list_transform(range(i, i + {WINNOW_K}),
                                        j -> CAST(ord(substr(wt, j, 1))
                                                  AS BIGINT))),
                                (a, c) -> (a * 257 + c) % {WINNOW_MOD}))
                        ELSE CAST([] AS BIGINT[]) END AS hs
            FROM wtok
        ), wsel AS (
            SELECT doc_id,
                   CASE WHEN len(hs) >= {WINNOW_W}
                        THEN list_transform(
                            range(1, len(hs) - {WINNOW_W} + 2),
                            i -> list_min(
                                list_slice(hs, i, i + {WINNOW_W} - 1)))
                        WHEN len(hs) > 0 THEN [list_min(hs)]
                        ELSE CAST([] AS BIGINT[]) END AS sel
            FROM wg
        )
        SELECT doc_id, unnest(list_sort(list_distinct(sel))) AS fphash
        FROM wsel
    )
    """,
    tags=("dedup", "simhash", "fingerprint", "incremental", "winnowing"),
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash fingerprinting, at-rest AND incremental.

    Leg 1 (src='sig'): per-document 32-bit SimHash (bit j set iff the
    majority of distinct-token hashes have bit j set) plus the portable
    60-bit content hash — both families in one narrow pass.

    Leg 2 (src='incr_fresh'): the hamming-distance batch-refresh story —
    even doc_ids play the historical corpus (their persisted
    :func:`simhash_fingerprints` rows are the ONLY state carried, ONE
    16-byte row per doc), odd doc_ids play a new crawl batch;
    :func:`incremental_simhash_dedupe` drops re-crawls that exact-match OR
    land within hamming distance {SIMHASH_MAX_HAMMING} of the store, with
    candidates generated by the Manku-Jain-Das-Sarma block-combination
    pigeonhole tables (C(6,3)=20 exact equi-joins — never a cross join).
    The oracle replays the net semantics (min hamming <= d) directly, so a
    drift in the fingerprint, the block split, or the verify predicate
    breaks the value hash.

    Single-scan shape as in q34: fingerprints computed once, persisted;
    leg 1 reads them directly, the store is the even slice, the batch leg
    reuses the odd slice via ``batch_fingerprints``."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    fp = simhash_fingerprints(d, "text", "doc_id", SIMHASH_BITS).persist()
    sig = fp.select(
        "doc_id", "content_hash", "simhash", F.lit("sig").alias("src")
    )
    res = incremental_simhash_dedupe(
        d.filter(F.col("doc_id") % 2 == 1),
        fp.filter(F.col("doc_id") % 2 == 0),
        "text",
        "doc_id",
        nbits=SIMHASH_BITS,
        max_hamming=SIMHASH_MAX_HAMMING,
        n_blocks=SIMHASH_BLOCKS,
        batch_fingerprints=fp.filter(F.col("doc_id") % 2 == 1),
    )
    incr = res.pinned.join(
        res.fresh.select("doc_id"), on="doc_id", how="left_semi"
    ).select("doc_id", "content_hash", "simhash", F.lit("incr_fresh").alias("src"))
    # leg 3 (src='winnow'): MOSS winnowing fingerprints
    # (functions/fingerprint.py) on a doc_id%10 sample — one row per
    # selected k-gram hash; the oracle replays the polynomial rolling
    # hash and the window-min selection with identical integer arithmetic.
    # MUST go through fingerprint_documents (staged hash array): the
    # single-expression form re-inlines the O(n·k) k-gram pipeline per
    # window under interpreted HOF evaluation — O(n²·k), measured 326 s
    # vs ~2 s at sf0.001.
    from evidence_datasource_parsers_spark.functions.fingerprint import (
        fingerprint_documents,
    )

    wn = (
        fingerprint_documents(
            d.where(F.col("doc_id") % 10 == 0),
            "text",
            "doc_id",
            WINNOW_K,
            WINNOW_W,
        )
        .select("doc_id", F.explode("fingerprints").alias("content_hash"))
        .select(
            "doc_id",
            "content_hash",
            F.lit(None).cast("long").alias("simhash"),
            F.lit("winnow").alias("src"),
        )
    )
    return sig.unionByName(incr).unionByName(wn)


# edit-distance leg constants: short "title" key (ASCII-normalized 20-char
# prefix — levenshtein parity between engines is only guaranteed off unicode
# freedoms) and k=2, the canonical metadata-canonicalization threshold
ED_TITLE_LEN = 20
ED_MAX_DIST = 2
_ED_TITLE_SQL = (
    "substr(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), "
    f"1, {ED_TITLE_LEN})"
)


def ed_title_col() -> Column:
    """The q36 edjoin title key as a Spark Column — the ONE definition the
    gated leg and tools/bench_scale's fuzzy case both use, so the benchmark
    can never silently measure a different workload than the oracle-gated
    query (review finding, round 10)."""
    return F.substring(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", ""),
        1,
        ED_TITLE_LEN,
    )


@register(
    "q36_ngram_jaccard",
    f"""
    WITH n AS (SELECT doc_id, source, {NORM} AS t FROM documents),
    sh AS (SELECT doc_id, source, {_shingles_sql()} AS s FROM n),
    jac AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_filter(a.s, x -> list_contains(b.s, x))) AS n_inter,
             len(a.s) + len(b.s)
                 - len(list_filter(a.s, x -> list_contains(b.s, x))) AS n_union,
             len(list_filter(a.s, x -> list_contains(b.s, x))) * 1.0
                 / (len(a.s) + len(b.s)
                    - len(list_filter(a.s, x -> list_contains(b.s, x)))) AS jaccard,
             'jaccard' AS src
      FROM sh a JOIN sh b
        ON a.source = b.source AND a.doc_id < b.doc_id
           AND b.doc_id - a.doc_id <= 20
    ),
    ttl AS (SELECT doc_id, {_ED_TITLE_SQL} AS s FROM documents),
    edj AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(a.s, b.s) AS BIGINT) AS n_inter,
             CAST(-1 AS BIGINT) AS n_union,
             CAST(-1.0 AS DOUBLE) AS jaccard,
             'edjoin' AS src
      FROM ttl a JOIN ttl b
        ON a.doc_id < b.doc_id
           AND abs(len(a.s) - len(b.s)) <= {ED_MAX_DIST}
      WHERE levenshtein(a.s, b.s) <= {ED_MAX_DIST}
    )
    SELECT * FROM jac UNION ALL SELECT * FROM edj
    """,
    tags=("dedup", "jaccard", "fuzzy"),
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    """String similarity joins, two legs.

    Leg 1 (src='jaccard'): n-gram Jaccard over bounded candidate pairs
    (same source, nearby ids) — candidate bounding is what makes pairwise
    similarity viable at scale; swap the bound for LSH buckets (q34) in
    production.

    Leg 2 (src='edjoin'): edit-distance similarity self-join over the
    ASCII-normalized 20-char title prefix via
    :func:`~evidence_datasource_parsers_spark.operators.fuzzy_join.edit_distance_self_join`
    (PassJoin pigeonhole segment blocking → equi-join on
    (length, segment, text) → built-in ``levenshtein`` verify; constant
    per-row fan-out, no all-pairs anywhere).  The oracle replays the
    SEMANTICS — a naive length-filtered all-pairs ``levenshtein`` — so the
    gate proves the blocked plan finds exactly the qualifying pairs.
    Sentinels (n_union=-1, jaccard=-1.0) keep the union schema NULL-free
    (NULL-vs-NaN canonicalizer freedom — the r4/r5 red-gate signature).
    """
    d = load(spark, sf, "documents")
    sh = d.select(
        "doc_id",
        "source",
        char_shingles(F.col("text"), SHINGLE_K).alias("s"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.col("a.s")) + F.size(F.col("b.s")) - inter
    jac = (
        a.join(
            b,
            on=[
                F.col("a.source") == F.col("b.source"),
                F.col("a.doc_id") < F.col("b.doc_id"),
                (F.col("b.doc_id") - F.col("a.doc_id")) <= 20,
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            inter.alias("n_inter"),
            union.alias("n_union"),
            (inter * 1.0 / union).alias("jaccard"),
            F.lit("jaccard").alias("src"),
        )
    )
    titles = d.select("doc_id", ed_title_col().alias("title"))
    edj = edit_distance_self_join(
        titles, "title", "doc_id", max_dist=ED_MAX_DIST
    ).select(
        "id_a",
        "id_b",
        F.col("edit_dist").cast("long").alias("n_inter"),
        F.lit(-1).cast("long").alias("n_union"),
        F.lit(-1.0).alias("jaccard"),
        F.lit("edjoin").alias("src"),
    )
    return jac.unionByName(edj)


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------

EMB_DIM = 64


def _balanced_sum_sql(terms: list[str]) -> str:
    """Pairwise summation tree: the association order that
    similarity.pairwise_fold replays in the cosine kernel."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _dot_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    return _balanced_sum_sql([f"{a}[{i + 1}] * {b}[{i + 1}]" for i in range(dim)])


def _norm_sql(a: str, dim: int = EMB_DIM) -> str:
    return f"sqrt({_balanced_sum_sql([f'{a}[{i + 1}] * {a}[{i + 1}]' for i in range(dim)])})"


DOT_SQL = _dot_sql("qa", "ca")
NORM_Q = _norm_sql("qa")
NORM_C = _norm_sql("ca")


@register(
    "q37_knn_bruteforce",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qa
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ca
          FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               {DOT_SQL} / ({NORM_Q} * {NORM_C}) AS cosine_sim
        FROM c CROSS JOIN q WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    tags=("similarity", "knn"),
    bench=True,
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    """Exact brute-force cosine top-5 for a probe set (vec_id < 5): broadcast
    probes × corpus, sequential-fold dot product (bit-identical to oracle)."""
    e = load(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return brute_force_topk(q, c, k=5).withColumn(
        "rank", F.col("rank").cast("int")
    )


INCR_EMB_THRESHOLD = 0.5
# table/plane geometry shared with q39 so both oracles replay ONE plane set
ANN_PLANES = 4
ANN_TABLES = 4
_EMB_INCR_PLANES = ANN_PLANES
_EMB_INCR_TABLES = ANN_TABLES


def _ann_bucket_sql(planes: list[list[float]], t: int) -> str:
    """Bucket id of hash table ``t``: sign bits of the 4 plane dot products
    packed to an int — the identical balanced multiply-add tree and plane
    constants as similarity.hyperplane bucketing (planes are a deterministic
    LCG, so both engines see the same literals)."""
    terms = []
    for j in range(ANN_PLANES):
        plane = planes[t * ANN_PLANES + j]
        s = _balanced_sum_sql(
            [f"ea[{i + 1}] * {v!r}" for i, v in enumerate(plane)]
        )
        terms.append(f"(CASE WHEN {s} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def _emb_incr_ctes_sql() -> str:
    """CTEs for the incremental-embedding-dedup leg: odd vec_ids are the new
    batch, even vec_ids the stored corpus; ``idropped`` holds the batch ids
    with >= 1 shared hyperplane bucket AND exact cosine >= threshold — the
    identical plane constants, balanced-tree folds, and table slicing as
    the Spark-side kernel."""
    planes = deterministic_planes(EMB_DIM, _EMB_INCR_PLANES * _EMB_INCR_TABLES)
    bks = ",\n           ".join(
        f"({_ann_bucket_sql(planes, t)}) AS bk{t}"
        for t in range(_EMB_INCR_TABLES)
    )
    buckets = "\n        UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, bk{t} AS bucket FROM isb"
        for t in range(_EMB_INCR_TABLES)
    )
    return f"""
    iv AS (SELECT vec_id, embedding::DOUBLE[] AS ea FROM embeddings),
    isb AS (SELECT vec_id,
           {bks}
           FROM iv),
    ib AS ({buckets}),
    icand AS (
        SELECT DISTINCT q.vec_id AS oid, c.vec_id AS eid
        FROM ib q JOIN ib c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id % 2 = 1 AND c.vec_id % 2 = 0
    ),
    idropped AS (
        SELECT DISTINCT oid
        FROM icand
        JOIN (SELECT vec_id, ea AS qa FROM iv) qq ON qq.vec_id = oid
        JOIN (SELECT vec_id, ea AS ca FROM iv) cc ON cc.vec_id = eid
        WHERE {quantize_sql(f"{DOT_SQL} / ({NORM_Q} * {NORM_C})")}
              >= {INCR_EMB_THRESHOLD}
    )"""


SEM_CELLS = 8
SEM_THRESHOLD = 0.5


def _semdedup_ctes_sql() -> str:
    """CTEs for the SemDeDup leg: assign every embedding to its nearest
    deterministic centroid (the identical squared-diff balanced folds and
    struct-sort tie-breaks as ivf._cells_udf), form within-cell pairs above
    the cosine threshold, then connected components via a RECURSIVE
    min-label CTE — per doc, the smallest id reachable through the dup
    graph, exactly duplicate_clusters' fixpoint."""
    from evidence_datasource_parsers_spark.operators.ivf import (
        deterministic_centroids,
    )

    cents = deterministic_centroids(EMB_DIM, SEM_CELLS)
    nds = ",\n           ".join(
        "(-("
        + _balanced_sum_sql(
            [f"(ea[{i + 1}] - {v!r}) * (ea[{i + 1}] - {v!r})"
             for i, v in enumerate(c)]
        )
        + f")) AS nd{j}"
        for j, c in enumerate(cents)
    )
    structs = ", ".join(
        f"struct_pack(negdist := nd{j}, cell := {j})"
        for j in range(SEM_CELLS)
    )
    return f"""
    sd AS (SELECT vec_id, {nds} FROM iv),
    scell AS (SELECT vec_id,
                     list_sort([{structs}])[{SEM_CELLS}].cell AS cell
              FROM sd),
    spairs AS (
        SELECT a.vec_id AS pa, b.vec_id AS pb
        FROM (SELECT c.vec_id, c.cell, v.ea AS qa
              FROM scell c JOIN iv v USING (vec_id)) a
        JOIN (SELECT c.vec_id, c.cell, v.ea AS ca
              FROM scell c JOIN iv v USING (vec_id)) b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {quantize_sql(f"{DOT_SQL} / ({NORM_Q} * {NORM_C})")}
              > {SEM_THRESHOLD}
    ),
    sedges AS (
        SELECT pa AS eid, pb AS nbr FROM spairs
        UNION ALL
        SELECT pb AS eid, pa AS nbr FROM spairs
    ),
    slab AS (
        SELECT eid AS id, eid AS label FROM sedges
        UNION
        SELECT e.eid, l.label FROM sedges e JOIN slab l ON l.id = e.nbr
    ),
    scomp AS (SELECT id, min(label) AS rep FROM slab GROUP BY id)"""


@register(
    "q38_embedding_dupes",
    f"""
    WITH RECURSIVE
    v AS (SELECT vec_id, label, embedding::DOUBLE[] AS qa FROM embeddings),
    {_emb_incr_ctes_sql()},
    {_semdedup_ctes_sql()}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(a.label AS BIGINT) AS label,
           CAST(floor(({quantize_sql(f"{DOT_SQL.replace('ca', 'cb')} / ({NORM_Q} * {NORM_C.replace('ca', 'cb')})")}) * 1000000000.0 + 0.5) AS BIGINT) AS cosine_q9,
           'pair' AS src
    FROM v a JOIN (SELECT vec_id, label, qa AS cb FROM v) b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {quantize_sql(f"{DOT_SQL.replace('ca', 'cb')} / ({NORM_Q} * {NORM_C.replace('ca', 'cb')})")} > 0.3
    UNION ALL
    SELECT vec_id AS id_a, CAST(-1 AS BIGINT) AS id_b,
           CAST(-1 AS BIGINT) AS label, CAST(-2000000000 AS BIGINT) AS cosine_q9,
           'incr_fresh' AS src
    FROM iv
    WHERE vec_id % 2 = 1 AND vec_id NOT IN (SELECT oid FROM idropped)
    UNION ALL
    SELECT id AS id_a, rep AS id_b, CAST(-1 AS BIGINT) AS label,
           CAST(-2000000000 AS BIGINT) AS cosine_q9, 'semdedup' AS src
    FROM scomp
    """,
    tags=("dedup", "embedding", "incremental", "semdedup"),
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup, at-rest AND incremental.

    Leg 1 (src='pair'): cosine near-dup pairs within a label partition
    (cos > 0.3) — the partition key bounds the pair space, one shuffle on
    label; pairwise blocks are scored inside an Arrow-batched applyInPandas
    kernel (blocked_cosine_pairs) with the block cap ENFORCED (oversized
    labels hash-salt into bounded sub-blocks), replaying the oracle's exact
    IEEE arithmetic.

    Leg 2 (src='incr_fresh'): the semantic batch-refresh story — even
    vec_ids are the stored corpus (their vectors are the carried state),
    odd vec_ids a new batch; :func:`incremental_embedding_dedupe` drops
    re-ingests sharing >= 1 hyperplane bucket with a stored vector at exact
    cosine >= {INCR_EMB_THRESHOLD}.  The oracle replays plane constants,
    bucket packing, candidate generation, and the cosine threshold, so a
    drift anywhere in the LSH-verify chain breaks the value hash.

    Leg 3 (src='semdedup'): the SemDeDup pipeline (operators/semdedup.py,
    Abbas et al. 2023) — nearest-centroid cells over {SEM_CELLS}
    deterministic centroids, within-cell cosine pairs > {SEM_THRESHOLD},
    pointer-doubled connected components, min-id representative.  One row
    per doc in any dup group: (doc, its group's representative).  The
    oracle replays assignment and pairing arithmetic and resolves the
    components with a RECURSIVE min-label CTE, so the WHOLE
    cluster→pair→component→representative chain is value-hash checked.

    Hashed surface (round 6): integer-only and NULL-free — cosine is
    emitted as the scaled BIGINT ``cosine_q9`` = floor(cos·1e9 + 0.5) and
    legs 2/3 use typed sentinels (id_b=-1, label=-1, cosine_q9=-2e9)
    instead of NULLs, removing the double-repr and NULL-vs-NaN rendering
    freedoms a foreign canonicalizer has over the previous surface."""
    from evidence_datasource_parsers_spark.operators.ivf import (
        deterministic_centroids,
    )
    from evidence_datasource_parsers_spark.operators.semdedup import (
        semantic_dupe_groups,
    )
    from evidence_datasource_parsers_spark.operators.similarity import (
        blocked_cosine_pairs,
        incremental_embedding_dedupe,
    )

    full = load(spark, sf, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # the SQL oracle's equi-join drops NULL labels; the operator
    # (correctly) scores NULL blocks, so align the QUERY to the
    # oracle's semantics explicitly rather than relying on the
    # fixture having no nulls
    # round-6 hardening: the hashed surface is integer-only and NULL-free.
    # cosine_sim was the last double in the output and legs 2/3 carried
    # NULL-typed cells — both are surfaces a foreign canonicalizer (e.g. a
    # pandas round-trip that floats nullable int64s: 17 vs 17.0) can render
    # differently per side while rows and schema still match, exactly the
    # r4/r5 gate signature.  cosine_q9 = floor(q·1e9 + 0.5) over the already
    # engine-portable quantized cosine q = floor(x·1e9+0.5)/1e9: since
    # |q·1e9 − n| ≤ 1 ULP ≈ 1e-7 for n ≤ 1e9, floor(q·1e9+0.5) recovers the
    # integer n exactly and deterministically on both engines.  Sentinels:
    # id_b=-1, label=-1 (real labels are >= 0), cosine_q9=-2000000000
    # (outside the valid [-1e9, 1e9] range).
    _Q9 = float(10**COS_QUANT_DECIMALS)
    _COS_SENTINEL = -2_000_000_000
    pairs = blocked_cosine_pairs(
        full.where(F.col("label").isNotNull()),
        block_col="label",
        id_col="vec_id",
        vec_col="v",
        threshold=0.3,
        quantize_decimals=COS_QUANT_DECIMALS,
    ).select(
        "id_a",
        "id_b",
        F.col("label").cast("long").alias("label"),
        F.floor(F.col("cosine_sim") * F.lit(_Q9) + F.lit(0.5)).alias(
            "cosine_q9"
        ),
        F.lit("pair").alias("src"),
    )
    res = incremental_embedding_dedupe(
        full.filter(F.col("vec_id") % 2 == 1).select("vec_id", "v"),
        full.filter(F.col("vec_id") % 2 == 0).select("vec_id", "v"),
        "v",
        "vec_id",
        dim=EMB_DIM,
        threshold=INCR_EMB_THRESHOLD,
        n_planes=_EMB_INCR_PLANES,
        n_tables=_EMB_INCR_TABLES,
        quantize_decimals=COS_QUANT_DECIMALS,
    )
    incr = res.fresh.select(
        F.col("vec_id").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        F.lit(-1).cast("long").alias("label"),
        F.lit(_COS_SENTINEL).cast("long").alias("cosine_q9"),
        F.lit("incr_fresh").alias("src"),
    )
    sem = semantic_dupe_groups(
        full.select("vec_id", "v"),
        deterministic_centroids(EMB_DIM, SEM_CELLS),
        SEM_THRESHOLD,
        id_col="vec_id",
        vec_col="v",
        quantize_decimals=COS_QUANT_DECIMALS,
    ).select(
        F.col("vec_id").alias("id_a"),
        F.col("cluster_id").alias("id_b"),
        F.lit(-1).cast("long").alias("label"),
        F.lit(_COS_SENTINEL).cast("long").alias("cosine_q9"),
        F.lit("semdedup").alias("src"),
    )
    out = pairs.unionByName(incr).unionByName(sem)
    # r4 forensic gap: q38 went hash-red at the driver's gate with no local
    # repro and no captured evidence.  Self-audit in the grading process —
    # on divergence, Q38_EMBEDDING_DUPES_DIFF.json lands in the repo root
    # with the diverging canonical rows + library versions.
    from evidence_datasource_parsers_spark.forensics import (
        audit_against_oracle,
    )

    audit_against_oracle(
        "q38_embedding_dupes", out, sf, CATALOG["q38_embedding_dupes"].oracle
    )
    return out


def _ann_oracle_sql() -> str:
    # table t uses global planes [4t, 4t+4) — plane j depends only on j, so
    # one 16-plane sequence reproduces every per-table slice exactly
    planes = deterministic_planes(EMB_DIM, ANN_PLANES * ANN_TABLES)
    bks = ",\n           ".join(
        f"({_ann_bucket_sql(planes, t)}) AS bk{t}" for t in range(ANN_TABLES)
    )
    buckets = "\n        UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, bk{t} AS bucket FROM sb"
        for t in range(ANN_TABLES)
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ea FROM embeddings),
    sb AS (SELECT vec_id,
           {bks}
           FROM v),
    b AS ({buckets}),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM b q JOIN b c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               {DOT_SQL} / ({NORM_Q} * {NORM_C}) AS cosine_sim
        FROM cand
        JOIN (SELECT vec_id, ea AS qa FROM v) qq ON qq.vec_id = query_id
        JOIN (SELECT vec_id, ea AS ca FROM v) cc ON cc.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """


IVF_CELLS = 8
IVF_PROBE = 2
ANN_MULTIPROBE = 2


def _ann_mp_oracle_sql() -> str:
    """Multi-probe LSH replay: per table, the query additionally probes the
    buckets reached by flipping its {ANN_MULTIPROBE} smallest-|projection|
    planes.  The per-plane sums are the identical balanced trees the base
    bucketing uses; the flip order is an ascending (|s|, plane) struct sort
    — the exact tie-break of the kernel's stable argsort."""
    planes = deterministic_planes(EMB_DIM, ANN_PLANES * ANN_TABLES)
    scols = []
    for t in range(ANN_TABLES):
        for j in range(ANN_PLANES):
            plane = planes[t * ANN_PLANES + j]
            s = _balanced_sum_sql(
                [f"ea[{i + 1}] * {v!r}" for i, v in enumerate(plane)]
            )
            scols.append(f"({s}) AS s{t}_{j}")
    bks = []
    for t in range(ANN_TABLES):
        terms = " + ".join(
            f"(CASE WHEN s{t}_{j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(ANN_PLANES)
        )
        bks.append(f"({terms}) AS bk{t}")
    flips = []
    for t in range(ANN_TABLES):
        structs = ", ".join(
            f"struct_pack(m := abs(s{t}_{j}), j := {j})"
            for j in range(ANN_PLANES)
        )
        flips.append(f"list_sort([{structs}]) AS o{t}")
    probe_lists = []
    for t in range(ANN_TABLES):
        buckets = ", ".join(
            [f"bk{t}"]
            + [
                f"xor(bk{t}, 1 << o{t}[{m + 1}].j)"
                for m in range(ANN_MULTIPROBE)
            ]
        )
        probe_lists.append(
            f"SELECT vec_id, {t} AS t, unnest([{buckets}]) AS bucket FROM mps"
        )
    qb = "\n        UNION ALL ".join(probe_lists)
    cb = "\n        UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, bk{t} AS bucket FROM mps"
        for t in range(ANN_TABLES)
    )
    scols_sql = ",\n           ".join(scols)
    bks_sql = ",\n           ".join(bks)
    flips_sql = ",\n           ".join(flips)
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ea FROM embeddings),
    ms AS (SELECT vec_id,
           {scols_sql}
           FROM v),
    mps AS (SELECT vec_id,
           {bks_sql},
           {flips_sql}
           FROM ms),
    cb AS ({cb}),
    qb AS ({qb}),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM qb q JOIN cb c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               {DOT_SQL} / ({NORM_Q} * {NORM_C}) AS cosine_sim
        FROM cand
        JOIN (SELECT vec_id, ea AS qa FROM v) qq ON qq.vec_id = query_id
        JOIN (SELECT vec_id, ea AS ca FROM v) cc ON cc.vec_id = neighbor_id
    )
    SELECT 'lsh_mp' AS method, query_id, neighbor_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """


def _ivf_oracle_sql() -> str:
    """IVF-Flat replay: the centroids are deterministic unit-norm LCG vectors
    (ivf.deterministic_centroids), so cell assignment, probing, and the final
    cosine top-k are all recomputable by a second engine.  Every negdist is
    the identical squared-diff products + pairwise balanced-tree fold the
    Spark-side kernel computes (ivf._cells_udf), and the struct sort that
    picks cells has the same ascending-lexicographic semantics in both
    engines — ties break toward the larger cell id at the max end."""
    from evidence_datasource_parsers_spark.operators.ivf import (
        deterministic_centroids,
    )

    cents = deterministic_centroids(EMB_DIM, IVF_CELLS)
    nds = ",\n           ".join(
        "(-("
        + _balanced_sum_sql(
            [f"(ea[{i + 1}] - {v!r}) * (ea[{i + 1}] - {v!r})"
             for i, v in enumerate(c)]
        )
        + f")) AS nd{j}"
        for j, c in enumerate(cents)
    )
    structs = ", ".join(
        f"struct_pack(negdist := nd{j}, cell := {j})" for j in range(IVF_CELLS)
    )
    probe_cells = ", ".join(
        f"s[{IVF_CELLS - i}].cell" for i in range(IVF_PROBE)
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ea FROM embeddings),
    d AS (SELECT vec_id,
           {nds}
           FROM v),
    srt AS (SELECT vec_id, list_sort([{structs}]) AS s FROM d),
    assigned AS (SELECT vec_id, s[{IVF_CELLS}].cell AS cell FROM srt),
    probes AS (SELECT vec_id, unnest([{probe_cells}]) AS cell
               FROM srt WHERE vec_id < 5),
    cand AS (
        SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assigned a ON p.cell = a.cell
        WHERE p.vec_id <> a.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               {DOT_SQL} / ({NORM_Q} * {NORM_C}) AS cosine_sim
        FROM cand
        JOIN (SELECT vec_id, ea AS qa FROM v) qq ON qq.vec_id = query_id
        JOIN (SELECT vec_id, ea AS ca FROM v) cc ON cc.vec_id = neighbor_id
    )
    SELECT 'ivf' AS method, query_id, neighbor_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """


@register(
    "q39_ann_topk",
    f"""
    SELECT 'lsh' AS method, * FROM ({_ann_oracle_sql()})
    UNION ALL
    SELECT * FROM ({_ivf_oracle_sql()})
    UNION ALL
    SELECT * FROM ({_ann_mp_oracle_sql()})
    """,
    tags=("similarity", "ann", "lsh", "ivf"),
    bench=True,
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-k by the scale paths, tagged by method — where brute
    force (q37) is infeasible.  'lsh': random-hyperplane sign buckets;
    'ivf': Voronoi cells around deterministic unit-norm centroids
    (operators/ivf.py), probing the 2 nearest of 8 cells; 'lsh_mp':
    multi-probe LSH — the same tables, plus per-table probes of the
    {ANN_MULTIPROBE} smallest-margin plane flips (the query-side recall
    knob; its oracle replays the margin sort and xor flips).  Hyperplanes and
    centroids come from a deterministic LCG, so the bucketing/assignment —
    and therefore the whole approximate result — is engine-portable: the
    oracle replays the identical constants and sum trees in DuckDB and the
    results hash-match exactly.  Recall vs q37 is additionally asserted in
    tests/test_dedupe_similarity.py; KMeans-fitted centroids (the production
    fit path) are exercised there too."""
    from evidence_datasource_parsers_spark.operators.ivf import (
        deterministic_centroids,
        ivf_topk,
    )
    from evidence_datasource_parsers_spark.operators.similarity import (
        ann_lsh_topk_dual,
        corpus_index_rows,
        index_rows_to_bucket_rows,
    )

    e = load(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    # ONE shared pass for the base + multi-probe legs (r13): the base
    # candidate set is the probe-position-0 subset of the multi-probe
    # set, so ann_lsh_topk_dual buckets the corpus once, scores each
    # candidate pair once, and ranks both legs in one window — the old
    # two-call shape persisted the corpus buckets and still ran the
    # join/dedup/score/window chain twice (row multiset proven EQUAL,
    # see the operator's equivalence test).
    # ONE shared corpus pass for BOTH index structures (r14): the LSH
    # table buckets and the IVF cell come from one fused Arrow kernel
    # over one embeddings scan (corpus_index_rows, persisted — the q34
    # fingerprint pattern), instead of two corpus scans + two Python
    # crossings computing folds off the same batch matrix.  Buckets and
    # cells are bit-identical to the separate kernels by construction.
    cents = deterministic_centroids(EMB_DIM, IVF_CELLS)
    idx = corpus_index_rows(
        c, "neighbor_id", "embedding", EMB_DIM,
        ANN_PLANES, ANN_TABLES, cents,
    ).persist()
    dual = ann_lsh_topk_dual(
        q, c, dim=64, k=5, n_planes=ANN_PLANES, n_tables=ANN_TABLES,
        multiprobe=ANN_MULTIPROBE,
        corpus_bucket_rows=index_rows_to_bucket_rows(
            idx, "neighbor_id", ANN_TABLES
        ),
    )
    ivf = ivf_topk(
        q, c, cents, k=5, n_probe=IVF_PROBE,
        corpus_assigned=idx.select("neighbor_id", "__cv", "__cell"),
    )
    return dual.unionByName(
        ivf.withColumn("method", F.lit("ivf")).select(
            "method", "query_id", "neighbor_id", "cosine_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# the q62 script-ID leg replays dominant_script's argmax as list_max over
# the same (count, name) structs — RE2 spells script classes \p{Xxx}
_SCRIPT_STRUCTS_SQL = ", ".join(
    "{'n': len(regexp_extract_all(z.decoded_text, '\\p{%s}')),"
    " 'script': '%s'}" % (s.capitalize(), s)
    for s in (
        "arabic", "cyrillic", "devanagari", "greek", "han", "hangul",
        "hebrew", "hiragana", "katakana", "latin", "thai",
    )
)


@register(
    "q62_multimodal_meta",
    f"""
    WITH ppm AS (
        SELECT d.doc_id,
               CAST(sum((d.doc_id * 31 + r.k * 7) % 256) AS BIGINT) AS s
        FROM documents d, range(384) r(k)
        GROUP BY d.doc_id
    ),
    pal AS (
        SELECT d.doc_id,
               CAST(sum(3 * ((((d.doc_id * 13 + r.k * 5) % 16) * 17) % 256))
                    AS BIGINT) AS s
        FROM documents d, range(64) r(k)
        GROUP BY d.doc_id
    ),
    wav AS (
        SELECT d.doc_id,
               CAST(sum((d.doc_id * 7 + r.k * 13) % 2001 - 1000) AS BIGINT)
                   AS ssum,
               CAST(sum(CASE WHEN r.k >= 1 AND
                        (((d.doc_id * 7 + r.k * 13) % 2001 - 1000) < 0)
                        <> (((d.doc_id * 7 + (r.k - 1) * 13) % 2001 - 1000) < 0)
                        THEN 1 ELSE 0 END) AS BIGINT) AS zc
        FROM documents d, range(400) r(k)
        GROUP BY d.doc_id
    ),
    mp4 AS (
        SELECT d.doc_id,
               CAST(sum(CASE WHEN r.k < d.doc_id % 4 + 2
                    THEN ((d.doc_id + r.k * 3) % 256) * (20 + r.k)
                    ELSE 0 END) AS BIGINT) AS ssum
        FROM documents d, range(6) r(k)
        GROUP BY d.doc_id
    ),
    pdftxt AS (
        SELECT d.doc_id,
               string_agg('pdf doc ' || CAST(d.doc_id AS VARCHAR)
                          || ' page ' || CAST(r.k AS VARCHAR),
                          chr(10) ORDER BY r.k) AS t,
               CAST(count(*) AS INT) AS np
        FROM documents d, range(3) r(k)
        WHERE r.k < d.doc_id % 3 + 1
        GROUP BY d.doc_id
    )
    SELECT z.*,
           CAST(len(regexp_extract_all(z.decoded_text, '\\p{{Latin}}'))
                AS INT) AS latin_chars,
           CAST(len(regexp_extract_all(z.decoded_text, '\\p{{Han}}'))
                AS INT) AS han_chars,
           CAST(len(regexp_extract_all(z.decoded_text, '\\p{{Katakana}}'))
                AS INT) AS kata_chars,
           CAST(len(regexp_extract_all(z.decoded_text, '\\p{{Cyrillic}}'))
                AS INT) AS cyr_chars,
           CASE WHEN list_max([{_SCRIPT_STRUCTS_SQL}]).n > 0
                THEN list_max([{_SCRIPT_STRUCTS_SQL}]).script
                ELSE 'none' END AS script_guess
    FROM (
    SELECT q.*,
           CAST((q.media_id % 7 + 3) * 1000000 + 44100 AS BIGINT)
               AS mp3_probe,
           CAST((q.media_id % 9 + 1) * 44100 AS BIGINT)
               AS flac_total_samples,
           CAST(q.media_id % 6 + 2 AS BIGINT) AS opus_duration_s,
           (CASE WHEN q.media_id % 5 = 2
                 THEN '<meta charset=iso-8859-1>' ELSE '' END)
             || 'doc ' || CAST(q.media_id AS VARCHAR) || ' '
             || CASE q.media_id % 5
                WHEN 0 THEN 'São Paulo — café №42'
                WHEN 1 THEN 'déjà vu — naïve ünïcode'
                WHEN 2 THEN 'São café déjà €99'
                WHEN 3 THEN '東京 データ 図書館'
                ELSE '“smart quotes” …' END AS decoded_text,
           CASE q.media_id % 5
                WHEN 1 THEN 'utf-16-le'
                WHEN 2 THEN 'cp1252'
                WHEN 4 THEN 'cp1252'
                ELSE 'utf-8' END AS charset,
           CASE q.media_id % 5
                WHEN 0 THEN 'http' WHEN 1 THEN 'bom' WHEN 2 THEN 'meta'
                WHEN 3 THEN 'utf8' ELSE 'fallback' END AS charset_source,
           'doc ' || CAST(q.media_id AS VARCHAR) || ' '
             || CASE q.media_id % 5
                WHEN 0 THEN 'São Paulo — café №42'
                WHEN 1 THEN 'déjà vu — naïve ünïcode'
                WHEN 2 THEN 'São café déjà €99'
                WHEN 3 THEN '東京 データ 図書館'
                ELSE '“smart quotes” …' END AS repaired_text,
           pf.t AS pdf_text,
           pf.np AS pdf_pages
    FROM (
    SELECT d.doc_id AS media_id,
           'image' AS media_type,
           CAST(64 AS INT) AS width,
           CAST(48 AS INT) AS height,
           CAST(3 AS INT) AS depth,
           CAST(least(octet_length(encode(d.text)), 256) AS BIGINT)
               AS payload_bytes,
           p.s AS ppm_pixel_sum,
           p.s / 384.0 AS ppm_pixel_mean,
           CAST((d.doc_id % 256) * 1152 AS BIGINT) AS jpeg_pixel_sum,
           CAST(d.doc_id % 256 AS DOUBLE) AS jpeg_pixel_mean,
           CAST((d.doc_id % 256) * 1152 AS BIGINT) AS pjpeg_pixel_sum,
           c.s AS gif_pixel_sum,
           c.s AS png_pixel_sum,
           w.ssum AS audio_sample_sum,
           w.zc AS audio_zero_crossings,
           CAST((d.doc_id % 5 + 1) * 1000 + d.doc_id % 256 AS BIGINT)
               AS avi_probe,
           CAST((d.doc_id % 4 + 2) * 1000000 + 64 * 1000 + 48 AS BIGINT)
               AS mp4_probe,
           m4.ssum AS mp4_stream_sum
    FROM documents d
    JOIN ppm p ON d.doc_id = p.doc_id
    JOIN pal c ON d.doc_id = c.doc_id
    JOIN wav w ON d.doc_id = w.doc_id
    JOIN mp4 m4 ON d.doc_id = m4.doc_id
    ) q
    JOIN pdftxt pf ON q.media_id = pf.doc_id
    ) z
    """,
    tags=("multimodal", "mapInPandas"),
)
def q62(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal column plumbing end-to-end inside one plan: synthesize
    image blobs (synthetic MM01 container) from document bytes via
    mapInPandas, then decode typed metadata — the schema/batch contract the
    real codec kernels plug into (operators/multimodal.py) — PLUS a REAL
    decoder leg: a deterministic 16×8 binary PPM (P6) is synthesized per
    document (payload byte k = (doc_id·31 + k·7) mod 256), parsed by the
    actual pure-Python PPM decoder (multimodal.decode_ppm — header
    tokenizer, raster extraction), and its pixel sum/mean emitted.  DuckDB
    recomputes those stats arithmetically from the formula, so a decoder
    bug (off-by-one in the header scan, wrong raster offset) breaks the
    value hash — the honesty check that real decoding, not a stub, ran.

    q62 is the designated gating host for Python-kernel decode tiers (the
    catalog is capped at the driver's 50-query window, so new kernels ride
    as legs): JPEG baseline+progressive, GIF, PNG, WAV, MJPEG-AVI, the MP4
    box walk + remux-invariant stream sum, MP3/FLAC/Opus container probes,
    the round-8 charset tier (five detection branches + a mojibake'd twin
    through the strict repair), the PDF extractor (multi-page Flate/raw
    write→re-extract), and the Unicode-script ID legs (JVM regexp counts +
    argmax over the kernel-decoded multilingual strings, replayed in the
    oracle as RE2 counts + ``list_max`` over identical structs).

    Round 9 factored every leg into a named module-level kernel with its
    own unit fixture (plans/q62_legs.py, tests/test_q62_legs.py) — the
    registered query is now just the chain; the kernels are HASH-FROZEN
    (they reference package decoders on purpose: q37/q39 proved
    package-referencing kernels resolve under the correctness driver).
    """
    from evidence_datasource_parsers_spark.functions.textstats import (
        dominant_script,
        script_count,
    )
    from evidence_datasource_parsers_spark.plans.q62_legs import (
        META_SCHEMA,
        chain_stats,
        decode_mm01,
        to_blobs,
    )

    d = load(spark, sf, "documents").select("doc_id", "text")
    media = d.mapInPandas(to_blobs, "media_id long, blob binary")
    meta = media.mapInPandas(decode_mm01, META_SCHEMA)
    out = chain_stats(meta)
    # script-ID leg (functions/textstats.py): JVM regexp passes over the
    # kernel-decoded multilingual strings — the oracle replays both the
    # per-script counts and the argmax (list_max over identical structs)
    dt = F.col("decoded_text")
    return out.select(
        "*",
        script_count(dt, "latin").cast("int").alias("latin_chars"),
        script_count(dt, "han").cast("int").alias("han_chars"),
        script_count(dt, "katakana").cast("int").alias("kata_chars"),
        script_count(dt, "cyrillic").cast("int").alias("cyr_chars"),
        dominant_script(dt).alias("script_guess"),
    )


# --- q63: exact duplicated-span dedup (suffix-array formulation) -----------

from evidence_datasource_parsers_spark.operators.span_dedup import (  # noqa: E402
    duplicated_spans,
    remove_duplicated_spans,
    span_dedup_oracle_ctes,
)

SPAN_MIN_TOKENS = 8


@register(
    "q63_span_dedup",
    f"""
    WITH {span_dedup_oracle_ctes(min_tokens=SPAN_MIN_TOKENS)}
    SELECT doc_id AS id, span_start AS a, span_end AS b, 'span' AS src
    FROM sp_spans
    UNION ALL
    SELECT w.doc_id AS id, CAST(len(w.w) AS BIGINT) AS a,
           CAST(coalesce(r.rm, 0) AS BIGINT) AS b, 'doc' AS src
    FROM sp_w w LEFT JOIN (SELECT doc_id, sum(span_end - span_start + 1) AS rm
                           FROM sp_spans GROUP BY doc_id) r USING (doc_id)
    UNION ALL
    SELECT l.l_partkey AS id,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS a,
           CAST(COUNT(*) AS BIGINT) AS b, 'part' AS src
    FROM lineitem l
    WHERE l.l_quantity < 0.5 * (
        SELECT avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    GROUP BY l.l_partkey
    """,
    tags=("dedup", "substring", "span", "exact", "tpch-q17"),
)
def q63(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicated-span dedup — Lee et al. 2022 substring dedup at
    word-{SPAN_MIN_TOKENS}-gram anchor granularity (operators/span_dedup.py).

    Leg 1 (src='span'): every maximal duplicated token span per document —
    0-based inclusive word indices — value-checking the full anchor →
    recurrence → join-back → island-merge chain against a DuckDB replay.

    Leg 2 (src='doc'): per-document token totals and removed-token counts
    for ALL documents (clean docs ride the left join with 0), checking the
    removal accounting AND that remove_duplicated_spans' surviving-token
    count equals total − covered on the Spark side.

    Leg 3 (src='part'): the relocated q61_small_quantity_orders — TPC-H Q17
    correlated scalar subquery, decorrelated by hand into an agg+equi-join
    (the plan Catalyst produces for the subquery form); merged here to keep
    the catalog inside the 50-query driver window while preserving its
    driver-green evidence.

    Hashed surface: integer + string only, NULL-free (the q38 lesson).
    """
    docs = load(spark, sf, "documents").select("doc_id", "text")
    span_tbl = duplicated_spans(docs, min_tokens=SPAN_MIN_TOKENS)
    spans = span_tbl.select(
        F.col("doc_id").alias("id"),
        F.col("span_start").alias("a"),
        F.col("span_end").alias("b"),
        F.lit("span").alias("src"),
    )
    # leg 2 derives removed counts from the REBUILT text (size(words) -
    # size(kept)), not from span arithmetic — so a drift between the span
    # table and the actual excision breaks the hash; the span table itself
    # is computed ONCE and feeds both legs
    cleaned = remove_duplicated_spans(
        docs, min_tokens=SPAN_MIN_TOKENS, spans=span_tbl
    ).select(
        F.col("doc_id").alias("id"),
        F.col("n_tokens").alias("a"),
        F.col("n_removed_tokens").alias("b"),
        F.lit("doc").alias("src"),
    )
    l = load(spark, sf, "lineitem")
    part_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            (F.sum(cents(F.col("l_quantity"))) / 100.0) / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    small_qty = (
        l.join(part_avg, l.l_partkey == part_avg.pk)
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy(F.col("l_partkey").alias("id"))
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("a"),
            F.count(F.lit(1)).alias("b"),
        )
        .withColumn("src", F.lit("part"))
    )
    return spans.unionByName(cleaned).unionByName(small_qty)
