"""Query catalog — the engine's operator coverage, one entry per SURVEY §2 row.

Every entry pairs a Spark DataFrame builder with an ANSI-SQL oracle that DuckDB
runs over the same parquet tables.  The driver hashes both results
order-insensitively, so each query follows strict determinism rules:

  * money/measure sums go through exact integer cents
    (``round(x*100)::BIGINT``) before aggregation — float sums are
    order-dependent and would hash-differently between engines;
  * ratios/averages are derived from exact integers with ONE final IEEE
    division (deterministic given identical operands);
  * collected sets are sorted and joined to strings;
  * every window/top-k has a total order (unique-key tie-break);
  * hash-based operators use the md5-derived portable hash
    (functions/hashing.py) that both engines compute identically.

Scale notes are attached per query: the catalog runs at sf0.01 for the
correctness gate and sf0.1+ for BENCH, but each plan is written for the
1000-executor case (broadcast dims, shuffle only on agg/join keys, pushdown-
friendly scans).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# Timestamp columns in the driver-generated parquet.  Their physical type has
# varied across driver versions — TIMESTAMP(NANOS) (Spark reads as long under
# nanosAsLong) and timestamp[us] without tz (Spark reads as TIMESTAMP_NTZ) —
# so the scan normalizes every variant to a session-TZ TIMESTAMP, which the
# rest of the catalog (unix_micros, date_format, windows) assumes.
_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def ensure_oracle_confs(spark: SparkSession) -> None:
    """Pin the two session confs the catalog's timestamp semantics assume:
    ``spark.sql.session.timeZone=UTC`` (NTZ→LTZ cast is identity wall-clock,
    date_format/hour match DuckDB's naive reading) and the parquet
    nanos-as-long legacy flag (test parquet has stored TIMESTAMP(NANOS)).

    ``session.get_spark`` sets both at session build; this explicit hook
    exists for FOREIGN sessions — the correctness driver's vanilla one —
    and is called by the ``__spark_entry__`` wrappers, i.e. scoped to the
    correctness path.  ``load()`` itself no longer mutates session conf
    (round-4 verdict #3: a co-resident user pipeline must not have its
    timestamp semantics silently switched by a table scan).  Idempotent
    read-then-set — an earlier id()-keyed memo could alias a NEW session
    after GC reused a collected proxy's id and silently skip the pinning;
    two conf.get calls per invocation are cheap and cannot go stale.
    """
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # no default on the timeZone read: conf.get VALIDATES a provided
    # default through the entry's converter ('' → INVALID_CONF_VALUE),
    # and the session timezone always has a value anyway
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


#: Inferred read schemas, keyed on (abspath, table, nanosAsLong conf).
#: METADATA cache only — the role a metastore plays for a production
#: table; every query still scans the parquet bytes on every action.
#: Schema inference reads footers driver-side on EVERY spark.read.parquet
#: call (~0.1s each; q60 pays it six times per build) even though the
#: listing itself is session-cached.  The nanosAsLong conf is part of the
#: key because it changes how TIMESTAMP(NANOS) columns surface.
_SCHEMA_CACHE: dict[tuple[str, str, str], object] = {}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one test table, normalizing timestamp physical-type variants.

    ASSUMES the session is pinned to UTC + nanosAsLong — true for factory
    sessions (session.get_spark) and for the correctness path (the
    ``__spark_entry__`` wrappers call :func:`ensure_oracle_confs`).  No
    session conf is mutated here.
    """
    import os

    path = f"{sf_dir}/{table}.parquet"
    try:
        # one stat per load: a regenerated input (rewritten file, or a
        # dir whose part files changed) gets a fresh key instead of a
        # silently stale schema — the invalidation a metastore would do
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = -1  # missing path: let spark.read raise its own error
    key = (
        os.path.abspath(sf_dir),
        table,
        mtime,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        schema = df.schema
        _SCHEMA_CACHE[key] = schema
    else:
        # explicit schema skips the footer read; plan verified identical
        # to the inferred-schema read (r13)
        df = spark.read.schema(schema).parquet(f"{sf_dir}/{table}.parquet")
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    for col in _TS_COLS.get(table, ()):
        dt = dtypes.get(col)
        if dt == "bigint":  # TIMESTAMP(NANOS) surfaced as nanos-long
            df = df.withColumn(
                col, F.timestamp_micros((F.col(col) / 1000).cast("long"))
            )
        elif dt == "timestamp_ntz":  # timestamp[us], no tz annotation
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: Memoized leave-or-repartition decisions, keyed on (caller identity,
#: parallelism) — a partition-COUNT probe result, never data.
_REBALANCE_MEMO: dict[tuple, bool] = {}


def rebalance(
    spark: SparkSession, df: DataFrame, memo_key: tuple | None = None
) -> DataFrame:
    """Round-robin rebalance ahead of CPU-heavy per-row stages.

    Single-row-group files (the local test parquet — and any undersized
    production input) plan as ONE scan partition, serializing regex/hash
    pipelines on one core.  The rebalance shuffle carries |rows| narrow rows
    — negligible next to the per-row compute it fans out across the cluster.
    Apply ONLY where that compute dominates: for cheap scan→agg pipelines
    the extra full-row shuffle is a measured net loss (q01: 0.45s→0.96s),
    while doc-text stat/shingle pipelines gain 1.5–2.3× (q29, q34).

    Scale-adaptive (r13): the repartition exists to fix UNDER-partitioned
    input, so it is applied only when the scan plans fewer partitions than
    half the cluster's parallelism.  A 100 TB input arrives in ~10^5
    splits — there the old unconditional form would have added a full-row
    shuffle of the corpus for nothing, exactly the local-mode-tuned
    constant the optimization guide warns about.  ``df.rdd`` here builds
    the RDD plan driver-side (no job); callers pass plain file scans.

    ``memo_key``: optional hashable identity of the INPUT (e.g.
    ``(sf_dir, table)``) letting repeat builds skip the ~50 ms
    driver-side partition-count probe; the memoized value is the
    leave-or-repartition DECISION for that input, nothing row-derived."""
    target = spark.sparkContext.defaultParallelism
    key = (memo_key, target) if memo_key is not None else None
    need = _REBALANCE_MEMO.get(key) if key is not None else None
    if need is None:
        try:
            scan_parts = df.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001 — unplannable: keep old behavior
            scan_parts = 0
        need = scan_parts < max(2, target // 2)
        if key is not None:
            _REBALANCE_MEMO[key] = need
    return df.repartition(target) if need else df


def cents(c: Column) -> Column:
    """Exact integer cents from a 2-decimal double — engine-portable."""
    return F.round(c * 100).cast("long")


def _c(expr: str) -> str:
    """Oracle-side twin of :func:`cents`."""
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


@dataclass(frozen=True)
class CatalogQuery:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py headline set


CATALOG: dict[str, CatalogQuery] = {}


def register(
    name: str, oracle: str | None, tags: tuple[str, ...] = (), bench: bool = False
):
    def deco(fn):
        CATALOG[name] = CatalogQuery(name, fn, oracle, tags, bench)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.3-§2.9)
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({_c('l_quantity')}) AS BIGINT) AS sum_qty_c,
           CAST(SUM({_c('l_extendedprice')}) AS BIGINT) AS sum_base_price_c,
           CAST(SUM({_c('l_extendedprice')} * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
               AS sum_disc_price_c4,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A4", "A8", "F1", "P5", "agg"),
    bench=True,
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary; exact integer arithmetic throughout.

    Scale: single shuffle on a 2-value grouping key; partial aggregation is
    map-side, scan prunes to 6 columns with the shipdate filter pushed down.
    """
    l = load(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp")
    )
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    return (
        l.select(
            "l_returnflag",
            "l_linestatus",
            cents(F.col("l_quantity")).alias("__qty_c"),
            cents(F.col("l_extendedprice")).alias("__price_c"),
            (cents(F.col("l_extendedprice")) * (F.lit(100) - disc_pct)).alias(
                "__disc_c4"
            ),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("__qty_c").alias("sum_qty_c"),
            F.sum("__price_c").alias("sum_base_price_c"),
            F.sum("__disc_c4").alias("sum_disc_price_c4"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q02_filter_project",
    """
    SELECT o_orderkey,
           upper(o_orderstatus) AS status_uc,
           CASE WHEN o_orderpriority LIKE '1%' THEN 'urgent'
                WHEN contains(o_orderpriority, '2') THEN 'high'
                ELSE 'normal' END AS priority_class,
           CAST(round(o_totalprice * 100) AS BIGINT) AS total_c,
           o_orderstatus = 'O' AS is_open
    FROM orders
    WHERE o_totalprice > 1000.0 AND NOT o_orderpriority LIKE '5%'
    """,
    tags=("P1", "P5", "P6", "F2", "F5"),
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    """Projection/cast/conditional/string-predicate coverage (P1/P5/P6/F2/F5)."""
    o = load(spark, sf, "orders")
    return o.where(
        (F.col("o_totalprice") > 1000.0)
        & (~F.col("o_orderpriority").startswith("5"))
    ).select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_uc"),
        F.when(F.col("o_orderpriority").startswith("1"), "urgent")
        .when(F.col("o_orderpriority").contains("2"), "high")
        .otherwise("normal")
        .alias("priority_class"),
        cents(F.col("o_totalprice")).alias("total_c"),
        (F.col("o_orderstatus") == "O").alias("is_open"),
    )


@register(
    "q03_top_customer_per_nation",
    """
    SELECT c_nationkey, c_custkey, c_name, c_acctbal
    FROM customer
    QUALIFY row_number() OVER (
        PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) = 1
    """,
    tags=("W1", "O2", "window"),
    bench=True,
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    """Top-1-per-group dedup (W1), the reference's one mandatory window
    (IMPC.py:456-462), with a total order for determinism."""
    from evidence_datasource_parsers_spark.operators.windows import top_n_per_group

    c = load(spark, sf, "customer")
    return top_n_per_group(
        c,
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        n=1,
    ).select("c_nationkey", "c_custkey", "c_name", "c_acctbal")


@register(
    "q04_region_rollup",
    f"""
    SELECT r_name,
           count(*) AS n_customers,
           CAST(SUM({_c('c_acctbal')}) AS BIGINT) AS sum_acctbal_c
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("J1", "J9", "A4", "join"),
    bench=True,
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    """Snowflake rollup: fact → broadcast dim chain, then one small agg."""
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents(F.col("c_acctbal"))).alias("sum_acctbal_c"),
        )
    )


@register(
    "q05_customer_order_stats",
    f"""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           CAST(coalesce(SUM({_c('o_totalprice')}), 0) AS BIGINT) AS total_spent_c
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tags=("J2", "P10", "A4"),
    bench=True,
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    """Left join + per-key agg; zero-order customers kept with coalesce(0).

    Shape: orders PRE-AGGREGATES below the join (Catalyst does not push
    partial aggregation through joins) — the orders shuffle map-side
    combines |orders| rows down to |distinct custkey|, and the join then
    matches one row per key instead of fanning out row-level matches that
    a post-join aggregate must re-collapse.  At 100 TB the difference is
    shuffling the fact table's aggregate, not the fact table."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    per_key = o.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("__n"),
        F.sum(cents(F.col("o_totalprice"))).alias("__s"),
    )
    return c.join(
        per_key, c.c_custkey == per_key.o_custkey, "left"
    ).select(
        "c_custkey",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce(F.col("__s"), F.lit(0)).cast("long").alias("total_spent_c"),
    )


@register(
    "q06_customers_without_orders",
    """
    SELECT 'without' AS tag, c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'with' AS tag, c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("J4", "semi"),
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    """left_anti negative-control exclusion (J4, AzGeneBurden.py:138-153) and
    left_semi existence filter, tagged and unioned — both existence-join
    flavors against the same key, no fan-out on either side."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").select("o_custkey")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("without").alias("tag"), "c_custkey", "c_name"
    )
    with_ = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.lit("with").alias("tag"), "c_custkey", "c_name"
    )
    return without.unionByName(with_)


@register(
    "q08_union_by_name",
    """
    SELECT * FROM (
        SELECT c_custkey AS entity_key, c_name AS entity_name,
               c_acctbal AS acctbal, c_mktsegment AS mktsegment,
               'customer' AS kind
        FROM customer
    ) UNION ALL BY NAME (
        SELECT s_suppkey AS entity_key, s_name AS entity_name,
               s_acctbal AS acctbal, 'supplier' AS kind
        FROM supplier
    )
    """,
    tags=("U1", "U3"),
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    """unionByName(allowMissingColumns=True) schema reconciliation (U1),
    parity GeneBurden.py:55-56 — supplier side lacks mktsegment → null."""
    from evidence_datasource_parsers_spark.operators.joins import union_by_name

    c = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("customer").alias("kind"),
    )
    s = load(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return union_by_name([c, s])


@register(
    "q09_distinct_pairs",
    "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    tags=("A6",),
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    """Full-row distinct (A6)."""
    return load(spark, sf, "customer").select("c_nationkey", "c_mktsegment").distinct()


@register(
    "q10_collect_set",
    """
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           count(DISTINCT c_mktsegment) AS n_segments
    FROM customer GROUP BY c_nationkey
    """,
    tags=("A1", "A7"),
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    """groupBy + collect_set (A1) — sorted and stringified for stable hashing;
    collect_set ordering is undefined (SURVEY §7.4 risk 4)."""
    return (
        load(spark, sf, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias(
                "segments"
            ),
            F.count_distinct("c_mktsegment").alias("n_segments"),
        )
    )


@register(
    "q11_explode_tokens",
    """
    WITH tok AS (
        SELECT p_partkey AS doc, unnest(string_split(p_name, ' ')) AS term
        FROM part
    ), tf AS (
        SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc, term
    ), dl AS (
        SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc
    ), dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS doc_freq
        FROM tf GROUP BY term
    ), stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(dl) AS DOUBLE) AS sumdl
        FROM dl
    ), rel AS (
        SELECT tf.term, tf.tf, tf.doc, d.dl, f.doc_freq,
               ln((1.0 + s.n) / (1.0 + CAST(f.doc_freq AS DOUBLE))) + 1.0
                   AS idf,
               ln(1.0 + (s.n - CAST(f.doc_freq AS DOUBLE) + 0.5)
                        / (CAST(f.doc_freq AS DOUBLE) + 0.5)) AS idf_bm25,
               s.sumdl / s.n AS avgdl
        FROM tf
        JOIN dl d ON tf.doc = d.doc
        JOIN dfreq f ON tf.term = f.term
        CROSS JOIN stats s
    )
    , per_term AS (
        SELECT term AS token,
               CAST(sum(tf) AS BIGINT) AS n,
               max(doc_freq) AS doc_freq,
               round(max(idf), 6) AS idf,
               round(max(CAST(tf AS DOUBLE) * idf), 6) AS top_tfidf,
               round(max(idf_bm25 * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                         / (CAST(tf AS DOUBLE)
                            + 1.2 * (1.0 - 0.75
                                     + 0.75 * CAST(dl AS DOUBLE) / avgdl))),
                     6) AS top_bm25
        FROM rel GROUP BY term
    ), zr AS (
        SELECT n,
               row_number() OVER (ORDER BY n DESC, token) AS r
        FROM per_term
    ), zvals AS (
        SELECT CAST(round(ln(CAST(r AS DOUBLE)), 12) AS DECIMAL(28, 12)) AS xd,
               CAST(round(ln(CAST(n AS DOUBLE)), 12) AS DECIMAL(28, 12)) AS yd,
               CAST(round(round(ln(CAST(r AS DOUBLE)), 12)
                          * round(ln(CAST(n AS DOUBLE)), 12), 12)
                    AS DECIMAL(28, 12)) AS xyd,
               CAST(round(round(ln(CAST(r AS DOUBLE)), 12)
                          * round(ln(CAST(r AS DOUBLE)), 12), 12)
                    AS DECIMAL(28, 12)) AS xxd
        FROM zr
    ), zfit AS (
        SELECT CAST(count(*) AS DOUBLE) AS zn,
               CAST(sum(xd) AS DOUBLE) AS sx, CAST(sum(yd) AS DOUBLE) AS sy,
               CAST(sum(xyd) AS DOUBLE) AS sxy,
               CAST(sum(xxd) AS DOUBLE) AS sxx
        FROM zvals
    )
    SELECT p.*,
           round((zn * sxy - sx * sy) / (zn * sxx - sx * sx), 6)
               AS zipf_slope
    FROM per_term p CROSS JOIN zfit
    """,
    tags=("R1", "split", "tfidf", "bm25"),
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    """split + explode (R1) then count — the word-frequency shape — extended
    to per-term corpus relevance: doc_freq, smoothed idf, and the best
    per-doc tfidf and BM25 score for each term (functions/tfidf.py:
    term_relevance; parts are the docs, p_name the text).  The oracle
    replays tokenize→tf→dl→doc_freq→scalars with IDENTICAL arithmetic
    structure; the final round(…, 6) absorbs libm's 1-ulp ln() spread
    between the JVM and DuckDB.

    ``zipf_slope`` (constant column) is the corpus-health number: the log-log
    least-squares Zipf exponent over the ranked token frequencies.  Float
    SUMS are partition-order-dependent, so the fit's accumulators go
    through exact DECIMAL(28,12) sums of per-row 12-dp-rounded ln values —
    order-independent in BOTH engines — and only the final 5-op formula
    runs in double.

    Scale note: the fit needs a rank over the ENTIRE vocabulary (the
    least-squares sums run over every token), so the old
    ``row_number().over(Window.orderBy(...))`` — a single-partition sort of
    10⁸–10⁹ rows at web scale — is replaced by ``operators.windows.
    global_rank`` (range shuffle + local sorts + exact per-partition
    offsets).  Ranks are bit-identical, so the oracle's ``row_number()
    OVER (ORDER BY n DESC, token)`` is unchanged."""
    from evidence_datasource_parsers_spark.functions.tfidf import (
        term_relevance,
    )
    from evidence_datasource_parsers_spark.operators.windows import (
        global_rank,
    )

    p = load(spark, sf, "part")
    rel = term_relevance(p, "p_partkey", "p_name")
    per_term = rel.groupBy(F.col("term").alias("token")).agg(
        F.sum("tf").cast("long").alias("n"),
        F.max("doc_freq").alias("doc_freq"),
        F.round(F.max("idf"), 6).alias("idf"),
        F.round(F.max("tfidf"), 6).alias("top_tfidf"),
        F.round(F.max("bm25"), 6).alias("top_bm25"),
    )
    per_term = global_rank(
        per_term, [F.col("n").desc(), F.col("token")], rank_col="__r"
    )
    lx = F.round(F.log(F.col("__r").cast("double")), 12)
    ly = F.round(F.log(F.col("n").cast("double")), 12)
    dec = "decimal(28,12)"
    zvals = per_term.select(
        lx.cast(dec).alias("xd"),
        ly.cast(dec).alias("yd"),
        F.round(lx * ly, 12).cast(dec).alias("xyd"),
        F.round(lx * lx, 12).cast(dec).alias("xxd"),
    )
    zfit = zvals.agg(
        F.count(F.lit(1)).cast("double").alias("zn"),
        F.sum("xd").cast("double").alias("sx"),
        F.sum("yd").cast("double").alias("sy"),
        F.sum("xyd").cast("double").alias("sxy"),
        F.sum("xxd").cast("double").alias("sxx"),
    )
    zn, sx, sy = F.col("zn"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = F.round((zn * sxy - sx * sy) / (zn * sxx - sx * sx), 6)
    return per_term.crossJoin(F.broadcast(zfit)).select(
        "token", "n", "doc_freq", "idf", "top_tfidf", "top_bm25",
        slope.alias("zipf_slope"),
    )


@register(
    "q12_explode_outer",
    """
    SELECT o.o_orderkey, u.pri_part
    FROM orders o
    LEFT JOIN LATERAL (
        SELECT unnest(CASE WHEN o.o_orderstatus = 'O'
                           THEN string_split(o.o_orderpriority, '-')
                           ELSE [] END) AS pri_part
    ) u ON true
    """,
    tags=("R2",),
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    """explode_outer (R2): empty arrays keep their row with a null element,
    parity TargetSafety.py:143 / ot_crispr.py:122-124."""
    o = load(spark, sf, "orders")
    arr = F.when(
        F.col("o_orderstatus") == "O", F.split("o_orderpriority", "-")
    ).otherwise(F.array().cast("array<string>"))
    return o.select(
        "o_orderkey", F.explode_outer(arr).alias("pri_part")
    )


@register(
    "q13_melt",
    """
    SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
    """,
    tags=("R3",),
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    """Native wide→long unpivot (R3) replacing the reference's f-string
    ``stack()`` SQL (Essentiality.py:232-247)."""
    from evidence_datasource_parsers_spark.operators.reshape import melt

    p = load(spark, sf, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return melt(p, ["p_partkey"], ["p_size", "p_retailprice"], "attr", "val")


@register(
    "q14_string_funcs",
    """
    SELECT c_custkey,
           CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) AS name_id,
           lower(c_mktsegment) AS seg_lc,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
           concat_ws('|', c_name, c_mktsegment) AS joined,
           substr(c_name, 1, 8) AS name_prefix,
           trim(' ' || c_name || ' ') AS name_trimmed,
           length(c_name) AS name_len,
           replace(c_name, 'Customer', 'Cust') AS name_replaced
    FROM customer
    """,
    tags=("§2.11",),
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    """String-function inventory §2.11: regexp_extract/translate/trim/case/
    concat_ws/substring/replace."""
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"Customer#(\d+)", 1).cast("long").alias("name_id"),
        F.lower("c_mktsegment").alias("seg_lc"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_tr"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias(
            "name_trimmed"
        ),
        F.length("c_name").alias("name_len"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("name_replaced"),
    )


@register(
    "q15_map_recode",
    """
    SELECT r_regionkey, r_name,
           CASE r_name WHEN 'AFRICA' THEN 'AF' WHEN 'AMERICA' THEN 'AM'
                       WHEN 'ASIA' THEN 'AS' WHEN 'EUROPE' THEN 'EU'
                       ELSE 'XX' END AS region_code
    FROM region
    """,
    tags=("P7", "P8", "D4"),
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    """Map-literal lookup with passthrough default (P8/D4): create_map +
    getItem + coalesce, parity Orphanet.py:135-147 / IntOGen.py:36-44."""
    codes = {"AFRICA": "AF", "AMERICA": "AM", "ASIA": "AS", "EUROPE": "EU"}
    m = F.create_map(*[F.lit(x) for kv in codes.items() for x in kv])
    r = load(spark, sf, "region")
    return r.select(
        "r_regionkey",
        "r_name",
        F.coalesce(m[F.col("r_name")], F.lit("XX")).alias("region_code"),
    )


@register(
    "q16_json_extract_normalize",
    """
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k_raw,
           CASE WHEN CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) = 0
                THEN NULL
                ELSE CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT)
           END AS k_nonzero,
           CASE WHEN event_type = '' THEN NULL ELSE event_type END AS etype,
           string_split(event_type || ',' || CAST(user_id AS VARCHAR), ',')[1]
               AS parsed_type,
           CAST(string_split(event_type || ',' || CAST(user_id AS VARCHAR),
                ',')[2] AS BIGINT) AS parsed_user
    FROM events
    """,
    tags=("P9", "F5", "from_csv"),
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    """Null normalization (P9: 0→null, ''→null) over regex-extracted JSON,
    plus string→struct CSV parsing (from_csv, parity
    Pharmacogenetics.py:122): round-trips a packed 'type,user' string
    through the typed parser in the same per-event pass."""
    e = load(spark, sf, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
    parsed = F.from_csv(
        F.concat_ws(",", "event_type", "user_id"),
        "parsed_type string, parsed_user bigint",
    )
    return e.select(
        "event_id",
        k.alias("k_raw"),
        F.when(k == 0, F.lit(None)).otherwise(k).alias("k_nonzero"),
        F.when(F.col("event_type") == "", F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("etype"),
        parsed["parsed_type"].alias("parsed_type"),
        parsed["parsed_user"].alias("parsed_user"),
    )


@register(
    "q18_array_funcs",
    """
    SELECT p_partkey,
           array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), ',')
               AS words_sorted,
           len(string_split(p_name, ' ')) AS n_words,
           string_split(p_name, ' ')[1] AS first_word,
           string_split(p_name, ' ')[-1] AS last_word,
           list_contains(string_split(p_name, ' '), 'widget') AS has_widget,
           array_to_string(
               list_sort(list_filter(list_distinct(string_split(p_name, ' ')),
                                     w -> NOT list_contains(['small','large'], w))),
               ',') AS non_size_words,
           array_to_string(list_transform(string_split(p_name, ' '), w -> upper(w)), ',')
               AS words_uc,
           len(list_filter(string_split(p_name, ' '), w -> length(w) > 4))
               AS n_long_words,
           CAST(coalesce(list_sum(list_transform(string_split(p_name, ' '),
                                                 w -> length(w))), 0) AS BIGINT)
               AS total_chars
    FROM part
    """,
    tags=("§2.14", "R4", "HOF"),
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    """Array-function inventory §2.14 (distinct/sort/size/indexing/contains/
    except) plus the higher-order trio transform/filter/aggregate
    (ChEMBL.py:111, TargetSafety.py:84-99) over the same tokenization — all
    codegen'd, no UDFs; set results sorted + stringified for stable hashing
    (harness canonicalizers cannot sort list-typed cells)."""
    p = load(spark, sf, "part")
    words = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.concat_ws(",", F.sort_array(F.array_distinct(words))).alias("words_sorted"),
        F.size(words).alias("n_words"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.array_contains(words, "widget").alias("has_widget"),
        F.concat_ws(
            ",",
            F.sort_array(
                F.array_except(
                    F.array_distinct(words), F.array(F.lit("small"), F.lit("large"))
                )
            ),
        ).alias("non_size_words"),
        F.concat_ws(",", F.transform(words, lambda w: F.upper(w))).alias("words_uc"),
        F.size(F.filter(words, lambda w: F.length(w) > 4)).alias("n_long_words"),
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("total_chars"),
    )


@register(
    "q20_nullsafe_join",
    """
    WITH evts AS (
        SELECT event_id,
               CASE WHEN value < 1.0 THEN NULL ELSE event_type END AS etype
        FROM events
    ), dim AS (
        SELECT * FROM (VALUES ('click', 'interaction'), ('view', 'interaction'),
                              ('purchase', 'conversion'), ('signup', 'conversion'),
                              ('error', 'fault'), (NULL, 'unattributed'))
               v(etype, category)
    )
    SELECT e.event_id, e.etype, d.category
    FROM evts e LEFT JOIN dim d ON e.etype IS NOT DISTINCT FROM d.etype
    """,
    tags=("J6", "S14", "D9"),
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe enrichment join-back (J6/D9): eqNullSafe left join against an
    in-memory LUT, parity common/ontology.py:87-94 — null keys match the
    LUT's null row instead of dropping out."""
    e = load(spark, sf, "events").select(
        "event_id",
        F.when(F.col("value") < 1.0, F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("etype"),
    )
    dim = spark.createDataFrame(
        [
            ("click", "interaction"),
            ("view", "interaction"),
            ("purchase", "conversion"),
            ("signup", "conversion"),
            ("error", "fault"),
            (None, "unattributed"),
        ],
        "etype string, category string",
    )
    joined = e.join(
        F.broadcast(dim), e["etype"].eqNullSafe(dim["etype"]), "left"
    ).select(e["event_id"], e["etype"], dim["category"])
    return joined


@register(
    "q21_right_join",
    f"""
    SELECT c_custkey, c_mktsegment,
           count(o_orderkey) AS n_urgent_orders
    FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
    RIGHT JOIN customer ON o.o_custkey = customer.c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    tags=("J3",),
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    """Right join (J3), parity ProjectScore.py:73 / Pharmacogenetics.py:128."""
    o = load(spark, sf, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    c = load(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_urgent_orders"))
    )


@register(
    "q22_multikey_join",
    f"""
    WITH flag_stats AS (
        SELECT l_orderkey, l_returnflag,
               CAST(SUM({_c('l_quantity')}) AS BIGINT) AS flag_qty_c
        FROM lineitem GROUP BY l_orderkey, l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, fs.flag_qty_c
    FROM lineitem l
    JOIN flag_stats fs
      ON l.l_orderkey = fs.l_orderkey AND l.l_returnflag = fs.l_returnflag
    """,
    tags=("J5",),
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-key equi-join (J5), parity IMPC.py:342,402 — agg then join back
    on the same two keys (co-partitioned: one shuffle reused by AQE)."""
    l = load(spark, sf, "lineitem")
    stats = l.groupBy("l_orderkey", "l_returnflag").agg(
        F.sum(cents(F.col("l_quantity"))).alias("flag_qty_c")
    )
    return l.join(stats, ["l_orderkey", "l_returnflag"]).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "flag_qty_c"
    )


@register(
    "q23_derived_threshold",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice >= 57000.0 * 5 / (SELECT count(DISTINCT o_orderpriority)
                                         FROM orders)
    """,
    tags=("F7",),
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    """Data-derived (Bonferroni-style) threshold (F7): scalar aggregate joined
    into the predicate — stays one lazy plan, no driver collect
    (cf. common/evidence.py:349-358)."""
    o = load(spark, sf, "orders")
    thresh = o.agg(
        (F.lit(57000.0) * 5 / F.count_distinct("o_orderpriority")).alias("__t")
    )
    return (
        o.crossJoin(F.broadcast(thresh))
        .where(F.col("o_totalprice") >= F.col("__t"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "q24_min_impute",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0
                THEN (SELECT min(l_discount) FROM lineitem WHERE l_discount > 0)
                ELSE l_discount END AS discount_imputed
    FROM lineitem
    """,
    tags=("F8",),
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    """Global-min zero imputation (F8), parity AzGeneBurden.py:105-115 — the
    scalar stays in-plan (broadcast 1-row agg), not a driver collect."""
    from evidence_datasource_parsers_spark.functions.pvalues import (
        impute_zero_with_min,
    )

    l = load(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_discount")
    return impute_zero_with_min(l, "l_discount", "discount_imputed").select(
        "l_orderkey", "l_linenumber", "discount_imputed"
    )


@register(
    "q25_window_analytics",
    """
    SELECT event_id, user_id, value,
           row_number() OVER w AS seq,
           rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS val_rank,
           lag(value) OVER w AS prev_value,
           lead(event_type) OVER w AS next_type,
           CASE WHEN max(value) OVER wt = min(value) OVER wt THEN 0.5
                ELSE (value - min(value) OVER wt)
                     / (max(value) OVER wt - min(value) OVER wt)
           END AS value_norm
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           wt AS (PARTITION BY event_type)
    """,
    tags=("W1", "analytics", "§2.12", "normalization"),
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic windows beyond the reference's W1: row_number/rank/lag/lead
    under total orders, plus per-group min-max renormalization
    (SystemsBiology.py:9-57, done there driver-side in Python) as an
    unordered whole-partition window — min/max are exact over stored
    doubles, the division is one deterministic IEEE op."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    wt = Window.partitionBy("event_type")
    mn, mx = F.min("value").over(wt), F.max("value").over(wt)
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.row_number().over(w).alias("seq"),
        F.rank().over(wr).alias("val_rank"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
        F.when(mx == mn, 0.5)
        .otherwise((F.col("value") - mn) / (mx - mn))
        .alias("value_norm"),
    )


@register(
    "q27_events_hourly",
    f"""
    SELECT date_trunc('hour', ts) AS hour_ts, event_type,
           count(*) AS n,
           CAST(SUM({_c('value')}) AS BIGINT) AS sum_value_c
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming-batch", "A4"),
    bench=True,
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation — exact cents sum."""
    e = load(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("sum_value_c"),
        )
    )


@register(
    "q28_sessionize",
    """
    WITH seq AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, event_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM seq
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_s
    FROM sessions GROUP BY user_id, session_idx
    """,
    tags=("sessionization", "W1"),
    bench=True,
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): lag → cumulative flag-sum →
    per-session agg.  One shuffle on user_id, reused by both windows and the
    final agg (same partitioning key)."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    sessions = seq.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1_000_000
        ).alias("duration_s"),
    )
