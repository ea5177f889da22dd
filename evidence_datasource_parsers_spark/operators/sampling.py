"""Deterministic sampling for training-data pipelines.

Every sampler here derives its decision from the portable 60-bit hash of a
key (functions/hashing.py), never from ``rand()``:

  * re-runs, retries, and speculative task re-execution pick the SAME rows —
    a sample that changes under retry silently corrupts incremental dedup
    and split hygiene (the q50 train/val/test rule);
  * a second engine (the DuckDB oracle, a backfill job, a Python notebook)
    can reproduce the exact sample from the same formula;
  * the decision is a narrow per-row expression — no shuffle, no state, and
    the filter pushes all the way to the scan when the key is a stored
    column.

Salting: every sampler takes a ``salt`` so two samples over the same keys
are independent (hash(key:saltA) and hash(key:saltB) are uncorrelated).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.hashing import portable_hash

# 60-bit hash space; fractions map to a prefix of it.
_SPACE = 1 << 60


def _key_hash(key: Column, salt: str) -> Column:
    return portable_hash(F.concat(key.cast("string"), F.lit(f":{salt}")))


def hash_sample(
    df: DataFrame,
    key: str | Column,
    fraction: float,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose key hashes into the
    first ``fraction`` of the 60-bit space.  Rows with equal keys are kept
    or dropped TOGETHER — sampling by document id keeps every chunk of a
    sampled document, which is usually what a corpus sample means."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    key_col = F.col(key) if isinstance(key, str) else key
    return df.where(_key_hash(key_col, salt) < int(fraction * _SPACE))


def weighted_hash_sample(
    df: DataFrame,
    key: str | Column,
    fraction: float,
    weight_col: str | Column = "sample_weight",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sample: row keep-probability is
    ``min(1, fraction * weight)`` for a per-row ``sample_weight`` column
    (duplicate downweighting, quality scores, mixture multipliers).

    With 1/n weights on each n-document duplicate cluster, sampling at
    ``fraction`` draws each duplicate CLUSTER with total expectation
    ``fraction`` (cluster members split the chance), so duplicated boilerplate stops dominating the
    sample without hard-dropping any document.

    Same machinery as :func:`hash_sample`: the keep decision is a pure
    function of (key, salt), so re-runs and other engines reproduce the
    sample bit-for-bit; rows with NULL weight count as weight 1.  One
    whole-stage-codegen filter, no shuffle, no rand()."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    key_col = F.col(key) if isinstance(key, str) else key
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    p = F.least(
        F.lit(1.0), F.lit(float(fraction)) * F.coalesce(w, F.lit(1.0))
    )
    return df.where(
        _key_hash(key_col, salt)
        < (p * F.lit(float(_SPACE))).cast("long")
    )


def stratified_hash_sample(
    df: DataFrame,
    strata: str,
    key: str | Column,
    fractions: dict,
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling rates (e.g. downsample boilerplate
    web text to 10% while keeping 100% of books).  The rate lookup is a
    broadcast-free CASE chain over literal fractions; the decision stays a
    narrow per-row expression, so this scales exactly like a filter."""
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0, 1]")
    key_col = F.col(key) if isinstance(key, str) else key
    threshold = F.lit(int(default_fraction * _SPACE))
    for value, frac in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata) == F.lit(value), F.lit(int(frac * _SPACE))
        ).otherwise(threshold)
    return df.where(_key_hash(key_col, salt) < threshold)


def reservoir_per_key(
    df: DataFrame,
    key: str,
    k: int,
    id_col: str,
    salt: str = "reservoir",
) -> DataFrame:
    """At most ``k`` rows per key, chosen uniformly and deterministically:
    rank rows within each key by the portable hash of their id and keep the
    first ``k``.  Equivalent in distribution to reservoir sampling, but
    deterministic and expressible as ONE shuffle (the window partition) —
    no sequential state, so it parallelizes like any windowed aggregation.

    Ties cannot occur (the hash includes the row id), so the result is a
    total function of the input set — re-runs and engine replays agree."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = _key_hash(F.col(id_col), salt)
    w = Window.partitionBy(key).orderBy(order.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rs_rank", F.row_number().over(w))
        .where(F.col("__rs_rank") <= k)
        .drop("__rs_rank")
    )


def quality_binned_sample(
    df: DataFrame,
    score_col: str,
    key: str | Column,
    bin_fractions: list[float],
    salt: str = "quality",
    bin_col: str = "quality_bin",
) -> DataFrame:
    """Curriculum-style sampling: split the corpus into ``len(bin_fractions)``
    equal-population quality bins (by ``score_col`` quantiles) and keep a
    different deterministic fraction of each — e.g. ``[0.05, 0.25, 1.0]``
    keeps 5% of the worst third, everything from the best third.

    The bin edges come from ONE ``percentile_approx`` aggregate broadcast
    back into the plan (the F7 in-plan-scalar pattern — no driver collect),
    bin assignment is a narrow array scan over those edges, and the keep
    decision is the same portable-hash rule as every sampler here, salted
    per bin so adjacent bins' samples stay independent.  Output keeps
    ``bin_col`` (0 = lowest quality) for audit.

    Rows with NULL score land in bin 0 (the most-downsampled tier) rather
    than silently vanishing or riding for free.
    """
    n_bins = len(bin_fractions)
    if n_bins < 2:
        raise ValueError("need at least 2 bins")
    for f in bin_fractions:
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fractions must be in [0, 1], got {f}")
    qs = [i / n_bins for i in range(1, n_bins)]
    edges = df.agg(
        F.percentile_approx(
            F.col(score_col), F.array(*[F.lit(q) for q in qs])
        ).alias("__edges")
    )
    key_col = F.col(key) if isinstance(key, str) else key
    # bin = number of edges strictly below the score (ties go DOWN so the
    # boundary population isn't double-kept); NULL score → bin 0.  A
    # degenerate score column (all NULL / empty frame) makes
    # percentile_approx emit NULL edges, filter(NULL) is NULL, and
    # size(NULL) is -1 under the default legacy sizeOfNull — the greatest()
    # clamp sends those rows to bin 0 as documented instead of letting -1
    # reach element_at(thresholds, 0).
    with_bin = df.crossJoin(F.broadcast(edges)).withColumn(
        bin_col,
        F.greatest(
            F.coalesce(
                F.size(
                    F.filter(
                        F.col("__edges"),
                        lambda e: e < F.col(score_col),
                    )
                ),
                F.lit(0),
            ),
            F.lit(0),
        ),
    )
    thresholds = F.array(
        *[F.lit(int(f * _SPACE)).cast("long") for f in bin_fractions]
    )
    keep = _key_hash(
        F.concat(key_col.cast("string"), F.lit(":b"),
                 F.col(bin_col).cast("string")),
        salt,
    ) < F.element_at(thresholds, F.col(bin_col) + 1)
    return with_bin.where(keep).drop("__edges")


def mixture_fractions(
    df: DataFrame,
    domain_col: str,
    weights: dict,
    size_col: str | None = None,
) -> dict:
    """Per-domain sampling fractions that realize a target corpus mixture
    (the data-mixing step of a training pipeline: e.g. 60% web / 30% code /
    10% books by tokens).

    One aggregation computes each domain's available mass (row count, or
    ``sum(size_col)`` for token-weighted mixing); the limiting domain — the
    one whose availability/target ratio is smallest — is taken whole
    (fraction 1.0) and every other domain is downsampled to match, so the
    output is the LARGEST corpus achieving the exact target proportions
    without upsampling.  Domains absent from ``weights`` get fraction 0.

    Returns {domain: fraction} for :func:`stratified_hash_sample`; the
    aggregate is the only action and touches |domains| rows of state.
    """
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    mass = F.count(F.lit(1)) if size_col is None else F.sum(size_col)
    avail = {
        r[0]: r[1]
        for r in df.groupBy(domain_col).agg(mass.alias("m")).collect()
    }
    # weight-0 domains require nothing — only positively-weighted domains
    # must exist in the corpus
    missing = [
        d for d, w in weights.items() if w > 0 and not avail.get(d)
    ]
    if missing:
        raise ValueError(f"no rows available for domain(s) {missing}")
    # scale chosen so the scarcest domain (relative to its target) is kept
    # whole: output_mass(d) = scale * weight(d) <= avail(d) for all d
    scale = min(avail[d] / w for d, w in weights.items() if w > 0)
    return {
        d: min(1.0, (scale * w) / avail[d]) if w > 0 else 0.0
        for d, w in weights.items()
    }


def domain_mixture_sample(
    df: DataFrame,
    domain_col: str,
    key: str | Column,
    weights: dict,
    size_col: str | None = None,
    salt: str = "mixture",
) -> DataFrame:
    """Deterministic mixture sampling in one pass + one filter: compute the
    per-domain fractions for the target mix, then stratified-hash-sample.
    Decisions are per-key portable-hash prefixes — retries, backfills, and
    other engines reproduce the identical corpus (never ``rand()``)."""
    fractions = mixture_fractions(df, domain_col, weights, size_col)
    return stratified_hash_sample(
        df, domain_col, key, fractions, default_fraction=0.0, salt=salt
    )


def temporal_split(
    df: DataFrame,
    ts_col: str,
    cutoffs: list[tuple],
    out_col: str = "split",
) -> DataFrame:
    """Time-ordered splits: train on the past, evaluate on the future —
    the leakage rule hash splits CANNOT give you when examples are
    time-correlated (news about one event lands in train AND test under
    any content-blind random split).

    ``cutoffs`` is ordered [(name, upper_bound), …, (last_name, None)]:
    each row joins the first split whose upper bound is STRICTLY greater
    than its timestamp (bounds are exclusive upper edges; the final None
    catches everything after).  Rows with NULL timestamps get a NULL
    split — silently assigning undated data to train is how eval leaks.

    A narrow when-chain: no shuffle, no hash, pushdown-friendly.
    """
    if not cutoffs or cutoffs[-1][1] is not None:
        raise ValueError("cutoffs must end with a (name, None) catch-all")
    ts = F.col(ts_col)
    expr = None
    for name, bound in cutoffs:
        cond = ts.isNotNull() if bound is None else ts < F.lit(bound).cast(
            dict(df.dtypes)[ts_col]
        )
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr)


def split_assign(
    df: DataFrame,
    key: str | Column,
    splits: dict,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic named-split assignment (train/val/test): the key's
    60-bit hash falls into cumulative fraction bands.  Same contract as
    every sampler here — never ``rand()``, so retries/backfills/other
    engines assign identically, and equal keys land in the same split."""
    total = sum(splits.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    for name, frac in splits.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(
                f"fraction for split {name!r} must be in [0, 1], got {frac}"
            )
    key_col = F.col(key) if isinstance(key, str) else key
    h = _key_hash(key_col, salt)
    expr = None
    acc = 0.0
    for name, frac in sorted(splits.items()):
        acc += frac
        cond = h < int(acc * _SPACE)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    # float-rounding tail: the last band absorbs the boundary
    last = sorted(splits)[-1]
    return df.withColumn(out_col, expr.otherwise(F.lit(last)))


def leakage_safe_split(
    corpus: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    splits: dict | None = None,
    salt: str = "split",
) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across
    splits: the split decision hashes the CLUSTER representative, not the
    document id, so every member of a near-dup cluster (from
    ``duplicate_clusters``) lands in the same split — the leakage that
    id-hash splits (q50 shape) silently permit.

    ``clusters`` is (doc_id, cluster_id); unclustered documents (absent
    from it) are their own singleton cluster.  One equi-join on the id
    (AQE broadcasts the cluster map when it is small — only CLUSTERED
    docs appear in it, typically a small fraction of the corpus) plus the
    narrow hash expression."""
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    # duplicate_clusters' contract is (doc_id, cluster_id) regardless of
    # the corpus's id column name; fall back to id_col for hand-built maps
    cluster_id_src = "doc_id" if "doc_id" in clusters.columns else id_col
    cmap = clusters.select(
        F.col(cluster_id_src).alias("__cid"),
        F.col("cluster_id").alias("__cluster"),
    )
    joined = corpus.join(
        cmap, corpus[id_col] == cmap["__cid"], "left"
    ).drop("__cid")
    effective = F.coalesce(F.col("__cluster"), F.col(id_col))
    return split_assign(joined, effective, splits, salt=salt).drop("__cluster")
