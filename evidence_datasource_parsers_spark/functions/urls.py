"""URL canonicalization for crawl dedup.

Before any content-level dedup, a crawl pipeline collapses URL aliases —
``HTTP://Example.com:80/a?utm_source=x&b=1#frag`` and
``http://example.com/a?b=1`` are the same fetch.  Everything here is native
Spark SQL expressions (regexp + higher-order array functions): a narrow
per-row projection, no UDF, no shuffle, fully pushdown-compatible.

Canonical form applied by :func:`canonicalize_url`:

  * scheme and host lowercased; default ports (:80 http, :443 https)
    stripped;
  * tracking parameters dropped (utm_*, fbclid, gclid, msclkid, mc_cid,
    mc_eid, igshid, ref_src);
  * remaining query parameters SORTED (param order is almost never
    semantic; sorting makes the form canonical);
  * fragment dropped (never sent to the server);
  * trailing slash trimmed from non-root paths, empty path → ``/``.

This is deliberately the conservative subset: it never merges URLs that
could be different resources (no case-folding of paths, no param-value
rewriting).  Content-level dedup (operators/dedupe.py) handles what URL
normalization can't see.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TRACKING_PARAM_RE = (
    r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_cid|mc_eid|igshid|ref_src)="
)

_URL_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def _part(url: Column, i: int) -> Column:
    return F.regexp_extract(url, _URL_RE, i)


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form of an absolute http(s)-style URL (see module doc).
    Strings that do not parse as ``scheme://netloc...`` pass through
    unchanged — canonicalization must never destroy a key it cannot read.
    """
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(_part(u, 1))
    netloc = F.lower(_part(u, 2))
    host = F.when(
        (scheme == "http") & netloc.endswith(":80"),
        F.substring_index(netloc, ":80", 1),
    ).otherwise(
        F.when(
            (scheme == "https") & netloc.endswith(":443"),
            F.substring_index(netloc, ":443", 1),
        ).otherwise(netloc)
    )
    raw_path = _part(u, 3)
    path = F.when(raw_path == "", F.lit("/")).otherwise(
        F.when(
            (F.length(raw_path) > 1) & raw_path.endswith("/"),
            F.regexp_replace(raw_path, r"/+$", ""),
        ).otherwise(raw_path)
    )
    raw_query = _part(u, 4)  # includes leading '?' or ''
    params = F.filter(
        F.split(F.regexp_replace(raw_query, r"^\?", ""), "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    query = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
    ).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), host, path, query)
    return F.when(scheme == "", u).otherwise(canon)


def _sql_regex(pattern: str) -> str:
    """Regex constant → Spark-SQL single-quoted literal body (backslashes
    doubled so the parsed string is the original pattern)."""
    return pattern.replace("\\", "\\\\")


def canonicalize_url_sql(expr: str) -> str:
    """SQL-string twin of :func:`canonicalize_url` over a URL SQL
    expression — same parse regex, same CASE/filter/sort tree, built in
    ZERO py4j round trips (r13: the Column form costs ~100 driver round
    trips per call; plan-identity is pinned by
    tests/test_urls.py::test_canonicalize_url_sql_plan_equal)."""
    re_lit = _sql_regex(_URL_RE)
    scheme = f"lower(regexp_extract({expr}, '{re_lit}', 1))"
    netloc = f"lower(regexp_extract({expr}, '{re_lit}', 2))"
    host = (
        f"CASE WHEN ({scheme} = 'http') AND endswith({netloc}, ':80') "
        f"THEN substring_index({netloc}, ':80', 1) "
        f"ELSE CASE WHEN ({scheme} = 'https') AND endswith({netloc}, ':443') "
        f"THEN substring_index({netloc}, ':443', 1) "
        f"ELSE {netloc} END END"
    )
    raw_path = f"regexp_extract({expr}, '{re_lit}', 3)"
    path = (
        f"CASE WHEN {raw_path} = '' THEN '/' "
        f"ELSE CASE WHEN (length({raw_path}) > 1) "
        f"AND endswith({raw_path}, '/') "
        f"THEN regexp_replace({raw_path}, '/+$', '') "
        f"ELSE {raw_path} END END"
    )
    raw_query = f"regexp_extract({expr}, '{re_lit}', 4)"
    params = (
        f"filter(split(regexp_replace({raw_query}, '^\\\\?', ''), '&'), "
        f"p -> (p != '') AND "
        f"(NOT (p RLIKE '{_sql_regex(TRACKING_PARAM_RE)}')))"
    )
    query = (
        f"CASE WHEN size({params}) > 0 "
        f"THEN concat('?', array_join(array_sort({params}), '&')) "
        f"ELSE '' END"
    )
    canon = f"concat({scheme}, '://', {host}, {path}, {query})"
    return f"CASE WHEN {scheme} = '' THEN {expr} ELSE {canon} END"


_TWO_LEVEL_RE = r"\.(co|com|org|net|gov|ac|edu)\.(uk|au|nz|jp|za|in|br)$"


def registrable_domain_sql(expr: str) -> str:
    """SQL-string twin of :func:`registrable_domain` (see
    :func:`canonicalize_url_sql`)."""
    re_lit = _sql_regex(_URL_RE)
    host = (
        f"substring_index(lower(regexp_extract({expr}, '{re_lit}', 2)), "
        f"':', 1)"
    )
    labels = f"split({host}, '\\\\.')"
    n = f"size({labels})"
    two_level = f"{host} RLIKE '{_sql_regex(_TWO_LEVEL_RE)}'"
    take = f"least(CASE WHEN {two_level} THEN 3 ELSE 2 END, {n})"
    return (
        f"CASE WHEN {host} = '' THEN CAST(NULL AS STRING) "
        f"ELSE array_join(slice({labels}, {n} - {take} + 1, {take}), '.') END"
    )


def registrable_domain(url: Column | str) -> Column:
    """Best-effort registrable domain of a URL's host: last two labels,
    or last three when the host ends in a common two-level public suffix
    (co.uk, com.au, ...).  A heuristic subset of the Public Suffix List —
    good enough for per-domain mixing/throttling stats; swap in a full PSL
    table join where exactness matters."""
    u = F.col(url) if isinstance(url, str) else url
    host = F.lower(_part(u, 2))
    host = F.substring_index(host, ":", 1)  # strip port
    labels = F.split(host, r"\.")
    n = F.size(labels)
    two_level = host.rlike(_TWO_LEVEL_RE)
    take = F.when(two_level, F.lit(3)).otherwise(F.lit(2))
    take = F.least(take, n)
    return F.when(
        host == "", F.lit(None).cast("string")
    ).otherwise(F.array_join(F.slice(labels, n - take + 1, take), "."))


def dedupe_by_url(
    df: DataFrame, url_col: str, id_col: str
) -> DataFrame:
    """Keep one row (min id) per canonical URL — the cheap first pass
    before content dedup; same min-id representative rule as
    ``operators.dedupe.exact_dedupe``, grouped on the canonical string."""
    canon = canonicalize_url(F.col(url_col))
    hashed = df.withColumn("__cu", canon)
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        hashed.groupBy("__cu")
        .agg(F.min_by(row, F.col(id_col)).alias("__row"))
        .select("__row.*")
    )


def filter_urls(
    df: DataFrame,
    url_col: str,
    *,
    allow_domains: list[str] | None = None,
    block_domains: list[str] | None = None,
    block_patterns: list[str] | None = None,
    keep_null_urls: bool = False,
) -> DataFrame:
    """Crawl-curation URL gate — the blocklist stage every corpus refresh
    runs before spending compute on content (C4/RefinedWeb-style):

      * ``block_domains`` — drop rows whose REGISTRABLE domain is listed
        (so ``spam.example`` also blocks ``cdn.spam.example``);
      * ``allow_domains`` — if given, keep ONLY listed registrable
        domains (allowlist crawls);
      * ``block_patterns`` — Java regexes matched against the canonical
        URL (path-level junk: /tag/, /login, calendars, infinite
        facets…);
      * NULL/unparseable-host URLs drop unless ``keep_null_urls``.

    Scale shape: domain lists are LITERAL IN-PLAN SETS (isin) — the right
    encoding up to ~10⁴ entries, after which pass a domain FRAME and
    anti-join it (broadcast_if_small) instead; patterns fold into ONE
    alternation regex evaluated once per row.  Everything is native
    expressions: the filter runs in whole-stage codegen and pushes past
    column pruning — zero Python, zero shuffle.
    """
    dom = registrable_domain(F.col(url_col))
    cond = F.lit(True)
    if not keep_null_urls:
        cond = dom.isNotNull()
    if allow_domains is not None:
        # NULL-host rows: a bare isin is NULL for NULL dom and where()
        # drops it, silently overriding keep_null_urls — make the branch
        # explicit either way
        allowed = F.coalesce(
            dom.isin([d.lower() for d in allow_domains]), F.lit(False)
        )
        if keep_null_urls:
            allowed = allowed | dom.isNull()
        cond = cond & allowed
    if block_domains:
        cond = cond & ~F.coalesce(
            dom.isin([d.lower() for d in block_domains]), F.lit(False)
        )
    if block_patterns:
        merged = "(?i)(" + "|".join(f"(?:{p})" for p in block_patterns) + ")"
        cond = cond & ~F.coalesce(
            canonicalize_url(F.col(url_col)).rlike(merged), F.lit(False)
        )
    return df.where(cond)


def _parse_robots_groups(text: str):
    """robots.txt line walk shared by the RFC matcher and the directives
    extractor.  Returns ``(groups, sitemaps)`` where each group is
    ``{"uas": [lowercased UA values], "rules": [(is_allow, pattern)],
    "crawl_delay": float | None}`` and ``sitemaps`` is the file-global
    Sitemap list (not group-scoped, per the de-facto convention)."""
    groups: list[dict] = []
    uas: list[str] = []
    rules: list[tuple[bool, str]] = []
    delay: float | None = None
    sitemaps: list[str] = []
    in_group = False  # saw at least one rule since the last UA line

    def close():
        nonlocal uas, rules, delay, in_group
        if uas:
            groups.append(
                {"uas": uas, "rules": rules, "crawl_delay": delay}
            )
        uas, rules, delay, in_group = [], [], None, False

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_group:
                close()
            uas.append(val.lower())
        elif key in ("allow", "disallow"):
            if not uas:
                continue  # rule before any user-agent line: ignored
            in_group = True
            if val == "" and key == "disallow":
                continue  # empty Disallow matches nothing
            if val != "":
                rules.append((key == "allow", val))
        elif key == "crawl-delay":
            if not uas:
                continue
            in_group = True
            try:
                delay = float(val)
            except ValueError:
                pass
        elif key == "sitemap":
            if val:
                sitemaps.append(val)
        # other keys end nothing per RFC
    close()
    return groups, sitemaps


def _select_robots_groups(groups: list[dict], agent: str) -> list[dict]:
    """RFC 9309 §2.2.1 group selection: all groups whose UA value is the
    LONGEST case-insensitive prefix of the agent's product token (they
    merge); the ``*`` groups when no specific UA matches."""
    tok = agent.lower()
    best = -1
    for g in groups:
        for ua in g["uas"]:
            if ua != "*" and tok.startswith(ua) and len(ua) > best:
                best = len(ua)
    selected = []
    for g in groups:
        for ua in g["uas"]:
            hit = (
                (best >= 0 and ua != "*" and tok.startswith(ua)
                 and len(ua) == best)
                or (best < 0 and ua == "*")
            )
            if hit:
                selected.append(g)
                break
    return selected


class Rfc9309Matcher:
    """Minimal RFC 9309 robots.txt evaluator (longest-match semantics).

    Implements the normative matching rules of RFC 9309:

      * **group selection** (§2.2.1): the crawler obeys the group whose
        ``User-agent`` line is the LONGEST case-insensitive prefix of its
        product token; ``*`` is the fallback group.  Multiple groups with
        the same (winning) user-agent value merge their rules.
      * **rule matching** (§2.2.2): among all ``Allow``/``Disallow``
        rules whose path pattern matches the URL's path(+query), the rule
        with the LONGEST pattern (most octets) wins; on a tie, ``Allow``
        wins.  An empty ``Disallow:`` value matches nothing (allow all).
      * patterns support the ``*`` wildcard and the ``$`` end anchor
        (§2.2.3).
      * a URL with no matching rule is allowed.

    This differs from the stdlib ``urllib.robotparser`` (first-match in
    file order) exactly where real robots files differ: a broad
    ``Disallow`` listed before a narrower ``Allow`` blocks under the
    stdlib but allows under the RFC.  Pure stdlib + ``re``; one compiled
    rule list per robots body (memoized per worker by the kernel).
    """

    def __init__(self, text: str, agent: str = "*") -> None:
        import re as _re

        groups, _sitemaps = _parse_robots_groups(text)
        selected = _select_robots_groups(groups, agent)
        self._rules: list[tuple[bool, int, object]] = []
        for is_allow, pat in (
            r for g in selected for r in g["rules"]
        ):
            spec = len(pat.encode("utf-8"))  # octet length = specificity
            anchored = pat.endswith("$")
            body = pat[:-1] if anchored else pat
            rx = ".*".join(_re.escape(p) for p in body.split("*"))
            rx = "^" + rx + ("$" if anchored else "")
            try:
                self._rules.append((is_allow, spec, _re.compile(rx)))
            except _re.error:
                continue  # unparseable pattern: skip the rule

    def can_fetch(self, path: str) -> bool:
        """``path`` is the URL's path plus ``?query`` if any; '' ⇒ '/'."""
        if not path.startswith("/"):
            path = "/" + path
        verdict, best_spec = True, -1
        for is_allow, spec, rx in self._rules:
            if rx.match(path) is None:
                continue
            if spec > best_spec or (spec == best_spec and is_allow):
                verdict, best_spec = is_allow, spec
        return verdict


def with_robots_allowed(
    df: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    agent: str = "*",
    *,
    robots_domain_col: str = "domain",
    robots_text_col: str = "robots_txt",
    out_col: str = "robots_allowed",
    semantics: str = "stdlib",
) -> DataFrame:
    """Crawl-politeness gate: evaluate each URL against its domain's
    robots.txt and append a boolean ``out_col``.

    ``semantics`` selects the rule-matching model:

      * ``'stdlib'`` (default) — ``urllib.robotparser``: rules apply
        FIRST-match in file order within the selected user-agent group.
      * ``'rfc9309'`` — :class:`Rfc9309Matcher`: LONGEST-match with
        Allow-wins-ties, ``*``/``$`` pattern support, and
        longest-prefix user-agent group selection, per RFC 9309.

    The two agree on the overwhelmingly common Allow-before-Disallow
    override layout; real crawls hitting Allow/Disallow precedence
    (broad Disallow before narrow Allow) need the rfc9309 mode.

    ``robots`` is a ``(domain, robots_txt)`` frame — one row per
    REGISTRABLE domain, as a robots-fetching stage would materialize it.
    Conventions: a URL with no robots row, a NULL/empty robots body, or a
    NULL/unparseable host is ALLOWED (absent robots means no restrictions;
    a politeness gate must not silently eat rows the way a blocklist
    would — compose with :func:`filter_urls` for that policy).

    Scale shape: one equi-join on the registrable domain — the robots side
    is domains-sized (≪ URLs) and rides ``broadcast_if_small`` — then one
    Arrow kernel that memoizes ONE parsed ``RobotFileParser`` per distinct
    robots body per worker (crawls hit the same domains millions of
    times; the parse cost amortizes to zero).  No shuffle beyond the
    broadcast join.
    """
    from evidence_datasource_parsers_spark.operators.joins import (
        broadcast_if_small,
    )

    if semantics not in ("stdlib", "rfc9309"):
        raise ValueError(
            f"semantics must be 'stdlib' or 'rfc9309', got {semantics!r}"
        )

    rb = robots.select(
        F.col(robots_domain_col).alias("__rdom"),
        F.col(robots_text_col).alias("__rtxt"),
    )
    joined = df.join(
        broadcast_if_small(rb),
        registrable_domain(F.col(url_col)).eqNullSafe(F.col("__rdom")),
        how="left",
    ).drop("__rdom")
    id_like = [c for c in df.columns]

    rfc = semantics == "rfc9309"

    def kernel(batches):
        import urllib.robotparser
        from urllib.parse import urlsplit

        cache: dict[str, object] = {}

        def parser_for(txt: str):
            rp = cache.get(txt)
            if rp is None:
                if rfc:
                    rp = Rfc9309Matcher(txt, agent)
                else:
                    rp = urllib.robotparser.RobotFileParser()
                    rp.parse(txt.splitlines())
                cache[txt] = rp
            return rp

        for pdf in batches:
            allowed = []
            for url, txt in zip(pdf[url_col], pdf["__rtxt"]):
                if txt is None or not str(txt).strip() or url is None:
                    allowed.append(True)
                    continue
                try:
                    # both matchers evaluate the URL's path+query
                    u = urlsplit(str(url))
                    if not u.netloc:
                        allowed.append(True)
                        continue
                    p = parser_for(str(txt))
                    if rfc:
                        path = u.path + (f"?{u.query}" if u.query else "")
                        allowed.append(p.can_fetch(path))
                    else:
                        allowed.append(
                            bool(p.can_fetch(agent, str(url)))
                        )
                except Exception:  # noqa: BLE001 — malformed robots ⇒ allow
                    allowed.append(True)
            out = pdf[id_like].copy()
            out[out_col] = allowed
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} boolean"
    return joined.mapInPandas(kernel, schema)


def filter_by_robots(
    df: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    agent: str = "*",
    **kwargs,
) -> DataFrame:
    """Keep only robots-allowed URLs — :func:`with_robots_allowed` + a
    filter, dropping the audit column."""
    flagged = with_robots_allowed(df, robots, url_col, agent, **kwargs)
    return flagged.where(F.col("robots_allowed")).drop("robots_allowed")


def robots_directives(
    robots: DataFrame,
    agent: str = "*",
    *,
    robots_domain_col: str = "domain",
    robots_text_col: str = "robots_txt",
) -> DataFrame:
    """Per-domain scheduling directives from a ``(domain, robots_txt)``
    frame: ``(domain, crawl_delay, sitemaps)``.

    ``crawl_delay`` is the selected user-agent group's ``Crawl-delay``
    (RFC 9309 group selection — longest-prefix UA, ``*`` fallback; the
    directive itself is the de-facto extension every major crawler
    honors), NULL when absent/unparseable — the politeness SCHEDULER's
    input, where :func:`with_robots_allowed` is the per-URL GATE.
    ``sitemaps`` is the file-global Sitemap list (not group-scoped, per
    the sitemaps.org convention) — the crawl-discovery frontier's seed,
    feed the fetched bodies to :func:`parse_sitemaps`.

    One Arrow pass over the domains-sized frame; no shuffle."""
    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            doms, delays, maps = [], [], []
            for dom, txt in zip(
                pdf[robots_domain_col], pdf[robots_text_col]
            ):
                delay, sm = None, []
                if txt is not None and str(txt).strip():
                    try:
                        groups, sm = _parse_robots_groups(str(txt))
                        for g in _select_robots_groups(groups, agent):
                            if g["crawl_delay"] is not None:
                                delay = g["crawl_delay"]
                                break
                    except Exception:  # noqa: BLE001 — malformed ⇒ NULLs
                        delay, sm = None, []
                doms.append(dom)
                delays.append(delay)
                maps.append(sm)
            yield pd.DataFrame(
                {
                    robots_domain_col: doms,
                    "crawl_delay": delays,
                    "sitemaps": maps,
                }
            )

    return robots.select(robots_domain_col, robots_text_col).mapInPandas(
        kernel,
        f"{robots_domain_col} string, crawl_delay double,"
        " sitemaps array<string>",
    )


def parse_sitemaps(
    df: DataFrame,
    xml_col: str = "body",
    url_col: str = "sitemap_url",
) -> DataFrame:
    """Fetched sitemap XML bodies → one row per entry:
    ``(sitemap_url, kind, loc, lastmod, changefreq, priority)`` with
    ``kind`` = ``'url'`` (a ``<urlset>`` page entry) or ``'sitemap'`` (a
    ``<sitemapindex>`` child to fetch next — the caller loops until no
    ``'sitemap'`` rows remain; index recursion is I/O, not a plan
    shape).  Namespace-agnostic local-name matching (real sitemaps mix
    default/prefixed/absent namespaces); unparseable bodies and
    entries without ``<loc>`` yield no rows.  One Arrow pass via stdlib
    ElementTree; at crawl scale the frame is sitemaps-sized (≪ URLs)
    and the parse distributes per-row with no shuffle."""
    def kernel(batches):
        import xml.etree.ElementTree as ET

        import pandas as pd

        def local(tag: str) -> str:
            return tag.rsplit("}", 1)[-1].lower()

        for pdf in batches:
            rows = []
            for src, body in zip(pdf[url_col], pdf[xml_col]):
                if body is None:
                    continue
                try:
                    root = ET.fromstring(str(body))
                except ET.ParseError:
                    continue
                root_kind = {
                    "urlset": "url", "sitemapindex": "sitemap"
                }.get(local(root.tag))
                if root_kind is None:
                    continue
                for entry in root:
                    if local(entry.tag) not in ("url", "sitemap"):
                        continue
                    fields = {
                        local(ch.tag): (ch.text or "").strip()
                        for ch in entry
                    }
                    loc = fields.get("loc")
                    if not loc:
                        continue
                    prio = None
                    try:
                        if fields.get("priority"):
                            prio = float(fields["priority"])
                    except ValueError:
                        prio = None
                    rows.append(
                        (
                            src, root_kind, loc,
                            fields.get("lastmod") or None,
                            fields.get("changefreq") or None,
                            prio,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    url_col, "kind", "loc", "lastmod", "changefreq",
                    "priority",
                ],
            )

    return df.select(url_col, xml_col).mapInPandas(
        kernel,
        f"{url_col} string, kind string, loc string, lastmod string,"
        " changefreq string, priority double",
    )


def schedule_fetches(
    df: DataFrame,
    directives: DataFrame | None = None,
    url_col: str = "url",
    *,
    default_delay: float = 1.0,
    delay_cap: float = 60.0,
    max_urls_per_domain: int | None = None,
    recrawl_share: float | None = None,
) -> DataFrame:
    """Per-domain politeness schedule — the consumer of
    :func:`robots_directives`: append ``domain``, ``crawl_delay`` (the
    domain's directive, defaulted to ``default_delay``, capped at
    ``delay_cap`` — a hostile 86400-second directive must not park a
    domain for a day) and ``fetch_offset_s`` = (per-domain rank − 1) ×
    delay, so a fetcher draining the frame in offset order never hits
    one domain faster than its delay.  Rank order is the canonical URL —
    deterministic across runs, so re-planning the same frontier yields
    the same schedule.

    ``max_urls_per_domain`` truncates each domain's schedule (frontier
    budgeting).  NULL-domain rows keep NULL offsets (unscheduled; gate
    them with :func:`filter_urls`).

    ``recrawl_share`` (requires ``max_urls_per_domain`` and a boolean
    ``is_recrawl`` column)
    splits each domain's budget: re-crawls get at most
    ``floor(share × max)`` slots and new URLs the rest, with either class
    borrowing slots the other leaves unfilled — so a burst of TTL
    re-admissions can never starve new discoveries past the configured
    share, and a quiet re-crawl day does not idle the budget.  Offsets
    are then re-ranked over the survivors so the drained schedule stays
    gap-free.

    Scale shape: one broadcast-size join (directives are domains-sized)
    plus ONE window partitioned by registrable domain — the natural
    shape, since a schedule is inherently sequential within a domain.
    The skew hazard is therefore per-domain row count, not the plan:
    a 10⁷-URL domain makes a 10⁷-row window partition.  Set
    ``max_urls_per_domain`` in frontier planning (every real crawler
    budgets per-domain anyway); the rank still computes before the
    truncation, so the cap does not change surviving offsets.
    """
    from pyspark.sql import Window

    from evidence_datasource_parsers_spark.operators.joins import (
        broadcast_if_small,
    )

    out = df.withColumn("domain", registrable_domain(F.col(url_col)))
    if directives is not None:
        dirs = directives.select(
            F.col("domain"), F.col("crawl_delay").alias("__cd")
        )
        out = out.join(broadcast_if_small(dirs), on="domain", how="left")
    else:
        out = out.withColumn("__cd", F.lit(None).cast("double"))
    delay = F.least(
        F.coalesce(F.col("__cd"), F.lit(float(default_delay))),
        F.lit(float(delay_cap)),
    )
    w = Window.partitionBy("domain").orderBy(
        canonicalize_url(F.col(url_col)), F.col(url_col)
    )
    out = (
        out.withColumn("crawl_delay", delay)
        .withColumn("__rk", F.row_number().over(w))
        .drop("__cd")
    )
    if recrawl_share is not None:
        if max_urls_per_domain is None:
            raise ValueError("recrawl_share requires max_urls_per_domain")
        if "is_recrawl" not in out.columns:
            raise ValueError(
                "recrawl_share needs a boolean is_recrawl column"
            )
        r_cap = int(float(recrawl_share) * max_urls_per_domain)
        n_cap = max_urls_per_domain - r_cap
        # NULL flags would form their own (domain, NULL) class partition,
        # count toward NEITHER class total, and slip past the budget —
        # normalize to the conservative reading (unknown = new)
        out = out.withColumn(
            "is_recrawl", F.coalesce(F.col("is_recrawl"), F.lit(False))
        )
        # per-class rank + per-domain class counts: each class holds its
        # reserved slots and borrows whatever the other leaves unfilled.
        # Same partition key as the schedule window — one Exchange total.
        w_class = Window.partitionBy("domain", "is_recrawl").orderBy(
            canonicalize_url(F.col(url_col)), F.col(url_col)
        )
        w_dom = Window.partitionBy("domain")
        is_re = F.col("is_recrawl")
        out = (
            out.withColumn("__crk", F.row_number().over(w_class))
            .withColumn(
                "__n_new",
                F.sum(F.when(~is_re, 1).otherwise(0)).over(w_dom),
            )
            .withColumn(
                "__n_re", F.sum(F.when(is_re, 1).otherwise(0)).over(w_dom)
            )
        )
        r_allow = F.lit(r_cap) + F.greatest(
            F.lit(0), F.lit(n_cap) - F.col("__n_new")
        )
        n_allow = F.lit(n_cap) + F.greatest(
            F.lit(0), F.lit(r_cap) - F.col("__n_re")
        )
        out = out.where(
            F.col("domain").isNull()
            | F.when(is_re, F.col("__crk") <= r_allow).otherwise(
                F.col("__crk") <= n_allow
            )
        ).drop("__crk", "__n_new", "__n_re")
        # re-rank the survivors so offsets stay gap-free (the class split
        # leaves holes in the combined rank)
        out = out.withColumn("__rk", F.row_number().over(w))
    elif max_urls_per_domain is not None:
        # NULL-domain rows are documented passthrough (unscheduled) — the
        # budget must not silently delete them past the cap
        out = out.where(
            (F.col("__rk") <= max_urls_per_domain)
            | F.col("domain").isNull()
        )
    return out.withColumn(
        "fetch_offset_s",
        F.when(
            F.col("domain").isNotNull(),
            (F.col("__rk") - 1) * F.col("crawl_delay"),
        ),
    ).drop("__rk")
