"""URL canonicalization and registrable domain as Spark SQL expressions.

Both functions take a URL SQL expression (a column reference such as
`` `url` `` or any string-valued expression) and return the SQL text of a
native expression over it: regexp extraction plus higher-order array
functions, a narrow per-row projection with no UDF and no shuffle.  The
caller wraps the text in ``F.expr`` or splices it into a query; building it
costs no py4j round trips.  q29 uses both.

Canonical form applied by :func:`canonicalize_url_sql`:

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
rewriting).  Strings that do not parse as ``scheme://netloc...`` pass
through unchanged.

:func:`registrable_domain_sql` is the best-effort registrable domain of the
host: the last two labels, or the last three when the host ends in a common
two-level public suffix (co.uk, com.au, ...) — a heuristic subset of the
Public Suffix List.  Hosts that do not parse give NULL.
"""

from __future__ import annotations

TRACKING_PARAM_RE = (
    r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_cid|mc_eid|igshid|ref_src)="
)

_URL_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def _sql_regex(pattern: str) -> str:
    """Regex constant → Spark-SQL single-quoted literal body (backslashes
    doubled so the parsed string is the original pattern)."""
    return pattern.replace("\\", "\\\\")


def canonicalize_url_sql(expr: str) -> str:
    """Canonical form of the URL expression ``expr`` (see module doc)."""
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
    """Registrable domain of the URL expression ``expr``'s host (see
    module doc)."""
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
