"""Text analysis primitives for a training-data pipeline, all JVM-side.

Language-ID (stopword and Unicode-script heuristics), stopword ratios and
token counting — every one a composition of built-in functions (no Python
UDFs), so they run inside whole-stage codegen and scale linearly with input
splits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword inventories for the n-gram/stopword heuristic.
# Deliberately small: the point is the *operator shape* (score → argmax), the
# inventory is swappable.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
    "it": ["il", "di", "che", "non", "per"],
    "pt": ["uma", "com", "os", "que", "para"],
}

STOPWORDS_EN = LANG_STOPWORDS["en"] + ["in", "is", "it", "for", "on"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization: trim then split on runs of whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# BPE-style pre-tokenization class: letter runs merge (BPE merges almost all
# common words), digits stay separate (GPT-family tokenizers split number
# strings), everything else (punctuation, symbols, non-Latin letters) is one
# token per character.  Counts the MATCHES, so whitespace itself is free.
# Kept to a dialect-neutral subset (no \s, no lookaround) so the Java regex
# and the oracle's RE2 agree codepoint-for-codepoint.
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]"


def bpe_like_token_count(text: Column | str) -> Column:
    """Regex estimate of a BPE tokenizer's token count — the standard corpus
    budgeting statistic.  Unlike chars/4 it responds to punctuation and
    digit density the way real tokenizers do."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords (exact-match, lowercased)."""
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS_EN)])
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return n_stop / F.size(toks)


def stopword_hits(text: Column | str, stopwords: list[str]) -> Column:
    """Count of tokens belonging to *stopwords* — the lang-ID score kernel."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def lang_guess(text: Column | str) -> Column:
    """Argmax-of-stopword-hits language guess over LANG_STOPWORDS.

    Ties break by language code *descending* (struct comparison: highest hits,
    then highest code) — deterministic and mirrored exactly in the oracle SQL.
    """
    scored = F.array(
        *[
            F.struct(
                stopword_hits(text, sw).alias("hits"),
                F.lit(code).alias("code"),
            )
            for code, sw in sorted(LANG_STOPWORDS.items())
        ]
    )
    return F.array_max(scored)["code"]


# --- Unicode-script language ID ---------------------------------------------

# The stopword tier above separates LANGUAGES that share the Latin script;
# a real multilingual crawl first needs the SCRIPT decided (CJK, Cyrillic,
# Arabic, …) — stopword lists are meaningless across scripts.  Names are
# Unicode Script property values; Java regex spells them \p{IsXxx}, RE2
# (the DuckDB oracle) \p{Xxx} — both implement the same Unicode tables.
UNICODE_SCRIPTS: tuple[str, ...] = (
    "arabic", "cyrillic", "devanagari", "greek", "han", "hangul",
    "hebrew", "hiragana", "katakana", "latin", "thai",
)


def script_count(text: Column | str, script: str) -> Column:
    """Count of characters whose Unicode Script property is ``script`` —
    one JVM ``regexp_count`` pass, no Python."""
    if script not in UNICODE_SCRIPTS:
        raise ValueError(f"unknown script {script!r}")
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(rf"\p{{Is{script.capitalize()}}}"))


def dominant_script(
    text: Column | str, scripts: tuple[str, ...] = UNICODE_SCRIPTS
) -> Column:
    """Argmax-of-character-counts script guess, ``'none'`` when no listed
    script appears.  Ties break by script name DESCENDING (struct max:
    highest count, then lexicographically greatest name) — deterministic
    and replayable in the oracle as ``list_max`` over the same structs.

    Cost: one regexp pass per candidate script.  For corpus-scale use,
    gate on a cheap non-ASCII test first (pure-ASCII text is Latin by
    construction) or narrow ``scripts`` to the deployment's candidates.
    """
    scored = F.array(
        *[
            F.struct(
                script_count(text, s).alias("n"),
                F.lit(s).alias("script"),
            )
            for s in scripts
        ]
    )
    best = F.array_max(scored)
    return F.when(best["n"] > 0, best["script"]).otherwise(F.lit("none"))
