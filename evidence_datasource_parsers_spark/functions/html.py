"""HTML → text extraction for crawl ingestion.

The step before every text operator in a web-crawl pipeline: strip markup,
drop script/style/comment payloads, decode the common entities, collapse
whitespace.  Pure native regexp expressions — per-row, no UDF, no shuffle —
deliberately the conservative 95% of what a boilerplate extractor does;
full DOM-aware readability extraction belongs in a mapInPandas tier with a
real parser (same operator shape as the multimodal decoders).

Order matters and is load-bearing:
  1. remove <script>/<style>/<!-- --> WITH their contents (their text is
     code, not prose — tag-stripping alone would leak it into the corpus);
  2. block-level tags → newline, remaining tags → space (so "<p>a</p><p>b"
     doesn't fuse words);
  3. entity decode AFTER tag removal (decoding first would turn
     ``&lt;script&gt;`` into a live tag and re-open step 1's hole);
  4. whitespace collapse last.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (?is) = case-insensitive + dotall; non-greedy bodies
_DROP_BLOCKS = r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>|<!--.*?-->"
_BLOCK_TAGS = (
    r"(?i)</?(p|div|br|li|ul|ol|tr|td|th|table|h[1-6]|blockquote|pre|"
    r"section|article|header|footer|nav)\b[^>]*>"
)
_ANY_TAG = r"<[^>]+>"

_ENTITIES = [
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),  # LAST: else &amp;lt; would double-decode
]


def strip_html(text: Column | str) -> Column:
    """Visible text of an HTML fragment (module doc for the exact policy).
    NULL in → NULL out; entity-free plain text passes through (modulo
    whitespace collapsing).

    NOT idempotent on entity-bearing input — the double-unescape hazard:
    ``&lt;b&gt;`` decodes to a literal ``<b>`` which a SECOND pass would
    strip as a tag.  Run the stage exactly once per document (route with
    :func:`looks_like_html`); re-running is safe only for text that
    contained no encoded markup."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(c, _DROP_BLOCKS, " ")
    out = F.regexp_replace(out, _BLOCK_TAGS, "\n")
    out = F.regexp_replace(out, _ANY_TAG, " ")
    for ent, rep in _ENTITIES:
        out = F.regexp_replace(out, ent, rep)
    out = F.regexp_replace(out, r"[ \t]+", " ")
    out = F.regexp_replace(out, r" ?\n[ \n]*", "\n")
    # Spark's trim() strips spaces only — newlines need the regexp form
    return F.regexp_replace(out, r"^\s+|\s+$", "")


def looks_like_html(text: Column | str) -> Column:
    """Cheap router predicate: does this document need :func:`strip_html`?
    True when a real tag pair or doctype appears — routing plain text around
    the regexp chain keeps the common path narrow."""
    c = F.col(text) if isinstance(text, str) else text
    return c.rlike(r"(?is)<!doctype\s+html|<[a-zA-Z][^>]*>.*</[a-zA-Z]")


def extract_links(text: Column | str) -> Column:
    """array<string> of href targets from anchor tags — the input to a
    link graph or to the crawl frontier (pipelines/crawl_frontier).

    Native regexp_extract_all over ``<a ... href="...">`` (single or
    double quotes, case-insensitive, whitespace-tolerant); relative,
    fragment-only, and javascript: links are filtered out — they carry no
    cross-domain signal.  Run this on the RAW html (before strip_html —
    stripping removes the tags links live in).
    """
    col = F.col(text) if isinstance(text, str) else text
    pat = r"""(?i)<a\s[^>]*?href\s*=\s*["']([^"']+)["']"""
    links = F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(pat), 1)
    return F.filter(
        links,
        lambda u: u.rlike("(?i)^https?://"),
    )


def extract_main_text_frame(
    df,
    html_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_block_chars: int = 40,
    max_link_density: float = 0.4,
):
    """The announced DOM-aware tier: jusText-style main-content extraction
    as an Arrow ``mapInPandas`` kernel over the stdlib ``html.parser``
    (lenient on real-world tag soup) — the step that removes the
    boilerplate :func:`strip_html` conservatively keeps.

    Per block-level container the kernel accumulates text and the share of
    it inside ``<a>`` tags; a block survives when it is long enough
    (``min_block_chars``) and not link-dominated (``max_link_density``) —
    navigation/footer/tag-cloud chrome is short and link-dense, body prose
    is neither.  ``<script>/<style>/<noscript>/<template>/<head>`` payloads
    are dropped wholesale.

    Output: ``(id, main_text, title, n_blocks_kept, n_blocks_total)`` —
    the counters feed quality gates ("chrome-only page") without a second
    parse.  Unparseable/empty inputs yield NULL main_text.  One narrow
    Arrow pass, no shuffle; the language-free scoring keeps the kernel
    deterministic across corpora (jusText's stopword tier is a per-language
    refinement a deployment can layer on the same block stream).
    """
    from collections.abc import Iterator

    import pandas as pd

    id_dt = df.schema[id_col].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re
        from html.parser import HTMLParser

        block_tags = {
            "p", "div", "li", "ul", "ol", "tr", "td", "th", "table",
            "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre",
            "section", "article", "header", "footer", "nav", "br",
            "main", "aside",
        }
        skip_tags = {"script", "style", "noscript", "template", "head"}
        ws = re.compile(r"\s+")

        class Collector(HTMLParser):
            def __init__(self):
                super().__init__(convert_charrefs=True)
                self.blocks: list[tuple[str, int]] = []
                self.cur: list[str] = []
                self.cur_link = 0
                self.skip = 0
                self.links = 0
                self.in_title = False
                self.title_parts: list[str] = []

            def _flush(self):
                text = ws.sub(" ", "".join(self.cur)).strip()
                if text:
                    self.blocks.append((text, self.cur_link))
                self.cur, self.cur_link = [], 0

            def handle_starttag(self, tag, attrs):
                if tag in skip_tags:
                    self.skip += 1
                elif tag == "title":
                    self.in_title = True
                elif tag == "a":
                    self.links += 1
                elif tag in block_tags:
                    self._flush()

            def handle_endtag(self, tag):
                if tag in skip_tags:
                    self.skip = max(0, self.skip - 1)
                elif tag == "title":
                    self.in_title = False
                elif tag == "a":
                    self.links = max(0, self.links - 1)
                elif tag in block_tags:
                    self._flush()

            def handle_data(self, data):
                if self.in_title:  # before the skip check: <title> lives
                    self.title_parts.append(data)  # inside skip-listed <head>
                    return
                if self.skip:
                    return
                self.cur.append(data)
                if self.links:
                    self.cur_link += len(data)

        for pdf in batches:
            texts, titles, kept_n, total_n = [], [], [], []
            for raw in pdf[html_col]:
                if raw is None:
                    texts.append(None)
                    titles.append(None)
                    kept_n.append(None)
                    total_n.append(None)
                    continue
                c = Collector()
                try:
                    c.feed(str(raw))
                    c.close()
                    c._flush()
                except Exception:  # noqa: BLE001 — tag soup must not fail tasks
                    texts.append(None)
                    titles.append(None)
                    kept_n.append(None)
                    total_n.append(None)
                    continue
                kept = [
                    t for t, lk in c.blocks
                    if len(t) >= min_block_chars
                    and lk / max(1, len(t)) <= max_link_density
                ]
                texts.append("\n".join(kept) if kept else None)
                title = ws.sub(" ", "".join(c.title_parts)).strip()
                titles.append(title or None)
                kept_n.append(len(kept))
                total_n.append(len(c.blocks))
            yield pd.DataFrame({
                id_col: pdf[id_col].values,
                "main_text": texts,
                "title": titles,
                "n_blocks_kept": pd.array(kept_n, dtype="Int32"),
                "n_blocks_total": pd.array(total_n, dtype="Int32"),
            })

    return df.select(id_col, html_col).mapInPandas(
        kernel,
        f"{id_col} {id_dt}, main_text string, title string,"
        " n_blocks_kept int, n_blocks_total int",
    )
