"""HTML → text extraction — the FIRST stage of every web-corpus
pipeline (§2.12 LLM-pipeline extension; C4's "extracted text",
RefinedWeb's trafilatura stage), before language ID, quality scoring,
or any dedup can run.

Entirely Catalyst ``regexp_replace`` / ``regexp_extract`` chains —
zero UDFs, whole-stage codegen at scan speed, no shuffle. That is the
point at 100 TB: tag stripping is embarrassingly row-local, so the
only acceptable cost is the scan itself; a Python-side HTML parser
per document would put a ~10-100× Arrow/interpreter tax on the single
most voluminous pass of the pipeline. The trade is declared honestly:
this is a TEXT EXTRACTOR, not an HTML5 tree parser — no DOM, no
CSS-based readability scoring; malformed markup degrades to leaving
fragments in place rather than erroring (exactly what a fault-
tolerant corpus pass wants).

Pipeline order (each step one codegen'd expression):

1. drop non-content ELEMENTS wholesale — ``<script>``, ``<style>``,
   ``<noscript>``, ``<svg>``, ``<head>`` — and HTML comments;
2. block-level tags (``p``/``div``/``br``/``li``/headings/table rows
   …) become newlines so paragraph structure survives; every other
   tag becomes nothing;
3. named character entities decode via a replace chain with ``&amp;``
   LAST (decoding it earlier would mint new entities — the classic
   double-decode bug), plus decimal/hex numeric entities for the
   ASCII range;
4. whitespace normalizes: runs of spaces/tabs collapse, runs of ≥2
   newlines collapse to ONE (line-oriented output — adjacent block
   tags each mint a newline so newline runs carry no paragraph
   structure; the line-level boilerplate stage keys on lines), edges
   trim.

Reference tie: the reference pipeline ingests already-structured
sensor rows (main_pipeline.py:1-369) and has no text stage at all;
this module belongs to the training-data-pipeline extension surface
the engine adds on top (SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Elements whose CONTENT is dropped, not just their tags. ``title``
#: is dropped from the BODY text because it belongs to
#: :func:`html_title`'s column; ``head`` first, so a well-formed head
#: disappears wholesale before the per-element rules run.
_DROP_CONTENT = ("head", "script", "style", "noscript", "svg", "title")

#: Tags that imply a line/paragraph break when stripped.
_BLOCK_TAGS = (
    "p|div|br|hr|li|ul|ol|dl|dt|dd|h[1-6]|tr|table|thead|tbody|tfoot|"
    "blockquote|pre|section|article|header|footer|nav|aside|form|figure"
)

#: Named entities worth decoding without a parser, ``&amp;`` LAST.
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&rsquo;", "’"),
    ("&lsquo;", "‘"),
    ("&rdquo;", "”"),
    ("&ldquo;", "“"),
    ("&mdash;", "—"),
    ("&ndash;", "–"),
    ("&hellip;", "…"),
    ("&copy;", "©"),
    ("&reg;", "®"),
    ("&trade;", "™"),
    ("&amp;", "&"),
)


def html_to_text(col: Column) -> Column:
    """Column expression: HTML markup → plain text with paragraph
    structure, per the module-docstring pipeline. Pure Catalyst —
    compose it into any scan without leaving codegen."""
    c = col
    for el in _DROP_CONTENT:
        c = F.regexp_replace(c, f"(?is)<{el}\\b[^>]*>.*?</{el}>", " ")
    c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
    # block-level tags → newline BEFORE the generic tag strip
    c = F.regexp_replace(c, f"(?i)</?(?:{_BLOCK_TAGS})\\b[^>]*>", "\n")
    c = F.regexp_replace(c, "(?s)<[^>]*>", "")
    # numeric forms of the SAME common set, decoded before the named
    # chain so &#38; → & also lands after every other decode. Kept
    # deliberately small: each replace is one full string pass and one
    # expression-tree level — enumerating all of ASCII (~300 replaces)
    # would sink whole-stage codegen; anything rarer stays literal,
    # the fault-tolerant degradation a corpus pass wants.
    for ent, repl in (
        ("&#34;", '"'), ("&#x22;", '"'),
        ("&#60;", "<"), ("&#x3c;", "<"),
        ("&#62;", ">"), ("&#x3e;", ">"),
        ("&#160;", " "), ("&#xa0;", " "),
        ("&#39;", "'"), ("&#x27;", "'"),
        ("&#38;", "\x00amp\x00"), ("&#x26;", "\x00amp\x00"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(repl))
    for ent, repl in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(repl))
    # the numeric-&#38; sentinel decodes with &amp; (LAST, same rule)
    c = F.replace(c, F.lit("\x00amp\x00"), F.lit("&"))
    c = F.regexp_replace(c, "[ \\t\\r\\f]+", " ")
    c = F.regexp_replace(c, " ?\\n ?", "\n")
    # adjacent block tags each mint a newline, so runs of newlines
    # carry no structure — collapse to ONE, so the output is one
    # block per line
    c = F.regexp_replace(c, "\\n{2,}", "\n")
    return F.regexp_replace(c, "^\\s+|\\s+$", "")


def html_title(col: Column) -> Column:
    """Column expression: the ``<title>`` text (entity-decoded,
    whitespace-collapsed), empty string when absent."""
    t = F.regexp_extract(col, "(?is)<title[^>]*>(.*?)</title>", 1)
    for ent, repl in _ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(repl))
    return F.trim(F.regexp_replace(t, "\\s+", " "))


def extract_html_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "text",
    out_col: str = "text",
    title_col: str | None = "title",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus pass: replace ``html_col`` markup with extracted plain
    text (and optionally a ``title_col``), dropping documents whose
    extraction yields fewer than ``min_chars`` characters (empty
    shells — a page that was ALL chrome). One projection + one
    row-local filter; every other column passes through unchanged, so
    the stage composes in front of `plans.text.curate_training_corpus`
    exactly where C4 runs it."""
    if min_chars < 0:
        raise ValueError("min_chars must be non-negative")
    passthrough = [
        c for c in docs.columns if c not in (html_col, out_col, title_col)
    ]
    cols = [F.col(c) for c in passthrough]
    cols.append(html_to_text(F.col(html_col)).alias(out_col))
    if title_col is not None:
        cols.append(html_title(F.col(html_col)).alias(title_col))
    out = docs.select(*cols)
    return out.filter(F.length(out_col) >= min_chars)
