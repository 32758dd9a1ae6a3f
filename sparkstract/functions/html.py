"""HTML main-content extraction: boilerplate strip + line-density heuristic.

The north rule's extraction tier names "HTML boilerplate strip, DOM
heuristics" alongside the layout path; this is that operator for text spans
that carry raw HTML. The heuristic is the boilerpipe/jusText family's core
signal pair, computed per BLOCK-level line:

  * word count  — short fragments (menu items, buttons) are boilerplate
  * link density — chars inside <a> anchors / total text chars; navigation
    chrome is link-dense, body prose is not

Everything is pyspark.sql column expressions (split / transform / filter /
aggregate higher-order functions + regexp) — JVM-side, no Python in the hot
path — with a DuckDB twin in `driver/text.py` built from the
SAME pattern constants. Patterns avoid backreferences (RE2 has none) and
stick to (?is)-style inline flags both engines accept.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# containers whose CONTENT is boilerplate wholesale (scripts, styling,
# navigation chrome) — dropped before anything else. Explicit per-tag
# alternation: RE2 (the DuckDB oracle engine) does not support the
# backreference form <(script|style)>.*?</\1>.
DROP_BLOCKS_RE = "|".join(
    f"(?is)<{t}[^>]*>.*?</{t}>" for t in
    ("script", "style", "nav", "header", "footer", "aside"))
COMMENTS_RE = "(?s)<!--.*?-->"
# block-level boundaries become line breaks so "lines" approximate DOM blocks
BLOCK_TAGS_RE = ("(?i)</?(p|br|div|li|h1|h2|h3|h4|h5|h6|tr|td|ul|ol|table|"
                 "section|article|blockquote)[^>]*>")
ANCHOR_TEXT_RE = "(?is)<a[^>]*>(.*?)</a>"
ANY_TAG_RE = "<[^>]+>"

# minimal entity table (shared with the oracle, applied in this order —
# &amp; LAST so &amp;lt; decodes to the literal text "&lt;", not "<")
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&nbsp;", " "), ("&amp;", "&"),
]


def _decode_entities(col: Column) -> Column:
    for src, dst in HTML_ENTITIES:
        col = F.replace(col, F.lit(src), F.lit(dst))
    return col


def _line_text(line: Column) -> Column:
    """Visible text of one block line: tags out, entities decoded,
    whitespace collapsed."""
    return _decode_entities(
        F.trim(F.regexp_replace(
            F.regexp_replace(line, ANY_TAG_RE, " "), "\\s+", " ")))


def strip_boilerplate(col: Column, min_words: int = 4,
                      max_link_density: float = 0.4) -> Column:
    """Main content of an HTML string: block lines that read like prose
    (>= min_words words, link density <= max_link_density), newline-joined.
    NULL-safe: null html -> null output."""
    cleaned = F.regexp_replace(
        F.regexp_replace(col, DROP_BLOCKS_RE, " "), COMMENTS_RE, " ")
    lines = F.split(F.regexp_replace(cleaned, BLOCK_TAGS_RE, "\n"), "\n")
    scored = F.transform(
        lines,
        lambda ln: F.struct(
            _line_text(ln).alias("txt"),
            F.aggregate(
                F.transform(
                    F.regexp_extract_all(ln, F.lit(ANCHOR_TEXT_RE), F.lit(1)),
                    lambda a: F.length(_line_text(a))),
                F.lit(0), lambda acc, x: acc + x).alias("link_chars"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.size(F.split(s["txt"], " ")) >= min_words)
        & (s["txt"] != "")
        & (s["link_chars"] <= max_link_density * F.length(s["txt"])),
    )
    return F.array_join(F.transform(kept, lambda s: s["txt"]), "\n")


# ------------------------------------------------------------- metadata
# head/DOM metadata extraction (the other half of the north rule's "DOM
# heuristics"): title, meta description, first h1, html lang, canonical
# URL. Pure regexp_extract group captures, shared verbatim with the
# DuckDB twin (RE2-safe: no backreferences, inline (?is) flags only).
# Attribute-order variants (content= before name=) are heuristically out
# of scope — both engines see the same misses by construction.

TITLE_RE = "(?is)<title[^>]*>(.*?)</title>"
META_DESC_RE = ("(?is)<meta[^>]*name=[\"']description[\"'][^>]*"
                "content=[\"']([^\"']*)[\"']")
H1_RE = "(?is)<h1[^>]*>(.*?)</h1>"
HTML_LANG_RE = "(?is)<html[^>]*[ \\t]lang=[\"']([A-Za-z-]+)[\"']"
CANONICAL_RE = ("(?is)<link[^>]*rel=[\"']canonical[\"'][^>]*"
                "href=[\"']([^\"']+)[\"']")


def extract_metadata(col: Column) -> dict[str, Column]:
    """Column map of head metadata fields (empty string when absent —
    regexp_extract's no-match value in both engines)."""
    return {
        "title": _line_text(F.regexp_extract(col, TITLE_RE, 1)),
        "meta_description": _decode_entities(
            F.trim(F.regexp_extract(col, META_DESC_RE, 1))),
        "h1": _line_text(F.regexp_extract(col, H1_RE, 1)),
        "lang": F.lower(F.regexp_extract(col, HTML_LANG_RE, 1)),
        "canonical": F.regexp_extract(col, CANONICAL_RE, 1),
    }


# ------------------------------------- context-sensitive classification
# The full jusText-family pipeline (Pomikálek 2011's core idea): blocks
# are first classified CONTEXT-FREE by stopword density / length / link
# density into bad / short / near-good / good, then the undecided middle
# classes resolve by their DECISIVE (good/bad) neighbors — a short
# caption between two paragraphs of prose is content, the same caption
# inside navigation chrome is boilerplate. Distributed shape: one
# posexplode + ONE exchange on the doc id (two window sorts share the
# partitioning), then a bounded per-doc reassembly — the line_dedup plan
# shape, no per-doc arrays on the driver.

CF_BAD, CF_SHORT, CF_NEAR, CF_GOOD = 0, 1, 2, 3


def justext_main_content(df, html_col: str = "html",
                         id_col: str = "doc_id", min_words: int = 3,
                         long_words: int = 8,
                         max_link_density: float = 0.4,
                         stop_low: float = 0.2):
    """(id, html) DataFrame -> (id, main_text) via context-sensitive
    block classification. Rules (deterministic, mirrored in the DuckDB
    twin): link density > max_link_density -> bad; >= long_words words
    -> good/bad by stopword ratio >= stop_low; >= min_words -> near-good/
    short by the same ratio; shorter -> short. good stays, bad drops,
    near-good keeps iff EITHER nearest decisive neighbor is good, short
    keeps iff BOTH are (document edges count as bad). Docs with no kept
    block (null html included) return ''."""
    from pyspark.sql import Window

    from .textstats import STOPWORDS_EN

    cleaned = F.regexp_replace(
        F.regexp_replace(F.col(html_col), DROP_BLOCKS_RE, " "),
        COMMENTS_RE, " ")
    lines = F.split(F.regexp_replace(cleaned, BLOCK_TAGS_RE, "\n"), "\n")
    scored = F.transform(
        lines,
        lambda ln: F.struct(
            _line_text(ln).alias("txt"),
            F.aggregate(
                F.transform(
                    F.regexp_extract_all(ln, F.lit(ANCHOR_TEXT_RE),
                                         F.lit(1)),
                    lambda a: F.length(_line_text(a))),
                F.lit(0), lambda acc, x: acc + x).alias("link_chars"),
        ),
    )
    ex = (df.select(id_col, F.posexplode(scored).alias("pos", "s"))
            .filter(F.col("s.txt") != ""))
    toks = F.split(F.lower(F.col("s.txt")), " ")
    words = F.size(toks)
    stops = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS_EN)))
    linkd = F.col("s.link_chars") / F.greatest(F.length(F.col("s.txt")),
                                               F.lit(1))
    cf = (F.when(linkd > max_link_density, F.lit(CF_BAD))
           .when((words >= long_words) & (stops >= stop_low * words),
                 F.lit(CF_GOOD))
           .when(words >= long_words, F.lit(CF_BAD))
           .when((words >= min_words) & (stops >= stop_low * words),
                 F.lit(CF_NEAR))
           .otherwise(F.lit(CF_SHORT)))
    t = ex.select(F.col(id_col), F.col("pos"),
                  F.col("s.txt").alias("txt"), cf.alias("cf"))
    dec = F.when(F.col("cf").isin(CF_BAD, CF_GOOD), F.col("cf"))
    wprev = (Window.partitionBy(id_col).orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, -1))
    wnext = (Window.partitionBy(id_col).orderBy(F.col("pos").desc())
             .rowsBetween(Window.unboundedPreceding, -1))
    t = (t.withColumn("prev_dec", F.coalesce(
             F.last(dec, ignorenulls=True).over(wprev), F.lit(CF_BAD)))
          .withColumn("next_dec", F.coalesce(
             F.last(dec, ignorenulls=True).over(wnext), F.lit(CF_BAD))))
    keep = ((F.col("cf") == CF_GOOD)
            | ((F.col("cf") == CF_NEAR)
               & ((F.col("prev_dec") == CF_GOOD)
                  | (F.col("next_dec") == CF_GOOD)))
            | ((F.col("cf") == CF_SHORT)
               & (F.col("prev_dec") == CF_GOOD)
               & (F.col("next_dec") == CF_GOOD)))
    kept = (t.filter(keep)
             .groupBy(id_col)
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "txt"))),
                     lambda s: s["txt"]), "\n").alias("main_text")))
    return (df.select(id_col)
              .join(kept, id_col, "left")
              .withColumn("main_text", F.coalesce(F.col("main_text"),
                                                  F.lit(""))))
