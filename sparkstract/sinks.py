"""Result renderers (sinks) over the extraction views.

Mirrors the reference's renderer family (include/tesseract/renderer.h).
Every view is a projection of one page table (`plans.pipeline
.extract_pages`), as the reference's renderers all walk one recognized
page; persist the page table when a job renders from several views.

Flat renderers, one element per span. Input: `extract` spans, or
`page_blocks` rows with an `order` column, in which case hOCR and ALTO
also print each block's geometry:
  render_text  — TessTextRenderer (renderer.h:160): the GetUTF8Text view of a
                 doc. Text spans joined in span order, separated by blank
                 lines; image/line spans are skipped exactly like the
                 PTIsTextType gating in GetUTF8Text (baseapi.cpp:2097-2127).
  render_tsv   — TessTsvRenderer (renderer.h:221): one row per span with
                 order, kind, media_ref and text.
  render_hocr  — TessHOcrRenderer (renderer.h:171): one
                 <div class='ocr_carea'> per span.
  render_alto  — TessAltoRenderer (renderer.h:188, altorenderer.cpp:131): a
                 <TextBlock>/<Illustration>/<GraphicalElement> per span in
                 reading order inside <PrintSpace>.
  render_page_xml — TessPAGERenderer (renderer.h:204, pagerenderer.cpp): a
                 <TextRegion>/<ImageRegion>/<SeparatorRegion> per span plus a
                 <ReadingOrder> index.

Full-depth renderers over the page → block → para → line → word tree.
Input: `page_blocks(p)` and `page_words(p)` of one page table `p`:
  render_tsv_levels     — GetTSVText levels 1-5 (baseapi.cpp:2205).
  render_hocr_words     — ocr_page → ocr_carea → ocr_par → ocr_line →
                          ocrx_word (hocrrenderer.cpp:136-250).
  render_alto_words     — Page → TextBlock → TextLine → String
                          (altorenderer.cpp:131).
  render_page_xml_words — Page → TextRegion → TextLine → Word
                          (pagerenderer.cpp).

Symbol renderers. Input: `page_symbols(p)`:
  render_box   — GetBoxText (baseapi.cpp:2391).
  render_unlv  — GetUNLVText (baseapi.cpp:2440).

render_pdf assembles TessPDFRenderer files from `extract_pdf_pages`.

Every other renderer is built-in DataFrame expressions (no UDFs): string
escape and aggregation stay JVM-side. Text goes through `_escape_xml`
(or `_escape_html` in hOCR text) and every attribute value through
`_escape_attr`. Like the reference's renderers, which
all walk one ResultIterator, they share one vocabulary, and a new format
should build on it too:
  _fold         the one ordered fold: fragments sorted by keys, joined.
  _by_kind      the one rule / image / text switch.
  _node_id      element ids: offset_block[_par[_line[_word]]].
  _group        one level up the hierarchy, carrying that level's bbox.
  _page_nums    pages with their 1-based number within the doc.
  _with_bodies, _paged   the block → page → doc folds.
  _bbox, _alto_pos, _extent   geometry attributes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Span kinds that carry text into the plain-text rendering (PTIsTextType,
# include/tesseract/publictypes.h:74-80).
TEXT_KINDS = ("text", "flowing_text", "heading_text", "pullout_text",
              "caption_text", "vertical_text", "equation", "inline_equation",
              "table")

# PTIsLineType / PTIsImageType (include/tesseract/publictypes.h:74-92)
LINE_KINDS = ("horz_line", "vert_line")
IMAGE_KINDS = ("flowing_image", "heading_image", "pullout_image")

# Hierarchy keys of the block/word/symbol views, outermost first. A node at
# depth d (1 page, 2 block, 3 par, 4 line, 5 word) is keyed within its doc
# by the first d of them.
LEVEL_KEYS = ("offset", "block_order", "para_num", "line_num", "word_num")
# The RIL_SYMBOL walk order of the symbol sidecar.
SYM_KEYS = LEVEL_KEYS + ("sym_num",)


def _fold(frag, *keys, sep: str = "\n") -> Column:
    """The one ordered fold, an aggregate: the group's `frag` values sorted
    by `keys` (ties broken by the fragment itself) and joined by `sep`."""
    frag = F.col(frag) if isinstance(frag, str) else frag
    rows = F.array_sort(F.collect_list(F.struct(*keys, frag.alias("frag"))))
    return F.array_join(F.transform(rows, lambda r: r["frag"]), sep)


def _by_kind(rule: Column, image: Column, text: Column) -> Column:
    """The one PTIsLineType / PTIsImageType switch (publictypes.h:74-92):
    `rule` for line kinds, `image` for image kinds, `text` for the rest.

    It branches on KIND, not text-nullness: layout-only output
    (recognize=False) carries NULL text on genuine text blocks, and those
    must stay text elements with empty content, exactly like the
    reference's renderers type by PTIsTextType, never by whether
    recognition ran."""
    kind = F.col("kind")
    return (F.when(kind.isin(*LINE_KINDS), rule)
            .when(kind.isin(*IMAGE_KINDS), image).otherwise(text))


def _or_empty(name: str) -> Column:
    return F.coalesce(F.col(name), F.lit(""))


def _escape_html(col):
    """Markup escaped, and the C0 control characters XML 1.0 forbids (all
    but tab, newline and carriage return) dropped: hOCR is XHTML."""
    out = F.regexp_replace(col, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    out = F.regexp_replace(out, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    return F.regexp_replace(out, ">", "&gt;")


def _escape_xml(col):
    """`_escape_html` with the apostrophe escaped too."""
    return F.regexp_replace(_escape_html(col), "'", "&apos;")


def _escape_attr(col):
    """`_escape_xml` for an attribute value: tab, newline and carriage
    return become character references, since a parser normalises the raw
    characters in an attribute to spaces."""
    out = _escape_xml(col)
    for ch, ref in (("\t", "&#9;"), ("\n", "&#10;"), ("\r", "&#13;")):
        out = F.regexp_replace(out, ch, ref)
    return out


def _has_boxes(spans: DataFrame) -> bool:
    """Geometry-bearing input (page_blocks output) vs plain spans — the
    renderers emit real coordinates when they have them, like the reference's
    renderers always do (hocrrenderer.cpp:123 bbox; altorenderer HPOS/VPOS)."""
    return {"left", "top", "right", "bottom"}.issubset(spans.columns)


def _bbox() -> Column:
    """The hOCR bbox value (hocrrenderer.cpp:123): 'left top right bottom'."""
    return F.concat_ws(" ", *(F.col(c).cast("string")
                              for c in ("left", "top", "right", "bottom")))


def _extent() -> list[Column]:
    """Width and height of the inclusive box, as strings."""
    return [(F.col("right") - F.col("left") + 1).cast("string"),
            (F.col("bottom") - F.col("top") + 1).cast("string")]


def _alto_pos() -> Column:
    """ALTO position attributes: top-left corner plus extent."""
    width, height = _extent()
    return F.concat(
        F.lit(" HPOS='"), F.col("left").cast("string"),
        F.lit("' VPOS='"), F.col("top").cast("string"),
        F.lit("' WIDTH='"), width, F.lit("' HEIGHT='"), height, F.lit("'"))


def _node_id(depth: int) -> Column:
    """Element id of the depth-`depth` node (2 block, 3 par, 4 line,
    5 word): its hierarchy keys joined by '_'."""
    return F.concat_ws("_", *(F.col(k).cast("string")
                              for k in LEVEL_KEYS[:depth]))


def _group(df: DataFrame, depth: int, *aggs) -> DataFrame:
    """Fold `df` into its depth-`depth` nodes (1 page … 4 line): the node
    keys, the node bbox as the union of its rows' boxes, and `aggs`."""
    return df.groupBy("doc_id", *LEVEL_KEYS[:depth]).agg(
        F.min("left").alias("left"), F.min("top").alias("top"),
        F.max("right").alias("right"), F.max("bottom").alias("bottom"),
        *aggs)


def _page_nums(df: DataFrame, *aggs) -> DataFrame:
    """Pages of `df` (`_group` depth 1) plus page_num: the 1-based rank of
    the media span within its doc (GetTSVText page counter)."""
    w = Window.partitionBy("doc_id").orderBy("offset")
    return _group(df, 1, *aggs).withColumn("page_num", F.row_number().over(w))


def _ordered_join(spans: DataFrame, elem, out_name: str,
                  prefix, suffix) -> DataFrame:
    """Fold per-span fragments into one document string in span order."""
    return spans.groupBy("doc_id").agg(
        F.concat(prefix, _fold(elem, "order"), suffix).alias(out_name))


def _with_bodies(blocks: DataFrame, bodies: DataFrame) -> DataFrame:
    """`blocks` left-joined to the `wbody` of their word decode; blocks
    with none (images, rules, layout-only runs) get NULL."""
    keys = ["doc_id", *LEVEL_KEYS[:2]]
    return blocks.join(bodies.select(*keys, "wbody"), keys, "left")


def _paged(blk: DataFrame, block_elem: Column, page_elem: Column, out: str,
           head: str, tail: str, *page_aggs) -> DataFrame:
    """The block → page → doc folds of the word renderers: `block_elem`
    folded in block order into each page's `body`, then `page_elem` (over
    body, page_num, the page bbox and `page_aggs`) folded in page order
    between `head` and `tail`."""
    pages = _page_nums(blk, *page_aggs,
                       _fold(block_elem, "block_order").alias("body"))
    return pages.groupBy("doc_id").agg(
        F.concat(F.lit(head), _fold(page_elem, "offset"),
                 F.lit(tail)).alias(out))


def _hocr_carea(bid: Column, boxes: bool, wbody: Column | None = None):
    """One hOCR ocr_carea div, titled by kind (and bbox when `boxes`). Its
    body is `wbody` when given and not NULL; otherwise image kinds embed
    the media ref, line kinds are empty and text kinds show their (possibly
    empty) text."""
    title = F.concat(F.col("kind"), F.lit("; bbox "), _bbox()) if boxes \
        else F.col("kind")
    body = _by_kind(
        F.lit(""),
        F.concat(F.lit("<img src='"), _escape_attr(_or_empty("media_ref")),
                 F.lit("'/>")),
        _escape_html(_or_empty("text")))
    if wbody is not None:
        body = F.coalesce(wbody, body)
    return F.concat(F.lit("  <div class='ocr_carea' id='block_"), bid,
                    F.lit("' title='"), title, F.lit("'>"), body,
                    F.lit("</div>"))


def _alto_block(bid: Column, pos: Column, wbody: Column | None = None):
    """One ALTO block element: <GraphicalElement> for rules, <Illustration>
    for images, and a <TextBlock> holding `wbody` (its TextLines) when given
    and not NULL, else one <String> with the block's text. `pos` is
    `_alto_pos()` or empty; kind is carried in TAGREFS."""
    def open_(tag):
        return F.concat(F.lit(f"    <{tag} ID='block_"), bid,
                        F.lit("' TAGREFS='"), F.col("kind"), F.lit("'"), pos)

    text = F.concat(
        F.lit("><TextLine><String CONTENT='"),
        _escape_attr(F.regexp_replace(_or_empty("text"), "\n", " ")),
        F.lit("'/></TextLine></TextBlock>"))
    if wbody is not None:
        text = F.when(wbody.isNotNull(),
                      F.concat(F.lit(">\n"), wbody,
                               F.lit("\n    </TextBlock>"))).otherwise(text)
    return _by_kind(
        F.concat(open_("GraphicalElement"), F.lit("/>")),
        F.concat(open_("Illustration"), F.lit(" FILEID='"),
                 _escape_attr(_or_empty("media_ref")), F.lit("'/>")),
        F.concat(open_("TextBlock"), text))


def _page_text() -> Column:
    """A region's text as a PAGE TextEquiv. Line breaks become char refs,
    so each region stays on one line."""
    return F.concat(
        F.lit("<TextEquiv><Unicode>"),
        F.regexp_replace(_escape_xml(_or_empty("text")), "\n", "&#10;"),
        F.lit("</Unicode></TextEquiv>"))


def render_text(spans: DataFrame, separator: str = "\n\n") -> DataFrame:
    """(doc_id, text): text spans in span order joined by `separator`."""
    return (
        spans.filter(F.col("kind").isin(*TEXT_KINDS) & F.col("text").isNotNull())
        .groupBy("doc_id")
        .agg(_fold("text", "order", sep=separator).alias("text"))
    )


def render_tsv(spans: DataFrame) -> DataFrame:
    """(doc_id, tsv): one tab-separated line per span:
    span_order, kind, media_ref, text (newlines flattened to \\t-safe form)."""
    line = F.concat_ws(
        "\t",
        F.col("order").cast("string"),
        F.col("kind"),
        _or_empty("media_ref"),
        F.coalesce(F.regexp_replace(F.col("text"), "[\\t\\n]", " "), F.lit("")),
    )
    return spans.groupBy("doc_id").agg(_fold(line, "order").alias("tsv"))


def render_hocr(spans: DataFrame) -> DataFrame:
    """(doc_id, hocr): minimal hOCR document — a div per span with its kind
    as the hOCR class annotation (and its bbox, given geometry)."""
    div = _hocr_carea(F.col("order").cast("string"), _has_boxes(spans))
    return _ordered_join(spans, div, "hocr", F.lit("<html><body>\n"),
                         F.lit("\n</body></html>"))


def render_alto(spans: DataFrame) -> DataFrame:
    """(doc_id, alto): minimal ALTO XML (altorenderer.cpp:131 writes one
    <TextBlock>/<Illustration>/<GraphicalElement> per block in iterator
    order; the kind rides in TAGREFS, and HPOS/VPOS/WIDTH/HEIGHT are
    written when the input has geometry)."""
    pos = _alto_pos() if _has_boxes(spans) else F.lit("")
    elem = _alto_block(F.col("order").cast("string"), pos)
    return _ordered_join(
        spans, elem, "alto",
        F.concat(
            F.lit("<alto xmlns='http://www.loc.gov/standards/alto/ns-v3#'>"
                  "<Layout><Page ID='"),
            _escape_attr(F.col("doc_id")),
            F.lit("'><PrintSpace>\n"),
        ),
        F.lit("\n</PrintSpace></Page></Layout></alto>"),
    )


def render_page_xml(spans: DataFrame) -> DataFrame:
    """(doc_id, page_xml): minimal PAGE XML (pagerenderer.cpp): a typed
    region per span plus a <ReadingOrder> listing region ids in span order.
    Regions and refs are two folds of the same groupBy."""
    sid = F.col("order").cast("string")

    def region(tag, *tail):
        return F.concat(F.lit(f"    <{tag} id='r"), sid, F.lit("' custom='"),
                        F.col("kind"), *tail)

    regions = _by_kind(
        region("SeparatorRegion", F.lit("'/>")),
        region("ImageRegion", F.lit("' imageFilename='"),
               _escape_attr(_or_empty("media_ref")), F.lit("'/>")),
        region("TextRegion", F.lit("'>"), _page_text(),
               F.lit("</TextRegion>")))
    ref = F.concat(F.lit("      <RegionRefIndexed index='"), sid,
                   F.lit("' regionRef='r"), sid, F.lit("'/>"))
    return spans.groupBy("doc_id").agg(
        F.concat(
            F.lit("<PcGts xmlns='http://schema.primaresearch.org/PAGE/gts/"
                  "pagecontent/2019-07-15'>\n  <Page imageFilename='"),
            _escape_attr(F.col("doc_id")),
            F.lit("'>\n    <ReadingOrder><OrderedGroup id='ro'>\n"),
            _fold(ref, "order"),
            F.lit("\n    </OrderedGroup></ReadingOrder>\n"),
            _fold(regions, "order"),
            F.lit("\n  </Page>\n</PcGts>"),
        ).alias("page_xml"))


# ---------------------------------------------------------------------------
# Full-hierarchy renderers (S5/S7 at reference depth): page → block → para →
# line → word, fed by the page_blocks + page_words views of a page table.
# A "page" is one media span; a multipage container's pages are already
# flattened into its block sequence (ProcessPagesMultipageTiff,
# baseapi.cpp:1657).
# ---------------------------------------------------------------------------


def render_tsv_levels(blocks: DataFrame, words: DataFrame) -> DataFrame:
    """(doc_id, tsv) at the reference's full TSV depth (GetTSVText,
    baseapi.cpp:2205): one 12-column row per hierarchy node — level page
    block par line word left top width height conf text — level 1 page,
    2 block, 3 paragraph, 4 line, 5 word. Non-word levels carry conf -1 and
    empty text, exactly like the reference. Inputs are the two page-table
    views (page_blocks, page_words); all assembly is built-in aggregations —
    hierarchy levels are groupBys over the word view, the doc fold one
    sorted array_join over the union of the five level frames.

    Both inputs are PERSISTED here: the level frames consume the block view
    twice and the word view three times, and without a cache each branch
    re-executes its lineage (9 kernel passes measured over unpersisted
    views) — the persist collapses that to one read per view. Both views are text+geometry only
    (no image bytes), so the cache is corpus-text-sized and spillable;
    long-running callers can unpersist after the action."""
    blocks = blocks.persist()
    words = words.persist()
    m1 = F.lit(-1)
    pages = _page_nums(blocks)
    pnum = pages.select("doc_id", "offset", "page_num")

    def level(df: DataFrame, lv: int) -> DataFrame:
        """One row per node of `df` at level `lv`. Nodes sort by their keys
        with -1 past their depth, so a parent precedes its children."""
        here = LEVEL_KEYS[:lv]
        ids = [F.col("page_num")] + [F.col(k) + 1 if k in here else F.lit(0)
                                     for k in LEVEL_KEYS[1:]]
        is_word = lv == len(LEVEL_KEYS)
        row = F.concat_ws(
            "\t", F.lit(str(lv)), *(c.cast("string") for c in ids),
            F.col("left").cast("string"), F.col("top").cast("string"),
            *_extent(), (F.col("conf") if is_word else m1).cast("string"),
            F.col("word") if is_word else F.lit(""))
        return df.select("doc_id", *((F.col(k) if k in here else m1).alias(k)
                                     for k in LEVEL_KEYS),
                         F.lit(lv).alias("lv"), row.alias("row"))

    def numbered(df):
        return df.join(pnum, ["doc_id", "offset"])

    frames = [pages, numbered(blocks), numbered(_group(words, 3)),
              numbered(_group(words, 4)), numbered(words)]
    rows = reduce(DataFrame.unionByName,
                  (level(df, lv) for lv, df in enumerate(frames, 1)))
    return rows.groupBy("doc_id").agg(
        _fold("row", *LEVEL_KEYS, "lv").alias("tsv"))


def render_hocr_words(blocks: DataFrame, words: DataFrame) -> DataFrame:
    """(doc_id, hocr) with the reference's full hOCR nesting
    (hocrrenderer.cpp:136-250): ocr_page → ocr_carea → ocr_par →
    ocr_line → ocrx_word, each with its bbox (words also x_wconf).
    Blocks with no word decode (images, rules, tables, vertical chains,
    layout-only runs) keep the flat carea body of render_hocr. Assembly
    is four groupBy folds (word→line→para→block content) plus the page
    and doc folds — built-ins only, shuffles keyed on doc-prefixed keys.
    The block view is persisted (consumed by the carea join and the page
    fold); the word chain is linear and needs no cache."""
    blocks = blocks.persist()
    word = F.concat(
        F.lit("<span class='ocrx_word' id='word_"), _node_id(5),
        F.lit("' title='bbox "), _bbox(), F.lit("; x_wconf "),
        F.col("conf").cast("string"), F.lit("'>"),
        _escape_html(F.col("word")), F.lit("</span>"))
    # per-line typography is identical on every word of the line (the
    # _attach_words contract), so first() is deterministic
    lines = _group(words, 4,
                   *(F.first(c).alias(c)
                     for c in ("x_size", "base_slope", "base_off")),
                   _fold(word, "word_num", sep=" ").alias("body"))
    # the reference's line title (hocrrenderer.cpp:163): baseline slope +
    # constant (relative to the line box's bottom-left corner) and x_size
    line = F.concat(F.lit("<span class='ocr_line' id='line_"), _node_id(4),
                    F.lit("' title='bbox "), _bbox(), F.lit("; baseline "),
                    F.format_string("%.3f", F.col("base_slope")), F.lit(" "),
                    F.col("base_off").cast("string"), F.lit("; x_size "),
                    F.col("x_size").cast("string"), F.lit("'>"),
                    F.col("body"), F.lit("</span>"))
    paras = _group(lines, 3, _fold(line, "line_num").alias("body"))
    para = F.concat(F.lit("<p class='ocr_par' id='par_"), _node_id(3),
                    F.lit("' title='bbox "), _bbox(), F.lit("'>"),
                    F.col("body"), F.lit("</p>"))
    blk = _with_bodies(blocks,
                       _group(paras, 2, _fold(para, "para_num").alias("wbody")))
    page = F.concat(F.lit(" <div class='ocr_page' id='page_"),
                    F.col("page_num").cast("string"),
                    F.lit("' title='bbox "), _bbox(), F.lit("'>\n"),
                    F.col("body"), F.lit("\n </div>"))
    return _paged(blk, _hocr_carea(_node_id(2), True, F.col("wbody")), page,
                  "hocr", "<html><body>\n", "\n</body></html>")


def render_alto_words(blocks: DataFrame, words: DataFrame) -> DataFrame:
    """(doc_id, alto) at the reference's ALTO depth (altorenderer.cpp:131
    writes TextBlock → TextLine → String per word with HPOS/VPOS/WIDTH/
    HEIGHT and WC): one <Page> per media span (PHYSICAL_IMG_NR), word-level
    <String CONTENT=.. WC=..> elements inside per-(para,line) <TextLine>s.
    Blocks without a word decode keep the flat Illustration/
    GraphicalElement/TextBlock element of render_alto. Same fold shape as
    render_hocr_words; the block view is persisted (used by the typed-
    element join and the page fold)."""
    blocks = blocks.persist()
    word = F.concat(
        F.lit("      <String ID='word_"), _node_id(5), F.lit("'"),
        _alto_pos(), F.lit(" WC='"),
        F.format_string("%.2f", F.col("conf") / 100.0),
        F.lit("' CONTENT='"), _escape_attr(F.col("word")), F.lit("'/>"))
    lines = _group(words, 4, F.first("base_off").alias("base_off"),
                   _fold(word, "word_num").alias("body"))
    # ALTO TextLine BASELINE (altorenderer.cpp writes the absolute y of the
    # fitted baseline): line bbox bottom + the bottom-relative offset
    line = F.concat(F.lit("     <TextLine ID='line_"), _node_id(4),
                    F.lit("'"), _alto_pos(), F.lit(" BASELINE='"),
                    (F.col("bottom") + F.col("base_off")).cast("string"),
                    F.lit("'>\n"), F.col("body"), F.lit("\n     </TextLine>"))
    blk = _with_bodies(blocks, _group(
        lines, 2, _fold(line, "para_num", "line_num").alias("wbody")))
    pn = F.col("page_num").cast("string")
    page = F.concat(
        F.lit("  <Page ID='page_"), pn, F.lit("' PHYSICAL_IMG_NR='"), pn,
        F.lit("'"), _alto_pos(), F.lit(">\n   <PrintSpace>\n"),
        F.col("body"), F.lit("\n   </PrintSpace>\n  </Page>"))
    return _paged(
        blk, _alto_block(_node_id(2), _alto_pos(), F.col("wbody")), page,
        "alto",
        "<alto xmlns='http://www.loc.gov/standards/alto/ns-v3#'>\n <Layout>\n",
        "\n </Layout>\n</alto>")


def render_page_xml_words(blocks: DataFrame, words: DataFrame) -> DataFrame:
    """(doc_id, page_xml) at the reference's PAGE XML depth
    (src/api/pagerenderer.cpp writes TextRegion → TextLine → Word, each
    with a <Coords points=..> polygon, word/line TextEquiv, and a per-page
    <ReadingOrder> of RegionRefIndexed entries): one <Page> per media span,
    regions typed by kind (SeparatorRegion / ImageRegion / TextRegion,
    like the flat render_page_xml), nested lines and words inside text
    regions that have a word decode, a flat TextEquiv fallback otherwise.
    Same fold shape as render_alto_words — word→line→region groupBys, then
    a page fold that collects the region elements AND the reading-order
    refs from the same pass; the block view is persisted (region join +
    page fold)."""
    blocks = blocks.persist()

    def coords(indent: str):
        x0, y0 = F.col("left").cast("string"), F.col("top").cast("string")
        x1 = F.col("right").cast("string")
        y1 = F.col("bottom").cast("string")
        return F.concat(
            F.lit(indent + "<Coords points='"), x0, F.lit(","), y0,
            F.lit(" "), x1, F.lit(","), y0, F.lit(" "), x1, F.lit(","), y1,
            F.lit(" "), x0, F.lit(","), y1, F.lit("'/>"))

    text = _escape_xml(F.col("word"))
    word = F.concat(
        F.lit("    <Word id='w"), _node_id(5), F.lit("'>\n"), coords("     "),
        F.lit("\n     <TextEquiv conf='"),
        F.format_string("%.2f", F.col("conf") / 100.0),
        F.lit("'><Unicode>"), text,
        F.lit("</Unicode></TextEquiv>\n    </Word>"))
    lines = _group(words, 4, _fold(word, "word_num").alias("body"),
                   _fold(text, "word_num", sep=" ").alias("plain"))
    line = F.concat(
        F.lit("   <TextLine id='l"), _node_id(4), F.lit("'>\n"),
        coords("    "), F.lit("\n"), F.col("body"),
        F.lit("\n    <TextEquiv><Unicode>"), F.col("plain"),
        F.lit("</Unicode></TextEquiv>\n   </TextLine>"))
    blk = _with_bodies(blocks, _group(
        lines, 2, _fold(line, "para_num", "line_num").alias("wbody")))
    rid = _node_id(2)

    def region(tag, attrs, *body):
        return F.concat(F.lit(f"  <{tag} id='r"), rid, F.lit("' custom='"),
                        F.col("kind"), F.lit("'"), *attrs, F.lit(">\n"),
                        coords("   "), *body, F.lit(f"\n  </{tag}>"))

    regions = _by_kind(
        region("SeparatorRegion", []),
        region("ImageRegion", [F.lit(" imageFilename='"),
                               _escape_attr(_or_empty("media_ref")),
                               F.lit("'")]),
        region("TextRegion", [], F.lit("\n"), F.coalesce(
            F.col("wbody"), F.concat(F.lit("   "), _page_text()))))
    ref = F.concat(F.lit("   <RegionRefIndexed index='"),
                   F.col("block_order").cast("string"),
                   F.lit("' regionRef='r"), rid, F.lit("'/>"))
    pn = F.col("page_num").cast("string")
    page = F.concat(
        F.lit(" <Page id='page_"), pn, F.lit("' imageFilename='"),
        _escape_attr(_or_empty("page_ref")),
        F.lit("'>\n  <ReadingOrder><OrderedGroup id='ro_"), pn,
        F.lit("'>\n"), F.col("refs"),
        F.lit("\n  </OrderedGroup></ReadingOrder>\n"), F.col("body"),
        F.lit("\n </Page>"))
    return _paged(
        blk, regions, page,
        "page_xml",
        "<PcGts xmlns='http://schema.primaresearch.org/PAGE/gts/"
        "pagecontent/2019-07-15'>\n", "\n</PcGts>",
        F.max("media_ref").alias("page_ref"),
        _fold(ref, "block_order").alias("refs"))


# GetUNLVText's latin fold table (kUniChs → kLatinChs, baseapi.cpp:2431-2434):
# €→¢ “→" ”→" ‘→' ’→' •→· —→-
UNLV_UNI = "€“”‘’•—"
UNLV_LATIN = "¢\"\"''·-"
UNLV_REJECT = "~"   # kUNLVReject / kTesseractReject (tessedit.h)
UNLV_SUSPECT = "^"  # kUNLVSuspect


def render_box(symbols: DataFrame) -> DataFrame:
    """(doc_id, box): the reference's .box training-file format — one line
    per SYMBOL, `char left (H-bottom) right (H-top) page`, y flipped to the
    box file's bottom-left origin via the page height (GetBoxText,
    baseapi.cpp:2391-2422, TessBoxTextRenderer renderer.h:298). A space
    decode is rewritten to the reject char '~' exactly like GetBoxText's
    kTesseractReject fix (baseapi.cpp:2407-2411); the page column is the
    media span's offset (the reference's page_number argument). Coordinates
    are inclusive on both edges, so the flip is H-1-y. Input: the
    page_symbols view. One shuffle (the per-doc fold); the line
    assembly is all built-in expressions."""
    ch = F.when(F.col("ch") == " ", UNLV_REJECT).otherwise(F.col("ch"))
    line = F.concat_ws(
        " ", ch,
        F.col("left").cast("string"),
        (F.col("page_h") - 1 - F.col("bottom")).cast("string"),
        F.col("right").cast("string"),
        (F.col("page_h") - 1 - F.col("top")).cast("string"),
        F.col("offset").cast("string"))
    return symbols.groupBy("doc_id").agg(_fold(line, *SYM_KEYS).alias("box"))


def render_unlv(symbols: DataFrame, suspect_conf: int = 80) -> DataFrame:
    """(doc_id, unlv): UNLV-format Latin-1 text with reject and suspect
    codes (GetUNLVText, baseapi.cpp:2440, TessUnlvRenderer renderer.h:276):
    the kUniChs→kLatinChs fold maps the common non-Latin-1 punctuation into
    Latin-1 (baseapi.cpp:2428-2434); any character still above U+00FF
    becomes the reject '~' (baseapi.cpp:2508-2515); a character whose
    decode confidence is below `suspect_conf` is prefixed with the suspect
    marker '^' — the per-char reject_map marking of set_unlv_suspects
    (baseapi.cpp:2500-2503), driven here by the template-decode hamming
    confidence. Words are joined by a space within a line, lines/blocks by
    newline (the reference's word->space()/BOL walk).

    One shuffle: the lag window and the per-doc fold share the doc_id hash
    partitioning. All character work is built-in expressions."""
    folded = F.translate(F.col("ch"), UNLV_UNI, UNLV_LATIN)
    ch = (F.when(folded == " ", UNLV_REJECT)
          .when(folded >= "Ā", UNLV_REJECT)
          .otherwise(folded))
    ch = F.when(F.col("conf") < suspect_conf,
                F.concat(F.lit(UNLV_SUSPECT), ch)).otherwise(ch)
    w = Window.partitionBy("doc_id").orderBy(*SYM_KEYS)

    def same(depth):
        """The previous symbol sits in the same depth-`depth` node."""
        return reduce(lambda a, b: a & b, (F.lag(k).over(w) == F.col(k)
                                           for k in LEVEL_KEYS[:depth]))

    sep = (F.when(F.lag("ch").over(w).isNull(), "")
           .when(same(5), "").when(same(4), " ").otherwise("\n"))
    return (
        symbols.select("doc_id", *SYM_KEYS, F.concat(sep, ch).alias("piece"))
        .groupBy("doc_id")
        .agg(_fold("piece", *SYM_KEYS, sep="").alias("unlv"))
    )


PDF_SCHEMA = "doc_id string, pdf binary, n_pages int"


def render_pdf(pages: DataFrame) -> DataFrame:
    """(doc_id, pdf, n_pages): one searchable PDF per document — the S8
    TessPDFRenderer (src/api/pdfrenderer.cpp, renderer.h:244):
    per page the gray backdrop image as an XObject and an INVISIBLE text
    layer (3 Tr) whose Tz-stretched words exactly cover their image boxes,
    so the file is viewable as the original scan yet selectable/searchable.

    Input: the extract_pdf_pages parts frame (plans.pipeline
    PDF_PAGES_SCHEMA). Page images arrive ALREADY Flate-compressed from the
    kernel, so the one shuffle here (the per-doc fold) moves compressed
    bytes; assembly is string concatenation + xref bookkeeping in an
    applyInPandas over doc_id groups — per-group memory is one document's
    compressed pages, the same unit the reference's renderer holds in its
    object stream. Docs with zero decodable pages emit no file. Output is
    byte-deterministic: resumed/re-run jobs re-emit identical PDFs, and the
    oracle pins the distributed assembly to a single-process run."""
    import pandas as pd

    from .functions.pdfout import assemble_pdf

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["offset", "page_seq"])
        parts = [
            {"w": int(w), "h": int(h),
             "img": bytes(img) if img is not None else None,
             "ops": ops or ""}
            for w, h, img, ops in
            zip(pdf["w"], pdf["h"], pdf["img"], pdf["ops"])
        ]
        return pd.DataFrame({
            "doc_id": [pdf["doc_id"].iloc[0]],
            "pdf": [assemble_pdf(parts)],
            "n_pages": [len(parts)],
        })

    return pages.groupBy("doc_id").applyInPandas(assemble, schema=PDF_SCHEMA)
