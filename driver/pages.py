"""Page-extraction queries over the fixture corpus and single fixture
pages: span extraction with each recognizer, RTL/bidi reading order,
tables, zone overrides, layout-only analysis, the page table's block,
word and symbol views, and the paragraph and bidi contract rows.

The page-kernel truths are projections of one local walk (`page_walk`)."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver.common import (fixture_frames, fixture_set, query, sql_quote,
                           truth_values_sql)
from sparkstract.plans.pipeline import extract


@functools.lru_cache(maxsize=1)
def page_walk() -> list[tuple]:
    """The page kernel run locally over every fixture media span, in
    docs-table order: one (doc_id, offset, media_ref, base_order, blocks,
    gray, page_w, page_h) per decoded page. base_order counts the blocks
    on the span's earlier pages; gray is None on a PDF text-layer page.
    Every page-kernel truth is a projection of this walk. It repeats the
    kernel's page iteration, including the PDF born-digital rule (a
    text-layer page parses, an image-only page is analysed), instead of
    calling plans/pipeline.py, because it is that code's oracle."""
    from sparkstract.functions.codecs import decode_pages, sniff
    from sparkstract.functions.pdf import blocks_from_pdf_page, parse_pdf
    from sparkstract.operators.page import analyse_page

    def pages(data: bytes):
        def analysed(gray):
            return analyse_page(gray), gray, gray.shape[1], gray.shape[0]

        if sniff(data) != "pdf":
            yield from map(analysed, decode_pages(data))
            return
        for pg in parse_pdf(data):
            if pg.has_text:
                yield (blocks_from_pdf_page(pg), None,
                       int(round(pg.width)), int(round(pg.height)))
            else:
                yield from (analysed(it[1]) for it in pg.items
                            if it[0] == "image")

    fs = fixture_set()
    img_by_ref = {r.media_ref: r.image for r in fs.media.itertuples()}
    rows: list[tuple] = []
    for d in fs.docs.itertuples():
        for span in d.spans:
            if span["kind"] != "media":
                continue
            ref = span["media_ref"]
            base = 0
            for blocks, gray, w, h in pages(bytes(img_by_ref[ref])):
                rows.append((d.doc_id, span["offset"], ref, base, blocks,
                             gray, w, h))
                base += len(blocks)
    return rows


@functools.lru_cache(maxsize=1)
def _rtl_fixture():
    """Deterministic RTL two-column page + truth (Hebrew layout_test case,
    unittest/layout_test.cc:215-236): rightmost column reads
    first under ExtractConfig(rtl=True)."""
    from sparkstract.fixtures.render import PageSpec, Text, render_page
    from sparkstract.functions.png import encode_gray

    spec = PageSpec(
        elements=[Text(["RIGHT COLUMN ONE", "RIGHT COLUMN TWO"], col=1),
                  Text(["LEFT COLUMN ONE", "LEFT COLUMN TWO"], col=0)],
        n_cols=2, scale=2, width_chars=17, rtl=True)
    img, truth = render_page(spec)
    return encode_gray(img), img.shape, truth


@functools.lru_cache(maxsize=1)
def _bidi_fixture():
    """Mixed-direction RTL page (W4, resultiterator.cpp:285): words drawn in
    POSITIONAL left-to-right order, truth hand-written in LOGICAL bidi order
    per the reference's permutation tests (resultiterator_test.cc:480-539)."""
    from sparkstract.fixtures.render import PageSpec, Text, render_page
    from sparkstract.functions.png import encode_gray

    spec = PageSpec(elements=[Text(
        ["אב גד FOX DOG הו", "זח טי"],
        truth_lines=["הו FOX DOG גד אב", "טי זח"], col=0)],
        scale=2, width_chars=17, rtl=True)
    img, truth = render_page(spec)
    return encode_gray(img), img.shape, truth


# row 0 is a MERGED-cell header: TOTAL spans body columns 0-1 (C8 v3,
# StructuredTable tablerecog.cpp:62) — it has only one aligned gap, so
# only the spanned-row absorption keeps it inside the table
_TABLE_CELLS = [["TOTAL", "W8"],
                ["PART", "GRID FOX", "X1"],
                ["SCAN", "ROW", "Y2"],
                ["JOIN", "THE DOG", "Z3"]]
_TABLE_LAYOUT = [[(0, 2), (2, 1)]] + [[(0, 1), (1, 1), (2, 1)]] * 3


@functools.lru_cache(maxsize=1)
def _table_fixture():
    """Deterministic table page with a multi-word middle column AND a
    spanning header: cell structure (C8 v2/v3, reference
    src/textord/tablerecog.cpp) requires the decode to split at the
    aligned table gaps but NOT at intra-cell word spaces, and to keep the
    merged header cell as ONE cell spanning two grid columns."""
    from sparkstract.fixtures.render import PageSpec, TableGrid, render_page
    from sparkstract.functions.png import encode_gray

    spec = PageSpec(elements=[TableGrid(cells=_TABLE_CELLS,
                                        col_chars=[6, 9, 4],
                                        layout=_TABLE_LAYOUT, col=0)],
                    scale=2, width_chars=27)
    img, _truth = render_page(spec)
    return encode_gray(img), img.shape


_ZONE_LINES = ["SPARK QUERY SCAN", "MERGE BATCH GRID",
               "PAGE LINE WORD", "TOKEN GLYPH ROW"]
_ZONE_SPLIT = 58  # between rows 2 and 3 (tops 16/40/64/88 at scale 2)


@functools.lru_cache(maxsize=1)
def _zone_fixture():
    from sparkstract.fixtures.render import PageSpec, Text, render_page
    from sparkstract.functions.png import encode_gray

    img, _ = render_page(PageSpec(elements=[Text(_ZONE_LINES)], scale=2,
                                  width_chars=17))
    return encode_gray(img), img.shape


def _page_frames(spark: SparkSession, name: str, png: bytes, shape):
    """One fixture page as a docs table `d-{name}` with one media span
    and its media table `m-{name}`."""
    from sparkstract.fixtures.gen import DOCS_SCHEMA, MEDIA_SCHEMA

    docs = spark.createDataFrame(
        [(f"d-{name}", [dict(kind="media", text=None,
                             media_ref=f"m-{name}", offset=0)])],
        DOCS_SCHEMA)
    media = spark.createDataFrame(
        [(f"m-{name}", shape[1], shape[0], png)], MEDIA_SCHEMA)
    return docs, media


def _span_rows(name: str, truth) -> str:
    """VALUES rows of the truth spans of the one-page doc `d-{name}`."""
    return ",\n".join(
        f"('d-{name}', {i}, {sql_quote(b.kind)}, {sql_quote(b.text)}, "
        f"'m-{name}')" for i, b in enumerate(truth))


# Paragraph-detection contract rows: ASCII blocks from the reference's own
# test tables (unittest/paragraphs_test.cc) with hand-written expected
# assignments — an oracle independent of the detector implementation.
_PARA_BLOCKS: list[tuple[str, int, list[str], list[tuple[int, str, bool, bool]]]] = [
    ("pd-1", 0,
     ["  Look here, I have a paragraph.",
      "This paragraph starts at the top",
      "of the page and takes 3 lines.  ",
      "  Here I have a second paragraph",
      "which indicates that the first  ",
      "paragraph is not a continuation ",
      "from a previous page, as it is  ",
      "indented just like this second  ",
      "paragraph.                      "],
     [(0, "left", False, False)] * 3 + [(1, "left", False, False)] * 6),
    ("pd-1", 1,
     ["Right-aligned paragraphs are",
      "   uncommon in Left-to-Right",
      "      languages, but they do",
      "                      exist.",
      "    Mostly, however, they're",
      " horribly tiny paragraphs in",
      "  tables on which we have no",
      "             chance anyways."],
     [(0, "right", False, False)] * 4 + [(1, "right", False, False)] * 4),
    ("pd-2", 0,
     ["1. Make a plan.                 ",
      "2. Use a heuristic, for example,",
      "   looking for lines where the  ",
      "   first word of the next line  ",
      "   would fit on the previous    ",
      "   line.                        ",
      "8. Try to implement the plan in ",
      "   Python and try it out.       ",
      "4. Determine how to fix the     ",
      "   mistakes.                    ",
      "5. Repeat.                      "],
     [(0, "left", False, True), (1, "left", False, True), (1, "left", False, False),
      (1, "left", False, False), (1, "left", False, False), (1, "left", False, False),
      (2, "left", False, True), (2, "left", False, False),
      (3, "left", False, True), (3, "left", False, False),
      (4, "left", False, True)]),
    # hanging-indent index entries (paragraphs_test.cc:724 IndexPageTest)
    ("pd-3", 0,
     ["Oats, 51                      ",
      "O'Brien, Gregory, 175         ",
      "Occupational composition, 110,",
      "   138                        ",
      "OECD rankings, 155, 172       ",
      "Okiato (original capital), 47 "],
     [(0, "left", False, False), (1, "left", False, False),
      (2, "left", False, False), (2, "left", False, False),
      (3, "left", False, False), (4, "left", False, False)]),
    # single-line dialogue chain + wrapped body (paragraphs_test.cc:687)
    ("pd-3", 1,
     ['     "May I take the cast net?"                                     ',
      '     "Of course."                                                   ',
      "     There was  no  cast net  and  the boy  remembered  when  they had",
      "sold it.   But they went through  this fiction every day. There was no",
      "pot of yellow rice and fish and the boy knew this too.               "],
     [(0, "left", False, False), (1, "left", False, False),
      (2, "left", False, False), (2, "left", False, False),
      (2, "left", False, False)]),
    # stray indent-outlier row → unmodeled paragraph, PNONE
    # (paragraphs_test.cc:470 TestStrayLineInBlock)
    ("pd-4", 0,
     ["The first paragraph on a page is",
      "often not indented as the rest  ",
      "of the paragraphs are.  Nonethe-",
      "less it should be counted as the",
      "same type of paragraph.         ",
      "  Even a short second paragraph ",
      "should suffice.                 ",
      "             1235               "],
     [(0, "left", True, False), (0, "left", False, False),
      (0, "left", False, False), (0, "left", False, False),
      (0, "left", False, False), (1, "left", False, False),
      (1, "left", False, False), (2, None, False, False)]),
]


# Bidi reading-order contract rows: direction arrays and expected orders from
# the reference's pure-logic tests (unittest/resultiterator_test.cc:480-539).
_BIDI_CASES: list[tuple[str, list[int], bool, list[int]]] = [
    ("dual-ltr", [1, 1, 0, 1, 0, 2, 2, 2], True, [0, 1, 2, 3, 4, -1, 7, 6, 5, -2]),
    ("dual-rtl", [1, 1, 0, 1, 0, 2, 2, 2], False, [7, 6, 5, 4, -1, 0, 1, 2, 3, -2]),
    ("left-ltr", [1, 1, 0, 1, 0, 0, 1, 1], True, [0, 1, 2, 3, 4, 5, 6, 7]),
    ("left-rtl", [1, 1, 0, 1, 0, 0, 1, 1], False, [-1, 0, 1, 2, 3, 4, 5, 6, 7, -2]),
    ("right-rtl", [2, 2, 0, 2, 0, 0, 2, 2], False, [7, 6, 5, 4, 3, 2, 1, 0]),
]


def blocks_truth() -> list[tuple]:
    """layout_geometry rows: every block of the page walk."""
    return [(doc, off, base + blk.order, blk.kind, blk.text, ref,
             blk.left, blk.top, blk.right, blk.bottom)
            for doc, off, ref, base, blocks, *_ in page_walk()
            for blk in blocks]


def words_truth() -> list[tuple]:
    """extract_words rows: every word of the page walk."""
    return [(doc, off, base + blk.order, p, ln, wn, wtext, ref,
             wl, wt, wr, wb, conf, xs, bsl, boff)
            for doc, off, ref, base, blocks, *_ in page_walk()
            for blk in blocks if blk.words
            for (p, ln, wn, wtext, wl, wt, wr, wb, conf,
                 _syms, (xs, bsl, boff)) in blk.words]


def symbols_truth() -> list[tuple]:
    """extract_symbols rows (the RIL_SYMBOL walk of GetBoxText,
    baseapi.cpp:2391): every decoded character of the page walk."""
    return [(doc, off, base + blk.order, p, ln, wn, si, ch, ref,
             sl, st, sr, sb, sc, page_h)
            for doc, off, ref, base, blocks, _gray, _w, page_h in page_walk()
            for blk in blocks if blk.words
            for (p, ln, wn, *_box, syms, _lm) in blk.words
            for si, (ch, sl, st, sr, sb, sc) in enumerate(syms)]


@query("extract_spans", truth_values_sql)
def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, media, _ = fixture_frames(spark)
    return extract(spark, docs, media)


# the model-recognizer rerun is pinned against the SAME truth: a
# green row means the swapped C11 strategy reproduced every span
@query("extract_spans_model", truth_values_sql)
def q_extract_spans_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C11 recognizer seam, proven: the SAME fixture corpus decoded by
    the trained MLP pack (ExtractConfig(recognizer='model'),
    operators/recognizer.py ModelRecognizer) must reproduce the truth spans
    byte-for-byte — the oracle is extract_spans' own truth table, so a
    green row certifies the template and model strategies are
    interchangeable behind the seam (the reference's analog: the same page
    recognized by whichever .traineddata pack is loaded, LSTMRecognizeWord
    src/ccmain/linerec.cpp:237)."""
    from sparkstract.config import ExtractConfig

    docs, media, _ = fixture_frames(spark)
    return extract(spark, docs, media, ExtractConfig(recognizer="model"))


@query("extract_spans_model_degraded", truth_values_sql)
def q_extract_spans_model_degraded(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The second model pack — retrained with cells HARVESTED from the
    degraded fixture families (scripts/train_recognizer_degraded.py, the
    fast-vs-best .traineddata analog, apiexample_test.cc:89-99) — decodes
    the same corpus to the same truth, proving the pack-retrain loop
    end-to-end: harvest -> train -> gate -> ship -> swap via
    ExtractConfig(recognizer='model-degraded')."""
    from sparkstract.config import ExtractConfig

    docs, media, _ = fixture_frames(spark)
    return extract(spark, docs, media,
                   ExtractConfig(recognizer="model-degraded"))


@query("extract_rtl", lambda: f"""
            SELECT * FROM (VALUES
            {_span_rows("rtl", _rtl_fixture()[2])}
            ) AS t(doc_id, "order", kind, text, media_ref)
        """)
def q_extract_rtl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.config import ExtractConfig

    png, shape, _truth = _rtl_fixture()
    docs, media = _page_frames(spark, "rtl", png, shape)
    return extract(spark, docs, media, ExtractConfig(rtl=True))


@query("extract_bidi", lambda: f"""
            SELECT * FROM (VALUES
            {_span_rows("bidi", _bidi_fixture()[2])}
            ) AS t(doc_id, "order", kind, text, media_ref)
        """)
def q_extract_bidi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExtractConfig(rtl=True) path of the bidi reorder (the reference
    gets direction from the loaded language). The script-VOTE path — same
    reorder, no config flag — is exercised by the bidi_page / rotated_rtl
    fixture families inside extract_spans."""
    from sparkstract.config import ExtractConfig

    png, shape, _truth = _bidi_fixture()
    docs, media = _page_frames(spark, "bidi", png, shape)
    return extract(spark, docs, media, ExtractConfig(rtl=True))


_TABLE_CELL_ROWS = ",\n".join(
    f"('d-table', 0, {ri}, {ci}, {sql_quote(cell)})"
    for ri, row in enumerate(_TABLE_CELLS)
    for ci, cell in enumerate(row))


@query("table_cells", f"""
            SELECT * FROM (VALUES
            {_TABLE_CELL_ROWS}
            ) AS t(doc_id, "order", row_idx, cell_idx, cell)
            ORDER BY doc_id, "order", row_idx, cell_idx
        """)
def q_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-level table structure: one output row per (table row, cell)."""
    docs, media = _page_frames(spark, "table", *_table_fixture())
    spans = extract(spark, docs, media)
    by_line = (
        spans.filter(F.col("kind") == "table")
        .select("doc_id", "order",
                F.posexplode(F.split("text", "\n")).alias("row_idx", "line"))
    )
    return (
        by_line.select("doc_id", "order", "row_idx",
                       F.posexplode(F.split("line", "\t"))
                       .alias("cell_idx", "cell"))
        .orderBy("doc_id", "order", "row_idx", "cell_idx")
    )


_TABLE_STRUCTURE_ROWS = ",\n".join(
    f"('d-table', {ri}, {ci}, {cs}, {span}, {sql_quote(cell)})"
    for ri, (row, lay) in enumerate(zip(_TABLE_CELLS, _TABLE_LAYOUT))
    for ci, (cell, (cs, span)) in enumerate(zip(row, lay)))


@query("table_structure", f"""
            SELECT * FROM (VALUES
            {_TABLE_STRUCTURE_ROWS}
            ) AS t(doc_id, row_idx, cell_idx, col_start, col_span, cell)
            ORDER BY doc_id, row_idx, cell_idx
        """)
def q_table_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED table view (C8 v3): grid column + span per visible cell
    through the page table's cell projection — the merged header cell
    must come out once with col_span 2 (StructuredTable,
    tablerecog.cpp:62)."""
    from sparkstract.plans.pipeline import extract_pages, page_cells

    docs, media = _page_frames(spark, "table", *_table_fixture())
    return (
        page_cells(extract_pages(spark, docs, media))
        .select("doc_id", "row_idx", "cell_idx", "col_start", "col_span",
                "cell")
        .orderBy("doc_id", "row_idx", "cell_idx")
    )


@query("zone_override", f"""
            SELECT * FROM (VALUES
            ('d-zone', 0, 'flowing_text',
             {sql_quote(chr(10).join(_ZONE_LINES[:2]))}, 'm-zone'),
            ('d-zone', 1, 'flowing_text',
             {sql_quote(chr(10).join(_ZONE_LINES[2:]))}, 'm-zone')
            ) AS t(doc_id, "order", kind, text, media_ref)
        """)
def q_zone_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 zone-file source: a zones side table overrides segmentation per
    media_ref (read_unlv_file, blread.cpp; honored pagesegmain.cpp:114-127)
    — the supplied two-zone split wins over the single auto block."""
    from sparkstract.plans.pipeline import ZONES_SCHEMA

    png, (h, w) = _zone_fixture()
    docs, media = _page_frames(spark, "zone", png, (h, w))
    zones = spark.createDataFrame(
        [("m-zone", [dict(left=0, top=0, right=w - 1,
                          bottom=_ZONE_SPLIT - 1, kind="flowing_text"),
                     dict(left=0, top=_ZONE_SPLIT, right=w - 1,
                          bottom=h - 1, kind="flowing_text")])], ZONES_SCHEMA)
    return extract(spark, docs, media, zones=zones)


@query("layout_blocks", lambda: f"""
            WITH truth AS ({truth_values_sql()})
            SELECT doc_id, "order", kind,
                   CASE WHEN kind = 'text' THEN text
                        ELSE CAST(NULL AS VARCHAR) END AS text,
                   media_ref
            FROM truth
        """)
def q_layout_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnalyseLayout slice (baseapi.cpp:1298): kinds + order without
    recognition — extracted spans carry NULL text, pass-through text stays."""
    from sparkstract.plans.pipeline import analyse_layout

    docs, media, _ = fixture_frames(spark)
    return analyse_layout(spark, docs, media)


_PARA_ROWS = ",\n".join(
    f"('{doc}', '{blk}', {i}, {exp[0]}, {sql_quote(exp[1])}, "
    f"{str(exp[2]).upper()}, {str(exp[3]).upper()})"
    for doc, blk, lines, expected in _PARA_BLOCKS
    for i, exp in enumerate(expected)
)


@query("paragraphs", f"""
            SELECT * FROM (VALUES
            {_PARA_ROWS}
            ) AS t(doc_id, block_order, row_order, para_id, justification,
                   is_crown, is_list_item)
            ORDER BY doc_id, block_order, row_order
        """)
def q_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.operators.paragraphs import paragraphs_df

    rows = []
    for doc_id, block, lines, _expected in _PARA_BLOCKS:
        for i, t in enumerate(lines):
            rows.append((doc_id, str(block), i, t))
    df = spark.createDataFrame(
        rows, "doc_id string, block_order string, row_order int, line_text string")
    return (
        paragraphs_df(df)
        .select("doc_id", "block_order", "row_order", "para_id",
                "justification", "is_crown", "is_list_item")
        .orderBy("doc_id", "block_order", "row_order")
    )


_BIDI_ROWS = ",\n".join(
    f"('{cid}', '{','.join(str(i) for i in exp)}')"
    for cid, _d, _l, exp in _BIDI_CASES
)


@query("bidi_order", f"""
            SELECT * FROM (VALUES
            {_BIDI_ROWS}
            ) AS t(line_id, reading_order)
            ORDER BY line_id
        """)
def q_bidi_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.operators.bidi import reorder_words

    df = spark.createDataFrame(
        [(cid, dirs, ltr) for cid, dirs, ltr, _exp in _BIDI_CASES],
        "line_id string, word_dirs array<int>, paragraph_is_ltr boolean")
    # serialize the order array: the driver's canonicalizer sorts every
    # column with pandas, which cannot factorize list cells — a deterministic
    # comma-joined string compares exactly and hashes stably in both engines
    return (
        reorder_words(df)
        .select("line_id",
                F.array_join("reading_order", ",").alias("reading_order"))
        .orderBy("line_id")
    )


def _layout_geometry_sql() -> str:
    geom_rows = ",\n".join(
        f"({sql_quote(doc)}, {off}, {bo}, {sql_quote(kind)}, "
        f"{sql_quote(text)}, {sql_quote(ref)}, {l}, {t}, {r}, {b})"
        for doc, off, bo, kind, text, ref, l, t, r, b
        in blocks_truth())
    return f"""
            SELECT * FROM (VALUES
            {geom_rows}
            ) AS t(doc_id, "offset", block_order, kind, text, media_ref,
                   "left", "top", "right", "bottom")
            ORDER BY doc_id, "offset", block_order
        """


@query("layout_geometry", _layout_geometry_sql)
def q_layout_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block bounding boxes at the reference's TSV/hOCR level of detail.
    Oracle: VALUES literal computed at build time by running the identical
    page kernel single-process over the deterministic fixture media — the
    check pins the *distributed* path (explode, media join, Arrow batching,
    kernel, schema) to the single-process ground truth."""
    from sparkstract.plans.pipeline import extract_pages, page_blocks

    docs, media, _ = fixture_frames(spark)
    return page_blocks(extract_pages(spark, docs, media)) \
        .orderBy("doc_id", "offset", "block_order")


def _extract_words_sql() -> str:
    word_rows = ",\n".join(
        f"({sql_quote(doc)}, {off}, {bo}, {p}, {ln}, {wn}, "
        f"{sql_quote(wtext)}, {sql_quote(ref)}, {l}, {t}, {r}, {b}, {conf}, "
        f"{xs}, CAST({bsl!r} AS DOUBLE), {boff})"
        for doc, off, bo, p, ln, wn, wtext, ref, l, t, r, b, conf,
        xs, bsl, boff in words_truth())
    return f"""
            SELECT * FROM (VALUES
            {word_rows}
            ) AS t(doc_id, "offset", block_order, para_num, line_num,
                   word_num, word, media_ref, "left", "top", "right",
                   "bottom", conf, x_size, base_slope, base_off)
            ORDER BY doc_id, "offset", block_order, para_num, line_num,
                     word_num
        """


@query("extract_words", _extract_words_sql)
def q_extract_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level sidecar (GetTSVText levels 3-5, baseapi.cpp:2205): one row
    per recognized word with block/paragraph/line/word numbering — paragraphs
    from the detector WIRED into the kernel (W6, DetectParagraphs-in-
    Recognize baseapi.cpp:1417; the para_page family splits [0,0,0,1,1]) —
    and its bounding box + confidence. Oracle: VALUES from the identical
    kernel run single-process over the deterministic fixture media."""
    from sparkstract.plans.pipeline import extract_pages, page_words

    docs, media, _ = fixture_frames(spark)
    return page_words(extract_pages(spark, docs, media)).orderBy(
        "doc_id", "offset", "block_order", "para_num", "line_num", "word_num")


def _extract_symbols_sql() -> str:
    symbol_rows = ",\n".join(
        f"({sql_quote(doc)}, {off}, {bo}, {p}, {ln}, {wn}, {si}, "
        f"{sql_quote(ch)}, {sql_quote(ref)}, {l}, {t}, {r}, {b}, {conf}, "
        f"{page_h})"
        for doc, off, bo, p, ln, wn, si, ch, ref, l, t, r, b, conf, page_h
        in symbols_truth())
    return f"""
            SELECT * FROM (VALUES
            {symbol_rows}
            ) AS t(doc_id, "offset", block_order, para_num, line_num,
                   word_num, sym_num, ch, media_ref, "left", "top",
                   "right", "bottom", conf, page_h)
            ORDER BY doc_id, "offset", block_order, para_num, line_num,
                     word_num, sym_num
        """


@query("extract_symbols", _extract_symbols_sql)
def q_extract_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol-level sidecar (the RIL_SYMBOL walk of GetBoxText,
    baseapi.cpp:2391): one row per decoded character with its decode-cell
    box, per-char confidence, and the page height the box renderer flips
    with. Oracle: VALUES from the identical kernel run single-process."""
    from sparkstract.plans.pipeline import extract_pages, page_symbols

    docs, media, _ = fixture_frames(spark)
    return page_symbols(extract_pages(spark, docs, media)).orderBy(
        "doc_id", "offset", "block_order", "para_num", "line_num",
        "word_num", "sym_num")
