"""The extraction plan: docs ⨝ media → page kernel → page table → views.

Spark lifecycle (SURVEY.md §3.3 "Spark lifecycle (ours)"):

  docs → posexplode(spans) → split text/media
       → media ⨝ media-bytes (J7; broadcast at test scale, hash join at 100 TB)
       → repartition(cores, doc_id, offset)     ← the axis-B salt: the work
         unit is one media span, so a doc with 10k pages spreads over 10k
         tasks instead of hot-spotting one
       → mapInPandas(page kernel)               ← F1-F8, C1-C13, W1-W3, A1-A8
         = the page table, one row per decoded page (`extract_pages`)
       → inline(blocks) ∪ text pass-through spans
       → row_number() over (doc_id ORDER BY offset, block_order)  ← A11, the
         one true shuffle aggregation (GetUTF8Text ordered walk,
         /root/reference/src/api/baseapi.cpp:2097)

Everything between the explode and the final window is partition-local; the
plan has exactly two shuffles at scale (media join, doc reassembly) plus the
salt repartition, which has an explicit partition count (one per core slot
by default) so AQE cannot coalesce the kernel stage into one task.

The reference recognizes a page once, and GetUTF8Text, GetTSVText and
GetBoxText all walk the same result tree (baseapi.cpp:2097, :2205, :2414).
Here the page kernel (`_kernel` over the one page loop `_iter_page_blocks`)
writes that tree once, as the page table (PAGES_SCHEMA): per decoded page
its size and its blocks, each block with its table cells and its words,
each word with its symbols. Every view is an `inline` projection of a page
table — `page_blocks`, `page_words`, `page_symbols`, `page_cells` — and
`extract` is the text pass-through unioned with `page_blocks`. Persist the
page table to read several views from one decode-and-analyse pass. Only
the searchable-PDF parts (`extract_pdf_pages`) run a pass of their own,
because they carry the page pixels.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ..config import ExtractConfig
from ..operators.page import analyse_page, analyse_zones

ZONES_SCHEMA = ("media_ref string, zones array<struct<left:int,top:int,"
                "right:int,bottom:int,kind:string>>")

# The page table: one row per decoded page. page_h is the page's pixel
# height (PDF unit height for born-digital pages; 0 for a decode error), the
# image_height_ GetBoxText flips symbol boxes with (baseapi.cpp:2414).
# Nested fields, all boxes top-down in original-image coordinates:
#   blocks   one per layout block, block_order running on across the pages
#            of a multipage item (ProcessPagesMultipageTiff,
#            baseapi.cpp:1657)
#   cells    structured table cells (C8 v3, StructuredTable,
#            tablerecog.cpp:62): one per VISIBLE cell, so a merged header
#            cell appears once with col_span > 1
#   words    the GetTSVText levels 3-5 (baseapi.cpp:2205): para/line/word
#            numbering from the wired paragraph detector (W6,
#            DetectParagraphs-in-Recognize baseapi.cpp:1417). x_size (row
#            glyph height) and the baseline slope + offset vs the line box's
#            bottom-left corner are per LINE, equal on each of its words
#            (hocrrenderer.cpp:163; _line_metrics)
#   symbols  one per decoded character, char i of the word's text (the
#            RIL_SYMBOL walk of GetBoxText, baseapi.cpp:2391)
# Layout-only runs (recognize=False) carry NULL text, cells and words.
_BOX = "left:int, top:int, right:int, bottom:int"
_SYMBOL = f"struct<ch:string, {_BOX}, conf:int>"
_WORD = (f"struct<para_num:int, line_num:int, word_num:int, word:string, "
         f"{_BOX}, conf:int, x_size:int, base_slope:double, base_off:int, "
         f"symbols:array<{_SYMBOL}>>")
_CELL = ("struct<row_idx:int, cell_idx:int, col_start:int, col_span:int, "
         "cell:string>")
PAGES_SCHEMA = (
    "doc_id string, offset int, media_ref string, page_w int, page_h int, "
    f"blocks array<struct<block_order:int, kind:string, text:string, {_BOX}, "
    f"cells:array<{_CELL}>, words:array<{_WORD}>>>"
)
SPANS_SCHEMA = "doc_id string, order int, kind string, text string, media_ref string"


def _analyse_raster(cfg: ExtractConfig, gray, page_zones):
    """One raster page through zone-override / crop / full analysis.
    Returns (crop_dx, crop_dy, blocks)."""
    if page_zones is not None and len(page_zones):
        # S10 zone-override source: supplied segmentation wins
        # (read_unlv_file, pagesegmain.cpp:114-127)
        return 0, 0, analyse_zones(gray, list(page_zones), rtl=cfg.rtl,
                                   whitelist=cfg.char_whitelist,
                                   recognizer=cfg.recognizer)
    # crop (SetRectangle, baseapi.cpp:949) restricts ANALYSIS,
    # but emitted geometry stays in original-image coordinates —
    # the reference adds rect_left_/rect_top_ back on every
    # BoundingBox call (pageiterator.cpp:366)
    crop_dx = crop_dy = 0
    if cfg.crop is not None:
        cl, ct, cr, cb = cfg.crop
        gray = gray[ct:cb, cl:cr]
        crop_dx, crop_dy = cl, ct
    return crop_dx, crop_dy, analyse_page(gray, rtl=cfg.rtl, psm=cfg.psm,
                                          whitelist=cfg.char_whitelist,
                                          recognizer=cfg.recognizer)


def _iter_page_blocks(cfg: ExtractConfig, pdf: pd.DataFrame):
    """The page loop every view shares: decode each work row's media bytes
    (codec dispatch, SetImage baseapi.cpp:881; a multipage TIFF yields several
    pages from ONE media span, ProcessPagesMultipageTiff baseapi.cpp:1657 —
    block order continues across its pages in file order), apply the
    zone-override source or crop + analyse, and yield one 10-tuple
    (doc_id, offset, media_ref, crop_dx, crop_dy, base_order, blocks, page_h,
    gray, page_w) per decoded page. page_h is the page's pixel height (PDF
    unit height for born-digital pages), the image_height_ the reference's
    GetBoxText uses to flip symbol boxes to bottom-left origin
    (baseapi.cpp:2414); gray is the decoded page array (None for born-digital
    PDF text pages and decode errors) and page_w its unit width (0 for decode
    errors). `_page_rows` and `_pdf_page_rows` differ only in which fields
    they keep.

    PDF media takes the born-digital path: a page WITH a text layer parses
    straight from the content stream (functions/pdf.py) and never touches
    the raster kernel — the real-pipeline rule "OCR only what has no text
    layer". An image-only PDF page (a scan wrapped in PDF) feeds each
    embedded raster through the normal analysis, so one document can mix
    both per page."""
    from ..functions.codecs import decode_pages, sniff
    from ..functions.pdf import blocks_from_pdf_page, parse_pdf

    from ..operators.page import Block

    zones_col = pdf["zones"] if "zones" in pdf.columns else [None] * len(pdf)
    for doc_id, offset, ref, png, page_zones in zip(
        pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["image"],
        zones_col,
    ):
        data = bytes(png)
        is_pdf = sniff(data) == "pdf"
        try:
            pages = parse_pdf(data) if is_pdf else decode_pages(data)
        except Exception as e:  # noqa: BLE001 — corrupt media is data, not a bug
            if cfg.decode_errors == "fail":
                raise
            yield (doc_id, offset, ref, 0, 0, 0,
                   [Block(0, "decode_error", f"{type(e).__name__}: {e}",
                          0, 0, 0, 0)], 0, None, 0)
            continue
        base = 0
        for pg in pages:
            if is_pdf and pg.has_text:
                blocks = blocks_from_pdf_page(pg, crop=cfg.crop)
                yield (doc_id, offset, ref, 0, 0, base, blocks,
                       int(round(pg.height)), None, int(round(pg.width)))
                base += len(blocks)
                continue
            # a raster page, or the embedded rasters of a scanned PDF page
            for gray in ([it[1] for it in pg.items if it[0] == "image"]
                         if is_pdf else [pg]):
                dx, dy, blocks = _analyse_raster(cfg, gray, page_zones)
                yield (doc_id, offset, ref, dx, dy, base, blocks,
                       gray.shape[0], gray, gray.shape[1])
                base += len(blocks)


def _kernel(cfg: ExtractConfig, schema: str, rows):
    """Build the one mapInPandas page kernel: one Arrow batch of (doc_id,
    offset, media_ref, image[, zones]) work rows in → one frame of `schema`
    rows out, `rows(cfg, pages)` flattening the batch's pages into tuples in
    the schema's column order. All heavy work is numpy inside analyse_page;
    the only Python loop is over pages in the batch (the reference's page
    loop, ProcessPagesInternal baseapi.cpp:1731)."""
    columns = DataType.fromDDL(schema).names

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame.from_records(
                rows(cfg, _iter_page_blocks(cfg, pdf)), columns=columns)

    return kernel


def _spans(docs: DataFrame, kind: str) -> DataFrame:
    """The docs' spans of one kind: (doc_id, kind, text, media_ref,
    offset)."""
    return docs.select("doc_id", F.inline("spans")) \
        .filter(F.col("kind") == kind)


def _work_frame(docs: DataFrame, media: DataFrame, cfg: ExtractConfig,
                zones: DataFrame | None = None) -> DataFrame:
    """Shared plumbing up to the kernel: the media spans joined to their
    bytes, salted and ready for a page kernel. `zones` (ZONES_SCHEMA)
    optionally overrides segmentation per media_ref — the S10 zone-file
    source; pages without a zones row fall through to full analysis."""
    media_side = media.select("media_ref", "image")
    if zones is not None:
        # zone tables are segmentation hints — tiny relative to media bytes,
        # always broadcast-joined on the same key
        media_side = media_side.join(
            F.broadcast(zones.select("media_ref", "zones")), "media_ref",
            "left")
    refs = _spans(docs, "media").select("doc_id", "offset", "media_ref")
    # an explicit partition count makes the salt a REPARTITION_BY_NUM
    # shuffle, which AQE never coalesces: sized by its ~100-byte key rows it
    # would merge the whole kernel stage into one task, since the optimizer
    # cannot see what the Python kernel costs per row
    n = cfg.work_partitions or docs.sparkSession.sparkContext.defaultParallelism
    if cfg.broadcast_media_max_rows:
        # salt-repartition the (doc_id, offset, media_ref) keys BEFORE the
        # join: the shuffle then moves key rows, not page images — the
        # broadcast join after it preserves the salted partitioning
        work = refs.repartition(n, "doc_id", "offset").join(
            F.broadcast(media_side), "media_ref")
    else:
        # big-media path: the shuffle join on media_ref moves the bytes once
        # (unavoidable); salt afterwards to spread media-heavy docs
        work = refs.join(media_side, "media_ref").repartition(
            n, "doc_id", "offset")
    return work


def _page_rows(cfg: ExtractConfig, pages):
    """PAGES_SCHEMA: one row per decoded page, its block tree moved back to
    original-image coordinates (the crop offset added back, as the
    reference does on every BoundingBox call, pageiterator.cpp:366) and its
    block order continued across the pages of a multipage item."""
    rec = cfg.recognize
    for doc_id, offset, ref, dx, dy, base, blocks, page_h, _gray, \
            page_w in pages:

        def box(left, top, right, bottom):
            return left + dx, top + dy, right + dx, bottom + dy

        yield (doc_id, offset, ref, page_w, page_h, [
            (base + blk.order, blk.kind, blk.text if rec else None,
             *box(blk.left, blk.top, blk.right, blk.bottom),
             list(blk.cells or ()) if rec else None,
             [(p, ln, wn, wtext, *box(wl, wt, wr, wb), conf, xs, bsl, boff,
               [(ch, *box(sl, st, sr, sb), sc)
                for ch, sl, st, sr, sb, sc in syms])
              for (p, ln, wn, wtext, wl, wt, wr, wb, conf, syms,
                   (xs, bsl, boff)) in blk.words or ()] if rec else None)
            for blk in blocks])


def extract_pages(spark: SparkSession, docs: DataFrame, media: DataFrame,
                  cfg: ExtractConfig | None = None,
                  zones: DataFrame | None = None) -> DataFrame:
    """The page table (PAGES_SCHEMA): every media span decoded and analysed
    once, one row per decoded page. `zones` (ZONES_SCHEMA) optionally
    overrides segmentation per media_ref (S10 zone-file source); zone pages
    carry words too, their inner sub-blocks numbered as paragraphs. Every
    view below is a projection of this frame; persist it to read several."""
    cfg = cfg or ExtractConfig()
    return _work_frame(docs, media, cfg, zones).mapInPandas(
        _kernel(cfg, PAGES_SCHEMA, _page_rows), schema=PAGES_SCHEMA)


def _blocks(pages: DataFrame) -> DataFrame:
    return pages.select("doc_id", "offset", "media_ref", "page_h",
                        F.inline("blocks"))


def _words(pages: DataFrame) -> DataFrame:
    return _blocks(pages).select("doc_id", "offset", "block_order",
                                 "media_ref", "page_h", F.inline("words"))


def page_blocks(pages: DataFrame) -> DataFrame:
    """One row per layout block with its box — the level of detail of the
    reference's TSV/hOCR block rows (GetTSVText level 2, baseapi.cpp:2205;
    hOCR ocr_carea bbox, hocrrenderer.cpp:123)."""
    return _blocks(pages).select(
        "doc_id", "offset", "block_order", "kind", "text", "media_ref",
        "left", "top", "right", "bottom")


def page_words(pages: DataFrame) -> DataFrame:
    """One row per recognized word with its block/para/line/word position,
    box, confidence and line typography (GetTSVText level 5; hOCR
    ocrx_word, hocrrenderer.cpp:136)."""
    return _words(pages).select(
        "doc_id", "offset", "block_order", "para_num", "line_num",
        "word_num", "word", "media_ref", "left", "top", "right", "bottom",
        "conf", "x_size", "base_slope", "base_off")


def page_symbols(pages: DataFrame) -> DataFrame:
    """One row per decoded character with its decode-cell box, confidence
    and page height: the data GetBoxText (baseapi.cpp:2391) walks to write
    .box training files."""
    sym = _words(pages).select(
        "doc_id", "offset", "block_order", "para_num", "line_num",
        "word_num", "media_ref", "page_h",
        F.posexplode("symbols").alias("sym_num", "s"))
    return sym.select(
        "doc_id", "offset", "block_order", "para_num", "line_num",
        "word_num", "sym_num", "s.ch", "media_ref", "s.left", "s.top",
        "s.right", "s.bottom", "s.conf", "page_h")


def page_cells(pages: DataFrame) -> DataFrame:
    """One row per visible table cell with its grid column and span — the
    cell structure tablerecog.cpp recognizes, merged cells included, which
    the flat TAB-joined block text cannot express."""
    return _blocks(pages).select("doc_id", "offset", "block_order",
                                 F.inline("cells"))


def extract(spark: SparkSession, docs: DataFrame, media: DataFrame,
            cfg: ExtractConfig | None = None,
            zones: DataFrame | None = None) -> DataFrame:
    """Run the full pipeline; returns flat spans (doc_id, order, kind, text,
    media_ref) — `order` dense 0-based per doc, the north-rule invariant key.
    `zones` as in `extract_pages`."""
    text_pass = _spans(docs, "text").select(
        "doc_id", "offset", F.lit(0).alias("block_order"), "kind", "text",
        F.lit(None).cast("string").alias("media_ref"))
    blocks = page_blocks(extract_pages(spark, docs, media, cfg, zones))
    unioned = blocks.drop("left", "top", "right", "bottom") \
        .unionByName(text_pass)
    w = Window.partitionBy("doc_id").orderBy("offset", "block_order")
    return (
        unioned.withColumn("order", F.row_number().over(w) - 1)
        .select("doc_id", "order", "kind", "text", "media_ref")
    )


# per-page searchable-PDF parts (S8 TessPDFRenderer, reference
# /root/reference/src/api/pdfrenderer.cpp): page dims, the Flate-compressed
# gray backdrop (NULL for born-digital text pages — nothing to re-raster),
# and the invisible text layer ops. `img` is compressed MAP-SIDE so the
# per-doc assembly shuffle moves compressed bytes, never raw pixels.
PDF_PAGES_SCHEMA = ("doc_id string, offset int, page_seq int, w int, h int, "
                    "img binary, ops string")


def _pdf_page_rows(cfg: ExtractConfig, pages):
    """PDF_PAGES_SCHEMA: one searchable-PDF page part per decoded page — the
    AddImageHandler unit of the reference's TessPDFRenderer
    (pdfrenderer.cpp:831): backdrop image + invisible per-word text layer
    (3 Tr, pdfrenderer.cpp:375). Decode errors yield no page (there is
    nothing to re-render); page_seq orders a multipage media span's pages
    within its (doc_id, offset) work unit."""
    from ..functions.pdfout import compress_page_image, page_text_ops

    last_key, seq = None, 0
    for doc_id, offset, _ref, dx, dy, _base, blocks, page_h, gray, \
            page_w in pages:
        if page_h <= 0 or page_w <= 0:
            continue  # decode_error rows carry no renderable page
        key = (doc_id, offset)
        seq = seq + 1 if key == last_key else 0
        last_key = key
        words = [(wtext, wl + dx, wt + dy, wr + dx, wb + dy)
                 for blk in blocks
                 for (_p, _ln, _wn, wtext, wl, wt, wr, wb, *_w)
                 in blk.words or ()]
        yield (doc_id, offset, seq, page_w, page_h,
               compress_page_image(gray) if gray is not None else None,
               page_text_ops(words, page_h))


def extract_pdf_pages(spark: SparkSession, docs: DataFrame, media: DataFrame,
                      cfg: ExtractConfig | None = None,
                      zones: DataFrame | None = None) -> DataFrame:
    """Per-page searchable-PDF parts (PDF_PAGES_SCHEMA) from one kernel
    pass — same explode/salted-join/partitioning plan as `extract_pages`.
    Feed to sinks.render_pdf for the per-doc assembly; docs whose media all
    fail to decode (or that have no media at all) contribute no pages."""
    cfg = cfg or ExtractConfig()
    return _work_frame(docs, media, cfg, zones).mapInPandas(
        _kernel(cfg, PDF_PAGES_SCHEMA, _pdf_page_rows),
        schema=PDF_PAGES_SCHEMA)


def analyse_layout(spark: SparkSession, docs: DataFrame, media: DataFrame,
                   cfg: ExtractConfig | None = None) -> DataFrame:
    """Layout-only slice: blocks + order + kinds, no recognition — mirrors
    TessBaseAPI::AnalyseLayout (/root/reference/src/api/baseapi.cpp:1298)."""
    import dataclasses

    cfg = dataclasses.replace(cfg or ExtractConfig(), recognize=False)
    return extract(spark, docs, media, cfg)


def reassemble_docs(spans: DataFrame) -> DataFrame:
    """Fold flat spans back into the docs-shaped array column (the output
    table of the north rule): sort_array over collected structs — no window."""
    return spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("order", "kind", "text", "media_ref"))
        ).alias("spans")
    )
