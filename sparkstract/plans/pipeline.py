"""The extraction plan: docs ⨝ media → page kernel → ordered span reassembly.

Spark lifecycle (SURVEY.md §3.3 "Spark lifecycle (ours)"):

  docs → posexplode(spans) → split text/media
       → media ⨝ media-bytes (J7; broadcast at test scale, hash join at 100 TB)
       → repartition(cores, doc_id, offset)     ← the axis-B salt: the work
         unit is one media span, so a doc with 10k pages spreads over 10k
         tasks instead of hot-spotting one
       → mapInPandas(page kernel)               ← F1-F8, C1-C13, W1-W3, A1-A8
       → union text pass-through spans
       → row_number() over (doc_id ORDER BY offset, block_order)  ← A11, the
         one true shuffle aggregation (GetUTF8Text ordered walk,
         /root/reference/src/api/baseapi.cpp:2097)

Everything between the explode and the final window is partition-local; the
plan has exactly two shuffles at scale (media join, doc reassembly) plus the
salt repartition, which has an explicit partition count (one per core slot
by default) so AQE cannot coalesce the kernel stage into one task.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import ExtractConfig
from ..operators.page import analyse_page, analyse_zones

ZONES_SCHEMA = ("media_ref string, zones array<struct<left:int,top:int,"
                "right:int,bottom:int,kind:string>>")

EXTRACTED_SCHEMA = (
    "doc_id string, offset int, block_order int, kind string, "
    "text string, media_ref string, "
    "left int, top int, right int, bottom int"
)
SPANS_SCHEMA = "doc_id string, order int, kind string, text string, media_ref string"

# word-level sidecar (GetTSVText levels 3-5, baseapi.cpp:2205; hOCR
# ocr_par/ocr_line/ocrx_word, hocrrenderer.cpp:136): one row per recognized
# word with its paragraph/line/word position inside the block and its box
WORDS_SCHEMA = (
    "doc_id string, offset int, block_order int, para_num int, line_num int, "
    "word_num int, word string, media_ref string, "
    "left int, top int, right int, bottom int, conf int, "
    # per-LINE typography (identical on every word of a line): x_size =
    # row glyph height, baseline slope + offset vs the line bbox's
    # bottom-left corner (hocrrenderer.cpp:163 contract; _line_metrics)
    "x_size int, base_slope double, base_off int"
)

# combined view: block rows AND word rows from ONE kernel pass (level =
# 'block' | 'word') — the scale path for consumers that need both (the
# hierarchy renderers), instead of decoding the corpus twice
HIERARCHY_SCHEMA = (
    "doc_id string, offset int, block_order int, level string, kind string, "
    "text string, media_ref string, left int, top int, right int, "
    "bottom int, para_num int, line_num int, word_num int, conf int, "
    "x_size int, base_slope double, base_off int"
)


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


def _iter_page_blocks(cfg: ExtractConfig, pdf: pd.DataFrame,
                      with_images: bool = False):
    """Shared kernel skeleton: decode each work row's media bytes (codec
    dispatch, SetImage baseapi.cpp:881; a multipage TIFF yields several
    pages from ONE media span, ProcessPagesMultipageTiff baseapi.cpp:1657 —
    block order continues across its pages in file order), apply the
    zone-override source or crop + analyse, and yield
    (doc_id, offset, media_ref, crop_dx, crop_dy, base_order, blocks, page_h)
    per decoded page — page_h is the page's pixel height (PDF unit height
    for born-digital pages), the image_height_ the reference's GetBoxText
    uses to flip symbol boxes to bottom-left origin (baseapi.cpp:2414).
    The emitting kernels differ only in which Block fields they flatten.
    `with_images=True` appends (gray, page_w) as elements 9-10: the decoded
    gray page array (None for born-digital PDF text pages and decode
    errors) and the page's unit width (PDF user-space width for text
    pages, pixel width otherwise; 0 for decode errors) — only the
    searchable-PDF renderer kernel asks for them; the other kernels keep
    the 8-tuple shape and the arrays stay kernel-local either way.

    PDF media takes the born-digital path: a page WITH a text layer parses
    straight from the content stream (functions/pdf.py) and never touches
    the raster kernel — the real-pipeline rule "OCR only what has no text
    layer". An image-only PDF page (a scan wrapped in PDF) feeds each
    embedded raster through the normal analysis, so one document can mix
    both per page."""
    from ..functions.codecs import decode_pages
    from ..functions.pdf import blocks_from_pdf_page, parse_pdf

    from ..operators.page import Block

    zones_col = pdf["zones"] if "zones" in pdf.columns else [None] * len(pdf)
    for doc_id, offset, ref, png, page_zones in zip(
        pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["image"],
        zones_col,
    ):
        data = bytes(png)
        is_pdf = data[:5] == b"%PDF-"
        try:
            if is_pdf:
                pdf_pages = parse_pdf(data)
            else:
                pages = decode_pages(data)
        except Exception as e:  # noqa: BLE001 — corrupt media is data, not a bug
            if cfg.decode_errors == "fail":
                raise
            err = (doc_id, offset, ref, 0, 0, 0,
                   [Block(0, "decode_error", f"{type(e).__name__}: {e}",
                          0, 0, 0, 0)], 0)
            yield (err + (None, 0)) if with_images else err
            continue
        base = 0
        if is_pdf:
            for pg in pdf_pages:
                if pg.has_text:
                    blocks = blocks_from_pdf_page(pg, crop=cfg.crop)
                    row = (doc_id, offset, ref, 0, 0, base, blocks,
                           int(round(pg.height)))
                    yield (row + (None, int(round(pg.width)))) \
                        if with_images else row
                    base += len(blocks)
                    continue
                for it in pg.items:  # scanned page: OCR the embedded raster
                    if it[0] != "image":
                        continue
                    dx, dy, blocks = _analyse_raster(cfg, it[1], page_zones)
                    row = (doc_id, offset, ref, dx, dy, base, blocks,
                           it[1].shape[0])
                    yield (row + (it[1], it[1].shape[1])) \
                        if with_images else row
                    base += len(blocks)
            continue
        for gray in pages:
            crop_dx, crop_dy, blocks = _analyse_raster(cfg, gray, page_zones)
            row = (doc_id, offset, ref, crop_dx, crop_dy, base, blocks,
                   gray.shape[0])
            yield (row + (gray, gray.shape[1])) if with_images else row
            base += len(blocks)


def _page_kernel(cfg: ExtractConfig):
    """Build the mapInPandas kernel: one Arrow batch of (doc_id, offset,
    media_ref, image) rows in → extracted block rows out. All heavy work is
    numpy inside analyse_page; the only Python loop is over pages in the
    batch (the reference's page loop, ProcessPagesInternal baseapi.cpp:1731).
    """
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                                    ("doc_id", "offset", "block_order", "kind",
                                     "text", "media_ref",
                                     "left", "top", "right", "bottom")}
            for doc_id, offset, ref, dx, dy, base, blocks, _page_h \
                    in _iter_page_blocks(cfg, pdf):
                for blk in blocks:
                    out["doc_id"].append(doc_id)
                    out["offset"].append(offset)
                    out["block_order"].append(base + blk.order)
                    out["kind"].append(blk.kind)
                    out["text"].append(blk.text if cfg.recognize else None)
                    out["media_ref"].append(ref)
                    out["left"].append(blk.left + dx)
                    out["top"].append(blk.top + dy)
                    out["right"].append(blk.right + dx)
                    out["bottom"].append(blk.bottom + dy)
            yield pd.DataFrame(out)

    return kernel


def _work_frame(docs: DataFrame, media: DataFrame, cfg: ExtractConfig,
                zones: DataFrame | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """Shared plumbing up to the kernel: (work frame of media rows ready for
    a page kernel, text pass-through spans). `zones` (ZONES_SCHEMA)
    optionally overrides segmentation per media_ref — the S10 zone-file
    source; pages without a zones row fall through to full analysis."""
    exploded = docs.select("doc_id", F.explode("spans").alias("span")).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )

    text_pass = (
        exploded.filter(F.col("kind") == "text")
        .select("doc_id", "offset", F.lit(0).alias("block_order"),
                F.lit("text").alias("kind"), "text",
                F.lit(None).cast("string").alias("media_ref"))
    )

    media_side = media.select("media_ref", "image")
    if zones is not None:
        # zone tables are segmentation hints — tiny relative to media bytes,
        # always broadcast-joined on the same key
        media_side = media_side.join(
            F.broadcast(zones.select("media_ref", "zones")), "media_ref",
            "left")
    refs = exploded.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref")
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
    return work, text_pass


def _extracted_blocks(docs: DataFrame, media: DataFrame,
                      cfg: ExtractConfig,
                      zones: DataFrame | None = None
                      ) -> tuple[DataFrame, DataFrame]:
    """(per-block kernel output incl. geometry, text pass-through spans)."""
    work, text_pass = _work_frame(docs, media, cfg, zones)
    extracted = work.mapInPandas(_page_kernel(cfg), schema=EXTRACTED_SCHEMA)
    return extracted, text_pass


def extract(spark: SparkSession, docs: DataFrame, media: DataFrame,
            cfg: ExtractConfig | None = None,
            zones: DataFrame | None = None) -> DataFrame:
    """Run the full pipeline; returns flat spans (doc_id, order, kind, text,
    media_ref) — `order` dense 0-based per doc, the north-rule invariant key.
    `zones` (ZONES_SCHEMA) optionally overrides segmentation per media_ref
    (S10 zone-file source)."""
    cfg = cfg or ExtractConfig()
    extracted, text_pass = _extracted_blocks(docs, media, cfg, zones)

    unioned = extracted.drop("left", "top", "right", "bottom") \
        .unionByName(text_pass)
    w = Window.partitionBy("doc_id").orderBy("offset", "block_order")
    return (
        unioned.withColumn("order", F.row_number().over(w) - 1)
        .select("doc_id", "order", "kind", "text", "media_ref")
    )


def extract_blocks(spark: SparkSession, docs: DataFrame, media: DataFrame,
                   cfg: ExtractConfig | None = None) -> DataFrame:
    """Per-block geometry view: one row per layout block with its bounding
    box (top-down y) — the level of detail the reference's TSV/hOCR
    renderers emit (S7, /root/reference/src/api/baseapi.cpp:2205
    GetTSVText level/left/top/width/height; hocrrenderer.cpp:123 bbox).
    Text spans are not included; this is the page-geometry sidecar of
    `extract`, sharing the same plan up to the kernel."""
    cfg = cfg or ExtractConfig()
    extracted, _ = _extracted_blocks(docs, media, cfg)
    return extracted.select(
        "doc_id", "offset", "block_order", "kind", "text", "media_ref",
        "left", "top", "right", "bottom")


def _word_kernel(cfg: ExtractConfig):
    """mapInPandas kernel emitting one row per recognized WORD (the level-5
    output of GetTSVText, baseapi.cpp:2205): paragraph/line/word numbering
    comes from the page kernel's wired paragraph detector (W6,
    DetectParagraphs-in-Recognize, baseapi.cpp:1417)."""
    cols = ("doc_id", "offset", "block_order", "para_num", "line_num",
            "word_num", "word", "media_ref", "left", "top", "right",
            "bottom", "conf", "x_size", "base_slope", "base_off")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for doc_id, offset, ref, dx, dy, base, blocks, _page_h \
                    in _iter_page_blocks(cfg, pdf):
                for blk in blocks:
                    if not blk.words:
                        continue
                    for (p, ln, wn, wtext, wl, wt, wr, wb, conf, _syms,
                         (xs, bsl, boff)) in blk.words:
                        out["doc_id"].append(doc_id)
                        out["offset"].append(offset)
                        out["block_order"].append(base + blk.order)
                        out["para_num"].append(p)
                        out["line_num"].append(ln)
                        out["word_num"].append(wn)
                        out["word"].append(wtext)
                        out["media_ref"].append(ref)
                        out["left"].append(wl + dx)
                        out["top"].append(wt + dy)
                        out["right"].append(wr + dx)
                        out["bottom"].append(wb + dy)
                        out["conf"].append(conf)
                        out["x_size"].append(xs)
                        out["base_slope"].append(bsl)
                        out["base_off"].append(boff)
            yield pd.DataFrame(out)

    return kernel


def extract_words(spark: SparkSession, docs: DataFrame, media: DataFrame,
                  cfg: ExtractConfig | None = None,
                  zones: DataFrame | None = None) -> DataFrame:
    """Word-level sidecar of `extract`: one row per recognized word with its
    block/paragraph/line/word position and bounding box — the full renderer
    depth of the reference's TSV/hOCR (GetTSVText levels 3-5
    baseapi.cpp:2205; hOCR ocrx_word hocrrenderer.cpp:136). Shares the plan
    with `extract` up to the kernel: same explode, same salted media join,
    same partitioning — one kernel pass over the corpus. Zone-override
    pages carry words too (inner sub-blocks number as paragraphs)."""
    cfg = cfg or ExtractConfig()
    work, _ = _work_frame(docs, media, cfg, zones)
    return work.mapInPandas(_word_kernel(cfg), schema=WORDS_SCHEMA)


# symbol-level sidecar (the RIL_SYMBOL depth of GetBoxText,
# baseapi.cpp:2391): one row per decoded CHARACTER with its own cell box
# and per-char confidence; page_h carries the page pixel height the box
# renderer needs to flip y to the box-file's bottom-left origin
SYMBOLS_SCHEMA = (
    "doc_id string, offset int, block_order int, para_num int, line_num int, "
    "word_num int, sym_num int, ch string, media_ref string, "
    "left int, top int, right int, bottom int, conf int, page_h int"
)


def _symbol_kernel(cfg: ExtractConfig):
    """mapInPandas kernel emitting one row per decoded SYMBOL (character) —
    the RIL_SYMBOL iteration GetBoxText performs (baseapi.cpp:2391-2422).
    Symbol boxes come straight from the decode cells the kernel matched
    (page.py _decode_row), so char i of a word's text is row i's `ch`."""
    cols = ("doc_id", "offset", "block_order", "para_num", "line_num",
            "word_num", "sym_num", "ch", "media_ref", "left", "top",
            "right", "bottom", "conf", "page_h")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for doc_id, offset, ref, dx, dy, base, blocks, page_h \
                    in _iter_page_blocks(cfg, pdf):
                for blk in blocks:
                    if not blk.words:
                        continue
                    for (p, ln, wn, _wtext, _wl, _wt, _wr, _wb, _conf,
                         syms, _lmeta) in blk.words:
                        for si, (ch, sl, st, sr, sb, sc) in enumerate(syms):
                            out["doc_id"].append(doc_id)
                            out["offset"].append(offset)
                            out["block_order"].append(base + blk.order)
                            out["para_num"].append(p)
                            out["line_num"].append(ln)
                            out["word_num"].append(wn)
                            out["sym_num"].append(si)
                            out["ch"].append(ch)
                            out["media_ref"].append(ref)
                            out["left"].append(sl + dx)
                            out["top"].append(st + dy)
                            out["right"].append(sr + dx)
                            out["bottom"].append(sb + dy)
                            out["conf"].append(sc)
                            out["page_h"].append(page_h)
            yield pd.DataFrame(out)

    return kernel


def extract_symbols(spark: SparkSession, docs: DataFrame, media: DataFrame,
                    cfg: ExtractConfig | None = None,
                    zones: DataFrame | None = None) -> DataFrame:
    """Symbol-level sidecar of `extract`: one row per decoded character with
    its decode-cell box — the data GetBoxText (baseapi.cpp:2391) walks to
    write .box training files. Same plan shape as extract_words: one kernel
    pass, partition-local until the consumer's own fold."""
    cfg = cfg or ExtractConfig()
    work, _ = _work_frame(docs, media, cfg, zones)
    return work.mapInPandas(_symbol_kernel(cfg), schema=SYMBOLS_SCHEMA)


# per-page searchable-PDF parts (S8 TessPDFRenderer, reference
# /root/reference/src/api/pdfrenderer.cpp): page dims, the Flate-compressed
# gray backdrop (NULL for born-digital text pages — nothing to re-raster),
# and the invisible text layer ops. `img` is compressed MAP-SIDE so the
# per-doc assembly shuffle moves compressed bytes, never raw pixels.
PDF_PAGES_SCHEMA = ("doc_id string, offset int, page_seq int, w int, h int, "
                    "img binary, ops string")


def _pdfout_kernel(cfg: ExtractConfig):
    """mapInPandas kernel emitting one searchable-PDF page part per decoded
    page: the AddImageHandler unit of the reference's TessPDFRenderer
    (pdfrenderer.cpp:831) — backdrop image + invisible per-word text layer
    (3 Tr, pdfrenderer.cpp:375). Decode errors yield no page (there is
    nothing to re-render); page_seq orders a multipage media span's pages
    within its (doc_id, offset) work unit."""
    from ..functions.pdfout import compress_page_image, page_text_ops

    cols = ("doc_id", "offset", "page_seq", "w", "h", "img", "ops")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            last_key, seq = None, 0
            for doc_id, offset, ref, dx, dy, _base, blocks, page_h, gray, \
                    page_w in _iter_page_blocks(cfg, pdf, with_images=True):
                if page_h <= 0 or page_w <= 0:
                    continue  # decode_error rows carry no renderable page
                key = (doc_id, offset)
                seq = seq + 1 if key == last_key else 0
                last_key = key
                words: list[tuple] = []
                for blk in blocks:
                    if not blk.words:
                        continue
                    for (_p, _ln, _wn, wtext, wl, wt, wr, wb, _conf,
                         _syms, _lmeta) in blk.words:
                        words.append((wtext, wl + dx, wt + dy,
                                      wr + dx, wb + dy))
                out["doc_id"].append(doc_id)
                out["offset"].append(offset)
                out["page_seq"].append(seq)
                out["w"].append(page_w)
                out["h"].append(page_h)
                out["img"].append(
                    compress_page_image(gray) if gray is not None else None)
                out["ops"].append(page_text_ops(words, page_h))
            yield pd.DataFrame(out)

    return kernel


def extract_pdf_pages(spark: SparkSession, docs: DataFrame, media: DataFrame,
                      cfg: ExtractConfig | None = None,
                      zones: DataFrame | None = None) -> DataFrame:
    """Per-page searchable-PDF parts (PDF_PAGES_SCHEMA) from one kernel
    pass — same explode/salted-join/partitioning plan as `extract`. Feed to
    sinks.render_pdf for the per-doc assembly; docs whose media all fail to
    decode (or that have no media at all) contribute no pages."""
    cfg = cfg or ExtractConfig()
    work, _ = _work_frame(docs, media, cfg, zones)
    return work.mapInPandas(_pdfout_kernel(cfg), schema=PDF_PAGES_SCHEMA)


# structured table cells (C8 v3, StructuredTable semantics — reference
# src/textord/tablerecog.cpp:62): one row per VISIBLE table cell with its
# grid position; a merged cell (header spanning several body columns)
# appears once with col_span > 1
TABLES_SCHEMA = (
    "doc_id string, offset int, block_order int, row_idx int, "
    "cell_idx int, col_start int, col_span int, cell string"
)


def _table_kernel(cfg: ExtractConfig):
    """mapInPandas kernel emitting one row per structured table cell: the
    cell/column-segment view tablerecog.cpp recognizes after tablefind
    detection — including merged cells, which the flat TAB-joined block
    text cannot express."""
    cols = ("doc_id", "offset", "block_order", "row_idx", "cell_idx",
            "col_start", "col_span", "cell")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for doc_id, offset, ref, _dx, _dy, base, blocks, _page_h \
                    in _iter_page_blocks(cfg, pdf):
                for blk in blocks:
                    if not blk.cells:
                        continue
                    for (ri, ci, cs, span, text) in blk.cells:
                        out["doc_id"].append(doc_id)
                        out["offset"].append(offset)
                        out["block_order"].append(base + blk.order)
                        out["row_idx"].append(ri)
                        out["cell_idx"].append(ci)
                        out["col_start"].append(cs)
                        out["col_span"].append(span)
                        out["cell"].append(text)
            yield pd.DataFrame(out)

    return kernel


def extract_tables(spark: SparkSession, docs: DataFrame, media: DataFrame,
                   cfg: ExtractConfig | None = None,
                   zones: DataFrame | None = None) -> DataFrame:
    """Structured-table sidecar of `extract`: one row per visible table
    cell with grid column + span (TABLES_SCHEMA). Same plan shape as the
    other sidecars: one kernel pass, partition-local until the consumer's
    own fold."""
    cfg = cfg or ExtractConfig()
    work, _ = _work_frame(docs, media, cfg, zones)
    return work.mapInPandas(_table_kernel(cfg), schema=TABLES_SCHEMA)


def _hier_kernel(cfg: ExtractConfig):
    """mapInPandas kernel emitting BOTH hierarchy views in one decode pass:
    a level='block' row per layout block and a level='word' row per
    recognized word (see HIERARCHY_SCHEMA)."""
    cols = ("doc_id", "offset", "block_order", "level", "kind", "text",
            "media_ref", "left", "top", "right", "bottom",
            "para_num", "line_num", "word_num", "conf",
            "x_size", "base_slope", "base_off")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}

            def emit(doc_id, offset, ref, level, order, kind, text,
                     l, t, r, b, p=None, ln=None, wn=None, conf=None,
                     xs=None, bsl=None, boff=None):
                out["doc_id"].append(doc_id)
                out["offset"].append(offset)
                out["block_order"].append(order)
                out["level"].append(level)
                out["kind"].append(kind)
                out["text"].append(text)
                out["media_ref"].append(ref)
                out["left"].append(l)
                out["top"].append(t)
                out["right"].append(r)
                out["bottom"].append(b)
                out["para_num"].append(p)
                out["line_num"].append(ln)
                out["word_num"].append(wn)
                out["conf"].append(conf)
                out["x_size"].append(xs)
                out["base_slope"].append(bsl)
                out["base_off"].append(boff)

            for doc_id, offset, ref, dx, dy, base, blocks, _page_h \
                    in _iter_page_blocks(cfg, pdf):
                for blk in blocks:
                    emit(doc_id, offset, ref, "block", base + blk.order,
                         blk.kind, blk.text if cfg.recognize else None,
                         blk.left + dx, blk.top + dy,
                         blk.right + dx, blk.bottom + dy)
                    if not (blk.words and cfg.recognize):
                        continue
                    for (p, ln, wn, wtext, wl, wt, wr, wb, conf, _syms,
                         (xs, bsl, boff)) in blk.words:
                        emit(doc_id, offset, ref, "word",
                             base + blk.order, blk.kind, wtext,
                             wl + dx, wt + dy, wr + dx, wb + dy,
                             p, ln, wn, conf, xs, bsl, boff)
            yield pd.DataFrame(out)

    return kernel


def extract_hierarchy(spark: SparkSession, docs: DataFrame, media: DataFrame,
                      cfg: ExtractConfig | None = None,
                      zones: DataFrame | None = None) -> DataFrame:
    """Block AND word rows from ONE kernel pass (HIERARCHY_SCHEMA) — the
    scale path for the hierarchy renderers: `extract_blocks` +
    `extract_words` each run their own kernel, so a consumer needing both
    would decode the corpus twice; this frame, persisted and filtered on
    `level`, decodes it once."""
    cfg = cfg or ExtractConfig()
    work, _ = _work_frame(docs, media, cfg, zones)
    return work.mapInPandas(_hier_kernel(cfg), schema=HIERARCHY_SCHEMA)


def hierarchy_views(h: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split an extract_hierarchy frame into the (blocks, words) views the
    renderers take. Persist `h` first when both views feed one job."""
    blocks = h.filter(F.col("level") == "block").select(
        "doc_id", "offset", "block_order", "kind", "text", "media_ref",
        "left", "top", "right", "bottom")
    words = h.filter(F.col("level") == "word").select(
        "doc_id", "offset", "block_order", "para_num", "line_num",
        "word_num", F.col("text").alias("word"), "media_ref",
        "left", "top", "right", "bottom", "conf",
        "x_size", "base_slope", "base_off")
    return blocks, words


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
