"""Renderer queries: every sinks.py renderer over the fixture corpus.
Three families share one builder each: the flat renderers over the
extracted spans, the full-depth renderers over one persisted page table,
and the symbol renderers. Their oracles do NOT share code with sinks.py:
the flat twins are DuckDB SQL over the truth spans, and the hierarchy,
box and UNLV strings are assembled here in Python from the page walk."""

from __future__ import annotations

import functools
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver.common import (fixture_frames, query, quoted_rows,
                           sql_quote, truth_values_sql)
from driver.pages import blocks_truth, page_walk, symbols_truth, words_truth
from sparkstract.plans.pipeline import extract
from sparkstract.sinks import TEXT_KINDS


def _esc_html(s: str) -> str:
    s = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f]", "", s)
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _esc_xml(s: str) -> str:
    return _esc_html(s).replace("'", "&apos;")


def _esc_attr(s: str) -> str:
    return _esc_xml(s).replace("\t", "&#9;").replace("\n", "&#10;") \
        .replace("\r", "&#13;")


def _dd_esc_html(expr: str) -> str:
    """DuckDB twin of _esc_html over the SQL expression `expr`."""
    out = (f"regexp_replace({expr}, "
           "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')")
    for ch, ref in (("'&'", "&amp;"), ("'<'", "&lt;"), ("'>'", "&gt;")):
        out = f"replace({out}, {ch}, '{ref}')"
    return out


def _dd_esc_xml(expr: str) -> str:
    """DuckDB twin of _esc_xml."""
    return f"replace({_dd_esc_html(expr)}, chr(39), '&apos;')"


def _dd_esc_attr(expr: str) -> str:
    """DuckDB twin of _esc_attr."""
    out = _dd_esc_xml(expr)
    for code, ref in ((9, "&#9;"), (10, "&#10;"), (13, "&#13;")):
        out = f"replace({out}, chr({code}), '{ref}')"
    return out


def _alto_pos(l: int, t: int, r: int, b: int) -> str:
    return (f" HPOS='{l}' VPOS='{t}' WIDTH='{r - l + 1}'"
            f" HEIGHT='{b - t + 1}'")


def _pg_coords(indent: str, l: int, t: int, r: int, b: int) -> str:
    return (f"{indent}<Coords points='{l},{t} {r},{t} {r},{b} "
            f"{l},{b}'/>")


@functools.lru_cache(maxsize=1)
def _box_unlv_truth() -> dict[str, list[tuple]]:
    """Single-process twins of render_box / render_unlv, by output column,
    assembled from the symbols truth — pins the distributed folds (and the UNLV fold/reject/
    suspect character rules) to locally computed constants."""
    from sparkstract.sinks import (UNLV_LATIN, UNLV_REJECT, UNLV_SUSPECT,
                                   UNLV_UNI)

    from collections import defaultdict

    by_doc: dict[str, list[tuple]] = defaultdict(list)
    for row in symbols_truth():
        by_doc[row[0]].append(row)
    fold = dict(zip(UNLV_UNI, UNLV_LATIN))
    box_out: list[tuple] = []
    unlv_out: list[tuple] = []
    for doc in sorted(by_doc):
        rows = sorted(by_doc[doc], key=lambda r: (r[1], r[2], r[3], r[4],
                                                  r[5], r[6]))
        box_lines: list[str] = []
        pieces: list[str] = []
        prev = None
        for (_d, off, bo, p, ln, wn, _si, ch, _ref, sl, st, sr, sb, sc,
             page_h) in rows:
            box_lines.append(
                f"{UNLV_REJECT if ch == ' ' else ch} {sl} "
                f"{page_h - 1 - sb} {sr} {page_h - 1 - st} {off}")
            c = fold.get(ch, ch)
            if c == " " or c > "\u00ff":
                c = UNLV_REJECT
            if sc < 80:
                c = UNLV_SUSPECT + c
            word_key = (off, bo, p, ln, wn)
            line_key = (off, bo, p, ln)
            if prev is None or prev[0] == word_key:
                pieces.append(c)
            elif prev[1] == line_key:
                pieces.append(" " + c)
            else:
                pieces.append("\n" + c)
            prev = (word_key, line_key)
        box_out.append((doc, "\n".join(box_lines)))
        unlv_out.append((doc, "".join(pieces)))
    return {"box": box_out, "unlv": unlv_out}


@functools.lru_cache(maxsize=1)
def _hier_render_truth() -> dict[str, list[tuple]]:
    """Single-process twins of render_tsv_levels / render_hocr_words /
    render_alto_words / render_page_xml_words, by output column: the same
    hierarchy strings assembled from the page walk's blocks and words, so
    the oracle pins the distributed folds to locally computed constants."""
    blocks = blocks_truth()
    wordsr = words_truth()
    from collections import defaultdict

    blk_by_doc: dict[str, list[tuple]] = defaultdict(list)
    for row in blocks:
        blk_by_doc[row[0]].append(row)
    words_by_blk: dict[tuple, list[tuple]] = defaultdict(list)
    for row in wordsr:
        words_by_blk[(row[0], row[1], row[2])].append(row)

    def bbox(rows, li, ti, ri, bi):
        return (min(r[li] for r in rows), min(r[ti] for r in rows),
                max(r[ri] for r in rows), max(r[bi] for r in rows))

    tsv_out: list[tuple] = []
    hocr_out: list[tuple] = []
    alto_out: list[tuple] = []
    page_out: list[tuple] = []
    for doc in sorted(blk_by_doc):
        offsets = sorted({r[1] for r in blk_by_doc[doc]})
        tsv_rows: list[str] = []
        page_htmls: list[str] = []
        page_altos: list[str] = []
        page_pagexml: list[str] = []
        for pnum, off in enumerate(offsets, start=1):
            pblocks = sorted((r for r in blk_by_doc[doc] if r[1] == off),
                             key=lambda r: r[2])
            pl, pt, pr, pb = bbox(pblocks, 6, 7, 8, 9)
            tsv_rows.append("\t".join(
                ["1", str(pnum), "0", "0", "0", "0", str(pl), str(pt),
                 str(pr - pl + 1), str(pb - pt + 1), "-1", ""]))
            block_htmls: list[str] = []
            block_altos: list[str] = []
            pg_regions: list[str] = []
            pg_refs: list[str] = []
            for blk in pblocks:
                _d, _o, bo, kind, text, ref, l, t, r, b = blk
                pg_refs.append(f"   <RegionRefIndexed index='{bo}' "
                               f"regionRef='r{off}_{bo}'/>")
                tsv_rows.append("\t".join(
                    ["2", str(pnum), str(bo + 1), "0", "0", "0", str(l),
                     str(t), str(r - l + 1), str(b - t + 1), "-1", ""]))
                ws = words_by_blk.get((doc, off, bo), [])
                alto_lines: list[str] = []
                pg_lines: list[str] = []
                if ws:
                    para_htmls: list[str] = []
                    for p in sorted({w[3] for w in ws}):
                        pws = [w for w in ws if w[3] == p]
                        al, at, ar, ab = bbox(pws, 8, 9, 10, 11)
                        tsv_rows.append("\t".join(
                            ["3", str(pnum), str(bo + 1), str(p + 1), "0",
                             "0", str(al), str(at), str(ar - al + 1),
                             str(ab - at + 1), "-1", ""]))
                        line_htmls: list[str] = []
                        for ln in sorted({w[4] for w in pws}):
                            lws = sorted((w for w in pws if w[4] == ln),
                                         key=lambda w: w[5])
                            ll, lt, lr, lb = bbox(lws, 8, 9, 10, 11)
                            tsv_rows.append("\t".join(
                                ["4", str(pnum), str(bo + 1), str(p + 1),
                                 str(ln + 1), "0", str(ll), str(lt),
                                 str(lr - ll + 1), str(lb - lt + 1),
                                 "-1", ""]))
                            wfrags: list[str] = []
                            alto_wfrags: list[str] = []
                            pg_wfrags: list[str] = []
                            pg_wtexts: list[str] = []
                            for w in lws:
                                (_d2, _o2, _b2, _p2, _l2, wn, wtext, _ref,
                                 wl, wt, wr, wb, conf, _xs, _bsl, _boff) = w
                                tsv_rows.append("\t".join(
                                    ["5", str(pnum), str(bo + 1), str(p + 1),
                                     str(ln + 1), str(wn + 1), str(wl),
                                     str(wt), str(wr - wl + 1),
                                     str(wb - wt + 1), str(conf), wtext]))
                                wfrags.append(
                                    f"<span class='ocrx_word' id='word_{off}"
                                    f"_{bo}_{p}_{ln}_{wn}' title='bbox {wl} "
                                    f"{wt} {wr} {wb}; x_wconf {conf}'>"
                                    f"{_esc_html(wtext)}</span>")
                                alto_wfrags.append(
                                    f"      <String ID='word_{off}_{bo}_{p}"
                                    f"_{ln}_{wn}'{_alto_pos(wl, wt, wr, wb)}"
                                    f" WC='{conf / 100.0:.2f}' CONTENT='"
                                    f"{_esc_attr(wtext)}'/>")
                                pg_wfrags.append(
                                    f"    <Word id='w{off}_{bo}_{p}_{ln}"
                                    f"_{wn}'>\n"
                                    f"{_pg_coords('     ', wl, wt, wr, wb)}"
                                    f"\n     <TextEquiv conf="
                                    f"'{conf / 100.0:.2f}'><Unicode>"
                                    f"{_esc_xml(wtext)}</Unicode>"
                                    f"</TextEquiv>\n    </Word>")
                                pg_wtexts.append(_esc_xml(wtext))
                            xs, bsl, boff = lws[0][13], lws[0][14], \
                                lws[0][15]
                            line_htmls.append(
                                f"<span class='ocr_line' id='line_{off}_{bo}"
                                f"_{p}_{ln}' title='bbox {ll} {lt} {lr} "
                                f"{lb}; baseline {bsl:.3f} {boff}; "
                                f"x_size {xs}'>" + " ".join(wfrags)
                                + "</span>")
                            alto_lines.append(
                                f"     <TextLine ID='line_{off}_{bo}_{p}"
                                f"_{ln}'{_alto_pos(ll, lt, lr, lb)}"
                                f" BASELINE='{lb + boff}'>\n"
                                + "\n".join(alto_wfrags)
                                + "\n     </TextLine>")
                            pg_lines.append(
                                f"   <TextLine id='l{off}_{bo}_{p}_{ln}'>\n"
                                f"{_pg_coords('    ', ll, lt, lr, lb)}\n"
                                + "\n".join(pg_wfrags)
                                + "\n    <TextEquiv><Unicode>"
                                + " ".join(pg_wtexts)
                                + "</Unicode></TextEquiv>\n   </TextLine>")
                        para_htmls.append(
                            f"<p class='ocr_par' id='par_{off}_{bo}_{p}' "
                            f"title='bbox {al} {at} {ar} {ab}'>"
                            + "\n".join(line_htmls) + "</p>")
                    content = "\n".join(para_htmls)
                else:
                    if kind in ("flowing_image", "heading_image",
                                "pullout_image"):
                        content = f"<img src='{_esc_attr(ref or '')}'/>"
                    elif kind in ("horz_line", "vert_line"):
                        content = ""
                    else:
                        content = _esc_html(text or "")
                block_htmls.append(
                    f"  <div class='ocr_carea' id='block_{off}_{bo}' "
                    f"title='{kind}; bbox {l} {t} {r} {b}'>{content}</div>")
                bpos = _alto_pos(l, t, r, b)
                if kind in ("horz_line", "vert_line"):
                    block_altos.append(
                        f"    <GraphicalElement ID='block_{off}_{bo}' "
                        f"TAGREFS='{kind}'{bpos}/>")
                elif kind in ("flowing_image", "heading_image",
                              "pullout_image"):
                    block_altos.append(
                        f"    <Illustration ID='block_{off}_{bo}' "
                        f"TAGREFS='{kind}'{bpos} "
                        f"FILEID='{_esc_attr(ref or '')}'/>")
                elif alto_lines:
                    block_altos.append(
                        f"    <TextBlock ID='block_{off}_{bo}' "
                        f"TAGREFS='{kind}'{bpos}>\n"
                        + "\n".join(alto_lines) + "\n    </TextBlock>")
                else:
                    flat = _esc_attr((text or "").replace("\n", " "))
                    block_altos.append(
                        f"    <TextBlock ID='block_{off}_{bo}' "
                        f"TAGREFS='{kind}'{bpos}><TextLine><String "
                        f"CONTENT='{flat}'/></TextLine></TextBlock>")
                pgc = _pg_coords("   ", l, t, r, b)
                if kind in ("horz_line", "vert_line"):
                    pg_regions.append(
                        f"  <SeparatorRegion id='r{off}_{bo}' "
                        f"custom='{kind}'>\n{pgc}\n  </SeparatorRegion>")
                elif kind in ("flowing_image", "heading_image",
                              "pullout_image"):
                    pg_regions.append(
                        f"  <ImageRegion id='r{off}_{bo}' custom='{kind}' "
                        f"imageFilename='{_esc_attr(ref or '')}'>\n{pgc}\n"
                        f"  </ImageRegion>")
                elif pg_lines:
                    pg_regions.append(
                        f"  <TextRegion id='r{off}_{bo}' custom='{kind}'>"
                        f"\n{pgc}\n" + "\n".join(pg_lines)
                        + "\n  </TextRegion>")
                else:
                    pg_flat = _esc_xml(text or "").replace("\n", "&#10;")
                    pg_regions.append(
                        f"  <TextRegion id='r{off}_{bo}' custom='{kind}'>"
                        f"\n{pgc}\n   <TextEquiv><Unicode>{pg_flat}"
                        f"</Unicode></TextEquiv>\n  </TextRegion>")
            page_htmls.append(
                f" <div class='ocr_page' id='page_{pnum}' title='bbox {pl} "
                f"{pt} {pr} {pb}'>\n" + "\n".join(block_htmls) + "\n </div>")
            page_altos.append(
                f"  <Page ID='page_{pnum}' PHYSICAL_IMG_NR='{pnum}'"
                f"{_alto_pos(pl, pt, pr, pb)}>\n   <PrintSpace>\n"
                + "\n".join(block_altos) + "\n   </PrintSpace>\n  </Page>")
            page_ref = max((r[5] for r in pblocks if r[5]), default="")
            page_pagexml.append(
                f" <Page id='page_{pnum}' "
                f"imageFilename='{_esc_attr(page_ref)}'>\n"
                f"  <ReadingOrder><OrderedGroup id='ro_{pnum}'>\n"
                + "\n".join(pg_refs)
                + "\n  </OrderedGroup></ReadingOrder>\n"
                + "\n".join(pg_regions) + "\n </Page>")
        tsv_out.append((doc, "\n".join(tsv_rows)))
        hocr_out.append((doc, "<html><body>\n" + "\n".join(page_htmls)
                         + "\n</body></html>"))
        alto_out.append((doc,
                         "<alto xmlns='http://www.loc.gov/standards/alto/"
                         "ns-v3#'>\n <Layout>\n" + "\n".join(page_altos)
                         + "\n </Layout>\n</alto>"))
        page_out.append((doc,
                         "<PcGts xmlns='http://schema.primaresearch.org/"
                         "PAGE/gts/pagecontent/2019-07-15'>\n"
                         + "\n".join(page_pagexml) + "\n</PcGts>"))
    return {"tsv": tsv_out, "hocr": hocr_out, "alto": alto_out,
            "page_xml": page_out}

# the flat renderers' escapes (sinks._escape_html / _escape_xml /
# _escape_attr) over the truth columns
_TEXT_KINDS_SQL = ", ".join(f"'{k}'" for k in TEXT_KINDS)
_E_MEDIA = _dd_esc_attr("coalesce(media_ref, '')")
_E_HTML_TEXT = _dd_esc_html("coalesce(text, '')")
_E_DOC = _dd_esc_attr("doc_id")
_E_ALTO_TEXT = _dd_esc_attr("coalesce(replace(text, chr(10), ' '), '')")
_E_PAGE_TEXT = _dd_esc_xml("coalesce(text, '')")


def _doc_values(rows: list[tuple], col: str) -> str:
    """A (doc_id, `col`) VALUES oracle of one string per doc."""
    return f"""
            SELECT * FROM (VALUES
            {quoted_rows(rows)}
            ) AS t(doc_id, {col}) ORDER BY doc_id
        """


def _over_spans(name: str, oracle) -> None:
    """Register sinks.<name> over the fixture corpus's extracted spans."""
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from sparkstract import sinks

        docs, media, _ = fixture_frames(spark)
        return getattr(sinks, name)(extract(spark, docs, media)) \
            .orderBy("doc_id")
    query(name, oracle)(build)


def _over_page_table(name: str, col: str) -> None:
    """Register sinks.<name>(page_blocks, page_words) over the fixture
    corpus: both views are projected from ONE persisted page table, so
    one kernel pass. The oracle is `col` of _hier_render_truth."""
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from sparkstract import sinks
        from sparkstract.plans.pipeline import (extract_pages, page_blocks,
                                                page_words)

        docs, media, _ = fixture_frames(spark)
        pages = extract_pages(spark, docs, media).persist()
        return getattr(sinks, name)(page_blocks(pages), page_words(pages)) \
            .orderBy("doc_id")
    query(name, lambda: _doc_values(_hier_render_truth()[col], col))(build)


def _over_symbols(name: str, col: str) -> None:
    """Register sinks.<name> over the fixture corpus's page_symbols view.
    The oracle is `col` of _box_unlv_truth."""
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from sparkstract import sinks
        from sparkstract.plans.pipeline import extract_pages, page_symbols

        docs, media, _ = fixture_frames(spark)
        return getattr(sinks, name)(
            page_symbols(extract_pages(spark, docs, media))).orderBy("doc_id")
    query(name, lambda: _doc_values(_box_unlv_truth()[col], col))(build)


# TessTextRenderer (renderer.h:160): GetUTF8Text, baseapi.cpp:2097-2127
_over_spans("render_text", lambda: f"""
            WITH truth AS ({truth_values_sql()})
            SELECT doc_id,
                   string_agg(text, chr(10) || chr(10) ORDER BY "order") AS text
            FROM truth
            WHERE kind IN ({_TEXT_KINDS_SQL}) AND text IS NOT NULL
            GROUP BY doc_id ORDER BY doc_id
        """)

# TessTsvRenderer (renderer.h:221)
_over_spans("render_tsv", lambda: f"""
            WITH truth AS ({truth_values_sql()})
            SELECT doc_id,
                   string_agg(
                     CAST("order" AS VARCHAR) || chr(9) || kind || chr(9) ||
                     coalesce(media_ref, '') || chr(9) ||
                     coalesce(regexp_replace(text, '[\\t\\n]', ' ', 'g'), ''),
                     chr(10) ORDER BY "order") AS tsv
            FROM truth GROUP BY doc_id ORDER BY doc_id
        """)

# TessHOcrRenderer (renderer.h:171)
_over_spans("render_hocr", lambda: f"""
            WITH truth AS ({truth_values_sql()})
            SELECT doc_id,
                   '<html><body>' || chr(10) ||
                   string_agg(
                     '  <div class=''ocr_carea'' id=''block_' ||
                     CAST("order" AS VARCHAR) || ''' title=''' || kind ||
                     '''>' ||
                     CASE
                       WHEN kind IN ('flowing_image', 'heading_image',
                                     'pullout_image')
                       THEN '<img src=''' || {_E_MEDIA} || '''/>'
                       WHEN kind IN ('horz_line', 'vert_line') THEN ''
                       ELSE {_E_HTML_TEXT}
                     END || '</div>',
                     chr(10) ORDER BY "order") ||
                   chr(10) || '</body></html>' AS hocr
            FROM truth GROUP BY doc_id ORDER BY doc_id
        """)

# TessAltoRenderer (renderer.h:188, altorenderer.cpp:131)
_over_spans("render_alto", lambda: f"""
            WITH truth AS ({truth_values_sql()}),
            esc AS (
              SELECT doc_id, "order", kind, media_ref,
                     {_E_ALTO_TEXT} AS etext, {_E_MEDIA} AS emedia,
                     {_E_DOC} AS edoc
              FROM truth)
            SELECT doc_id,
                   '<alto xmlns=''http://www.loc.gov/standards/alto/ns-v3#''>'
                   || '<Layout><Page ID=''' || edoc || '''><PrintSpace>'
                   || chr(10) ||
                   string_agg(
                     CASE
                       WHEN kind IN ('horz_line', 'vert_line')
                       THEN '    <GraphicalElement ID=''block_' ||
                            CAST("order" AS VARCHAR) || ''' TAGREFS=''' ||
                            kind || '''/>'
                       WHEN kind IN ('flowing_image', 'heading_image',
                                     'pullout_image')
                       THEN '    <Illustration ID=''block_' ||
                            CAST("order" AS VARCHAR) || ''' TAGREFS=''' ||
                            kind || ''' FILEID=''' || emedia || '''/>'
                       ELSE '    <TextBlock ID=''block_' ||
                            CAST("order" AS VARCHAR) || ''' TAGREFS=''' ||
                            kind || '''><TextLine><String CONTENT=''' ||
                            etext || '''/></TextLine></TextBlock>'
                     END,
                     chr(10) ORDER BY "order") ||
                   chr(10) || '</PrintSpace></Page></Layout></alto>' AS alto
            FROM esc GROUP BY doc_id, edoc ORDER BY doc_id
        """)

# TessPAGERenderer (renderer.h:204, pagerenderer.cpp)
_over_spans("render_page_xml", lambda: f"""
            WITH truth AS ({truth_values_sql()}),
            esc AS (
              SELECT doc_id, "order", kind, media_ref,
                     replace({_E_PAGE_TEXT}, chr(10), '&#10;') AS etext,
                     {_E_MEDIA} AS emedia, {_E_DOC} AS edoc
              FROM truth)
            SELECT doc_id,
                   '<PcGts xmlns=''http://schema.primaresearch.org/PAGE/gts/'
                   || 'pagecontent/2019-07-15''>' || chr(10) ||
                   '  <Page imageFilename=''' || edoc || '''>' || chr(10) ||
                   '    <ReadingOrder><OrderedGroup id=''ro''>' || chr(10) ||
                   string_agg(
                     '      <RegionRefIndexed index=''' ||
                     CAST("order" AS VARCHAR) || ''' regionRef=''r' ||
                     CAST("order" AS VARCHAR) || '''/>',
                     chr(10) ORDER BY "order") || chr(10) ||
                   '    </OrderedGroup></ReadingOrder>' || chr(10) ||
                   string_agg(
                     CASE
                       WHEN kind IN ('horz_line', 'vert_line')
                       THEN '    <SeparatorRegion id=''r' ||
                            CAST("order" AS VARCHAR) || ''' custom=''' ||
                            kind || '''/>'
                       WHEN kind IN ('flowing_image', 'heading_image',
                                     'pullout_image')
                       THEN '    <ImageRegion id=''r' ||
                            CAST("order" AS VARCHAR) || ''' custom=''' ||
                            kind || ''' imageFilename=''' || emedia || '''/>'
                       ELSE '    <TextRegion id=''r' ||
                            CAST("order" AS VARCHAR) || ''' custom=''' ||
                            kind || '''><TextEquiv><Unicode>' || etext ||
                            '</Unicode></TextEquiv></TextRegion>'
                     END,
                     chr(10) ORDER BY "order") || chr(10) ||
                   '  </Page>' || chr(10) || '</PcGts>' AS page_xml
            FROM esc GROUP BY doc_id, edoc ORDER BY doc_id
        """)


# GetTSVText levels 1-5 (baseapi.cpp:2205)
_over_page_table("render_tsv_levels", "tsv")
# ocr_page → ocr_carea → ocr_par → ocr_line → ocrx_word, word boxes and
# x_wconf (hocrrenderer.cpp:136-250)
_over_page_table("render_hocr_words", "hocr")
# TextBlock → TextLine → String per word, one <Page> per media span
# (altorenderer.cpp:131)
_over_page_table("render_alto_words", "alto")
# TextRegion → TextLine → Word with Coords and a per-page ReadingOrder
# (pagerenderer.cpp)
_over_page_table("render_page_xml_words", "page_xml")
# .box training file, y flipped to bottom-left origin (GetBoxText
# baseapi.cpp:2391 / TessBoxTextRenderer renderer.h:298)
_over_symbols("render_box", "box")
# Latin-1 text with the kUniChs fold, '~' rejects and '^' suspect marks
# (GetUNLVText baseapi.cpp:2440 / TessUnlvRenderer renderer.h:276)
_over_symbols("render_unlv", "unlv")


@functools.lru_cache(maxsize=1)
def _pdf_values() -> str:
    """Single-process twin of q_render_pdf as VALUES rows: the same page
    parts + assembly over the page walk, per fixture doc → (doc_id, sha256,
    n_bytes, n_pages)."""
    import hashlib

    from sparkstract.functions.pdfout import (assemble_pdf,
                                              compress_page_image,
                                              page_text_ops)

    parts: dict[str, list[dict]] = {}
    for doc, _off, _ref, _base, blocks, gray, w, h in page_walk():
        words = [(wt, wl, wtop, wr, wb)
                 for blk in blocks if blk.words
                 for (_p, _ln, _wn, wt, wl, wtop, wr, wb, _c,
                      _s, _lm) in blk.words]
        parts.setdefault(doc, []).append({
            "w": w, "h": h,
            "img": (compress_page_image(gray)
                    if gray is not None else None),
            "ops": page_text_ops(words, h)})
    rows = []
    for doc, doc_parts in sorted(parts.items()):
        pdf = assemble_pdf(doc_parts)
        rows.append(f"({sql_quote(doc)}, "
                    f"{sql_quote(hashlib.sha256(pdf).hexdigest())}, "
                    f"{len(pdf)}, {len(doc_parts)})")
    return ",\n".join(rows)


@query("render_pdf", lambda: f"""
            SELECT * FROM (VALUES
            {_pdf_values()}
            ) AS t(doc_id, sha256, n_bytes, n_pages) ORDER BY doc_id
        """)
def q_render_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searchable-PDF sink (S8, TessPDFRenderer pdfrenderer.cpp /
    renderer.h:244): per doc, the backdrop-image + invisible-text-layer PDF
    assembled from one kernel pass. The output is binary, so the gate
    compares (sha256, n_bytes, n_pages) against the identical file
    assembled single-process — byte determinism IS the renderer contract
    (resumed jobs must re-emit identical files)."""
    from sparkstract.plans.pipeline import extract_pdf_pages
    from sparkstract.sinks import render_pdf

    docs, media, _ = fixture_frames(spark)
    out = render_pdf(extract_pdf_pages(spark, docs, media))
    return out.select(
        "doc_id", F.sha2(F.col("pdf"), 256).alias("sha256"),
        F.length("pdf").alias("n_bytes"), "n_pages").orderBy("doc_id")

