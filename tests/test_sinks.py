"""Renderer sinks over a small spans frame."""

from sparkstract.sinks import (
    render_alto,
    render_hocr,
    render_page_xml,
    render_text,
    render_tsv,
)

ROWS = [
    ("d1", 0, "heading_text", "TITLE", None),
    ("d1", 1, "flowing_image", None, "m-1"),
    ("d1", 2, "flowing_text", "BODY A", None),
    ("d1", 3, "caption_text", "CAP", None),
    ("d2", 0, "text", "LONE & <b>", None),
]
SCHEMA = "doc_id string, order int, kind string, text string, media_ref string"


def _spans(spark):
    # deliberately shuffled input order: renderers must sort by span order
    return spark.createDataFrame([ROWS[2], ROWS[0], ROWS[4], ROWS[3], ROWS[1]], SCHEMA)


def test_render_text_skips_images_and_orders(spark):
    out = {r["doc_id"]: r["text"] for r in render_text(_spans(spark)).collect()}
    assert out["d1"] == "TITLE\n\nBODY A\n\nCAP"
    assert out["d2"] == "LONE & <b>"


def test_render_tsv(spark):
    out = {r["doc_id"]: r["tsv"] for r in render_tsv(_spans(spark)).collect()}
    lines = out["d1"].split("\n")
    assert lines[0] == "0\theading_text\t\tTITLE"
    assert lines[1] == "1\tflowing_image\tm-1\t"
    assert len(lines) == 4


def test_render_alto(spark):
    out = {r["doc_id"]: r["alto"] for r in render_alto(_spans(spark)).collect()}
    d1 = out["d1"]
    assert d1.startswith("<alto ")
    assert "<Illustration ID='block_1' TAGREFS='flowing_image' FILEID='m-1'/>" in d1
    assert "<String CONTENT='TITLE'/>" in d1
    # reading order: heading, image, body, caption
    assert d1.index("TITLE") < d1.index("m-1") < d1.index("BODY A") < d1.index("CAP")
    assert "LONE &amp; &lt;b&gt;" in out["d2"]


def test_render_page_xml(spark):
    out = {r["doc_id"]: r["page_xml"]
           for r in render_page_xml(_spans(spark)).collect()}
    d1 = out["d1"]
    assert d1.startswith("<PcGts ")
    # a typed region per span + an index entry per span, indices in order
    for i in range(4):
        assert f"<RegionRefIndexed index='{i}' regionRef='r{i}'/>" in d1
    assert "<ImageRegion id='r1' custom='flowing_image' imageFilename='m-1'/>" in d1
    assert "<TextRegion id='r0' custom='heading_text'>" in d1
    assert "<Unicode>CAP</Unicode>" in d1
    assert "LONE &amp; &lt;b&gt;" in out["d2"]


def test_render_page_xml_multiline_text(spark):
    rows = [("d3", 0, "flowing_text", "AB\nCD", None)]
    df = spark.createDataFrame(rows, SCHEMA)
    xml = render_page_xml(df).collect()[0]["page_xml"]
    assert "<Unicode>AB&#10;CD</Unicode>" in xml
    alto = render_alto(df).collect()[0]["alto"]
    assert "CONTENT='AB CD'" in alto


def test_render_page_xml_nul_text_and_newline_ref(spark):
    """Regions and reading-order refs are folded separately, so a NUL in a
    span's text or a newline in a media_ref cannot cut one into the other.
    The NUL, which XML 1.0 forbids, is dropped; the newline in the
    attribute is written as a character reference."""
    rows = [("d4", 0, "flowing_text", "A\x00B", None),
            ("d4", 1, "flowing_image", None, "m\n1"),
            ("d4", 2, "caption_text", "C", None)]
    xml = render_page_xml(spark.createDataFrame(rows, SCHEMA)) \
        .collect()[0]["page_xml"]
    refs = [f"<RegionRefIndexed index='{i}' regionRef='r{i}'/>"
            for i in range(3)]
    assert all(r in xml for r in refs), xml
    assert [xml.index(r) for r in refs] == sorted(xml.index(r) for r in refs)
    assert "<TextRegion id='r0' custom='flowing_text'><TextEquiv><Unicode>" \
        "AB</Unicode></TextEquiv></TextRegion>" in xml
    assert "<ImageRegion id='r1' custom='flowing_image' " \
        "imageFilename='m&#10;1'/>" in xml
    assert "<Unicode>C</Unicode>" in xml


def test_xml_renderers_parse_control_characters(spark):
    """Each XML renderer's output parses for text with a NUL and a tab and
    a media_ref with a newline, and reads back the input minus the NUL:
    character references keep the tab and newline in attribute values,
    where a parser would turn the raw characters into spaces."""
    import xml.etree.ElementTree as ET

    from sparkstract.sinks import (render_alto_words, render_hocr_words,
                                   render_page_xml_words)

    def parse(doc):
        root = ET.fromstring(doc)
        return {e.tag.split("}")[-1]: e for e in root.iter()}, root

    spans = spark.createDataFrame(
        [("d", 0, "table", "A\x00B\tC", None),
         ("d", 1, "flowing_image", None, "m\n1")], SCHEMA)
    el, _ = parse(render_alto(spans).collect()[0]["alto"])
    assert el["String"].get("CONTENT") == "AB\tC"
    assert el["Illustration"].get("FILEID") == "m\n1"
    el, _ = parse(render_page_xml(spans).collect()[0]["page_xml"])
    assert el["TextRegion"].find("*/*").text == "AB\tC"
    assert el["ImageRegion"].get("imageFilename") == "m\n1"

    box = "left int, top int, right int, bottom int"
    blocks = spark.createDataFrame(
        [("d", 0, 0, "table", "A\x00B\tC", None, 0, 0, 9, 9),
         ("d", 0, 1, "flowing_image", None, "m\n1", 0, 10, 9, 19),
         ("d", 0, 2, "flowing_text", "D\x00E", None, 0, 20, 9, 29)],
        "doc_id string, offset int, block_order int, kind string, "
        f"text string, media_ref string, {box}")
    words = spark.createDataFrame(
        [("d", 0, 2, 0, 0, 0, "D\x00E", None, 0, 20, 9, 29, 90, 10, 0.0,
          0)],
        "doc_id string, offset int, block_order int, para_num int, "
        f"line_num int, word_num int, word string, media_ref string, {box}, "
        "conf int, x_size int, base_slope double, base_off int")
    _, root = parse(render_alto_words(blocks, words).collect()[0]["alto"])
    strings = [e.get("CONTENT") for e in root.iter()
               if e.tag.endswith("String")]
    assert strings == ["AB\tC", "DE"]
    assert [e.get("FILEID") for e in root.iter()
            if e.tag.endswith("Illustration")] == ["m\n1"]
    el, root = parse(render_page_xml_words(blocks, words)
                     .collect()[0]["page_xml"])
    assert el["Page"].get("imageFilename") == "m\n1"
    assert el["ImageRegion"].get("imageFilename") == "m\n1"
    assert [e.text for e in root.iter()
            if e.tag.endswith("Unicode")] == ["AB\tC", "DE", "DE"]
    hocr = render_hocr_words(blocks, words).collect()[0]["hocr"]
    assert "<img src='m&#10;1'/>" in hocr
    _, root = parse(hocr)
    assert [e.text for e in root.iter() if e.get("class") in
            ("ocr_carea", "ocrx_word")] == ["AB\tC", None, None, "DE"]
    _, root = parse(render_hocr(spans).collect()[0]["hocr"])
    careas = [e for e in root.iter() if e.get("class") == "ocr_carea"]
    assert careas[0].text == "AB\tC"
    assert careas[1].find("img").get("src") == "m\n1"


def test_render_hocr_escapes(spark):
    edge = spark.createDataFrame(
        [("d5", 0, "flowing_image", None, "m'&<1>")], SCHEMA)
    out = {r["doc_id"]: r["hocr"]
           for r in render_hocr(_spans(spark).unionByName(edge)).collect()}
    assert out["d2"].count("LONE &amp; &lt;b&gt;") == 1
    assert "<img src='m&apos;&amp;&lt;1&gt;'/>" in out["d5"]
    assert out["d1"].startswith("<html><body>")
    assert "<img src='m-1'/>" in out["d1"]
    # reading order preserved
    assert out["d1"].index("TITLE") < out["d1"].index("m-1") < out["d1"].index("BODY A")


def test_box_aware_renderers(spark, fixture_set):
    """Fed page_blocks output (geometry present), hOCR titles carry real
    bbox properties and ALTO elements carry HPOS/VPOS/WIDTH/HEIGHT — like
    the reference renderers (hocrrenderer.cpp:123, altorenderer.cpp)."""
    import re

    from pyspark.sql import functions as F

    from sparkstract.plans.pipeline import extract_pages, page_blocks
    from sparkstract.sinks import render_alto, render_hocr

    docs, media, _ = fixture_set.to_spark(spark)
    docs = docs.filter(F.col("doc_id") == "d-interleaved_order")
    blocks = page_blocks(extract_pages(spark, docs, media)) \
        .withColumn("order", F.col("block_order"))
    hocr = render_hocr(blocks).collect()[0]["hocr"]
    boxes = re.findall(r"bbox (\d+) (\d+) (\d+) (\d+)", hocr)
    assert boxes, hocr
    assert all(int(r) >= int(l) and int(b) >= int(t) for l, t, r, b in boxes)
    alto = render_alto(blocks).collect()[0]["alto"]
    assert re.search(r"HPOS='\d+' VPOS='\d+' WIDTH='\d+' HEIGHT='\d+'", alto)

    # exact values on a hand-built block: bbox is inclusive (l t r b), ALTO
    # carries the top-left corner and the inclusive extent
    one = spark.createDataFrame(
        [("g", 0, "flowing_text", "T", None, 10, 20, 29, 39)],
        "doc_id string, order int, kind string, text string, "
        "media_ref string, left int, top int, right int, bottom int")
    hocr = render_hocr(one).collect()[0]["hocr"]
    assert "title='flowing_text; bbox 10 20 29 39'" in hocr, hocr
    alto = render_alto(one).collect()[0]["alto"]
    assert "HPOS='10' VPOS='20' WIDTH='20' HEIGHT='20'" in alto, alto


def test_hierarchy_renderers(spark, fixture_set):
    """Full-depth TSV (levels 1-5) and nested hOCR over the para_page doc:
    the wired paragraph detector must show up as par rows / ocr_par divs."""
    from pyspark.sql import functions as F

    from sparkstract.plans.pipeline import (extract_pages, page_blocks,
                                            page_words)
    from sparkstract.sinks import render_hocr_words, render_tsv_levels

    docs, media, _ = fixture_set.to_spark(spark)
    docs = docs.filter(F.col("doc_id") == "d-para_page")
    pages = extract_pages(spark, docs, media)
    blocks, words = page_blocks(pages), page_words(pages)

    tsv = render_tsv_levels(blocks, words).collect()[0]["tsv"]
    lines = tsv.split("\n")
    levels = [ln.split("\t")[0] for ln in lines]
    assert levels[0] == "1"  # page row first
    # two paragraphs in the para_page block → two level-3 rows for block 1
    par_rows = [ln for ln in lines
                if ln.split("\t")[0] == "3" and ln.split("\t")[2] == "1"]
    assert len(par_rows) == 2
    # word rows are 12 columns with text last and conf 100
    wrow = next(ln for ln in lines if ln.split("\t")[0] == "5")
    cells = wrow.split("\t")
    assert len(cells) == 12 and cells[10] == "100" and cells[11]
    # nesting order: each level-4 line row is followed by its level-5 words
    i4 = levels.index("4")
    assert levels[i4 + 1] == "5"

    hocr = render_hocr_words(blocks, words).collect()[0]["hocr"]
    assert hocr.count("class='ocr_par'") == 2
    assert "class='ocr_line'" in hocr and "x_wconf 100" in hocr
    assert hocr.index("ocr_page") < hocr.index("ocr_carea") \
        < hocr.index("ocr_par") < hocr.index("ocr_line") \
        < hocr.index("ocrx_word")


def test_render_page_xml_words(spark, fixture_set):
    """Word-level PAGE XML: Page → ReadingOrder + TextRegion → TextLine →
    Word with Coords polygons; line TextEquiv joins its words."""
    import re

    from pyspark.sql import functions as F

    from sparkstract.plans.pipeline import (extract_pages, page_blocks,
                                            page_words)
    from sparkstract.sinks import render_page_xml_words

    docs, media, _ = fixture_set.to_spark(spark)
    docs = docs.filter(F.col("doc_id") == "d-para_page")
    pages = extract_pages(spark, docs, media)
    blocks, words = page_blocks(pages), page_words(pages)

    xml = render_page_xml_words(blocks, words).collect()[0]["page_xml"]
    assert xml.startswith("<PcGts") and xml.endswith("</PcGts>")
    # reading order lists every region exactly once, before the regions
    refs = re.findall(r"regionRef='(r[\d_]+)'", xml)
    rids = re.findall(r"<\w+Region id='(r[\d_]+)'", xml)
    assert refs == rids
    assert xml.index("<ReadingOrder>") < xml.index("Region id=")
    # nesting: region → line → word, each with a 4-point Coords polygon
    assert xml.index("<TextRegion") < xml.index("<TextLine") \
        < xml.index("<Word")
    pts = re.findall(r"points='([\d, ]+)'", xml)
    assert pts and all(len(p.split(" ")) == 4 for p in pts)
    # a line's TextEquiv is the space-join of its word TextEquivs
    m = re.search(
        r"<TextLine.*?</TextLine>", xml, re.S)
    wtexts = re.findall(r"<Word.*?<Unicode>(.*?)</Unicode>", m.group(0),
                        re.S)
    lt = re.findall(r"</Word>\s*<TextEquiv><Unicode>(.*?)</Unicode>",
                    m.group(0), re.S)
    assert lt == [" ".join(wtexts)]
