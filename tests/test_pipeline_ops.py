"""Dedup / similarity / text-stats / multimodal operator tests on small
hand-built frames (fast; the DuckDB cross-check runs in scripts/check_oracle.py
and in the driver's own correctness gate)."""

from __future__ import annotations

import math

import numpy as np

import pytest
from pyspark.sql import functions as F

from sparkstract.functions import textstats as ts
from sparkstract.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy dog"),  # exact dup of a
        ("c", "the quick brown fox jumps over a sleepy dog"),  # near dup
        ("d", "completely different content about spark engines"),
        ("e", ""),  # empty
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_duplicates(docs):
    out = dedup.exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2
    assert out[0]["keep_doc_id"] == "a"


def test_word_ngrams_counts(docs):
    grams = dedup.word_ngrams(docs, n=3).groupBy("doc_id").count().collect()
    counts = {r["doc_id"]: r["count"] for r in grams}
    assert counts["a"] == 7  # 9 tokens → 7 trigrams (all distinct)
    assert "e" not in counts  # empty doc → no shingles


def test_ngram_jaccard_near_dup(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert pairs[("a", "b")] == 1.0
    assert ("a", "c") in pairs and 0.2 <= pairs[("a", "c")] < 1.0
    assert not any("d" in p for p in pairs)


def test_minhash_lsh_finds_exact_dup(docs):
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r["n_bands"] for r in pairs}
    assert by_pair[("a", "b")] == 4  # identical docs share every band


def test_minhash_cap_drops_degenerate_bucket_and_audits_it(spark):
    """The 100x hazard scenario: 2000 near-identical docs all land in one
    LSH bucket per band. The count-first cap must drop the bucket (no k^2/2
    pair explosion, no 2000-element aggregation buffer) and the audit must
    report exactly what was dropped."""
    from sparkstract.operators.dedup import lsh_bucket_stats, minhash_lsh_pairs

    base = "the same sentence repeated for every single document here"
    degenerate = [(i, base) for i in range(2000)]
    # plus one genuinely distinct duplicate pair that must SURVIVE the cap
    distinct = [(5001, "salmon river canyon drains a granite plateau"),
                (5002, "salmon river canyon drains a granite plateau")]
    docs = spark.createDataFrame(degenerate + distinct, "doc_id long, text string")
    pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(5001, 5002)]
    dropped = lsh_bucket_stats(docs, num_hashes=8, bands=4).collect()
    assert len(dropped) == 4  # one oversized bucket per band
    assert all(r["bucket_size"] == 2000 for r in dropped)


def test_simhash_properties(docs):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, bits=32).collect()}
    assert out["a"] == out["b"]  # identical text → identical signature
    ham_ac = bin(out["a"] ^ out["c"]).count("1")
    ham_ad = bin(out["a"] ^ out["d"]).count("1")
    assert ham_ac < ham_ad  # near dup closer than unrelated
    assert "e" not in out  # no tokens → no signature (same as the SQL oracle)


def test_text_stats_expressions(spark):
    df = spark.createDataFrame([("x", "The quick, brown fox!")], "doc_id string, text string")
    row = df.select(
        ts.token_count(F.col("text")).alias("n"),
        ts.punct_ratio(F.col("text")).alias("p"),
        ts.mean_word_len(F.col("text")).alias("m"),
        ts.fingerprint(F.col("text")).alias("fp"),
    ).collect()[0]
    assert row["n"] == 4
    assert math.isclose(row["p"], 2 / 21)
    assert row["fp"] == df.select(F.md5(F.lit("the quick, brown fox!"))).collect()[0][0]


def test_lang_id_markers(spark):
    rows = [("1", "the cat and the dog is here"), ("2", "der hund und die katze ist")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", ts.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {"1": "en", "2": "de"}


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.95, 0.05], 1),
        (4, [0.5, 0.5, 0.0], 0),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk(emb):
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out = similarity.brute_force_topk(emb, q, k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 4]  # nearest by cosine, self excluded
    assert out[0]["rank"] == 1 and out[0]["score"] > out[1]["score"]


def test_ivf_routes_to_label(emb):
    q = emb.filter("vec_id = 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out = similarity.ivf_topk(emb, q, k=5).collect()
    assert {r["vec_id"] for r in out} == {3}  # only label-1 bucket probed, self excluded


def test_cosine_near_dup_bucketed(emb):
    pairs = {(r["id_a"], r["id_b"]) for r in
             similarity.cosine_near_dup_pairs(emb, threshold=0.95).collect()}
    assert (0, 1) in pairs and (2, 3) in pairs
    assert all(a < b for a, b in pairs)


def _corrupt_png() -> bytes:
    """A PNG whose IDAT zlib header is flipped: decode raises zlib.error,
    not ValueError."""
    from sparkstract.functions.png import encode_gray

    d = bytearray(encode_gray(np.tile(np.arange(64, dtype=np.uint8), (16, 1))))
    d[d.index(b"IDAT") + 4] ^= 0xFF
    return bytes(d)


def test_image_features_and_thumbnails(spark, fixture_set):
    import zlib

    from sparkstract.functions.codecs import decode_gray_any

    _, media, _ = fixture_set.to_spark(spark)
    # plus one corrupt PNG, skipped by both lanes rather than failing them
    with pytest.raises(zlib.error):
        decode_gray_any(_corrupt_png())
    media = media.select("media_ref", "image").limit(4).union(
        spark.createDataFrame([("m_zlib", bytearray(_corrupt_png()))],
                              "media_ref string, image binary"))
    feats = multimodal.image_features(media).collect()
    assert len(feats) == 4
    for r in feats:
        assert r["width"] > 0 and r["height"] > 0
        assert 0.0 <= r["ink_ratio"] <= 1.0
    th = multimodal.thumbnails(media, max_side=32).collect()
    assert len(th) == 4
    from sparkstract.functions.png import decode_gray
    for r in th:
        img = decode_gray(bytes(r["thumb"]))
        assert img.shape == (r["thumb_h"], r["thumb_w"])
        assert max(img.shape) <= 64


def test_normalize_text_folds_unicode_variants(spark):
    from pyspark.sql import functions as F

    from sparkstract.functions.textstats import (
        fingerprint,
        fingerprint_normalized,
        normalize_text,
    )

    df = spark.createDataFrame(
        [("a", "The “QUICK” fox — isn’t lazy…"),
         ("b", "The \"QUICK\" fox - isn't lazy..."),
         ("c", "ﬁne ﬂow – test"),
         ("d", "fine  flow - test")],
        "doc_id string, text string")
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id",
        normalize_text(F.col("text")).alias("norm"),
        fingerprint(F.col("text")).alias("raw_fp"),
        fingerprint_normalized(F.col("text")).alias("norm_fp"),
    ).collect()}
    assert rows["a"]["norm"] == rows["b"]["norm"] == \
        'the "quick" fox - isn\'t lazy...'
    assert rows["a"]["norm_fp"] == rows["b"]["norm_fp"]
    assert rows["a"]["raw_fp"] != rows["b"]["raw_fp"]  # raw key misses it
    assert rows["c"]["norm_fp"] == rows["d"]["norm_fp"]


def test_strip_boilerplate_rules(spark):
    from pyspark.sql import functions as F

    from sparkstract.functions.html import strip_boilerplate

    docs = [
        ("h1", "<script>var x=1;</script><nav><a href='/'>Home</a> "
               "<a href='/a'>About</a></nav>"
               "<p>The quick brown fox jumps over the lazy dog.</p>"
               "<footer>Copyright 2026 Example Corp</footer>"),
        ("h2", "<div>Menu: <a href='x'>one</a> <a href='y'>two</a> "
               "<a href='z'>three four five six</a></div>"
               "<div>This line has &quot;entities&quot; &amp; markup that "
               "should survive.</div>"),
        ("h3", "<!-- c --><p>Inline <b>bold</b> text stays one line.</p>"),
        ("h4", None),
    ]
    rows = {r["doc_id"]: r["main"] for r in spark.createDataFrame(
        docs, "doc_id string, html string"
    ).select("doc_id", strip_boilerplate(F.col("html")).alias("main")).collect()}
    assert rows["h1"] == "The quick brown fox jumps over the lazy dog."
    # nav/script/footer gone
    assert "Home" not in rows["h1"] and "var x" not in rows["h1"] \
        and "Copyright" not in rows["h1"]
    # link-dense menu dropped, entity line decoded and kept
    assert rows["h2"] == 'This line has "entities" & markup that should survive.'
    assert rows["h3"] == "Inline bold text stays one line."
    assert rows["h4"] is None  # null-safe


def test_bigram_coherence_separates_prose_from_mash(spark):
    from pyspark.sql import functions as F

    from sparkstract.functions.textstats import bigram_coherence

    docs = [("prose", "the weather in northern regions is rather pleasant"),
            ("mash", "xq zk jv qx wz kq vj zx qj xz"),
            ("tiny", "a"), ("nullt", None)]
    rows = {r["doc_id"]: r["c"] for r in spark.createDataFrame(
        docs, "doc_id string, text string"
    ).select("doc_id", bigram_coherence(F.col("text")).alias("c")).collect()}
    assert rows["prose"] > 0.4
    assert rows["mash"] < 0.1
    assert rows["tiny"] == 0.0 and rows["nullt"] == 0.0


def test_repetition_stats_gopher_rules(spark):
    from sparkstract.operators.repetition import repetition_stats

    docs = [
        ("clean", "alpha beta gamma\ndelta epsilon zeta\neta theta iota"),
        ("dupl", "same line here\nsame line here\nsame line here\nunique one"),
        ("stuffed", "buy cheap " * 10 + "now"),
        ("empty", ""),
    ]
    rows = {r["doc_id"]: r for r in repetition_stats(
        spark.createDataFrame(docs, "doc_id string, text string")).collect()}
    assert rows["clean"]["dup_line_frac"] == 0.0
    assert rows["clean"]["top_ngram_char_frac"] < 0.3
    assert rows["dupl"]["n_lines"] == 4
    assert rows["dupl"]["dup_line_frac"] == 0.5  # 2 repeats of 4 lines
    assert rows["stuffed"]["top_ngram"] == "buy cheap"
    assert rows["stuffed"]["top_ngram_char_frac"] > 0.4
    assert rows["empty"]["n_lines"] == 0
    assert rows["empty"]["top_ngram"] is None
    assert rows["empty"]["top_ngram_char_frac"] == 0.0


def test_gopher_stats_full_rule_set(spark):
    """All twelve MassiveText table-A1 stats on hand-computed documents:
    the 3x-repeated 5-token line, a unique-word doc, and an empty doc."""
    from sparkstract.operators.repetition import gopher_stats

    docs = [
        # three identical lines (two as one paragraph, one alone): every
        # token sits under a duplicated 5..10-gram -> coverage 1.0; top
        # 2-gram is "d e" (3 occurrences x 2 chars over 15 token chars)
        ("rep", "a b c d e\na b c d e\n\na b c d e"),
        # 10 distinct words: no dup anything, but the top n-gram stats are
        # >0 by definition (most frequent n-gram has count 1)
        ("uniq", "the quick brown fox jumps over a lazy dog tonight"),
        ("empty", "   "),
    ]
    rows = {r["doc_id"]: r for r in gopher_stats(
        spark.createDataFrame(docs, "doc_id string, text string")).collect()}

    rep = rows["rep"]
    assert rep["dup_line_frac"] == 0.666667      # 2 repeats of 3 lines
    assert rep["dup_line_char_frac"] == 0.666667
    assert rep["dup_para_frac"] == 0.0           # the two paragraphs differ
    assert rep["top_2gram_char_frac"] == 0.4     # 3 x "d e" = 6 / 15 chars
    for n in range(5, 11):                       # interval union = all 15
        assert rep[f"dup_{n}gram_char_frac"] == 1.0
    assert rep["gopher_pass"] is False

    uniq = rows["uniq"]
    assert uniq["dup_line_frac"] == 0.0
    assert uniq["dup_para_frac"] == 0.0
    assert uniq["top_2gram_char_frac"] == 0.2    # "the quick" = 8 / 40
    for n in range(5, 11):
        assert uniq[f"dup_{n}gram_char_frac"] == 0.0
    # short unique docs still trip the top-n-gram thresholds by definition
    # (the paper pairs these rules with a min-length gate)
    assert uniq["gopher_pass"] is False

    emp = rows["empty"]
    assert all(emp[c] == 0.0 for c in emp.asDict() if c.endswith("frac"))
    assert emp["gopher_pass"] is True


def test_scrub_pii_masks_each_family(spark):
    from pyspark.sql import functions as F

    from sparkstract.functions.textstats import scrub_pii

    docs = [("a", "mail x@y.org, call 555-867-5309, host 10.0.0.1, "
                  "ssn 123-45-6789, order 12345 stays")]
    out = spark.createDataFrame(docs, "doc_id string, text string") \
        .select(scrub_pii(F.col("text")).alias("s")).collect()[0]["s"]
    assert out == ("mail <EMAIL>, call <PHONE>, host <IP>, "
                   "ssn <SSN>, order 12345 stays")


def test_cosine_lsh_pairs(spark):
    """Sign-LSH near-dup: a perturbed copy (cosine ~0.999) MUST surface
    through the banded buckets; unrelated random vectors must not."""
    import numpy as np

    from sparkstract.operators.similarity import (
        cosine_lsh_pairs,
        random_hyperplanes,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    near = base + 0.01 * rng.standard_normal(64)
    rows = [("a", [float(x) for x in base]),
            ("b", [float(x) for x in near])]
    rows += [(f"r{i}", [float(x) for x in rng.standard_normal(64)])
             for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    planes = random_hyperplanes(32, 64, seed=7)
    got = cosine_lsh_pairs(emb, planes, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [("a", "b")]
    assert got[0]["score"] > 0.99


def test_decontaminate_flags_benchmark_overlap(spark):
    """A train doc quoting an eval 3-gram verbatim is contaminated; a doc
    shorter than n words has 0 grams and stays clean; counts are distinct
    n-gram counts."""
    from sparkstract.operators.decontam import decontaminate

    bench = spark.createDataFrame(
        [("e1", "the secret eval answer is forty two")],
        "doc_id string, text string")
    train = spark.createDataFrame(
        [("t1", "model memorized the secret eval answer somehow"),
         ("t2", "totally unrelated training text goes here now"),
         ("t3", "too short")],
        "doc_id string, text string")
    out = {r["doc_id"]: r for r in
           decontaminate(train, bench, n=3).collect()}
    # shared 3-grams: "the secret eval", "secret eval answer"
    assert out["t1"]["contaminated"] and out["t1"]["n_overlap"] == 2
    assert out["t2"]["n_overlap"] == 0 and not out["t2"]["contaminated"]
    assert out["t3"]["n_grams"] == 0 and not out["t3"]["contaminated"]
    assert out["t1"]["n_grams"] == 5  # 7 words → 5 distinct 3-grams


def test_line_dedup_keeps_first_occurrence(spark):
    """CCNet line dedup: fold-matched boilerplate drops everywhere but its
    first (doc_id, pos); within-doc repeats drop too; blanks always drop;
    kept text preserves original bytes in original order."""
    from sparkstract.operators.dedup import line_dedup

    docs = spark.createDataFrame([
        (1, "unique alpha\nSubscribe to our newsletter\nbody one"),
        (2, "subscribe to our  newsletter\nbody two\n\nbody two"),
        (3, ""),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[1]["clean_text"] == (
        "unique alpha\nSubscribe to our newsletter\nbody one")
    assert out[1]["n_kept"] == 3 and out[1]["n_dropped"] == 0
    # doc 2: newsletter line fold-matches doc 1's (case + double space),
    # and its second "body two" is a within-doc duplicate
    assert out[2]["clean_text"] == "body two"
    assert out[2]["n_kept"] == 1 and out[2]["n_dropped"] == 2
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0


def test_contamination_report_per_eval_item(spark):
    """The reverse view: per BENCHMARK item, the fraction of its grams
    found in train; a fully-quoted item is dirty, an unquoted one clean,
    a too-short one has 0 grams and defaults clean."""
    from sparkstract.operators.decontam import contamination_report

    bench = spark.createDataFrame(
        [("e1", "the secret eval answer is forty two"),
         ("e2", "never seen by any training document ever"),
         ("e3", "tiny one")],
        "doc_id string, text string")
    train = spark.createDataFrame(
        [("t1", "model memorized the secret eval answer is forty two ok")],
        "doc_id string, text string")
    out = {r["doc_id"]: r for r in
           contamination_report(train, bench, n=3,
                                max_dirty_frac=0.5).collect()}
    # every one of e1's 5 grams appears verbatim in t1
    assert out["e1"]["n_grams"] == 5 and out["e1"]["n_dirty"] == 5
    assert out["e1"]["dirty_frac"] == 1.0 and not out["e1"]["clean"]
    assert out["e2"]["n_dirty"] == 0 and out["e2"]["clean"]
    assert out["e3"]["n_grams"] == 0 and out["e3"]["clean"]


def test_minhash_match_cross_corpus(spark):
    from pyspark.sql import functions as F
    from sparkstract.operators.dedup import minhash_match

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
            (3, "totally different words nothing shared at all here"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            ("n-a", "alpha beta gamma delta epsilon zeta eta theta"),  # copy
            ("n-b", "unrelated fresh content with no corpus overlap"),
        ],
        "doc_id string, text string",
    )
    out = minhash_match(new, corpus, num_hashes=8, bands=4).collect()
    hits = {(r["new_id"], r["doc_id"]): r for r in out}
    # the exact copy matches its source on every band and component
    assert hits[("n-a", 1)]["n_bands"] == 4
    assert hits[("n-a", 1)]["n_sig_match"] == 8
    # the novel doc matches nothing
    assert not any(k[0] == "n-b" for k in hits)
    # no corpus x corpus or new x new pairs leak into the output
    assert all(k[0].startswith("n-") and isinstance(k[1], int) for k in hits)


def test_minhash_match_always_finds_exact_copies(spark):
    import random

    from pyspark.sql import functions as F
    from sparkstract.operators.dedup import minhash_match

    rng = random.Random(99)
    vocab = ["tok%d" % i for i in range(40)]
    corpus_rows = [(i, " ".join(rng.choice(vocab) for _ in range(25)))
                   for i in range(40)]
    corpus = spark.createDataFrame(corpus_rows,
                                   "doc_id long, text string")
    # every 4th corpus doc re-arrives as a new doc (exact copy)
    new = spark.createDataFrame(
        [("n-%d" % i, t) for i, t in corpus_rows if i % 4 == 0],
        "doc_id string, text string")
    out = minhash_match(new, corpus, num_hashes=8, bands=4)
    hits = {(r["new_id"], r["doc_id"]): r for r in out.collect()}
    for i, _ in corpus_rows:
        if i % 4 == 0:
            r = hits[("n-%d" % i, i)]
            # an exact copy ALWAYS matches its source with a full signature
            assert r["n_bands"] == 4 and r["n_sig_match"] == 8


def test_html_metadata_fields(spark):
    from pyspark.sql import functions as F

    from sparkstract.functions.html import extract_metadata

    html = ('<html lang="EN-us"><head><title> A &amp; B <i>site</i> '
            '</title><meta name="description" content="desc here">'
            '<link rel="canonical" href="https://x.y/p"></head>'
            '<body><h1>Head <b>One</b></h1></body></html>')
    df = spark.createDataFrame([("d", html), ("e", "<p>no head</p>")],
                               "doc_id string, html string")
    cols = extract_metadata(F.col("html"))
    row = {r["doc_id"]: r for r in df.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]).collect()}
    assert row["d"]["title"] == "A & B site"
    assert row["d"]["meta_description"] == "desc here"
    assert row["d"]["h1"] == "Head One"
    assert row["d"]["lang"] == "en-us"
    assert row["d"]["canonical"] == "https://x.y/p"
    assert row["e"]["title"] == "" and row["e"]["lang"] == ""


def test_media_decode_report(spark, fixture_set):
    from sparkstract.fixtures.encoders.raster import encode_gray_ico
    from sparkstract.fixtures.encoders.webp import encode_gray_webp

    _, media, _ = fixture_set.to_spark(spark)
    media = media.limit(4)
    img = np.tile(np.arange(64, dtype=np.uint8), (16, 1))
    # add one webp (fast-shape), one undecodable blob, one PNG whose decode
    # raises zlib.error (not ValueError) and one ICO favicon
    extra = spark.createDataFrame(
        [("m_webp", bytearray(encode_gray_webp(img))),
         ("m_bad", bytearray(b"\x00garbage-bytes")),
         ("m_zlib", bytearray(_corrupt_png())),
         ("m_ico", bytearray(encode_gray_ico(img)))],
        "media_ref string, image binary")
    rep = {(r["format"], r["shape"]): r["n"]
           for r in multimodal.media_decode_report(
               media.select("media_ref", "image").union(extra)).collect()}
    assert rep[("webp", "fast")] == 1
    assert any(f == "unknown" and s.startswith("error:")
               for (f, s) in rep)
    assert any(f == "png" and s.startswith("error: Error -3")
               for (f, s) in rep)
    assert rep[("ico", "")] == 1
    assert sum(rep.values()) == 8
