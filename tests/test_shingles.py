"""One shingler: every word n-gram builder reads a token column projected
once (`textstats.word_grams`), and no higher-order-function lambda
re-tokenizes its document. Outputs are checked against a pure-Python
reference; plan guards pin the shape. Also pins the session's persisted-
plan right-sizing."""

from __future__ import annotations

import hashlib
import random
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sparkstract.functions import textstats as ts
from sparkstract.operators import dedup, lm, repetition, substrings

_VOCAB = "the and of data page Spark table order group RIVER valley".split()


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(5)
    rows = [
        ("long", " ".join(rng.choice(_VOCAB) for _ in range(3000))),
        ("short", "Data page"),
        ("empty", ""),
        ("null", None),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _tokens(text):
    t = (text or "").lower().strip(" ")
    return [] if t == "" else re.split(r"\s+", t)


def _grams(text, n):
    toks = _tokens(text)
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def _by_doc(rows, key, val):
    out = {}
    for r in rows:
        out.setdefault(r[key], []).append(r[val])
    return out


def _texts(docs):
    return {r["doc_id"]: r["text"] for r in docs.collect()}


@pytest.mark.parametrize("n", [2, 3, 5])
def test_word_grams_matches_reference(docs, n):
    got = {r["doc_id"]: r["g"] for r in docs.select(
        "doc_id", ts.tokens(F.lower("text")).alias("toks")).select(
        "doc_id", ts.word_grams(F.col("toks"), n).alias("g")).collect()}
    want = {d: _grams(t, n) for d, t in _texts(docs).items()}
    assert got == want
    assert len(got["long"]) == 3000 - n + 1
    assert got["empty"] == [] == got["null"]


def test_dedup_shinglers_match_reference(docs):
    texts = _texts(docs)
    got = _by_doc(dedup.word_ngrams(docs, n=3).collect(), "doc_id", "ngram")
    assert {d: set(g) for d, g in got.items()} == {
        d: set(_grams(t, 3)) for d, t in texts.items() if _grams(t, 3)}
    got = _by_doc(dedup.word_ngrams_with_dups(docs, n=3).collect(),
                  "doc_id", "ngram")
    assert {d: Counter(g) for d, g in got.items()} == {
        d: Counter(_grams(t, 3)) for d, t in texts.items() if _grams(t, 3)}


def test_winnow_fingerprints_match_reference(docs):
    k, w = 5, 4
    want = {}
    for d, t in _texts(docs).items():
        hs = [int(_md5(g)[:8], 16) for g in _grams(t, k)]
        fps = {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}
        if fps:
            want[d] = fps
    got = _by_doc(dedup.winnow_fingerprints(docs, k=k, window=w).collect(),
                  "doc_id", "fp")
    assert {d: set(v) for d, v in got.items()} == want


def test_repetition_top_gram_matches_reference(docs):
    got = {r["doc_id"]: r["top_ngram"]
           for r in repetition.repetition_stats(docs, n=2).collect()}
    for d, t in _texts(docs).items():
        c = Counter(_grams(t, 2))
        want = max((n, g) for g, n in c.items())[1] if c else None
        assert got[d] == want, d


def test_substring_gram_hashes_and_lm_bigrams_match_reference(docs):
    texts = _texts(docs)
    got = {r["h"] for r in
           substrings.repeated_gram_hashes(docs, k=3, min_docs=1).collect()}
    assert got == {_md5(g) for t in texts.values() for g in _grams(t, 3)}
    got = _by_doc(lm._bigrams(docs, "doc_id", "text").collect(),
                  "doc_id", "bigram")
    assert {d: Counter(g) for d, g in got.items()} == {
        d: Counter(_grams(t, 2)) for d, t in texts.items() if _grams(t, 2)}


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def _lambda_bodies(plan):
    """The text inside every `lambdafunction(...)` of a plan string."""
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[m.end():i - 1])
    return bodies


def test_no_lambda_retokenizes(docs):
    frames = {
        "word_ngrams": dedup.word_ngrams(docs),
        "word_ngrams_with_dups": dedup.word_ngrams_with_dups(docs),
        "winnow_fingerprints": dedup.winnow_fingerprints(docs),
        "minhash_lsh_pairs": dedup.minhash_lsh_pairs(docs, num_hashes=8),
        "repetition_stats": repetition.repetition_stats(docs),
        "gopher_stats": repetition.gopher_stats(docs),
        "strip_repeated_substrings":
            substrings.strip_repeated_substrings(docs, k=3),
        "lm_doc_nll": lm.lm_doc_nll(docs),
        "lang_id": docs.select(ts.lang_id(F.col("text"))),
        "bigram_coherence": docs.select(ts.bigram_coherence(F.col("text"))),
    }
    for name, df in frames.items():
        bodies = _lambda_bodies(_optimized(df))
        assert bodies, name
        for body in bodies:
            for fn in ("split(", "lower(", "regexp_replace("):
                assert fn not in body, (name, fn, body)


def test_minhash_lsh_pairs_shingles_once(docs):
    plan = _optimized(dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4))
    gens = [ln for ln in plan.splitlines()
            if "Generate" in ln and "slice(" in ln]
    assert len(gens) == 1, plan


def test_persisted_groupby_is_right_sized(spark):
    df = (spark.range(48).groupBy((F.col("id") % 48).alias("k")).count()
          .persist())
    try:
        assert df.count() == 48
        assert df.rdd.getNumPartitions() == 1
    finally:
        df.unpersist()


def test_persisted_page_table_keeps_kernel_partitions(spark, fixture_set):
    from sparkstract.plans.pipeline import extract_pages

    docs, media, _ = fixture_set.to_spark(spark)
    pages = extract_pages(spark, docs.limit(2), media).persist()
    try:
        pages.count()
        assert (pages.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism)
    finally:
        pages.unpersist()
