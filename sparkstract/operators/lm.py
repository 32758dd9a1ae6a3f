"""Corpus-trained n-gram language-model scoring: the CCNet-style quality
signal (Wenzek et al. 2020 filter web text by KenLM perplexity; this is the
distributed, oracle-matched analog at bigram order).

Train: unigram/bigram counts over the corpus (both aggregations run over
the VOCABULARY key space — map-side combine collapses each task's output
to at most |vocab| / |vocab|² rows, never corpus-sized). Score: each doc's
mean negative log-likelihood under the add-k-smoothed bigram model,
P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V). Low NLL = fluent, in-domain
text; high NLL = gibberish or out-of-domain — the standard
perplexity-bucket curation signal.

Everything is built-in column expressions; the model join is a shuffle on
the bigram key (broadcast when the vocab is small — AQE decides), and the
per-doc aggregation is the only other exchange."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import tokens, word_grams


def _bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    ).select("doc_id", F.explode(word_grams(F.col("toks"), 2)).alias("bigram"))


def lm_doc_nll(docs: DataFrame, k: float = 0.1,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_bigrams, nll): mean negative log-likelihood per document
    under the corpus's own add-k bigram model. Docs with fewer than 2
    tokens score NULL nll (no bigrams). Engine-parity contract: per-bigram
    NLL is quantized to integer micro-nats (round(x*1e6)), summed exactly
    per doc (integer arithmetic — no float-summation-order exposure), and
    the mean rounds to 6dp."""
    bg = _bigrams(docs, id_col, text_col)
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    big_counts = (bg.groupBy("bigram")
                  .agg(F.count(F.lit(1)).alias("c12"))
                  .select("bigram", w1.alias("w1"), "c12"))
    toks = docs.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w1"))
    uni_counts = toks.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = uni_counts.select(
        F.count(F.lit(1)).cast("double").alias("v"))
    # per-bigram NLL is scaled to an INTEGER micro-nat count so the per-doc
    # sum is exact integer arithmetic — order-independent across engines
    # and partitionings (a float avg differs in the last ulp between
    # summation orders and can land on a rounding boundary)
    model = (big_counts.join(uni_counts, "w1")
             .crossJoin(F.broadcast(vocab))
             .select("bigram",
                     F.round(-F.log((F.col("c12") + F.lit(k))
                                    / (F.col("c1") + F.lit(k) * F.col("v")))
                             * F.lit(1e6), 0).cast("long").alias("bnll_u")))
    scored = (bg.join(model, "bigram")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.round(F.sum("bnll_u")
                           / (F.count(F.lit(1)) * F.lit(1e6)), 6)
                    .alias("nll")))
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
                     .alias("n_bigrams"),
                    "nll"))
