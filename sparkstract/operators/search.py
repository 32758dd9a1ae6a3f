"""Lexical document search: Okapi BM25 top-k over the documents table.

The retrieval counterpart of the ANN family — given a bag of query terms,
rank documents by BM25 (Robertson & Walker 1994; the Lucene/Elasticsearch
default). Everything is built-in column expressions: tokenize → explode →
(doc, term) tf aggregation, a |q|-bounded df aggregate, and two 1-row
corpus stats frames cross-joined in (the importance_scores pattern) — no
Python UDF, no driver round-trip.

Scale shape at 100 TB: the explode is per-doc bounded; the query-term
filter lands right after the scan so the tf aggregation only shuffles rows
for matching terms (|q| keys x matching docs, NOT the corpus token
stream); df/N/avgdl exchanges are 1-to-|q|-row aggregates with map-side
combine; the final top-k is orderBy+limit = TakeOrdered (no global
window) and the rank column is minted on the already-limited k-row frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import tokens


def bm25_topk(docs: DataFrame, query_terms: list[str], topk: int = 20,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(rank, doc_id, score): top-k documents for a bag of query terms.

    score(d) = sum over matched terms t of
        ln(1 + (N - df_t + 0.5) / (df_t + 0.5))          -- Robertson idf
        * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

    Engine-parity contract: tf/df/dl/N are exact integers in both engines,
    avgdl and every per-term contribution round to 6dp, the per-doc sum
    rounds to 6dp before ranking, ties break by doc_id asc. Documents
    matching no query term never enter the ranking (standard OR-query
    semantics)."""
    assert query_terms and topk >= 1
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    ).select("doc_id", F.size("toks").alias("dl"),
             F.explode("toks").alias("tok"))
    matched = (toks.filter(F.col("tok").isin(query_terms))
               .groupBy("doc_id", "tok", "dl")
               .agg(F.count(F.lit(1)).alias("tf")))
    # Both the df aggregate and the scoring branch read `matched`; without
    # a persist Catalyst duplicates the subtree and the corpus is
    # scanned+exploded twice. But a stop-word query term makes `matched`
    # corpus-sized, and a persisted corpus-sized frame exhausts executor
    # memory and disk at 100 TB. So persist only an input of at most 1024
    # partitions, small enough that the frame is known to be cache-safe;
    # at scale eat the second scan (and get df from the ingest-time vocab
    # table instead — see vocab_topk).
    if docs.rdd.getNumPartitions() <= 1024:
        matched = matched.persist()
    dfs = (matched.groupBy("tok")
           .agg(F.countDistinct("doc_id").alias("df")))
    stats = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.size(tokens(F.lower(F.col(text_col))))), 6)
         .alias("avgdl"))
    idf = F.log(F.lit(1.0) + (F.col("n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    norm = F.col("tf") * (F.lit(k1) + 1.0) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                                   + F.lit(b) * F.col("dl") / F.col("avgdl")))
    # per-term contributions are quantized to integer micro-units before
    # the per-doc sum, so the score is independent of summation order
    # across partitionings and engines (the lm_doc_nll determinism
    # contract — a float sum of rounded doubles can land on a rounding
    # boundary and flip the 6dp value between plans)
    scored = (matched
              .join(F.broadcast(dfs), "tok")
              .crossJoin(F.broadcast(stats))
              .select("doc_id",
                      F.round(idf * norm * F.lit(1e6), 0).cast("long")
                       .alias("contrib_u"))
              .groupBy("doc_id")
              .agg(F.round(F.sum("contrib_u") / F.lit(1e6), 6)
                    .alias("score")))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(topk)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select(F.col("rank").cast("long").alias("rank"),
                    "doc_id", "score"))


def doc_keywords(docs: DataFrame, topk: int = 3,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, rank, tok, score): top-k characteristic terms per document
    by smoothed tf-idf — score = tf * (ln((N+1)/(df+1)) + 1), the
    scikit-learn smooth_idf convention. The keyword-extraction counterpart
    of bm25_topk (corpus-wide retrieval vs per-doc description).

    Scale shape: tf is the (doc, term) aggregation (map-side combine); df
    aggregates over the VOCABULARY key space (map-side combine absorbs
    token skew — the exchange carries at most |vocab| rows per map task);
    the df join shuffles on the term key (broadcast when the vocabulary is
    small, AQE decides); the per-doc rank window partitions by doc_id, so
    its state is bounded by one document's distinct terms. Scores round to
    6dp before ranking, ties break by token asc."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n"))
    idf = F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) \
        + F.lit(1.0)
    scored = (tf.join(dfs, "tok").crossJoin(F.broadcast(n))
              .select("doc_id", "tok",
                      F.round(F.col("tf") * idf, 6).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("doc_id", F.col("rank").cast("long").alias("rank"),
                    "tok", "score"))
