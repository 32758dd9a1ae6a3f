"""Cross-document repeated-substring removal (substring-level dedup).

Doc-level dedup (operators/dedup.py) drops whole near-identical documents;
this pass removes the REPEATED SPANS themselves — boilerplate headers,
license blocks, navigation chrome — that recur across otherwise-distinct
documents. Lee et al. 2022 ("Deduplicating Training Data Makes Language
Models Better") showed exactly this substring-level pass shrinks memorized
output 10x; their production setting removes any 50-BPE-token span that
appears verbatim more than once in the corpus. The suffix-array machinery
of the paper is single-machine; the equivalent corpus-scale formulation
used here is the k-gram window variant: a token position is removed iff it
is covered by at least one k-token window whose text occurs in >= min_docs
distinct documents. Larger k = more conservative (only long verbatim runs
removed); the contract query runs k=3 because the synthetic word-soup corpus
has no long shared runs (k=50 would be a vacuous 0-removal check).

Scale shape (100 TB) — two column-pruned corpus scans, two corpus-sized
exchanges, zero fan-out:
  * gram frequency is COUNT-FIRST: per-doc-distinct gram hashes are built
    row-locally (array_distinct before the explode, the word_ngrams trick),
    so count(*) per md5 key IS the distinct-doc count and no id list ever
    sits in an aggregation buffer. A corpus-wide stop-phrase costs one
    bigint. The exchange carries (hash, doc_id) — never token text.
  * the dup-set probe joins gram rows (doc_id, pos, hash — ~24 bytes) on
    the hash key; token STRINGS never shuffle on the skewed gram key, and
    AQE picks broadcast when the dup set is small.
  * coverage is a RANGE WINDOW, not an explode: hit-start marker rows union
    with the token rows and one doc-partitioned window computes
    max(hit) over [pos-k+1, pos] — covered flags for the whole doc in one
    pass, no k-times position fan-out, no (doc, pos) distinct.
  * the final per-doc aggregation reuses the window's doc_id partitioning
    (no new exchange); its collect_list buffer is bounded by the doc's own
    token count — the same per-doc bound chunk_documents carries.
  * no Python UDF anywhere; md5 keys keep a bit-identical DuckDB oracle.

No reference analog (the reference is an OCR engine); this belongs to the
LLM-data-pipeline family beside operators/dedup.py and decontam.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import tokens, word_grams
from .dedup import doc_tokens, spread


def _gram_hashes(k: int) -> Column:
    """md5 of every k-gram of a `doc_tokens` row, aligned with start
    position (empty if < k tokens)."""
    return F.transform(word_grams(F.col("toks"), k), F.md5)


def repeated_gram_hashes(docs: DataFrame, k: int = 50, min_docs: int = 2,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """(h,) — md5 of every lowercase k-token window appearing in >= min_docs
    distinct documents. Count-first: the aggregation sees one row per
    (doc, distinct gram) built row-locally, so count(*) = distinct-doc
    count and no doc-id list is ever buffered."""
    per_doc_distinct = doc_tokens(docs, id_col, text_col).select(
        "doc_id", F.explode(F.array_distinct(_gram_hashes(k))).alias("h"))
    return (per_doc_distinct.groupBy("h")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
            .select("h"))


def strip_repeated_substrings(docs: DataFrame, k: int = 50,
                              min_docs: int = 2, id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """One row per input document: (doc_id, n_tokens, n_removed,
    clean_text).

    A token position is removed iff some k-token window covering it occurs
    (lowercased, whitespace-normalized) in >= min_docs distinct documents.
    clean_text is the surviving tokens in original case and order, joined
    by single spaces; a fully-boilerplate doc yields clean_text = ''. Docs
    shorter than k tokens are never touched. Production k is ~50 tokens
    (Lee et al. 2022 section 4.1); small k at test scale keeps the check
    non-vacuous."""
    dup = repeated_gram_hashes(docs, k=k, min_docs=min_docs,
                               id_col=id_col, text_col=text_col)
    # hit starts: gram rows are (doc_id, pos, hash) — token text never
    # rides the skewed gram-key shuffle; AQE broadcasts dup when small
    gram_rows = doc_tokens(docs, id_col, text_col).select(
        "doc_id", F.posexplode(_gram_hashes(k)).alias("pos", "h"))
    hits = (gram_rows.join(dup, "h", "left_semi")
            .select("doc_id", "pos",
                    F.lit(None).cast("string").alias("tok"),
                    F.lit(1).alias("hit")))
    tok_rows = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
        F.lit(0).alias("hit"),
    ).unionByName(hits)
    # one doc-partitioned range window marks coverage (no k-times explode);
    # the per-doc aggregation below reuses its partitioning — no exchange
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rangeBetween(-(k - 1), 0))
    flagged = tok_rows.select(
        "doc_id", "pos", "tok", F.max("hit").over(w).alias("covered")
    ).filter(F.col("tok").isNotNull())
    rebuilt = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("covered").alias("n_rm"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("covered") == 0, F.struct("pos", "tok")))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    # empty docs emit no token rows; restore them with a doc-level join
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tok", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_rm", F.lit(0)).alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
