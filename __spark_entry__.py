"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: interleave sf0.001 documents with synthetic media
pages and run the full extraction pipeline.

`queries()` / `oracle_sql()` — one entry per implemented operator family
(SURVEY.md §2 + training-data ops), both derived from the one registry in
the `driver` package, where each query is declared once with its DuckDB
twin. Extraction queries are oracled with VALUES literals generated from
the fixture truth (the input docs table is synthesized deterministically —
no external data). Relational/dedup/ANN/text queries run on the driver's
parquet tables with exact DuckDB twins.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from driver import REGISTRY  # noqa: E402
from driver.common import table  # noqa: E402
from sparkstract.plans.pipeline import extract  # noqa: E402

# The order of queries() and oracle_sql(). The driver's correctness run
# samples the front of queries(), so the queries its last run
# (CORRECTNESS_r05.json) did not check come first; rotating the sample is
# an edit of this tuple. No query depends on the order: each builds what
# it reads, and the pair frame and the k-means and BPE models rebuild on a
# cache miss.
RUN_ORDER = (
    "semdedup_cluster_audit",
    "lm_doc_nll",
    "perplexity_buckets",
    "lsh_recall_audit",
    "quality_classifier",
    "split_leak_audit",
    "cms_heavy_hitters",
    "decontaminate_bloom",
    "html_main_content",
    "html_main_content_ctx",
    "warc_ingest",
    "fix_mojibake",
    "html_metadata",
    "repetition_stats",
    "gopher_stats",
    "pii_scrub",
    "text_stats",
    "quality_score",
    "ann_brute_topk",
    "ann_ivf_topk",
    "cosine_near_dup",
    "cosine_lsh",
    "cosine_label_audit",
    "render_text",
    "render_tsv",
    "render_hocr",
    "render_alto",
    "render_page_xml",
    "paragraphs",
    "bidi_order",
    "image_features",
    "media_decode_report",
    "thumbnails",
    "layout_geometry",
    "extract_words",
    "extract_symbols",
    "render_box",
    "render_unlv",
    "render_tsv_levels",
    "render_hocr_words",
    "render_alto_words",
    "render_page_xml_words",
    "render_pdf",
    "bpe_merges",
    "bpe_tokens",
    "bpe_fertility",
    "contamination_report",
    "line_dedup",
    "snapshot_diff",
    # checked by CORRECTNESS_r05.json
    "extract_spans",
    "extract_spans_model",
    "extract_spans_model_degraded",
    "extract_rtl",
    "extract_bidi",
    "table_cells",
    "table_structure",
    "zone_override",
    "layout_blocks",
    "event_sessions",
    "top_parts_by_brand",
    "pricing_summary",
    "revenue_by_nation",
    "quantity_quartiles",
    "event_median",
    "user_event_sequence",
    "top1_event_per_user",
    "events_hourly",
    "customers_without_orders",
    "priority_late_orders",
    "returnflag_rollup",
    "dedup_exact",
    "dedup_exact_norm",
    "minhash_lsh_pairs",
    "lsh_bucket_audit",
    "dup_clusters",
    "cluster_split",
    "training_samples",
    "curated_corpus",
    "simhash",
    "simhash_near_dup",
    "winnow_fp",
    "ngram_jaccard",
    "decontaminate",
    "stratified_sample",
    "weighted_mixture",
    "chunk_docs",
    "vocab_topk",
    "strip_substrings",
    "source_quota",
    "importance_scores",
    "kmeans",
    "ann_ivf_kmeans_topk",
    "ann_pq_topk",
    "semdedup",
    "bm25_topk",
    "doc_keywords",
    "corpus_report",
    "pack_sequences",
    "minhash_match",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction over an interleaved docs table whose text spans
    come from sf0.001 documents, with synthetic media pages spliced in."""
    sf_dir = "/root/testdata/sf0.001"
    d = table(spark, sf_dir, "documents").orderBy("doc_id").limit(4).collect()
    from sparkstract.fixtures.gen import _Builder  # deterministic builder

    b = _Builder(seed=7)
    for row in d:
        b.add_doc(f"td-{row['doc_id']}", [
            ("text", row["text"][:120]),
            ("media", "single_column"),
            ("text", row["text"][120:240] or "TAIL"),
        ])
    fs = b.build()
    docs, media, _ = fs.to_spark(spark)
    return extract(spark, docs, media)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].build for name in RUN_ORDER}


def oracle_sql() -> dict[str, str]:
    return {name: REGISTRY[name].oracle() for name in RUN_ORDER}
