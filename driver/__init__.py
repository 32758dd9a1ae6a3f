"""The driver's queries, one registry: each query is registered once, in
its area's module, binding its Spark builder to its DuckDB oracle. This
package runs on the driver only; nothing under sparkstract/ imports it,
so nothing here ships to executors.

  pages       page extraction, tables, zones, layout, words and symbols
  renderers   every sinks.py renderer
  media       image features, thumbnails, the decode report
  relational  TPC-H and events aggregates, joins and windows
  curation    dedup, near-dup clusters, splits and the curated corpus
  text        text stats, quality, LM, PII, repetition, HTML, WARC
  sampling    sampling, mixing, chunking, packing, decontamination
  vectors     k-means, ANN, SemDeDup, cosine near-dup, BM25, keywords
  bpe         BPE tokenizer training and use
"""

from driver import (bpe, curation, media, pages, relational,  # noqa: F401
                    renderers, sampling, text, vectors)
from driver.common import REGISTRY

__all__ = ["REGISTRY"]
