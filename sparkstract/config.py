"""Frozen job configuration.

The reference exposes ~600 mutable runtime params via SetVariable
(/root/reference/include/tesseract/baseapi.h:202, src/ccutil/params.cpp).
We keep the Spark-side analog deliberately small and *frozen*: a dataclass
captured into the UDF closures at plan-build time (broadcast by Spark's task
serialization), so every executor sees identical, immutable settings —
determinism is part of the north rule.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    # parallelism: number of partitions for the page-work stage. The work unit
    # is (doc_id, offset) — one media span — NOT the doc, which is exactly the
    # salting that spreads a media-heavy doc (axis B) across many tasks.
    work_partitions: int = 0  # 0 → one per core slot (defaultParallelism)
    # media join plan switch, not a threshold: non-zero broadcasts the media
    # table (test scale / small dims); 0 hash-shuffles the join on media_ref
    # (at 100 TB the media side is the big one). No row count is taken.
    broadcast_media_max_rows: int = 10_000
    # recognition on/off — off mirrors AnalyseLayout (baseapi.cpp:1298):
    # layout + order + kinds, text left null
    recognize: bool = True
    # restrict analysis to a sub-rectangle of every page, (left, top, right,
    # bottom) exclusive-right/bottom in pixels — SetRectangle
    # (/root/reference/src/api/baseapi.cpp:949). None → whole page.
    crop: tuple[int, int, int, int] | None = None
    # right-to-left page order: columns read rightmost-first (the reference
    # reflects the y-axis for RTL scripts, src/textord/colfind.cpp:347-354;
    # behavior pinned by the Hebrew case in unittest/layout_test.cc:215-236).
    # Like the reference, direction comes from config (the loaded language),
    # not per-page inference.
    rtl: bool = False
    # page segmentation mode (PageSegMode, include/tesseract/publictypes.h:
    # 163-183; gates at src/textord/textord.cpp:224-231): 'auto' runs full
    # layout analysis; 'single_column' keeps block/heading structure but
    # skips column/table finding; 'single_block' assumes one uniform text
    # block; 'single_line' treats the page as one text line.
    psm: str = "auto"
    # restrict recognition to these characters (SetBlackAndWhitelist,
    # /root/reference/src/api/baseapi.cpp:1338): decode picks the nearest
    # whitelisted glyph. None → full glyph set.
    char_whitelist: str | None = None
    # C11 recognizer strategy (operators/recognizer.py): 'template' = the
    # shared-LUT hamming matcher; 'model' = the trained MLP pack loaded
    # from fixtures/recognizer_weights.npz; 'model-degraded' = the second
    # pack retrained with degradation-harvested cells (the fast-vs-best
    # .traineddata analog) — choosing which model the reference loads
    # (TessdataManager, src/ccmain/tessedit.cpp). All emit the same cost
    # currency, so every downstream stage (beam, dict, OSD retries) is
    # strategy-independent.
    recognizer: str = "template"
    # undecodable media policy. 'span' (default): emit ONE auditable
    # kind='decode_error' block carrying the exception text and keep going —
    # the reference's page driver likewise skips a failed page and continues
    # (ProcessPagesInternal, /root/reference/src/api/baseapi.cpp:1731); at
    # 10^12 docs a single corrupt image must never kill the job, and a
    # flagged span (unlike a silent skip) keeps the drop auditable
    # downstream. 'fail': raise, failing the task — for tests/CI where a
    # corrupt fixture IS the bug.
    decode_errors: str = "span"
