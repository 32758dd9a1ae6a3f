"""Structured Streaming variant of the extraction job.

The reference's streaming-shaped machinery is the DocumentCache read-ahead
over a page stream (/root/reference/src/ccstruct/imagedata.h:288) — a
memory-bounded producer/consumer. The Spark-native recast: docs arrive as
files in a directory (or a Kafka topic in production); each micro-batch runs
the SAME batch plan via foreachBatch and appends to the output sink.

Why foreachBatch instead of a pure streaming plan: the ordered per-doc
reassembly (A11) is a full-doc aggregation — legal in streaming only with
watermark + complete/update modes, but a doc's spans all arrive in one row
(the docs table is one row per doc), so per-batch batch-semantics are exact,
not an approximation. `maxFilesPerTrigger` bounds admission exactly like the
reference's memory-bounded cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import ExtractConfig
from ..sources.docs import DOCS_SCHEMA
from ..plans.pipeline import extract


def stream_extract(
    spark: SparkSession,
    docs_dir: str,
    media: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig | None = None,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Start (and by default drain) a file-source streaming extraction.

    Returns the StreamingQuery. With available_now=True the call blocks until
    the backlog is processed — the deterministic mode used in tests.
    """
    cfg = cfg or ExtractConfig()
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        result = extract(batch_df.sparkSession, batch_df, media, cfg)
        result.write.mode("append").parquet(out_dir)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_event_rollup(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Watermarked windowed aggregation over a stream of (ts, event_type,
    value) rows: counts + sums per (event-time window, type), append mode.

    The streaming analog of the reference's progress/metrics monitor
    (ETEXT_DESC, include/tesseract/ocrclass.h): late rows within the
    watermark still land in their window; older ones are dropped and the
    window finalizes — which is what lets append mode emit each window
    exactly once at 10^12-row scale.
    """
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(
            "event_id long, user_id string, event_type string, "
            "ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_assemble_docs(
    spark: SparkSession,
    spans_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    state_ttl_ms: int = 600_000,
):
    """Custom stateful streaming operator (applyInPandasWithState): the
    streaming form of the A11 ordered doc reassembly. Span rows of one doc
    may arrive across micro-batches (pages finish out of order on a real
    cluster); per-doc state accumulates (order, kind, text, media_ref) until
    the doc's declared n_spans have all arrived, then the completed doc is
    emitted exactly once (complete=true) and its state dropped.

    State is bounded by a processing-time TTL in the CONTINUOUS mode
    (available_now=False — the unbounded-stream deployment): a doc whose
    declared spans never fully arrive (dropped span, inconsistent count)
    would otherwise pin its accumulated state forever. After `state_ttl_ms`
    without new rows the doc is emitted as-is with complete=false and its
    state cleared — the self-clearing property the reference's cross-page
    adaptive-classifier state (/root/reference/src/ccmain/control.cpp:585-597)
    lacks and the north rule requires at 10^12-doc scale.

    The available_now=True drain intentionally runs NoTimeout instead:
    FlatMapGroupsWithStateExec.shouldRunAnotherBatch is unconditionally true
    under ProcessingTimeTimeout (a later batch might expire more timeouts),
    so an availableNow trigger would spin empty "cleaning up state"
    micro-batches forever and never terminate (measured, Spark 4.1). A
    drain's state is bounded by the drain itself, so the TTL adds nothing
    there.

    Input schema: (doc_id, order, kind, text, media_ref, n_spans).
    Output: (doc_id, n_spans, spans_json, complete), spans ordered by `order`.
    """
    import json

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    use_ttl = not available_now

    stream = (
        spark.readStream.schema(
            "doc_id string, order int, kind string, text string, "
            "media_ref string, n_spans int")
        .option("maxFilesPerTrigger", 1)
        .parquet(spans_dir)
    )

    def assemble(key, pdfs, state: GroupState):
        rows: list[list] = []
        if state.exists:
            (pending,) = state.get
            rows = json.loads(pending)

        def emit(complete: bool):
            rows.sort(key=lambda x: x[0])
            spans = [dict(order=o, kind=k, text=t, media_ref=m)
                     for o, k, t, m, _n in rows]
            want = rows[0][4] if rows else 0
            state.remove()
            return pd.DataFrame([dict(doc_id=key[0], n_spans=want,
                                      spans_json=json.dumps(spans),
                                      complete=complete)])

        if state.hasTimedOut:
            # TTL expired with the doc still incomplete: flush what arrived,
            # flagged, so downstream can route it to a repair/retry pass
            yield emit(False)
            return
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                rows.append([
                    int(r.order), r.kind,
                    None if pd.isna(r.text) else r.text,
                    None if pd.isna(r.media_ref) else r.media_ref,
                    int(r.n_spans),
                ])
        want = rows[0][4] if rows else 0
        if rows and len(rows) >= want:
            yield emit(True)
        else:
            state.update((json.dumps(rows),))
            if use_ttl:
                state.setTimeoutDuration(state_ttl_ms)

    assembled = stream.groupBy("doc_id").applyInPandasWithState(
        assemble,
        "doc_id string, n_spans int, spans_json string, complete boolean",
        "pending string",
        "append",
        GroupStateTimeout.ProcessingTimeTimeout if use_ttl
        else GroupStateTimeout.NoTimeout,
    )
    writer = (
        assembled.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_dedup(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """Stateful streaming exact-dedup: keep the first doc per content
    fingerprint, drop later copies. Spark's stateful dropDuplicates keeps
    the fingerprint set in the state store; the ingest-time watermark bounds
    state (a fingerprint older than the watermark can be evicted), which is
    the knob that makes the operator viable on an unbounded crawl stream.
    """
    from pyspark.sql import functions as F

    from ..functions.textstats import fingerprint

    stream = (
        spark.readStream.schema("doc_id string, text string, ingest_ts timestamp")
        .parquet(docs_dir)
    )
    deduped = (
        stream.withColumn("fp", fingerprint(F.col("text")))
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_near_dedup(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Streaming NEAR-dup admission gate — the crawl-ingest form of
    minhash_match: each micro-batch's docs are banded with the same
    Carter-Wegman MinHash family and matched against the persisted
    band-key INDEX; any band collision rejects the doc, survivors are
    appended to the output AND their band keys to the index. The index
    grows only by admitted docs, so a later near-copy of anything ever
    admitted is rejected — cross-batch near-dedup without holding
    signatures in stream state (the index is a plain table, at production
    scale the same precomputed Iceberg index minhash_match documents).

    foreachBatch because the gate needs a batch join against the index
    table (a stream-static join can't append to its own static side).
    Within one micro-batch, docs are matched against the index as-of the
    batch start — two near-copies arriving in the SAME batch are both
    admitted (the micro-batch is the atomicity unit; run batch-internal
    dedup upstream if that matters)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import _band_keys, minhash_signatures

    def process_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        banded = _band_keys(
            minhash_signatures(batch_df, num_hashes=num_hashes),
            num_hashes, bands)
        try:
            idx = spark.read.parquet(index_dir)
        except Exception:
            idx = spark.createDataFrame([], "band int, key string")
        hits = (banded.join(idx.select("band", "key"), ["band", "key"],
                            "left_semi")
                .select("doc_id").distinct())
        admitted = batch_df.join(hits, "doc_id", "left_anti")
        admitted.write.mode("append").parquet(out_dir)
        (banded.join(hits, "doc_id", "left_anti")
         .select("band", "key")
         .write.mode("append").parquet(index_dir))

    stream = spark.readStream.schema("doc_id string, text string")
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = stream.parquet(docs_dir)
    writer = (stream.writeStream.foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_warc_ingest(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_payload: int = 1 << 20,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Continuous crawl ingest: a binaryFile file-source stream over a
    directory that receives .warc(.gz) segments, parsed record-wise by the
    same map-only kernel the batch reader uses (sources/warc.py) and
    appended as parquet. The checkpoint makes segment processing
    exactly-once across restarts — the shape of a crawler that drops
    finished segments into object storage while extraction tails them.

    Returns the StreamingQuery; available_now=True drains the backlog and
    blocks (the deterministic mode used in tests)."""
    from ..sources.warc import WARC_SCHEMA, warc_kernel

    stream = (
        spark.readStream.format("binaryFile")
        # streaming sources need the schema stated; binaryFile's is fixed
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(warc_dir)
        .select("path", "content")
    )

    records = stream.mapInPandas(warc_kernel(max_payload),
                                 schema=WARC_SCHEMA)
    writer = (
        records.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
