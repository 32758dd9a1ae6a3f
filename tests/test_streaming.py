"""Streaming extraction drains a file-source backlog to the same exact spans
as the batch plan (micro-batch == batch semantics per doc)."""

from __future__ import annotations

import pandas as pd


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    return (
        df[["doc_id", "order", "kind", "text", "media_ref"]]
        .fillna({"text": "", "media_ref": ""})
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
    )


def test_stream_matches_truth(spark, fixture_set, tmp_path):
    from sparkstract.sources.docs import write_docs
    from sparkstract.streaming.stream import stream_extract

    docs, media, truth = fixture_set.to_spark(spark)
    docs_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "ckpt")
    write_docs(docs.repartition(3), docs_dir)

    stream_extract(spark, docs_dir, media, out_dir, ckpt,
                   max_files_per_trigger=1, available_now=True)

    got = _norm(spark.read.parquet(out_dir).toPandas())
    want = _norm(truth.toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_stream_event_rollup_matches_batch(spark, tmp_path):
    import pandas as pd

    from pyspark.sql import functions as F
    from sparkstract.streaming.stream import stream_event_rollup

    src = tmp_path / "events_src"
    src.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    for i in range(200):
        rows.append(dict(event_id=i, user_id=f"u{i % 7}",
                         event_type=["click", "view"][i % 2],
                         ts=base + pd.Timedelta(minutes=i * 7),
                         value=float(i) / 10))
    pdf = pd.DataFrame(rows)
    # three source files → three micro-batch admissions (watermark advances
    # between batches; append mode emits a window one batch after it is
    # fully below the watermark). FileStreamSource orders by modification
    # time, so space the writes out — out-of-order files would make the
    # earliest windows arrive beyond the watermark and be dropped (that IS
    # the late-data semantics, but not what this test pins).
    import time as _time

    for lo, hi in ((0, 80), (80, 160), (160, 200)):
        mode = "overwrite" if lo == 0 else "append"
        spark.createDataFrame(pdf.iloc[lo:hi]).coalesce(1).write.mode(mode).parquet(
            str(src / "a.parquet"))
        _time.sleep(1.1)

    out = tmp_path / "out"
    stream_event_rollup(spark, str(src / "a.parquet"), str(out),
                        str(tmp_path / "ckpt"))
    got = spark.read.parquet(str(out))
    batch = (
        spark.read.parquet(str(src / "a.parquet"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    # append mode emits only watermark-finalized windows: every emitted row
    # must match the batch result exactly, and all windows fully below the
    # second batch's watermark (max ts of first 160 rows minus 2h) must be out
    got_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert got_rows <= batch_rows
    finalized_before = (base + pd.Timedelta(minutes=159 * 7)
                        - pd.Timedelta(hours=3))
    must_have = {r for r in batch_rows if r[0] < finalized_before}
    assert must_have, "test setup: expected some finalized windows"
    assert must_have <= got_rows


def test_stream_dedup_keeps_first_copy(spark, tmp_path):
    import pandas as pd

    from sparkstract.streaming.stream import stream_dedup

    src = tmp_path / "docs_src"
    src.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")
    pdf = pd.DataFrame([
        dict(doc_id="d1", text="the quick brown fox", ingest_ts=base),
        dict(doc_id="d2", text="THE  QUICK   BROWN FOX", ingest_ts=base),  # dup fp
        dict(doc_id="d3", text="something else", ingest_ts=base),
        dict(doc_id="d4", text="the quick brown fox", ingest_ts=base),  # dup fp
    ])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(src / "d.parquet"))
    out = tmp_path / "out"
    stream_dedup(spark, str(src / "d.parquet"), str(out), str(tmp_path / "ckpt"))
    got = spark.read.parquet(str(out))
    fps = [r["fp"] for r in got.collect()]
    assert len(fps) == len(set(fps)) == 2  # one row per distinct fingerprint


def test_stream_assemble_docs_cross_batch_state(spark, fixture_set, tmp_path):
    """Custom stateful op: each doc's spans are split across two source
    files (two micro-batches at maxFilesPerTrigger=1), so completion REQUIRES
    carrying state between batches; every doc must be emitted exactly once
    with its spans back in order."""
    import json
    import time as _time

    from sparkstract.plans.pipeline import extract
    from sparkstract.streaming.stream import stream_assemble_docs

    docs, media, _ = fixture_set.to_spark(spark)
    spans = extract(spark, docs, media).toPandas()
    spans["n_spans"] = spans.groupby("doc_id")["order"].transform("size") \
        .astype("int32")
    spans["order"] = spans["order"].astype("int32")
    src = str(tmp_path / "spans_src")
    schema = ("doc_id string, order int, kind string, text string, "
              "media_ref string, n_spans int")
    for i, part in enumerate((spans[spans["order"] % 2 == 0],
                              spans[spans["order"] % 2 == 1])):
        spark.createDataFrame(part, schema).coalesce(1).write \
            .mode("overwrite" if i == 0 else "append").parquet(src)
        _time.sleep(1.1)

    out = str(tmp_path / "docs_out")
    stream_assemble_docs(spark, src, out, str(tmp_path / "ckpt"))

    got = spark.read.parquet(out).toPandas()
    assert len(got) == spans["doc_id"].nunique()          # exactly once each
    assert got["doc_id"].is_unique
    for row in got.itertuples(index=False):
        want = spans[spans["doc_id"] == row.doc_id].sort_values("order")
        assert row.n_spans == len(want)
        assembled = json.loads(row.spans_json)
        assert [s["order"] for s in assembled] == list(want["order"])
        assert [s["kind"] for s in assembled] == list(want["kind"])
        assert [s["text"] for s in assembled] == \
            [None if pd.isna(t) else t for t in want["text"]]


def test_stream_assemble_docs_ttl_flushes_incomplete(spark, tmp_path):
    """Continuous mode (available_now=False): a doc whose declared n_spans
    never fully arrive is flushed by the processing-time TTL with
    complete=false and its state cleared — bounded state on an unbounded
    stream. (The availableNow drain deliberately runs NoTimeout: under
    ProcessingTimeTimeout Spark keeps scheduling state-cleanup batches
    forever and the drain never terminates.)"""
    import time as _time

    from sparkstract.streaming.stream import stream_assemble_docs

    src = str(tmp_path / "spans_src")
    schema = ("doc_id string, order int, kind string, text string, "
              "media_ref string, n_spans int")
    # one doc declaring 3 spans; only 2 ever arrive
    spark.createDataFrame(
        [("d-incomplete", 0, "text", "t0", None, 3),
         ("d-incomplete", 1, "text", "t1", None, 3)], schema
    ).coalesce(1).write.parquet(src)

    out = str(tmp_path / "docs_out")
    q = stream_assemble_docs(spark, src, out, str(tmp_path / "ckpt"),
                             available_now=False, state_ttl_ms=3000)
    try:
        got = None
        for _ in range(60):
            _time.sleep(2)
            try:
                pdf = spark.read.parquet(out).toPandas()
            except Exception:
                continue
            if len(pdf):
                got = pdf
                break
        assert got is not None, "TTL never flushed the incomplete doc"
        assert list(got["doc_id"]) == ["d-incomplete"]
        assert not got["complete"].iloc[0]
        assert got["n_spans"].iloc[0] == 3  # the declared count, unmet
    finally:
        q.stop()


def test_stream_near_dedup_rejects_cross_batch_near_copy(spark, tmp_path):
    import pandas as pd

    from sparkstract.streaming.stream import stream_near_dedup

    src = tmp_path / "near_src"
    src.mkdir()
    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    pd.DataFrame([
        dict(doc_id="a1", text=base_text),
        dict(doc_id="a2", text="one two three four five six seven eight"),
    ]).to_parquet(str(src / "batch_a.parquet"))
    pd.DataFrame([
        dict(doc_id="b1", text=base_text + " lambda"),  # near-copy of a1
        dict(doc_id="b2", text="completely novel content nothing shared x y"),
    ]).to_parquet(str(src / "batch_b.parquet"))
    out, idx = tmp_path / "near_out", tmp_path / "near_idx"
    # maxFilesPerTrigger=1 forces two micro-batches; file order is by
    # path, so batch_a is indexed before batch_b arrives
    stream_near_dedup(spark, str(src), str(out), str(idx),
                      str(tmp_path / "near_ckpt"),
                      max_files_per_trigger=1)
    got = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert got == {"a1", "a2", "b2"}  # the near-copy b1 was rejected
    # the index holds band keys only for admitted docs
    idx_rows = spark.read.parquet(str(idx)).count()
    assert idx_rows == 3 * 4  # 3 admitted docs x 4 bands


def test_stream_warc_ingest_matches_batch_reader(spark, tmp_path):
    """Streaming-vs-batch parity oracle (VERDICT r4 #8): the checkpointed
    streaming WARC ingest over fixture segments must produce EXACTLY the
    batch reader's frame — same kernel, so any divergence would be in the
    streaming plumbing (file listing, trigger batching, parquet append).
    Includes a corrupt member so the tolerant path is part of parity."""
    from tests.test_warc import _recs
    from sparkstract.fixtures.encoders.warc import encode_warc
    from sparkstract.sources.warc import read_warc
    from sparkstract.streaming.stream import stream_warc_ingest

    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "seg-0.warc.gz").write_bytes(
        encode_warc(_recs(), gzip_members=True))
    (warc_dir / "seg-1.warc.gz").write_bytes(
        encode_warc(_recs()[:2], gzip_members=True))
    corrupt = bytearray(encode_warc(_recs()[2:], gzip_members=True))
    corrupt[12] ^= 0xFF  # one damaged member -> one flagged error row
    (warc_dir / "seg-2.warc.gz").write_bytes(bytes(corrupt))

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # maxFilesPerTrigger=1 forces three micro-batches - real arrival shape
    stream_warc_ingest(spark, str(warc_dir), out, ckpt,
                       max_files_per_trigger=1)

    def norm(df):
        pdf = df.toPandas()
        pdf["payload"] = pdf["payload"].map(
            lambda b: None if b is None else bytes(b))
        pdf["source_file"] = pdf["source_file"].str.replace(
            r".*/", "", regex=True)
        return (pdf.sort_values(["source_file", "record_seq"])
                .reset_index(drop=True))

    got = norm(spark.read.parquet(out))
    want = norm(read_warc(spark, str(warc_dir)))
    pd.testing.assert_frame_equal(got, want)
    assert (want["warc_type"] == "parse-error").sum() == 1
    assert len(want) > 7
