"""Physical-plan shape pins: the scale claims PLANS.md makes in prose,
enforced — zero-shuffle operators stay zero-shuffle, top-k stays
TakeOrdered, quadratic joins stay bucketed (no cartesian products)."""
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(df) -> int:
    p = _plan(df)
    return p.count("Exchange") - p.count("BroadcastExchange")


def _docs(spark, n=8):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} token stream") for i in range(n)],
        "doc_id long, text string")


def _emb(spark, n=8, dim=4):
    return spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.0, float(i)]) for i in range(n)],
        "vec_id long, embedding array<float>")


def test_html_main_content_zero_shuffles(spark):
    from sparkstract.functions.html import strip_boilerplate
    docs = _docs(spark)
    out = docs.select("doc_id",
                      strip_boilerplate(F.col("text")).alias("main"))
    assert _shuffles(out) == 0


def test_chunk_documents_zero_shuffles(spark):
    from sparkstract.operators.sampling import chunk_documents
    out = chunk_documents(_docs(spark), window=4, stride=3)
    assert _shuffles(out) == 0


def test_kmeans_assignment_zero_shuffles(spark):
    from sparkstract.operators.similarity import kmeans_assign
    cents = [(0, [0.0, 1.0, 0.0, 0.0]), (1, [2.0, 1.0, 0.0, 4.0])]
    out = kmeans_assign(_emb(spark), cents)
    assert _shuffles(out) == 0


def test_bm25_topk_is_take_ordered(spark):
    from sparkstract.operators.search import bm25_topk
    out = bm25_topk(_docs(spark), ["alpha", "beta"], topk=3)
    assert "TakeOrderedAndProject" in _plan(out)


def test_pack_sequences_single_shuffle(spark):
    from sparkstract.operators.packing import pack_sequences
    chunks = spark.createDataFrame(
        [(i, 0, 10) for i in range(8)],
        "doc_id long, chunk_id long, n_tokens int")
    out = pack_sequences(chunks, budget=25, n_buckets=4)
    assert _shuffles(out) == 1


def test_bucketed_pair_joins_never_cartesian(spark):
    from sparkstract.operators.dedup import minhash_match
    from sparkstract.operators.similarity import kmeans_fit, semdedup
    emb = _emb(spark)
    cents = kmeans_fit(emb, k=2, iters=1)
    for df in (semdedup(emb, cents, threshold=0.5),
               minhash_match(_docs(spark), _docs(spark), num_hashes=8)):
        p = _plan(df)
        assert "CartesianProduct" not in p


def test_minhash_match_scans_corpus_signatures_once(spark):
    """The corpus signature table feeds three consumers; the persist must
    show up as InMemoryTableScan in every branch instead of re-running
    the shingle→minhash pipeline per consumer."""
    from sparkstract.operators.dedup import minhash_match

    corpus = _docs(spark, 12)
    new = _docs(spark, 2).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100))
    out = minhash_match(new, corpus, num_hashes=4, bands=2)
    out.collect()  # materialize the persist
    p = _plan(out)
    assert p.count("InMemoryTableScan") >= 2


def test_default_work_frame_spreads_over_every_core_slot(spark, fixture_set):
    """The kernel stage gets one partition per core slot at the default
    config, on both media-join plans. Without an explicit count AQE sizes the
    salt shuffle by its small key rows and coalesces it to one partition."""
    from sparkstract.config import ExtractConfig
    from sparkstract.plans.pipeline import _work_frame

    docs, media, _ = fixture_set.to_spark(spark)
    slots = spark.sparkContext.defaultParallelism
    for cfg in (ExtractConfig(), ExtractConfig(broadcast_media_max_rows=0)):
        work, _ = _work_frame(docs, media, cfg)
        assert work.rdd.getNumPartitions() == slots
        rows = work.count()
        used = work.select(F.spark_partition_id()).distinct().count()
        assert used >= min(rows, slots)
