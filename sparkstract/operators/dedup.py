"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a documents table
(doc_id, text). All are pure DataFrame ops (no Python UDFs): hashing uses
md5 so every step has a bit-identical DuckDB oracle.

Scale notes (100 TB):
  * exact: one shuffle on the fingerprint — map-side partial agg applies.
  * minhash-lsh: shuffles on (doc_id) for the signature min, then on
    (band, key); band buckets bound the pair fan-out, so no O(n^2) pair
    blow-up. ONE signature pass: the bucket cap is a count(1) window over
    (band, key) ahead of collect_list, on the same exchange, not a
    semi-join whose build side re-runs shingle→md5→min. The window buffer
    spills; the collect buffer sees only capped buckets. Each doc is
    tokenized once (`word_grams` over a projected token column).
  * simhash: per-doc bit aggregation, one shuffle; near-dup candidates by
    banding the 32-bit signature into 4 bytes (Hamming <= r guarantee).
  * ngram-jaccard: exact verifier for candidate pairs (the expensive path —
    run it only on LSH/banding survivors at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import (
    fingerprint,
    hex_prefix_to_long,
    hex_slice_to_long,
    tokens,
    word_grams,
)

_HASH_MOD = 1 << 32


def spread(docs: DataFrame, partitions: int | None = None) -> DataFrame:
    """Re-spread a small scan across the cluster. A tiny parquet file arrives
    as ONE input partition, serializing every downstream expression onto one
    core. CONDITIONAL: repartition is always a full round-robin shuffle of
    the corpus text, so when the scan already has enough splits (any real
    100 TB input does) this is a no-op — the shuffle only happens for
    under-partitioned test-scale inputs."""
    n = partitions or docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= n:
        return docs
    return docs.repartition(n)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (canonicalized) docs: fingerprint, group size,
    and the kept representative (min id)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def doc_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, toks): each doc's lowercase tokens, projected once for the
    shingle builders (see `word_grams`)."""
    return spread(docs).select(F.col(id_col).alias("doc_id"),
                               tokens(F.lower(F.col(text_col))).alias("toks"))


def word_ngrams(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, ngram).

    Distinctness is per-doc by construction (doc_id is in the pair), and
    each doc arrives as ONE input row — so `array_distinct` before the
    explode dedups row-locally and the corpus-wide `.distinct()` shuffle
    a (doc_id, ngram) Exchange would cost is never paid."""
    return doc_tokens(docs, id_col, text_col).select(
        "doc_id", F.explode(F.array_distinct(word_grams(F.col("toks"), n)))
        .alias("ngram"))


def word_ngrams_with_dups(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Like word_ngrams but WITHOUT the distinct: min-aggregations are
    idempotent over duplicates, so minhash skips that whole shuffle."""
    return doc_tokens(docs, id_col, text_col).select(
        "doc_id", F.explode(word_grams(F.col("toks"), n)).alias("ngram"))


def minhash_signatures(docs: DataFrame, num_hashes: int = 16, n: int = 3) -> DataFrame:
    """MinHash signature per doc via a Carter-Wegman family over ONE md5 per
    shingle: h1/h2 = two 32-bit slices of md5(ngram), hash_i = (h1 + i*h2)
    mod 2^32. One hash computation feeds all `num_hashes` permutations (the
    classic (a + i*b) universal-hash trick), and md5 keeps every step
    bit-identical in the DuckDB oracle."""
    grams = word_ngrams_with_dups(docs, n=n)
    md5 = F.md5("ngram")
    h1 = hex_slice_to_long(md5, 0, 8)
    h2 = hex_slice_to_long(md5, 8, 8)
    hashed = grams.select(
        "doc_id",
        *[((h1 + F.lit(i) * h2) % F.lit(_HASH_MOD)).alias(f"h{i}")
          for i in range(num_hashes)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(num_hashes)]
    )


def _band_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, key) — LSH band keys from a minhash_signatures frame:
    key = md5 of the band's joined signature components (row-local explode,
    no shuffle)."""
    rows = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws("|", *cols)).alias("key"))
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))


def _capped_buckets(banded: DataFrame, item, max_bucket: int) -> DataFrame:
    """(band, key, ids): the sorted `item`s of every (band, key) bucket of
    2..max_bucket rows. The cap is COUNT-FIRST: a count window over
    (band, key) filters the rows before `collect_list` sees them, so a
    degenerate bucket's full array never sits in one aggregation buffer
    (executor OOM at exactly the corpus the cap exists for), and the
    window's row buffer spills. Window and collect share one exchange, and
    the banded frame is computed once (a semi-join of a count aggregate
    back onto it would run its whole signature pipeline twice)."""
    n = F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
    return (
        banded.withColumn("_n", n)
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(item)).alias("ids"))
    )


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                      n: int = 3, max_bucket: int = 64) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band (rows = hashes per
    band). Returns (doc_a, doc_b, n_bands) with doc_a < doc_b.

    Implemented as a bucket AGGREGATION, not a self-join: a self-join of the
    banded signatures recomputes the whole shingle→signature pipeline for
    both sides (two full input scans). Grouping by (band, key) and emitting
    in-bucket pairs computes signatures once and shuffles only (band, key,
    doc_id). Bucket pair fan-out is quadratic in bucket size by LSH
    *semantics* (those docs are all candidate dups of each other), so
    `max_bucket` ENFORCES the "run exact dedup first" contract: a bucket
    bigger than that is a pile of (near-)identical docs the exact pass owns,
    and emitting its k²/2 pairs (one giant collect_list row + a quadratic
    explode) is how an executor OOMs at 100 TB. Oversized buckets are
    dropped, not truncated — use `lsh_bucket_stats` to audit what was
    dropped before trusting a run on a new corpus.

    Buffer discipline: the cap is applied COUNT-FIRST (`_capped_buckets`),
    so no aggregation buffer ever holds an oversized bucket's array.
    """
    sig = minhash_signatures(docs, num_hashes=num_hashes, n=n)
    buckets = _capped_buckets(_band_keys(sig, num_hashes, bands),
                              F.col("doc_id"), max_bucket)
    # all ordered pairs within a bucket via a row-local cartesian (two
    # Generate nodes — stays in whole-stage codegen, unlike nested
    # higher-order slice/transform expressions)
    pairs = (
        buckets.select("band", F.explode("ids").alias("doc_a"), "ids")
        .select("band", "doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    # a doc has one key per band, so a pair meets at most once per band
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def lsh_bucket_stats(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                     n: int = 3, max_bucket: int = 64) -> DataFrame:
    """Audit companion to `minhash_lsh_pairs`: one row per OVERSIZED
    (band, key) bucket that the cap dropped, with its size — the "log what
    was dropped" side channel. A non-empty result means exact dedup was not
    run first (those docs are byte-identical clusters) or the corpus has a
    degenerate shingle distribution worth inspecting."""
    sig = minhash_signatures(docs, num_hashes=num_hashes, n=n)
    return (
        _band_keys(sig, num_hashes, bands).groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def simhash(docs: DataFrame, bits: int = 32, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """SimHash signature per doc over whitespace tokens.

    Token hash = first 8 hex chars of md5 → 32-bit int (portable to DuckDB).
    Bit j of the signature = sign of sum over tokens of (+1 if bit set else -1),
    ties (sum == 0) resolve to 0.
    """
    tok = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    hashed = tok.select("doc_id", hex_prefix_to_long(F.md5("tok"), 8).alias("h"))
    bitted = hashed.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
        "h",
    ).select(
        "doc_id", "j",
        F.expr("CASE WHEN shiftright(h, CAST(j AS INT)) & 1 = 1 "
               "THEN 1 ELSE -1 END").alias("v"),
    )
    return (
        bitted.groupBy("doc_id", "j")
        .agg(F.sum("v").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0,
                       F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )


def simhash_near_dup_pairs(docs: DataFrame, bits: int = 32, bands: int = 4,
                           max_hamming: int = 3,
                           max_bucket: int = 64) -> DataFrame:
    """Near-dup pairs from SimHash signatures via hamming BANDING: split the
    `bits`-bit signature into `bands` equal byte-bands; by pigeonhole, two
    signatures within `max_hamming` (< bands) differ in at most max_hamming
    bands, so they MUST agree on at least one band — candidates are pairs
    sharing any exact band value, verified with an exact popcount on the
    XOR. Same bucket-aggregation shape (and the same oversized-bucket cap)
    as minhash_lsh_pairs: one signature computation, shuffles only
    (band, key, doc_id), no all-pairs join. Returns
    (doc_a, doc_b, hamming) with doc_a < doc_b."""
    assert bits % bands == 0
    # pigeonhole completeness REQUIRES max_hamming < bands: with h >= bands
    # differing bits a pair can miss every band, silently losing qualifying
    # pairs — refuse the config instead
    assert max_hamming < bands
    width = bits // bands
    mask = (1 << width) - 1
    sig = simhash(docs, bits=bits)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.expr(f"shiftright(simhash, {b * width}) & {mask}")
                 .alias("key"))
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", "simhash",
             F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    buckets = _capped_buckets(banded, F.struct("doc_id", "simhash"),
                              max_bucket)
    pairs = (
        buckets.select("band", F.explode("ids").alias("a"), "ids")
        .select("band", "a", F.explode("ids").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .alias("hamming"))
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def winnow_fingerprints(docs: DataFrame, k: int = 5, window: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 — the
    standard LOCAL fingerprinting behind large-scale copy detection): hash
    every word k-gram, slide a window of `window` consecutive hashes, keep
    each window's minimum. Guarantee: any shared token run of length
    >= k + window - 1 contributes at least one common fingerprint, so
    near-dup detection needs only an equi-join on fp — no pair enumeration.
    Returns distinct (doc_id, fp). One posexplode + one doc-partitioned
    window pass: at 100 TB the only shuffle is on doc_id and the window is
    partition-local."""
    pos = (
        doc_tokens(docs, id_col, text_col)
        .select("doc_id",
                F.posexplode(word_grams(F.col("toks"), k)).alias("i", "ngram"))
        .select("doc_id", "i", hex_prefix_to_long(F.md5("ngram"), 8).alias("h"))
    )
    w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, window - 1)
    return (
        pos.select("doc_id",
                   F.min("h").over(w).alias("fp"),
                   F.count(F.lit(1)).over(w).alias("n_in_win"))
        .filter(F.col("n_in_win") == window)  # complete windows only
        .select("doc_id", "fp")
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.4,
                        max_df: int = 1000) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1 shingle.
    At scale this runs only on LSH candidates; here it is also the oracle-able
    exact form. Returns (doc_a, doc_b, jaccard) above threshold.

    `max_df` is the standard document-frequency cap: a stop-shingle shared
    by k docs builds a k-sized bucket and emits k²/2 pairs — for a common
    trigram k approaches corpus size, a quadratic blow-up no cluster
    absorbs. Shingles with df > max_df carry ~zero similarity signal (they
    are the corpus's stop-grams) and are dropped from BOTH the pairing and
    the per-doc sizes, so the Jaccard stays a true Jaccard over the
    informative shingle set."""
    grams = word_ngrams(docs, n=n)
    # df filter FIRST and COUNT-FIRST: count per ngram, drop stop-shingles,
    # semi-join survivors back, and only then build the (now max_df-bounded)
    # bucket arrays — a stop-gram's corpus-sized id list never touches an
    # aggregation buffer. Sizes are counted over the same surviving shingles
    # so the Jaccard stays a true Jaccard over the informative set.
    ok = (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("ngram")
    )
    kept = grams.join(ok, "ngram", "left_semi")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    buckets = (
        kept.groupBy("ngram")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    common = (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("n_grams", "ga"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_grams", "gb"), "doc_b")
        .withColumn("jaccard",
                    F.round(F.col("n_common") /
                            (F.col("ga") + F.col("gb") - F.col("n_common")), 6))
        .filter(F.col("jaccard") >= threshold)
        # containment (Broder's resemblance companion): |A∩B| / |A| — a doc
        # EMBEDDED in a larger one has low Jaccard but containment ≈ 1; the
        # quote/subset-duplication signal a symmetric score misses
        .withColumn("containment_a",
                    F.round(F.col("n_common") / F.col("ga"), 6))
        .withColumn("containment_b",
                    F.round(F.col("n_common") / F.col("gb"), 6))
        .select("doc_a", "doc_b", "jaccard", "containment_a", "containment_b")
    )


def minhash_match(new_docs: DataFrame, corpus: DataFrame,
                  num_hashes: int = 16, bands: int = 4, n: int = 3,
                  max_bucket: int = 1024) -> DataFrame:
    """Incremental (cross-corpus) near-dup matching: which NEW documents
    collide with the EXISTING corpus — the ingest-time dedup gate a crawl
    pipeline runs before admitting a batch, where the within-corpus pair
    emitters don't apply. Both sides get signatures from the SAME hash
    family, so band keys are directly comparable; candidates are the
    (new, corpus) band-key equi-join — never new x new or corpus x corpus
    pairs — then every candidate is scored by full-signature agreement
    (n_sig_match of num_hashes equal components ≈ Jaccard * num_hashes).

    Scale shape: the corpus side is banded ONCE (at production scale the
    banded keys are a precomputed index table; the join is then new-batch
    x index on (band, key) — broadcast when the batch is small). Hot
    corpus buckets are dropped count-first by `max_bucket` (a new doc
    matching a degenerate bucket would fan out k-fold) — audit with
    lsh_bucket_stats. Returns (new_id, doc_id, n_bands, n_sig_match)."""
    sig_n = minhash_signatures(new_docs, num_hashes=num_hashes, n=n)
    # the corpus signature table feeds THREE consumers (band keys, the
    # count-first bucket filter, the final agreement join); unpersisted,
    # each re-runs the whole shingle→minhash pipeline. At production scale
    # this frame IS the precomputed index table — persisting here is the
    # in-session stand-in for reading it back.
    sig_c = minhash_signatures(corpus, num_hashes=num_hashes, n=n).persist()
    bn = _band_keys(sig_n, num_hashes, bands).withColumnRenamed(
        "doc_id", "new_id")
    bc = _band_keys(sig_c, num_hashes, bands)
    ok = (bc.groupBy("band", "key")
          .agg(F.count(F.lit(1)).alias("cnt"))
          .filter(F.col("cnt") <= max_bucket)
          .select("band", "key"))
    cand = (bn.join(bc.join(ok, ["band", "key"], "left_semi"),
                    ["band", "key"])
            .groupBy("new_id", "doc_id")
            .agg(F.countDistinct("band").alias("n_bands")))
    sn = sig_n.select(F.col("doc_id").alias("new_id"),
                      *[F.col(f"mh{i}").alias(f"nh{i}")
                        for i in range(num_hashes)])
    agree = sum(
        F.when(F.col(f"nh{i}") == F.col(f"mh{i}"), 1).otherwise(0)
        for i in range(num_hashes))
    return (cand.join(sn, "new_id").join(sig_c, "doc_id")
            .select("new_id", "doc_id", "n_bands",
                    agree.cast("long").alias("n_sig_match")))


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """CCNet-style cross-document line deduplication (Wenzek et al. 2020
    §4.1: hash every line, drop all but the FIRST occurrence corpus-wide —
    the pass that strips boilerplate like nav bars and cookie banners
    because they repeat across pages). Returns one row per input doc:
    (doc_id, clean_text, n_kept, n_dropped).

    Semantics: lines split on \\n; blank lines are always dropped (CCNet
    does the same); the dedup key is the md5 of the normstrngs-folded
    lowercase line (normalize_text — curly quotes etc. fold before
    hashing) while the KEPT text preserves the original bytes; "first" is
    the smallest (doc_id, pos) — deterministic under any partitioning.

    Scale shape: one corpus scan; the keeper aggregation groups on the
    line-hash key space with map-side combine (a boilerplate line repeated
    a billion times collapses to one row per map task); the keeper frame
    joins back on the same hash key. Reassembly buffers one DOCUMENT's
    kept lines — bounded by the input row itself, the same bound
    chunking has. No windows, no corpus-sized driver state."""
    from ..functions.textstats import normalize_text

    lines = (spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n"))
         .alias("pos", "line"))
        .filter(F.trim("line") != "")
        .withColumn("h", F.md5(normalize_text(F.col("line")))))
    keep = (lines.groupBy("h")
            .agg(F.min(F.struct("doc_id", "pos")).alias("k")))
    flagged = (lines.join(keep, "h")
               .select("doc_id", "pos", "line",
                       ((F.col("k.doc_id") == F.col("doc_id"))
                        & (F.col("k.pos") == F.col("pos"))).alias("kept")))
    agg = (flagged.groupBy("doc_id")
           .agg(F.sum(F.col("kept").cast("long")).alias("n_kept"),
                F.sum((~F.col("kept")).cast("long")).alias("n_dropped"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.when(F.col("kept"),
                                   F.struct("pos", "line")))),
                        lambda s: s["line"]),
                    "\n").alias("clean_text")))
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                     .alias("n_kept"),
                    F.coalesce("n_dropped", F.lit(0)).cast("long")
                     .alias("n_dropped")))
