"""Deterministic corpus sampling, mixture weighting, chunking, and
vocabulary ops for training-data pipelines.

The sampling/mixing pair is the standard pre-training data recipe (The
Pile / Gopher / Dolma all publish per-source mixture weights): downsample
over-represented strata, oversample scarce high-quality ones by an
"epochs" factor. Both are DETERMINISTIC — the keep/copy decision is a pure
function of (salt, doc_id) via md5, so a re-run, a retried task, or a
different cluster produces the same corpus. `F.rand()` would not survive
task retry (Spark re-seeds per task attempt) and has no DuckDB twin; the
md5 construction is bit-identical in both engines.

Chunking is the LM training-sample prep step: fixed token windows with a
stride (overlap = window - stride keeps context across boundaries, GPT-2
style). Vocabulary is the df/tf table behind tokenizer training and
stop-list derivation.

Scale shape (100 TB):
  * stratified_sample: zero shuffles — a filter on a hash expression,
    whole-stage codegen, predicate stays with the scan.
  * weighted_mixture: zero shuffles — explode of a per-row sequence
    bounded by ceil(max weight); output size = sum of weights, known
    upfront.
  * chunk_documents: zero shuffles — per-doc explode; a doc's chunk count
    is len/stride, so output rows ~= corpus tokens / stride. No window
    function, no cross-doc state.
  * vocab_topk: one shuffle on token for the count (map-side partial agg
    absorbs stop-word skew: each map task emits ONE row per distinct
    token); n_docs uses count(DISTINCT doc_id) which Spark plans as a
    two-phase partial-distinct aggregate — the (token, doc_id) pairs are
    deduped map-side before the exchange. Top-k is orderBy+limit =
    TakeOrdered (per-partition heap, no global sort shuffle).

No reference analog (the reference is an OCR engine); this module belongs
to the LLM-data-pipeline family beside operators/dedup.py and decontam.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import hex_prefix_to_long, tokens

_U32_MOD = 1 << 32


def _u32(key: Column) -> Column:
    """Uniform uint32 from a string key: first 8 hex chars of md5.
    DuckDB twin: DD_HEX2LONG in driver/common.py."""
    return hex_prefix_to_long(F.md5(key), 8)


def _salted_key(salt: str, id_col: str) -> Column:
    return F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))


def _case_literal(table: dict[str, float], default: float, strata_col: str,
                  to_int) -> Column:
    """CASE strata WHEN s THEN to_int(rate) ... ELSE to_int(default).
    Values are integer literals so the oracle can embed the exact same
    numbers — no float-rounding drift between engines."""
    expr: Column | None = None
    for s, rate in sorted(table.items()):
        v = F.lit(to_int(rate))
        expr = (F.when(F.col(strata_col) == s, v) if expr is None
                else expr.when(F.col(strata_col) == s, v))
    dflt = F.lit(to_int(default))
    return dflt if expr is None else expr.otherwise(dflt)


def rate_threshold(rate: float) -> int:
    """Keep-probability → u32 comparison threshold (capped at 2^32)."""
    return min(int(rate * _U32_MOD), _U32_MOD)


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      default_rate: float = 1.0, strata_col: str = "source",
                      id_col: str = "doc_id",
                      salt: str = "strata") -> DataFrame:
    """Keep each doc with its stratum's probability, deterministically:
    keep iff u32(md5(salt:doc_id)) < rate * 2^32. Returns the kept subset
    with all original columns. Rates are exact at the population level in
    expectation and reproducible row-by-row."""
    assert default_rate >= 0 and all(r >= 0 for r in rates.values())
    keep = _u32(_salted_key(salt, id_col)) < _case_literal(
        rates, default_rate, strata_col, rate_threshold)
    return docs.filter(keep)


def weighted_mixture(docs: DataFrame, weights: dict[str, float],
                     default_weight: float = 1.0,
                     strata_col: str = "source", id_col: str = "doc_id",
                     salt: str = "mix") -> DataFrame:
    """Epoch-style mixture weighting: a stratum with weight w contributes
    each doc floor(w) times plus one more with probability frac(w)
    (deterministic md5 coin). Output = input columns + `copy` (1-based
    repeat index); weight 0.3 subsamples, 2.5 oversamples. The fractional
    coin uses a DIFFERENT salt than stratified_sample so composing the two
    does not correlate decisions."""
    assert default_weight >= 0 and all(w >= 0 for w in weights.values())
    base = _case_literal(weights, default_weight, strata_col, int)
    # fractional-part threshold: int(frac(w) * 2^32), an exact literal
    frac_thr = _case_literal(weights, default_weight, strata_col,
                             lambda w: int((w - int(w)) * _U32_MOD))
    n_copies = base + (_u32(_salted_key(salt, id_col)) < frac_thr).cast("int")
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(1), n_copies)
    ).otherwise(F.array().cast("array<int>"))
    return (docs.withColumn("copy", F.explode(copies)))


def chunk_documents(docs: DataFrame, window: int = 128, stride: int = 96,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split each doc's whitespace tokens into training windows of
    `window` tokens starting every `stride` tokens (overlap = window -
    stride). The final window is the possibly-short tail; a doc shorter
    than `window` yields exactly one chunk; an empty doc yields none.
    Output: (doc_id, chunk_id, n_tokens, chunk_text), case preserved."""
    assert 0 < stride <= window
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    # chunk count: 1 + ceil(max(n-window,0)/stride), 0 for empty docs —
    # integer form avoids float ceil: (x + stride - 1) div stride
    extra = F.floor((F.greatest(sz - window, F.lit(0)) + stride - 1)
                    / F.lit(stride)).cast("int")
    n_chunks = F.when(sz == 0, F.lit(0)).otherwise(extra + 1)
    chunks = F.when(
        n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    out = docs.select(
        F.col(id_col).alias("doc_id"), sz.alias("__n"), toks.alias("__t"),
        F.explode(chunks).alias("chunk_id"),
    )
    off = F.col("chunk_id") * stride
    return out.select(
        "doc_id", "chunk_id",
        F.least(F.lit(window), F.col("__n") - off).alias("n_tokens"),
        F.concat_ws(" ", F.slice("__t", off + 1, window)).alias("chunk_text"),
    )


def vocab_topk(docs: DataFrame, k: int = 100, id_col: str = "doc_id",
               text_col: str = "text", approx_df: bool = False) -> DataFrame:
    """Top-k corpus vocabulary by occurrence count: (token, n_occurrences,
    n_docs), lowercased, ties broken by token asc so the result is total-
    ordered. The orderBy+limit pair compiles to TakeOrdered — a
    per-partition top-k heap, not a global sort.

    `approx_df=True` swaps the exact document frequency for
    approx_count_distinct (HLL++): the exact count shuffles deduped
    (token, doc_id) pairs — corpus-sized at 100 TB — while the HLL sketch
    keeps the exchange at one fixed-size buffer per token. Use it whenever
    df feeds a threshold rather than a report."""
    tok = (docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(tokens(F.lower(F.col(text_col))))
                       .alias("token")))
    df_agg = (F.approx_count_distinct("doc_id") if approx_df
              else F.countDistinct("doc_id"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             df_agg.alias("n_docs"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
    )


def cap_per_source(docs: DataFrame, max_docs: int,
                   strata_col: str = "source", id_col: str = "doc_id",
                   salt: str = "cap", exact: bool = True) -> DataFrame:
    """Per-source document quota (the CommonCrawl-pipeline per-domain cap):
    keep at most `max_docs` docs per stratum, chosen deterministically by
    the md5 coin (ties by id), so a re-run keeps the same subset.

    exact=True (default, oracle-matched): sources at-or-under quota bypass
    the window entirely via a broadcast count join (the per-source count
    table is tiny at any corpus size — its cardinality is the number of
    DOMAINS); only over-quota docs pay the rank shuffle, and the window
    input for each hot source is that source's rows only.

    exact=False (the 100 TB default): no window at all — keep iff
    u32(md5(salt:id)) < max_docs / count * 2^32, a pure codegen filter
    after the same broadcast join. Quota holds in expectation with
    binomial variance; zero skew risk because no per-source ordering ever
    happens. Use it when "about K per domain" is the real requirement —
    which, for a crawl cap, it always is."""
    assert max_docs >= 0
    counts = (docs.groupBy(strata_col)
              .agg(F.count(F.lit(1)).alias("__n")))
    joined = docs.join(F.broadcast(counts), strata_col, "left")
    if not exact:
        thr = F.least(
            F.lit(_U32_MOD),
            F.floor(F.lit(max_docs) * F.lit(_U32_MOD) / F.col("__n"))
            .cast("long"))
        return (joined.filter(_u32(_salted_key(salt, id_col)) < thr)
                .drop("__n"))
    under = joined.filter(F.col("__n") <= max_docs).drop("__n")
    over = joined.filter(F.col("__n") > max_docs).drop("__n")
    from pyspark.sql import Window
    w = (Window.partitionBy(strata_col)
         .orderBy(_u32(_salted_key(salt, id_col)).asc(),
                  F.col(id_col).asc()))
    capped = (over.withColumn("__rk", F.row_number().over(w))
              .filter(F.col("__rk") <= max_docs).drop("__rk"))
    return under.unionByName(capped)


def importance_scores(raw: DataFrame, target: DataFrame,
                      n_buckets: int = 10_000, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """DSIR-style data-selection scores (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per raw document, the
    mean hashed-unigram log-likelihood ratio between a TARGET distribution
    (the high-quality / in-domain sample you want more of) and the RAW
    corpus distribution. Positive = target-like; feed the score to
    stratified/top-k selection. One row per raw doc:
    (doc_id, n_tokens, score); empty docs score 0.0.

    score(d) = mean over token occurrences of
               ln (c_target[b]+1)/(N_target+B) - ln (c_raw[b]+1)/(N_raw+B)
    where b = u32(md5(token)) % B — the hash-bucket trick is what makes
    this scale: the unigram model is EXACTLY B rows regardless of corpus
    vocabulary, so the model join is broadcast BY CONSTRUCTION (a raw
    100 TB vocab would be billions of tokens; 10^4 buckets is the paper's
    own setting). Laplace +1 smoothing keeps unseen buckets finite.

    Scale shape: two bucket-count aggregations whose exchanges carry at
    most B rows per map task (map-side combine over a B-bounded key space),
    one broadcast join of the B-row model, one doc_id aggregation. The
    per-doc collect buffer is bounded by the doc's own distinct-bucket
    count. Scores round to 6dp so the DuckDB twin hash-matches (the only
    float drift is sub-ulp libm/summation noise, far below 1e-6)."""
    assert n_buckets > 0
    B = n_buckets

    def occ(df: DataFrame) -> DataFrame:
        tok = F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
        out = df.select(F.col(id_col).alias("doc_id"), tok)
        return out.select(
            "doc_id",
            (hex_prefix_to_long(F.md5("tok"), 8) % B).alias("bucket"))

    def model(df: DataFrame, name: str) -> DataFrame:
        return (occ(df).groupBy("bucket")
                .agg(F.count(F.lit(1)).alias(name)))

    ct, cr = model(target, "ct"), model(raw, "cr")
    # totals as 1-row frames (an agg, not a collect) cross-joined in —
    # broadcast either way, no driver round-trip in the plan
    nt = ct.agg(F.sum("ct").alias("nt"))
    nr = cr.agg(F.sum("cr").alias("nr"))
    lr = (cr.join(ct, "bucket", "full_outer")
          .crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(nr))
          .select(
              "bucket",
              (F.log(F.coalesce("ct", F.lit(0)) + F.lit(1))
               - F.log(F.col("nt") + F.lit(B))
               - F.log(F.coalesce("cr", F.lit(0)) + F.lit(1))
               + F.log(F.col("nr") + F.lit(B))).alias("lr")))
    per_bucket = (occ(raw).groupBy("doc_id", "bucket")
                  .agg(F.count(F.lit(1)).alias("m")))
    scored = (per_bucket.join(F.broadcast(lr), "bucket")
              .groupBy("doc_id")
              .agg(F.sum("m").alias("n_tokens"),
                   F.round(F.sum(F.col("m") * F.col("lr"))
                           / F.sum("m"), 6).alias("score")))
    return (raw.select(F.col(id_col).alias("doc_id"))
            .join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("score", F.lit(0.0)).alias("score")))
