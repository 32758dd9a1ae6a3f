"""Distributed BPE tokenizer training (operators/bpe.py) and the two
queries that apply the trained model; the twins unroll the same merge
rounds in SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from driver.common import DD_TOKENS, query, table


# Train-once model cache, same shape as vectors._KMEANS_MODEL_CACHE: the
# first BPE query to run trains (a miss rebuilds, so any run order works);
# the others reuse the learned merge table.
_BPE_MODEL_CACHE: dict[tuple[str, int, int], list] = {}

_BPE_MERGES = 6
_BPE_TOP_WORDS = 4096


def _bpe_model(spark: SparkSession, sf_dir: str,
               merges: int = _BPE_MERGES,
               top_words: int = _BPE_TOP_WORDS) -> list:
    key = (sf_dir, merges, top_words)
    if key not in _BPE_MODEL_CACHE:
        from sparkstract.operators.bpe import bpe_train

        docs = table(spark, sf_dir, "documents")
        _BPE_MODEL_CACHE[key] = bpe_train(docs, merges=merges,
                                          top_words=top_words)
    return _BPE_MODEL_CACHE[key]


def _dd_bpe_chain(merges: int = _BPE_MERGES,
                  top_words: int = _BPE_TOP_WORDS) -> str:
    """Unrolled BPE training rounds: wf (capped word-freq) -> v0 (char
    split) -> per round r: p{r} pair counts, b{r} argmax, v{r} merged
    vocab. Merge application is the same expand-the-delimiters replace the
    Spark side uses (bpe.py `_apply_merge`), so segmentations match byte
    for byte."""
    parts = [f"""WITH toks AS ({DD_TOKENS})
        , wf AS (
          SELECT w, CAST(count(*) AS BIGINT) AS f
          FROM (SELECT unnest(tl) AS w FROM toks)
          WHERE w NOT LIKE '%¦%'
          GROUP BY w ORDER BY f DESC, w LIMIT {top_words})
        , v0 AS (
          SELECT w, f,
                 trim(regexp_replace(w, '(.)', '\\1¦', 'g'), '¦') AS s
          FROM wf)"""]
    for r in range(1, merges + 1):
        p = r - 1
        parts.append(f"""
        , p{r} AS (
          SELECT pr.lhs AS lhs, pr.rhs AS rhs,
                 CAST(sum(f) AS BIGINT) AS cnt
          FROM (SELECT unnest(list_transform(
                         range(1, greatest(len(sl), 1)),
                         i -> {{'lhs': sl[CAST(i AS BIGINT)],
                               'rhs': sl[CAST(i + 1 AS BIGINT)]}})) AS pr, f
                FROM (SELECT string_split(s, '¦') AS sl, f FROM v{p}))
          GROUP BY 1, 2)
        , b{r} AS (SELECT lhs, rhs, cnt FROM p{r}
                   ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1)
        , v{r} AS (
          SELECT w, f,
                 replace(trim(replace('¦' || replace(s, '¦', '¦¦') || '¦',
                                       '¦' || b.lhs || '¦¦' || b.rhs || '¦',
                                       '¦' || b.lhs || b.rhs || '¦'),
                               '¦'), '¦¦', '¦') AS s
          FROM v{p}, b{r} b)""")
    return "".join(parts)


def _dd_bpe_fertility_sql(merges: int = _BPE_MERGES) -> str:
    # per-word token length under the trained chain (same s{r} chain as
    # bpe_tokens), aggregated to the source stratum
    base = _dd_bpe_tokens_sql(merges)
    head, _, _ = base.rpartition("SELECT d.doc_id")
    return head + """
        SELECT stratum, n_docs, n_words, n_tokens,
               CASE WHEN n_words = 0 THEN 0.0
                    ELSE round(n_tokens * 1.0 / n_words, 6)
               END AS tokens_per_word,
               CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE round(n_chars * 1.0 / n_tokens, 6)
               END AS chars_per_token
        FROM (
          SELECT d.source AS stratum,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN trim(d.text) = '' THEN 0
                          ELSE len(regexp_split_to_array(lower(trim(d.text)),
                                                         '\\s+')) END)
                      AS BIGINT) AS n_words,
                 CAST(sum(coalesce(pd.n_tokens, 0)) AS BIGINT) AS n_tokens,
                 CAST(sum(length(d.text)) AS BIGINT) AS n_chars
          FROM documents d LEFT JOIN pd USING (doc_id)
          GROUP BY d.source)"""


def _dd_bpe_merges_sql(merges: int = _BPE_MERGES) -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS step, lhs, rhs, "
        f"lhs || rhs AS merged, cnt AS pair_count FROM b{r}"
        for r in range(1, merges + 1))
    return _dd_bpe_chain(merges) + f" SELECT * FROM ({rows})"


def _dd_bpe_tokens_sql(merges: int = _BPE_MERGES) -> str:
    # apply the learned chain to ALL distinct corpus words (the trained
    # tokenizer generalizes past the capped training vocab), then the
    # per-word token length joins back for the per-doc sum
    parts = [_dd_bpe_chain(merges) + """
        , aw AS (SELECT DISTINCT unnest(tl) AS w FROM toks)
        , s0 AS (SELECT w,
                        trim(regexp_replace(w, '(.)', '\\1¦', 'g'), '¦') AS s
                 FROM aw)"""]
    for r in range(1, merges + 1):
        parts.append(f"""
        , s{r} AS (
          SELECT w,
                 replace(trim(replace('¦' || replace(s, '¦', '¦¦') || '¦',
                                       '¦' || b.lhs || '¦¦' || b.rhs || '¦',
                                       '¦' || b.lhs || b.rhs || '¦'),
                               '¦'), '¦¦', '¦') AS s
          FROM s{r - 1}, b{r} b)""")
    parts.append(f"""
        , wl AS (SELECT w, CAST(len(string_split(s, '¦')) AS BIGINT) AS n_tok
                 FROM s{merges})
        , dw AS (SELECT doc_id, unnest(tl) AS w FROM toks)
        , pd AS (SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
                 FROM dw JOIN wl USING (w) GROUP BY doc_id)
        SELECT d.doc_id, coalesce(pd.n_tokens, CAST(0 AS BIGINT)) AS n_tokens
        FROM documents d LEFT JOIN pd USING (doc_id)""")
    return "".join(parts)


@query("bpe_merges", _dd_bpe_merges_sql)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich 2016) over the documents corpus:
    6 merge rounds on the capped word-frequency table, argmax pair per
    round with (count DESC, lhs, rhs) tie-break. Returns the learned merge
    table — the model artifact, driver-sized like the kmeans centroids.
    Oracle unrolls the identical rounds in SQL (same delimiter-expansion
    replace trick, byte-identical merge application)."""
    model = _bpe_model(spark, sf_dir)
    return spark.createDataFrame(
        [(s, l, r, l + r, c) for s, l, r, c in model],
        "step int, lhs string, rhs string, merged string, pair_count long")


@query("bpe_tokens", _dd_bpe_tokens_sql)
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count under the trained BPE tokenizer: each
    DISTINCT word is segmented once by the merge chain (pure codegen
    string expressions, zero joins), the vocab-sized length table joins
    back to the exploded corpus (AQE broadcast), one per-doc sum. Docs
    with no tokens count 0."""
    from sparkstract.operators.bpe import bpe_token_counts

    docs = table(spark, sf_dir, "documents")
    return bpe_token_counts(docs, _bpe_model(spark, sf_dir))


@query("bpe_fertility", _dd_bpe_fertility_sql)
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer data card under the trained BPE model:
    fertility (tokens/word) and compression (chars/token) — the two
    numbers a tokenizer report quotes per stratum. Reuses the cached merge
    table (train-once pattern); ratios divide exact integer sums."""
    from sparkstract.operators.bpe import bpe_fertility

    docs = table(spark, sf_dir, "documents")
    return (bpe_fertility(docs, _bpe_model(spark, sf_dir),
                          strata_col="source")
            .orderBy("stratum"))

