"""Sampling, mixing, chunking and decontamination queries over the
documents table: stratified and weighted sampling, training windows and
packing, source quotas, DSIR importance, repeated-substring removal,
sketches, and benchmark-overlap checks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver.common import (DD_HEX2LONG, DD_TOKENS, dd_hexslice, dd_ngrams,
                           query, table)
from sparkstract.operators.sampling import rate_threshold

# Shared gate parameters for the sampling/mixture queries — the oracles
# interpolate the SAME integer thresholds the Spark side compiles
# (rate_threshold / int(frac*2^32) over these literals), so parity is by
# construction, not by parallel float arithmetic.
_SAMPLE_RATES = {"en": 0.5, "zh": 1.0}      # default 0.8
_MIX_WEIGHTS = {"en": 0.4, "de": 2.5}       # default 1.0


def _lang_case(weights: dict[str, float], default: float, to_int) -> str:
    whens = " ".join(f"WHEN '{s}' THEN {to_int(r)}"
                     for s, r in sorted(weights.items()))
    return f"CASE lang {whens} ELSE {to_int(default)} END"


_STRAT_CASE = _lang_case(_SAMPLE_RATES, 0.8, rate_threshold)
_MIX_BASE_CASE = _lang_case(_MIX_WEIGHTS, 1.0, int)
_MIX_FRAC_CASE = _lang_case(_MIX_WEIGHTS, 1.0,
                            lambda w: int((w - int(w)) * (1 << 32)))
_H_STRAT = DD_HEX2LONG.format(v="'strata:' || CAST(doc_id AS VARCHAR)")
_H_MIX = DD_HEX2LONG.format(v="'mix:' || CAST(doc_id AS VARCHAR)")
_RAW_TOKS = (
    "SELECT doc_id, CASE WHEN trim(text) = '' THEN [] "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END AS tl "
    "FROM documents"
)


@query("decontaminate", f"""
            {dd_ngrams(3)},
            bench AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 97 = 0),
            tg AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
            per AS (
              SELECT t.doc_id, count(*) AS n_grams,
                     count(b.ngram) AS n_overlap
              FROM tg t LEFT JOIN bench b ON t.ngram = b.ngram
              GROUP BY t.doc_id)
            SELECT d.doc_id,
                   coalesce(n_grams, 0) AS n_grams,
                   coalesce(n_overlap, 0) AS n_overlap,
                   CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0
                        ELSE round(n_overlap * 1.0 / n_grams, 6)
                   END AS overlap_frac,
                   coalesce(n_overlap, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
            WHERE d.doc_id % 97 <> 0
            ORDER BY d.doc_id
        """)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 97 == 0 stand in for
    the eval set, the rest are the training corpus. n=3 at test scale
    (production default is 8 — the synthetic word-soup never collides at
    8-grams and a 0-row query would be vacuous)."""
    from sparkstract.operators.decontam import decontaminate

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=3).orderBy("doc_id")


@query("stratified_sample", f"""
            SELECT doc_id, lang, source
            FROM (SELECT doc_id, lang, source, {_H_STRAT} AS h FROM documents)
            WHERE h < {_STRAT_CASE}
            ORDER BY doc_id
        """)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-lang downsampling (md5 coin — reproducible under
    task retry, unlike F.rand)."""
    from sparkstract.operators.sampling import stratified_sample

    docs = table(spark, sf_dir, "documents")
    return (stratified_sample(docs, _SAMPLE_RATES, default_rate=0.8,
                              strata_col="lang")
            .select("doc_id", "lang", "source").orderBy("doc_id"))


@query("weighted_mixture", f"""
            WITH m AS (
              SELECT doc_id, lang,
                     {_MIX_BASE_CASE}
                     + CASE WHEN {_H_MIX} < {_MIX_FRAC_CASE} THEN 1 ELSE 0 END AS n
              FROM documents)
            SELECT doc_id, lang, unnest(range(1, n + 1)) AS copy
            FROM m ORDER BY doc_id, copy
        """)
def q_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-style mixture weighting: en 0.4 (subsample), de 2.5 (2-3
    copies each), others 1.0."""
    from sparkstract.operators.sampling import weighted_mixture

    docs = table(spark, sf_dir, "documents")
    return (weighted_mixture(docs, _MIX_WEIGHTS, default_weight=1.0,
                             strata_col="lang")
            .select("doc_id", "lang", F.col("copy").cast("long").alias("copy"))
            .orderBy("doc_id", "copy"))


@query("chunk_docs", f"""
            WITH toks AS ({_RAW_TOKS}),
            c AS (
              SELECT doc_id, len(tl) AS n, tl,
                     unnest(range(0, CASE WHEN len(tl) = 0 THEN 0
                       ELSE 1 + CAST(ceil(greatest(len(tl) - 32, 0) / 24.0)
                                     AS BIGINT) END)) AS chunk_id
              FROM toks)
            SELECT doc_id, chunk_id,
                   least(32, n - chunk_id * 24) AS n_tokens,
                   array_to_string(tl[CAST(chunk_id * 24 + 1 AS BIGINT):
                                      CAST(chunk_id * 24 + 32 AS BIGINT)],
                                   ' ') AS chunk_text
            FROM c ORDER BY doc_id, chunk_id
        """)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM training-window chunking: 32-token windows every 24 tokens
    (8-token overlap); tail chunk kept. Gate window is small because the
    synthetic docs run 8-90 tokens (production default 128/96)."""
    from sparkstract.operators.sampling import chunk_documents

    docs = table(spark, sf_dir, "documents")
    return (chunk_documents(docs, window=32, stride=24)
            .select("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    "chunk_text")
            .orderBy("doc_id", "chunk_id"))


@query("vocab_topk", f"""
            WITH toks AS ({DD_TOKENS}),
            tok AS (SELECT doc_id, unnest(tl) AS token FROM toks)
            SELECT token, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs
            FROM tok GROUP BY token
            ORDER BY n_occurrences DESC, token
            LIMIT 50
        """)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus vocabulary by occurrences (tf + df per token)."""
    from sparkstract.operators.sampling import vocab_topk

    docs = table(spark, sf_dir, "documents")
    return vocab_topk(docs, k=50)


@query("strip_substrings", f"""
            WITH lt AS ({DD_TOKENS}),
            pos AS (
              SELECT doc_id, tl,
                     unnest(range(0, CASE WHEN len(tl) >= 3
                                          THEN len(tl) - 2 ELSE 0 END)) AS i
              FROM lt),
            g AS (
              SELECT doc_id, i,
                     md5(array_to_string(
                         tl[CAST(i + 1 AS BIGINT):CAST(i + 3 AS BIGINT)],
                         ' ')) AS h
              FROM pos),
            dup AS (
              SELECT h FROM (SELECT DISTINCT doc_id, h FROM g)
              GROUP BY h HAVING count(*) >= 2),
            cov AS (
              SELECT DISTINCT g.doc_id, g.i + o.o AS pos
              FROM g JOIN dup USING (h)
              CROSS JOIN (SELECT unnest(range(0, 3)) AS o) o),
            rt AS (
              SELECT doc_id, CASE WHEN trim(text) = '' THEN []
                     ELSE regexp_split_to_array(trim(text), '\\s+') END AS rl
              FROM documents),
            trows AS (
              SELECT doc_id, rl, unnest(range(0, len(rl))) AS pos FROM rt),
            tok AS (
              SELECT doc_id, pos, rl[CAST(pos + 1 AS BIGINT)] AS tok
              FROM trows),
            kept AS (
              SELECT t.doc_id, t.pos, t.tok FROM tok t
              WHERE NOT EXISTS (SELECT 1 FROM cov c
                                WHERE c.doc_id = t.doc_id
                                  AND c.pos = t.pos)),
            reb AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(tok, ' ' ORDER BY pos) AS clean_text
              FROM kept GROUP BY doc_id)
            SELECT r.doc_id,
                   CAST(len(r.rl) AS BIGINT) AS n_tokens,
                   CAST(len(r.rl) - coalesce(b.n_kept, 0) AS BIGINT)
                     AS n_removed,
                   coalesce(b.clean_text, '') AS clean_text
            FROM rt r LEFT JOIN reb b USING (doc_id)
            ORDER BY r.doc_id
        """)
def q_strip_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring removal (Lee et al. 2022 style):
    drop every token covered by a 3-token window shared by >= 2 docs.
    k=3 at test scale (production ~50 — the synthetic word-soup has no
    long shared runs, so k=50 would be a vacuous 0-removal check)."""
    from sparkstract.operators.substrings import strip_repeated_substrings

    docs = table(spark, sf_dir, "documents")
    return (strip_repeated_substrings(docs, k=3, min_docs=2)
            .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("n_removed").cast("long").alias("n_removed"),
                    "clean_text")
            .orderBy("doc_id"))


@query("source_quota", f"""
            WITH d AS (SELECT doc_id, source, lang FROM documents
                       WHERE doc_id % 7 <> 0),
            c AS (SELECT source, count(*) AS n FROM d GROUP BY source),
            r AS (
              SELECT d.doc_id, d.source, d.lang, c.n,
                     row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY {DD_HEX2LONG.format(
                           v="'cap:' || CAST(d.doc_id AS VARCHAR)")} ASC,
                                d.doc_id ASC) AS rk
              FROM d JOIN c USING (source))
            SELECT doc_id, source, lang FROM r
            WHERE n <= 21 OR rk <= 21
            ORDER BY doc_id
        """)
def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the crawl per-domain quota): at most 21
    docs per source, deterministic md5 ranking. The doc_id % 7 prefilter
    makes per-source counts straddle the quota so BOTH paths run: sources
    at <= 21 take the no-window broadcast bypass, sources at 22 pay the
    bounded rank window."""
    from sparkstract.operators.sampling import cap_per_source

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 != 0)
    return (cap_per_source(docs, max_docs=21, strata_col="source")
            .select("doc_id", "source", "lang").orderBy("doc_id"))


@query("importance_scores", f"""
            WITH lt AS ({DD_TOKENS}),
            occ AS (
              SELECT doc_id,
                     ({DD_HEX2LONG.format(v="tok")}) % 10000 AS bucket
              FROM (SELECT doc_id, unnest(tl) AS tok FROM lt)),
            tids AS (SELECT doc_id FROM documents
                     WHERE lang = 'en' AND doc_id % 5 = 0),
            ct AS (SELECT bucket, count(*) AS ct FROM occ
                   WHERE doc_id IN (SELECT doc_id FROM tids)
                   GROUP BY bucket),
            cr AS (SELECT bucket, count(*) AS cr FROM occ GROUP BY bucket),
            nt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM ct),
            nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM cr),
            lr AS (
              SELECT bucket,
                     ln(coalesce(ct, 0) + 1) - ln(nt + 10000)
                     - ln(coalesce(cr, 0) + 1) + ln(nr + 10000) AS lr
              FROM cr FULL OUTER JOIN ct USING (bucket)
              CROSS JOIN nt CROSS JOIN nr),
            pb AS (SELECT doc_id, bucket, count(*) AS m FROM occ
                   GROUP BY doc_id, bucket),
            sc AS (
              SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                     round(sum(m * lr) / sum(m), 6) AS score
              FROM pb JOIN lr USING (bucket) GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(s.n_tokens, 0) AS n_tokens,
                   coalesce(s.score, 0.0) AS score
            FROM documents d LEFT JOIN sc s USING (doc_id)
            ORDER BY d.doc_id
        """)
def q_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection scores: target = the en docs with doc_id % 5
    == 0 (standing in for a curated in-domain sample), raw = the whole
    corpus; B = 10^4 hash buckets (the paper's setting)."""
    from sparkstract.operators.sampling import importance_scores

    docs = table(spark, sf_dir, "documents")
    target = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 5 == 0))
    return (importance_scores(docs, target, n_buckets=10_000)
            .select("doc_id",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    "score")
            .orderBy("doc_id"))


@query("cms_heavy_hitters", f"""
            WITH lt AS ({DD_TOKENS}),
            tok AS (SELECT unnest(tl) AS tok FROM lt),
            stream AS (
              SELECT 0 AS row, ({dd_hexslice('tok', 0)}) % 16 AS bucket
              FROM tok
              UNION ALL
              SELECT 1, ({dd_hexslice('tok', 8)}) % 16 FROM tok
              UNION ALL
              SELECT 2, ({dd_hexslice('tok', 16)}) % 16 FROM tok
              UNION ALL
              SELECT 3, ({dd_hexslice('tok', 24)}) % 16 FROM tok),
            cms AS (SELECT row, bucket, count(*) AS cnt FROM stream
                    GROUP BY row, bucket),
            keys AS (SELECT DISTINCT tok AS token FROM tok
                     ORDER BY token LIMIT 20),
            probes AS (
              SELECT token, 0 AS row,
                     ({dd_hexslice('token', 0)}) % 16 AS bucket FROM keys
              UNION ALL
              SELECT token, 1, ({dd_hexslice('token', 8)}) % 16 FROM keys
              UNION ALL
              SELECT token, 2, ({dd_hexslice('token', 16)}) % 16 FROM keys
              UNION ALL
              SELECT token, 3, ({dd_hexslice('token', 24)}) % 16 FROM keys),
            est AS (
              SELECT p.token,
                     CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
              FROM probes p LEFT JOIN cms c
                ON c.row = p.row AND c.bucket = p.bucket
              GROUP BY p.token),
            exact AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS exact
                      FROM tok GROUP BY tok)
            SELECT e.token, e.est, x.exact
            FROM est e JOIN exact x ON e.token = x.token
            ORDER BY e.token
        """)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch estimates vs exact counts for the 20
    alphabetically-first tokens; width=16 forces collisions (the corpus vocab is only ~31 tokens) at test scale
    so est > exact is actually exercised (est >= exact always — the CMS
    one-sided error, identical in both engines because buckets are md5)."""
    from sparkstract.operators.sketch import cms_lookup, cms_table

    docs = table(spark, sf_dir, "documents")
    cms = cms_table(docs, depth=4, width=16)
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), "\\s+")).alias("token")
    ).filter(F.col("token") != "")
    keys = tok.distinct().orderBy("token").limit(20)
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    return (cms_lookup(cms, keys, depth=4, width=16)
            .join(exact, "token")
            .select("token", "est", "exact")
            .orderBy("token"))


@query("decontaminate_bloom", f"""
            {dd_ngrams(3)},
            bgr AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 97 = 0),
            bbits AS (SELECT DISTINCT bit FROM (
              SELECT ({dd_hexslice('ngram', 0)}) % 4096 AS bit FROM bgr
              UNION ALL
              SELECT ({dd_hexslice('ngram', 8)}) % 4096 FROM bgr
              UNION ALL
              SELECT ({dd_hexslice('ngram', 16)}) % 4096 FROM bgr)),
            tg AS (SELECT doc_id, ngram FROM grams WHERE doc_id % 97 <> 0),
            probes AS (
              SELECT doc_id, ngram,
                     ({dd_hexslice('ngram', 0)}) % 4096 AS bit FROM tg
              UNION ALL
              SELECT doc_id, ngram, ({dd_hexslice('ngram', 8)}) % 4096
              FROM tg
              UNION ALL
              SELECT doc_id, ngram, ({dd_hexslice('ngram', 16)}) % 4096
              FROM tg),
            pg AS (
              SELECT p.doc_id, p.ngram,
                     CASE WHEN count(b.bit) = 3 THEN 1 ELSE 0 END AS hit
              FROM probes p LEFT JOIN bbits b ON b.bit = p.bit
              GROUP BY p.doc_id, p.ngram),
            pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                          CAST(sum(hit) AS BIGINT) AS n_hits
                   FROM pg GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(pd.n_grams, 0) AS n_grams,
                   coalesce(pd.n_hits, 0) AS n_hits,
                   coalesce(pd.n_hits, 0) >= 1 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
            LEFT JOIN pd ON pd.doc_id = d.doc_id
            ORDER BY d.doc_id
        """)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (same split as `decontaminate`):
    m=4096 bits / 3 hashes at test scale gives a deterministic, nonzero
    false-positive rate shared bit-for-bit with the oracle — n_hits >=
    the exact overlap, never below."""
    from sparkstract.operators.sketch import decontaminate_bloom

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return (decontaminate_bloom(train, bench, n=3, m_bits=4096, n_hashes=3)
            .select("doc_id",
                    F.col("n_grams").cast("long").alias("n_grams"),
                    F.col("n_hits").cast("long").alias("n_hits"),
                    "contaminated")
            .orderBy("doc_id"))


@query("pack_sequences", f"""
            WITH toks AS (
              SELECT doc_id, CASE WHEN trim(text) = '' THEN []
                     ELSE regexp_split_to_array(trim(text), '\\s+')
                     END AS tl
              FROM documents),
            c AS (
              SELECT doc_id, len(tl) AS n,
                     unnest(range(0, CASE WHEN len(tl) = 0 THEN 0
                       ELSE 1 + CAST(ceil(greatest(len(tl) - 32, 0) / 24.0)
                                     AS BIGINT) END)) AS chunk_id
              FROM toks),
            ch AS (
              SELECT doc_id, chunk_id,
                     least(32, n - chunk_id * 24) AS n_tokens,
                     {DD_HEX2LONG.format(
                         v="'pack:' || CAST(doc_id AS VARCHAR) || ':' "
                           "|| CAST(chunk_id AS VARCHAR)")} AS h
              FROM c),
            pk AS (
              SELECT doc_id, chunk_id, n_tokens, h % 8 AS bucket,
                     CAST(sum(n_tokens) OVER (PARTITION BY h % 8
                       ORDER BY h, doc_id, chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT)
                     - n_tokens AS strt
              FROM ch)
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(floor(strt / 256.0) AS BIGINT) AS seq_id,
                   strt % 256 AS start_in_seq,
                   doc_id, chunk_id, n_tokens
            FROM pk
            ORDER BY bucket, seq_id, start_in_seq, doc_id, chunk_id
        """)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing over the chunk_docs output: chunks are
    md5-shuffled into 8 hash buckets and concatenated into 256-token
    sequences (bucket-local running sum — no global window)."""
    from sparkstract.operators.packing import pack_sequences
    from sparkstract.operators.sampling import chunk_documents

    docs = table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, window=32, stride=24)
    return (pack_sequences(chunks, budget=256, n_buckets=8)
            .select(F.col("bucket").cast("long").alias("bucket"),
                    "seq_id", "start_in_seq", "doc_id",
                    F.col("chunk_id").cast("long").alias("chunk_id"),
                    "n_tokens")
            .orderBy("bucket", "seq_id", "start_in_seq",
                     "doc_id", "chunk_id"))


@query("contamination_report", f"""
            {dd_ngrams(3)},
            bg AS (SELECT doc_id, ngram FROM grams WHERE doc_id % 97 = 0),
            tg AS (SELECT ngram FROM grams WHERE doc_id % 97 <> 0),
            dirty AS (SELECT DISTINCT ngram FROM tg
                      WHERE ngram IN (SELECT ngram FROM bg)),
            per AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(count(d.ngram) AS BIGINT) AS n_dirty
              FROM bg LEFT JOIN dirty d USING (ngram)
              GROUP BY doc_id)
            SELECT b.doc_id,
                   coalesce(per.n_grams, CAST(0 AS BIGINT)) AS n_grams,
                   coalesce(per.n_dirty, CAST(0 AS BIGINT)) AS n_dirty,
                   CASE WHEN coalesce(per.n_grams, 0) = 0 THEN 0.0
                        ELSE round(per.n_dirty * 1.0 / per.n_grams, 6)
                   END AS dirty_frac,
                   CASE WHEN coalesce(per.n_grams, 0) = 0 THEN TRUE
                        ELSE round(per.n_dirty * 1.0 / per.n_grams, 6) <= 0.5
                   END AS clean
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 = 0) b
            LEFT JOIN per USING (doc_id)
            ORDER BY b.doc_id
        """)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reverse decontamination view (GPT-3 appendix C): per BENCHMARK
    item, the fraction of its 3-grams that appear anywhere in the training
    corpus — the clean/dirty eval split. Same bench/train partition as
    q_decontaminate (doc_id % 97)."""
    from sparkstract.operators.decontam import contamination_report

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return (contamination_report(train, bench, n=3, max_dirty_frac=0.5)
            .orderBy("doc_id"))

