"""Dedup and curation queries over the documents table: exact and
normalized fingerprints, line dedup, minhash LSH pairs and their audits,
near-dup clusters and the split built on them, simhash, winnowing, n-gram
Jaccard, incremental matching, snapshot diffs, and the curated corpus."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver.common import (DD_HEX2LONG, DD_TOKENS, LANG_EXPR, STOP_LIST,
                           dd_ngrams, query, quoted_rows, sql_quote, table)
from sparkstract.functions import textstats as ts
from sparkstract.operators import dedup
from sparkstract.operators.sampling import rate_threshold


# Carter-Wegman family over one md5 per shingle — mirror of
# sparkstract.operators.dedup.minhash_signatures
def _hex_slice(v: str, start: int) -> str:
    return (
        "list_sum(list_transform(range(1, 9), i -> "
        f"CAST((strpos('0123456789abcdef', md5({v})[{start} + i]) - 1) "
        "* CAST(power(16, 8 - i) AS BIGINT) AS BIGINT)))"
    )


_H1, _H2 = _hex_slice("ngram", 0), _hex_slice("ngram", 8)
_MINHASH_AGGS = ", ".join(
    f"min(({_H1} + {i} * {_H2}) % 4294967296) AS mh{i}" for i in range(8))
_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"md5(concat_ws('|', CAST(mh{2*b} AS VARCHAR), CAST(mh{2*b+1} AS VARCHAR))) AS key FROM sig"
    for b in range(4)
)
# the minhash pair graph and its connected components: the recursive
# transitive closure is exact, and tractable at oracle scale (the Spark
# side reaches the same fixpoint in O(log n) rounds)
_COMPONENTS = f"""
            WITH RECURSIVE {dd_ngrams(3)[5:]},
            sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM grams GROUP BY doc_id),
            banded AS ({_BAND_SELECTS}),
            bc AS (SELECT band, key FROM banded GROUP BY band, key
                   HAVING count(*) BETWEEN 2 AND 64),
            pairs AS (
              SELECT a.doc_id AS pu, b.doc_id AS pv
              FROM banded a
              JOIN bc ON bc.band = a.band AND bc.key = a.key
              JOIN banded b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            edges AS (SELECT pu AS u, pv AS v FROM pairs
                      UNION SELECT pv, pu FROM pairs),
            reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
            comp AS (
              SELECT u AS doc_id, least(u, min(v)) AS cluster_id
              FROM reach GROUP BY u),"""
# cluster_split's coin and its val_fraction=0.2 gate value
_SPLIT_COIN = DD_HEX2LONG.format(v="'split:' || CAST(cluster_id AS VARCHAR)")
_SPLIT_THR = rate_threshold(0.2)


def _dd_norm(expr: str) -> str:
    """The normstrngs fold chain over `expr`, generated from the SAME table
    the Spark side uses (ts.NORM_FOLDS) — engine parity by construction."""
    for src, dst in ts.NORM_FOLDS:
        expr = f"replace({expr}, {sql_quote(src)}, {sql_quote(dst)})"
    return f"lower(regexp_replace(trim({expr}), '\\s+', ' ', 'g'))"


def _dd_minhash_match_sql(num_hashes: int = 8, bands: int = 4,
                          max_bucket: int = 1024) -> str:
    """minhash_match twin: signatures for the derived new-docs batch and
    the corpus from the same Carter-Wegman family, (band, key) equi-join,
    full-signature agreement count."""
    aggs = ", ".join(
        f"min(({_H1} + {i} * {_H2}) % 4294967296) AS mh{i}"
        for i in range(num_hashes))
    rows = num_hashes // bands

    def band_sel(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
            + ", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)"
                        for r in range(rows))
            + f")) AS key FROM {src}"
            for b in range(bands))

    def grams(toks: str) -> str:
        return (f"SELECT DISTINCT doc_id, unnest(list_transform("
                f"range(0, greatest(len(tl) - 2, 0)), "
                f"i -> array_to_string(tl[CAST(i + 1 AS BIGINT):"
                f"CAST(i + 3 AS BIGINT)], ' '))) AS ngram FROM {toks}")

    agree = " + ".join(
        f"CASE WHEN sn.mh{i} = sc.mh{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes))
    return f"""
        WITH tc AS ({DD_TOKENS}),
        newd AS (
          SELECT 'n-' || CAST(doc_id AS VARCHAR) AS doc_id,
                 CASE WHEN doc_id = 3 THEN text || ' zzz qqq zzz'
                      ELSE text END AS text
          FROM documents WHERE doc_id IN (1, 2, 3)),
        tn AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
                 ELSE regexp_split_to_array(lower(trim(text)), '\\s+')
                 END AS tl FROM newd),
        gc AS ({grams('tc')}),
        gn AS ({grams('tn')}),
        sigc AS (SELECT doc_id, {aggs} FROM gc GROUP BY doc_id),
        sign AS (SELECT doc_id, {aggs} FROM gn GROUP BY doc_id),
        bc AS ({band_sel('sigc')}),
        bn AS ({band_sel('sign')}),
        okc AS (SELECT band, key FROM bc GROUP BY band, key
                HAVING count(*) <= {max_bucket}),
        cand AS (
          SELECT n.doc_id AS new_id, c.doc_id, count(DISTINCT n.band)
                   AS n_bands
          FROM bn n
          JOIN (SELECT b.* FROM bc b JOIN okc USING (band, key)) c
            USING (band, key)
          GROUP BY 1, 2)
        SELECT cand.new_id, cand.doc_id, cand.n_bands,
               CAST({agree} AS BIGINT) AS n_sig_match
        FROM cand
        JOIN sign sn ON sn.doc_id = cand.new_id
        JOIN sigc sc ON sc.doc_id = cand.doc_id
        ORDER BY cand.new_id, cand.doc_id"""


# Curly-punctuation variant rows: each pair collapses to ONE fingerprint
# only under normstrngs folding (normalize_text), never under the raw
# canonicalizer — the rows that make dedup_exact_norm exercise the fold.
_NORM_VARIANTS: list[tuple[str, str]] = [
    ("v-q1", "The “QUICK” fox — isn’t lazy…"),
    ("v-q2", "The \"QUICK\" fox - isn't lazy..."),
    ("v-l1", "ﬁne ﬂow – test"),
    ("v-l2", "fine  flow - test"),
]


# Multi-line boilerplate docs unioned into line_dedup's gate input — the
# corpus rows are single-line and globally unique, so without these the
# query would pass vacuously (nothing to drop). ld-b's first/last lines
# fold-match ld-a's (case, double space, curly punctuation); ld-c repeats
# a line within one doc and carries a blank line.
_LINE_DOCS: list[tuple[str, str]] = [
    ("ld-a", "Subscribe to our newsletter\nunique first body\n"
             "shared quote — “hello”"),
    ("ld-b", "subscribe   to our NEWSLETTER\nunique second body\n"
             'shared quote - "hello"'),
    ("ld-c", "unique third body\n\nunique third body\ntail line"),
]


# The shingle→minhash→band→pair pipeline is the expensive prefix shared by
# minhash_lsh_pairs, dup_clusters, and curated_corpus. Computing it once per
# (session, sf_dir) and persisting means the compound queries start from the
# cached pair frame instead of re-scanning the corpus (pairs are tiny —
# bounded by the near-dup graph, safe to keep resident).
# value = (session, frame): the session object is kept and identity-checked
# so a recycled id() from a stopped session can never serve a stale frame
_PAIRS_CACHE: dict[str, tuple[SparkSession, DataFrame]] = {}


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    hit = _PAIRS_CACHE.get(sf_dir)
    if hit is not None and hit[0] is spark:
        return hit[1]
    docs = table(spark, sf_dir, "documents")
    df = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4).persist()
    _PAIRS_CACHE[sf_dir] = (spark, df)
    return df


@query("dedup_exact", """
            SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1 ORDER BY fp
        """)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", ts.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .orderBy("fp")
    )


@query("dedup_exact_norm", f"""
            WITH u AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES
              {quoted_rows(_NORM_VARIANTS)}
              ) AS v(doc_id, text))
            SELECT md5({_dd_norm('text')}) AS fp,
                   count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM u GROUP BY 1 HAVING count(*) > 1 ORDER BY fp
        """)
def q_dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the normstrngs-folded canonical form
    (unittest/normstrngs_test.cc): curly quotes/dashes/ligatures fold to
    ASCII before fingerprinting. The documents table is unioned with fixed
    curly-variant rows so the fold is genuinely exercised at the gate."""
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    extra = spark.createDataFrame(_NORM_VARIANTS, "doc_id string, text string")
    return (
        docs.union(extra)
        .select("doc_id", ts.fingerprint_normalized(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


@query("minhash_lsh_pairs", f"""
            {dd_ngrams(3)},
            sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM grams GROUP BY doc_id),
            banded AS ({_BAND_SELECTS}),
            -- bucket-size cap twin (minhash_lsh_pairs max_bucket=64): drop
            -- oversized buckets exactly like the Spark side
            bc AS (SELECT band, key FROM banded GROUP BY band, key
                   HAVING count(*) BETWEEN 2 AND 64)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(DISTINCT a.band) AS n_bands
            FROM banded a
            JOIN bc ON bc.band = a.band AND bc.key = a.key
            JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            GROUP BY 1, 2 ORDER BY doc_a, doc_b
        """)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


@query("lsh_bucket_audit", f"""
            {dd_ngrams(3)},
            sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM grams GROUP BY doc_id),
            banded AS ({_BAND_SELECTS})
            SELECT band, key, count(*) AS bucket_size
            FROM banded GROUP BY band, key
            HAVING count(*) > 64
            ORDER BY band, key
        """)
def q_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'log what was dropped' side channel for minhash_lsh_pairs'
    oversized-bucket cap: one row per dropped (band, key) bucket with its
    size. Empty result = the cap dropped nothing at this SF — and the
    oracle PINS that emptiness instead of leaving the cap silent."""
    docs = table(spark, sf_dir, "documents")
    return (dedup.lsh_bucket_stats(docs, num_hashes=8, bands=4)
            .orderBy("band", "key"))


@query("dup_clusters", f"""
            WITH RECURSIVE {dd_ngrams(3)[5:]},
            sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM grams GROUP BY doc_id),
            banded AS ({_BAND_SELECTS}),
            bc AS (SELECT band, key FROM banded GROUP BY band, key
                   HAVING count(*) BETWEEN 2 AND 64),
            pairs AS (
              SELECT a.doc_id AS pu, b.doc_id AS pv
              FROM banded a
              JOIN bc ON bc.band = a.band AND bc.key = a.key
              JOIN banded b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            edges AS (SELECT pu AS u, pv AS v FROM pairs
                      UNION SELECT pv, pu FROM pairs),
            -- transitive closure: exact (and tractable) at oracle scale;
            -- the Spark side reaches the same fixpoint in O(log n) rounds
            reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
            comp AS (
              SELECT u AS doc_id, least(u, min(v)) AS cluster_id
              FROM reach GROUP BY u),
            csize AS (SELECT cluster_id, count(*) AS cluster_size
                      FROM comp GROUP BY cluster_id)
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   coalesce(s.cluster_size, 1) AS cluster_size,
                   (coalesce(c.cluster_id, d.doc_id) = d.doc_id) AS keep
            FROM documents d
            LEFT JOIN comp c ON c.doc_id = d.doc_id
            LEFT JOIN csize s ON s.cluster_id = c.cluster_id
            ORDER BY d.doc_id
        """)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → one cluster id + keep flag
    per document (alternating large-star/small-star; oracle is a recursive
    transitive closure over the identical pair set, tractable at sf0.01)."""
    from sparkstract.operators.cluster import dedup_assign

    docs = table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    return dedup_assign(docs, pairs).orderBy("doc_id")


@query("cluster_split", f"""{_COMPONENTS}
            csize AS (SELECT cluster_id, count(*) AS cluster_size
                      FROM comp GROUP BY cluster_id),
            assigned AS (
              SELECT d.doc_id,
                     coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                     coalesce(s.cluster_size, 1) AS cluster_size
              FROM documents d
              LEFT JOIN comp c ON c.doc_id = d.doc_id
              LEFT JOIN csize s ON s.cluster_id = c.cluster_id)
            SELECT doc_id, cluster_id, cluster_size,
                   CASE WHEN {_SPLIT_COIN}
                        < {_SPLIT_THR} THEN 'val' ELSE 'train' END AS split
            FROM assigned ORDER BY doc_id
        """)
def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/val split: the md5 coin is flipped on the
    near-dup CLUSTER id, so no near-duplicate pair ever straddles the
    boundary. Reuses the cached minhash pair frame."""
    from sparkstract.operators.cluster import cluster_split

    docs = table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    return cluster_split(docs, pairs, val_fraction=0.2).orderBy("doc_id")


@query("split_leak_audit", f"""{_COMPONENTS}
            assigned AS (
              SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
            spl AS (
              SELECT doc_id,
                     CASE WHEN {_SPLIT_COIN}
                          < {_SPLIT_THR} THEN 'val' ELSE 'train' END AS split
              FROM assigned)
            SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_leaking_pairs
            FROM pairs p
            JOIN spl sa ON sa.doc_id = p.pu
            JOIN spl sb ON sb.doc_id = p.pv
        """)
def q_split_leak_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pin cluster_split's structural guarantee: COUNT the near-dup pairs
    whose endpoints land on different sides of the train/val boundary —
    zero BY CONSTRUCTION (the coin is flipped on the cluster id), and the
    oracle pins that zero instead of leaving the claim as prose. One row:
    (n_pairs, n_leaking_pairs)."""
    from sparkstract.operators.cluster import cluster_split

    docs = table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    split = (cluster_split(docs, pairs, val_fraction=0.2)
             .select("doc_id", "split"))
    sa = split.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"),
                      F.col("split").alias("split_b"))
    joined = pairs.select("doc_a", "doc_b").join(sa, "doc_a").join(sb, "doc_b")
    return joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0))
         .cast("long").alias("n_leaking_pairs"))


@query("training_samples", f"""{_COMPONENTS}
            splitq AS (
              SELECT d.doc_id,
                     coalesce(c.cluster_id, d.doc_id) AS cluster_id
              FROM documents d
              LEFT JOIN comp c ON c.doc_id = d.doc_id),
            train_side AS (
              SELECT doc_id FROM splitq
              WHERE {_SPLIT_COIN}
                    >= {_SPLIT_THR}),
            bench AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 97 = 0),
            contaminated AS (
              SELECT DISTINCT g.doc_id FROM grams g
              JOIN bench b ON g.ngram = b.ngram
              WHERE g.doc_id % 97 <> 0),
            keep AS (
              SELECT d.doc_id, d.text FROM documents d
              JOIN train_side t ON t.doc_id = d.doc_id
              WHERE d.doc_id % 97 <> 0
                AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
            rt AS (
              SELECT doc_id, CASE WHEN trim(text) = '' THEN []
                     ELSE regexp_split_to_array(trim(text), '\\s+') END AS tl
              FROM keep),
            c AS (
              SELECT doc_id, len(tl) AS n, tl,
                     unnest(range(0, CASE WHEN len(tl) = 0 THEN 0
                       ELSE 1 + CAST(ceil(greatest(len(tl) - 32, 0) / 24.0)
                                     AS BIGINT) END)) AS chunk_id
              FROM rt)
            SELECT doc_id, chunk_id,
                   least(32, n - chunk_id * 24) AS n_tokens,
                   array_to_string(tl[CAST(chunk_id * 24 + 1 AS BIGINT):
                                      CAST(chunk_id * 24 + 32 AS BIGINT)],
                                   ' ') AS chunk_text
            FROM c ORDER BY doc_id, chunk_id
        """)
def q_training_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data prep composition: benchmark
    decontamination (drop any doc sharing an eval n-gram) → cluster-coherent
    split (train side only) → fixed-window chunking. What a user actually
    ships to a trainer: (doc_id, chunk_id, n_tokens, chunk_text) over clean,
    leak-free train docs. Reuses the cached minhash pair frame; every stage
    is an existing oracled operator, composed."""
    from sparkstract.operators.cluster import cluster_split
    from sparkstract.operators.decontam import decontaminate
    from sparkstract.operators.sampling import chunk_documents

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train_docs = docs.filter(F.col("doc_id") % 97 != 0)
    clean = (decontaminate(train_docs, bench, n=3)
             .filter(~F.col("contaminated")).select("doc_id"))
    split = cluster_split(docs, _minhash_pairs(spark, sf_dir),
                          val_fraction=0.2)
    train_ids = split.filter(F.col("split") == "train").select("doc_id")
    keep = (train_docs.join(clean, "doc_id", "left_semi")
            .join(train_ids, "doc_id", "left_semi"))
    return (chunk_documents(keep, window=32, stride=24)
            .select("doc_id",
                    F.col("chunk_id").cast("long").alias("chunk_id"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    "chunk_text")
            .orderBy("doc_id", "chunk_id"))


@query("curated_corpus", f"""{_COMPONENTS}
            t AS (
              SELECT doc_id, text,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS tl,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(trim(text), '\\s+') END AS tl_raw
              FROM documents),
            s AS (
              SELECT doc_id, len(tl_raw) AS n_tokens, {LANG_EXPR} AS lang,
                     round(
                       least(length(text) / 500.0, 1.0)
                       * (1.0 - CASE WHEN length(text) > 0
                          THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1.0 / length(text)
                          ELSE 0 END)
                       * least(1.0, (CASE WHEN len(tl) > 0
                          THEN len(list_filter(tl, x -> list_contains({STOP_LIST}, x))) * 1.0 / len(tl)
                          ELSE 0 END) * 5.0),
                     6) AS quality
              FROM t),
            g AS (
              SELECT s.*, (c.doc_id IS NOT NULL) AS in_pairs,
                     coalesce(c.cluster_id, s.doc_id) AS cluster_id,
                     (n_tokens >= 20 AND lang IN ('en')
                      AND quality >= 0.1) AS content_pass
              FROM s LEFT JOIN comp c ON c.doc_id = s.doc_id),
            w AS (SELECT cluster_id, min(doc_id) AS keep_id FROM g
                  WHERE content_pass AND in_pairs GROUP BY cluster_id)
            SELECT g.doc_id, g.lang, g.n_tokens, g.quality, g.cluster_id,
                   (content_pass AND (NOT in_pairs OR g.doc_id = w.keep_id)) AS kept,
                   CASE WHEN n_tokens < 20 THEN 'too_short'
                        WHEN lang NOT IN ('en') THEN 'wrong_lang'
                        WHEN quality < 0.1 THEN 'low_quality'
                        WHEN NOT (content_pass
                                  AND (NOT in_pairs OR g.doc_id = w.keep_id))
                          THEN 'duplicate'
                        ELSE 'kept' END AS reason
            FROM g LEFT JOIN w ON w.cluster_id = g.cluster_id
            ORDER BY g.doc_id
        """)
def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation composition: content gates (tokens /
    language / quality) + keep-one-per-near-dup-cluster, with a per-doc
    verdict and reason. Thresholds chosen so the sf tables exercise every
    reason branch."""
    from sparkstract.operators.curate import curate_corpus

    docs = table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    return curate_corpus(docs, pairs, min_tokens=20, langs=("en",),
                         min_quality=0.1).orderBy("doc_id")


@query("simhash", f"""
            WITH toks AS ({DD_TOKENS}),
            tok AS (SELECT doc_id, unnest(tl) AS tok FROM toks),
            hashed AS (SELECT doc_id, {DD_HEX2LONG.format(v='tok')} AS h FROM tok),
            bitted AS (
              SELECT doc_id, j, CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END AS v
              FROM hashed, range(0, 32) bits(j)),
            per_bit AS (SELECT doc_id, j, sum(v) AS s FROM bitted GROUP BY doc_id, j)
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
            FROM per_bit GROUP BY doc_id ORDER BY doc_id
        """)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup.simhash(docs, bits=32).orderBy("doc_id")


@query("simhash_near_dup", f"""
            WITH toks AS ({DD_TOKENS}),
            tok AS (SELECT doc_id, unnest(tl) AS tok FROM toks),
            hashed AS (SELECT doc_id, {DD_HEX2LONG.format(v='tok')} AS h FROM tok),
            bitted AS (
              SELECT doc_id, j, CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END AS v
              FROM hashed, range(0, 32) bits(j)),
            per_bit AS (SELECT doc_id, j, sum(v) AS s FROM bitted GROUP BY doc_id, j),
            sig AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS BIGINT) AS sh
              FROM per_bit GROUP BY doc_id),
            banded AS (
              SELECT doc_id, sh, CAST(band AS INTEGER) AS band,
                     (sh >> CAST(8 * band AS INTEGER)) & 255 AS key
              FROM sig, range(0, 4) b(band)),
            -- oversized-bucket cap twin (max_bucket=64)
            bc AS (SELECT band, key FROM banded GROUP BY band, key
                   HAVING count(*) BETWEEN 2 AND 64)
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.sh, b.sh)) AS hamming
            FROM banded a
            JOIN bc ON bc.band = a.band AND bc.key = a.key
            JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
            ORDER BY doc_a, doc_b
        """)
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(docs).orderBy("doc_a", "doc_b")


@query("winnow_fp", f"""
            WITH toks AS ({DD_TOKENS}),
            gl AS (
              SELECT doc_id, unnest(list_transform(
                range(0, greatest(len(tl) - 4, 0)),
                i -> {{'i': i, 'ngram': array_to_string(
                       tl[CAST(i + 1 AS BIGINT):CAST(i + 5 AS BIGINT)], ' ')}}
              )) AS g
              FROM toks),
            grams AS (SELECT doc_id, g.i AS i, g.ngram AS ngram FROM gl),
            hashed AS (SELECT doc_id, i, {DD_HEX2LONG.format(v='ngram')} AS h FROM grams),
            win AS (
              SELECT doc_id,
                     min(h) OVER (PARTITION BY doc_id ORDER BY i
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                     count(*) OVER (PARTITION BY doc_id ORDER BY i
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n_in_win
              FROM hashed),
            sel AS (SELECT DISTINCT doc_id, fp FROM win WHERE n_in_win = 4)
            SELECT doc_id, count(*) AS n_fp,
                   CAST(sum(fp) AS BIGINT) AS fp_sum
            FROM sel GROUP BY doc_id ORDER BY doc_id
        """)
def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary per doc (count + sum of the distinct
    selected hashes — a compact deterministic digest of the fp set)."""
    docs = table(spark, sf_dir, "documents")
    fps = dedup.winnow_fingerprints(docs, k=5, window=4)
    return (
        fps.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fp"), F.sum("fp").alias("fp_sum"))
        .orderBy("doc_id")
    )


@query("ngram_jaccard", f"""
            {dd_ngrams(3)},
            -- document-frequency cap twin (ngram_jaccard_pairs max_df=1000):
            -- stop-shingles drop from pairing AND sizes in both engines
            dfc AS (SELECT ngram FROM grams GROUP BY ngram
                    HAVING count(*) <= 1000),
            g2 AS (SELECT g.* FROM grams g JOIN dfc USING (ngram)),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM g2 GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM g2 a JOIN g2 b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(n_common / (sa.n_grams + sb.n_grams - n_common), 6) AS jaccard,
                   round(n_common * 1.0 / sa.n_grams, 6) AS containment_a,
                   round(n_common * 1.0 / sb.n_grams, 6) AS containment_b
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common / (sa.n_grams + sb.n_grams - n_common) >= 0.2
            ORDER BY doc_a, doc_b
        """)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).orderBy("doc_a", "doc_b")


@query("lsh_recall_audit", f"""
            {dd_ngrams(3)},
            sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM grams GROUP BY doc_id),
            banded AS ({_BAND_SELECTS}),
            bcap AS (SELECT band, key FROM banded GROUP BY band, key
                     HAVING count(*) BETWEEN 2 AND 64),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM banded a
              JOIN bcap ON bcap.band = a.band AND bcap.key = a.key
              JOIN banded b
                ON a.band = b.band AND a.key = b.key
                   AND a.doc_id < b.doc_id),
            dfc AS (SELECT ngram FROM grams GROUP BY ngram
                    HAVING count(*) <= 1000),
            g2 AS (SELECT g.* FROM grams g JOIN dfc USING (ngram)),
            sizes AS (SELECT doc_id, count(*) AS n_grams
                      FROM g2 GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS n_common
              FROM g2 a JOIN g2 b
                ON a.ngram = b.ngram AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            truth AS (
              SELECT doc_a, doc_b FROM common
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE n_common / (sa.n_grams + sb.n_grams - n_common)
                    >= 0.5),
            j AS (SELECT t.doc_a, (c.doc_a IS NOT NULL) AS hit
                  FROM truth t LEFT JOIN cand c USING (doc_a, doc_b))
            SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs,
                   CAST((SELECT count(*) FROM cand) AS BIGINT)
                     AS n_candidates,
                   CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_covered,
                   round(sum(CASE WHEN hit THEN 1 ELSE 0 END)
                         / greatest(count(*), 1), 6) AS recall
            FROM j
        """)
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterization audit for the LSH candidate generator: recall of
    minhash_lsh_pairs (8 hashes, 4 bands, cap 64) against the exact n-gram
    Jaccard >= 0.5 ground truth — one row: truth/candidate/covered counts
    + recall. The exact side is the expensive verifier, so at scale this
    runs on a sample; here the full corpus is the sample. 25/25 covered at
    sf0.01 (recall 1.0) with 33 candidates — the band-collision surplus is
    the precision cost the exact verify pays for."""
    docs = table(spark, sf_dir, "documents")
    cand = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    truth = (dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
             .select("doc_a", "doc_b"))
    j = truth.join(cand.withColumn("hit", F.lit(True)),
                   ["doc_a", "doc_b"], "left")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_truth_pairs"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long")
         .alias("n_covered"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (agg.crossJoin(F.broadcast(n_cand))
            .select("n_truth_pairs", "n_candidates", "n_covered",
                    F.round(F.col("n_covered")
                            / F.greatest(F.col("n_truth_pairs"), F.lit(1)),
                            6).alias("recall")))


@query("minhash_match", _dd_minhash_match_sql)
def q_minhash_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup gate: a 3-doc 'new batch' derived from the corpus
    (two exact copies + one with appended junk tokens) matched against the
    full corpus via cross-side LSH band join + signature-agreement verify.
    All three hit their originals at 4/4 bands, 8/8 components (the
    appended junk adds shingles without displacing any minimum); the
    partial-agreement path is exercised by a corpus near-dup of doc 1
    matching at 1 band, 3/8 components."""
    from sparkstract.operators.dedup import minhash_match

    docs = table(spark, sf_dir, "documents")
    new = (docs.filter(F.col("doc_id").isin(1, 2, 3))
           .select(F.concat(F.lit("n-"), F.col("doc_id").cast("string"))
                    .alias("doc_id"),
                   F.when(F.col("doc_id") == 3,
                          F.concat(F.col("text"), F.lit(" zzz qqq zzz")))
                    .otherwise(F.col("text")).alias("text")))
    return (minhash_match(new, docs, num_hashes=8, bands=4)
            .orderBy("new_id", "doc_id"))


@query("snapshot_diff", """
            WITH o AS (
              SELECT doc_id,
                     md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                       AS fp_old
              FROM documents WHERE doc_id % 11 <> 0),
            n AS (
              SELECT doc_id,
                     md5(lower(regexp_replace(trim(
                       CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                            ELSE text END), '\\s+', ' ', 'g'))) AS fp_new
              FROM documents WHERE doc_id % 5 <> 0)
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        ELSE 'changed' END AS status
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
            WHERE o.doc_id IS NULL OR n.doc_id IS NULL
               OR o.fp_old <> n.fp_new
            ORDER BY 1
        """)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot delta: old = docs without the %11 family, new =
    docs without the %5 family with ' v2' appended to the %7 family —
    yields all three statuses (added/removed/changed) non-vacuously.
    Unchanged docs never leave the operator."""
    from sparkstract.operators.report import snapshot_diff

    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 0).select("doc_id", "text")
    new = (docs.filter(F.col("doc_id") % 5 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 7 == 0,
                          F.concat("text", F.lit(" v2")))
                    .otherwise(F.col("text")).alias("text")))
    return snapshot_diff(old, new).orderBy("doc_id")


@query("line_dedup", f"""
            WITH base AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES {quoted_rows(_LINE_DOCS)}) v(doc_id, text)),
            raw AS (
              SELECT doc_id, unnest(list_transform(
                       range(1, len(arr) + 1),
                       i -> {{'pos': CAST(i - 1 AS INTEGER),
                             'line': arr[CAST(i AS BIGINT)]}})) AS u
              FROM (SELECT doc_id, string_split(text, chr(10)) AS arr
                    FROM base)),
            lines AS (
              SELECT doc_id, u.pos AS pos, u.line AS line,
                     md5({_dd_norm('u.line')}) AS h
              FROM raw WHERE trim(u.line) <> ''),
            r AS (
              SELECT doc_id, pos, line,
                     row_number() OVER (PARTITION BY h
                                        ORDER BY doc_id, pos) AS rn
              FROM lines),
            agg AS (
              SELECT doc_id,
                     CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT)
                       AS n_kept,
                     CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT)
                       AS n_dropped,
                     coalesce(string_agg(CASE WHEN rn = 1 THEN line END,
                                         chr(10) ORDER BY pos), '')
                       AS clean_text
              FROM r GROUP BY doc_id)
            SELECT b.doc_id,
                   coalesce(a.clean_text, '') AS clean_text,
                   coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
                   coalesce(a.n_dropped, CAST(0 AS BIGINT)) AS n_dropped
            FROM (SELECT DISTINCT doc_id FROM base) b
            LEFT JOIN agg a USING (doc_id)
            ORDER BY b.doc_id
        """)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document line dedup (Wenzek et al. 2020 §4.1):
    every line is hashed over its normstrngs-folded form and only the
    corpus-wide FIRST occurrence (smallest (doc_id, pos)) survives — the
    boilerplate-stripping pass. Corpus rows pass through untouched (they
    are single-line and unique); the unioned _LINE_DOCS rows exercise the
    drop/fold/blank/within-doc paths non-vacuously."""
    from sparkstract.operators.dedup import line_dedup

    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    extra = spark.createDataFrame(_LINE_DOCS, "doc_id string, text string")
    return line_dedup(docs.union(extra)).orderBy("doc_id")

