"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: interleave sf0.001 documents with synthetic media
pages and run the full extraction pipeline.

`queries()` / `oracle_sql()` — one entry per implemented operator family
(SURVEY.md §2 + training-data ops). Extraction queries are oracled with
VALUES literals generated from the fixture truth (the input docs table is
synthesized deterministically — no external data). Relational/dedup/ANN/text
queries run on the driver's parquet tables with exact DuckDB twins.

Float policy: every float aggregate is rounded in BOTH engines (2 dp for
large sums, 6 dp for ratios/cosines) and ranking happens AFTER rounding with
a deterministic id tie-break, so cross-engine ulp noise cannot flip hashes.
"""

from __future__ import annotations

import functools
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkstract.fixtures.gen import build_fixtures  # noqa: E402
from sparkstract.functions import textstats as ts  # noqa: E402
from sparkstract.operators import dedup, similarity  # noqa: E402
from sparkstract.plans.pipeline import extract  # noqa: E402

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


@functools.lru_cache(maxsize=1)
def _fixture_set():
    return build_fixtures(seed=42)


def _fixture_frames(spark: SparkSession):
    return _fixture_set().to_spark(spark)


def _sql_quote(v) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + str(v).replace("'", "''") + "'"


@functools.lru_cache(maxsize=1)
def _truth_values_sql() -> str:
    """The extraction oracle: fixture truth as a VALUES literal (the docs
    table is deterministic, so truth is a constant relation)."""
    truth = _fixture_set().truth
    rows = ",\n".join(
        f"({_sql_quote(r.doc_id)}, {int(r.order)}, {_sql_quote(r.kind)}, "
        f"{_sql_quote(r.text) if r.text is not None else 'CAST(NULL AS VARCHAR)'}, "
        f"{_sql_quote(r.media_ref) if r.media_ref is not None else 'CAST(NULL AS VARCHAR)'})"
        for r in truth.itertuples()
    )
    return (
        'SELECT * FROM (VALUES\n' + rows +
        '\n) AS t(doc_id, "order", kind, text, media_ref)'
    )


# DuckDB fragments shared by several oracles
_DD_TOKENS = (
    "SELECT doc_id, CASE WHEN trim(text) = '' THEN [] "
    "ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS tl "
    "FROM documents"
)
_DD_HEX2LONG = (
    "list_sum(list_transform(range(1, 9), i -> "
    "CAST((strpos('0123456789abcdef', md5({v})[i]) - 1) "
    "* CAST(power(16, 8 - i) AS BIGINT) AS BIGINT)))"
)


def _dd_hexslice(v: str, start: int) -> str:
    """Hex chars [start, start+8) of md5(v) -> bigint — DuckDB twin of
    hex_slice_to_long (sketch hashing uses all four 8-char md5 slices)."""
    return (
        f"list_sum(list_transform(range({start + 1}, {start + 9}), i -> "
        f"CAST((strpos('0123456789abcdef', md5({v})[i]) - 1) "
        f"* CAST(power(16, {start + 8} - i) AS BIGINT) AS BIGINT)))"
    )


def _dd_ngrams(n: int = 3) -> str:
    return (
        f"WITH toks AS ({_DD_TOKENS}), "
        f"grams AS (SELECT DISTINCT doc_id, unnest(list_transform("
        f"range(0, greatest(len(tl) - {n - 1}, 0)), "
        f"i -> array_to_string(tl[CAST(i + 1 AS BIGINT):CAST(i + {n} AS BIGINT)], ' ')"
        f")) AS ngram FROM toks)"
    )


_DD_EMB = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"


def _dd_lloyd(k: int, iters: int, dim: int, src: str = "e",
              salt: str = "km", pfx: str = "") -> str:
    """Unrolled Lloyd rounds twinning kmeans_fit over CTE `src`(vec_id, v):
    md5-seeded init, 6dp-rounded distances with cid tiebreak, 6dp-rounded
    centroid components after every update (the per-round resync that
    keeps both engines bit-identical), empty clusters keep their previous
    centroid. Returns ', {pfx}c0 AS ... , {pfx}c{iters} AS ...' — the
    trained codebook chain, prefix-namespaced so PQ can emit one chain per
    subspace."""
    h = _DD_HEX2LONG.format(v=f"'{salt}:' || CAST(vec_id AS VARCHAR)")
    parts = [f"""
        , {pfx}c0 AS (
          SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid,
                 list_transform(v, x -> round(x, 6)) AS cent
          FROM (SELECT vec_id, v, {h} AS h FROM {src}
                ORDER BY h, vec_id LIMIT {k}))"""]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
        , {pfx}d{i} AS (
          SELECT s.vec_id, s.v, c.cid,
                 row_number() OVER (PARTITION BY s.vec_id
                   ORDER BY round(list_distance(s.v, c.cent), 6) ASC,
                            c.cid ASC) AS r
          FROM {src} s CROSS JOIN {pfx}c{p} c)
        , {pfx}a{i} AS (SELECT vec_id, v, cid FROM {pfx}d{i} WHERE r = 1)
        , {pfx}u{i} AS (
          SELECT cid, j, round(avg(v[CAST(j AS INTEGER)]), 6) AS m
          FROM {pfx}a{i}, range(1, {dim + 1}) t(j) GROUP BY cid, j)
        , {pfx}n{i} AS (SELECT cid, list(m ORDER BY j) AS cent
                        FROM {pfx}u{i} GROUP BY cid)
        , {pfx}c{i} AS (
          SELECT o.cid, coalesce(n.cent, o.cent) AS cent
          FROM {pfx}c{p} o LEFT JOIN {pfx}n{i} n ON o.cid = n.cid)""")
    return "".join(parts)


def _dd_kmeans_cte(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    return (f"WITH e AS ({_DD_EMB})"
            + _dd_lloyd(k, iters, dim, src="e", salt="km", pfx=""))


def _dd_kmeans_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """kmeans_assign twin: nearest trained centroid per vector."""
    return _dd_kmeans_cte(k, iters, dim) + f"""
        , fin AS (
          SELECT e.vec_id, c.cid,
                 round(list_distance(e.v, c.cent), 6) AS d,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round(list_distance(e.v, c.cent), 6) ASC,
                            c.cid ASC) AS r
          FROM e CROSS JOIN c{iters} c)
        SELECT vec_id, CAST(cid AS BIGINT) AS cid, d AS dist
        FROM fin WHERE r = 1 ORDER BY vec_id"""


def _dd_ivf_kmeans_sql(k: int = 8, iters: int = 2, dim: int = 64,
                       topk: int = 10, n_queries: int = 5) -> str:
    """ivf_kmeans_topk twin: assign data + queries to the trained codebook,
    brute-force cosine inside the routed bucket, rank per query."""
    return _dd_kmeans_cte(k, iters, dim) + f"""
        , asg AS (
          SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_distance(e.v, c.cent), 6) ASC,
                              c.cid ASC) AS r
            FROM e CROSS JOIN c{iters} c) WHERE r = 1)
        , q AS (SELECT vec_id AS query_id, v AS qv, cid FROM asg
                WHERE vec_id IN (SELECT vec_id FROM embeddings
                                 ORDER BY vec_id LIMIT {n_queries}))
        , scored AS (
          SELECT q.query_id, a.vec_id,
                 round(list_cosine_similarity(a.v, q.qv), 6) AS score
          FROM asg a JOIN q ON a.cid = q.cid
          WHERE a.vec_id <> q.query_id)
        , rr AS (
          SELECT query_id, vec_id, score,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id ASC) AS rank
          FROM scored)
        SELECT query_id, rank, vec_id, score FROM rr
        WHERE rank <= {topk} ORDER BY query_id, rank"""


def _dd_semdedup_sql(k: int = 8, iters: int = 2, dim: int = 64,
                     threshold: float = 0.35,
                     max_cluster: int = 4096) -> str:
    """semdedup twin: final-codebook assignment (same fin shape as the
    kmeans oracle), within-cluster cosine pairs at 6dp, keeper = the
    farther-from-centroid member (tie -> smaller vec_id stays)."""
    return _dd_kmeans_cte(k, iters, dim) + f"""
        , fin AS (
          SELECT vec_id, v, cid, d AS cdist FROM (
            SELECT e.vec_id, e.v, c.cid,
                   round(list_distance(e.v, c.cent), 6) AS d,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_distance(e.v, c.cent), 6) ASC,
                              c.cid ASC) AS r
            FROM e CROSS JOIN c{iters} c) WHERE r = 1)
        , okc AS (SELECT cid FROM fin GROUP BY cid
                  HAVING count(*) BETWEEN 2 AND {max_cluster})
        , kept AS (SELECT * FROM fin WHERE cid IN (SELECT cid FROM okc))
        , dup AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                 x.cdist AS da, y.cdist AS db
          FROM kept x JOIN kept y
            ON x.cid = y.cid AND x.vec_id < y.vec_id
          WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold})
        , drops AS (
          SELECT DISTINCT CASE WHEN da < db THEN id_a ELSE id_b END AS vec_id
          FROM dup)
        , nd AS (
          SELECT vec_id, count(*) AS n_dups FROM (
            SELECT id_a AS vec_id FROM dup
            UNION ALL SELECT id_b FROM dup) GROUP BY vec_id)
        SELECT f.vec_id, CAST(f.cid AS BIGINT) AS cid,
               CAST(coalesce(nd.n_dups, 0) AS BIGINT) AS n_dups,
               (dr.vec_id IS NULL) AS keep
        FROM fin f
        LEFT JOIN nd ON f.vec_id = nd.vec_id
        LEFT JOIN drops dr ON f.vec_id = dr.vec_id
        ORDER BY f.vec_id"""


def _dd_lm_nll_cte() -> str:
    """WITH chain ending at sc(doc_id, n_bigrams, nll) — the add-k bigram
    LM scores twinning lm_doc_nll (integer micro-nat quantization)."""
    return f"""
        WITH toks AS ({_DD_TOKENS}),
        bg AS (
          SELECT doc_id, unnest(list_transform(
            range(0, greatest(len(tl) - 1, 0)),
            i -> array_to_string(tl[CAST(i + 1 AS BIGINT):
                                    CAST(i + 2 AS BIGINT)], ' ')))
            AS bigram
          FROM toks),
        bc AS (SELECT bigram, string_split(bigram, ' ')[1] AS w1,
                      count(*) AS c12
               FROM bg GROUP BY bigram),
        uc AS (SELECT w1, count(*) AS c1 FROM
               (SELECT unnest(tl) AS w1 FROM toks) GROUP BY w1),
        vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
        model AS (
          SELECT bigram,
                 CAST(round(-ln((c12 + 0.1) / (c1 + 0.1 * v))
                            * 1000000.0) AS BIGINT) AS bnll_u
          FROM bc JOIN uc USING (w1) CROSS JOIN vv),
        sc AS (SELECT doc_id, count(*) AS n_bigrams,
                      round(CAST(sum(bnll_u) AS BIGINT)
                            / (count(*) * 1000000.0), 6) AS nll
               FROM bg JOIN model USING (bigram) GROUP BY doc_id)"""


def _dd_logreg_sql(label_sql: str, buckets: int = 64, lr: float = 0.02,
                   iters: int = 3) -> str:
    """quality_classifier twin: hashed count features + the given label
    query (must yield (doc_id, y)) + `iters` unrolled full-batch GD rounds
    with the integer micro-unit weight contract (margins and gradient
    sums are exact integer arithmetic; every rounding happens
    engine-side)."""
    h = _DD_HEX2LONG.format(v="'feat:' || tok")
    parts = [f"""
        WITH toks AS ({_DD_TOKENS}),
        feat AS (
          SELECT doc_id, {h} % {buckets} AS bucket, count(*) AS x
          FROM (SELECT doc_id, unnest(tl) AS tok FROM toks)
          GROUP BY doc_id, bucket),
        lab AS ({label_sql}),
        nn AS (SELECT count(*) AS n FROM lab),
        w0 AS (SELECT j AS bucket, CAST(0 AS BIGINT) AS w_u
               FROM range(0, {buckets}) t(j)),
        b0 AS (SELECT CAST(0 AS BIGINT) AS b_u)"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""
        , m{t} AS (
          SELECT f.doc_id, CAST(sum(f.x * w.w_u) AS BIGINT) AS m_u
          FROM feat f JOIN w{p} w USING (bucket) GROUP BY f.doc_id),
        r{t} AS (
          SELECT l.doc_id,
                 CAST(round((1.0 / (1.0 + exp(-((coalesce(m.m_u, 0)
                        + (SELECT b_u FROM b{p})) / 1000000.0))) - l.y)
                      * 1000000.0) AS BIGINT) AS r_u
          FROM lab l LEFT JOIN m{t} m USING (doc_id)),
        g{t} AS (
          SELECT f.bucket,
                 CAST(round({lr} * CAST(sum(f.x * r.r_u) AS BIGINT)
                            / nn.n) AS BIGINT) AS d_u
          FROM feat f JOIN r{t} r USING (doc_id) CROSS JOIN nn
          GROUP BY f.bucket, nn.n),
        bg{t} AS (
          SELECT CAST(round({lr} * CAST(sum(r.r_u) AS BIGINT) / nn.n)
                   AS BIGINT) AS d_u
          FROM r{t} r CROSS JOIN nn GROUP BY nn.n),
        w{t} AS (
          SELECT w.bucket, w.w_u - coalesce(g.d_u, 0) AS w_u
          FROM w{p} w LEFT JOIN g{t} g USING (bucket)),
        b{t} AS (SELECT b.b_u - bg.d_u AS b_u
                 FROM b{p} b CROSS JOIN bg{t} bg)""")
    parts.append(f"""
        , mf AS (
          SELECT f.doc_id, CAST(sum(f.x * w.w_u) AS BIGINT) AS m_u
          FROM feat f JOIN w{iters} w USING (bucket) GROUP BY f.doc_id)
        SELECT l.doc_id, l.y,
               round(1.0 / (1.0 + exp(-((coalesce(m.m_u, 0)
                      + (SELECT b_u FROM b{iters})) / 1000000.0))), 6)
                 AS score
        FROM lab l LEFT JOIN mf m USING (doc_id)
        ORDER BY l.doc_id""")
    return "".join(parts)


def _dd_minhash_match_sql(num_hashes: int = 8, bands: int = 4,
                          max_bucket: int = 1024) -> str:
    """minhash_match twin: signatures for the derived new-docs batch and
    the corpus from the same Carter-Wegman family, (band, key) equi-join,
    full-signature agreement count."""
    def hex_slice(v: str, start: int) -> str:
        return (
            "list_sum(list_transform(range(1, 9), i -> "
            f"CAST((strpos('0123456789abcdef', md5({v})[{start} + i]) - 1) "
            "* CAST(power(16, 8 - i) AS BIGINT) AS BIGINT)))"
        )

    h1, h2 = hex_slice("ngram", 0), hex_slice("ngram", 8)
    aggs = ", ".join(
        f"min(({h1} + {i} * {h2}) % 4294967296) AS mh{i}"
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
        WITH tc AS ({_DD_TOKENS}),
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


def _dd_pq_sql(m: int = 4, sub_k: int = 8, iters: int = 1, dim: int = 64,
               topk: int = 10, n_queries: int = 5) -> str:
    """pq_train/pq_encode/pq_topk twin: per-subspace Lloyd chains, code
    assignment, per-query ADC distance tables (6dp-rounded entries), sum of
    m lookups (6dp-rounded) ranked asc."""
    d = dim // m
    parts = [f"WITH e AS ({_DD_EMB})"]
    for s in range(m):
        parts.append(
            f", e{s} AS (SELECT vec_id, "
            f"v[{s * d + 1}:{(s + 1) * d}] AS v FROM e)")
        parts.append(_dd_lloyd(sub_k, iters, d, src=f"e{s}",
                               salt=f"pq{s}", pfx=f"p{s}"))
        parts.append(f"""
        , asg{s} AS (
          SELECT vec_id, cid FROM (
            SELECT t.vec_id, c.cid,
                   row_number() OVER (PARTITION BY t.vec_id
                     ORDER BY round(list_distance(t.v, c.cent), 6) ASC,
                              c.cid ASC) AS r
            FROM e{s} t CROSS JOIN p{s}c{iters} c) WHERE r = 1)""")
    parts.append(f"""
        , q AS (SELECT vec_id AS query_id, v FROM e
                WHERE vec_id IN (SELECT vec_id FROM embeddings
                                 ORDER BY vec_id LIMIT {n_queries}))""")
    dtabs = []
    for s in range(m):
        dtabs.append(f"""
          SELECT q.query_id, {s} AS s, c.cid AS code,
                 CAST(round(sum((q.v[CAST({s * d} + j AS INTEGER)] - c.cent[CAST(j AS INTEGER)])
                           * (q.v[CAST({s * d} + j AS INTEGER)] - c.cent[CAST(j AS INTEGER)]))
                       * 1000000.0) AS BIGINT) AS dsq_u
          FROM q CROSS JOIN p{s}c{iters} c, range(1, {d + 1}) t(j)
          GROUP BY q.query_id, c.cid""")
    parts.append(", dtab AS (" + " UNION ALL ".join(dtabs) + ")")
    probes = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, cid AS code FROM asg{s}"
        for s in range(m))
    parts.append(f"""
        , probes AS ({probes})
        , sc AS (
          SELECT d.query_id, p.vec_id,
                 round(CAST(sum(d.dsq_u) AS BIGINT) / 1000000.0, 6) AS adist
          FROM probes p JOIN dtab d ON d.s = p.s AND d.code = p.code
          WHERE p.vec_id <> d.query_id
          GROUP BY d.query_id, p.vec_id)
        , rr AS (
          SELECT query_id, vec_id, adist,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY adist ASC, vec_id ASC) AS rank
          FROM sc)
        SELECT query_id, rank, vec_id, adist FROM rr
        WHERE rank <= {topk} ORDER BY query_id, rank""")
    return "".join(parts)


def _sampling_oracles() -> dict[str, str]:
    """DuckDB twins for the sampling/mixture/chunk/vocab queries. The
    keep/copy thresholds are the SAME integers the Spark side compiles
    (rate_threshold / int(frac*2^32) over the shared dict literals)."""
    from sparkstract.operators.sampling import rate_threshold

    mod = 1 << 32

    def case(table: dict[str, float], default: float, to_int) -> str:
        whens = " ".join(f"WHEN '{s}' THEN {to_int(r)}"
                         for s, r in sorted(table.items()))
        return f"CASE lang {whens} ELSE {to_int(default)} END"

    strat_case = case(_SAMPLE_RATES, 0.8, rate_threshold)
    base_case = case(_MIX_WEIGHTS, 1.0, int)
    frac_case = case(_MIX_WEIGHTS, 1.0, lambda w: int((w - int(w)) * mod))
    h_strat = _DD_HEX2LONG.format(v="'strata:' || CAST(doc_id AS VARCHAR)")
    h_mix = _DD_HEX2LONG.format(v="'mix:' || CAST(doc_id AS VARCHAR)")
    raw_toks = (
        "SELECT doc_id, CASE WHEN trim(text) = '' THEN [] "
        "ELSE regexp_split_to_array(trim(text), '\\s+') END AS tl "
        "FROM documents"
    )
    return {
        "stratified_sample": f"""
            SELECT doc_id, lang, source
            FROM (SELECT doc_id, lang, source, {h_strat} AS h FROM documents)
            WHERE h < {strat_case}
            ORDER BY doc_id
        """,
        "weighted_mixture": f"""
            WITH m AS (
              SELECT doc_id, lang,
                     {base_case}
                     + CASE WHEN {h_mix} < {frac_case} THEN 1 ELSE 0 END AS n
              FROM documents)
            SELECT doc_id, lang, unnest(range(1, n + 1)) AS copy
            FROM m ORDER BY doc_id, copy
        """,
        "chunk_docs": f"""
            WITH toks AS ({raw_toks}),
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
        """,
        "vocab_topk": f"""
            WITH toks AS ({_DD_TOKENS}),
            tok AS (SELECT doc_id, unnest(tl) AS token FROM toks)
            SELECT token, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs
            FROM tok GROUP BY token
            ORDER BY n_occurrences DESC, token
            LIMIT 50
        """,
    }


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, media, _ = _fixture_frames(spark)
    return extract(spark, docs, media)


def q_extract_spans_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C11 recognizer seam, proven: the SAME fixture corpus decoded by
    the trained MLP pack (ExtractConfig(recognizer='model'),
    operators/recognizer.py ModelRecognizer) must reproduce the truth spans
    byte-for-byte — the oracle is extract_spans' own truth table, so a
    green row certifies the template and model strategies are
    interchangeable behind the seam (the reference's analog: the same page
    recognized by whichever .traineddata pack is loaded, LSTMRecognizeWord
    src/ccmain/linerec.cpp:237)."""
    from sparkstract.config import ExtractConfig

    docs, media, _ = _fixture_frames(spark)
    return extract(spark, docs, media, ExtractConfig(recognizer="model"))


def q_extract_spans_model_degraded(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The second model pack — retrained with cells HARVESTED from the
    degraded fixture families (scripts/train_recognizer_degraded.py, the
    fast-vs-best .traineddata analog, apiexample_test.cc:89-99) — decodes
    the same corpus to the same truth, proving the pack-retrain loop
    end-to-end: harvest -> train -> gate -> ship -> swap via
    ExtractConfig(recognizer='model-degraded')."""
    from sparkstract.config import ExtractConfig

    docs, media, _ = _fixture_frames(spark)
    return extract(spark, docs, media,
                   ExtractConfig(recognizer="model-degraded"))


@functools.lru_cache(maxsize=1)
def _rtl_fixture():
    """Deterministic RTL two-column page + truth (Hebrew layout_test case,
    /root/reference/unittest/layout_test.cc:215-236): rightmost column reads
    first under ExtractConfig(rtl=True)."""
    from sparkstract.fixtures.render import PageSpec, Text, render_page
    from sparkstract.functions.png import encode_gray

    spec = PageSpec(
        elements=[Text(["RIGHT COLUMN ONE", "RIGHT COLUMN TWO"], col=1),
                  Text(["LEFT COLUMN ONE", "LEFT COLUMN TWO"], col=0)],
        n_cols=2, scale=2, width_chars=17, rtl=True)
    img, truth = render_page(spec)
    return encode_gray(img), img.shape, truth


def q_extract_rtl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.config import ExtractConfig
    from sparkstract.fixtures.gen import DOCS_SCHEMA, MEDIA_SCHEMA

    png, shape, _truth = _rtl_fixture()
    docs = spark.createDataFrame(
        [("d-rtl", [dict(kind="media", text=None, media_ref="m-rtl", offset=0)])],
        DOCS_SCHEMA)
    media = spark.createDataFrame(
        [("m-rtl", shape[1], shape[0], png)], MEDIA_SCHEMA)
    return extract(spark, docs, media, ExtractConfig(rtl=True))


@functools.lru_cache(maxsize=1)
def _bidi_fixture():
    """Mixed-direction RTL page (W4, resultiterator.cpp:285): words drawn in
    POSITIONAL left-to-right order, truth hand-written in LOGICAL bidi order
    per the reference's permutation tests (resultiterator_test.cc:480-539)."""
    from sparkstract.fixtures.render import PageSpec, Text, render_page
    from sparkstract.functions.png import encode_gray

    spec = PageSpec(elements=[Text(
        ["אב גד FOX DOG הו", "זח טי"],
        truth_lines=["הו FOX DOG גד אב", "טי זח"], col=0)],
        scale=2, width_chars=17, rtl=True)
    img, truth = render_page(spec)
    return encode_gray(img), img.shape, truth


def q_extract_bidi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExtractConfig(rtl=True) path of the bidi reorder (the reference
    gets direction from the loaded language). The script-VOTE path — same
    reorder, no config flag — is exercised by the bidi_page / rotated_rtl
    fixture families inside extract_spans."""
    from sparkstract.config import ExtractConfig
    from sparkstract.fixtures.gen import DOCS_SCHEMA, MEDIA_SCHEMA

    png, shape, _truth = _bidi_fixture()
    docs = spark.createDataFrame(
        [("d-bidi", [dict(kind="media", text=None, media_ref="m-bidi", offset=0)])],
        DOCS_SCHEMA)
    media = spark.createDataFrame(
        [("m-bidi", shape[1], shape[0], png)], MEDIA_SCHEMA)
    return extract(spark, docs, media, ExtractConfig(rtl=True))


# row 0 is a MERGED-cell header: TOTAL spans body columns 0-1 (C8 v3,
# StructuredTable tablerecog.cpp:62) — it has only one aligned gap, so
# only the spanned-row absorption keeps it inside the table
_TABLE_CELLS = [["TOTAL", "W8"],
                ["PART", "GRID FOX", "X1"],
                ["SCAN", "ROW", "Y2"],
                ["JOIN", "THE DOG", "Z3"]]
_TABLE_LAYOUT = [[(0, 2), (2, 1)]] + [[(0, 1), (1, 1), (2, 1)]] * 3


@functools.lru_cache(maxsize=1)
def _table_fixture():
    """Deterministic table page with a multi-word middle column AND a
    spanning header: cell structure (C8 v2/v3, reference
    src/textord/tablerecog.cpp) requires the decode to split at the
    aligned table gaps but NOT at intra-cell word spaces, and to keep the
    merged header cell as ONE cell spanning two grid columns."""
    from sparkstract.fixtures.render import PageSpec, TableGrid, render_page
    from sparkstract.functions.png import encode_gray

    spec = PageSpec(elements=[TableGrid(cells=_TABLE_CELLS,
                                        col_chars=[6, 9, 4],
                                        layout=_TABLE_LAYOUT, col=0)],
                    scale=2, width_chars=27)
    img, _truth = render_page(spec)
    return encode_gray(img), img.shape


def q_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-level table structure: one output row per (table row, cell)."""
    from sparkstract.fixtures.gen import DOCS_SCHEMA, MEDIA_SCHEMA

    png, shape = _table_fixture()
    docs = spark.createDataFrame(
        [("d-table", [dict(kind="media", text=None, media_ref="m-table",
                           offset=0)])], DOCS_SCHEMA)
    media = spark.createDataFrame(
        [("m-table", shape[1], shape[0], png)], MEDIA_SCHEMA)
    spans = extract(spark, docs, media)
    by_line = (
        spans.filter(F.col("kind") == "table")
        .select("doc_id", "order",
                F.posexplode(F.split("text", "\n")).alias("row_idx", "line"))
    )
    return (
        by_line.select("doc_id", "order", "row_idx",
                       F.posexplode(F.split("line", "\t"))
                       .alias("cell_idx", "cell"))
        .orderBy("doc_id", "order", "row_idx", "cell_idx")
    )


def q_table_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED table view (C8 v3): grid column + span per visible cell
    through the page table's cell projection — the merged header cell
    must come out once with col_span 2 (StructuredTable,
    tablerecog.cpp:62)."""
    from sparkstract.fixtures.gen import DOCS_SCHEMA, MEDIA_SCHEMA
    from sparkstract.plans.pipeline import extract_pages, page_cells

    png, shape = _table_fixture()
    docs = spark.createDataFrame(
        [("d-table", [dict(kind="media", text=None, media_ref="m-table",
                           offset=0)])], DOCS_SCHEMA)
    media = spark.createDataFrame(
        [("m-table", shape[1], shape[0], png)], MEDIA_SCHEMA)
    return (
        page_cells(extract_pages(spark, docs, media))
        .select("doc_id", "row_idx", "cell_idx", "col_start", "col_span",
                "cell")
        .orderBy("doc_id", "row_idx", "cell_idx")
    )


_ZONE_LINES = ["SPARK QUERY SCAN", "MERGE BATCH GRID",
               "PAGE LINE WORD", "TOKEN GLYPH ROW"]
_ZONE_SPLIT = 58  # between rows 2 and 3 (tops 16/40/64/88 at scale 2)


@functools.lru_cache(maxsize=1)
def _zone_fixture():
    from sparkstract.fixtures.render import PageSpec, Text, render_page
    from sparkstract.functions.png import encode_gray

    img, _ = render_page(PageSpec(elements=[Text(_ZONE_LINES)], scale=2,
                                  width_chars=17))
    return encode_gray(img), img.shape


def q_zone_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 zone-file source: a zones side table overrides segmentation per
    media_ref (read_unlv_file, blread.cpp; honored pagesegmain.cpp:114-127)
    — the supplied two-zone split wins over the single auto block."""
    from sparkstract.fixtures.gen import DOCS_SCHEMA, MEDIA_SCHEMA
    from sparkstract.plans.pipeline import ZONES_SCHEMA

    png, (h, w) = _zone_fixture()
    docs = spark.createDataFrame(
        [("d-zone", [dict(kind="media", text=None, media_ref="m-zone",
                          offset=0)])], DOCS_SCHEMA)
    media = spark.createDataFrame([("m-zone", w, h, png)], MEDIA_SCHEMA)
    zones = spark.createDataFrame(
        [("m-zone", [dict(left=0, top=0, right=w - 1,
                          bottom=_ZONE_SPLIT - 1, kind="flowing_text"),
                     dict(left=0, top=_ZONE_SPLIT, right=w - 1,
                          bottom=h - 1, kind="flowing_text")])], ZONES_SCHEMA)
    return extract(spark, docs, media, zones=zones)


def q_layout_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnalyseLayout slice (baseapi.cpp:1298): kinds + order without
    recognition — extracted spans carry NULL text, pass-through text stays."""
    from sparkstract.plans.pipeline import analyse_layout

    docs, media, _ = _fixture_frames(spark)
    return analyse_layout(spark, docs, media)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy("n_name")
    )


def q_quantity_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile grading WITHOUT a global window: an unpartitioned
    ntile/row_number funnels the whole table through ONE task — dead at
    100 TB. Instead: exact quartile boundaries via one aggregate (partial
    agg merges per-partition), broadcast the 1-row boundary frame, assign
    grades with a CASE — a single map pass, fully parallel. Boundaries are
    rounded to 6 dp in both engines so the CASE comparisons are identical."""
    li = _t(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("l_quantity", F.lit(0.50)), 6).alias("q2"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("q3"),
    )
    graded = li.crossJoin(F.broadcast(bounds)).withColumn(
        "grade",
        F.when(F.col("l_quantity") <= F.col("q1"), 1)
        .when(F.col("l_quantity") <= F.col("q2"), 2)
        .when(F.col("l_quantity") <= F.col("q3"), 3)
        .otherwise(4),
    )
    return (
        graded.groupBy("grade")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy("grade")
    )


def q_event_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


def q_user_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("seq"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_top1_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no big-ticket order (anti join against a filtered
    right side — the filter makes the result non-trivial on the test SF)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


def q_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one near-full-quantity lineitem, counted per
    priority (TPC-H Q4 shape: semi join + group)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") >= 48)
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the classic large-scale clickstream shape):
    a >30 min silence starts a new session. lag + running sum windows — both
    partition-local per user after one shuffle."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        # interval comparison: exact to the microsecond, timezone-free (ts is
        # TIMESTAMP_NTZ), and identical semantics in the DuckDB oracle
        .withColumn("new_s", F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 30 MINUTES")),
            1).otherwise(0))
        .withColumn("session_id", F.sum("new_s").over(w))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .orderBy("user_id", "session_id")
    )


def q_top_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue within each brand: join + agg + per-group
    top-k window (rank computed AFTER rounding, part-key tie-break)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    agg = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("p_brand", "rank")
    )


def q_returnflag_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(),
                 F.col("l_linestatus").asc_nulls_first())
    )


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


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document line dedup (Wenzek et al. 2020 §4.1):
    every line is hashed over its normstrngs-folded form and only the
    corpus-wide FIRST occurrence (smallest (doc_id, pos)) survives — the
    boilerplate-stripping pass. Corpus rows pass through untouched (they
    are single-line and unique); the unioned _LINE_DOCS rows exercise the
    drop/fold/blank/within-doc paths non-vacuously."""
    from sparkstract.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    extra = spark.createDataFrame(_LINE_DOCS, "doc_id string, text string")
    return line_dedup(docs.union(extra)).orderBy("doc_id")


def q_dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the normstrngs-folded canonical form
    (unittest/normstrngs_test.cc): curly quotes/dashes/ligatures fold to
    ASCII before fingerprinting. The documents table is unioned with fixed
    curly-variant rows so the fold is genuinely exercised at the gate."""
    docs = _t(spark, sf_dir, "documents").select(
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


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", ts.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .orderBy("fp")
    )


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
    docs = _t(spark, sf_dir, "documents")
    df = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4).persist()
    _PAIRS_CACHE[sf_dir] = (spark, df)
    return df


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def q_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'log what was dropped' side channel for minhash_lsh_pairs'
    oversized-bucket cap: one row per dropped (band, key) bucket with its
    size. Empty result = the cap dropped nothing at this SF — and the
    oracle PINS that emptiness instead of leaving the cap silent."""
    docs = _t(spark, sf_dir, "documents")
    return (dedup.lsh_bucket_stats(docs, num_hashes=8, bands=4)
            .orderBy("band", "key"))


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → one cluster id + keep flag
    per document (alternating large-star/small-star; oracle is a recursive
    transitive closure over the identical pair set, tractable at sf0.01)."""
    from sparkstract.operators.cluster import dedup_assign

    docs = _t(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    return dedup_assign(docs, pairs).orderBy("doc_id")


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/val split: the md5 coin is flipped on the
    near-dup CLUSTER id, so no near-duplicate pair ever straddles the
    boundary. Reuses the cached minhash pair frame."""
    from sparkstract.operators.cluster import cluster_split

    docs = _t(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    return cluster_split(docs, pairs, val_fraction=0.2).orderBy("doc_id")


def q_split_leak_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pin cluster_split's structural guarantee: COUNT the near-dup pairs
    whose endpoints land on different sides of the train/val boundary —
    zero BY CONSTRUCTION (the coin is flipped on the cluster id), and the
    oracle pins that zero instead of leaving the claim as prose. One row:
    (n_pairs, n_leaking_pairs)."""
    from sparkstract.operators.cluster import cluster_split

    docs = _t(spark, sf_dir, "documents")
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

    docs = _t(spark, sf_dir, "documents")
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


def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation composition: content gates (tokens /
    language / quality) + keep-one-per-near-dup-cluster, with a per-doc
    verdict and reason. Thresholds chosen so the sf tables exercise every
    reason branch."""
    from sparkstract.operators.curate import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    return curate_corpus(docs, pairs, min_tokens=20, langs=("en",),
                         min_quality=0.1).orderBy("doc_id")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash(docs, bits=32).orderBy("doc_id")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).orderBy("doc_a", "doc_b")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(docs).orderBy("doc_a", "doc_b")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 97 == 0 stand in for
    the eval set, the rest are the training corpus. n=3 at test scale
    (production default is 8 — the synthetic word-soup never collides at
    8-grams and a 0-row query would be vacuous)."""
    from sparkstract.operators.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=3).orderBy("doc_id")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot delta: old = docs without the %11 family, new =
    docs without the %5 family with ' v2' appended to the %7 family —
    yields all three statuses (added/removed/changed) non-vacuously.
    Unchanged docs never leave the operator."""
    from sparkstract.operators.report import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 0).select("doc_id", "text")
    new = (docs.filter(F.col("doc_id") % 5 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 7 == 0,
                          F.concat("text", F.lit(" v2")))
                    .otherwise(F.col("text")).alias("text")))
    return snapshot_diff(old, new).orderBy("doc_id")


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reverse decontamination view (GPT-3 appendix C): per BENCHMARK
    item, the fraction of its 3-grams that appear anywhere in the training
    corpus — the clean/dirty eval split. Same bench/train partition as
    q_decontaminate (doc_id % 97)."""
    from sparkstract.operators.decontam import contamination_report

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return (contamination_report(train, bench, n=3, max_dirty_frac=0.5)
            .orderBy("doc_id"))


# Shared gate parameters for the sampling/mixture queries — the oracle
# interpolates the SAME integer thresholds (see oracle_sql), so parity is
# by construction, not by parallel float arithmetic.
_SAMPLE_RATES = {"en": 0.5, "zh": 1.0}      # default 0.8
_MIX_WEIGHTS = {"en": 0.4, "de": 2.5}       # default 1.0


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-lang downsampling (md5 coin — reproducible under
    task retry, unlike F.rand)."""
    from sparkstract.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return (stratified_sample(docs, _SAMPLE_RATES, default_rate=0.8,
                              strata_col="lang")
            .select("doc_id", "lang", "source").orderBy("doc_id"))


def q_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-style mixture weighting: en 0.4 (subsample), de 2.5 (2-3
    copies each), others 1.0."""
    from sparkstract.operators.sampling import weighted_mixture

    docs = _t(spark, sf_dir, "documents")
    return (weighted_mixture(docs, _MIX_WEIGHTS, default_weight=1.0,
                             strata_col="lang")
            .select("doc_id", "lang", F.col("copy").cast("long").alias("copy"))
            .orderBy("doc_id", "copy"))


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM training-window chunking: 32-token windows every 24 tokens
    (8-token overlap); tail chunk kept. Gate window is small because the
    synthetic docs run 8-90 tokens (production default 128/96)."""
    from sparkstract.operators.sampling import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return (chunk_documents(docs, window=32, stride=24)
            .select("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    "chunk_text")
            .orderBy("doc_id", "chunk_id"))


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus vocabulary by occurrences (tf + df per token)."""
    from sparkstract.operators.sampling import vocab_topk

    docs = _t(spark, sf_dir, "documents")
    return vocab_topk(docs, k=50)


def q_strip_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring removal (Lee et al. 2022 style):
    drop every token covered by a 3-token window shared by >= 2 docs.
    k=3 at test scale (production ~50 — the synthetic word-soup has no
    long shared runs, so k=50 would be a vacuous 0-removal check)."""
    from sparkstract.operators.substrings import strip_repeated_substrings

    docs = _t(spark, sf_dir, "documents")
    return (strip_repeated_substrings(docs, k=3, min_docs=2)
            .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("n_removed").cast("long").alias("n_removed"),
                    "clean_text")
            .orderBy("doc_id"))


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the crawl per-domain quota): at most 21
    docs per source, deterministic md5 ranking. The doc_id % 7 prefilter
    makes per-source counts straddle the quota so BOTH paths run: sources
    at <= 21 take the no-window broadcast bypass, sources at 22 pay the
    bounded rank window."""
    from sparkstract.operators.sampling import cap_per_source

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 != 0)
    return (cap_per_source(docs, max_docs=21, strata_col="source")
            .select("doc_id", "source", "lang").orderBy("doc_id"))


def q_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection scores: target = the en docs with doc_id % 5
    == 0 (standing in for a curated in-domain sample), raw = the whole
    corpus; B = 10^4 hash buckets (the paper's setting)."""
    from sparkstract.operators.sampling import importance_scores

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 5 == 0))
    return (importance_scores(docs, target, n_buckets=10_000)
            .select("doc_id",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    "score")
            .orderBy("doc_id"))


# Trained k-means codebook per (sf_dir, k, iters). Unlike the pair frame
# this is PLAIN DATA (k x dim floats, no session reference), so it can
# outlive sessions safely. q_kmeans trains; ann_ivf_kmeans_topk and
# semdedup reuse the model — the production train-once pattern (disclosed
# in bench.py: the `kmeans` entry carries the training cost).
_KMEANS_MODEL_CACHE: dict[tuple[str, int, int], list] = {}


def _kmeans_model(spark: SparkSession, sf_dir: str,
                  k: int = 8, iters: int = 2) -> list:
    key = (sf_dir, k, iters)
    if key not in _KMEANS_MODEL_CACHE:
        from sparkstract.operators.similarity import kmeans_fit

        emb = _t(spark, sf_dir, "embeddings")
        _KMEANS_MODEL_CACHE[key] = kmeans_fit(emb, k=k, iters=iters)
    return _KMEANS_MODEL_CACHE[key]


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=8, 2 Lloyd rounds from md5-seeded init) over
    the embeddings table, then nearest-centroid assignment — the IVF
    codebook training path. Oracle unrolls the same two rounds in SQL."""
    from sparkstract.operators.similarity import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    cents = _kmeans_model(spark, sf_dir, k=8, iters=2)
    return (kmeans_assign(emb, cents)
            .select("vec_id", F.col("cid").cast("long").alias("cid"), "dist")
            .orderBy("vec_id"))


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch estimates vs exact counts for the 20
    alphabetically-first tokens; width=16 forces collisions (the corpus vocab is only ~31 tokens) at test scale
    so est > exact is actually exercised (est >= exact always — the CMS
    one-sided error, identical in both engines because buckets are md5)."""
    from sparkstract.operators.sketch import cms_lookup, cms_table

    docs = _t(spark, sf_dir, "documents")
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


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (same split as `decontaminate`):
    m=4096 bits / 3 hashes at test scale gives a deterministic, nonzero
    false-positive rate shared bit-for-bit with the oracle — n_hits >=
    the exact overlap, never below."""
    from sparkstract.operators.sketch import decontaminate_bloom

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return (decontaminate_bloom(train, bench, n=3, m_bits=4096, n_hashes=3)
            .select("doc_id",
                    F.col("n_grams").cast("long").alias("n_grams"),
                    F.col("n_hits").cast("long").alias("n_hits"),
                    "contaminated")
            .orderBy("doc_id"))


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary per doc (count + sum of the distinct
    selected hashes — a compact deterministic digest of the fp set)."""
    docs = _t(spark, sf_dir, "documents")
    fps = dedup.winnow_fingerprints(docs, k=5, window=4)
    return (
        fps.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fp"), F.sum("fp").alias("fp_sum"))
        .orderBy("doc_id")
    )


# Deterministic HTML fixture docs for the boilerplate-strip query: scripts,
# styles, nav/footer chrome, comments, entities, inline markup, link-dense
# menu lines — each exercising one drop/keep rule.
_HTML_DOCS: list[tuple[str, str]] = [
    ("h1", "<html><head><script>var x = 1 < 2;</script><style>p{color:red}"
           "</style></head><body><nav><a href='/'>Home</a> <a href='/a'>"
           "About</a></nav><h1>The Quick Study</h1>"
           "<p>The quick brown fox jumps over the lazy dog every day.</p>"
           "<p>A second paragraph of real body prose continues right here."
           "</p><footer>Copyright 2026 Example Corp</footer></body></html>"),
    ("h2", "<div>Short</div><div>Menu: <a href='x'>one</a> <a href='y'>two"
           "</a> <a href='z'>three four five six</a></div>"
           "<div>This line has &quot;entities&quot; &amp; should survive "
           "fine.</div>"),
    ("h3", "<!-- boilerplate comment --><p>Line with <b>inline</b> markup "
           "stays as one block line.</p><ul><li>tiny</li><li>items</li></ul>"),
    ("h4", "<p>An article body with a citation <a href='/ref'>see the full "
           "reference text</a> inside keeps its line when prose dominates "
           "the anchors overall.</p>"),
    ("h5", "<html lang=\"en\"><head><title>Fox &amp; Dog <b>Study</b>"
           "</title><meta name=\"description\" content=\"A quick study "
           "of foxes and dogs.\"><link rel=\"canonical\" "
           "href=\"https://example.org/fox\"></head><body><h1>Foxes "
           "<b>and</b> Dogs</h1><p>Body prose long enough to survive the "
           "main content filter easily.</p></body></html>"),
]


# Context-sensitive HTML fixture docs (justext_main_content): each doc
# pins one rule of the decisive-neighbor resolution. Building blocks:
# _CTX_GOOD/_CTX_GOOD2 are long prose at exactly/above the stopword
# threshold, _CTX_BADLONG is long stopword-free noise, the "Home page
# link menu" divs are fully link-dense (bad), "Figure 2"/"Caption A" are
# short, "The fox is quick" is near-good.
_CTX_GOOD = "The quick brown fox jumps over the lazy dog daily."
_CTX_GOOD2 = "A second paragraph of body prose continues here now."
_CTX_BADLONG = ("colorless green ideas sleep furiously beside seven "
                "quiet mountains")
_HTML_CTX_DOCS: list[tuple[str, str]] = [
    # short between two goods -> kept (both decisive neighbors good)
    ("c1", f"<p>{_CTX_GOOD}</p><div>Figure 2</div><p>{_CTX_GOOD2}</p>"),
    # short between two link-dense bads -> dropped, doc collapses to ''
    ("c2", "<div><a href='/1'>Home page link menu</a></div>"
           "<div>Subscribe now</div>"
           "<div><a href='/2'>Site map index pages</a></div>"),
    # near-good after a good (bad follows) -> kept: one good neighbor is
    # enough for near-good
    ("c3", f"<p>{_CTX_GOOD}</p><p>The fox is quick</p>"
           f"<div>{_CTX_BADLONG}</div>"),
    # near-good surrounded by bad on both sides -> dropped
    ("c4", f"<div>{_CTX_BADLONG}</div><p>The fox is quick</p>"
           f"<div>{_CTX_BADLONG}</div>"),
    # document edge counts as bad: a leading short is dropped even
    # though the next block is good (short needs BOTH)
    ("c5", f"<div>Figure 2</div><p>{_CTX_GOOD}</p>"),
    # ...but a leading near-good keeps on the following good alone
    ("c6", f"<p>The fox is quick</p><p>{_CTX_GOOD}</p>"),
    # wholesale-dropped <nav> composes with the context pass
    ("c7", f"<nav><a href='/'>Home</a></nav><p>{_CTX_GOOD}</p>"
           f"<div>Caption A</div><p>{_CTX_GOOD2}</p>"),
]


# PII-bearing literal docs: one per pattern family + a clean control + an
# overlap case (email containing digits a phone pattern could nibble at)
_PII_DOCS: list[tuple[str, str]] = [
    ("p1", "Contact jane.doe+spam@example.co.uk or call 555-867-5309 now"),
    ("p2", "Server at 192.168.10.254 answered; backup at 10.0.0.1 did not"),
    ("p3", "SSN 123-45-6789 must never appear; order 12345 is fine"),
    ("p4", "Call (800) 555-0100 or +1 415 555 2671 before noon"),
    ("p5", "No contact data here, just plain prose about nothing at all"),
    ("p6", "mail a.b-1@x.io and visit 8.8.8.8"),
]


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (emails/phones/IPs/SSNs → typed tokens), the standard
    pre-training scrub pass, over literal docs covering each pattern."""
    df = spark.createDataFrame(_PII_DOCS, "doc_id string, text string")
    return df.select(
        "doc_id", ts.scrub_pii(F.col("text")).alias("scrubbed")
    ).orderBy("doc_id")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition filters (Rae et al. 2021 A1.1):
    duplicate-line fraction + top-word-bigram character share, per doc."""
    from sparkstract.operators.repetition import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, n=2).orderBy("doc_id")


def q_gopher_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MassiveText repetition rule set (Rae et al. 2021 table A1 —
    all twelve thresholds): dup line/paragraph fractions + their char
    fractions, top-{2,3,4}-gram char share, and interval-union char coverage
    of duplicated {5..10}-grams, plus the combined gopher_pass verdict."""
    from sparkstract.operators.repetition import gopher_stats

    docs = _t(spark, sf_dir, "documents")
    return gopher_stats(docs).orderBy("doc_id")


def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip + line-density main-content extraction (the
    north rule's 'HTML boilerplate strip, DOM heuristics' operator) over a
    deterministic HTML corpus. Pure higher-order column expressions; the
    DuckDB twin is generated from the SAME regex/entity constants."""
    from sparkstract.functions.html import strip_boilerplate

    df = spark.createDataFrame(_HTML_DOCS, "doc_id string, html string")
    return df.select(
        "doc_id", strip_boilerplate(F.col("html")).alias("main_text")
    ).orderBy("doc_id")


def q_html_main_content_ctx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT-SENSITIVE main-content extraction (the jusText-family
    decisive-neighbor resolution, functions/html.justext_main_content):
    short and near-good blocks keep or drop by their nearest good/bad
    neighbors. Distributed as posexplode + one doc-keyed exchange shared
    by both window sorts; the DuckDB twin mirrors the classification and
    windows from the same constants."""
    from sparkstract.functions.html import justext_main_content

    df = spark.createDataFrame(_HTML_CTX_DOCS, "doc_id string, html string")
    return justext_main_content(df).orderBy("doc_id")


def q_html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/DOM metadata extraction (title, meta description, first h1,
    html lang, canonical URL) — the companion of html_main_content for
    the north rule's DOM-heuristics operator. Same regexp constants as
    the DuckDB twin; empty string = absent in both engines."""
    from sparkstract.functions.html import extract_metadata

    df = spark.createDataFrame(_HTML_DOCS, "doc_id string, html string")
    cols = extract_metadata(F.col("html"))
    return df.select("doc_id",
                     *[c.alias(n) for n, c in cols.items()]
                     ).orderBy("doc_id")


# Deterministic WARC fixture (sources/warc.py): payload literals shared
# by the Spark query AND the oracle, so the expected rows derive from the
# construction inputs, never from running the parser on itself.
_WARC_RECS = [
    dict(warc_type="warcinfo", payload=b"software: sparkstract\r\n"),
    dict(warc_type="response", target_uri="http://example.com/a",
         http_status=200, content_type="text/html",
         payload=b"<html><body><p>Alpha page body</p></body></html>"),
    dict(warc_type="request", target_uri="http://example.com/a",
         payload=b"GET /a HTTP/1.1\r\nHost: example.com\r\n\r\n"),
    dict(warc_type="response", target_uri="http://example.com/b",
         http_status=404, content_type="text/html",
         payload=b"<html>missing</html>"),
    dict(warc_type="response", target_uri="http://example.com/big",
         http_status=200, content_type="application/octet-stream",
         payload=b"x" * 5000),
]
_WARC_CAP = 1000


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive source (ISO 28500, sources/warc.py): gzip-member
    records parsed map-only through the binaryFile/mapInPandas plumbing —
    the stage-zero input of a web-scale training pipeline. The fixture
    archive is built from literal payloads; the oracle's expected rows are
    hand-derived from those SAME literals (type/uri/status/size/sha), so a
    green row pins the parser against the spec'd construction, not against
    itself."""
    import pandas as pd

    from sparkstract.fixtures.encoders.warc import encode_warc
    from sparkstract.sources.warc import WARC_SCHEMA, warc_kernel

    data = encode_warc(_WARC_RECS, gzip_members=True)
    frame = spark.createDataFrame(
        pd.DataFrame([("fixture.warc.gz", data)],
                     columns=["path", "content"]),
        "path string, content binary")
    recs = frame.mapInPandas(warc_kernel(_WARC_CAP), schema=WARC_SCHEMA)
    return recs.select(
        "record_seq",
        F.col("warc_type").alias("record_type"),
        F.coalesce("target_uri", F.lit("")).alias("target_uri"),
        F.coalesce("http_status", F.lit(-1)).alias("http_status"),
        "content_type",
        "n_bytes", "truncated",
        F.sha2("payload", 256).alias("payload_sha"),
    ).orderBy("record_seq")


# mojibake fixture: ONE clean literal; its damaged forms derive from the
# same sloppy-cp1252 model the repair table derives from
_MOJI_CLEAN = "café naïve — “quoted” … €5 ±3° żółć"


def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (functions/encoding.py — the fix-encoding pass of a
    crawl pipeline): every document gets the damaged form of a known
    literal appended, the generated replace chain repairs it in the same
    scan, and the output reports whether the repaired tail equals the
    clean literal plus the tail itself. The DuckDB twin runs the SAME
    chain (mojibake_sql) over the same column, so a green row pins the
    chain's byte-for-byte semantics across engines; `repaired` pinning
    `true` on every row is the functional claim."""
    from sparkstract.functions.encoding import _sloppy_cp1252, fix_mojibake

    damaged = _sloppy_cp1252(_MOJI_CLEAN.encode("utf-8"))
    docs = _t(spark, sf_dir, "documents")
    fixed = fix_mojibake(F.concat(F.col("text"), F.lit(" " + damaged)))
    tail = F.substring(fixed, -len(_MOJI_CLEAN), len(_MOJI_CLEAN))
    return docs.select(
        "doc_id",
        tail.alias("fixed_tail"),
        (tail == F.lit(_MOJI_CLEAN)).alias("repaired"),
    ).orderBy("doc_id")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ts.token_count(F.col("text")).alias("n_tokens"),
        ts.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.round(ts.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(ts.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        F.round(ts.mean_word_len(F.col("text")), 6).alias("mean_word_len"),
        ts.lang_id(F.col("text")).alias("pred_lang"),
        ts.fingerprint(F.col("text")).alias("fp"),
        ts.bigram_coherence(F.col("text")).alias("bigram_coherence"),
    ).orderBy("doc_id")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", ts.quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.orderBy("vec_id").limit(5)
         .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")))
    return similarity.brute_force_topk(emb, q, k=10).orderBy("query_id", "rank")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.orderBy("vec_id").limit(5)
         .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")))
    return similarity.ivf_topk(emb, q, k=10).orderBy("query_id", "rank")


def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over the TRAINED k-means codebook (train -> assign -> probe):
    the full self-contained ANN path, no pre-clustered label column."""
    from sparkstract.operators.similarity import ivf_kmeans_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = _kmeans_model(spark, sf_dir, k=8, iters=2)
    q = (emb.orderBy("vec_id").limit(5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return (ivf_kmeans_topk(emb, q, cents, k=10)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", "score")
            .orderBy("query_id", "rank"))


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jegou et al. 2011): 4 subspace
    codebooks of 8 codes (one Lloyd round each), vectors compressed to 4
    codes, per-query distance = sum of 4 table lookups."""
    from sparkstract.operators.similarity import pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=4, sub_k=8, iters=1, dim=64)
    q = (emb.orderBy("vec_id").limit(5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return (pq_topk(emb, q, books, k=10)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", "adist")
            .orderBy("query_id", "rank"))


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdicts (Abbas et al. 2023): k-means cluster (k=8, the
    trained `kmeans` codebook), within-cluster cosine >= 0.35 = semantic
    duplicate (115 pairs at sf0.01 — non-vacuous), keep the
    farther-from-centroid pair member. One row per vector."""
    from sparkstract.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    cents = _kmeans_model(spark, sf_dir, k=8, iters=2)
    return (semdedup(emb, cents, threshold=0.35)
            .select("vec_id", F.col("cid").cast("long").alias("cid"),
                    "n_dups", "keep")
            .orderBy("vec_id"))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the OR-query {dup, spark, join} — one rare
    term (df~25 at sf0.01, high idf) and two common ones, so the ranking
    exercises both idf separation and the length normalization."""
    from sparkstract.operators.search import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["dup", "spark", "join"], topk=20)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style trained quality filter: hashed bag-of-words logistic
    regression (64 buckets, 4 full-batch GD rounds, lr 0.05) trained to
    imitate the heuristic quality gate (pseudo-label y=1 iff quality >=
    median — the CCNet 'train a cheap linear model on the expensive
    signal, then score the corpus with it' pattern). Learns for real: AUC
    0.95 at sf0.01 (the raw-score threshold stays uncalibrated at 4
    rounds — ranking quality is the filter's operative metric). Returns
    (doc_id, y, score); the oracle unrolls the same GD rounds in SQL with
    the kmeans-style per-round integer resync."""
    from sparkstract.operators.classifier import (
        hashed_features, logreg_fit, logreg_score)

    docs = _t(spark, sf_dir, "documents")
    s = docs.select("doc_id",
                    ts.quality_score(F.col("text")).alias("quality"))
    med = s.agg(F.round(F.percentile("quality", F.lit(0.5)), 6)
                .alias("med"))
    # labels and features are each read twice (4 GD rounds inside
    # logreg_fit, then the final scored join) — persist both so training
    # materializes them once and scoring reuses the cache instead of
    # re-running the quality/percentile and explode/hash subtrees
    # (logreg_fit detects the pre-persisted labels and leaves ownership
    # here). Both frames are per-doc-bounded: (doc_id, y) and the hashed
    # B-bucket counts.
    labels = (s.crossJoin(F.broadcast(med))
              .select("doc_id",
                      F.when(F.col("quality") >= F.col("med"), 1.0)
                       .otherwise(0.0).alias("y"))).persist()
    feats = hashed_features(docs, buckets=64).persist()
    w_u, b_u = logreg_fit(feats, labels, buckets=64, lr=0.05, iters=4)
    return (labels.join(logreg_score(feats, w_u, b_u), "doc_id")
            .select("doc_id", "y", "score")
            .orderBy("doc_id"))


def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterization audit for the LSH candidate generator: recall of
    minhash_lsh_pairs (8 hashes, 4 bands, cap 64) against the exact n-gram
    Jaccard >= 0.5 ground truth — one row: truth/candidate/covered counts
    + recall. The exact side is the expensive verifier, so at scale this
    runs on a sample; here the full corpus is the sample. 25/25 covered at
    sf0.01 (recall 1.0) with 33 candidates — the band-collision surplus is
    the precision cost the exact verify pays for."""
    docs = _t(spark, sf_dir, "documents")
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


def q_lm_doc_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal: mean NLL per doc under the corpus's own
    add-k bigram LM (the distributed KenLM-perplexity analog)."""
    from sparkstract.operators.lm import lm_doc_nll

    docs = _t(spark, sf_dir, "documents")
    return lm_doc_nll(docs, k=0.1).orderBy("doc_id")


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020 §4.3): docs
    bucketed by terciles of their corpus-LM NLL. Boundaries via one
    percentile aggregate + broadcast CASE — the quantity_quartiles scale
    shape, never a global window; the bucket mean uses the same micro-nat
    integer sum as lm_doc_nll (order-independent)."""
    from sparkstract.operators.lm import lm_doc_nll

    docs = _t(spark, sf_dir, "documents")
    s = lm_doc_nll(docs, k=0.1).filter(F.col("nll").isNotNull())
    bounds = s.agg(
        F.round(F.percentile("nll", F.lit(1.0 / 3.0)), 6).alias("b1"),
        F.round(F.percentile("nll", F.lit(2.0 / 3.0)), 6).alias("b2"))
    g = s.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("nll") <= F.col("b1"), F.lit("head"))
         .when(F.col("nll") <= F.col("b2"), F.lit("middle"))
         .otherwise(F.lit("tail")).alias("bucket"),
        F.round(F.col("nll") * F.lit(1e6), 0).cast("long").alias("nll_u"))
    return (g.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.sum("nll_u")
                         / (F.count(F.lit(1)) * F.lit(1e6)), 6)
                  .alias("mean_nll"))
            .orderBy("bucket"))


def q_semdedup_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'log what was dropped' side channel for semdedup's cluster cap
    (max_cluster=4096): one row per oversized k-means cluster with its
    size. Empty at this SF — and the oracle PINS that emptiness (same
    contract as lsh_bucket_audit / cosine_label_audit)."""
    from sparkstract.operators.similarity import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    cents = _kmeans_model(spark, sf_dir, k=8, iters=2)
    return (kmeans_assign(emb, cents)
            .groupBy(F.col("cid").cast("long").alias("cid"))
            .agg(F.count(F.lit(1)).alias("cluster_size"))
            .filter(F.col("cluster_size") > 4096)
            .orderBy("cid"))


def q_minhash_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup gate: a 3-doc 'new batch' derived from the corpus
    (two exact copies + one with appended junk tokens) matched against the
    full corpus via cross-side LSH band join + signature-agreement verify.
    All three hit their originals at 4/4 bands, 8/8 components (the
    appended junk adds shingles without displacing any minimum); the
    partial-agreement path is exercised by a corpus near-dup of doc 1
    matching at 1 band, 3/8 components."""
    from sparkstract.operators.dedup import minhash_match

    docs = _t(spark, sf_dir, "documents")
    new = (docs.filter(F.col("doc_id").isin(1, 2, 3))
           .select(F.concat(F.lit("n-"), F.col("doc_id").cast("string"))
                    .alias("doc_id"),
                   F.when(F.col("doc_id") == 3,
                          F.concat(F.col("text"), F.lit(" zzz qqq zzz")))
                    .otherwise(F.col("text")).alias("text")))
    return (minhash_match(new, docs, num_hashes=8, bands=4)
            .orderBy("new_id", "doc_id"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing over the chunk_docs output: chunks are
    md5-shuffled into 8 hash buckets and concatenated into 256-token
    sequences (bucket-local running sum — no global window)."""
    from sparkstract.operators.packing import pack_sequences
    from sparkstract.operators.sampling import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, window=32, stride=24)
    return (pack_sequences(chunks, budget=256, n_buckets=8)
            .select(F.col("bucket").cast("long").alias("bucket"),
                    "seq_id", "start_in_seq", "doc_id",
                    F.col("chunk_id").cast("long").alias("chunk_id"),
                    "n_tokens")
            .orderBy("bucket", "seq_id", "start_in_seq",
                     "doc_id", "chunk_id"))


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per document (smooth idf, sklearn
    convention) — the per-doc description counterpart of bm25_topk."""
    from sparkstract.operators.search import doc_keywords

    docs = _t(spark, sf_dir, "documents")
    return doc_keywords(docs, topk=3).orderBy("doc_id", "rank")


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card rollup: per-(lang, source) doc counts, within-stratum
    exact-dup counts, token/char totals, mean length + rollup totals."""
    from sparkstract.operators.report import corpus_report

    docs = _t(spark, sf_dir, "documents")
    return corpus_report(docs).orderBy(F.asc_nulls_first("lang"),
                                       F.asc_nulls_first("source"))


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-bucketed embedding near-dup. Threshold 0.4 at the gate (like
    cosine_lsh's 0.35): the driver's embeddings are near-random with max
    within-label cosine ≈ 0.475, so the production default 0.9 returns zero
    rows — vacuous evidence. 0.4 yields a handful of pairs that pin the
    label-bucket → pair → score path value-by-value."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(emb, threshold=0.4).orderBy("id_a", "id_b")


def q_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-free embedding near-dup via random-hyperplane sign-LSH
    (Charikar 2002) — the LSH-bucketed ANN scale path: banded signatures →
    capped candidate buckets → exact cosine verify. Hyperplanes are
    deterministic 6-dp literals shared with the DuckDB twin. Threshold 0.35
    at the gate: the driver's embeddings are near-random (max pairwise
    cosine ≈ 0.47, so the production default 0.9 returns zero rows like
    cosine_near_dup) and a non-empty result is what actually pins the
    bucket → verify → score path value-by-value."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = similarity.random_hyperplanes(32, 64, seed=7)
    return similarity.cosine_lsh_pairs(emb, planes, threshold=0.35) \
        .orderBy("id_a", "id_b")


def q_cosine_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'log what was dropped' side channel for cosine_near_dup_pairs'
    hot-label cap: one row per dropped label with its size. Empty result =
    nothing dropped at this SF — pinned by the oracle, like lsh_bucket_audit."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_label_stats(emb).orderBy("label")


def q_render_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.sinks import render_text

    docs, media, _ = _fixture_frames(spark)
    return render_text(extract(spark, docs, media)).orderBy("doc_id")


def q_render_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.sinks import render_tsv

    docs, media, _ = _fixture_frames(spark)
    return render_tsv(extract(spark, docs, media)).orderBy("doc_id")


def q_render_hocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.sinks import render_hocr

    docs, media, _ = _fixture_frames(spark)
    return render_hocr(extract(spark, docs, media)).orderBy("doc_id")


def q_render_alto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.sinks import render_alto

    docs, media, _ = _fixture_frames(spark)
    return render_alto(extract(spark, docs, media)).orderBy("doc_id")


def q_render_page_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.sinks import render_page_xml

    docs, media, _ = _fixture_frames(spark)
    return render_page_xml(extract(spark, docs, media)).orderBy("doc_id")


# Paragraph-detection contract rows: ASCII blocks from the reference's own
# test tables (unittest/paragraphs_test.cc) with hand-written expected
# assignments — an oracle independent of the detector implementation.
_PARA_BLOCKS: list[tuple[str, int, list[str], list[tuple[int, str, bool, bool]]]] = [
    ("pd-1", 0,
     ["  Look here, I have a paragraph.",
      "This paragraph starts at the top",
      "of the page and takes 3 lines.  ",
      "  Here I have a second paragraph",
      "which indicates that the first  ",
      "paragraph is not a continuation ",
      "from a previous page, as it is  ",
      "indented just like this second  ",
      "paragraph.                      "],
     [(0, "left", False, False)] * 3 + [(1, "left", False, False)] * 6),
    ("pd-1", 1,
     ["Right-aligned paragraphs are",
      "   uncommon in Left-to-Right",
      "      languages, but they do",
      "                      exist.",
      "    Mostly, however, they're",
      " horribly tiny paragraphs in",
      "  tables on which we have no",
      "             chance anyways."],
     [(0, "right", False, False)] * 4 + [(1, "right", False, False)] * 4),
    ("pd-2", 0,
     ["1. Make a plan.                 ",
      "2. Use a heuristic, for example,",
      "   looking for lines where the  ",
      "   first word of the next line  ",
      "   would fit on the previous    ",
      "   line.                        ",
      "8. Try to implement the plan in ",
      "   Python and try it out.       ",
      "4. Determine how to fix the     ",
      "   mistakes.                    ",
      "5. Repeat.                      "],
     [(0, "left", False, True), (1, "left", False, True), (1, "left", False, False),
      (1, "left", False, False), (1, "left", False, False), (1, "left", False, False),
      (2, "left", False, True), (2, "left", False, False),
      (3, "left", False, True), (3, "left", False, False),
      (4, "left", False, True)]),
    # hanging-indent index entries (paragraphs_test.cc:724 IndexPageTest)
    ("pd-3", 0,
     ["Oats, 51                      ",
      "O'Brien, Gregory, 175         ",
      "Occupational composition, 110,",
      "   138                        ",
      "OECD rankings, 155, 172       ",
      "Okiato (original capital), 47 "],
     [(0, "left", False, False), (1, "left", False, False),
      (2, "left", False, False), (2, "left", False, False),
      (3, "left", False, False), (4, "left", False, False)]),
    # single-line dialogue chain + wrapped body (paragraphs_test.cc:687)
    ("pd-3", 1,
     ['     "May I take the cast net?"                                     ',
      '     "Of course."                                                   ',
      "     There was  no  cast net  and  the boy  remembered  when  they had",
      "sold it.   But they went through  this fiction every day. There was no",
      "pot of yellow rice and fish and the boy knew this too.               "],
     [(0, "left", False, False), (1, "left", False, False),
      (2, "left", False, False), (2, "left", False, False),
      (2, "left", False, False)]),
    # stray indent-outlier row → unmodeled paragraph, PNONE
    # (paragraphs_test.cc:470 TestStrayLineInBlock)
    ("pd-4", 0,
     ["The first paragraph on a page is",
      "often not indented as the rest  ",
      "of the paragraphs are.  Nonethe-",
      "less it should be counted as the",
      "same type of paragraph.         ",
      "  Even a short second paragraph ",
      "should suffice.                 ",
      "             1235               "],
     [(0, "left", True, False), (0, "left", False, False),
      (0, "left", False, False), (0, "left", False, False),
      (0, "left", False, False), (1, "left", False, False),
      (1, "left", False, False), (2, None, False, False)]),
]


def q_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.operators.paragraphs import paragraphs_df

    rows = []
    for doc_id, block, lines, _expected in _PARA_BLOCKS:
        for i, t in enumerate(lines):
            rows.append((doc_id, str(block), i, t))
    df = spark.createDataFrame(
        rows, "doc_id string, block_order string, row_order int, line_text string")
    return (
        paragraphs_df(df)
        .select("doc_id", "block_order", "row_order", "para_id",
                "justification", "is_crown", "is_list_item")
        .orderBy("doc_id", "block_order", "row_order")
    )


# Bidi reading-order contract rows: direction arrays and expected orders from
# the reference's pure-logic tests (unittest/resultiterator_test.cc:480-539).
_BIDI_CASES: list[tuple[str, list[int], bool, list[int]]] = [
    ("dual-ltr", [1, 1, 0, 1, 0, 2, 2, 2], True, [0, 1, 2, 3, 4, -1, 7, 6, 5, -2]),
    ("dual-rtl", [1, 1, 0, 1, 0, 2, 2, 2], False, [7, 6, 5, 4, -1, 0, 1, 2, 3, -2]),
    ("left-ltr", [1, 1, 0, 1, 0, 0, 1, 1], True, [0, 1, 2, 3, 4, 5, 6, 7]),
    ("left-rtl", [1, 1, 0, 1, 0, 0, 1, 1], False, [-1, 0, 1, 2, 3, 4, 5, 6, 7, -2]),
    ("right-rtl", [2, 2, 0, 2, 0, 0, 2, 2], False, [7, 6, 5, 4, 3, 2, 1, 0]),
]


def q_bidi_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstract.operators.bidi import reorder_words

    df = spark.createDataFrame(
        [(cid, dirs, ltr) for cid, dirs, ltr, _exp in _BIDI_CASES],
        "line_id string, word_dirs array<int>, paragraph_is_ltr boolean")
    # serialize the order array: the driver's canonicalizer sorts every
    # column with pandas, which cannot factorize list cells — a deterministic
    # comma-joined string compares exactly and hashes stably in both engines
    return (
        reorder_words(df)
        .select("line_id",
                F.array_join("reading_order", ",").alias("reading_order"))
        .orderBy("line_id")
    )


def q_extract_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level sidecar (GetTSVText levels 3-5, baseapi.cpp:2205): one row
    per recognized word with block/paragraph/line/word numbering — paragraphs
    from the detector WIRED into the kernel (W6, DetectParagraphs-in-
    Recognize baseapi.cpp:1417; the para_page family splits [0,0,0,1,1]) —
    and its bounding box + confidence. Oracle: VALUES from the identical
    kernel run single-process over the deterministic fixture media."""
    from sparkstract.plans.pipeline import extract_pages, page_words

    docs, media, _ = _fixture_frames(spark)
    return page_words(extract_pages(spark, docs, media)).orderBy(
        "doc_id", "offset", "block_order", "para_num", "line_num", "word_num")


def q_extract_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol-level sidecar (the RIL_SYMBOL walk of GetBoxText,
    baseapi.cpp:2391): one row per decoded character with its decode-cell
    box, per-char confidence, and the page height the box renderer flips
    with. Oracle: VALUES from the identical kernel run single-process."""
    from sparkstract.plans.pipeline import extract_pages, page_symbols

    docs, media, _ = _fixture_frames(spark)
    return page_symbols(extract_pages(spark, docs, media)).orderBy(
        "doc_id", "offset", "block_order", "para_num", "line_num",
        "word_num", "sym_num")


def q_render_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.box training-file renderer (S9, GetBoxText baseapi.cpp:2391 /
    TessBoxTextRenderer renderer.h:298): one `char l (H-bottom) r (H-top)
    page` line per symbol, y flipped to bottom-left origin. Oracle: the
    identical string assembled single-process from the symbols truth."""
    from sparkstract.plans.pipeline import extract_pages, page_symbols
    from sparkstract.sinks import render_box

    docs, media, _ = _fixture_frames(spark)
    return render_box(page_symbols(extract_pages(spark, docs, media))) \
        .orderBy("doc_id")


def q_render_unlv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNLV-format renderer (S9, GetUNLVText baseapi.cpp:2440 /
    TessUnlvRenderer renderer.h:276): Latin-1 text with the kUniChs fold,
    '~' rejects for non-Latin-1 decodes and '^' suspect marks on low-
    confidence characters. Oracle: single-process twin of the fold."""
    from sparkstract.plans.pipeline import extract_pages, page_symbols
    from sparkstract.sinks import render_unlv

    docs, media, _ = _fixture_frames(spark)
    return render_unlv(page_symbols(extract_pages(spark, docs, media))) \
        .orderBy("doc_id")


def q_render_tsv_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-hierarchy TSV (GetTSVText levels 1-5, baseapi.cpp:2205) over the
    fixture corpus — both input views projected from ONE persisted page
    table, so one kernel pass. Oracle: the identical string assembled
    single-process from the kernel truth tables — pins the distributed
    5-level fold."""
    from sparkstract.plans.pipeline import (extract_pages, page_blocks,
                                            page_words)
    from sparkstract.sinks import render_tsv_levels

    docs, media, _ = _fixture_frames(spark)
    pages = extract_pages(spark, docs, media).persist()
    return render_tsv_levels(page_blocks(pages), page_words(pages)) \
        .orderBy("doc_id")


def q_render_hocr_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hOCR with the reference's full nesting (ocr_page → ocr_carea →
    ocr_par → ocr_line → ocrx_word, hocrrenderer.cpp:136-250), word boxes
    and x_wconf included; one kernel pass via a persisted page table."""
    from sparkstract.plans.pipeline import (extract_pages, page_blocks,
                                            page_words)
    from sparkstract.sinks import render_hocr_words

    docs, media, _ = _fixture_frames(spark)
    pages = extract_pages(spark, docs, media).persist()
    return render_hocr_words(page_blocks(pages), page_words(pages)) \
        .orderBy("doc_id")


def q_render_alto_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTO at the reference's full depth (altorenderer.cpp:131: TextBlock →
    TextLine → String per word with HPOS/VPOS/WIDTH/HEIGHT + WC), one
    <Page> per media span; one kernel pass via a persisted page table."""
    from sparkstract.plans.pipeline import (extract_pages, page_blocks,
                                            page_words)
    from sparkstract.sinks import render_alto_words

    docs, media, _ = _fixture_frames(spark)
    pages = extract_pages(spark, docs, media).persist()
    return render_alto_words(page_blocks(pages), page_words(pages)) \
        .orderBy("doc_id")


def q_render_page_xml_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE XML at the reference's full depth (pagerenderer.cpp: TextRegion
    → TextLine → Word with Coords polygons, word/line TextEquiv, and a
    per-page ReadingOrder of RegionRefIndexed refs); one kernel pass via a
    persisted page table."""
    from sparkstract.plans.pipeline import (extract_pages, page_blocks,
                                            page_words)
    from sparkstract.sinks import render_page_xml_words

    docs, media, _ = _fixture_frames(spark)
    pages = extract_pages(spark, docs, media).persist()
    return render_page_xml_words(page_blocks(pages), page_words(pages)) \
        .orderBy("doc_id")


def q_render_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searchable-PDF sink (S8, TessPDFRenderer pdfrenderer.cpp /
    renderer.h:244): per doc, the backdrop-image + invisible-text-layer PDF
    assembled from one kernel pass. The output is binary, so the gate
    compares (sha256, n_bytes, n_pages) against the identical file
    assembled single-process — byte determinism IS the renderer contract
    (resumed jobs must re-emit identical files)."""
    from sparkstract.plans.pipeline import extract_pdf_pages
    from sparkstract.sinks import render_pdf

    docs, media, _ = _fixture_frames(spark)
    out = render_pdf(extract_pdf_pages(spark, docs, media))
    return out.select(
        "doc_id", F.sha2(F.col("pdf"), 256).alias("sha256"),
        F.length("pdf").alias("n_bytes"), "n_pages").orderBy("doc_id")


@functools.lru_cache(maxsize=1)
def _pdf_truth() -> list[tuple]:
    """Single-process twin of q_render_pdf: the same page parts + assembly
    run locally per fixture doc → (doc_id, sha256, n_bytes, n_pages)."""
    import hashlib

    from sparkstract.functions.codecs import decode_pages, sniff
    from sparkstract.functions.pdf import blocks_from_pdf_page, parse_pdf
    from sparkstract.functions.pdfout import (assemble_pdf,
                                              compress_page_image,
                                              page_text_ops)
    from sparkstract.operators.page import analyse_page

    fs = _fixture_set()
    img_by_ref = {r.media_ref: r.image for r in fs.media.itertuples()}
    rows: list[tuple] = []
    for d in fs.docs.itertuples():
        parts: list[dict] = []
        for span in d.spans:
            if span["kind"] != "media":
                continue
            data = bytes(img_by_ref[span["media_ref"]])
            pages: list[tuple] = []  # (blocks, gray|None, w, h)
            if sniff(data) == "pdf":
                for pg in parse_pdf(data):
                    if pg.has_text:
                        pages.append((blocks_from_pdf_page(pg), None,
                                      int(round(pg.width)),
                                      int(round(pg.height))))
                    else:
                        pages.extend(
                            (analyse_page(it[1]), it[1],
                             it[1].shape[1], it[1].shape[0])
                            for it in pg.items if it[0] == "image")
            else:
                pages.extend((analyse_page(g), g, g.shape[1], g.shape[0])
                             for g in decode_pages(data))
            for blocks, gray, w, h in pages:
                words = [(wt, wl, wtop, wr, wb)
                         for blk in blocks if blk.words
                         for (_p, _ln, _wn, wt, wl, wtop, wr, wb, _c,
                              _s, _lm) in blk.words]
                parts.append({
                    "w": w, "h": h,
                    "img": (compress_page_image(gray)
                            if gray is not None else None),
                    "ops": page_text_ops(words, h)})
        if parts:
            pdf = assemble_pdf(parts)
            rows.append((d.doc_id, hashlib.sha256(pdf).hexdigest(),
                         len(pdf), len(parts)))
    return sorted(rows)


def q_layout_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block bounding boxes at the reference's TSV/hOCR level of detail.
    Oracle: VALUES literal computed at build time by running the identical
    page kernel single-process over the deterministic fixture media — the
    check pins the *distributed* path (explode, media join, Arrow batching,
    kernel, schema) to the single-process ground truth."""
    from sparkstract.plans.pipeline import extract_pages, page_blocks

    docs, media, _ = _fixture_frames(spark)
    return page_blocks(extract_pages(spark, docs, media)) \
        .orderBy("doc_id", "offset", "block_order")


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decodes every fixture page image and emits per-image features.
    Oracle: VALUES literal from the same numpy kernels run single-process
    (PNG decode is not SQL-expressible; the fixture set is deterministic, so
    the features are constants). ink_ratio rounded to 6 dp in both engines."""
    from sparkstract.operators.multimodal import image_features

    _docs, media, _ = _fixture_frames(spark)
    return image_features(media).select(
        "media_ref", "width", "height",
        F.round("ink_ratio", 6).alias("ink_ratio"),
        "otsu_threshold", "n_components",
    ).orderBy("media_ref")


def q_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean downsample + PNG re-encode per image. Oracle: thumb dims
    are pure arithmetic on the fixture media dimensions — a VALUES literal
    independent of the decode path entirely."""
    from sparkstract.operators.multimodal import thumbnails

    _docs, media, _ = _fixture_frames(spark)
    return thumbnails(media).select("media_ref", "thumb_w", "thumb_h").orderBy("media_ref")


def q_media_decode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-path telemetry over the fixture media column: one row per
    (container format, decode shape) with counts — the VP8L fast-vs-generic
    shape counters and per-format error rows that make a hostile crawl
    segment a NUMBER instead of an unexplained slowdown. Oracle: VALUES
    literal from the identical sniff+decode loop run single-process."""
    from sparkstract.operators.multimodal import media_decode_report

    _docs, media, _ = _fixture_frames(spark)
    return media_decode_report(media).orderBy("format", "shape")


@functools.lru_cache(maxsize=1)
def _media_truth() -> tuple[list[tuple], list[tuple]]:
    """Single-process ground truth for the media-table queries (the fixture
    set is deterministic, so these are constants)."""
    import numpy as np

    from sparkstract.functions.cclabel import label_blobs
    from sparkstract.functions.codecs import decode_gray_any
    from sparkstract.functions.otsu import binarize, otsu_threshold

    feats: list[tuple] = []
    thumbs: list[tuple] = []
    for r in _fixture_set().media.itertuples():
        try:
            gray = decode_gray_any(bytes(r.image))
        except Exception:  # noqa: BLE001 — same skip as the kernels
            continue  # non-raster (PDF) or corrupt media
        ink = binarize(gray)
        feats.append((r.media_ref, gray.shape[1], gray.shape[0],
                      round(float(ink.mean()), 6), int(otsu_threshold(gray)),
                      len(label_blobs(ink))))
        f = max(1, int(np.ceil(max(gray.shape) / 64)))
        thumbs.append((r.media_ref, gray.shape[1] // f, gray.shape[0] // f))
    return feats, thumbs


@functools.lru_cache(maxsize=1)
def _decode_report_truth() -> list[tuple]:
    """Single-process ground truth for media_decode_report: the same
    sniff + decode + shape-counter loop the distributed kernel runs
    (operators/multimodal.py), over the deterministic fixture media."""
    from sparkstract.functions import webp
    from sparkstract.functions.codecs import decode_gray_any, sniff

    counts: dict[tuple[str, str], int] = {}
    for r in _fixture_set().media.itertuples():
        data = bytes(r.image)
        fmt = sniff(data)
        webp.SHAPE_COUNTS.clear()
        try:
            decode_gray_any(data)
            shape = next(iter(webp.SHAPE_COUNTS), "") if fmt == "webp" else ""
        except Exception as e:  # noqa: BLE001 — counted, not raised
            shape = f"error: {str(e)[:60]}"
        counts[(fmt, shape)] = counts.get((fmt, shape), 0) + 1
    return sorted((f, sh, n) for (f, sh), n in counts.items())


def _local_page_blocks(data: bytes) -> list[tuple[list, int]]:
    """The distributed kernel's per-media page iteration run locally (incl.
    the PDF born-digital rule — text-layer pages parse, image-only pages
    OCR), one (block list, page_h) per decoded page: the shared base for
    every single-process truth constant."""
    from sparkstract.functions.codecs import decode_pages, sniff
    from sparkstract.functions.pdf import blocks_from_pdf_page, parse_pdf
    from sparkstract.operators.page import analyse_page

    if sniff(data) == "pdf":
        out: list[tuple[list, int]] = []
        for pg in parse_pdf(data):
            if pg.has_text:
                out.append((blocks_from_pdf_page(pg), int(round(pg.height))))
            else:
                out.extend((analyse_page(it[1]), it[1].shape[0])
                           for it in pg.items if it[0] == "image")
        return out
    return [(analyse_page(gray), gray.shape[0]) for gray in decode_pages(data)]


@functools.lru_cache(maxsize=1)
def _words_truth() -> list[tuple]:
    """Single-process ground truth for extract_words: the same page kernel
    run locally per fixture media span, word rows in docs-table order."""
    fs = _fixture_set()
    img_by_ref = {r.media_ref: r.image for r in fs.media.itertuples()}
    rows: list[tuple] = []
    for d in fs.docs.itertuples():
        for span in d.spans:
            if span["kind"] != "media":
                continue
            base = 0
            for blocks, _page_h in _local_page_blocks(
                    bytes(img_by_ref[span["media_ref"]])):
                for blk in blocks:
                    if not blk.words:
                        continue
                    for (p, ln, wn, wtext, wl, wt, wr, wb, conf,
                         _syms, (xs, bsl, boff)) in blk.words:
                        rows.append((d.doc_id, span["offset"],
                                     base + blk.order, p, ln,
                                     wn, wtext, span["media_ref"],
                                     wl, wt, wr, wb, conf, xs, bsl, boff))
                base += len(blocks)
    return rows


@functools.lru_cache(maxsize=1)
def _symbols_truth() -> list[tuple]:
    """Single-process ground truth for extract_symbols (the RIL_SYMBOL walk
    of GetBoxText, baseapi.cpp:2391): the same page kernel run locally per
    fixture media span, one row per decoded character."""
    fs = _fixture_set()
    img_by_ref = {r.media_ref: r.image for r in fs.media.itertuples()}
    rows: list[tuple] = []
    for d in fs.docs.itertuples():
        for span in d.spans:
            if span["kind"] != "media":
                continue
            base = 0
            for blocks, page_h in _local_page_blocks(
                    bytes(img_by_ref[span["media_ref"]])):
                for blk in blocks:
                    if not blk.words:
                        continue
                    for (p, ln, wn, _wt, _l, _t, _r, _b, _c,
                         syms, _lm) in blk.words:
                        for si, (ch, sl, st, sr, sb, sc) in enumerate(syms):
                            rows.append((d.doc_id, span["offset"],
                                         base + blk.order, p, ln, wn, si,
                                         ch, span["media_ref"],
                                         sl, st, sr, sb, sc, page_h))
                base += len(blocks)
    return rows


@functools.lru_cache(maxsize=1)
def _box_unlv_truth() -> tuple[list[tuple], list[tuple]]:
    """Single-process twins of render_box / render_unlv assembled from the
    symbols truth — pins the distributed folds (and the UNLV fold/reject/
    suspect character rules) to locally computed constants."""
    from sparkstract.sinks import (UNLV_LATIN, UNLV_REJECT, UNLV_SUSPECT,
                                   UNLV_UNI)

    from collections import defaultdict

    by_doc: dict[str, list[tuple]] = defaultdict(list)
    for row in _symbols_truth():
        by_doc[row[0]].append(row)
    fold = dict(zip(UNLV_UNI, UNLV_LATIN))
    box_out: list[tuple] = []
    unlv_out: list[tuple] = []
    for doc in sorted(by_doc):
        rows = sorted(by_doc[doc], key=lambda r: (r[1], r[2], r[3], r[4],
                                                  r[5], r[6]))
        box_lines: list[str] = []
        pieces: list[str] = []
        prev = None
        for (_d, off, bo, p, ln, wn, _si, ch, _ref, sl, st, sr, sb, sc,
             page_h) in rows:
            box_lines.append(
                f"{UNLV_REJECT if ch == ' ' else ch} {sl} "
                f"{page_h - 1 - sb} {sr} {page_h - 1 - st} {off}")
            c = fold.get(ch, ch)
            if c == " " or c > "\u00ff":
                c = UNLV_REJECT
            if sc < 80:
                c = UNLV_SUSPECT + c
            word_key = (off, bo, p, ln, wn)
            line_key = (off, bo, p, ln)
            if prev is None or prev[0] == word_key:
                pieces.append(c)
            elif prev[1] == line_key:
                pieces.append(" " + c)
            else:
                pieces.append("\n" + c)
            prev = (word_key, line_key)
        box_out.append((doc, "\n".join(box_lines)))
        unlv_out.append((doc, "".join(pieces)))
    return box_out, unlv_out


@functools.lru_cache(maxsize=1)
def _layout_geometry_truth() -> list[tuple]:
    """Single-process ground truth for layout_geometry: the same page kernel
    run locally per fixture media span, in docs-table order."""
    fs = _fixture_set()
    img_by_ref = {r.media_ref: r.image for r in fs.media.itertuples()}
    rows: list[tuple] = []
    for d in fs.docs.itertuples():
        for span in d.spans:
            if span["kind"] != "media":
                continue
            base = 0
            for blocks, _page_h in _local_page_blocks(
                    bytes(img_by_ref[span["media_ref"]])):
                for blk in blocks:
                    rows.append((d.doc_id, span["offset"], base + blk.order,
                                 blk.kind, blk.text, span["media_ref"],
                                 blk.left, blk.top, blk.right, blk.bottom))
                base += len(blocks)
    return rows


def _esc_html(s: str) -> str:
    s = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f]", "", s)
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _esc_xml(s: str) -> str:
    return _esc_html(s).replace("'", "&apos;")


def _esc_attr(s: str) -> str:
    return _esc_xml(s).replace("\t", "&#9;").replace("\n", "&#10;") \
        .replace("\r", "&#13;")


def _dd_esc_html(expr: str) -> str:
    """DuckDB twin of _esc_html over the SQL expression `expr`."""
    out = (f"regexp_replace({expr}, "
           "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')")
    for ch, ref in (("'&'", "&amp;"), ("'<'", "&lt;"), ("'>'", "&gt;")):
        out = f"replace({out}, {ch}, '{ref}')"
    return out


def _dd_esc_xml(expr: str) -> str:
    """DuckDB twin of _esc_xml."""
    return f"replace({_dd_esc_html(expr)}, chr(39), '&apos;')"


def _dd_esc_attr(expr: str) -> str:
    """DuckDB twin of _esc_attr."""
    out = _dd_esc_xml(expr)
    for code, ref in ((9, "&#9;"), (10, "&#10;"), (13, "&#13;")):
        out = f"replace({out}, chr({code}), '{ref}')"
    return out


def _alto_pos(l: int, t: int, r: int, b: int) -> str:
    return (f" HPOS='{l}' VPOS='{t}' WIDTH='{r - l + 1}'"
            f" HEIGHT='{b - t + 1}'")


def _pg_coords(indent: str, l: int, t: int, r: int, b: int) -> str:
    return (f"{indent}<Coords points='{l},{t} {r},{t} {r},{b} "
            f"{l},{b}'/>")


@functools.lru_cache(maxsize=1)
def _hier_render_truth() -> tuple[
        list[tuple], list[tuple], list[tuple], list[tuple]]:
    """Single-process twins of render_tsv_levels / render_hocr_words /
    render_alto_words / render_page_xml_words: the same hierarchy strings
    assembled from the kernel truth tables (_layout_geometry_truth blocks +
    _words_truth words), so the oracle pins the distributed folds to
    locally computed constants."""
    blocks = _layout_geometry_truth()
    wordsr = _words_truth()
    from collections import defaultdict

    blk_by_doc: dict[str, list[tuple]] = defaultdict(list)
    for row in blocks:
        blk_by_doc[row[0]].append(row)
    words_by_blk: dict[tuple, list[tuple]] = defaultdict(list)
    for row in wordsr:
        words_by_blk[(row[0], row[1], row[2])].append(row)

    def bbox(rows, li, ti, ri, bi):
        return (min(r[li] for r in rows), min(r[ti] for r in rows),
                max(r[ri] for r in rows), max(r[bi] for r in rows))

    tsv_out: list[tuple] = []
    hocr_out: list[tuple] = []
    alto_out: list[tuple] = []
    page_out: list[tuple] = []
    for doc in sorted(blk_by_doc):
        offsets = sorted({r[1] for r in blk_by_doc[doc]})
        tsv_rows: list[str] = []
        page_htmls: list[str] = []
        page_altos: list[str] = []
        page_pagexml: list[str] = []
        for pnum, off in enumerate(offsets, start=1):
            pblocks = sorted((r for r in blk_by_doc[doc] if r[1] == off),
                             key=lambda r: r[2])
            pl, pt, pr, pb = bbox(pblocks, 6, 7, 8, 9)
            tsv_rows.append("\t".join(
                ["1", str(pnum), "0", "0", "0", "0", str(pl), str(pt),
                 str(pr - pl + 1), str(pb - pt + 1), "-1", ""]))
            block_htmls: list[str] = []
            block_altos: list[str] = []
            pg_regions: list[str] = []
            pg_refs: list[str] = []
            for blk in pblocks:
                _d, _o, bo, kind, text, ref, l, t, r, b = blk
                pg_refs.append(f"   <RegionRefIndexed index='{bo}' "
                               f"regionRef='r{off}_{bo}'/>")
                tsv_rows.append("\t".join(
                    ["2", str(pnum), str(bo + 1), "0", "0", "0", str(l),
                     str(t), str(r - l + 1), str(b - t + 1), "-1", ""]))
                ws = words_by_blk.get((doc, off, bo), [])
                alto_lines: list[str] = []
                pg_lines: list[str] = []
                if ws:
                    para_htmls: list[str] = []
                    for p in sorted({w[3] for w in ws}):
                        pws = [w for w in ws if w[3] == p]
                        al, at, ar, ab = bbox(pws, 8, 9, 10, 11)
                        tsv_rows.append("\t".join(
                            ["3", str(pnum), str(bo + 1), str(p + 1), "0",
                             "0", str(al), str(at), str(ar - al + 1),
                             str(ab - at + 1), "-1", ""]))
                        line_htmls: list[str] = []
                        for ln in sorted({w[4] for w in pws}):
                            lws = sorted((w for w in pws if w[4] == ln),
                                         key=lambda w: w[5])
                            ll, lt, lr, lb = bbox(lws, 8, 9, 10, 11)
                            tsv_rows.append("\t".join(
                                ["4", str(pnum), str(bo + 1), str(p + 1),
                                 str(ln + 1), "0", str(ll), str(lt),
                                 str(lr - ll + 1), str(lb - lt + 1),
                                 "-1", ""]))
                            wfrags: list[str] = []
                            alto_wfrags: list[str] = []
                            pg_wfrags: list[str] = []
                            pg_wtexts: list[str] = []
                            for w in lws:
                                (_d2, _o2, _b2, _p2, _l2, wn, wtext, _ref,
                                 wl, wt, wr, wb, conf, _xs, _bsl, _boff) = w
                                tsv_rows.append("\t".join(
                                    ["5", str(pnum), str(bo + 1), str(p + 1),
                                     str(ln + 1), str(wn + 1), str(wl),
                                     str(wt), str(wr - wl + 1),
                                     str(wb - wt + 1), str(conf), wtext]))
                                wfrags.append(
                                    f"<span class='ocrx_word' id='word_{off}"
                                    f"_{bo}_{p}_{ln}_{wn}' title='bbox {wl} "
                                    f"{wt} {wr} {wb}; x_wconf {conf}'>"
                                    f"{_esc_html(wtext)}</span>")
                                alto_wfrags.append(
                                    f"      <String ID='word_{off}_{bo}_{p}"
                                    f"_{ln}_{wn}'{_alto_pos(wl, wt, wr, wb)}"
                                    f" WC='{conf / 100.0:.2f}' CONTENT='"
                                    f"{_esc_attr(wtext)}'/>")
                                pg_wfrags.append(
                                    f"    <Word id='w{off}_{bo}_{p}_{ln}"
                                    f"_{wn}'>\n"
                                    f"{_pg_coords('     ', wl, wt, wr, wb)}"
                                    f"\n     <TextEquiv conf="
                                    f"'{conf / 100.0:.2f}'><Unicode>"
                                    f"{_esc_xml(wtext)}</Unicode>"
                                    f"</TextEquiv>\n    </Word>")
                                pg_wtexts.append(_esc_xml(wtext))
                            xs, bsl, boff = lws[0][13], lws[0][14], \
                                lws[0][15]
                            line_htmls.append(
                                f"<span class='ocr_line' id='line_{off}_{bo}"
                                f"_{p}_{ln}' title='bbox {ll} {lt} {lr} "
                                f"{lb}; baseline {bsl:.3f} {boff}; "
                                f"x_size {xs}'>" + " ".join(wfrags)
                                + "</span>")
                            alto_lines.append(
                                f"     <TextLine ID='line_{off}_{bo}_{p}"
                                f"_{ln}'{_alto_pos(ll, lt, lr, lb)}"
                                f" BASELINE='{lb + boff}'>\n"
                                + "\n".join(alto_wfrags)
                                + "\n     </TextLine>")
                            pg_lines.append(
                                f"   <TextLine id='l{off}_{bo}_{p}_{ln}'>\n"
                                f"{_pg_coords('    ', ll, lt, lr, lb)}\n"
                                + "\n".join(pg_wfrags)
                                + "\n    <TextEquiv><Unicode>"
                                + " ".join(pg_wtexts)
                                + "</Unicode></TextEquiv>\n   </TextLine>")
                        para_htmls.append(
                            f"<p class='ocr_par' id='par_{off}_{bo}_{p}' "
                            f"title='bbox {al} {at} {ar} {ab}'>"
                            + "\n".join(line_htmls) + "</p>")
                    content = "\n".join(para_htmls)
                else:
                    if kind in ("flowing_image", "heading_image",
                                "pullout_image"):
                        content = f"<img src='{_esc_attr(ref or '')}'/>"
                    elif kind in ("horz_line", "vert_line"):
                        content = ""
                    else:
                        content = _esc_html(text or "")
                block_htmls.append(
                    f"  <div class='ocr_carea' id='block_{off}_{bo}' "
                    f"title='{kind}; bbox {l} {t} {r} {b}'>{content}</div>")
                bpos = _alto_pos(l, t, r, b)
                if kind in ("horz_line", "vert_line"):
                    block_altos.append(
                        f"    <GraphicalElement ID='block_{off}_{bo}' "
                        f"TAGREFS='{kind}'{bpos}/>")
                elif kind in ("flowing_image", "heading_image",
                              "pullout_image"):
                    block_altos.append(
                        f"    <Illustration ID='block_{off}_{bo}' "
                        f"TAGREFS='{kind}'{bpos} "
                        f"FILEID='{_esc_attr(ref or '')}'/>")
                elif alto_lines:
                    block_altos.append(
                        f"    <TextBlock ID='block_{off}_{bo}' "
                        f"TAGREFS='{kind}'{bpos}>\n"
                        + "\n".join(alto_lines) + "\n    </TextBlock>")
                else:
                    flat = _esc_attr((text or "").replace("\n", " "))
                    block_altos.append(
                        f"    <TextBlock ID='block_{off}_{bo}' "
                        f"TAGREFS='{kind}'{bpos}><TextLine><String "
                        f"CONTENT='{flat}'/></TextLine></TextBlock>")
                pgc = _pg_coords("   ", l, t, r, b)
                if kind in ("horz_line", "vert_line"):
                    pg_regions.append(
                        f"  <SeparatorRegion id='r{off}_{bo}' "
                        f"custom='{kind}'>\n{pgc}\n  </SeparatorRegion>")
                elif kind in ("flowing_image", "heading_image",
                              "pullout_image"):
                    pg_regions.append(
                        f"  <ImageRegion id='r{off}_{bo}' custom='{kind}' "
                        f"imageFilename='{_esc_attr(ref or '')}'>\n{pgc}\n"
                        f"  </ImageRegion>")
                elif pg_lines:
                    pg_regions.append(
                        f"  <TextRegion id='r{off}_{bo}' custom='{kind}'>"
                        f"\n{pgc}\n" + "\n".join(pg_lines)
                        + "\n  </TextRegion>")
                else:
                    pg_flat = _esc_xml(text or "").replace("\n", "&#10;")
                    pg_regions.append(
                        f"  <TextRegion id='r{off}_{bo}' custom='{kind}'>"
                        f"\n{pgc}\n   <TextEquiv><Unicode>{pg_flat}"
                        f"</Unicode></TextEquiv>\n  </TextRegion>")
            page_htmls.append(
                f" <div class='ocr_page' id='page_{pnum}' title='bbox {pl} "
                f"{pt} {pr} {pb}'>\n" + "\n".join(block_htmls) + "\n </div>")
            page_altos.append(
                f"  <Page ID='page_{pnum}' PHYSICAL_IMG_NR='{pnum}'"
                f"{_alto_pos(pl, pt, pr, pb)}>\n   <PrintSpace>\n"
                + "\n".join(block_altos) + "\n   </PrintSpace>\n  </Page>")
            page_ref = max((r[5] for r in pblocks if r[5]), default="")
            page_pagexml.append(
                f" <Page id='page_{pnum}' "
                f"imageFilename='{_esc_attr(page_ref)}'>\n"
                f"  <ReadingOrder><OrderedGroup id='ro_{pnum}'>\n"
                + "\n".join(pg_refs)
                + "\n  </OrderedGroup></ReadingOrder>\n"
                + "\n".join(pg_regions) + "\n </Page>")
        tsv_out.append((doc, "\n".join(tsv_rows)))
        hocr_out.append((doc, "<html><body>\n" + "\n".join(page_htmls)
                         + "\n</body></html>"))
        alto_out.append((doc,
                         "<alto xmlns='http://www.loc.gov/standards/alto/"
                         "ns-v3#'>\n <Layout>\n" + "\n".join(page_altos)
                         + "\n </Layout>\n</alto>"))
        page_out.append((doc,
                         "<PcGts xmlns='http://schema.primaresearch.org/"
                         "PAGE/gts/pagecontent/2019-07-15'>\n"
                         + "\n".join(page_pagexml) + "\n</PcGts>"))
    return tsv_out, hocr_out, alto_out, page_out


# --- distributed BPE tokenizer training (operators/bpe.py) -----------------
# Train-once model cache, same shape as _KMEANS_MODEL_CACHE: q_bpe_merges
# carries the training cost; q_bpe_tokens reuses the learned merge table.
_BPE_MODEL_CACHE: dict[tuple[str, int, int], list] = {}

_BPE_MERGES = 6
_BPE_TOP_WORDS = 4096


def _bpe_model(spark: SparkSession, sf_dir: str,
               merges: int = _BPE_MERGES,
               top_words: int = _BPE_TOP_WORDS) -> list:
    key = (sf_dir, merges, top_words)
    if key not in _BPE_MODEL_CACHE:
        from sparkstract.operators.bpe import bpe_train

        docs = _t(spark, sf_dir, "documents")
        _BPE_MODEL_CACHE[key] = bpe_train(docs, merges=merges,
                                          top_words=top_words)
    return _BPE_MODEL_CACHE[key]


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


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count under the trained BPE tokenizer: each
    DISTINCT word is segmented once by the merge chain (pure codegen
    string expressions, zero joins), the vocab-sized length table joins
    back to the exploded corpus (AQE broadcast), one per-doc sum. Docs
    with no tokens count 0."""
    from sparkstract.operators.bpe import bpe_token_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_token_counts(docs, _bpe_model(spark, sf_dir))


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer data card under the trained BPE model:
    fertility (tokens/word) and compression (chars/token) — the two
    numbers a tokenizer report quotes per stratum. Reuses the cached merge
    table (train-once pattern); ratios divide exact integer sums."""
    from sparkstract.operators.bpe import bpe_fertility

    docs = _t(spark, sf_dir, "documents")
    return (bpe_fertility(docs, _bpe_model(spark, sf_dir),
                          strata_col="source")
            .orderBy("stratum"))


def _dd_bpe_chain(merges: int = _BPE_MERGES,
                  top_words: int = _BPE_TOP_WORDS) -> str:
    """Unrolled BPE training rounds: wf (capped word-freq) -> v0 (char
    split) -> per round r: p{r} pair counts, b{r} argmax, v{r} merged
    vocab. Merge application is the same expand-the-delimiters replace the
    Spark side uses (bpe.py `_apply_merge`), so segmentations match byte
    for byte."""
    parts = [f"""WITH toks AS ({_DD_TOKENS})
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


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction over an interleaved docs table whose text spans
    come from sf0.001 documents, with synthetic media pages spliced in."""
    sf_dir = "/root/testdata/sf0.001"
    d = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(4).collect()
    from sparkstract.fixtures.gen import _Builder  # deterministic builder

    b = _Builder(seed=7)
    for row in d:
        b.add_doc(f"td-{row['doc_id']}", [
            ("text", row["text"][:120]),
            ("media", "single_column"),
            ("text", row["text"][120:240] or "TAIL"),
        ])
    fs = b.build()
    docs, media, _ = fs.to_spark(spark)
    return extract(spark, docs, media)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_spans": q_extract_spans,
        "extract_spans_model": q_extract_spans_model,
        "extract_spans_model_degraded": q_extract_spans_model_degraded,
        "extract_rtl": q_extract_rtl,
        "extract_bidi": q_extract_bidi,
        "table_cells": q_table_cells,
        "table_structure": q_table_structure,
        "zone_override": q_zone_override,
        "layout_blocks": q_layout_blocks,
        "event_sessions": q_event_sessions,
        "top_parts_by_brand": q_top_parts_by_brand,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "quantity_quartiles": q_quantity_quartiles,
        "event_median": q_event_median,
        "user_event_sequence": q_user_event_sequence,
        "top1_event_per_user": q_top1_event_per_user,
        "events_hourly": q_events_hourly,
        "customers_without_orders": q_customers_without_orders,
        "priority_late_orders": q_priority_late_orders,
        "returnflag_rollup": q_returnflag_rollup,
        "dedup_exact": q_dedup_exact,
        "dedup_exact_norm": q_dedup_exact_norm,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "lsh_bucket_audit": q_lsh_bucket_audit,
        "dup_clusters": q_dup_clusters,
        "cluster_split": q_cluster_split,
        "training_samples": q_training_samples,
        "curated_corpus": q_curated_corpus,
        "simhash": q_simhash,
        "simhash_near_dup": q_simhash_near_dup,
        "winnow_fp": q_winnow_fp,
        "ngram_jaccard": q_ngram_jaccard,
        "decontaminate": q_decontaminate,
        "stratified_sample": q_stratified_sample,
        "weighted_mixture": q_weighted_mixture,
        "chunk_docs": q_chunk_docs,
        "vocab_topk": q_vocab_topk,
        "strip_substrings": q_strip_substrings,
        "source_quota": q_source_quota,
        "importance_scores": q_importance_scores,
        "kmeans": q_kmeans,
        "ann_ivf_kmeans_topk": q_ann_ivf_kmeans_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "semdedup": q_semdedup,
        "bm25_topk": q_bm25_topk,
        "doc_keywords": q_doc_keywords,
        "corpus_report": q_corpus_report,
        "pack_sequences": q_pack_sequences,
        "minhash_match": q_minhash_match,
        "semdedup_cluster_audit": q_semdedup_cluster_audit,
        "lm_doc_nll": q_lm_doc_nll,
        "perplexity_buckets": q_perplexity_buckets,
        "lsh_recall_audit": q_lsh_recall_audit,
        "quality_classifier": q_quality_classifier,
        "split_leak_audit": q_split_leak_audit,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "decontaminate_bloom": q_decontaminate_bloom,
        "html_main_content": q_html_main_content,
        "html_main_content_ctx": q_html_main_content_ctx,
        "warc_ingest": q_warc_ingest,
        "fix_mojibake": q_fix_mojibake,
        "html_metadata": q_html_metadata,
        "repetition_stats": q_repetition_stats,
        "gopher_stats": q_gopher_stats,
        "pii_scrub": q_pii_scrub,
        "text_stats": q_text_stats,
        "quality_score": q_quality_score,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "cosine_near_dup": q_cosine_near_dup,
        "cosine_lsh": q_cosine_lsh,
        "cosine_label_audit": q_cosine_label_audit,
        "render_text": q_render_text,
        "render_tsv": q_render_tsv,
        "render_hocr": q_render_hocr,
        "render_alto": q_render_alto,
        "render_page_xml": q_render_page_xml,
        "paragraphs": q_paragraphs,
        "bidi_order": q_bidi_order,
        "image_features": q_image_features,
        "media_decode_report": q_media_decode_report,
        "thumbnails": q_thumbnails,
        "layout_geometry": q_layout_geometry,
        "extract_words": q_extract_words,
        "extract_symbols": q_extract_symbols,
        "render_box": q_render_box,
        "render_unlv": q_render_unlv,
        "render_tsv_levels": q_render_tsv_levels,
        "render_hocr_words": q_render_hocr_words,
        "render_alto_words": q_render_alto_words,
        "render_page_xml_words": q_render_page_xml_words,
        "render_pdf": q_render_pdf,
        "bpe_merges": q_bpe_merges,
        "bpe_tokens": q_bpe_tokens,
        "bpe_fertility": q_bpe_fertility,
        "contamination_report": q_contamination_report,
        "line_dedup": q_line_dedup,
        "snapshot_diff": q_snapshot_diff,
    }


def _mojibake_oracle_sql() -> str:
    """DuckDB twin of q_fix_mojibake: the SAME generated replace chain
    (encoding.mojibake_sql) over the same damaged-literal append."""
    from sparkstract.functions.encoding import (_sloppy_cp1252,
                                                 mojibake_sql_chunks)

    damaged = _sloppy_cp1252(_MOJI_CLEAN.encode("utf-8"))
    ctes = [f"m0 AS (SELECT doc_id, text || {_sql_quote(' ' + damaged)} "
            f"AS t FROM documents)"]
    for i, expr in enumerate(mojibake_sql_chunks("t"), start=1):
        ctes.append(f"m{i} AS (SELECT doc_id, {expr} AS t FROM m{i - 1})")
    n = len(_MOJI_CLEAN)
    tail = f"substring(t, length(t) - {n - 1}, {n})"
    return (
        "WITH " + ",\n".join(ctes)
        + f" SELECT doc_id, {tail} AS fixed_tail, "
        f"{tail} = {_sql_quote(_MOJI_CLEAN)} AS repaired "
        f"FROM m{len(ctes) - 1} ORDER BY doc_id")


def _warc_oracle_sql() -> str:
    """Expected warc_ingest rows derived from the _WARC_RECS literals and
    the parse contract alone (never from running the parser): seq/type/
    uri/status in construction order, content_type from the HTTP head for
    http responses else the record default, size/truncation/sha from the
    payload literal and the cap."""
    import hashlib

    rows = []
    for i, r in enumerate(_WARC_RECS):
        payload = r["payload"]
        if r.get("http_status") is not None:
            ctype = r.get("content_type", "text/html")
        else:
            ctype = r.get("content_type", "application/octet-stream")
        sha = hashlib.sha256(payload[:_WARC_CAP]).hexdigest()
        rows.append(
            f"({i}, {_sql_quote(r['warc_type'])}, "
            f"{_sql_quote(r.get('target_uri') or '')}, "
            f"{r.get('http_status', -1) if r.get('http_status') is not None else -1}, "
            f"{_sql_quote(ctype)}, {len(payload)}, "
            f"{'true' if len(payload) > _WARC_CAP else 'false'}, "
            f"{_sql_quote(sha)})")
    return (
        "SELECT * FROM (VALUES\n" + ",\n".join(rows)
        + "\n) AS t(record_seq, record_type, target_uri, http_status, "
          "content_type, n_bytes, truncated, payload_sha) "
          "ORDER BY record_seq")


def oracle_sql() -> dict[str, str]:
    from sparkstract.operators.sampling import rate_threshold

    _split_thr = rate_threshold(0.2)  # cluster_split val_fraction gate value
    stop_list = "[" + ", ".join(f"'{w}'" for w in ts.STOPWORDS_EN) + "]"
    # the quality heuristic as a reusable SELECT (doc_id, quality) — the
    # quality_score oracle AND the classifier's pseudo-label source
    quality_sql = f"""
        WITH t AS (
          SELECT doc_id, text,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS tl
          FROM documents)
        SELECT doc_id,
               round(
                 least(length(text) / 500.0, 1.0)
                 * (1.0 - CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1.0 / length(text)
                    ELSE 0 END)
                 * least(1.0, (CASE WHEN len(tl) > 0
                    THEN len(list_filter(tl, x -> list_contains({stop_list}, x))) * 1.0 / len(tl)
                    ELSE 0 END) * 5.0),
               6) AS quality
        FROM t"""
    lang_cases = ""
    # argmax with deterministic code-order tie-break, mirroring ts.lang_id:
    # later codes win only with strictly more hits
    lang_expr = "'und'"
    best_expr = "0"
    for code in sorted(ts.LANG_MARKERS):
        mk = "[" + ", ".join(f"'{w}'" for w in ts.LANG_MARKERS[code]) + "]"
        hits = f"len(list_filter(tl, x -> list_contains({mk}, x)))"
        lang_expr = f"CASE WHEN {hits} > {best_expr} THEN '{code}' ELSE {lang_expr} END"
        best_expr = f"greatest({hits}, {best_expr})"
    _ = lang_cases

    # Carter-Wegman family over one md5 per shingle — mirror of
    # sparkstract.operators.dedup.minhash_signatures
    def hex_slice(v: str, start: int) -> str:
        return (
            "list_sum(list_transform(range(1, 9), i -> "
            f"CAST((strpos('0123456789abcdef', md5({v})[{start} + i]) - 1) "
            "* CAST(power(16, 8 - i) AS BIGINT) AS BIGINT)))"
        )

    h1, h2 = hex_slice("ngram", 0), hex_slice("ngram", 8)
    minhash_aggs = ", ".join(
        f"min(({h1} + {i} * {h2}) % 4294967296) AS mh{i}" for i in range(8)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(concat_ws('|', CAST(mh{2*b} AS VARCHAR), CAST(mh{2*b+1} AS VARCHAR))) AS key FROM sig"
        for b in range(4)
    )

    from sparkstract.sinks import TEXT_KINDS

    text_kinds_sql = ", ".join(f"'{k}'" for k in TEXT_KINDS)
    # the flat renderers' escapes (sinks._escape_html / _escape_xml /
    # _escape_attr)
    hocr_src = _dd_esc_attr("coalesce(media_ref, '')")
    hocr_text = _dd_esc_html("coalesce(text, '')")
    emedia = hocr_src
    edoc = _dd_esc_attr("doc_id")
    alto_text = _dd_esc_attr("coalesce(replace(text, chr(10), ' '), '')")
    page_text = _dd_esc_xml("coalesce(text, '')")
    para_rows = ",\n".join(
        f"('{doc}', '{blk}', {i}, {exp[0]}, "
        f"{_sql_quote(exp[1]) if exp[1] is not None else 'CAST(NULL AS VARCHAR)'}, "
        f"{str(exp[2]).upper()}, {str(exp[3]).upper()})"
        for doc, blk, lines, expected in _PARA_BLOCKS
        for i, exp in enumerate(expected)
    )
    bidi_rows = ",\n".join(
        f"('{cid}', '{','.join(str(i) for i in exp)}')"
        for cid, _d, _l, exp in _BIDI_CASES
    )

    # HTML boilerplate-strip twin, generated from the SAME constants as
    # sparkstract.functions.html (patterns are RE2-safe: no backreferences)
    from sparkstract.functions import html as _html

    def _ent(expr: str) -> str:
        for _s, _d in _html.HTML_ENTITIES:
            expr = f"replace({expr}, {_sql_quote(_s)}, {_sql_quote(_d)})"
        return expr

    def _line_txt(v: str) -> str:
        return _ent(
            f"trim(regexp_replace(regexp_replace({v}, "
            f"{_sql_quote(_html.ANY_TAG_RE)}, ' ', 'g'), '\\s+', ' ', 'g'))")

    html_rows = ",\n".join(
        f"({_sql_quote(d)}, {_sql_quote(h)})" for d, h in _HTML_DOCS)
    html_oracle = f"""
            WITH h AS (SELECT * FROM (VALUES
            {html_rows}
            ) AS t(doc_id, html)),
            c AS (SELECT doc_id,
                    regexp_replace(regexp_replace(html,
                      {_sql_quote(_html.DROP_BLOCKS_RE)}, ' ', 'g'),
                      {_sql_quote(_html.COMMENTS_RE)}, ' ', 'g') AS x
                  FROM h),
            l AS (SELECT doc_id, string_split(regexp_replace(x,
                    {_sql_quote(_html.BLOCK_TAGS_RE)}, chr(10), 'g'),
                    chr(10)) AS lines FROM c),
            s AS (SELECT doc_id, list_transform(lines, ln -> struct_pack(
                    txt := {_line_txt('ln')},
                    link := coalesce(list_sum(list_transform(
                      regexp_extract_all(ln,
                        {_sql_quote(_html.ANCHOR_TEXT_RE)}, 1),
                      a -> length({_line_txt('a')}))), 0))) AS sc
                  FROM l)
            SELECT doc_id,
                   array_to_string(list_transform(list_filter(sc, v ->
                     len(string_split(v.txt, ' ')) >= 4 AND v.txt <> ''
                     AND v.link <= 0.4 * length(v.txt)),
                     v -> v.txt), chr(10)) AS main_text
            FROM s ORDER BY doc_id
        """

    # context-sensitive twin: same cleaning/scoring CTEs, then the
    # decisive-neighbor windows (last_value IGNORE NULLS both ways) and
    # the keep rule, mirrored from functions/html.justext_main_content
    html_ctx_rows = ",\n".join(
        f"({_sql_quote(d)}, {_sql_quote(h)})" for d, h in _HTML_CTX_DOCS)
    _stops_sql = "[" + ", ".join(f"'{w}'" for w in ts.STOPWORDS_EN) + "]"
    html_ctx_oracle = f"""
            WITH h AS (SELECT * FROM (VALUES
            {html_ctx_rows}
            ) AS t(doc_id, html)),
            c AS (SELECT doc_id,
                    regexp_replace(regexp_replace(html,
                      {_sql_quote(_html.DROP_BLOCKS_RE)}, ' ', 'g'),
                      {_sql_quote(_html.COMMENTS_RE)}, ' ', 'g') AS x
                  FROM h),
            l AS (SELECT doc_id, string_split(regexp_replace(x,
                    {_sql_quote(_html.BLOCK_TAGS_RE)}, chr(10), 'g'),
                    chr(10)) AS lines FROM c),
            ex AS (SELECT doc_id,
                     generate_subscripts(lines, 1) AS pos,
                     {_line_txt('unnest(lines)')} AS txt,
                     coalesce(list_sum(list_transform(
                       regexp_extract_all(unnest(lines),
                         {_sql_quote(_html.ANCHOR_TEXT_RE)}, 1),
                       a -> length({_line_txt('a')}))), 0) AS link
                   FROM l),
            sc AS (SELECT doc_id, pos, txt,
                     len(string_split(lower(txt), ' ')) AS words,
                     len(list_filter(string_split(lower(txt), ' '),
                       w -> list_contains({_stops_sql}, w))) AS stops,
                     link
                   FROM ex WHERE txt <> ''),
            cf AS (SELECT doc_id, pos, txt,
                     CASE WHEN link > 0.4 * greatest(length(txt), 1) THEN 0
                          WHEN words >= 8 AND stops >= 0.2 * words THEN 3
                          WHEN words >= 8 THEN 0
                          WHEN words >= 3 AND stops >= 0.2 * words THEN 2
                          ELSE 1 END AS cls
                   FROM sc),
            ctx AS (SELECT doc_id, pos, txt, cls,
                      coalesce(last_value(CASE WHEN cls IN (0, 3)
                          THEN cls END IGNORE NULLS) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS prev_dec,
                      coalesce(last_value(CASE WHEN cls IN (0, 3)
                          THEN cls END IGNORE NULLS) OVER (
                        PARTITION BY doc_id ORDER BY pos DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS next_dec
                    FROM cf),
            kept AS (SELECT doc_id,
                       string_agg(txt, chr(10) ORDER BY pos) AS main_text
                     FROM ctx
                     WHERE cls = 3
                        OR (cls = 2 AND (prev_dec = 3 OR next_dec = 3))
                        OR (cls = 1 AND prev_dec = 3 AND next_dec = 3)
                     GROUP BY doc_id)
            SELECT h.doc_id, coalesce(k.main_text, '') AS main_text
            FROM h LEFT JOIN kept k USING (doc_id)
            ORDER BY h.doc_id
        """

    def _meta_txt(expr: str) -> str:
        return _ent(
            f"trim(regexp_replace(regexp_replace({expr}, "
            f"{_sql_quote(_html.ANY_TAG_RE)}, ' ', 'g'), '\\s+', ' ', 'g'))")

    html_meta_oracle = f"""
            SELECT doc_id,
                   {_meta_txt(f"regexp_extract(html, {_sql_quote(_html.TITLE_RE)}, 1)")} AS title,
                   {_ent(f"trim(regexp_extract(html, {_sql_quote(_html.META_DESC_RE)}, 1))")} AS meta_description,
                   {_meta_txt(f"regexp_extract(html, {_sql_quote(_html.H1_RE)}, 1)")} AS h1,
                   lower(regexp_extract(html,
                     {_sql_quote(_html.HTML_LANG_RE)}, 1)) AS lang,
                   regexp_extract(html,
                     {_sql_quote(_html.CANONICAL_RE)}, 1) AS canonical
            FROM (VALUES
            {html_rows}
            ) AS t(doc_id, html) ORDER BY doc_id
        """

    bigram_list = "[" + ", ".join(f"'{b}'" for b in ts.COMMON_BIGRAMS) + "]"

    # PII scrub twin from the same pattern table
    pii_expr = "text"
    for _pat, _tok in ts.PII_PATTERNS:
        pii_expr = (f"regexp_replace({pii_expr}, {_sql_quote(_pat)}, "
                    f"{_sql_quote(_tok)}, 'g')")
    pii_rows = ",\n".join(
        f"({_sql_quote(d)}, {_sql_quote(t)})" for d, t in _PII_DOCS)

    # normstrngs fold chain, generated from the SAME table the Spark side
    # uses (ts.NORM_FOLDS) — engine parity by construction
    norm_expr = "text"
    for _src, _dst in ts.NORM_FOLDS:
        norm_expr = f"replace({norm_expr}, {_sql_quote(_src)}, {_sql_quote(_dst)})"
    norm_expr = f"lower(regexp_replace(trim({norm_expr}), '\\s+', ' ', 'g'))"

    # the same fold chain over a LINE (line_dedup hashes per-line)
    line_norm = "u.line"
    for _src, _dst in ts.NORM_FOLDS:
        line_norm = (f"replace({line_norm}, {_sql_quote(_src)}, "
                     f"{_sql_quote(_dst)})")
    line_norm = f"lower(regexp_replace(trim({line_norm}), '\\s+', ' ', 'g'))"
    line_doc_rows = ",\n".join(
        f"({_sql_quote(d)}, {_sql_quote(t)})" for d, t in _LINE_DOCS)
    norm_variant_rows = ",\n".join(
        f"({_sql_quote(d)}, {_sql_quote(t)})" for d, t in _NORM_VARIANTS)

    feats, thumbs = _media_truth()
    report_rows = ",\n".join(
        f"({_sql_quote(f)}, {_sql_quote(sh)}, {n})"
        for f, sh, n in _decode_report_truth())
    feat_rows = ",\n".join(
        f"('{ref}', {w}, {h}, {ink}, {thr}, {nc})"
        for ref, w, h, ink, thr, nc in feats)
    thumb_rows = ",\n".join(
        f"('{ref}', {tw}, {th})" for ref, tw, th in thumbs)
    geom_rows = ",\n".join(
        f"({_sql_quote(doc)}, {off}, {bo}, {_sql_quote(kind)}, "
        f"{_sql_quote(text) if text is not None else 'CAST(NULL AS VARCHAR)'}, "
        f"{_sql_quote(ref)}, {l}, {t}, {r}, {b})"
        for doc, off, bo, kind, text, ref, l, t, r, b in _layout_geometry_truth())
    symbol_rows = ",\n".join(
        f"({_sql_quote(doc)}, {off}, {bo}, {p}, {ln}, {wn}, {si}, "
        f"{_sql_quote(ch)}, {_sql_quote(ref)}, {l}, {t}, {r}, {b}, {conf}, "
        f"{page_h})"
        for doc, off, bo, p, ln, wn, si, ch, ref, l, t, r, b, conf, page_h
        in _symbols_truth())
    _box_truth, _unlv_truth = _box_unlv_truth()
    box_rows = ",\n".join(
        f"({_sql_quote(doc)}, {_sql_quote(s)})" for doc, s in _box_truth)
    unlv_rows = ",\n".join(
        f"({_sql_quote(doc)}, {_sql_quote(s)})" for doc, s in _unlv_truth)
    word_rows = ",\n".join(
        f"({_sql_quote(doc)}, {off}, {bo}, {p}, {ln}, {wn}, "
        f"{_sql_quote(wtext)}, {_sql_quote(ref)}, {l}, {t}, {r}, {b}, {conf}, "
        f"{xs}, CAST({bsl!r} AS DOUBLE), {boff})"
        for doc, off, bo, p, ln, wn, wtext, ref, l, t, r, b, conf,
        xs, bsl, boff in _words_truth())
    # sign-LSH twin: same 6-dp hyperplane literals, same band/cap shape
    from sparkstract.operators.similarity import random_hyperplanes

    _planes = random_hyperplanes(32, 64, seed=7)
    _sig_terms = " + ".join(
        "(CASE WHEN round(list_inner_product(embedding::DOUBLE[], "
        f"CAST([{', '.join(repr(x) for x in p)}] AS DOUBLE[])), 6) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(_planes))

    pdf_rows = ",\n".join(
        f"({_sql_quote(doc)}, {_sql_quote(sha)}, {nb}, {np_})"
        for doc, sha, nb, np_ in _pdf_truth())

    tsv_truth, hocr_truth, alto_truth, pagexml_truth = _hier_render_truth()
    tsv_level_rows = ",\n".join(
        f"({_sql_quote(doc)}, {_sql_quote(tsv)})" for doc, tsv in tsv_truth)
    hocr_word_rows = ",\n".join(
        f"({_sql_quote(doc)}, {_sql_quote(h)})" for doc, h in hocr_truth)
    alto_word_rows = ",\n".join(
        f"({_sql_quote(doc)}, {_sql_quote(a)})" for doc, a in alto_truth)
    pagexml_word_rows = ",\n".join(
        f"({_sql_quote(doc)}, {_sql_quote(p)})" for doc, p in pagexml_truth)

    _png, _shape, rtl_truth = _rtl_fixture()
    rtl_rows = ",\n".join(
        f"('d-rtl', {i}, {_sql_quote(b.kind)}, "
        f"{_sql_quote(b.text) if b.text is not None else 'CAST(NULL AS VARCHAR)'}, "
        f"'m-rtl')"
        for i, b in enumerate(rtl_truth))

    table_cell_rows = ",\n".join(
        f"('d-table', 0, {ri}, {ci}, {_sql_quote(cell)})"
        for ri, row in enumerate(_TABLE_CELLS)
        for ci, cell in enumerate(row))

    table_structure_rows = ",\n".join(
        f"('d-table', {ri}, {ci}, {cs}, {span}, {_sql_quote(cell)})"
        for ri, (row, lay) in enumerate(zip(_TABLE_CELLS, _TABLE_LAYOUT))
        for ci, (cell, (cs, span)) in enumerate(zip(row, lay)))

    _bpng, _bshape, bidi_truth = _bidi_fixture()
    bidi_span_rows = ",\n".join(
        f"('d-bidi', {i}, {_sql_quote(b.kind)}, "
        f"{_sql_quote(b.text) if b.text is not None else 'CAST(NULL AS VARCHAR)'}, "
        f"'m-bidi')"
        for i, b in enumerate(bidi_truth))

    return {
        "extract_spans": _truth_values_sql(),
        # the model-recognizer rerun is pinned against the SAME truth: a
        # green row means the swapped C11 strategy reproduced every span
        "extract_spans_model": _truth_values_sql(),
        "extract_spans_model_degraded": _truth_values_sql(),
        "extract_rtl": f"""
            SELECT * FROM (VALUES
            {rtl_rows}
            ) AS t(doc_id, "order", kind, text, media_ref)
        """,
        "extract_bidi": f"""
            SELECT * FROM (VALUES
            {bidi_span_rows}
            ) AS t(doc_id, "order", kind, text, media_ref)
        """,
        "table_cells": f"""
            SELECT * FROM (VALUES
            {table_cell_rows}
            ) AS t(doc_id, "order", row_idx, cell_idx, cell)
            ORDER BY doc_id, "order", row_idx, cell_idx
        """,
        "table_structure": f"""
            SELECT * FROM (VALUES
            {table_structure_rows}
            ) AS t(doc_id, row_idx, cell_idx, col_start, col_span, cell)
            ORDER BY doc_id, row_idx, cell_idx
        """,
        "zone_override": f"""
            SELECT * FROM (VALUES
            ('d-zone', 0, 'flowing_text',
             {_sql_quote(chr(10).join(_ZONE_LINES[:2]))}, 'm-zone'),
            ('d-zone', 1, 'flowing_text',
             {_sql_quote(chr(10).join(_ZONE_LINES[2:]))}, 'm-zone')
            ) AS t(doc_id, "order", kind, text, media_ref)
        """,
        "layout_blocks": f"""
            WITH truth AS ({_truth_values_sql()})
            SELECT doc_id, "order", kind,
                   CASE WHEN kind = 'text' THEN text
                        ELSE CAST(NULL AS VARCHAR) END AS text,
                   media_ref
            FROM truth
        """,
        "event_sessions": """
            WITH o AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id, event_id, ts,
                     CAST(sum(new_s) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS BIGINT) AS session_id
              FROM o)
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end
            FROM s GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "top_parts_by_brand": """
            WITH agg AS (
              SELECT p_brand, p_partkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1, 2),
            r AS (
              SELECT p_brand, p_partkey, revenue,
                     row_number() OVER (PARTITION BY p_brand
                                        ORDER BY revenue DESC, p_partkey ASC) AS rank
              FROM agg)
            SELECT p_brand, p_partkey, revenue, rank FROM r WHERE rank <= 3
            ORDER BY p_brand, rank
        """,
        "render_text": f"""
            WITH truth AS ({_truth_values_sql()})
            SELECT doc_id,
                   string_agg(text, chr(10) || chr(10) ORDER BY "order") AS text
            FROM truth
            WHERE kind IN ({text_kinds_sql}) AND text IS NOT NULL
            GROUP BY doc_id ORDER BY doc_id
        """,
        "render_tsv": f"""
            WITH truth AS ({_truth_values_sql()})
            SELECT doc_id,
                   string_agg(
                     CAST("order" AS VARCHAR) || chr(9) || kind || chr(9) ||
                     coalesce(media_ref, '') || chr(9) ||
                     coalesce(regexp_replace(text, '[\\t\\n]', ' ', 'g'), ''),
                     chr(10) ORDER BY "order") AS tsv
            FROM truth GROUP BY doc_id ORDER BY doc_id
        """,
        "render_hocr": f"""
            WITH truth AS ({_truth_values_sql()})
            SELECT doc_id,
                   '<html><body>' || chr(10) ||
                   string_agg(
                     '  <div class=''ocr_carea'' id=''block_' ||
                     CAST("order" AS VARCHAR) || ''' title=''' || kind ||
                     '''>' ||
                     CASE
                       WHEN kind IN ('flowing_image', 'heading_image',
                                     'pullout_image')
                       THEN '<img src=''' || {hocr_src} || '''/>'
                       WHEN kind IN ('horz_line', 'vert_line') THEN ''
                       ELSE {hocr_text}
                     END || '</div>',
                     chr(10) ORDER BY "order") ||
                   chr(10) || '</body></html>' AS hocr
            FROM truth GROUP BY doc_id ORDER BY doc_id
        """,
        "render_alto": f"""
            WITH truth AS ({_truth_values_sql()}),
            esc AS (
              SELECT doc_id, "order", kind, media_ref,
                     {alto_text} AS etext, {emedia} AS emedia,
                     {edoc} AS edoc
              FROM truth)
            SELECT doc_id,
                   '<alto xmlns=''http://www.loc.gov/standards/alto/ns-v3#''>'
                   || '<Layout><Page ID=''' || edoc || '''><PrintSpace>'
                   || chr(10) ||
                   string_agg(
                     CASE
                       WHEN kind IN ('horz_line', 'vert_line')
                       THEN '    <GraphicalElement ID=''block_' ||
                            CAST("order" AS VARCHAR) || ''' TAGREFS=''' ||
                            kind || '''/>'
                       WHEN kind IN ('flowing_image', 'heading_image',
                                     'pullout_image')
                       THEN '    <Illustration ID=''block_' ||
                            CAST("order" AS VARCHAR) || ''' TAGREFS=''' ||
                            kind || ''' FILEID=''' || emedia || '''/>'
                       ELSE '    <TextBlock ID=''block_' ||
                            CAST("order" AS VARCHAR) || ''' TAGREFS=''' ||
                            kind || '''><TextLine><String CONTENT=''' ||
                            etext || '''/></TextLine></TextBlock>'
                     END,
                     chr(10) ORDER BY "order") ||
                   chr(10) || '</PrintSpace></Page></Layout></alto>' AS alto
            FROM esc GROUP BY doc_id, edoc ORDER BY doc_id
        """,
        "render_page_xml": f"""
            WITH truth AS ({_truth_values_sql()}),
            esc AS (
              SELECT doc_id, "order", kind, media_ref,
                     replace({page_text}, chr(10), '&#10;') AS etext,
                     {emedia} AS emedia, {edoc} AS edoc
              FROM truth)
            SELECT doc_id,
                   '<PcGts xmlns=''http://schema.primaresearch.org/PAGE/gts/'
                   || 'pagecontent/2019-07-15''>' || chr(10) ||
                   '  <Page imageFilename=''' || edoc || '''>' || chr(10) ||
                   '    <ReadingOrder><OrderedGroup id=''ro''>' || chr(10) ||
                   string_agg(
                     '      <RegionRefIndexed index=''' ||
                     CAST("order" AS VARCHAR) || ''' regionRef=''r' ||
                     CAST("order" AS VARCHAR) || '''/>',
                     chr(10) ORDER BY "order") || chr(10) ||
                   '    </OrderedGroup></ReadingOrder>' || chr(10) ||
                   string_agg(
                     CASE
                       WHEN kind IN ('horz_line', 'vert_line')
                       THEN '    <SeparatorRegion id=''r' ||
                            CAST("order" AS VARCHAR) || ''' custom=''' ||
                            kind || '''/>'
                       WHEN kind IN ('flowing_image', 'heading_image',
                                     'pullout_image')
                       THEN '    <ImageRegion id=''r' ||
                            CAST("order" AS VARCHAR) || ''' custom=''' ||
                            kind || ''' imageFilename=''' || emedia || '''/>'
                       ELSE '    <TextRegion id=''r' ||
                            CAST("order" AS VARCHAR) || ''' custom=''' ||
                            kind || '''><TextEquiv><Unicode>' || etext ||
                            '</Unicode></TextEquiv></TextRegion>'
                     END,
                     chr(10) ORDER BY "order") || chr(10) ||
                   '  </Page>' || chr(10) || '</PcGts>' AS page_xml
            FROM esc GROUP BY doc_id, edoc ORDER BY doc_id
        """,
        "paragraphs": f"""
            SELECT * FROM (VALUES
            {para_rows}
            ) AS t(doc_id, block_order, row_order, para_id, justification,
                   is_crown, is_list_item)
            ORDER BY doc_id, block_order, row_order
        """,
        "bidi_order": f"""
            SELECT * FROM (VALUES
            {bidi_rows}
            ) AS t(line_id, reading_order)
            ORDER BY line_id
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "quantity_quartiles": """
            WITH b AS (
              SELECT round(quantile_cont(l_quantity, 0.25), 6) AS q1,
                     round(quantile_cont(l_quantity, 0.50), 6) AS q2,
                     round(quantile_cont(l_quantity, 0.75), 6) AS q3
              FROM lineitem),
            g AS (
              SELECT l_quantity,
                     CASE WHEN l_quantity <= q1 THEN 1
                          WHEN l_quantity <= q2 THEN 2
                          WHEN l_quantity <= q3 THEN 3
                          ELSE 4 END AS grade
              FROM lineitem CROSS JOIN b)
            SELECT grade, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
            FROM g GROUP BY grade ORDER BY grade
        """,
        "event_median": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS median_value,
                   count(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "user_event_sequence": """
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
                   count(*) AS n_events
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "top1_event_per_user": """
            WITH r AS (
              SELECT user_id, event_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id ASC) AS rn
              FROM events)
            SELECT user_id, event_id, event_type, round(value, 6) AS value
            FROM r WHERE rn = 1
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name, c_nationkey
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 400000)
            ORDER BY c_custkey
        """,
        "priority_late_orders": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "returnflag_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """,
        "dedup_exact": """
            SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1 ORDER BY fp
        """,
        "dedup_exact_norm": f"""
            WITH u AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES
              {norm_variant_rows}
              ) AS v(doc_id, text))
            SELECT md5({norm_expr}) AS fp,
                   count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM u GROUP BY 1 HAVING count(*) > 1 ORDER BY fp
        """,
        "minhash_lsh_pairs": f"""
            {_dd_ngrams(3)},
            sig AS (SELECT doc_id, {minhash_aggs} FROM grams GROUP BY doc_id),
            banded AS ({band_selects}),
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
        """,
        "lsh_bucket_audit": f"""
            {_dd_ngrams(3)},
            sig AS (SELECT doc_id, {minhash_aggs} FROM grams GROUP BY doc_id),
            banded AS ({band_selects})
            SELECT band, key, count(*) AS bucket_size
            FROM banded GROUP BY band, key
            HAVING count(*) > 64
            ORDER BY band, key
        """,
        "dup_clusters": f"""
            WITH RECURSIVE {_dd_ngrams(3)[5:]},
            sig AS (SELECT doc_id, {minhash_aggs} FROM grams GROUP BY doc_id),
            banded AS ({band_selects}),
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
        """,
        "cluster_split": f"""
            WITH RECURSIVE {_dd_ngrams(3)[5:]},
            sig AS (SELECT doc_id, {minhash_aggs} FROM grams GROUP BY doc_id),
            banded AS ({band_selects}),
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
              FROM reach GROUP BY u),
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
                   CASE WHEN {_DD_HEX2LONG.format(
                       v="'split:' || CAST(cluster_id AS VARCHAR)")}
                        < {_split_thr} THEN 'val' ELSE 'train' END AS split
            FROM assigned ORDER BY doc_id
        """,
        "split_leak_audit": f"""
            WITH RECURSIVE {_dd_ngrams(3)[5:]},
            sig AS (SELECT doc_id, {minhash_aggs} FROM grams GROUP BY doc_id),
            banded AS ({band_selects}),
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
              FROM reach GROUP BY u),
            assigned AS (
              SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
            spl AS (
              SELECT doc_id,
                     CASE WHEN {_DD_HEX2LONG.format(
                         v="'split:' || CAST(cluster_id AS VARCHAR)")}
                          < {_split_thr} THEN 'val' ELSE 'train' END AS split
              FROM assigned)
            SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_leaking_pairs
            FROM pairs p
            JOIN spl sa ON sa.doc_id = p.pu
            JOIN spl sb ON sb.doc_id = p.pv
        """,
        "training_samples": f"""
            WITH RECURSIVE {_dd_ngrams(3)[5:]},
            sig AS (SELECT doc_id, {minhash_aggs} FROM grams GROUP BY doc_id),
            banded AS ({band_selects}),
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
              FROM reach GROUP BY u),
            splitq AS (
              SELECT d.doc_id,
                     coalesce(c.cluster_id, d.doc_id) AS cluster_id
              FROM documents d
              LEFT JOIN comp c ON c.doc_id = d.doc_id),
            train_side AS (
              SELECT doc_id FROM splitq
              WHERE {_DD_HEX2LONG.format(
                  v="'split:' || CAST(cluster_id AS VARCHAR)")}
                    >= {_split_thr}),
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
        """,
        "curated_corpus": f"""
            WITH RECURSIVE {_dd_ngrams(3)[5:]},
            sig AS (SELECT doc_id, {minhash_aggs} FROM grams GROUP BY doc_id),
            banded AS ({band_selects}),
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
              FROM reach GROUP BY u),
            t AS (
              SELECT doc_id, text,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS tl,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(trim(text), '\\s+') END AS tl_raw
              FROM documents),
            s AS (
              SELECT doc_id, len(tl_raw) AS n_tokens, {lang_expr} AS lang,
                     round(
                       least(length(text) / 500.0, 1.0)
                       * (1.0 - CASE WHEN length(text) > 0
                          THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1.0 / length(text)
                          ELSE 0 END)
                       * least(1.0, (CASE WHEN len(tl) > 0
                          THEN len(list_filter(tl, x -> list_contains({stop_list}, x))) * 1.0 / len(tl)
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
        """,
        "simhash": f"""
            WITH toks AS ({_DD_TOKENS}),
            tok AS (SELECT doc_id, unnest(tl) AS tok FROM toks),
            hashed AS (SELECT doc_id, {_DD_HEX2LONG.format(v='tok')} AS h FROM tok),
            bitted AS (
              SELECT doc_id, j, CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END AS v
              FROM hashed, range(0, 32) bits(j)),
            per_bit AS (SELECT doc_id, j, sum(v) AS s FROM bitted GROUP BY doc_id, j)
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
            FROM per_bit GROUP BY doc_id ORDER BY doc_id
        """,
        "simhash_near_dup": f"""
            WITH toks AS ({_DD_TOKENS}),
            tok AS (SELECT doc_id, unnest(tl) AS tok FROM toks),
            hashed AS (SELECT doc_id, {_DD_HEX2LONG.format(v='tok')} AS h FROM tok),
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
        """,
        "winnow_fp": f"""
            WITH toks AS ({_DD_TOKENS}),
            gl AS (
              SELECT doc_id, unnest(list_transform(
                range(0, greatest(len(tl) - 4, 0)),
                i -> {{'i': i, 'ngram': array_to_string(
                       tl[CAST(i + 1 AS BIGINT):CAST(i + 5 AS BIGINT)], ' ')}}
              )) AS g
              FROM toks),
            grams AS (SELECT doc_id, g.i AS i, g.ngram AS ngram FROM gl),
            hashed AS (SELECT doc_id, i, {_DD_HEX2LONG.format(v='ngram')} AS h FROM grams),
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
        """,
        "ngram_jaccard": f"""
            {_dd_ngrams(3)},
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
        """,
        "lsh_recall_audit": f"""
            {_dd_ngrams(3)},
            sig AS (SELECT doc_id, {minhash_aggs} FROM grams GROUP BY doc_id),
            banded AS ({band_selects}),
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
        """,
        "decontaminate": f"""
            {_dd_ngrams(3)},
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
        """,
        "stratified_sample": _sampling_oracles()["stratified_sample"],
        "weighted_mixture": _sampling_oracles()["weighted_mixture"],
        "chunk_docs": _sampling_oracles()["chunk_docs"],
        "vocab_topk": _sampling_oracles()["vocab_topk"],
        "strip_substrings": f"""
            WITH lt AS ({_DD_TOKENS}),
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
        """,
        "source_quota": f"""
            WITH d AS (SELECT doc_id, source, lang FROM documents
                       WHERE doc_id % 7 <> 0),
            c AS (SELECT source, count(*) AS n FROM d GROUP BY source),
            r AS (
              SELECT d.doc_id, d.source, d.lang, c.n,
                     row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY {_DD_HEX2LONG.format(
                           v="'cap:' || CAST(d.doc_id AS VARCHAR)")} ASC,
                                d.doc_id ASC) AS rk
              FROM d JOIN c USING (source))
            SELECT doc_id, source, lang FROM r
            WHERE n <= 21 OR rk <= 21
            ORDER BY doc_id
        """,
        "importance_scores": f"""
            WITH lt AS ({_DD_TOKENS}),
            occ AS (
              SELECT doc_id,
                     ({_DD_HEX2LONG.format(v="tok")}) % 10000 AS bucket
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
        """,
        "cms_heavy_hitters": f"""
            WITH lt AS ({_DD_TOKENS}),
            tok AS (SELECT unnest(tl) AS tok FROM lt),
            stream AS (
              SELECT 0 AS row, ({_dd_hexslice('tok', 0)}) % 16 AS bucket
              FROM tok
              UNION ALL
              SELECT 1, ({_dd_hexslice('tok', 8)}) % 16 FROM tok
              UNION ALL
              SELECT 2, ({_dd_hexslice('tok', 16)}) % 16 FROM tok
              UNION ALL
              SELECT 3, ({_dd_hexslice('tok', 24)}) % 16 FROM tok),
            cms AS (SELECT row, bucket, count(*) AS cnt FROM stream
                    GROUP BY row, bucket),
            keys AS (SELECT DISTINCT tok AS token FROM tok
                     ORDER BY token LIMIT 20),
            probes AS (
              SELECT token, 0 AS row,
                     ({_dd_hexslice('token', 0)}) % 16 AS bucket FROM keys
              UNION ALL
              SELECT token, 1, ({_dd_hexslice('token', 8)}) % 16 FROM keys
              UNION ALL
              SELECT token, 2, ({_dd_hexslice('token', 16)}) % 16 FROM keys
              UNION ALL
              SELECT token, 3, ({_dd_hexslice('token', 24)}) % 16 FROM keys),
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
        """,
        "decontaminate_bloom": f"""
            {_dd_ngrams(3)},
            bgr AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 97 = 0),
            bbits AS (SELECT DISTINCT bit FROM (
              SELECT ({_dd_hexslice('ngram', 0)}) % 4096 AS bit FROM bgr
              UNION ALL
              SELECT ({_dd_hexslice('ngram', 8)}) % 4096 FROM bgr
              UNION ALL
              SELECT ({_dd_hexslice('ngram', 16)}) % 4096 FROM bgr)),
            tg AS (SELECT doc_id, ngram FROM grams WHERE doc_id % 97 <> 0),
            probes AS (
              SELECT doc_id, ngram,
                     ({_dd_hexslice('ngram', 0)}) % 4096 AS bit FROM tg
              UNION ALL
              SELECT doc_id, ngram, ({_dd_hexslice('ngram', 8)}) % 4096
              FROM tg
              UNION ALL
              SELECT doc_id, ngram, ({_dd_hexslice('ngram', 16)}) % 4096
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
        """,
        "kmeans": _dd_kmeans_sql(k=8, iters=2, dim=64),
        "ann_ivf_kmeans_topk": _dd_ivf_kmeans_sql(k=8, iters=2, dim=64),
        "ann_pq_topk": _dd_pq_sql(m=4, sub_k=8, iters=1, dim=64),
        "semdedup": _dd_semdedup_sql(k=8, iters=2, dim=64),
        "minhash_match": _dd_minhash_match_sql(num_hashes=8, bands=4),
        "lm_doc_nll": _dd_lm_nll_cte() + """
            SELECT d.doc_id,
                   CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   sc.nll
            FROM documents d LEFT JOIN sc USING (doc_id)
            ORDER BY doc_id
        """,
        "perplexity_buckets": _dd_lm_nll_cte() + """
            , s AS (SELECT doc_id, nll FROM sc WHERE nll IS NOT NULL),
            b AS (SELECT round(quantile_cont(nll, 1.0/3.0), 6) AS b1,
                         round(quantile_cont(nll, 2.0/3.0), 6) AS b2
                  FROM s),
            g AS (SELECT CASE WHEN nll <= b1 THEN 'head'
                              WHEN nll <= b2 THEN 'middle'
                              ELSE 'tail' END AS bucket,
                         CAST(round(nll * 1000000.0) AS BIGINT) AS nll_u
                  FROM s CROSS JOIN b)
            SELECT bucket, count(*) AS n_docs,
                   round(CAST(sum(nll_u) AS BIGINT)
                         / (count(*) * 1000000.0), 6) AS mean_nll
            FROM g GROUP BY bucket ORDER BY bucket
        """,
        "semdedup_cluster_audit": _dd_kmeans_cte(8, 2, 64) + """
            , fin AS (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_distance(e.v, c.cent), 6) ASC,
                                  c.cid ASC) AS r
                FROM e CROSS JOIN c2 c) WHERE r = 1)
            SELECT CAST(cid AS BIGINT) AS cid, count(*) AS cluster_size
            FROM fin GROUP BY cid HAVING count(*) > 4096 ORDER BY cid""",
        "pack_sequences": f"""
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
                     {_DD_HEX2LONG.format(
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
        """,
        "doc_keywords": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\s+'))
                       AS tok
              FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf
                   FROM toks GROUP BY doc_id, tok),
            dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            nn AS (SELECT count(*) AS n FROM documents),
            sc AS (
              SELECT t.doc_id, t.tok,
                     round(t.tf * (ln((nn.n + 1.0) / (d.df + 1.0)) + 1.0),
                           6) AS score
              FROM tf t JOIN dfs d ON t.tok = d.tok CROSS JOIN nn),
            rr AS (SELECT doc_id, tok, score,
                          row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok ASC) AS rank
                   FROM sc)
            SELECT doc_id, rank, tok, score FROM rr
            WHERE rank <= 3 ORDER BY doc_id, rank
        """,
        "corpus_report": r"""
            WITH base AS (
              SELECT lang, source,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS n_toks,
                     length(text) AS n_chars,
                     md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                       AS fp
              FROM documents)
            SELECT lang, source, count(*) AS n_docs,
                   count(*) - count(DISTINCT fp) AS n_dup_docs,
                   CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   round(avg(n_toks), 6) AS avg_tokens
            FROM base GROUP BY ROLLUP (lang, source)
            ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST
        """,
        "bm25_topk": r"""
            WITH tk AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents),
            toks AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok
                     FROM tk),
            m AS (
              SELECT doc_id, tok, dl, count(*) AS tf
              FROM toks WHERE tok IN ('dup', 'spark', 'join')
              GROUP BY doc_id, tok, dl),
            dfs AS (SELECT tok, count(DISTINCT doc_id) AS df
                    FROM m GROUP BY tok),
            stats AS (
              SELECT count(*) AS n, round(avg(len(toks)), 6) AS avgdl
              FROM tk),
            sc AS (
              SELECT m.doc_id,
                     round(CAST(sum(CAST(round(
                       ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                       * ((m.tf * (1.2 + 1.0))
                          / (m.tf + 1.2 * ((1.0 - 0.75)
                                           + (0.75 * m.dl) / s.avgdl)))
                       * 1000000.0) AS BIGINT)) AS BIGINT)
                       / 1000000.0, 6) AS score
              FROM m JOIN dfs d ON m.tok = d.tok CROSS JOIN stats s
              GROUP BY m.doc_id),
            rr AS (SELECT doc_id, score,
                          row_number() OVER (ORDER BY score DESC,
                                             doc_id ASC) AS rank
                   FROM sc)
            SELECT rank, doc_id, score FROM rr
            WHERE rank <= 20 ORDER BY rank
        """,
        "html_main_content": html_oracle,
        "html_main_content_ctx": html_ctx_oracle,
        "html_metadata": html_meta_oracle,
        "pii_scrub": f"""
            SELECT doc_id, {pii_expr} AS scrubbed
            FROM (VALUES
            {pii_rows}
            ) AS t(doc_id, text)
            ORDER BY doc_id
        """,
        "repetition_stats": f"""
            WITH base AS (SELECT doc_id, text FROM documents),
            chars AS (SELECT doc_id,
                        length(regexp_replace(lower(text), '\\s', '', 'g'))
                          AS n_chars FROM base),
            ln AS (SELECT doc_id, trim(l) AS line
                   FROM base, unnest(string_split(text, chr(10))) AS u(l)
                   WHERE trim(l) <> ''),
            lc AS (SELECT doc_id, line, count(*) AS c FROM ln
                   GROUP BY doc_id, line),
            line_stats AS (
              SELECT doc_id, sum(c) AS n_lines,
                     round((sum(c) - count(*)) * 1.0 / sum(c), 6)
                       AS dup_line_frac
              FROM lc GROUP BY doc_id),
            toks AS ({_DD_TOKENS}),
            gl AS (SELECT doc_id, unnest(list_transform(
                     range(0, greatest(len(tl) - 1, 0)),
                     i -> array_to_string(tl[CAST(i + 1 AS BIGINT):CAST(i + 2 AS BIGINT)], ' ')
                   )) AS gram FROM toks),
            gc AS (SELECT doc_id, gram, count(*) AS c FROM gl
                   GROUP BY doc_id, gram),
            top AS (SELECT doc_id, gram AS top_ngram, c AS top_c FROM (
                      SELECT doc_id, gram, c,
                             row_number() OVER (PARTITION BY doc_id
                               ORDER BY c DESC, gram DESC) AS rn
                      FROM gc) WHERE rn = 1)
            SELECT ch.doc_id,
                   CAST(coalesce(ls.n_lines, 0) AS BIGINT) AS n_lines,
                   coalesce(ls.dup_line_frac, 0) AS dup_line_frac,
                   t.top_ngram,
                   CASE WHEN t.top_c IS NOT NULL AND ch.n_chars > 0
                        THEN round(t.top_c * length(regexp_replace(
                               t.top_ngram, '\\s', '', 'g')) * 1.0
                               / ch.n_chars, 6)
                        ELSE 0 END AS top_ngram_char_frac
            FROM chars ch
            LEFT JOIN line_stats ls ON ls.doc_id = ch.doc_id
            LEFT JOIN top t ON t.doc_id = ch.doc_id
            ORDER BY ch.doc_id
        """,
        # full MassiveText rule set — same conventions as the Spark op:
        # duplicate occurrences = repeats beyond the first; n-gram stats
        # share the total-token-chars denominator; dup-n-gram coverage is
        # an interval union (a token counted once however many dup grams
        # cover it); verdict compares the ROUNDED stats.
        "gopher_stats": f"""
            WITH base AS (SELECT doc_id, text FROM documents),
            toks AS ({_DD_TOKENS}),
            tch AS (SELECT doc_id,
                      coalesce(list_sum(list_transform(tl,
                        t -> length(t))), 0) AS tot FROM toks),
            lu AS (SELECT doc_id, trim(u) AS u
                   FROM base, unnest(string_split(text, chr(10))) AS t(u)
                   WHERE trim(u) <> ''),
            lc AS (SELECT doc_id, u, count(*) AS c FROM lu GROUP BY 1, 2),
            ls AS (SELECT doc_id,
                     round(sum(c - 1) * 1.0 / sum(c), 6) AS dup_line_frac,
                     CASE WHEN sum(c * length(u)) > 0
                          THEN round(sum((c - 1) * length(u)) * 1.0
                                     / sum(c * length(u)), 6)
                          ELSE 0.0 END AS dup_line_char_frac
                   FROM lc GROUP BY 1),
            pu AS (SELECT doc_id, trim(u) AS u
                   FROM base,
                        unnest(regexp_split_to_array(text, '\\n\\s*\\n'))
                          AS t(u)
                   WHERE trim(u) <> ''),
            pc AS (SELECT doc_id, u, count(*) AS c FROM pu GROUP BY 1, 2),
            ps AS (SELECT doc_id,
                     round(sum(c - 1) * 1.0 / sum(c), 6) AS dup_para_frac,
                     CASE WHEN sum(c * length(u)) > 0
                          THEN round(sum((c - 1) * length(u)) * 1.0
                                     / sum(c * length(u)), 6)
                          ELSE 0.0 END AS dup_para_char_frac
                   FROM pc GROUP BY 1),
            tg AS (SELECT doc_id, n,
                     unnest(list_transform(
                       range(0, greatest(len(tl) - n + 1, 0)),
                       i -> array_to_string(
                         tl[CAST(i + 1 AS BIGINT):CAST(i + n AS BIGINT)],
                         ' '))) AS gram
                   FROM toks, (VALUES (2), (3), (4)) AS ns(n)),
            tgc AS (SELECT doc_id, n, gram, count(*) AS c
                    FROM tg GROUP BY 1, 2, 3),
            tgt AS (SELECT doc_id, n,
                      c * length(replace(gram, ' ', '')) AS chars
                    FROM (SELECT doc_id, n, gram, c,
                            row_number() OVER (PARTITION BY doc_id, n
                              ORDER BY c DESC, gram DESC) AS rn
                          FROM tgc) WHERE rn = 1),
            tgp AS (SELECT doc_id,
                      max(CASE WHEN n = 2 THEN chars END) AS c2,
                      max(CASE WHEN n = 3 THEN chars END) AS c3,
                      max(CASE WHEN n = 4 THEN chars END) AS c4
                    FROM tgt GROUP BY 1),
            dg AS (SELECT doc_id, n, CAST(i AS BIGINT) AS pos,
                     array_to_string(
                       tl[CAST(i + 1 AS BIGINT):CAST(i + n AS BIGINT)],
                       ' ') AS gram
                   FROM toks,
                        (VALUES (5), (6), (7), (8), (9), (10)) AS ns(n),
                        unnest(range(0, greatest(len(tl) - n + 1, 0)))
                          AS r(i)),
            dup AS (SELECT doc_id, n, gram FROM dg
                    GROUP BY 1, 2, 3 HAVING count(*) > 1),
            hit AS (SELECT dg.doc_id, dg.n, dg.pos
                    FROM dg JOIN dup USING (doc_id, n, gram)),
            tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                      length(tl[CAST(i + 1 AS BIGINT)]) AS L
                    FROM toks, unnest(range(0, len(tl))) AS r(i)),
            cov AS (SELECT t.doc_id, ns.n, t.pos, any_value(t.L) AS L,
                      max(CASE WHEN h.pos IS NOT NULL THEN 1 ELSE 0 END)
                        AS covered
                    FROM tok t
                    CROSS JOIN (VALUES (5), (6), (7), (8), (9), (10))
                      AS ns(n)
                    LEFT JOIN hit h ON h.doc_id = t.doc_id
                      AND h.n = ns.n
                      AND h.pos BETWEEN t.pos - ns.n + 1 AND t.pos
                    GROUP BY 1, 2, 3),
            covagg AS (SELECT doc_id, n, sum(L * covered) AS dc
                       FROM cov GROUP BY 1, 2),
            covp AS (SELECT doc_id,
                       max(CASE WHEN n = 5 THEN dc END) AS d5,
                       max(CASE WHEN n = 6 THEN dc END) AS d6,
                       max(CASE WHEN n = 7 THEN dc END) AS d7,
                       max(CASE WHEN n = 8 THEN dc END) AS d8,
                       max(CASE WHEN n = 9 THEN dc END) AS d9,
                       max(CASE WHEN n = 10 THEN dc END) AS d10
                     FROM covagg GROUP BY 1),
            s AS (SELECT b.doc_id,
                    coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
                    coalesce(ls.dup_line_char_frac, 0.0)
                      AS dup_line_char_frac,
                    coalesce(ps.dup_para_frac, 0.0) AS dup_para_frac,
                    coalesce(ps.dup_para_char_frac, 0.0)
                      AS dup_para_char_frac,
                    CASE WHEN tch.tot > 0 THEN round(
                      coalesce(tgp.c2, 0) * 1.0 / tch.tot, 6)
                      ELSE 0.0 END AS top_2gram_char_frac,
                    CASE WHEN tch.tot > 0 THEN round(
                      coalesce(tgp.c3, 0) * 1.0 / tch.tot, 6)
                      ELSE 0.0 END AS top_3gram_char_frac,
                    CASE WHEN tch.tot > 0 THEN round(
                      coalesce(tgp.c4, 0) * 1.0 / tch.tot, 6)
                      ELSE 0.0 END AS top_4gram_char_frac,
                    CASE WHEN tch.tot > 0 THEN round(
                      coalesce(covp.d5, 0) * 1.0 / tch.tot, 6)
                      ELSE 0.0 END AS dup_5gram_char_frac,
                    CASE WHEN tch.tot > 0 THEN round(
                      coalesce(covp.d6, 0) * 1.0 / tch.tot, 6)
                      ELSE 0.0 END AS dup_6gram_char_frac,
                    CASE WHEN tch.tot > 0 THEN round(
                      coalesce(covp.d7, 0) * 1.0 / tch.tot, 6)
                      ELSE 0.0 END AS dup_7gram_char_frac,
                    CASE WHEN tch.tot > 0 THEN round(
                      coalesce(covp.d8, 0) * 1.0 / tch.tot, 6)
                      ELSE 0.0 END AS dup_8gram_char_frac,
                    CASE WHEN tch.tot > 0 THEN round(
                      coalesce(covp.d9, 0) * 1.0 / tch.tot, 6)
                      ELSE 0.0 END AS dup_9gram_char_frac,
                    CASE WHEN tch.tot > 0 THEN round(
                      coalesce(covp.d10, 0) * 1.0 / tch.tot, 6)
                      ELSE 0.0 END AS dup_10gram_char_frac
                  FROM base b
                  LEFT JOIN tch ON tch.doc_id = b.doc_id
                  LEFT JOIN ls ON ls.doc_id = b.doc_id
                  LEFT JOIN ps ON ps.doc_id = b.doc_id
                  LEFT JOIN tgp ON tgp.doc_id = b.doc_id
                  LEFT JOIN covp ON covp.doc_id = b.doc_id)
            SELECT s.*,
                   (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
                    AND dup_para_frac <= 0.30
                    AND dup_para_char_frac <= 0.20
                    AND top_2gram_char_frac <= 0.20
                    AND top_3gram_char_frac <= 0.18
                    AND top_4gram_char_frac <= 0.16
                    AND dup_5gram_char_frac <= 0.15
                    AND dup_6gram_char_frac <= 0.14
                    AND dup_7gram_char_frac <= 0.13
                    AND dup_8gram_char_frac <= 0.12
                    AND dup_9gram_char_frac <= 0.11
                    AND dup_10gram_char_frac <= 0.10) AS gopher_pass
            FROM s ORDER BY doc_id
        """,
        "text_stats": f"""
            WITH t AS (
              SELECT doc_id, text,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS tl,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(trim(text), '\\s+') END AS tl_raw
              FROM documents)
            SELECT doc_id,
                   len(tl_raw) AS n_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
                   round(CASE WHEN length(text) > 0
                         THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1.0 / length(text)
                         ELSE 0 END, 6) AS punct_ratio,
                   round(CASE WHEN len(tl) > 0
                         THEN len(list_filter(tl, x -> list_contains({stop_list}, x))) * 1.0 / len(tl)
                         ELSE 0 END, 6) AS stopword_ratio,
                   round(CASE WHEN len(tl_raw) > 0
                         THEN list_sum(list_transform(tl_raw, x -> length(x))) * 1.0 / len(tl_raw)
                         ELSE 0 END, 6) AS mean_word_len,
                   {lang_expr} AS pred_lang,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   CASE WHEN length(regexp_replace(lower(text), '[^a-z]', '', 'g')) >= 2
                        THEN round(len(list_filter(list_transform(
                               range(1, length(regexp_replace(lower(text), '[^a-z]', '', 'g'))),
                               i -> substring(regexp_replace(lower(text), '[^a-z]', '', 'g'),
                                              CAST(i AS INTEGER), 2)),
                               g -> list_contains({bigram_list}, g))) * 1.0
                             / (length(regexp_replace(lower(text), '[^a-z]', '', 'g')) - 1), 6)
                        ELSE 0 END AS bigram_coherence
            FROM t ORDER BY doc_id
        """,
        "quality_score": quality_sql + " ORDER BY doc_id",
        "quality_classifier": _dd_logreg_sql(
            label_sql=f"""
              SELECT doc_id,
                     CASE WHEN quality >= (SELECT round(quantile_cont(
                            quality, 0.5), 6) FROM ({quality_sql}) qq)
                          THEN 1.0 ELSE 0.0 END AS y
              FROM ({quality_sql}) q""",
            buckets=64, lr=0.05, iters=4),
        "ann_brute_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings ORDER BY vec_id LIMIT 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.query_id),
            r AS (
              SELECT query_id, vec_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored)
            SELECT query_id, rank, vec_id, score FROM r
            WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "ann_ivf_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings ORDER BY vec_id LIMIT 5),
            exploded AS (
              SELECT label, j, CAST(embedding[CAST(j AS INTEGER)] AS DOUBLE) AS v
              FROM embeddings, range(1, 65) d(j)),
            cent AS (
              SELECT label, list(m ORDER BY j) AS centroid
              FROM (SELECT label, j, avg(v) AS m FROM exploded GROUP BY label, j) pm
              GROUP BY label),
            routed AS (
              SELECT q.query_id, q.qv, c.label,
                     round(list_cosine_similarity(c.centroid, q.qv), 6) AS cscore,
                     row_number() OVER (PARTITION BY q.query_id
                                        ORDER BY round(list_cosine_similarity(c.centroid, q.qv), 6) DESC,
                                                 c.label ASC) AS r
              FROM q CROSS JOIN cent c),
            probe AS (SELECT query_id, qv, label FROM routed WHERE r = 1),
            scored AS (
              SELECT p.query_id, e.vec_id,
                     round(list_cosine_similarity(e.embedding::DOUBLE[], p.qv), 6) AS score
              FROM embeddings e JOIN probe p ON e.label = p.label
              WHERE e.vec_id <> p.query_id),
            rr AS (
              SELECT query_id, vec_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored)
            SELECT query_id, rank, vec_id, score FROM rr
            WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "image_features": f"""
            SELECT * FROM (VALUES
            {feat_rows}
            ) AS t(media_ref, width, height, ink_ratio, otsu_threshold,
                   n_components)
            ORDER BY media_ref
        """,
        "thumbnails": f"""
            SELECT * FROM (VALUES
            {thumb_rows}
            ) AS t(media_ref, thumb_w, thumb_h)
            ORDER BY media_ref
        """,
        "media_decode_report": f"""
            SELECT format, shape, CAST(n AS BIGINT) AS n FROM (VALUES
            {report_rows}
            ) AS t(format, shape, n)
            ORDER BY format, shape
        """,
        "layout_geometry": f"""
            SELECT * FROM (VALUES
            {geom_rows}
            ) AS t(doc_id, "offset", block_order, kind, text, media_ref,
                   "left", "top", "right", "bottom")
            ORDER BY doc_id, "offset", block_order
        """,
        "extract_words": f"""
            SELECT * FROM (VALUES
            {word_rows}
            ) AS t(doc_id, "offset", block_order, para_num, line_num,
                   word_num, word, media_ref, "left", "top", "right",
                   "bottom", conf, x_size, base_slope, base_off)
            ORDER BY doc_id, "offset", block_order, para_num, line_num,
                     word_num
        """,
        "extract_symbols": f"""
            SELECT * FROM (VALUES
            {symbol_rows}
            ) AS t(doc_id, "offset", block_order, para_num, line_num,
                   word_num, sym_num, ch, media_ref, "left", "top",
                   "right", "bottom", conf, page_h)
            ORDER BY doc_id, "offset", block_order, para_num, line_num,
                     word_num, sym_num
        """,
        "render_box": f"""
            SELECT * FROM (VALUES
            {box_rows}
            ) AS t(doc_id, box) ORDER BY doc_id
        """,
        "render_unlv": f"""
            SELECT * FROM (VALUES
            {unlv_rows}
            ) AS t(doc_id, unlv) ORDER BY doc_id
        """,
        "warc_ingest": _warc_oracle_sql(),
        "fix_mojibake": _mojibake_oracle_sql(),
        "render_tsv_levels": f"""
            SELECT * FROM (VALUES
            {tsv_level_rows}
            ) AS t(doc_id, tsv) ORDER BY doc_id
        """,
        "render_hocr_words": f"""
            SELECT * FROM (VALUES
            {hocr_word_rows}
            ) AS t(doc_id, hocr) ORDER BY doc_id
        """,
        "render_alto_words": f"""
            SELECT * FROM (VALUES
            {alto_word_rows}
            ) AS t(doc_id, alto) ORDER BY doc_id
        """,
        "render_page_xml_words": f"""
            SELECT * FROM (VALUES
            {pagexml_word_rows}
            ) AS t(doc_id, page_xml) ORDER BY doc_id
        """,
        "render_pdf": f"""
            SELECT * FROM (VALUES
            {pdf_rows}
            ) AS t(doc_id, sha256, n_bytes, n_pages) ORDER BY doc_id
        """,
        "cosine_near_dup": """
            -- hot-label cap twin (cosine_near_dup_pairs max_label=4096):
            -- drop oversized labels exactly like the Spark side
            WITH lc AS (SELECT label FROM embeddings GROUP BY label
                        HAVING count(*) BETWEEN 2 AND 4096)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS score
            FROM embeddings a
            JOIN lc ON lc.label = a.label
            JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
            ORDER BY id_a, id_b
        """,
        "cosine_label_audit": """
            SELECT label, count(*) AS label_size
            FROM embeddings GROUP BY label
            HAVING count(*) > 4096
            ORDER BY label
        """,
        "cosine_lsh": f"""
            WITH sig AS (
              SELECT vec_id, embedding,
                     CAST({_sig_terms} AS BIGINT) AS sig
              FROM embeddings),
            banded AS (
              SELECT vec_id, embedding, sig, CAST(band AS INTEGER) AS band,
                     (sig >> CAST(8 * band AS INTEGER)) & 255 AS key
              FROM sig, range(0, 4) b(band)),
            -- count-first bucket-cap twin (max_bucket=1024)
            bc AS (SELECT band, key FROM banded GROUP BY band, key
                   HAVING count(*) BETWEEN 2 AND 1024)
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS score
            FROM banded a
            JOIN bc ON bc.band = a.band AND bc.key = a.key
            JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.35
            ORDER BY id_a, id_b
        """,
        "snapshot_diff": """
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
        """,
        "bpe_merges": _dd_bpe_merges_sql(),
        "bpe_tokens": _dd_bpe_tokens_sql(),
        "line_dedup": f"""
            WITH base AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES {line_doc_rows}) v(doc_id, text)),
            raw AS (
              SELECT doc_id, unnest(list_transform(
                       range(1, len(arr) + 1),
                       i -> {{'pos': CAST(i - 1 AS INTEGER),
                             'line': arr[CAST(i AS BIGINT)]}})) AS u
              FROM (SELECT doc_id, string_split(text, chr(10)) AS arr
                    FROM base)),
            lines AS (
              SELECT doc_id, u.pos AS pos, u.line AS line,
                     md5({line_norm}) AS h
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
        """,
        "bpe_fertility": _dd_bpe_fertility_sql(),
        "contamination_report": f"""
            {_dd_ngrams(3)},
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
        """,
    }
