"""Vector and search queries over the embeddings and documents tables:
k-means, ANN (brute force, IVF, PQ), SemDeDup, cosine near-dup, BM25 and
tf-idf keywords. The twins unroll the same Lloyd rounds in SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver.common import DD_HEX2LONG, query, table
from sparkstract.operators import similarity

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
    h = DD_HEX2LONG.format(v=f"'{salt}:' || CAST(vec_id AS VARCHAR)")
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


# Trained k-means codebook per (sf_dir, k, iters). Unlike the pair frame
# this is PLAIN DATA (k x dim floats, no session reference), so it can
# outlive sessions safely. The first k-means query to run trains (a miss
# rebuilds, so any run order works); the others reuse the model — the
# production train-once pattern (bench.py runs `kmeans` first, so its
# entry carries the training cost).
_KMEANS_MODEL_CACHE: dict[tuple[str, int, int], list] = {}


def _kmeans_model(spark: SparkSession, sf_dir: str,
                  k: int = 8, iters: int = 2) -> list:
    key = (sf_dir, k, iters)
    if key not in _KMEANS_MODEL_CACHE:
        from sparkstract.operators.similarity import kmeans_fit

        emb = table(spark, sf_dir, "embeddings")
        _KMEANS_MODEL_CACHE[key] = kmeans_fit(emb, k=k, iters=iters)
    return _KMEANS_MODEL_CACHE[key]


@query("kmeans", _dd_kmeans_sql(k=8, iters=2, dim=64))
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=8, 2 Lloyd rounds from md5-seeded init) over
    the embeddings table, then nearest-centroid assignment — the IVF
    codebook training path. Oracle unrolls the same two rounds in SQL."""
    from sparkstract.operators.similarity import kmeans_assign

    emb = table(spark, sf_dir, "embeddings")
    cents = _kmeans_model(spark, sf_dir, k=8, iters=2)
    return (kmeans_assign(emb, cents)
            .select("vec_id", F.col("cid").cast("long").alias("cid"), "dist")
            .orderBy("vec_id"))


@query("ann_ivf_kmeans_topk", _dd_ivf_kmeans_sql(k=8, iters=2, dim=64))
def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over the TRAINED k-means codebook (train -> assign -> probe):
    the full self-contained ANN path, no pre-clustered label column."""
    from sparkstract.operators.similarity import ivf_kmeans_topk

    emb = table(spark, sf_dir, "embeddings")
    cents = _kmeans_model(spark, sf_dir, k=8, iters=2)
    q = (emb.orderBy("vec_id").limit(5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return (ivf_kmeans_topk(emb, q, cents, k=10)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", "score")
            .orderBy("query_id", "rank"))


@query("ann_pq_topk", _dd_pq_sql(m=4, sub_k=8, iters=1, dim=64))
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jegou et al. 2011): 4 subspace
    codebooks of 8 codes (one Lloyd round each), vectors compressed to 4
    codes, per-query distance = sum of 4 table lookups."""
    from sparkstract.operators.similarity import pq_topk, pq_train

    emb = table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=4, sub_k=8, iters=1, dim=64)
    q = (emb.orderBy("vec_id").limit(5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return (pq_topk(emb, q, books, k=10)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", "adist")
            .orderBy("query_id", "rank"))


@query("semdedup", _dd_semdedup_sql(k=8, iters=2, dim=64))
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdicts (Abbas et al. 2023): k-means cluster (k=8, the
    trained `kmeans` codebook), within-cluster cosine >= 0.35 = semantic
    duplicate (115 pairs at sf0.01 — non-vacuous), keep the
    farther-from-centroid pair member. One row per vector."""
    from sparkstract.operators.similarity import semdedup

    emb = table(spark, sf_dir, "embeddings")
    cents = _kmeans_model(spark, sf_dir, k=8, iters=2)
    return (semdedup(emb, cents, threshold=0.35)
            .select("vec_id", F.col("cid").cast("long").alias("cid"),
                    "n_dups", "keep")
            .orderBy("vec_id"))


@query("semdedup_cluster_audit", _dd_kmeans_cte(8, 2, 64) + """
            , fin AS (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_distance(e.v, c.cent), 6) ASC,
                                  c.cid ASC) AS r
                FROM e CROSS JOIN c2 c) WHERE r = 1)
            SELECT CAST(cid AS BIGINT) AS cid, count(*) AS cluster_size
            FROM fin GROUP BY cid HAVING count(*) > 4096 ORDER BY cid""")
def q_semdedup_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'log what was dropped' side channel for semdedup's cluster cap
    (max_cluster=4096): one row per oversized k-means cluster with its
    size. Empty at this SF — and the oracle PINS that emptiness (same
    contract as lsh_bucket_audit / cosine_label_audit)."""
    from sparkstract.operators.similarity import kmeans_assign

    emb = table(spark, sf_dir, "embeddings")
    cents = _kmeans_model(spark, sf_dir, k=8, iters=2)
    return (kmeans_assign(emb, cents)
            .groupBy(F.col("cid").cast("long").alias("cid"))
            .agg(F.count(F.lit(1)).alias("cluster_size"))
            .filter(F.col("cluster_size") > 4096)
            .orderBy("cid"))


@query("doc_keywords", r"""
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
        """)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per document (smooth idf, sklearn
    convention) — the per-doc description counterpart of bm25_topk."""
    from sparkstract.operators.search import doc_keywords

    docs = table(spark, sf_dir, "documents")
    return doc_keywords(docs, topk=3).orderBy("doc_id", "rank")


@query("bm25_topk", r"""
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
        """)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the OR-query {dup, spark, join} — one rare
    term (df~25 at sf0.01, high idf) and two common ones, so the ranking
    exercises both idf separation and the length normalization."""
    from sparkstract.operators.search import bm25_topk

    docs = table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["dup", "spark", "join"], topk=20)


@query("ann_brute_topk", """
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
        """)
def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = (emb.orderBy("vec_id").limit(5)
         .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")))
    return similarity.brute_force_topk(emb, q, k=10).orderBy("query_id", "rank")


@query("ann_ivf_topk", """
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
        """)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = (emb.orderBy("vec_id").limit(5)
         .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")))
    return similarity.ivf_topk(emb, q, k=10).orderBy("query_id", "rank")


@query("cosine_near_dup", """
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
        """)
def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-bucketed embedding near-dup. Threshold 0.4 at the gate (like
    cosine_lsh's 0.35): the driver's embeddings are near-random with max
    within-label cosine ≈ 0.475, so the production default 0.9 returns zero
    rows — vacuous evidence. 0.4 yields a handful of pairs that pin the
    label-bucket → pair → score path value-by-value."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(emb, threshold=0.4).orderBy("id_a", "id_b")


@query("cosine_label_audit", """
            SELECT label, count(*) AS label_size
            FROM embeddings GROUP BY label
            HAVING count(*) > 4096
            ORDER BY label
        """)
def q_cosine_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'log what was dropped' side channel for cosine_near_dup_pairs'
    hot-label cap: one row per dropped label with its size. Empty result =
    nothing dropped at this SF — pinned by the oracle, like lsh_bucket_audit."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_label_stats(emb).orderBy("label")


def _cosine_lsh_sql() -> str:
    # sign-LSH twin: same 6-dp hyperplane literals, same band/cap shape
    sig_terms = " + ".join(
        "(CASE WHEN round(list_inner_product(embedding::DOUBLE[], "
        f"CAST([{', '.join(repr(x) for x in p)}] AS DOUBLE[])), 6) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(similarity.random_hyperplanes(32, 64, seed=7)))
    return f"""
            WITH sig AS (
              SELECT vec_id, embedding,
                     CAST({sig_terms} AS BIGINT) AS sig
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
        """


@query("cosine_lsh", _cosine_lsh_sql)
def q_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-free embedding near-dup via random-hyperplane sign-LSH
    (Charikar 2002) — the LSH-bucketed ANN scale path: banded signatures →
    capped candidate buckets → exact cosine verify. Hyperplanes are
    deterministic 6-dp literals shared with the DuckDB twin. Threshold 0.35
    at the gate: the driver's embeddings are near-random (max pairwise
    cosine ≈ 0.47, so the production default 0.9 returns zero rows like
    cosine_near_dup) and a non-empty result is what actually pins the
    bucket → verify → score path value-by-value."""
    emb = table(spark, sf_dir, "embeddings")
    planes = similarity.random_hyperplanes(32, 64, seed=7)
    return similarity.cosine_lsh_pairs(emb, planes, threshold=0.35) \
        .orderBy("id_a", "id_b")

