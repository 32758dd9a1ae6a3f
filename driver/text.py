"""Text, quality, HTML and WARC queries: text statistics, the quality
heuristic and the classifier trained on it, the bigram LM, PII scrub,
repetition filters, HTML main content and metadata, WARC ingest, mojibake
repair and the corpus report. Every twin is generated from the SAME
constants the Spark side compiles (stopwords, markers, regexes, folds)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver.common import (DD_HEX2LONG, DD_TOKENS, LANG_EXPR, STOP_LIST,
                           query, quoted_rows, sql_quote, table)
from sparkstract.functions import html as _html
from sparkstract.functions import textstats as ts

# the quality heuristic as a reusable SELECT (doc_id, quality) — the
# quality_score oracle AND the classifier's pseudo-label source
_QUALITY_SQL = f"""
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
                    THEN len(list_filter(tl, x -> list_contains({STOP_LIST}, x))) * 1.0 / len(tl)
                    ELSE 0 END) * 5.0),
               6) AS quality
        FROM t"""
_BIGRAMS = "[" + ", ".join(f"'{b}'" for b in ts.COMMON_BIGRAMS) + "]"


def _dd_scrub(expr: str) -> str:
    """The PII scrub twin, from the same pattern table (ts.PII_PATTERNS)."""
    for pat, tok in ts.PII_PATTERNS:
        expr = (f"regexp_replace({expr}, {sql_quote(pat)}, "
                f"{sql_quote(tok)}, 'g')")
    return expr


def _ent(expr: str) -> str:
    for s, d in _html.HTML_ENTITIES:
        expr = f"replace({expr}, {sql_quote(s)}, {sql_quote(d)})"
    return expr


def _dd_text(v: str) -> str:
    """Tags to spaces, whitespace runs collapsed, entities decoded — the
    text of an HTML fragment, from the SAME constants as
    sparkstract.functions.html (patterns are RE2-safe: no backreferences)."""
    return _ent(
        f"trim(regexp_replace(regexp_replace({v}, "
        f"{sql_quote(_html.ANY_TAG_RE)}, ' ', 'g'), '\\s+', ' ', 'g'))")


def _dd_html_lines(docs: list[tuple[str, str]]) -> str:
    """WITH h(doc_id, html) over `docs`, c (dropped blocks and comments
    blanked) and l (the text split into lines at block tags): the cleaning
    both main-content twins share."""
    return f"""
            WITH h AS (SELECT * FROM (VALUES
            {quoted_rows(docs)}
            ) AS t(doc_id, html)),
            c AS (SELECT doc_id,
                    regexp_replace(regexp_replace(html,
                      {sql_quote(_html.DROP_BLOCKS_RE)}, ' ', 'g'),
                      {sql_quote(_html.COMMENTS_RE)}, ' ', 'g') AS x
                  FROM h),
            l AS (SELECT doc_id, string_split(regexp_replace(x,
                    {sql_quote(_html.BLOCK_TAGS_RE)}, chr(10), 'g'),
                    chr(10)) AS lines FROM c),"""


def _dd_lm_nll_cte() -> str:
    """WITH chain ending at sc(doc_id, n_bigrams, nll) — the add-k bigram
    LM scores twinning lm_doc_nll (integer micro-nat quantization)."""
    return f"""
        WITH toks AS ({DD_TOKENS}),
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
    h = DD_HEX2LONG.format(v="'feat:' || tok")
    parts = [f"""
        WITH toks AS ({DD_TOKENS}),
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


# mojibake fixture: ONE clean literal; its damaged forms derive from the
# same sloppy-cp1252 model the repair table derives from
_MOJI_CLEAN = "café naïve — “quoted” … €5 ±3° żółć"


def _mojibake_oracle_sql() -> str:
    """DuckDB twin of q_fix_mojibake: the SAME generated replace chain
    (encoding.mojibake_sql) over the same damaged-literal append."""
    from sparkstract.functions.encoding import (_sloppy_cp1252,
                                                 mojibake_sql_chunks)

    damaged = _sloppy_cp1252(_MOJI_CLEAN.encode("utf-8"))
    ctes = [f"m0 AS (SELECT doc_id, text || {sql_quote(' ' + damaged)} "
            f"AS t FROM documents)"]
    for i, expr in enumerate(mojibake_sql_chunks("t"), start=1):
        ctes.append(f"m{i} AS (SELECT doc_id, {expr} AS t FROM m{i - 1})")
    n = len(_MOJI_CLEAN)
    tail = f"substring(t, length(t) - {n - 1}, {n})"
    return (
        "WITH " + ",\n".join(ctes)
        + f" SELECT doc_id, {tail} AS fixed_tail, "
        f"{tail} = {sql_quote(_MOJI_CLEAN)} AS repaired "
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
            f"({i}, {sql_quote(r['warc_type'])}, "
            f"{sql_quote(r.get('target_uri') or '')}, "
            f"{r.get('http_status', -1) if r.get('http_status') is not None else -1}, "
            f"{sql_quote(ctype)}, {len(payload)}, "
            f"{'true' if len(payload) > _WARC_CAP else 'false'}, "
            f"{sql_quote(sha)})")
    return (
        "SELECT * FROM (VALUES\n" + ",\n".join(rows)
        + "\n) AS t(record_seq, record_type, target_uri, http_status, "
          "content_type, n_bytes, truncated, payload_sha) "
          "ORDER BY record_seq")


@query("lm_doc_nll", _dd_lm_nll_cte() + """
            SELECT d.doc_id,
                   CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   sc.nll
            FROM documents d LEFT JOIN sc USING (doc_id)
            ORDER BY doc_id
        """)
def q_lm_doc_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal: mean NLL per doc under the corpus's own
    add-k bigram LM (the distributed KenLM-perplexity analog)."""
    from sparkstract.operators.lm import lm_doc_nll

    docs = table(spark, sf_dir, "documents")
    return lm_doc_nll(docs, k=0.1).orderBy("doc_id")


@query("perplexity_buckets", _dd_lm_nll_cte() + """
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
        """)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020 §4.3): docs
    bucketed by terciles of their corpus-LM NLL. Boundaries via one
    percentile aggregate + broadcast CASE — the quantity_quartiles scale
    shape, never a global window; the bucket mean uses the same micro-nat
    integer sum as lm_doc_nll (order-independent)."""
    from sparkstract.operators.lm import lm_doc_nll

    docs = table(spark, sf_dir, "documents")
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


@query("corpus_report", r"""
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
        """)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card rollup: per-(lang, source) doc counts, within-stratum
    exact-dup counts, token/char totals, mean length + rollup totals."""
    from sparkstract.operators.report import corpus_report

    docs = table(spark, sf_dir, "documents")
    return corpus_report(docs).orderBy(F.asc_nulls_first("lang"),
                                       F.asc_nulls_first("source"))


@query("html_main_content", f"""{_dd_html_lines(_HTML_DOCS)}
            s AS (SELECT doc_id, list_transform(lines, ln -> struct_pack(
                    txt := {_dd_text('ln')},
                    link := coalesce(list_sum(list_transform(
                      regexp_extract_all(ln,
                        {sql_quote(_html.ANCHOR_TEXT_RE)}, 1),
                      a -> length({_dd_text('a')}))), 0))) AS sc
                  FROM l)
            SELECT doc_id,
                   array_to_string(list_transform(list_filter(sc, v ->
                     len(string_split(v.txt, ' ')) >= 4 AND v.txt <> ''
                     AND v.link <= 0.4 * length(v.txt)),
                     v -> v.txt), chr(10)) AS main_text
            FROM s ORDER BY doc_id
        """)
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


# context-sensitive twin: same cleaning/scoring CTEs, then the
# decisive-neighbor windows (last_value IGNORE NULLS both ways) and
# the keep rule, mirrored from functions/html.justext_main_content
@query("html_main_content_ctx", f"""{_dd_html_lines(_HTML_CTX_DOCS)}
            ex AS (SELECT doc_id,
                     generate_subscripts(lines, 1) AS pos,
                     {_dd_text('unnest(lines)')} AS txt,
                     coalesce(list_sum(list_transform(
                       regexp_extract_all(unnest(lines),
                         {sql_quote(_html.ANCHOR_TEXT_RE)}, 1),
                       a -> length({_dd_text('a')}))), 0) AS link
                   FROM l),
            sc AS (SELECT doc_id, pos, txt,
                     len(string_split(lower(txt), ' ')) AS words,
                     len(list_filter(string_split(lower(txt), ' '),
                       w -> list_contains({STOP_LIST}, w))) AS stops,
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
        """)
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


@query("html_metadata", f"""
            SELECT doc_id,
                   {_dd_text(f"regexp_extract(html, {sql_quote(_html.TITLE_RE)}, 1)")} AS title,
                   {_ent(f"trim(regexp_extract(html, {sql_quote(_html.META_DESC_RE)}, 1))")} AS meta_description,
                   {_dd_text(f"regexp_extract(html, {sql_quote(_html.H1_RE)}, 1)")} AS h1,
                   lower(regexp_extract(html,
                     {sql_quote(_html.HTML_LANG_RE)}, 1)) AS lang,
                   regexp_extract(html,
                     {sql_quote(_html.CANONICAL_RE)}, 1) AS canonical
            FROM (VALUES
            {quoted_rows(_HTML_DOCS)}
            ) AS t(doc_id, html) ORDER BY doc_id
        """)
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


@query("pii_scrub", f"""
            SELECT doc_id, {_dd_scrub('text')} AS scrubbed
            FROM (VALUES
            {quoted_rows(_PII_DOCS)}
            ) AS t(doc_id, text)
            ORDER BY doc_id
        """)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (emails/phones/IPs/SSNs → typed tokens), the standard
    pre-training scrub pass, over literal docs covering each pattern."""
    df = spark.createDataFrame(_PII_DOCS, "doc_id string, text string")
    return df.select(
        "doc_id", ts.scrub_pii(F.col("text")).alias("scrubbed")
    ).orderBy("doc_id")


@query("repetition_stats", f"""
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
            toks AS ({DD_TOKENS}),
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
        """)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition filters (Rae et al. 2021 A1.1):
    duplicate-line fraction + top-word-bigram character share, per doc."""
    from sparkstract.operators.repetition import repetition_stats

    docs = table(spark, sf_dir, "documents")
    return repetition_stats(docs, n=2).orderBy("doc_id")


# full MassiveText rule set — same conventions as the Spark op:
# duplicate occurrences = repeats beyond the first; n-gram stats
# share the total-token-chars denominator; dup-n-gram coverage is
# an interval union (a token counted once however many dup grams
# cover it); verdict compares the ROUNDED stats.
@query("gopher_stats", f"""
            WITH base AS (SELECT doc_id, text FROM documents),
            toks AS ({DD_TOKENS}),
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
        """)
def q_gopher_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MassiveText repetition rule set (Rae et al. 2021 table A1 —
    all twelve thresholds): dup line/paragraph fractions + their char
    fractions, top-{2,3,4}-gram char share, and interval-union char coverage
    of duplicated {5..10}-grams, plus the combined gopher_pass verdict."""
    from sparkstract.operators.repetition import gopher_stats

    docs = table(spark, sf_dir, "documents")
    return gopher_stats(docs).orderBy("doc_id")


@query("text_stats", f"""
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
                         THEN len(list_filter(tl, x -> list_contains({STOP_LIST}, x))) * 1.0 / len(tl)
                         ELSE 0 END, 6) AS stopword_ratio,
                   round(CASE WHEN len(tl_raw) > 0
                         THEN list_sum(list_transform(tl_raw, x -> length(x))) * 1.0 / len(tl_raw)
                         ELSE 0 END, 6) AS mean_word_len,
                   {LANG_EXPR} AS pred_lang,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   CASE WHEN length(regexp_replace(lower(text), '[^a-z]', '', 'g')) >= 2
                        THEN round(len(list_filter(list_transform(
                               range(1, length(regexp_replace(lower(text), '[^a-z]', '', 'g'))),
                               i -> substring(regexp_replace(lower(text), '[^a-z]', '', 'g'),
                                              CAST(i AS INTEGER), 2)),
                               g -> list_contains({_BIGRAMS}, g))) * 1.0
                             / (length(regexp_replace(lower(text), '[^a-z]', '', 'g')) - 1), 6)
                        ELSE 0 END AS bigram_coherence
            FROM t ORDER BY doc_id
        """)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
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


@query("quality_score", _QUALITY_SQL + " ORDER BY doc_id")
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", ts.quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


@query("quality_classifier", _dd_logreg_sql(
            label_sql=f"""
              SELECT doc_id,
                     CASE WHEN quality >= (SELECT round(quantile_cont(
                            quality, 0.5), 6) FROM ({_QUALITY_SQL}) qq)
                          THEN 1.0 ELSE 0.0 END AS y
              FROM ({_QUALITY_SQL}) q""",
            buckets=64, lr=0.05, iters=4))
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

    docs = table(spark, sf_dir, "documents")
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


@query("warc_ingest", _warc_oracle_sql)
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


@query("fix_mojibake", _mojibake_oracle_sql)
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
    docs = table(spark, sf_dir, "documents")
    fixed = fix_mojibake(F.concat(F.col("text"), F.lit(" " + damaged)))
    tail = F.substring(fixed, -len(_MOJI_CLEAN), len(_MOJI_CLEAN))
    return docs.select(
        "doc_id",
        tail.alias("fixed_tail"),
        (tail == F.lit(_MOJI_CLEAN)).alias("repaired"),
    ).orderBy("doc_id")

