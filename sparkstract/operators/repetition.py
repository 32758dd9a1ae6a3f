"""Gopher-style repetition filters (Rae et al. 2021, §A1.1 — the standard
within-document quality rules every large corpus pipeline applies):

  * duplicate-line fraction — share of a doc's lines that are repeats of an
    earlier line (templated pages, scraped chrome)
  * top-n-gram character fraction — share of the doc's characters covered
    by its single most frequent word n-gram (spammy keyword stuffing)

Distributed shape: explode + two-level aggregation — per (doc, line/gram)
counts, then per-doc rollup. Shuffles are on (doc_id, line/gram) with
map-side partial aggregation; no window over the whole corpus, no arrays
of a document's full content in any single aggregation buffer beyond the
per-doc rollup row. Each stat has a bit-identical DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import tokens, word_grams
from .dedup import spread


def repetition_stats(docs: DataFrame, n: int = 2, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, n_lines, dup_line_frac, top_ngram, top_ngram_char_frac).
    Lines split on newline, blank lines ignored; the n-gram stat uses word
    n-grams (default bigrams) over lowercased whitespace tokens, char share
    = occurrences * len(gram) / total non-space char count. Docs shorter
    than one gram score 0 with a NULL top_ngram."""
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    lines = (
        base.select(
            "doc_id",
            F.explode(F.split(F.col("text"), "\n")).alias("line"))
        .select("doc_id", F.trim("line").alias("line"))
        .filter(F.col("line") != "")
    )
    line_stats = (
        lines.groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_lines"),
             (F.sum("c") - F.count(F.lit(1))).alias("n_dup_lines"))
        .select("doc_id", "n_lines",
                F.round(F.col("n_dup_lines") / F.col("n_lines"), 6)
                .alias("dup_line_frac"))
    )

    chars = base.select(
        "doc_id",
        F.length(F.regexp_replace(F.lower("text"), "\\s", "")).alias("n_chars"))
    gram_counts = (
        base.select("doc_id", tokens(F.lower("text")).alias("toks"))
        .select("doc_id", F.explode(word_grams(F.col("toks"), n)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # top gram per doc: max_by with a deterministic (count, gram) tie-break
    top = (
        gram_counts.groupBy("doc_id")
        .agg(F.max(F.struct(F.col("c"), F.col("gram"))).alias("t"))
        .select("doc_id", F.col("t.gram").alias("top_ngram"),
                F.col("t.c").alias("top_c"))
    )
    # chars covers every doc (a blank doc has no lines and no grams but must
    # still emit a row) — left-join the stats onto it
    return (
        chars.join(line_stats, "doc_id", "left")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
            "top_ngram",
            F.when(
                F.col("top_c").isNotNull() & (F.col("n_chars") > 0),
                F.round(F.col("top_c") *
                        F.length(F.regexp_replace("top_ngram", "\\s", "")) /
                        F.col("n_chars"), 6),
            ).otherwise(F.lit(0.0)).alias("top_ngram_char_frac"),
        )
    )

# ---------------------------------------------------------------------------
# Full Gopher / MassiveText rule set (Rae et al. 2021, table A1 — all twelve
# repetition thresholds, not just the two headline stats above)
# ---------------------------------------------------------------------------

#: (stat column, max allowed value) — a document PASSES iff every stat is
#: <= its threshold (the paper REMOVES documents exceeding any one).
GOPHER_THRESHOLDS: tuple = (
    ("dup_line_frac", 0.30),
    ("dup_line_char_frac", 0.20),
    ("dup_para_frac", 0.30),
    ("dup_para_char_frac", 0.20),
    ("top_2gram_char_frac", 0.20),
    ("top_3gram_char_frac", 0.18),
    ("top_4gram_char_frac", 0.16),
    ("dup_5gram_char_frac", 0.15),
    ("dup_6gram_char_frac", 0.14),
    ("dup_7gram_char_frac", 0.13),
    ("dup_8gram_char_frac", 0.12),
    ("dup_9gram_char_frac", 0.11),
    ("dup_10gram_char_frac", 0.10),
)


def _dup_unit_stats(base: DataFrame, split_pattern: str,
                    prefix: str) -> DataFrame:
    """(doc_id, {prefix}_frac, {prefix}_char_frac) for one unit kind.

    Units are text split on `split_pattern`, trimmed, blanks dropped. A unit
    occurring c times contributes c-1 duplicate occurrences and (c-1)*len
    duplicate characters (the repeats beyond the first — the convention the
    public Gopher reimplementations share). Shuffle is on (doc_id, unit)
    with map-side combine; the per-doc rollup buffers one row per DISTINCT
    unit of one document — the same per-doc bound as the input row."""
    units = (
        base.select("doc_id",
                    F.explode(F.split(F.col("text"), split_pattern))
                     .alias("u"))
        .select("doc_id", F.trim("u").alias("u"))
        .filter(F.col("u") != "")
    )
    per = units.groupBy("doc_id", "u").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(F.sum("c").alias("n_units"),
             F.sum(F.col("c") - 1).alias("n_dup"),
             F.sum(F.col("c") * F.length("u")).alias("chars"),
             F.sum((F.col("c") - 1) * F.length("u")).alias("dup_chars"))
        .select(
            "doc_id",
            F.round(F.col("n_dup") / F.col("n_units"), 6)
             .alias(f"{prefix}_frac"),
            F.when(F.col("chars") > 0,
                   F.round(F.col("dup_chars") / F.col("chars"), 6))
             .otherwise(F.lit(0.0)).alias(f"{prefix}_char_frac"),
        )
    )


def gopher_stats(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """One row per document with ALL twelve MassiveText repetition stats
    (Rae et al. 2021 table A1) plus the combined `gopher_pass` verdict:

      * dup_line_frac / dup_line_char_frac — lines split on newline
      * dup_para_frac / dup_para_char_frac — paragraphs split on blank lines
      * top_{2,3,4}gram_char_frac — characters of the single most frequent
        word n-gram (occurrences x its non-space length) over total token
        characters
      * dup_{5..10}gram_char_frac — characters covered by ANY word n-gram
        that occurs more than once within the doc, overlap counted ONCE
        (interval union, per the paper's "taking care not to count
        characters multiple times")

    Distributed shape (the strip_substrings playbook): within-doc gram
    counts ride ONE exchange keyed (doc_id, n, md5(gram)) — no gram text on
    the skewed key, window count instead of groupBy so start positions
    survive without an id-list buffer; coverage for all six n is SIX range
    windows over the SAME (doc_id, pos) sort — Spark plans one exchange +
    one sort for all of them; the per-doc rollup reuses that partitioning.
    Total: four doc-scoped shuffles, no corpus-wide window, no buffer
    beyond one document's distinct units. Thresholds use the ROUNDED stats
    so the DuckDB twin agrees bit-for-bit."""
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    line_stats = _dup_unit_stats(base, "\n", "dup_line")
    para_stats = _dup_unit_stats(base, "\\n\\s*\\n", "dup_para")

    # each doc's lowercase tokens, projected once (see `word_grams`)
    toks = base.select("doc_id", tokens(F.lower("text")).alias("toks"))
    # total token chars — the one denominator every n-gram stat shares
    tchars = toks.select(
        "doc_id",
        F.aggregate("toks", F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)).alias("tot"))

    # --- top n-gram char fraction, n = 2..4 (one union, one exchange) ---
    top_rows = None
    for n in (2, 3, 4):
        r = toks.select("doc_id", F.lit(n).alias("n"),
                        F.explode(word_grams(F.col("toks"), n)).alias("gram"))
        top_rows = r if top_rows is None else top_rows.unionByName(r)
    top = (
        top_rows.groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n")
        # deterministic (count, gram) tie-break, same as repetition_stats
        .agg(F.max(F.struct(F.col("c"), F.col("gram"))).alias("t"))
        .groupBy("doc_id")
        .pivot("n", [2, 3, 4])
        .agg(F.first(F.col("t.c") *
                     F.length(F.regexp_replace(F.col("t.gram"), " ", ""))))
    )

    # --- dup n-gram coverage, n = 5..10 ---
    ns = (5, 6, 7, 8, 9, 10)
    gram_rows = None
    for n in ns:
        r = toks.select(
            "doc_id", F.lit(n).alias("n"),
            F.posexplode(word_grams(F.col("toks"), n)).alias("pos", "gram"))
        gram_rows = r if gram_rows is None else gram_rows.unionByName(r)
    gram_rows = gram_rows.select(
        "doc_id", "n", "pos", F.md5("gram").alias("g"))
    w_cnt = Window.partitionBy("doc_id", "n", "g")
    hits = (gram_rows
            .withColumn("c", F.count(F.lit(1)).over(w_cnt))
            .filter(F.col("c") > 1)
            .groupBy("doc_id", "pos")
            .agg(*[F.max(F.when(F.col("n") == n, 1).otherwise(0))
                   .alias(f"hit{n}") for n in ns])
            .select("doc_id", "pos", F.lit(0).alias("len"),
                    *[f"hit{n}" for n in ns]))
    # posexplode the tokenizer itself, not "toks" by name (see word_grams)
    tok_rows = base.select(
        "doc_id", F.posexplode(tokens(F.lower("text"))).alias("pos", "tok")
    ).select("doc_id", "pos", F.length("tok").alias("len"),
             *[F.lit(0).alias(f"hit{n}") for n in ns])
    merged = tok_rows.unionByName(hits)
    covered = merged.select(
        "doc_id", "len",
        *[F.max(f"hit{n}").over(
            Window.partitionBy("doc_id").orderBy("pos")
            .rangeBetween(-(n - 1), 0)).alias(f"cov{n}") for n in ns])
    dup_cov = covered.groupBy("doc_id").agg(
        F.sum("len").alias("tok_chars"),
        *[F.sum(F.col("len") * F.col(f"cov{n}")).alias(f"dup{n}")
          for n in ns])

    out = (
        base.select("doc_id")
        .join(tchars, "doc_id", "left")
        .join(line_stats, "doc_id", "left")
        .join(para_stats, "doc_id", "left")
        .join(top, "doc_id", "left")
        .join(dup_cov, "doc_id", "left")
    )
    frac = lambda num: F.when(  # noqa: E731
        F.col("tot") > 0, F.round(num / F.col("tot"), 6)
    ).otherwise(F.lit(0.0))
    stats = out.select(
        "doc_id",
        F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
        F.coalesce("dup_line_char_frac", F.lit(0.0))
         .alias("dup_line_char_frac"),
        F.coalesce("dup_para_frac", F.lit(0.0)).alias("dup_para_frac"),
        F.coalesce("dup_para_char_frac", F.lit(0.0))
         .alias("dup_para_char_frac"),
        *[frac(F.coalesce(F.col(str(n)), F.lit(0)))
          .alias(f"top_{n}gram_char_frac") for n in (2, 3, 4)],
        *[frac(F.coalesce(F.col(f"dup{n}"), F.lit(0)))
          .alias(f"dup_{n}gram_char_frac") for n in ns],
    )
    verdict = None
    for col, thr in GOPHER_THRESHOLDS:
        ok = F.col(col) <= thr
        verdict = ok if verdict is None else (verdict & ok)
    return stats.select("*", verdict.alias("gopher_pass"))
