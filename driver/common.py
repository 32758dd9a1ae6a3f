"""The query registry and what several areas' queries share: table and
fixture access, and the DuckDB fragments of their oracles.

Float policy: every float aggregate is rounded in BOTH engines (2 dp for
large sums, 6 dp for ratios/cosines) and ranking happens AFTER rounding with
a deterministic id tie-break, so cross-engine ulp noise cannot flip hashes.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from sparkstract.fixtures.gen import build_fixtures
from sparkstract.functions import textstats as ts


class Query(NamedTuple):
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[[], str]


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | Callable[[], str]):
    """Register query `name`: the decorated function builds it on Spark, and
    `oracle` is its DuckDB twin, as SQL text or as a function that builds
    the text (twins made from fixture truth are built only when asked)."""
    def bind(build):
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is registered twice")
        REGISTRY[name] = Query(
            build, oracle if callable(oracle) else lambda: oracle)
        return build
    return bind


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


@functools.lru_cache(maxsize=1)
def fixture_set():
    return build_fixtures(seed=42)


def fixture_frames(spark: SparkSession):
    return fixture_set().to_spark(spark)


def sql_quote(v) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + str(v).replace("'", "''") + "'"


@functools.lru_cache(maxsize=1)
def truth_values_sql() -> str:
    """The extraction oracle: fixture truth as a VALUES literal (the docs
    table is deterministic, so truth is a constant relation)."""
    truth = fixture_set().truth
    rows = ",\n".join(
        f"({sql_quote(r.doc_id)}, {int(r.order)}, {sql_quote(r.kind)}, "
        f"{sql_quote(r.text) if r.text is not None else 'CAST(NULL AS VARCHAR)'}, "
        f"{sql_quote(r.media_ref) if r.media_ref is not None else 'CAST(NULL AS VARCHAR)'})"
        for r in truth.itertuples()
    )
    return (
        'SELECT * FROM (VALUES\n' + rows +
        '\n) AS t(doc_id, "order", kind, text, media_ref)'
    )


DD_TOKENS = (
    "SELECT doc_id, CASE WHEN trim(text) = '' THEN [] "
    "ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS tl "
    "FROM documents"
)
DD_HEX2LONG = (
    "list_sum(list_transform(range(1, 9), i -> "
    "CAST((strpos('0123456789abcdef', md5({v})[i]) - 1) "
    "* CAST(power(16, 8 - i) AS BIGINT) AS BIGINT)))"
)
STOP_LIST = "[" + ", ".join(f"'{w}'" for w in ts.STOPWORDS_EN) + "]"


def _lang_expr() -> str:
    # argmax with deterministic code-order tie-break, mirroring ts.lang_id:
    # later codes win only with strictly more hits
    lang_expr = "'und'"
    best_expr = "0"
    for code in sorted(ts.LANG_MARKERS):
        mk = "[" + ", ".join(f"'{w}'" for w in ts.LANG_MARKERS[code]) + "]"
        hits = f"len(list_filter(tl, x -> list_contains({mk}, x)))"
        lang_expr = f"CASE WHEN {hits} > {best_expr} THEN '{code}' ELSE {lang_expr} END"
        best_expr = f"greatest({hits}, {best_expr})"
    return lang_expr


LANG_EXPR = _lang_expr()


def dd_hexslice(v: str, start: int) -> str:
    """Hex chars [start, start+8) of md5(v) -> bigint — DuckDB twin of
    hex_slice_to_long (sketch hashing uses all four 8-char md5 slices)."""
    return (
        f"list_sum(list_transform(range({start + 1}, {start + 9}), i -> "
        f"CAST((strpos('0123456789abcdef', md5({v})[i]) - 1) "
        f"* CAST(power(16, {start + 8} - i) AS BIGINT) AS BIGINT)))"
    )


def dd_ngrams(n: int = 3) -> str:
    return (
        f"WITH toks AS ({DD_TOKENS}), "
        f"grams AS (SELECT DISTINCT doc_id, unnest(list_transform("
        f"range(0, greatest(len(tl) - {n - 1}, 0)), "
        f"i -> array_to_string(tl[CAST(i + 1 AS BIGINT):CAST(i + {n} AS BIGINT)], ' ')"
        f")) AS ngram FROM toks)"
    )



def quoted_rows(rows) -> str:
    """VALUES rows from (key, text) pairs, both quoted."""
    return ",\n".join(f"({sql_quote(k)}, {sql_quote(v)})" for k, v in rows)
