"""Table I/O for the docs / media / spans tables.

Production target is Iceberg (north rule): the docs table partitioned by
`bucket(N, doc_id)` so resume groups and the reassembly shuffle align with
storage, media bucketed by `media_ref`. This sandbox has no Iceberg runtime
jars, so the same shapes run on parquet; `ICEBERG_DDL` documents the intended
DDL verbatim and the checkpoint module notes the commit seam.

Reference parity: SetImage/ProcessPages ingest (S1/S2, SURVEY.md §2.1,
/root/reference/src/api/baseapi.cpp:881,1731) — Spark's reader + this module
replace the reference's file loop and DocumentCache (imagedata.h:288).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)
MEDIA_SCHEMA = "media_ref string, width int, height int, image binary"

ICEBERG_DDL = {
    "docs": """
        CREATE TABLE docs (
          doc_id STRING,
          spans ARRAY<STRUCT<kind: STRING, text: STRING,
                             media_ref: STRING, offset: INT>>)
        USING iceberg
        PARTITIONED BY (bucket(1024, doc_id))
    """,
    "media": """
        CREATE TABLE media (
          media_ref STRING, width INT, height INT, image BINARY)
        USING iceberg
        PARTITIONED BY (bucket(4096, media_ref))
    """,
    "spans_out": """
        CREATE TABLE spans_out (
          doc_id STRING, order INT, kind STRING, text STRING, media_ref STRING)
        USING iceberg
        PARTITIONED BY (bucket(1024, doc_id))
    """,
}


def write_docs(docs: DataFrame, path: str) -> None:
    docs.write.mode("overwrite").parquet(path)


def read_docs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(DOCS_SCHEMA).parquet(path)


def read_media(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(MEDIA_SCHEMA).parquet(path)
