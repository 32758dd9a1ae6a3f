"""Resumable job runner: bucketed commits + lineage + metrics.

North-rule requirement: "resumable from checkpoint with per-partition lineage
+ metrics". In production this is Iceberg: each bucket-group's results, its
lineage row, and its metric row commit in ONE snapshot, and resume anti-joins
committed lineage. This container has no Iceberg runtime jars, so we
implement the same protocol over a parquet directory with POSIX-atomic
rename as the commit primitive — the seam to swap in Iceberg `MERGE INTO` is
`_commit_group`.

The reference's closest analog is per-page retry + the progress monitor
(ProcessPages retry_config, /root/reference/include/tesseract/baseapi.h:732;
ETEXT_DESC deadline, include/tesseract/ocrclass.h) — it can *skip* a failed
page but cannot resume a killed run; resumability is what the 10^12-doc scale
adds on top.

Layout:
  out_dir/data/group=<g>/...parquet   results for bucket group g
  out_dir/_lineage/group-<g>.json     commit record (rename = atomic commit)
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ExtractConfig
from .pipeline import extract


class InjectedFailure(RuntimeError):
    """Raised by the test failpoint to simulate a killed job."""


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def committed_groups(out_dir: str) -> dict[int, dict]:
    lin_dir = os.path.join(out_dir, "_lineage")
    out: dict[int, dict] = {}
    if not os.path.isdir(lin_dir):
        return out
    for name in sorted(os.listdir(lin_dir)):
        if name.startswith("group-") and name.endswith(".json"):
            with open(os.path.join(lin_dir, name)) as f:
                rec = json.load(f)
            out[rec["group"]] = rec
    return out


def _commit_group(result: DataFrame, out_dir: str, run_id: str, group: int) -> None:
    """Write one bucket-group's results + lineage atomically.

    Metrics are computed FROM the written files, not from the logical plan —
    running an aggregate on `result` before writing would execute the whole
    extraction twice per group (once for the agg, once for the write).

    Iceberg seam: replace with a single transaction appending the data files,
    the lineage row, and the metrics row to three tables in one snapshot.
    """
    data_dir = os.path.join(out_dir, "data", f"group={group}")
    tmp_dir = os.path.join(out_dir, "_tmp", f"{group}-{uuid.uuid4().hex}")
    result.write.mode("overwrite").parquet(tmp_dir)
    stats = result.sparkSession.read.parquet(tmp_dir).agg(
        F.countDistinct("doc_id").alias("docs"),
        F.count(F.lit(1)).alias("spans_out"),
        F.sum((F.col("kind") != "text").cast("long")).alias("extracted_spans"),
    ).collect()[0]
    metrics = dict(docs=stats["docs"] or 0, spans_out=stats["spans_out"] or 0,
                   extracted_spans=int(stats["extracted_spans"] or 0))
    if os.path.isdir(data_dir):
        shutil.rmtree(data_dir)  # leftover from a killed, uncommitted attempt
    os.makedirs(os.path.dirname(data_dir), exist_ok=True)
    os.rename(tmp_dir, data_dir)

    lin_dir = os.path.join(out_dir, "_lineage")
    os.makedirs(lin_dir, exist_ok=True)
    rec = dict(run_id=run_id, group=group, committed_at=time.time(), **metrics)
    tmp = os.path.join(lin_dir, f".group-{group}.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.rename(tmp, os.path.join(lin_dir, f"group-{group}.json"))  # THE commit


def run_job(spark: SparkSession, docs: DataFrame, media: DataFrame,
            out_dir: str, cfg: ExtractConfig | None = None,
            run_id: str | None = None, n_groups: int = 8,
            fail_after_groups: int | None = None) -> DataFrame:
    """Extract all docs into out_dir with per-group commits; resume-safe.

    Re-invoking on the same out_dir skips committed groups (exactly-once per
    doc: buckets partition doc_ids). Returns the full committed result.

    Scan discipline: `pmod(xxhash64(doc_id))` filters do NOT prune a plain
    parquet scan, so a naive loop re-reads the full input once per group —
    an n_groups× read tax at 100 TB. Two defenses, layered:
      * on Iceberg, set n_groups equal to (a divisor of) the table's
        `bucket(N, doc_id)` partition-spec count (sources/docs.py DDL uses
        1024) and the same hash — the group filter then IS partition
        pruning and each group scans only its own files;
      * here (plain parquet, no bucketing metadata) an input of at most
        1024 partitions is persisted once and every group filter reads the
        cached blocks, so it is scanned exactly once regardless of n_groups.

    A wider input is not cached: caching the FULL corpus at 100 TB would
    exhaust executor disk, and at that scale the Iceberg bucket-pruning
    path above is the scan defense, not the cache.
    """
    cfg = cfg or ExtractConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    done = committed_groups(out_dir)
    shutil.rmtree(os.path.join(out_dir, "_tmp"), ignore_errors=True)

    persist_input = docs.rdd.getNumPartitions() <= 1024
    bucketed = docs.withColumn("_grp", _bucket_col(n_groups))
    if persist_input:
        bucketed = bucketed.persist()
    try:
        committed_count = 0
        for g in range(n_groups):
            if g in done:
                continue
            sub = bucketed.filter(F.col("_grp") == g).drop("_grp")
            result = extract(spark, sub, media, cfg)
            _commit_group(result, out_dir, run_id, g)
            committed_count += 1
            if fail_after_groups is not None and committed_count >= fail_after_groups:
                raise InjectedFailure(
                    f"injected failure after {committed_count} groups")
    finally:
        if persist_input:
            bucketed.unpersist()

    return read_result(spark, out_dir)


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read only lineage-committed groups (uncommitted dirs are invisible,
    like uncommitted Iceberg data files)."""
    done = committed_groups(out_dir)
    paths = [os.path.join(out_dir, "data", f"group={g}") for g in sorted(done)]
    if not paths:
        return spark.createDataFrame(
            [], "doc_id string, order int, kind string, text string, media_ref string")
    return spark.read.parquet(*paths)


def lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    recs = list(committed_groups(out_dir).values())
    if not recs:
        return spark.createDataFrame(
            [], "run_id string, group int, committed_at double, docs long, "
                "spans_out long, extracted_spans long")
    return spark.createDataFrame(recs)
