"""Resumable job runner: bucketed commits + lineage + metrics.

North-rule requirement: "resumable from checkpoint with per-partition lineage
+ metrics". In production this is Iceberg: a run writes its data files once,
then each bucket group's files, lineage row and metric row commit in ONE
snapshot, and resume anti-joins committed lineage. Without an Iceberg
runtime the same protocol runs over a parquet directory: one `partitionBy`
write is staged, and a POSIX-atomic rename per group is the commit — the
seam to swap in Iceberg `MERGE INTO` is `_commit_group`.

The reference's closest analog is per-page retry + the progress monitor
(ProcessPages retry_config, /root/reference/include/tesseract/baseapi.h:732;
ETEXT_DESC deadline, include/tesseract/ocrclass.h) — it can *skip* a failed
page but cannot resume a killed run; resumability is what the 10^12-doc scale
adds on top.

Layout:
  out_dir/data/group=<g>/...parquet   results for bucket group g
  out_dir/_lineage/group-<g>.json     commit record (rename = atomic commit)
  out_dir/_tmp/<uuid>/_grp=<g>/       a run's staged, uncommitted output
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


def _commit_group(staged: str, out_dir: str, run_id: str, group: int,
                  metrics: dict) -> None:
    """Move one group's staged files into place, then record its lineage.
    Iceberg seam: replace with a single transaction appending the data files,
    the lineage row, and the metrics row to three tables in one snapshot."""
    data_dir = os.path.join(out_dir, "data", f"group={group}")
    if os.path.isdir(data_dir):
        shutil.rmtree(data_dir)  # leftover from a killed, uncommitted attempt
    os.makedirs(os.path.dirname(data_dir), exist_ok=True)
    os.rename(staged, data_dir)

    lin_dir = os.path.join(out_dir, "_lineage")
    os.makedirs(lin_dir, exist_ok=True)
    rec = dict(run_id=run_id, group=group, committed_at=time.time(), **metrics)
    tmp = os.path.join(lin_dir, f".group-{group}.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.rename(tmp, os.path.join(lin_dir, f"group-{group}.json"))  # THE commit


def _group_metrics(spark: SparkSession, stage: str) -> dict[int, dict]:
    """Every staged group's metrics in ONE aggregate over the written files
    (aggregating the plan instead would run the extraction twice)."""
    rows = spark.read.parquet(stage).groupBy("_grp").agg(
        F.countDistinct("doc_id").alias("docs"),
        F.count(F.lit(1)).alias("spans_out"),
        F.sum((F.col("kind") != "text").cast("long")).alias("extracted_spans"),
    ).collect()
    return {r["_grp"]: dict(docs=r["docs"], spans_out=r["spans_out"],
                            extracted_spans=r["extracted_spans"])
            for r in rows}


def run_job(spark: SparkSession, docs: DataFrame, media: DataFrame,
            out_dir: str, cfg: ExtractConfig | None = None,
            run_id: str | None = None, n_groups: int = 8,
            fail_after_groups: int | None = None) -> DataFrame:
    """Extract all docs into out_dir with per-group commits; resume-safe.

    Re-invoking on the same out_dir skips committed groups (exactly-once per
    doc: buckets partition doc_ids). Returns the full committed result.

    Scan discipline: one run is one extraction and one write. ONE `extract`
    runs over the docs of the pending groups; its output is written once,
    `partitionBy` group, into a staging directory; one aggregate over the
    staged files gives every group's metrics; then the groups commit in
    ascending order. The input is scanned once and the kernel stage runs
    once, whatever n_groups is. On Iceberg, set n_groups to (a divisor of)
    the table's `bucket(N, doc_id)` partition count (sources/docs.py DDL
    uses 1024) with the same hash: the pending-group filter is then
    partition pruning, and a resumed run reads only uncommitted groups.

    Trade-off: a kill during the single write loses that run's uncommitted
    work, and at most that (a kill between commits keeps the committed
    groups). Bound the work at risk by the input a run is given.
    """
    cfg = cfg or ExtractConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    shutil.rmtree(os.path.join(out_dir, "_tmp"), ignore_errors=True)
    pending = sorted(set(range(n_groups)) - set(committed_groups(out_dir)))
    if not pending:
        return read_result(spark, out_dir)

    result = extract(spark, docs.filter(_bucket_col(n_groups).isin(pending)),
                     media, cfg)
    stage = os.path.join(out_dir, "_tmp", uuid.uuid4().hex)
    result.withColumn("_grp", _bucket_col(n_groups)) \
        .write.partitionBy("_grp").parquet(stage)
    staged = {g: os.path.join(stage, f"_grp={g}") for g in pending}
    empty = [g for g in pending if not os.path.isdir(staged[g])]
    if empty:  # Spark writes no directory for a group without rows
        spark.createDataFrame([], result.schema).write.parquet(staged[empty[0]])
        for g in empty[1:]:
            shutil.copytree(staged[empty[0]], staged[g])
    metrics = _group_metrics(spark, stage)
    for k, g in enumerate(pending, 1):
        _commit_group(staged[g], out_dir, run_id, g, metrics.get(
            g, dict(docs=0, spans_out=0, extracted_spans=0)))
        if fail_after_groups is not None and k >= fail_after_groups:
            raise InjectedFailure(f"injected failure after {k} groups")
    shutil.rmtree(stage, ignore_errors=True)
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
