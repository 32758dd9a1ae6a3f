"""spark-submit entrypoint for the extraction job (the north rule's ship
shape: `spark-submit --py-files sparkstract.zip scripts/submit_job.py ...`).

Packaging:
    cd /root/repo && zip -qr /tmp/sparkstract.zip sparkstract
    spark-submit --py-files /tmp/sparkstract.zip scripts/submit_job.py \
        --docs  <parquet/Iceberg path: doc_id, spans array<struct<...>>> \
        --media <parquet/Iceberg path: media_ref, width, height, image> \
        --out   <output dir (bucketed atomic commits + lineage)> \
        [--groups 64] [--work-partitions 0] [--rtl] [--psm auto]

Re-running with the same --out resumes: committed bucket-groups are skipped
via the lineage anti-join (plans/checkpoint.py), so a killed job continues
from the last committed snapshot — no duplicate or missing docs.

On a real cluster no --master is passed (the cluster manager provides it);
locally the driver defaults to local[*].
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser(description="sparkstract extraction job")
    p.add_argument("--docs", required=True, help="input docs table path")
    p.add_argument("--media", required=True, help="media side-table path")
    p.add_argument("--out", required=True, help="output dir (commit + lineage)")
    p.add_argument("--groups", type=int, default=64,
                   help="bucket groups (doc_id hash buckets): the run makes "
                   "one extraction and one write, then commits each group "
                   "atomically; a rerun skips the committed groups")
    p.add_argument("--work-partitions", type=int, default=0,
                   help="salted (doc_id, offset) partitions; "
                   "0 = one per core slot (defaultParallelism)")
    p.add_argument("--rtl", action="store_true", help="right-to-left pages")
    p.add_argument("--psm", default="auto",
                   choices=["auto", "single_column", "single_block", "single_line"])
    p.add_argument("--no-recognize", action="store_true",
                   help="layout-only (AnalyseLayout slice)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from sparkstract.config import ExtractConfig
    from sparkstract.plans.checkpoint import run_job

    spark = (SparkSession.builder.appName("sparkstract-extract")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.docs)
    media = spark.read.parquet(args.media)
    cfg = ExtractConfig(work_partitions=args.work_partitions,
                        recognize=not args.no_recognize,
                        rtl=args.rtl, psm=args.psm)
    result = run_job(spark, docs, media, args.out, cfg, n_groups=args.groups)
    n = result.count()
    print(f"committed {n} spans to {args.out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
