"""Per-step times of the benchmark's resumable_curate job.

Builds the `resumable_curate` inputs for a seed with perfbench/workloads.py
(read-only; its frozen pool is cached in .perfbench/pool, the same cache
perfbench/run.py fills), starts one default `get_spark()` session, runs the
workload's warm-up once, then runs the job `--reps` times, timing each of
its steps, which make the same calls with the same arguments as
`ResumableCurate.run`:

  run_job         plans.checkpoint.run_job into a fresh directory
  render_text     sinks.render_text of the committed spans, persisted
                  (materialized here by a count, so the steps split)
  minhash_pairs   dedup.minhash_lsh_pairs(num_hashes=8, bands=4), persisted
  curate_corpus   curate.curate_corpus(min_tokens=20, langs=("en",),
                  min_quality=0.1): the connected-components rounds
  verdict_write   the verdicts written as parquet

Every repetition's output is checked with the workload's own `check`; a
wrong output fails the script. The table gives each step's median over the
repetitions and its time on the first one, the cold run the benchmark
times.

Usage: python scripts/bench_resume.py [--seed 7] [--reps 4] [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.workloads import WORKLOADS  # noqa: E402

STEPS = ("run_job", "render_text", "minhash_pairs", "curate_corpus",
         "verdict_write")


def _run(spark, wl, path: str, out: str) -> dict[str, float]:
    """One job, step by step; returns each step's seconds."""
    from sparkstract.operators.curate import curate_corpus
    from sparkstract.operators.dedup import minhash_lsh_pairs
    from sparkstract.plans.checkpoint import run_job
    from sparkstract.sinks import render_text

    docs, media = wl._frames(spark, path)
    t = [time.perf_counter()]
    committed = run_job(spark, docs, media, out)
    t.append(time.perf_counter())
    corpus = render_text(committed).persist()
    corpus.count()
    t.append(time.perf_counter())
    pairs = minhash_lsh_pairs(corpus, num_hashes=8, bands=4).persist()
    try:
        pairs.count()
        t.append(time.perf_counter())
        verdict = curate_corpus(corpus, pairs, min_tokens=20, langs=("en",),
                                min_quality=0.1)
        t.append(time.perf_counter())
        verdict.write.parquet(os.path.join(out, "verdicts"))
        t.append(time.perf_counter())
    finally:
        pairs.unpersist()
        corpus.unpersist()
    return {s: b - a for s, a, b in zip(STEPS, t, t[1:])}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--json", help="also write the table here as JSON")
    args = ap.parse_args()

    from sparkstract.session import get_spark

    wl = WORKLOADS["resumable_curate"]
    work = os.path.join(REPO, ".perfbench")
    run_dir = os.path.join(work, f"resume-{os.getpid()}")
    path = os.path.join(run_dir, "inputs")
    spark = None
    try:
        wl.generate(args.seed, path, os.path.join(work, "pool"))
        spark = get_spark(app="bench_resume")
        spark.sparkContext.setLogLevel("ERROR")
        cores = spark.sparkContext.defaultParallelism
        wl.warmup(spark, path, os.path.join(run_dir, "warmup"))
        reps = []
        for i in range(args.reps):
            out = os.path.join(run_dir, f"out{i}")
            reps.append(_run(spark, wl, path, out))
            matched, total = wl.check(path, out)
            if matched != total:
                print(f"rep {i}: {total - matched} of {total} docs wrong",
                      file=sys.stderr)
                return 1
            shutil.rmtree(out)
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    table = {s: {"median_s": statistics.median(r[s] for r in reps),
                 "first_s": reps[0][s]} for s in STEPS}
    print(f"{'step':<16} {'median s':>9} {'first s':>9}   "
          f"(seed {args.seed}, {args.reps} reps, "
          f"{cores} cores)")
    for s, t in table.items():
        print(f"{s:<16} {t['median_s']:>9.2f} {t['first_s']:>9.2f}")
    total = {k: sum(t[k] for t in table.values()) for k in ("median_s",
                                                           "first_s")}
    print(f"{'total':<16} {total['median_s']:>9.2f} {total['first_s']:>9.2f}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"seed": args.seed, "reps": args.reps, "steps": table},
                      f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
