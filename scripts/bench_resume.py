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
times, and next to them the Spark jobs, stages and tasks the step ran on
that first repetition (each step runs under its own job group, counted
from the status tracker; skipped stages are not counted).

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


def _work(sc, group: str) -> dict[str, int]:
    """Jobs, stages run and tasks run under one job group."""
    st = sc.statusTracker()
    jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
    stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
    ran = [s for s in stages if s and s.numCompletedTasks]
    return {"jobs": len(jobs), "stages": len(ran),
            "tasks": sum(s.numCompletedTasks for s in ran)}


def _run(spark, wl, path: str, out: str, rep: int) -> tuple[dict, dict]:
    """One job, step by step; returns each step's seconds and its Spark
    work (jobs, stages, tasks)."""
    from sparkstract.operators.curate import curate_corpus
    from sparkstract.operators.dedup import minhash_lsh_pairs
    from sparkstract.plans.checkpoint import run_job
    from sparkstract.sinks import render_text

    sc = spark.sparkContext
    steps = iter(STEPS)

    def step():
        """Stamp the time and open the next step's job group."""
        t.append(time.perf_counter())
        name = next(steps, None)
        if name:
            sc.setJobGroup(f"rep{rep}-{name}", name)

    docs, media = wl._frames(spark, path)
    t: list[float] = []
    step()
    committed = run_job(spark, docs, media, out)
    step()
    corpus = render_text(committed).persist()
    corpus.count()
    step()
    pairs = minhash_lsh_pairs(corpus, num_hashes=8, bands=4).persist()
    try:
        pairs.count()
        step()
        verdict = curate_corpus(corpus, pairs, min_tokens=20, langs=("en",),
                                min_quality=0.1)
        step()
        verdict.write.parquet(os.path.join(out, "verdicts"))
        step()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        pairs.unpersist()
        corpus.unpersist()
    return ({s: b - a for s, a, b in zip(STEPS, t, t[1:])},
            {s: _work(sc, f"rep{rep}-{s}") for s in STEPS})


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
        reps, work = [], None
        for i in range(args.reps):
            out = os.path.join(run_dir, f"out{i}")
            secs, w = _run(spark, wl, path, out, i)
            reps.append(secs)
            work = work or w
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
                 "first_s": reps[0][s], **work[s]} for s in STEPS}
    print(f"{'step':<16} {'median s':>9} {'first s':>9} {'jobs':>5} "
          f"{'stages':>6} {'tasks':>6}   (seed {args.seed}, {args.reps} "
          f"reps, {cores} cores; work of the first rep)")
    cols = ("median_s", "first_s", "jobs", "stages", "tasks")
    for s, t in {**table, "total": {k: sum(t[k] for t in table.values())
                                    for k in cols}}.items():
        print(f"{s:<16} {t['median_s']:>9.2f} {t['first_s']:>9.2f} "
              f"{t['jobs']:>5} {t['stages']:>6} {t['tasks']:>6}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"seed": args.seed, "reps": args.reps, "steps": table},
                      f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
