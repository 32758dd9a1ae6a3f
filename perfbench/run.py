"""The sparkstract benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:

  1. builds the workload's inputs for the seed from its frozen page pool
     (rendered into .perfbench/pool by the first run in a checkout);
  2. sets up three times - `get_spark()` plus one warm-up job on a small
     slice, the first with a cold JVM, the others restarting the context in
     it - and reports the median as `setup_s`;
  3. runs the timed job in a closed loop, one at a time, starting another
     only if it should end inside `--seconds` (at least one runs), and
     checks every output; a raised or wrong job is a failed attempt and is
     not timed;
  4. prints one summary line per metric, then the result as one JSON line.

`--trace 0` reports the end-to-end metrics. `--trace 1` turns on the Spark
event log and the worker-side span hook (perfbench/hook) and reports the
per-layer metrics instead; its timed jobs alternate untraced and traced, and
`trace.overhead_s` is the difference of their medians.

The program runs as a user runs it: default `get_spark()` (local[*]), the
default `ExtractConfig()`, no SPARKSTRACT_* variables. The environment is
only pointed at this checkout: Spark's local and temp directories and, when
tracing, the event log live in .perfbench/run-<pid>, removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3


def _configure(run_dir: str, trace: bool) -> None:
    """Environment for the JVM and workers this run starts. Must run before
    the first `get_spark`: spark-submit reads it when it launches the JVM."""
    for key in list(os.environ):
        if key.startswith("SPARKSTRACT_") or key == "SPARK_GRAFT_CPUS":
            del os.environ[key]
    conf = os.path.join(run_dir, "conf")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (conf, tmp, local):
        os.makedirs(d)
    lines = ["spark.ui.showConsoleProgress false"]
    if trace:
        events = os.path.join(run_dir, "eventlog")
        spans = os.path.join(run_dir, "spans")
        os.makedirs(events)
        os.makedirs(spans)
        # Spark 4 compresses event logs with zstd by default
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{events}",
                  "spark.eventLog.compress false"]
        os.environ["PERFBENCH_SPANS"] = spans
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (os.path.join(HERE, "hook"),
                        os.environ.get("PYTHONPATH")) if p)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # both JVMs spark-submit starts (launcher and Spark) keep out of /tmp
    for key in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[key] = " ".join(
            p for p in (os.environ.get(key), f"-Djava.io.tmpdir={tmp}",
                        "-XX:-UsePerfData") if p)


def _session():
    from sparkstract.session import get_spark

    spark = get_spark(app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the context, then the JVM: it exits when its stdin closes."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def _reap() -> None:
    """Wait up to 30 s for every process this run started to end, then
    kill the stragglers."""
    from procstat import tree

    me = os.getpid()
    deadline = time.monotonic() + 30
    sig = signal.SIGTERM
    while True:
        left = [p for p in tree(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sig = signal.SIGKILL
            deadline = time.monotonic() + 5
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _setup(wl, path: str, run_dir: str) -> tuple:
    """SETUPS set-ups; returns (spark, seconds each, cold session start,
    cold first job)."""
    spark, times = None, []
    start_s = first_task_s = 0.0
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session()
        t1 = time.perf_counter()
        wl.warmup(spark, path, os.path.join(run_dir, "out", f"warmup{i}"))
        times.append(time.perf_counter() - t0)
        if i == 0:
            start_s, first_task_s = t1 - t0, time.perf_counter() - t1
    return spark, times, start_s, first_task_s


def _output_stats(out: str) -> tuple[int, int, int]:
    """(bytes, parquet files, committed groups) the job left in `out`."""
    size = files = 0
    for d, _, fs in os.walk(out):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, f))
                files += 1
    lineage = os.path.join(out, "_lineage")
    groups = len([f for f in os.listdir(lineage) if f.endswith(".json")]) \
        if os.path.isdir(lineage) else 0
    return size, files, groups


def _measure(spark, wl, path: str, run_dir: str, seconds: float,
             trace: bool) -> list[dict]:
    """Closed loop of timed jobs; one record per attempt."""
    from procstat import PeakRss, cpu_seconds, tree
    from layertrace import TAG

    me = os.getpid()
    sc = spark.sparkContext
    attempts: list[dict] = []
    t_end = time.perf_counter() + seconds
    while True:
        tag = f"t{len(attempts) + 1}"
        traced = trace and len(attempts) % 2 == 1
        sc.setLocalProperty(TAG, tag if traced else None)
        out = os.path.join(run_dir, "out", tag)
        rec = dict(tag=tag, traced=traced, ok=False, matched=0,
                   total=wl.n_docs, layers={})
        cpu0 = cpu_seconds(tree(me))
        with PeakRss(me) as rss:
            t0 = time.perf_counter()
            try:
                rec["layers"] = wl.run(spark, path, out)
                raised = False
            except Exception:  # noqa: BLE001 - a failed attempt is data
                traceback.print_exc()
                raised = True
            rec["job_s"] = time.perf_counter() - t0
        rec["cpu_s"] = cpu_seconds(tree(me)) - cpu0
        rec["rss"] = rss.peak
        sc.setLocalProperty(TAG, None)
        if not raised:
            rec["out_bytes"], rec["files"], rec["groups"] = _output_stats(out)
            try:
                rec["matched"], rec["total"] = wl.check(path, out)
                rec["ok"] = rec["matched"] == rec["total"]
            except Exception:  # noqa: BLE001 - unreadable output is wrong
                traceback.print_exc()
        shutil.rmtree(out, ignore_errors=True)
        attempts.append(rec)
        # start another job only if it should end inside the window
        kinds = {a["traced"] for a in attempts if a["ok"]}
        if time.perf_counter() + rec["job_s"] > t_end and \
                (not trace or len(kinds) == 2):
            return attempts


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _end_to_end(wl, path: str, attempts: list[dict], setups: list[float]
                ) -> dict:
    ok = [a for a in attempts if a["ok"]]
    job_s = _median([a["job_s"] for a in ok])
    return {
        "setup_s": _median(setups),
        "job_s": job_s,
        "docs_per_s": wl.n_docs / job_s if job_s else 0.0,
        "span_exact_match": (sum(a["matched"] for a in attempts)
                             / sum(a["total"] for a in attempts)),
        "cpu_s": _median([a["cpu_s"] for a in ok]),
        "write_amp": (_median([a["out_bytes"] for a in ok])
                      / wl.input_bytes(path)),
    }


def _per_layer(run_dir: str, attempts: list[dict], cores: int,
               start_s: float, first_task_s: float) -> dict:
    """Medians over the traced jobs; 0 for a layer the workload skips."""
    import layertrace as tr

    stages = tr.stage_layers(tr.read_events(os.path.join(run_dir, "eventlog")))
    spans = tr.spans_by_tag(tr.read_spans(os.path.join(run_dir, "spans")))
    ok = [a for a in attempts if a["ok"]]
    per_job = []
    for a in ok:
        if a["traced"]:
            m = tr.pipeline_metrics(stages.get(a["tag"], []), a["job_s"], cores)
            m.update(tr.span_metrics(spans.get(a["tag"], [])))
            m.update(a["layers"])
            m["checkpoint.groups"] = a["groups"]
            m["checkpoint.files_written"] = a["files"]
            per_job.append(m)
    out = {k: _median([m[k] for m in per_job if k in m]) for k in
           set().union(*per_job)}
    # the JVM heap grows with GC timing, so this spreads too much between
    # runs to bound; it is reported here, unbounded
    out["peak_rss_mb"] = _median([a["rss"] for a in ok if a["traced"]]) / 2**20
    out["session.start_s"] = start_s
    out["session.first_task_s"] = first_task_s
    out["trace.overhead_s"] = (
        _median([a["job_s"] for a in ok if a["traced"]])
        - _median([a["job_s"] for a in ok if not a["traced"]]))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [ROOT]
    if importlib.util.find_spec("sparkstract") is None:
        print(f"perfbench: no sparkstract package under {ROOT}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    os.chdir(ROOT)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    spark = None
    try:
        _configure(run_dir, trace)
        path = os.path.join(run_dir, "inputs")
        wl.generate(args.seed, path, os.path.join(work, "pool"))
        spark, setups, start_s, first_task_s = _setup(wl, path, run_dir)
        cores = spark.sparkContext.defaultParallelism
        attempts = _measure(spark, wl, path, run_dir, args.seconds, trace)
        _shutdown(spark)  # flushes the event log
        spark = None
        if trace:
            metrics = _per_layer(run_dir, attempts, cores, start_s,
                                 first_task_s)
        else:
            metrics = _end_to_end(wl, path, attempts, setups)
    finally:
        try:
            _shutdown(spark)
        finally:
            _reap()
            shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    report = {m["name"]: (metrics.get(m["name"], 0.0), m["unit"]) for m in spec}
    failed = sum(not a["ok"] for a in attempts)
    for name, (value, unit) in report.items():
        print(f"{args.workload:16s} {name:28s} {value:14.6f} {unit}")
    job = [a["job_s"] for a in attempts if a["ok"]]
    print(f"{args.workload:16s} job_s samples n={len(job)} "
          f"{[round(x, 3) for x in job]} failed_share="
          f"{failed / len(attempts):.4f} cores={cores}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(attempts),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in report.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
