"""Parsers for the traced run: the Spark event log and the worker span files.

Both key their records by the timed job's tag, the local property
`perfbench.span` the benchmark sets before each traced job.

  event log  -> pipeline.*, checkpoint.*, sources.*   (per tag)
  span files -> decode.*, analysis.*                  (per tag)

`python3 perfbench/layertrace.py` runs the self-test on the recorded samples in
perfbench/samples/.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

TAG = "perfbench.span"
CODECS = ("png", "tiff", "pnm", "bmp", "gif", "ico", "jpeg", "webp", "jp2",
          "pdf")


def _jsonl(paths) -> list[dict]:
    out = []
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:  # a line cut by a killed writer
                    pass
    return out


def read_events(eventlog_dir: str) -> list[dict]:
    """Every event of every application under `eventlog_dir` (Spark writes
    one `eventlog_v2_<app>/events_<n>_<app>` directory per context)."""
    return _jsonl(sorted(glob.glob(os.path.join(eventlog_dir, "**", "events_*"),
                                   recursive=True)))


def read_spans(spans_dir: str) -> list[dict]:
    return _jsonl(sorted(glob.glob(os.path.join(spans_dir, "*.jsonl"))))


def _scopes(stage_info: dict) -> set[str]:
    out = set()
    for rdd in stage_info.get("RDD Info", []):
        if rdd.get("Scope"):
            out.add(json.loads(rdd["Scope"])["name"])
    return out


def stage_layers(events: list[dict]) -> dict[str, dict]:
    """Per tag: the completed stages of its jobs, each with its operator
    scopes, wall seconds and per-task run seconds and bytes."""
    tag_of: dict[tuple, str] = {}
    stages: dict[tuple, dict] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageSubmitted":
            tag = (ev.get("Properties") or {}).get(TAG)
            si = ev["Stage Info"]
            if tag:
                tag_of[(si["Stage ID"], si["Stage Attempt ID"])] = tag
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            if key in tag_of:
                st = stages.setdefault(key, dict(tasks=[]))
                st.update(scopes=_scopes(si),
                          wall_s=(si["Completion Time"]
                                  - si["Submission Time"]) / 1000)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            m = ev.get("Task Metrics")
            if key in tag_of and m:
                stages.setdefault(key, dict(tasks=[]))["tasks"].append(dict(
                    run_s=m["Executor Run Time"] / 1000,
                    shuffle=m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    read=m["Input Metrics"]["Bytes Read"],
                    written=m["Output Metrics"]["Bytes Written"]))
    out: dict[str, list] = {}
    for key, st in stages.items():
        if "scopes" in st:
            out.setdefault(tag_of[key], []).append(st)
    return out


def pipeline_metrics(stages: list[dict], job_s: float, cores: int) -> dict:
    """pipeline.* / sources.* / checkpoint.* for one tagged job."""
    kernel = [t["run_s"] for s in stages if "MapInPandas" in s["scopes"]
              for t in s["tasks"]]
    k_sum, k_max = sum(kernel), max(kernel, default=0.0)
    tasks = [t for s in stages for t in s["tasks"]]
    scans = [s for s in stages if any(t["read"] for t in s["tasks"])]
    writes = [s for s in stages if any(t["written"] for t in s["tasks"])]
    return {
        "pipeline.kernel_tasks": len(kernel),
        "pipeline.kernel_task_s_sum": k_sum,
        "pipeline.kernel_task_s_max": k_max,
        "pipeline.kernel_skew": k_max / (k_sum / len(kernel)) if kernel else 0.0,
        "pipeline.parallel_eff": k_sum / (job_s * cores),
        "pipeline.shuffle_bytes": sum(t["shuffle"] for t in tasks),
        "pipeline.reassembly_s": sum(s["wall_s"] for s in stages
                                     if "Window" in s["scopes"]),
        "pipeline.overhead_s": job_s - k_max,
        "sources.scan_s": sum(s["wall_s"] for s in scans),
        "sources.scan_bytes": sum(t["read"] for t in tasks),
        "checkpoint.bytes_written": sum(t["written"] for t in tasks),
        "checkpoint.write_s": sum(s["wall_s"] for s in writes),
    }


def span_metrics(spans: list[dict]) -> dict:
    """decode.* / analysis.* for the spans of one tagged job."""
    dec = [s for s in spans if s["layer"] == "decode"]
    ana = [s for s in spans if s["layer"] == "analysis"]
    ana_ms = [s["s"] * 1000 for s in ana]
    out = {
        "decode.calls": len(dec),
        "decode.s": sum(s["s"] for s in dec),
        "decode.errors": sum(s["err"] for s in dec),
        "analysis.calls": len(ana),
        "analysis.s": sum(s["s"] for s in ana),
        "analysis.ms_p50": statistics.median(ana_ms) if ana_ms else 0.0,
        "analysis.ms_max": max(ana_ms, default=0.0),
    }
    for codec in CODECS:
        per_page = [s["s"] * 1000 / s["pages"] for s in dec
                    if s["codec"] == codec and s["pages"]]
        out[f"decode.ms.{codec}"] = (statistics.median(per_page)
                                     if per_page else 0.0)
    return out


def spans_by_tag(spans: list[dict]) -> dict[str, list]:
    out: dict[str, list] = {}
    for s in spans:
        out.setdefault(s["job"], []).append(s)
    return out


def _selftest() -> None:
    here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "samples")
    stages = stage_layers(read_events(os.path.join(here, "eventlog")))
    assert sorted(stages) == ["t1"], sorted(stages)
    m = pipeline_metrics(stages["t1"], job_s=2.0, cores=4)
    want = {
        "pipeline.kernel_tasks": 5,
        "pipeline.kernel_task_s_sum": 1.212,
        "pipeline.kernel_task_s_max": 0.857,
        "pipeline.shuffle_bytes": 6021,
        "pipeline.reassembly_s": 1.11,
        "sources.scan_bytes": 35722,
        "checkpoint.bytes_written": 3138,
        "checkpoint.write_s": 1.11,
    }
    for k, v in want.items():
        assert abs(m[k] - v) < 1e-9, (k, m[k], v)
    assert abs(m["pipeline.overhead_s"] - (2.0 - 0.857)) < 1e-9
    assert abs(m["pipeline.parallel_eff"] - 1.212 / 8) < 1e-9

    spans = spans_by_tag(read_spans(os.path.join(here, "spans")))
    assert sorted(spans) == ["t1"], sorted(spans)
    s = span_metrics(spans["t1"])
    assert s["decode.calls"] == 12 and s["analysis.calls"] == 12, s
    assert s["decode.errors"] == 0
    assert s["decode.ms.jpeg"] > s["decode.ms.png"] > 0
    assert s["decode.ms.webp"] == 0.0
    print("trace self-test ok")


if __name__ == "__main__":
    _selftest()
