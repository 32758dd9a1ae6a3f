"""Worker-side layer spans for the traced benchmark run.

`perfbench/run.py --trace 1` puts this directory on the PYTHONPATH of the
Spark JVM, so every PySpark worker imports this module at start-up. It
installs an import hook that wraps the page kernel's layer entry points as
their modules load:

  decode    sparkstract.functions.codecs.decode_pages
            sparkstract.functions.pdf.parse_pdf
  analysis  sparkstract.plans.pipeline.analyse_page   (the name the kernel binds)
            sparkstract.functions.pdf.blocks_from_pdf_page

A call records a span only inside a task whose job carries the local
property `perfbench.span` (its value tags the timed job), so untraced jobs
of the same session run unrecorded. Spans are appended to
`$PERFBENCH_SPANS/spans-<pid>.jsonl` and flushed per call: forked PySpark
workers leave through `os._exit`, so nothing buffered until exit survives.
"""

from __future__ import annotations

import importlib.abc
import importlib.machinery
import json
import os
import sys
import time

_DIR = os.environ.get("PERFBENCH_SPANS")

# module -> [(attribute, layer)]
_TARGETS = {
    "sparkstract.functions.codecs": [("decode_pages", "decode")],
    "sparkstract.functions.pdf": [("parse_pdf", "decode"),
                                  ("blocks_from_pdf_page", "analysis")],
    "sparkstract.plans.pipeline": [("analyse_page", "analysis")],
}


def sniff(data) -> str:
    """Codec name from magic bytes, in the order the decoder dispatches."""
    head = bytes(data[:12])
    if head[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if head[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if head[:1] == b"P" and head[1:2] in (b"1", b"2", b"3", b"4", b"5", b"6"):
        return "pnm"
    if head[:2] == b"BM":
        return "bmp"
    if head[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if head[:4] == b"GIF8":
        return "gif"
    if head[:4] == b"RIFF" and head[8:12] == b"WEBP":
        return "webp"
    if head[4:8] == b"jP  " or head[:4] == b"\xff\x4f\xff\x51":
        return "jp2"
    if head[:5] == b"%PDF-":
        return "pdf"
    if head[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00"):
        return "ico"
    return "other"


class _Sink:
    """One append-only span file per worker process (pids change on fork)."""

    def __init__(self, directory: str):
        self.directory = directory
        self.pid = None
        self.f = None

    def write(self, rec: dict) -> None:
        pid = os.getpid()
        if pid != self.pid:
            self.pid = pid
            self.f = open(os.path.join(self.directory, f"spans-{pid}.jsonl"),
                          "a", buffering=1)
        self.f.write(json.dumps(rec) + "\n")


def _job_tag():
    from pyspark.taskcontext import TaskContext

    ctx = TaskContext.get()
    return ctx.getLocalProperty("perfbench.span") if ctx is not None else None


def _wrap(fn, layer: str, sink: _Sink):
    name = fn.__name__

    def traced(*args, **kwargs):
        tag = _job_tag()
        if not tag:
            return fn(*args, **kwargs)
        codec = sniff(args[0]) if layer == "decode" else None
        pages, err = 0, 0
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            pages = len(out) if layer == "decode" else 1
            return out
        except Exception:
            err = 1
            raise
        finally:
            sink.write({"job": tag, "layer": layer, "fn": name,
                        "codec": codec, "pages": pages,
                        "s": time.perf_counter() - t0, "err": err})

    return traced


class _PatchingFinder(importlib.abc.MetaPathFinder):
    def __init__(self, sink: _Sink):
        self.sink = sink

    def find_spec(self, name, path, target=None):
        if name not in _TARGETS:
            return None
        spec = importlib.machinery.PathFinder.find_spec(name, path)
        if spec is None or spec.loader is None:
            return None
        exec_module = spec.loader.exec_module

        def exec_and_patch(module):
            exec_module(module)
            for attr, layer in _TARGETS[name]:
                setattr(module, attr,
                        _wrap(getattr(module, attr), layer, self.sink))

        spec.loader.exec_module = exec_and_patch
        return spec


if _DIR:
    sys.meta_path.insert(0, _PatchingFinder(_Sink(_DIR)))
