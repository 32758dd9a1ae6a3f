"""Per-family decode and analysis time over the mixed_codecs page pool.

Renders the frozen page pool the benchmark's `mixed_codecs` workload
decodes (`generate_corpus` with `POOL_SEED`, `MIXED_FAMILIES` and the
workload's doc count, all read from perfbench/workloads.py), then runs
every media row through the page kernel's two layers in this one process:

  decode    codecs.decode_pages, or pdf.parse_pdf for PDF media
  analysis  the kernel's raster analysis (default ExtractConfig) per
            decoded page, or pdf.blocks_from_pdf_page for PDF text pages

Each row runs `--reps` times; a row's time is its median over the reps and
a family's is the median over its rows. The table lists families slowest
decode first, then the totals (sums of the row medians).

Usage: python scripts/bench_decode.py [--reps 3] [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.workloads import MIXED_FAMILIES, POOL_SEED, WORKLOADS  # noqa: E402
from sparkstract.config import ExtractConfig  # noqa: E402
from sparkstract.fixtures.gen import generate_corpus  # noqa: E402
from sparkstract.functions.codecs import decode_pages  # noqa: E402
from sparkstract.functions.pdf import blocks_from_pdf_page, parse_pdf  # noqa: E402
from sparkstract.plans.pipeline import _analyse_raster  # noqa: E402


def _family(ref: str) -> str:
    """`m-<family>-<n>` -> family, without the `_page` suffix."""
    return ref[2:].rsplit("-", 1)[0].removesuffix("_page")


def _time_row(data: bytes, cfg: ExtractConfig) -> tuple[float, float]:
    """(decode s, analysis s) of one media row."""
    t0 = time.perf_counter()
    if data[:5] == b"%PDF-":
        pages = parse_pdf(data)
        t1 = time.perf_counter()
        for pg in pages:
            if pg.has_text:
                blocks_from_pdf_page(pg, crop=cfg.crop)
            else:
                for it in pg.items:
                    if it[0] == "image":
                        _analyse_raster(cfg, it[1], None)
    else:
        pages = decode_pages(data)
        t1 = time.perf_counter()
        for gray in pages:
            _analyse_raster(cfg, gray, None)
    return t1 - t0, time.perf_counter() - t1


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--json", help="also write the table here as JSON")
    args = ap.parse_args()

    t0 = time.perf_counter()
    media = generate_corpus(n_docs=WORKLOADS["mixed_codecs"].n_docs,
                            seed=POOL_SEED, heavy_every=100, heavy_pages=32,
                            families=MIXED_FAMILIES).media
    print(f"pool: {len(media)} media rows rendered in "
          f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)

    cfg = ExtractConfig()
    rows: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for ref, img in zip(media["media_ref"], media["image"]):
        data = bytes(img)
        runs = [_time_row(data, cfg) for _ in range(args.reps)]
        rows[_family(ref)].append(
            (statistics.median(r[0] for r in runs) * 1e3,
             statistics.median(r[1] for r in runs) * 1e3))

    table = sorted(
        ({"family": fam, "rows": len(rs),
          "decode_ms": statistics.median(r[0] for r in rs),
          "analysis_ms": statistics.median(r[1] for r in rs)}
         for fam, rs in rows.items()),
        key=lambda t: -t["decode_ms"])
    total_decode = sum(r[0] for rs in rows.values() for r in rs)
    total_analysis = sum(r[1] for rs in rows.values() for r in rs)

    print(f"{'family':<24} {'rows':>4} {'decode ms':>10} {'analysis ms':>12}")
    for t in table:
        print(f"{t['family']:<24} {t['rows']:>4} {t['decode_ms']:>10.1f} "
              f"{t['analysis_ms']:>12.1f}")
    print(f"{'total':<24} {len(media):>4} {total_decode:>10.1f} "
          f"{total_analysis:>12.1f}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"reps": args.reps, "families": table,
                       "total_decode_ms": total_decode,
                       "total_analysis_ms": total_analysis}, f, indent=1)


if __name__ == "__main__":
    main()
