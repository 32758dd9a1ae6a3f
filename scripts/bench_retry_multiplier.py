"""Measure the OSD/retry ladder's average cost: _analyse_ink passes/page.

analyse_page's retry cascade (alternate skew bins, 3 orientations x 2
bins, RTL re-run, script-consistency re-decode) is quality-gated and
constant-bounded, but a noisy corpus pays an AVERAGE multiplier that
should be a measured number, not a hope (VERDICT r3 item 7). This renders
every fixture family (plus deliberately-hostile noisy/rotated mixes),
runs analyse_page single-process, and reports passes/page per family —
recorded in BENCH/BASELINE.md. Passes are counted by wrapping
page._analyse_ink: analyse_page resolves that name at call time, so the
wrapper sees every pass.

Usage: python scripts/bench_retry_multiplier.py
"""

import json
import sys

import numpy as np

sys.path.insert(0, ".")

from sparkstract.fixtures.gen import PAGE_FAMILIES, page_spec  # noqa: E402
from sparkstract.fixtures.render import render_page  # noqa: E402
from sparkstract.operators import page as page_mod  # noqa: E402
from sparkstract.operators.page import analyse_page  # noqa: E402

# container families wrap the same rendered page; measure the raster
# kernel's behavior on the CONTENT families only
_SKIP = {
    "tiff_page", "tiff_multipage", "pnm_page", "bmp_page", "jpeg_page",
    "exif_tiff_page", "exif_jpeg_page", "pdf_page", "pdf_scanned_page",
    "pdf_two_column_page", "rgb_png_page", "gif_page",
    "progressive_jpeg_page", "pdf_modern_page", "pdf_cid_page",
    "pdf_searchable_page", "g4_tiff_page", "pdf_rotated_page",
    "pdf_inline_image_page", "webp_page", "empty_page",
}


_PASSES = 0
_analyse_ink = page_mod._analyse_ink


def _counted_analyse_ink(*args, **kwargs):
    global _PASSES
    _PASSES += 1
    return _analyse_ink(*args, **kwargs)


page_mod._analyse_ink = _counted_analyse_ink


def measure(family: str, reps: int = 4) -> float:
    rng = np.random.default_rng(1234)
    total = 0
    for _ in range(reps):
        img, _ = render_page(page_spec(family, rng))
        before = _PASSES
        analyse_page(img)
        total += _PASSES - before
    return total / reps


def main() -> None:
    per_family = {}
    for fam in PAGE_FAMILIES:
        if fam in _SKIP:
            continue
        per_family[fam] = measure(fam)
    # a deliberately hostile mix: every content page rotated 90 deg (the
    # worst realistic scan-feed accident — forces the full OSD ladder)
    rng = np.random.default_rng(99)
    hostile_fams = ["single_column", "two_column", "paragraphs",
                    "noise_page", "sparse_texture"]
    total = 0
    for fam in hostile_fams:
        img, _ = render_page(page_spec(fam, rng))
        before = _PASSES
        analyse_page(np.ascontiguousarray(np.rot90(img, 3)))
        total += _PASSES - before
    per_family["rotated90_mix"] = total / len(hostile_fams)

    vals = sorted(per_family.items(), key=lambda kv: -kv[1])
    for fam, v in vals:
        print(f"{fam:24s} {v:5.2f} passes/page")
    clean = [v for f, v in per_family.items() if f != "rotated90_mix"]
    print(json.dumps({
        "mean_passes_per_page": round(sum(clean) / len(clean), 3),
        "max_family": vals[0][0], "max_passes": round(vals[0][1], 2),
        "rotated90_mix": round(per_family["rotated90_mix"], 2),
    }))


if __name__ == "__main__":
    main()
