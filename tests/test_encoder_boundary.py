"""The runtime codec modules decode only.

Executors import `sparkstract.functions` and `sparkstract.sources` to
decode untrusted bytes; the mirror encoders that build fixtures and test
streams live in `sparkstract.fixtures.encoders`, one module per codec.
"""

from __future__ import annotations

import ast
import pathlib
import subprocess
import sys

PKG = pathlib.Path(__file__).resolve().parents[1] / "sparkstract"

# thumbnails write PNG at run time (png.encode_gray); bits.py keeps each
# LZW and bit writer next to the reader that shares its code-width rule.
ALLOWED = {("functions/png.py", "encode_gray")}
ALLOWED_MODULES = {"functions/bits.py"}


def _runtime_modules():
    for sub in ("functions", "sources"):
        yield from sorted((PKG / sub).glob("*.py"))


def test_no_encoder_definitions_in_runtime_modules():
    found = []
    for path in _runtime_modules():
        rel = path.relative_to(PKG).as_posix()
        if rel in ALLOWED_MODULES:
            continue
        for node in ast.parse(path.read_text()).body:
            name = getattr(node, "name", "")
            if ((isinstance(node, ast.FunctionDef)
                 and name.startswith("encode_"))
                    or (isinstance(node, ast.ClassDef)
                        and name.endswith(("Writer", "Encoder")))):
                if (rel, name) not in ALLOWED:
                    found.append(f"{rel}:{node.lineno} {name}")
    assert not found, found


def test_only_fixtures_import_the_encoders():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel.startswith("fixtures/"):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and "encoders" in (
                    (node.module or "").split(".")
                    + [a.name for a in node.names]):
                found.append(f"{rel}:{node.lineno}")
            elif isinstance(node, ast.Import) and any(
                    "fixtures.encoders" in a.name for a in node.names):
                found.append(f"{rel}:{node.lineno}")
    assert not found, found


def test_runtime_imports_load_no_encoder():
    mods = ["sparkstract.plans.pipeline", "sparkstract.operators.multimodal"]
    mods += [f"sparkstract.{p.parent.name}.{p.stem}"
             for p in _runtime_modules() if p.stem != "__init__"]
    code = (
        "import importlib, sys\n"
        f"for m in {mods!r}:\n"
        "    importlib.import_module(m)\n"
        "print(sorted(m for m in sys.modules\n"
        "             if m.startswith('sparkstract.fixtures.encoders')))\n")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=300, cwd=PKG.parent)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"
