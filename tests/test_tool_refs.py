"""Drift guard for references to tools/ scripts and library modules.

Code, tests and the live docs point readers at ``tools/<name>.py``
scripts and at library modules (``streaming/<name>.py`` and the other
package directories) by path; deleting a finished tool or folding a
module into another must take those pointers with it. This pins every
such path mentioned in the library, the tests, the tools themselves,
bench.py, README.md, COVERAGE.md, the .claude notes and the two
current-state ledgers (SCALING.md, BENCH_NOTES.md) to an existing
file. The per-round records (OPTIMIZATION_*, VERDICT, ...) are history
and deliberately not scanned."""

from __future__ import annotations

import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCANNED = (
    "mypipe_spark",
    "tests",
    "tools",
    ".claude",
    "bench.py",
    "README.md",
    "COVERAGE.md",
    "SCALING.md",
    "BENCH_NOTES.md",
)
_TOOL_REF = re.compile(r"tools/(\w+)\.py")
# a path under mypipe_spark/, bare or package-qualified, but not the
# tail of some other path (pyspark/sql/functions/builtin.py)
_MODULE_REF = re.compile(
    r"(?<![\w./-])(?:mypipe_spark/)?"
    r"((?:streaming|sinks|sources|operators|plans|functions)/\w+\.py)"
)


def _scanned_files():
    for entry in _SCANNED:
        path = os.path.join(_REPO, entry)
        if os.path.isfile(path):
            yield path
            continue
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fname in files:
                yield os.path.join(root, fname)


def _scanned_texts():
    for path in _scanned_files():
        try:
            with open(path, encoding="utf-8") as f:
                yield os.path.relpath(path, _REPO), f.read()
        except (UnicodeDecodeError, OSError):
            continue


def test_every_referenced_tool_exists():
    missing: set[str] = set()
    for rel, text in _scanned_texts():
        for name in _TOOL_REF.findall(text):
            if not os.path.isfile(os.path.join(_REPO, "tools", name + ".py")):
                missing.add(f"{rel}: tools/{name}.py")
    assert not missing, f"references to missing tools: {sorted(missing)}"


def test_every_referenced_module_exists():
    missing: set[str] = set()
    for rel, text in _scanned_texts():
        for ref in _MODULE_REF.findall(text):
            if not os.path.isfile(os.path.join(_REPO, "mypipe_spark", ref)):
                missing.add(f"{rel}: {ref}")
    assert not missing, f"references to missing modules: {sorted(missing)}"
