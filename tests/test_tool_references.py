"""Every script path under ``tools/`` that the code, the tests, the
entry points or the user-facing docs cite must exist: a deleted tool
leaves no instruction behind that cannot be followed."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = (
    "getdbt_spark",
    "tests",
    "bench.py",
    "__spark_entry__.py",
    "README.md",
    os.path.join(".claude", "skills", "verify", "SKILL.md"),
)
TOOL_PATH = re.compile(r"\btools/(\w+\.py)\b")


def _files():
    for entry in SCANNED:
        path = os.path.join(ROOT, entry)
        if os.path.isfile(path):
            yield path
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for name in filenames:
                if name.endswith(".py"):
                    yield os.path.join(dirpath, name)


def test_every_cited_tool_exists():
    missing = []
    for path in _files():
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for name in TOOL_PATH.findall(line):
                    if not os.path.isfile(os.path.join(ROOT, "tools", name)):
                        rel = os.path.relpath(path, ROOT)
                        missing.append(f"{rel}:{lineno}: tools/{name}")
    assert not missing, "citations of missing tools:\n" + "\n".join(missing)
