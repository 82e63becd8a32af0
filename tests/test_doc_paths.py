"""Every repo file a doc names in backticks exists — no Spark.

A deletion that leaves ``README.md`` pointing at a removed example or
test goes unnoticed until a reader follows the link. This test reads the
docs that describe how to build, run and verify the repo, takes every
whitespace-separated token inside backticks that names a ``.py``, ``.md``
or ``.json`` file, and asserts the file exists relative to the repo root
or to the doc's own directory. Placeholder paths (``<workload>``) and
bare suffixes (``.py``) are skipped.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
DOCS = ["README.md", "sedbench/README.md", ".claude/skills/verify/SKILL.md"]
_CODE_SPAN = re.compile(r"`([^`\n]+)`")
_PATH = re.compile(r"[^<>]*[\w-]\.(?:py|md|json)")


def _doc_paths(text: str) -> list[str]:
    return [
        tok
        for span in _CODE_SPAN.findall(text)
        for tok in span.split()
        if _PATH.fullmatch(tok)
    ]


def test_doc_paths_extracts_tokens_from_commands():
    text = "Run `PYTHONPATH=. python tools/x.py`; see `a/b.md`, `<w>.json`, `.py`."
    assert _doc_paths(text) == ["tools/x.py", "a/b.md"]


@pytest.mark.parametrize("doc", DOCS)
def test_backticked_repo_paths_exist(doc):
    path = ROOT / doc
    paths = _doc_paths(path.read_text())
    assert paths, f"{doc} names no repo paths; is the pattern still right?"
    missing = [
        p for p in paths
        if not (ROOT / p).exists() and not (path.parent / p).exists()
    ]
    assert not missing, f"{doc} names files that do not exist: {missing}"
