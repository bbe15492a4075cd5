"""Root-level docs cite only repo-root artifacts that exist.

A run record cited by name (``NAME_rNN*.json|jsonl|md``) that was
deleted leaves the doc pointing at nothing; the numbers belong in the
text, the dead name does not.
"""

from __future__ import annotations

import pathlib
import re

_ROOT = pathlib.Path(__file__).resolve().parent.parent
# a bare artifact name (no directory part) with a round tag
_CITED = re.compile(r"(?<![\w/.-])([A-Z][A-Z0-9_]*_r\d\d[\w-]*\.(?:jsonl|json|md))\b")


def test_root_docs_cite_existing_artifacts():
    missing = [
        f"{md.name}:{i}: {m.group(1)}"
        for md in sorted(_ROOT.glob("*.md"))
        for i, line in enumerate(md.read_text().splitlines(), 1)
        for m in _CITED.finditer(line)
        if not (_ROOT / m.group(1)).exists()
    ]
    assert missing == []
