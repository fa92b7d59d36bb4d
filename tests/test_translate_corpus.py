"""Byte-identity gate for the dialect translator: every case of the
committed corpus (tests/data/translate_corpus.json, written by
tools/translate_corpus.py) must translate to exactly the recorded SQL,
or refuse with exactly the recorded ValueError text. Spark-free; the
whole corpus replays in a few seconds."""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from translate_corpus import OUT, run_case  # noqa: E402


def test_translate_corpus_is_byte_identical():
    cases = json.loads(Path(OUT).read_text())
    assert len(cases) > 600
    diffs = []
    for case in cases:
        want = {k: case[k] for k in ("out", "format", "error") if k in case}
        got = run_case(case)
        if got != want:
            diffs.append(f"{case['src']}: {case['sql'][:100]!r}\n"
                         f"  want {want}\n  got  {got}")
    assert not diffs, f"{len(diffs)} corpus diffs:\n" + "\n".join(diffs[:10])
