"""Every ``scripts/<name>.py`` cited in the package, bench.py, README.md or
the skill notes under ``.claude/`` exists, so a comment that records a
measurement or a documented recipe never points at a deleted script."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_cited_scripts_exist():
    sources = [
        *(ROOT / "hive_feature_demo_spark").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "README.md",
        *(p for p in (ROOT / ".claude" / "skills").rglob("*") if p.is_file()),
    ]
    cited = {
        (ref, src.relative_to(ROOT).as_posix())
        for src in sources
        for ref in re.findall(r"scripts/\w+\.py", src.read_text())
    }
    cited_from = {src for _, src in cited}
    for doc in ("README.md", ".claude/skills/verify/SKILL.md"):
        assert doc in cited_from, f"no script citations found in {doc}: the scan is looking in the wrong place"
    missing = sorted(f"{src} cites {ref}" for ref, src in cited if not (ROOT / ref).is_file())
    assert not missing, missing
