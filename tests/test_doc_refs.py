"""Every ``scripts/<name>.py`` cited in the package or bench.py exists, so a
comment that records a measurement never points at a deleted script."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_cited_scripts_exist():
    sources = [*(ROOT / "hive_feature_demo_spark").rglob("*.py"), ROOT / "bench.py"]
    cited = {
        (ref, src.relative_to(ROOT).as_posix())
        for src in sources
        for ref in re.findall(r"scripts/\w+\.py", src.read_text())
    }
    assert cited, "no script citations found: the scan is looking in the wrong place"
    missing = sorted(f"{src} cites {ref}" for ref, src in cited if not (ROOT / ref).is_file())
    assert not missing, missing
