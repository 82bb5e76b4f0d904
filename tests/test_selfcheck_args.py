"""The oracle runner (scripts/oracle_sweep.py): its arg-parse contract (the
multi-operand --only stops at the next flag, so it composes with the other
flags in either order) and one end-to-end run in the runner's own
subprocess harness."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_SCRIPTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts")
sys.path.insert(0, _SCRIPTS)

from oracle_sweep import parse_args  # noqa: E402


def test_only_stops_at_next_flag():
    a = parse_args(["--only", "q1", "q2", "--rotate", "3"])
    assert a["only"] == ["q1", "q2"]
    assert a["rotate"] == 3


def test_flags_compose_in_either_order():
    for argv in (
        ["--sf", "/tmp/sfX", "--only", "q64", "q7", "--out", "X.json"],
        ["--out", "X.json", "--only", "q64", "q7", "--sf", "/tmp/sfX"],
    ):
        a = parse_args(argv)
        assert a["only"] == ["q64", "q7"]
        assert a["sf_dir"] == "/tmp/sfX"
        assert a["out_path"] == "X.json"


def test_scalar_flags_and_defaults():
    a = parse_args([])
    assert a == {"sf_dir": "/root/testdata/sf0.01", "out_path": None, "only": [], "rotate": None}
    assert parse_args(["--rotate", "7"])["rotate"] == 7


def test_runner_records_row_counts(sf_dir, tmp_path):
    """One query through the runner's fresh bare-session subprocess: the
    record carries the CORRECTNESS fields, with both row counts filled."""
    out = tmp_path / "sweep.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(_SCRIPTS, "oracle_sweep.py"),
         "--sf", sf_dir, "--only", "q01_pricing_summary", "--out", str(out)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-2000:]
    summary = json.loads(out.read_text())
    assert (summary["n_queries"], summary["pass"]) == (1, 1)
    rec = summary["results"]["q01_pricing_summary"]
    assert rec["hash_match"] and rec["rows_match"] and rec["schema_match"], rec
    assert isinstance(rec["spark_rows"], int) and rec["spark_rows"] == rec["oracle_rows"] > 0, rec
