"""Spans, layer hooks, Spark event-log folding and /proc readings.

Spans are recorded from the benchmark's own code around each call into an
engine layer; nothing inside the engine is edited. They stay in memory and
are folded into per-layer metrics when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time

PACKAGE = "hive_feature_demo_spark"


class Tracer:
    """In-memory span recorder. ``enabled = False`` makes ``span`` a no-op,
    so traced and untraced passes share one code path."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.rid: int | None = None
        self.pass_no: int | None = None
        self._stack: list[int] = []
        # perf_counter -> epoch seconds, to line spans up with Spark's clock
        self.epoch0 = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "rid": self.rid, "pass_no": self.pass_no, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own


#: Engine functions wrapped in traced runs: (module, attribute, span name).
#: ``catalog.table`` is also bound by name in most plan modules
#: (``from ..catalog import table``), so ``install`` rebinds every module
#: attribute that still points at the original. ``fan_out_scan`` is imported
#: at call time and ``run_to_memory`` is called as ``sops.run_to_memory``;
#: patching the module attribute covers both.
LAYER_HOOKS = (
    (f"{PACKAGE}.catalog", "table", "catalog.table"),
    (f"{PACKAGE}.operators.skew", "fan_out_scan", "skew.fan_out"),
    (f"{PACKAGE}.streaming.ops", "run_to_memory", "stream.run"),
)


def install(tracer: Tracer):
    """Wrap the LAYER_HOOKS functions everywhere they are bound; returns a
    function that restores the originals."""
    import importlib

    undo = []
    for mod_name, attr, span in LAYER_HOOKS:
        orig = getattr(importlib.import_module(mod_name), attr)
        wrapped = tracer.wrap(span, orig)
        for name, mod in list(sys.modules.items()):
            if (name == PACKAGE or name.startswith(PACKAGE + ".")) and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                undo.append((mod, attr, orig))

    def restore() -> None:
        for mod, attr, orig in undo:
            setattr(mod, attr, orig)

    return restore


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, submission epoch seconds, stage ids) and per-stage task
    metric sums from an uncompressed event log written under ``log_dir``."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith(".") or name.startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line[:40]:
                    e = json.loads(line)
                    jobs.append({
                        "id": e["Job ID"],
                        "t": e["Submission Time"] / 1000.0,
                        "stages": e["Stage IDs"],
                    })
                elif '"SparkListenerTaskEnd"' in line[:40]:
                    e = json.loads(line)
                    m = e.get("Task Metrics") or {}
                    st = stages.setdefault(e["Stage ID"], {
                        "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
                        "scan_b": 0, "scan_rows": 0, "shuffle_write_b": 0, "fetch_wait_ms": 0.0,
                        "spill_b": 0})
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["scan_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["scan_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
                    st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """Map span index -> jobs submitted while it was the innermost open span.

    One client thread with one request in flight makes submission time a
    complete attribution: it also catches the jobs a streaming query's own
    thread starts under its own job group."""
    spans = sorted(
        ((tracer.epoch0 + s["start"], tracer.epoch0 + s["end"], i) for i, s in enumerate(tracer.spans)),
        key=lambda x: x[0],
    )
    out: dict[int, list[dict]] = {}
    for job in jobs:
        best = None
        for start, end, i in spans:
            if start > job["t"]:
                break
            if job["t"] <= end:
                best = i  # later start = more deeply nested
        if best is not None:
            out.setdefault(best, []).append(job)
    return out


# ---------------------------------------------------------------------------
# /proc readings (psutil is not available)
# ---------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 3 (state) on


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User+system CPU of the process tree, including reaped children."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
