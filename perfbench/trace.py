"""Traced-run instruments: the shared-frame cache counter and the fold of a
Spark event log into one record per (query, phase).

Both live in the benchmark; the program under test is only wrapped, never
changed.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

PHASES = ("construct", "plan", "execute")

# Task-level sums folded per phase: metric name -> path into a TaskEnd event
_TASK_SUMS = {
    "executor_run_s": (("Task Metrics", "Executor Run Time"), 1e-3),
    "executor_cpu_s": (("Task Metrics", "Executor CPU Time"), 1e-9),
    "gc_s": (("Task Metrics", "JVM GC Time"), 1e-3),
    "input_bytes": (("Task Metrics", "Input Metrics", "Bytes Read"), 1),
    "input_records": (("Task Metrics", "Input Metrics", "Records Read"), 1),
    "shuffle_write_bytes": (("Task Metrics", "Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "shuffle_remote_bytes": (("Task Metrics", "Shuffle Read Metrics", "Remote Bytes Read"), 1),
    "shuffle_local_bytes": (("Task Metrics", "Shuffle Read Metrics", "Local Bytes Read"), 1),
    "fetch_wait_s": (("Task Metrics", "Shuffle Read Metrics", "Fetch Wait Time"), 1e-3),
    "spill_disk_bytes": (("Task Metrics", "Disk Bytes Spilled"), 1),
}
# SQL metrics of the Python-worker operators, read from task accumulables
_PY_ACCUMS = {
    "data sent to Python workers": ("python_bytes_to_worker", 1),
    "data returned from Python workers": ("python_bytes_from_worker", 1),
    "time to run Python workers": ("python_exec_s", 1e-3),
}


class FrameCacheCounter:
    """Counts calls, builds and evictions of ``queries._util.shared_frame``.

    ``install`` replaces the function in ``_util`` and in every loaded
    module of the package that imported it by name; the replacement
    forwards to the original, so the cache itself is unchanged."""

    def __init__(self) -> None:
        self.calls = 0
        self.builds = 0
        self.evictions = 0
        self.build_s = 0.0
        self._util = None

    def install(self) -> None:
        from energy_consumption_forecasting_spark.queries import _util

        self._util = _util
        original = _util.shared_frame

        def counted(spark, sf_dir, tag, build, *args, **kwargs):
            self.calls += 1

            def timed_build():
                self.builds += 1
                t0 = time.perf_counter()
                try:
                    return build()
                finally:
                    self.build_s += time.perf_counter() - t0

            before = set(_util._FRAME_CACHE)
            try:
                return original(spark, sf_dir, tag, timed_build, *args, **kwargs)
            finally:
                self.evictions += len(before - set(_util._FRAME_CACHE))

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("energy_consumption_forecasting_spark") and (
                getattr(mod, "shared_frame", None) is original
            ):
                mod.shared_frame = counted

    def entries(self) -> int:
        return len(self._util._FRAME_CACHE) if self._util is not None else 0

    def snapshot(self) -> dict:
        return {
            "calls": self.calls,
            "builds": self.builds,
            "evictions": self.evictions,
            "build_s": self.build_s,
        }


def job_tag(label: str, phase: str) -> str:
    """The job description a traced phase runs under: ``q:<label>:<phase>``."""
    return f"q:{label}:{phase}"


def _parse_tag(desc) -> tuple[str, str] | None:
    if not desc or not desc.startswith("q:"):
        return None
    label, _, phase = desc[2:].rpartition(":")
    return (label, phase) if phase in PHASES and label else None


def _dig(event: dict, path: tuple[str, ...]):
    for key in path:
        event = event.get(key) if isinstance(event, dict) else None
        if event is None:
            return 0
    return event


def _event_files(log_dir: str) -> list[str]:
    """The event files of every application log under ``log_dir`` (Spark 4
    writes each log as a directory of rolling ``events_<n>_<app>`` files)."""
    files = [
        (root, int(n.split("_")[1]), n)
        for root, _dirs, names in os.walk(log_dir)
        for n in names
        if n.startswith("events_")
    ]
    return [os.path.join(root, n) for root, _i, n in sorted(files)]


def fold_event_log(log_dir: str, windows: list[tuple[str, str, float, float]]) -> dict:
    """Fold every event log under ``log_dir`` into ``{(label, phase): record}``.

    A job whose description is a ``q:<label>:<phase>`` tag belongs to that
    phase.  Any other job (a streaming micro-batch, for one, runs under
    its own description) is attributed to the phase whose wall-clock
    window ``(label, phase, start_ms, end_ms)`` contains its submission
    time.  Each record holds job, stage, task and failed-task counts and
    the sums in ``_TASK_SUMS`` and ``_PY_ACCUMS``."""
    stage_owner: dict[int, tuple[str, str]] = {}
    records: dict[tuple[str, str], dict] = defaultdict(lambda: defaultdict(float))

    def owner_at(ms: float):
        for label, phase, start, end in windows:
            if start <= ms <= end:
                return label, phase
        return None

    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = _parse_tag(ev.get("Properties", {}).get("spark.job.description"))
                    key = key or owner_at(ev.get("Submission Time", -1))
                    if key is None:
                        continue
                    records[key]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_owner[sid] = key
                elif kind == "SparkListenerStageCompleted":
                    key = stage_owner.get(ev["Stage Info"]["Stage ID"])
                    if key is not None:
                        records[key]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = stage_owner.get(ev.get("Stage ID"))
                    if key is None:
                        continue
                    rec = records[key]
                    rec["tasks"] += 1
                    if ev.get("Task Info", {}).get("Failed"):
                        rec["task_failures"] += 1
                    for name, (p, scale) in _TASK_SUMS.items():
                        rec[name] += (_dig(ev, p) or 0) * scale
                    for acc in ev.get("Task Info", {}).get("Accumulables", []):
                        hit = _PY_ACCUMS.get(acc.get("Name"))
                        if hit is not None:
                            rec[hit[0]] += float(acc.get("Update") or 0) * hit[1]
    return {k: dict(v) for k, v in records.items()}
