"""Spans around the program's layer entry points, and the Spark event-log
stage table they are read back from.

A span is a named interval on the driver. While it is open, every Spark
job the driver submits carries the span's path (``cold/dim_cars/append``)
as its job group, so the event log can attribute each stage and task to
the layer that caused it. The wrappers are installed by the benchmark
around the program's entry points and removed afterwards; the program
itself is not changed.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_FIELDS = (
    "tasks",
    "task_s",
    "max_task_s",
    "shuffle_write_mb",
    "spill_mb",
    "py_worker_s",
    "gc_s",
    "failed_tasks",
    "serial_stages",
    "skew_stages",
)


class Tracer:
    """Records spans as (path, seconds) and tags Spark jobs with the path."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.stack: list[str] = []
        self.spans: list[tuple[str, float]] = []
        self.feed_files: list[tuple[str, list[str]]] = []
        self._undo: list[tuple[object, str, object]] = []

    def _set_group(self) -> None:
        if self.stack:
            path = "/".join(self.stack)
            self.sc.setJobGroup(path, path)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        self.stack.append(name)
        path = "/".join(self.stack)
        self._set_group()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((path, time.perf_counter() - t0))
            self.stack.pop()
            self._set_group()

    def wrap(self, owner, attr: str, name_of) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it inside the
        span ``name_of(*args, **kwargs)``."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return original(*args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def install_etl(self) -> None:
        """Spans around the ETL tick's layers: the pipeline phases, the
        feed reader, the FK check and the warehouse append."""
        from emission_project_spark.pipeline import emission
        from emission_project_spark.sources.warehouse import Warehouse

        pipe = emission.EmissionPipeline
        self.wrap(pipe, "init_warehouse", lambda *a, **k: "init")
        self.wrap(pipe, "_load_dim", lambda self_, batch, table, *a, **k: f"dim_{table}")
        self.wrap(pipe, "_load_fact", lambda *a, **k: "fact")
        self.wrap(emission, "validate_fks", lambda *a, **k: "validate_fks")
        self.wrap(Warehouse, "append", lambda *a, **k: "append")

        read_feed = emission.read_feed

        def recording_read_feed(*args, **kwargs):
            df, files = read_feed(*args, **kwargs)
            self.feed_files.append(("/".join(self.stack), list(files)))
            return df, files

        self._undo.append((emission, "read_feed", read_feed))
        emission.read_feed = recording_read_feed

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)
        self.stack.clear()
        self._set_group()

    def seconds(self, leaf: str) -> tuple[float, int]:
        """Total seconds and count of the spans named ``leaf``."""
        hits = [s for path, s in self.spans if path.rsplit("/", 1)[-1] == leaf]
        return sum(hits), len(hits)


def _under(group: str, prefix: str) -> bool:
    return not prefix or group == prefix or group.startswith(prefix + "/")


def stage_table(event_log: str, parallelism: int) -> tuple[list[dict], list[str]]:
    """Per-stage records from one uncompressed Spark event log, and the
    job group of every job in submission order.

    A stage belongs to the job group of the first job that listed it.
    ``serial`` marks a single-task stage of at least 1 s while more than
    one task slot exists; ``skew`` marks a stage whose slowest task took
    at least 4x the median task and at least 1 s.
    """
    jobs: list[str] = []
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jobs.append(group)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(_task_record(ev))
    stages = []
    for sid in sorted(tasks):
        ts = tasks[sid]
        durations = [t["task_s"] for t in ts]
        rec = {
            "stage": sid,
            "group": stage_group.get(sid, ""),
            "tasks": len(ts),
            "task_s": sum(durations),
            "max_task_s": max(durations),
            "median_task_s": statistics.median(durations),
            "shuffle_write_mb": sum(t["shuffle_write_mb"] for t in ts),
            "spill_mb": sum(t["spill_mb"] for t in ts),
            "py_worker_s": sum(t["py_worker_s"] for t in ts),
            "gc_s": sum(t["gc_s"] for t in ts),
            "failed_tasks": sum(t["failed"] for t in ts),
        }
        rec["serial"] = rec["tasks"] == 1 and rec["max_task_s"] >= 1.0 and parallelism > 1
        rec["skew"] = rec["max_task_s"] >= 1.0 and rec["max_task_s"] >= 4 * rec["median_task_s"]
        stages.append(rec)
    return stages, jobs


def _task_record(ev: dict) -> dict:
    info = ev.get("Task Info") or {}
    metrics = ev.get("Task Metrics") or {}
    py_ms = 0
    for acc in info.get("Accumulables", []):
        if acc.get("Name") == "time to run Python workers":
            try:
                py_ms += int(acc.get("Update"))
            except (TypeError, ValueError):
                pass
    shuffle = metrics.get("Shuffle Write Metrics") or {}
    return {
        "task_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
        "shuffle_write_mb": shuffle.get("Shuffle Bytes Written", 0) / 1e6,
        "spill_mb": metrics.get("Memory Bytes Spilled", 0) / 1e6,
        "py_worker_s": py_ms / 1e3,
        "gc_s": metrics.get("JVM GC Time", 0) / 1e3,
        "failed": int(bool(info.get("Failed") or info.get("Killed"))),
    }


def span_summary(stages: list[dict], prefix: str) -> dict[str, float]:
    """The ``SPAN_FIELDS`` totals over every stage whose job group lies
    under ``prefix``."""
    mine = [s for s in stages if _under(s["group"], prefix)]
    out = {}
    for f in SPAN_FIELDS:
        if f == "max_task_s":
            out[f] = max((s[f] for s in mine), default=0.0)
        elif f.endswith("_stages"):
            out[f] = sum(s[f.split("_")[0]] for s in mine)
        else:
            out[f] = sum(s[f] for s in mine)
    return out


def job_count(jobs: list[str], prefix: str, leaf: str | None = None) -> int:
    """Jobs whose group lies under ``prefix`` (and, with ``leaf``, inside
    a span of that name somewhere below it)."""
    return sum(1 for g in jobs if _under(g, prefix) and (leaf is None or leaf in g.split("/")))
