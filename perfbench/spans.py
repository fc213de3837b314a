"""Spans and Spark job tags recorded from outside the package.

A traced pass wraps the pipeline's stage methods and its snapshot writes:
the span of stage S runs from the call of `DedupPipeline.stage_S` to the
return of `SnapshotCatalog.write(S)` (the write is what executes the lazy
stage plan), and every Spark job started in between carries job group S.
Jobs outside the stage spans (quarantine audit, summary) carry "pipeline".
Spans stay in memory; `event_log_metrics` reads the Spark event log after
the session stops and sums the task metrics per job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

from procs import session_cpu_s

STAGES = ("signatures", "candidates", "verified", "components")
DRIVER_TAG = "pipeline"
PY_SENT = "data sent to Python workers"


class Tracer:
    """Spans and job groups of one pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sid = os.getsid(0)
        self.spans: list[dict] = []
        self._open: dict[str, dict] = {}

    def _tag(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def open(self, name: str, parent: str | None) -> None:
        self._open[name] = {
            "name": name, "parent": parent, "start": time.time(),
            "cpu0": session_cpu_s(self.sid),
        }
        self._tag(name)

    def close(self, name: str) -> dict:
        span = self._open.pop(name)
        span["end"] = time.time()
        span["cpu_s"] = session_cpu_s(self.sid) - span.pop("cpu0")
        self.spans.append(span)
        self._tag(DRIVER_TAG)
        return span

    def instrument(self, pipe) -> None:
        """Wrap pipe.stage_* and pipe.catalog.write on this instance only."""
        for stage in STAGES:
            inner = getattr(pipe, f"stage_{stage}")

            def stage_fn(*a, _inner=inner, _stage=stage, **kw):
                self.open(_stage, DRIVER_TAG)
                return _inner(*a, **kw)

            setattr(pipe, f"stage_{stage}", stage_fn)
        write = pipe.catalog.write

        def write_fn(table, *a, **kw):
            man = write(table, *a, **kw)
            if table in self._open:
                self.close(table)
            return man

        pipe.catalog.write = write_fn

    def run_pipeline(self, pipe) -> dict:
        self.instrument(pipe)
        self.open(DRIVER_TAG, None)
        try:
            return pipe.run(resume=False)
        finally:
            for name in [n for n in self._open if n != DRIVER_TAG]:
                self.close(name)
            self.close(DRIVER_TAG)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task busy and GC seconds, shuffle write, spill
    and bytes sent to Python workers, summed over TaskEnd events."""
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    stage_tag: dict[int, str] = {}
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if tag is None:
                    continue
                agg[tag]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if tag is None or not tm:
                    continue
                a = agg[tag]
                a["task_busy_s"] += tm["Executor Run Time"] / 1e3
                a["gc_s"] += tm["JVM GC Time"] / 1e3
                a["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                a["spill_mb"] += (tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / 1e6
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == PY_SENT:
                        a["py_sent_mb"] += float(acc.get("Update", 0)) / 1e6
    return {k: dict(v) for k, v in agg.items()}
