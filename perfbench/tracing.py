"""Benchmark-side tracing: spans around the program's public calls, and
readers for Spark's REST API.

Spans live in memory (name, start, end, parent) and tag every Spark
job they trigger with ``SparkContext.setJobGroup`` so the REST records
can be attributed to the innermost open span. Nothing is written until
the run ends. With tracing off, ``span`` is a no-op and no job group is
set, so the untraced run measures the program alone.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime
from urllib.parse import urlparse


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, rep: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "rep": rep,
            "parent": parent["id"] if parent else None,
            "group": f"{name}#{rep}.{len(self.spans)}",
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(s["start"], s["end"], [(c["start"], c["end"]) for c in children.get(s["id"], [])])
        for s in spans
    }


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _epoch(ts: str | None) -> float | None:
    # REST timestamps look like 2026-10-17T03:30:18.123GMT
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Rest:
    """Reader for ``/api/v1/applications/<app>/…`` of the live UI."""

    def __init__(self, sc):
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        jobs = self.get("jobs")
        for j in jobs:
            j["_start"] = _epoch(j.get("submissionTime"))
            j["_end"] = _epoch(j.get("completionTime"))
        return {
            "jobs": jobs,
            "stages": self.get("stages"),
            "sql": self.get("sql?details=true&planDescription=false&offset=0&length=100000"),
        }


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_QTY = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def metric_total(value: str) -> float:
    """A SQL node metric as a number in base units (bytes, seconds,
    rows). The UI renders sums as ``"total (min, med, max (stageId:
    taskId))\\n12.3 MiB (…)"`` and plain counters as ``"1,234"``."""
    text = value.split("\n", 1)[1] if value.startswith("total") and "\n" in value else value
    m = _QTY.match(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)
