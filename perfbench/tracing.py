"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start and end (``time.perf_counter`` seconds), the
span that was open when it started, and the job it belongs to. Spans stay
in memory and are written out once the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job: str | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "job": self.job,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its direct
    children cover. Children of one parent run one after another, so their
    intervals do not overlap and their durations add up."""
    child_cover: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_cover[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_cover[s["id"]] for s in spans}


def check_nesting(spans: list[dict]) -> list[str]:
    """Problems with the span tree: unknown parents, a child outside its
    parent's interval or job, and negative self time."""
    by_id = {s["id"]: s for s in spans}
    problems = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            problems.append(f"span {s['id']} {s['name']} is not closed")
            continue
        p = s["parent"]
        if p is None:
            continue
        parent = by_id.get(p)
        if parent is None:
            problems.append(f"span {s['id']} has unknown parent {p}")
        elif not (parent["start"] <= s["start"] and s["end"] <= parent["end"]):
            problems.append(f"span {s['id']} lies outside parent {p}")
        elif parent["job"] != s["job"]:
            problems.append(f"span {s['id']} and parent {p} belong to different jobs")
    for sid, t in self_times(spans).items():
        if t < -1e-9:  # float rounding of perf_counter differences
            problems.append(f"span {sid} has negative self time {t}")
    return problems


def self_time_by_name(spans: list[dict], job: str) -> dict[str, float]:
    """Summed self time per span name within one job."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["job"] == job:
            out[s["name"]] += st[s["id"]]
    return dict(out)
