"""Spans recorded around calls into the program's layers, and the Spark
event-log totals grouped by the job group each span sets.

A span is (name, start, end, parent). Spans and counts stay in memory and
are written out once the traced run ends. A layer's self time is its span
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the block; Spark jobs it submits carry ``name`` as job group."""
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent})
        self._stack.append(idx)
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["name"] if self._stack else "untraced"
            self._sc.setJobGroup(outer, outer)

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children[i]):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def by_name(self) -> dict[str, float]:
        """Self seconds summed per span name."""
        totals: dict[str, float] = defaultdict(float)
        for s, self_s in zip(self.spans, self.self_times()):
            totals[s["name"]] += self_s
        return dict(totals)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps({"spans": self.spans, "counts": self.counts}))


def event_log_totals(log_dir: Path) -> dict[str, dict[str, float]]:
    """Executor CPU, shuffle write and spill per job group, from the
    uncompressed event log(s) in ``log_dir`` (read after the session stops)."""
    group_of_stage: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: {"cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    )
    for path in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
        with open(path, encoding="utf-8") as f:
            for line in f:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerStageSubmitted":
                    props = event.get("Properties") or {}
                    stage = event["Stage Info"]["Stage ID"]
                    group_of_stage[stage] = props.get("spark.jobGroup.id") or "untraced"
                elif kind == "SparkListenerTaskEnd":
                    m = event.get("Task Metrics") or {}
                    t = totals[group_of_stage.get(event["Stage ID"], "untraced")]
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["shuffle_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    t["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return dict(totals)
