"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end, parent and run id, plus the Spark jobs
and tasks its call launched: each traced call runs under its own Spark
job group, and the counts come from ``statusTracker``.  Spans stay in
memory and are written out once, at exit.  With tracing off, ``span``
only yields, so untraced runs pay nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        group = f"perfbench-{sid}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        outer = self.sc.getLocalProperty("spark.jobGroup.id") if self.sc else None
        if self.sc:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc:
                rec.update(self._counts(group))
                if outer:
                    self.sc.setJobGroup(outer, self.spans[self._stack[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def _counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numCompletedTasks if stage else 0
        return {"jobs": len(jobs), "tasks": tasks}

    def add(self, name: str, seconds: float, parent: dict) -> None:
        """A child span of ``parent`` known only by its duration (an
        orchestrator stage from the returned log), laid after the
        parent's last child."""
        if not self.enabled:
            return
        parent = parent["id"]
        siblings = [s for s in self.spans if s["parent"] == parent]
        start = siblings[-1]["end"] if siblings else self.spans[parent]["start"]
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent,
             "run": self.spans[parent]["run"], "start": start, "end": start + seconds,
             "derived": True}
        )

    # ---- reports ------------------------------------------------------

    def self_times(self, runs=None) -> dict[str, float]:
        """Seconds per layer (name up to the first dot) that no child
        span covers, over the spans of ``runs`` (all if None)."""
        spans = [s for s in self.spans if runs is None or s["run"] in runs]
        out: dict[str, float] = {}
        for s in spans:
            kids = sorted(
                (c["start"], c["end"]) for c in spans if c["parent"] == s["id"]
            )
            covered, edge = 0.0, s["start"]
            for a, b in kids:
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def total(self, key: str, run: str) -> int:
        return sum(s.get(key, 0) for s in self.spans if s["run"] == run)

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
