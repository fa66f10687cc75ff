"""Spans around the engine's public calls, and the per-layer table.

Every public call the benchmark makes runs inside `Tracer.span(layer)`,
which records its wall time in both modes. With tracing on, the span
also runs under its own Spark job group; at the end of the run the
benchmark reads Spark's per-job and per-stage metrics from the UI's
REST API and attributes each job to its span: by job group, or, for
jobs the engine submits from its own worker threads (which do not
inherit the group), by submission time inside the span.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from datetime import datetime, timezone

SPARK_FIELDS = ("wall_s", "driver_s", "executor_cpu_s", "input_bytes",
                "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes",
                "jobs", "tasks", "failed_tasks")
# the layers whose spans together make up the run's end-to-end wall
TOP_LAYERS = ("indexer.build", "searcher.load", "searcher.search_batch",
              "maintenance.append", "maintenance.maintain")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str, **attrs):
        """Time one call; the yielded dict takes extra attributes."""
        rec = {"layer": layer, "group": f"perfbench-{len(self.spans)}",
               **attrs}
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(rec["group"], layer)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["wall_s"] = rec["t1"] - rec["t0"]
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def walls(self, layer: str, **match) -> list[float]:
        return [s["wall_s"] for s in self.spans if s["layer"] == layer
                and all(s.get(k) == v for k, v in match.items())]

    # -- attribution of Spark's job/stage metrics (tracing on) -------------
    def _rest(self, what: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{what}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def attribute(self) -> None:
        """Fill each span's Spark fields from the REST API."""
        time.sleep(1.0)  # let the listener bus drain the last job events
        jobs = self._rest("jobs")
        stages = {}
        for st in self._rest("stages"):
            if st.get("status") in ("COMPLETE", "FAILED"):
                stages.setdefault(st["stageId"], []).append(st)
        by_group = {s["group"]: s for s in self.spans}
        for s in self.spans:
            s.update({f: 0 for f in SPARK_FIELDS if f != "wall_s"})
            s["_busy"] = []
        seen_stages: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            sub = _ts(j.get("submissionTime"))
            end = _ts(j.get("completionTime")) or sub
            span = by_group.get(j.get("jobGroup"))
            if span is None and sub is not None:
                span = next((s for s in self.spans
                             if s["t0"] <= sub <= s["t1"]), None)
            if span is None:
                continue
            span["jobs"] += 1
            if sub is not None:
                span["_busy"].append((sub, end))
            for sid in j.get("stageIds", []):
                if sid in seen_stages or sid not in stages:
                    continue  # skipped, or counted under an earlier job
                seen_stages.add(sid)
                for st in stages[sid]:
                    span["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    span["input_bytes"] += st.get("inputBytes", 0)
                    span["output_bytes"] += st.get("outputBytes", 0)
                    span["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                    span["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    span["tasks"] += st.get("numCompleteTasks", 0) \
                        + st.get("numFailedTasks", 0)
                    span["failed_tasks"] += st.get("numFailedTasks", 0)
        for s in self.spans:
            s["driver_s"] = max(s["wall_s"] - _covered(
                s.pop("_busy"), s["t0"], s["t1"]), 0.0)


def _ts(v):
    """Spark REST time ('2026-01-01T00:00:00.123GMT') -> epoch seconds."""
    if not v:
        return None
    return datetime.strptime(v[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_table(spans: list[dict], per: dict[str, str]) -> dict:
    """layer -> {field: value}: each Spark field summed over the layer's
    spans and divided by the layer's unit count, the sum of the span
    attribute per[layer] (e.g. queries, text_bytes), or calls."""
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s["layer"], {"calls": 0, "units": 0})
        row["calls"] += 1
        row["units"] += s.get(per.get(s["layer"], ""), 1)
        for f in SPARK_FIELDS:
            row[f] = row.get(f, 0) + s.get(f, 0)
    for layer, row in out.items():
        row["per"] = per.get(layer, "call")
        for f in SPARK_FIELDS:
            row[f] = row[f] / max(row["units"], 1)
    return out
