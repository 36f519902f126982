"""Spans recorded by the harness, and the offline event-log join.

A span wraps one call from the benchmark into a tetrex_spark layer. Spans of
one op share the op's id; they live in memory and are written out when the
run ends. In the traced run each span also sets the Spark local property
``perfbench.span``, so every job it starts carries the span id into the
event log. Jobs started from threads the library spawns itself do not
inherit the property; those are attributed to the innermost span open at
their submission time (one client thread runs a closed loop, so at most one
leaf span is open at any moment).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from . import sysmon

SPAN_PROP = "perfbench.span"

# stage accumulable -> span field
_ACCUMS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.write.recordsWritten": ("shuffle_records", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
JOB_FIELDS = ("jobs", "stages", "scan_stages", "executor_cpu_s", "executor_run_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_records",
              "spill_bytes")


class Tracer:
    """Records spans. With a SparkContext it tags jobs (traced run); without
    one it only times (untraced run)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "layer": layer, "name": name, "parent": parent,
            "op": self.spans[parent]["op"] if parent is not None else len(self.spans),
            "t0": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = None
        if self.sc is not None:
            rec["cpu0"] = sysmon.tree_cpu_s()
            prev = self.sc.getLocalProperty(SPAN_PROP)
            self.sc.setLocalProperty(SPAN_PROP, str(rec["id"]))
        try:
            yield rec
        finally:
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROP, prev)
                rec["proc_cpu_s"] = sysmon.tree_cpu_s() - rec.pop("cpu0")
            rec["t1"] = time.time()
            rec["wall_s"] = rec["t1"] - rec["t0"]
            self._stack.pop()

    def walls(self, layer: str, name: str | None = None) -> list[float]:
        return [s["wall_s"] for s in self.spans
                if s["layer"] == layer and (name is None or s["name"] == name)]


def parse_event_log(path: str) -> list[dict]:
    """Jobs from an uncompressed Spark event log: submission/completion
    times (s), the span property, and the metrics of the stages that ran
    for the job (skipped stages are not counted)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            head = line[:48]
            if "SparkListenerJobStart" in head:
                ev = json.loads(line)
                j = {"t0": ev["Submission Time"] / 1e3, "t1": None,
                     "span": (ev.get("Properties") or {}).get(SPAN_PROP),
                     **{k: 0 for k in JOB_FIELDS}}
                j["jobs"] = 1
                jobs[ev["Job ID"]] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif "SparkListenerJobEnd" in head:
                ev = json.loads(line)
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
            elif "SparkListenerStageCompleted" in head:
                info = json.loads(line)["Stage Info"]
                j = jobs.get(stage_job.get(info["Stage ID"]))
                if j is None:
                    continue
                j["stages"] += 1
                j["scan_stages"] += not info.get("Parent IDs")
                for acc in info.get("Accumulables", []):
                    field = _ACCUMS.get(acc.get("Name"))
                    if field and isinstance(acc.get("Value"), (int, float, str)):
                        j[field[0]] += float(acc["Value"]) * field[1]
    return [j for j in jobs.values() if j["t1"] is not None]


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Give every span its jobs' metrics, self time and driver gap."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s.update({k: 0.0 for k in JOB_FIELDS})
        s["_jobs"] = []
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    leaves = sorted((s for s in spans if s["id"] not in children), key=lambda s: s["t0"])
    for j in jobs:
        owner = by_id.get(int(j["span"])) if j["span"] is not None else None
        if owner is None:
            owner = next((s for s in leaves if s["t0"] <= j["t0"] <= s["t1"]), None)
        # a job belongs to its span and to every enclosing span
        while owner is not None:
            owner["_jobs"].append(j)
            owner = by_id.get(owner["parent"]) if owner["parent"] is not None else None
    for s in spans:
        for j in s["_jobs"]:
            for k in JOB_FIELDS:
                s[k] += j[k]
        ivals = [(max(j["t0"], s["t0"]), min(j["t1"], s["t1"])) for j in s.pop("_jobs")]
        s["driver_gap_s"] = s["wall_s"] - _union_len([iv for iv in ivals if iv[1] > iv[0]])
        kids = [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
        s["self_s"] = s["wall_s"] - _union_len(kids)


LAYER_FIELDS = ("calls", "wall_s", "self_s", "jobs", "stages", "executor_cpu_s",
                "executor_run_s", "proc_cpu_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "shuffle_records", "spill_bytes", "driver_gap_s")


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per layer: sums over its spans (per-call medians are in `wall_p50_s`)."""
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s["layer"], {k: 0.0 for k in LAYER_FIELDS} | {"_walls": []})
        row["calls"] += 1
        row["_walls"].append(s["wall_s"])
        for k in LAYER_FIELDS[1:]:
            row[k] += s.get(k, 0.0)
    for row in out.values():
        row["wall_p50_s"] = statistics.median(row.pop("_walls"))
    return out


def format_table(table: dict[str, dict]) -> str:
    cols = ("calls", "wall_s", "self_s", "jobs", "stages", "executor_cpu_s",
            "proc_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "driver_gap_s")
    head = f"{'layer':<16}" + "".join(f"{c:>20}" for c in cols)
    lines = [head]
    for layer, row in sorted(table.items()):
        lines.append(f"{layer:<16}" + "".join(
            f"{row[c]:>20.0f}" if c.endswith("bytes") or c in ("calls", "jobs", "stages")
            else f"{row[c]:>20.3f}" for c in cols))
    return "\n".join(lines)
