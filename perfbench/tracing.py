"""Spans around calls into the engine, and Spark's own metrics per span.

A span records id, name, start, end and parent. While a span is open
its id is the Spark job group of the calling thread, so every job the
call submits (including broadcast and AQE stage jobs, which inherit the
thread's properties) is tagged with it. After the session stops, the
event log maps each job to its stages, tasks and SQL metrics, and
``SparkLog.totals`` sums them per span. Spans live in memory and are
written out when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

MIB = 1024 * 1024


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": f"span-{len(self.spans)}", "name": name,
              "parent": parent["id"] if parent else None,
              "start": time.perf_counter(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp["id"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent["id"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def seconds(self, sp: dict) -> float:
        return sp["end"] - sp["start"]

    def subtree(self, sp: dict) -> set[str]:
        """Ids of ``sp`` and every span nested under it."""
        ids = {sp["id"]}
        for s in self.spans:  # spans are appended parents-first
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
               for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


class SparkLog:
    """Jobs, stages, tasks and SQL metric updates from one event log."""

    def __init__(self, event_dir: str):
        files = [p for p in glob.glob(os.path.join(event_dir, "*"))
                 if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {event_dir}, got {files}")
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.accum_names: dict[int, str] = {}
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan_metrics(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.accum_names[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            self._plan_metrics(child)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            # the result stage (highest id) is named after the action's call site
            stages = sorted(ev.get("Stage Infos", []), key=lambda s: s["Stage ID"])
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "call_site": stages[-1]["Stage Name"] if stages else "",
                "stages": ev["Stage IDs"],
            }
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            shuffle_w = metrics.get("Shuffle Write Metrics") or {}
            inp = metrics.get("Input Metrics") or {}
            accums = {}
            for a in info.get("Accumulables", []):
                try:
                    accums[a["ID"]] = int(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
            self.stage_tasks.setdefault(ev["Stage ID"], []).append({
                "failed": bool(info.get("Failed") or info.get("Killed")),
                "run_ms": metrics.get("Executor Run Time", 0),
                "gc_ms": metrics.get("JVM GC Time", 0),
                "spill": metrics.get("Disk Bytes Spilled", 0),
                "shuffle_write": shuffle_w.get("Shuffle Bytes Written", 0),
                "shuffle_read": sum(
                    (metrics.get("Shuffle Read Metrics") or {}).get(k, 0)
                    for k in ("Remote Bytes Read", "Local Bytes Read")),
                "in_rows": inp.get("Records Read", 0),
                "in_bytes": inp.get("Bytes Read", 0),
                "accums": accums,
            })
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan_metrics(ev["sparkPlanInfo"])

    def totals(self, groups: set[str]) -> dict:
        """Summed metrics of every job tagged with one of ``groups``."""
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        stages = sorted({s for j in jobs for s in j["stages"]
                         if s in self.stage_tasks})
        tasks = [t for s in stages for t in self.stage_tasks[s]]
        accum_sum: dict[str, int] = {}
        for t in tasks:
            for aid, v in t["accums"].items():
                name = self.accum_names.get(aid)
                if name:
                    accum_sum[name] = accum_sum.get(name, 0) + v

        def skew(stage_ids):
            """max/median task time of the stage with most task time."""
            best, ratio = -1, 0.0
            for s in stage_ids:
                runs = [t["run_ms"] for t in self.stage_tasks[s]]
                if len(runs) < 2 or sum(runs) <= best:
                    continue
                best = sum(runs)
                ratio = max(runs) / max(statistics.median(runs), 1)
            return ratio

        reduce_stages = [s for s in stages
                         if any(t["shuffle_read"] for t in self.stage_tasks[s])]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "spill_mib": sum(t["spill"] for t in tasks) / MIB,
            "shuffle_mib": sum(t["shuffle_write"] for t in tasks) / MIB,
            "in_rows": sum(t["in_rows"] for t in tasks),
            "in_mib": sum(t["in_bytes"] for t in tasks) / MIB,
            "task_skew": skew(stages),
            "reduce_skew": skew(reduce_stages),
            "py_in_mib": accum_sum.get("data sent to Python workers", 0) / MIB,
            "py_out_mib": accum_sum.get("data returned from Python workers", 0) / MIB,
            "call_sites": [j["call_site"] for j in jobs],
        }
