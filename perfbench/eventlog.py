"""Summarise a Spark JSON event log by benchmark span.

Jobs carry the ``perfbench.span`` local property of the span that started
them; a span's stages are the stages of its jobs.  Per span (and its
child spans) this gives run and CPU time, JVM GC, shuffle and spill
bytes, the MapInArrow operator metrics, task skew, and the scans of a
given input path in the SQL plans of its executions.

Usage: python perfbench/eventlog.py <event log file>
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"  # the Spark local property naming a job's span
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
MB = 1e6


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            execution = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "span": None if span is None else int(span),
                "execution": None if execution is None else int(execution),
                "stages": e["Stage IDs"],
                "start": e["Submission Time"],
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            st = self.stages.setdefault(e["Stage ID"], {"tasks": [], "acc": {}})
            st["tasks"].append(info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.setdefault(si["Stage ID"], {"tasks": [], "acc": {}})
            acc: dict[str, float] = {}
            for a in si.get("Accumulables", []):
                acc[a["Name"]] = acc.get(a["Name"], 0.0) + _num(a.get("Value"))
            st["acc"] = acc
        elif kind == SQL_START:
            self.executions[e["executionId"]] = {
                "plan": e.get("sparkPlanInfo") or {},
                "start": e["time"],
            }
        elif kind == SQL_END:
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]]["end"] = e["time"]

    def jobs_of(self, span_ids: set[int] | None) -> list[dict]:
        return [j for j in self.jobs.values() if span_ids is None or j["span"] in span_ids]

    def summary(self, span_ids: set[int] | None = None, scan_path: str | None = None) -> dict:
        """Totals over the jobs of ``span_ids`` (all jobs when None)."""
        jobs = self.jobs_of(span_ids)
        stage_ids = {s for j in jobs for s in j["stages"] if s in self.stages}
        stages = [self.stages[s] for s in stage_ids]

        def acc(name: str) -> float:
            return sum(st["acc"].get(name, 0.0) for st in stages)

        # skew of the stage with the most task time: slowest task over the
        # median task of that stage
        skew = 1.0
        busiest = max(
            (st for st in stages if len(st["tasks"]) >= 2),
            key=lambda st: sum(st["tasks"]),
            default=None,
        )
        if busiest is not None:
            skew = max(busiest["tasks"]) / max(1.0, statistics.median(busiest["tasks"]))
        executions = {j["execution"] for j in jobs if j["execution"] is not None}
        arrow_ms = sum(
            self.executions[x].get("end", self.executions[x]["start"]) - self.executions[x]["start"]
            for x in executions
            if x in self.executions and _has_node(self.executions[x]["plan"], "MapInArrow")
        )
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(len(st["tasks"]) for st in stages),
            "run_s": acc("internal.metrics.executorRunTime") / 1e3,
            "cpu_s": acc("internal.metrics.executorCpuTime") / 1e9,
            "gc_s": acc("internal.metrics.jvmGCTime") / 1e3,
            "shuffle_write_mb": acc("internal.metrics.shuffle.write.bytesWritten") / MB,
            "shuffle_read_mb": (
                acc("internal.metrics.shuffle.read.remoteBytesRead")
                + acc("internal.metrics.shuffle.read.localBytesRead")
            ) / MB,
            "spill_mb": (
                acc("internal.metrics.memoryBytesSpilled") + acc("internal.metrics.diskBytesSpilled")
            ) / MB,
            "python_in_mb": acc("data sent to Python workers") / MB,
            "python_out_mb": acc("data returned from Python workers") / MB,
            "python_run_s": acc("time to run Python workers") / 1e3,
            "python_start_s": acc("time to start Python workers") / 1e3,
            "python_init_s": acc("time to initialize Python workers") / 1e3,
            "task_max_over_median": skew,
            "arrow_executions_s": arrow_ms / 1e3,
            "input_scans": sum(
                _count_scans(self.executions[x]["plan"], scan_path)
                for x in executions
                if x in self.executions
            )
            if scan_path
            else 0,
        }


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _has_node(plan: dict, name: str) -> bool:
    return any(n.get("nodeName", "").startswith(name) for n in _walk(plan))


def _count_scans(plan: dict, path: str) -> int:
    return sum(
        1
        for n in _walk(plan)
        if n.get("nodeName", "").startswith("Scan")
        and path in (n.get("metadata") or {}).get("Location", "")
    )


def log_file(event_dir: Path) -> Path:
    """The single application log under ``event_dir``."""
    files = [p for p in event_dir.rglob("*") if p.is_file() and "appstatus" not in p.name]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {event_dir}, found {len(files)}")
    return files[0]


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    print(json.dumps(EventLog(Path(sys.argv[1])).summary(), indent=1))
