"""Per-layer tracing for the traced run, all from outside the library:

- ``StageCuts`` is a ``StageMetrics`` that also records when the pipeline
  marks each stage materialized, so a stage's wall is the interval since
  the previous cut;
- ``TimedPlanner`` wraps the V3 planner callable: the interval between one
  planner call's return and the next call is the previous decision's tool;
- LLM spans come from the latency client's per-process span files;
- Spark jobs, stages and tasks come from the status tracker and the event
  log of the traced session.
"""

from __future__ import annotations

import glob
import json
import os
import time

from llmxmapreduce_spark.operators.stage_metrics import StageMetrics
from llmxmapreduce_spark.pipelines.v3_host import parse_planner_response

from perfbench.latency import KIND_NAMES


class StageCuts(StageMetrics):
    """Records ``(stage, time)`` at every ``materialized`` call."""

    def __init__(self, spark):
        super().__init__(spark)
        self.t_start = time.time()
        self.cuts: list[tuple[str, float]] = []

    def materialized(self, name: str) -> None:
        super().materialized(name)
        self.cuts.append((name, time.time()))

    def segments(self, t_end: float, tail: str) -> dict[str, float]:
        """Wall per stage: each cut owns the interval since the previous
        cut; ``tail`` owns the interval from the last cut to ``t_end``."""
        out: dict[str, float] = {}
        prev = self.t_start
        for name, t in self.cuts:
            out[name] = out.get(name, 0.0) + t - prev
            prev = t
        out[tail] = out.get(tail, 0.0) + t_end - prev
        return out

    def rounds(self, name: str) -> int:
        return sum(1 for n, _ in self.cuts if n == name)

    def rows(self, name: str) -> int:
        for r in self.report():
            if r["stage"] == name:
                return r["rows_out"] or 0
        return 0


class TimedPlanner:
    """Planner callable that timestamps every decision."""

    def __init__(self, inner):
        self.inner = inner
        self.calls: list[tuple[float, float, str]] = []   # (start, end, tool)

    def __call__(self, conversation):
        t0 = time.time()
        reply = self.inner(conversation)
        d = parse_planner_response(reply)      # the host's own parse
        tool = d.get("tool_name") or d.get("action") or "complete"
        self.calls.append((t0, time.time(), tool))
        return reply

    def tool_walls(self, t_end: float) -> dict[str, float]:
        out: dict[str, float] = {}
        for k, (_, end, tool) in enumerate(self.calls):
            nxt = self.calls[k + 1][0] if k + 1 < len(self.calls) else t_end
            if tool != "complete":
                out[tool] = out.get(tool, 0.0) + nxt - end
        return out

    def spans(self) -> list[tuple[float, float]]:
        return [(a, b) for a, b, _ in self.calls]


# ------------------------------------------------------------- intervals

def union_length(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
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


def max_overlap(spans: list[tuple[float, float]]) -> int:
    events = sorted([(a, 1) for a, _ in spans] + [(b, -1) for _, b in spans])
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


# --------------------------------------------------------------- LLM layer

def load_llm_spans(trace_dir: str) -> list[dict]:
    spans = []
    for path in glob.glob(os.path.join(trace_dir, "llm-*.jsonl")):
        with open(path, encoding="utf-8") as f:
            spans += [json.loads(line) for line in f if line.strip()]
    return spans


def llm_metrics(spans: list[dict]) -> dict[str, float]:
    """``llm.callers`` is the width of the widest call kind: the most
    distinct (worker process, thread) pairs that made one kind of call."""
    iv = [(s["t0"], s["t1"]) for s in spans]
    busy = union_length(iv, float("-inf"), float("inf")) if iv else 0.0
    wait = sum(s["t1"] - s["t0"] for s in spans)
    out = {
        "llm.calls": len(spans),
        "llm.prompt_chars": sum(s["prompt_chars"] for s in spans),
        "llm.reply_chars": sum(s["reply_chars"] for s in spans),
        "llm.wait_s": wait,
        "llm.model_cpu_s": sum(s["model_cpu_s"] for s in spans),
        "llm.concurrency_mean": wait / busy if busy else 0.0,
        "llm.concurrency_max": max_overlap(iv) if iv else 0,
        "llm.callers": max((len({(s["pid"], s["tid"]) for s in spans
                                 if s["kind"] == k}) for k in KIND_NAMES),
                           default=0),
    }
    for kind in KIND_NAMES:
        out[f"llm.calls.{kind}"] = sum(1 for s in spans if s["kind"] == kind)
    return out


# ------------------------------------------------------------ Spark engine

def spark_conf(event_dir: str) -> dict[str, str]:
    """Session conf of the traced run: an event log in ``event_dir``."""
    os.makedirs(event_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.eventLog.compress": "false"}


def job_stage_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, stages) of one job group, from the public status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


def load_event_log(event_dir: str) -> dict:
    """Jobs as (start_s, end_s) and tasks as (end_s, run_s, cpu_s,
    shuffle_bytes) from every event log file in ``event_dir``."""
    jobs: dict[tuple, list[float]] = {}      # (log file, job id) -> span
    tasks: list[tuple[float, float, float, int]] = []
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    for path in glob.glob(os.path.join(event_dir, "**", "events_*"),
                          recursive=True):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJob' not in line and \
                        '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.setdefault((path, ev["Job ID"]), [0.0, 0.0])[0] = \
                        ev["Submission Time"] / 1000.0
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault((path, ev["Job ID"]), [0.0, 0.0])[1] = \
                        ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append((
                        ev["Task Info"]["Finish Time"] / 1000.0,
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("Executor CPU Time", 0) / 1e9,
                        sw.get("Shuffle Bytes Written", 0)))
    return {"jobs": [tuple(v) for v in jobs.values() if v[0] and v[1]],
            "tasks": tasks}


def spark_metrics(log: dict, lo: float, hi: float) -> dict[str, float]:
    """Task and gap metrics of the window [lo, hi] (one iteration)."""
    tasks = [t for t in log["tasks"] if lo <= t[0] <= hi]
    jobs = [j for j in log["jobs"] if lo <= j[0] <= hi]
    return {
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t[1] for t in tasks),
        "spark.executor_cpu_s": sum(t[2] for t in tasks),
        "spark.shuffle_bytes": sum(t[3] for t in tasks),
        "spark.driver_gap_s": (hi - lo) - union_length(jobs, lo, hi),
    }
