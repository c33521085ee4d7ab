"""Benchmark-side tracing for the traced run (``--trace 1``).

Spans are recorded around the benchmark's calls into each engine layer
(name, start, end, parent, request id) and kept in memory until the run
ends.  A few layer boundaries sit inside an engine call (the catalog commit
inside ``build_index``, query analysis and planning inside
``Searcher.search``); those are timed by wrapping the module attribute the
caller looks up, for the traced run only -- the untraced run executes the
unmodified program.

Spans that call into Spark set their own job group, so Spark's job, stage
and task metrics can be attributed to them afterwards: job/stage/task counts
come from ``statusTracker``, task times, shuffle, spill and Python-worker
byte counts from the event log (enabled through ``get_spark(extra_conf=)``).
"""

from __future__ import annotations

import glob
import itertools
import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

_INSERT = "Execute InsertIntoHadoopFsRelationCommand"
_ARGS_RE = re.compile(r"Arguments: (\S+?),")

# table written by a Spark action -> build/delta phase name
TABLE_PHASE = {"tokens_tmp": "docs_pass", "docs": "docs_pass", "segments": "segments",
               "lineage": "lineage", "term_stats": "term_stats"}
PHASES = ("docs_pass", "stats", "segments", "lineage", "term_stats")


class NullTracer:
    """Untraced run: every span is a no-op."""

    def span(self, name, rid=None, spark=False):
        return nullcontext()


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, rid=None, spark: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "rid": rid if rid is not None else (parent["rid"] if parent else None),
               "group": None}
        prev_group = None
        if spark:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = f"span-{rec['id']}"
            self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if spark:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, spark: bool = False) -> None:
        """Time every call of ``owner.attr`` as a span (traced run only)."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, spark=spark):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # ------------------------------------------------------------------
    # post-run attribution
    # ------------------------------------------------------------------
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, span: dict) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        return {s["id"]: (s["end"] - s["start"]) - covered(kids[s["id"]]) for s in self.spans}

    def status_counts(self, groups: list[str]) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of job groups, from statusTracker."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for j in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    stages += 1
                    si = st.getStageInfo(sid)
                    tasks += si.numTasks if si else 0
        return jobs, stages, tasks

    def dump(self, path: str, extra: dict) -> None:
        st = self.self_times()
        rows = [dict(s, self_s=st[s["id"]]) for s in sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


def covered(intervals: list[tuple[float, float]], lo: float = float("-inf"),
            hi: float = float("inf")) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EventLog:
    """Per-job and per-stage metrics parsed from a Spark event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.exec_table: dict[str, str] = {}
        for path in glob.glob(f"{log_dir}/*"):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            p = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "id": e["Job ID"], "group": p.get("spark.jobGroup.id"),
                "exec": p.get("spark.sql.execution.id"), "callsite": p.get("callSite.short") or "",
                "submit": e["Submission Time"] / 1000, "end": None, "stages": e["Stage IDs"]}
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            plan = e.get("physicalPlanDescription") or ""
            # the write's details section (output path first) follows the
            # last mention of the insert node
            m = _ARGS_RE.search(plan, plan.rfind(_INSERT)) if _INSERT in plan else None
            if m:
                self.exec_table[str(e["executionId"])] = m.group(1).rstrip("/").rsplit("/", 1)[-1]
        elif ev == "SparkListenerTaskEnd":
            st = self.stages[e["Stage ID"]]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            launch = info["Launch Time"] / 1000
            st["first_launch"] = min(st.get("first_launch", launch), launch)
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1000
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            w = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
            st["shuffle_records"] += w.get("Shuffle Records Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            for a in info.get("Accumulables") or []:
                if a.get("Name") == "data sent to Python workers":
                    st["py_sent"] += float(a.get("Update") or 0)
                elif a.get("Name") == "data returned from Python workers":
                    st["py_recv"] += float(a.get("Update") or 0)

    def group_jobs(self, groups) -> list[dict]:
        groups = set(groups)
        return sorted((j for j in self.jobs.values() if j["group"] in groups), key=lambda j: j["id"])

    def job_sum(self, jobs: list[dict], key: str) -> float:
        return sum(self.stages[s][key] for j in jobs for s in j["stages"] if s in self.stages)

    def sched_delay_s(self, jobs: list[dict]) -> float:
        """Job submission -> first task launch, summed over jobs."""
        total = 0.0
        for j in jobs:
            launches = [self.stages[s]["first_launch"] for s in j["stages"]
                        if s in self.stages and "first_launch" in self.stages[s]]
            if launches:
                total += max(0.0, min(launches) - j["submit"])
        return total

    def phases(self, jobs: list[dict], start: float) -> dict[str, dict]:
        """Split an index write (build_index / apply_delta) into phases named
        by the table each Spark action writes; collects issued from the
        plans layer are the collection-stats phase, those from the posting
        operator belong to the segments phase, anything else joins the
        next classified job."""
        labels: list[str | None] = []
        for j in jobs:
            table = self.exec_table.get(j["exec"] or "")
            if table in TABLE_PHASE:
                labels.append(TABLE_PHASE[table])
            elif "operators/postings.py" in j["callsite"]:
                labels.append("segments")
            elif "/plans/" in j["callsite"]:
                labels.append("stats")
            else:
                labels.append(None)
        nxt = None
        for i in range(len(labels) - 1, -1, -1):
            labels[i] = labels[i] or nxt
            nxt = labels[i]
        out = {p: {"jobs": [], "wall_s": 0.0} for p in PHASES}
        prev_end = start
        for j, lab in zip(jobs, labels):
            lab = lab or "term_stats"
            out[lab]["jobs"].append(j)
            end = j["end"] or prev_end
            out[lab]["wall_s"] += max(0.0, end - prev_end)
            prev_end = max(prev_end, end)
        return out
