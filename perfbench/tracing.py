"""Spans, Spark status-store counters and host readings for the benchmark.

Spans are recorded from the benchmark's side of each public call it makes
into the engine (and, in a traced run only, around the engine functions it
wraps in place: ``catalog.load_table``, ``export_job.export_table`` and
``cdc.StateTable.merge_batch``). They stay in memory and are written out
when the run ends.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. When ``enabled`` is false every method is a
    no-op, so an untraced run pays one attribute check per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        # seconds spent in span bookkeeping inside ops: the tracing overhead
        self.cost = 0.0

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled or self.op_id is None:
            yield counts
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": None,
            "end": None,
            "counts": counts,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield counts
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if rec["op"] >= 0:
                self.cost += rec["start"] - t0 + time.perf_counter() - rec["end"]

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call (a plain function or a
        method looked up on its class)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, calls=1):
                return fn(*args, **kwargs)

        return traced

    def patch_function(self, fn, name: str) -> None:
        """Replace every binding of ``fn`` in the engine's loaded modules,
        so calls through ``from x import fn`` are traced too."""
        traced = self.wrap(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("kube_etl_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self, ops_only: bool = False) -> dict[str, float]:
        """Layer -> total self time (span duration minus the time its child
        spans cover), summed over all spans, or over the spans of ops when
        ``ops_only`` (set-up spans carry op id -1); the layer is the span
        name's first dotted component."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if ops_only and s["op"] < 0:
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child.get(i, 0.0)
        return out


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt_seconds(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_counters(spark, group: str) -> dict:
    """Per-job and per-stage counters of one job group, read from Spark's
    status store (works with the UI disabled)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    tracker = sc.statusTracker()
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        jd = store.job(jid)
        stages = []
        for sid in tracker.getJobInfo(jid).stageIds:
            st = store.lastStageAttempt(sid)
            stages.append(
                {
                    "id": sid,
                    "tasks": st.numTasks(),
                    "run_s": st.executorRunTime() / 1000.0,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "output_bytes": st.outputBytes(),
                    "start": _opt_seconds(st.submissionTime()),
                    "end": _opt_seconds(st.completionTime()),
                }
            )
        jobs.append(
            {
                "id": jid,
                "start": _opt_seconds(jd.submissionTime()),
                "end": _opt_seconds(jd.completionTime()),
                "stages": stages,
            }
        )
    # a stage shared by two jobs (a reused shuffle) is counted once
    uniq = {s["id"]: s for j in jobs for s in j["stages"]}.values()
    spans = [(s["start"], s["end"]) for s in uniq if s["start"] and s["end"]]
    return {
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in uniq),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in uniq),
        "spill_bytes": sum(s["spill_bytes"] for s in uniq),
        "executor_run_s": sum(s["run_s"] for s in uniq),
        "executor_cpu_s": sum(s["cpu_s"] for s in uniq),
        "stage_span_s": _union_seconds(spans),
        "job_records": jobs,
    }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time consumed so far by the given processes."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / tick


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each live process."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
