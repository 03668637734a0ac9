"""Spans, Spark engine metrics, process memory and host steal.

Spans are recorded from the benchmark's side of each layer boundary: the
package itself carries no tracing.  Each span sets a Spark job group while
it is the innermost open span, so the Spark jobs it starts can be looked up
in the application status store after the traced region ends.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory spans sharing one trace id; written out by the caller."""

    def __init__(self, sc):
        self.sc = sc
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "trace_id": self.trace_id,
            "span_id": sid,
            "parent_id": self._open[-1] if self._open else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._open.append(sid)
        self.sc.setJobGroup(f"perfbench-{self.trace_id}-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(
                    f"perfbench-{self.trace_id}-{self._open[-1]}",
                    self.spans[self._open[-1]]["name"],
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent_id"] == sid]

    def duration(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(s["span_id"]))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(s) - covered

    def descendants(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c["span_id"] for c in self.children(cur))
        return out

    def total(self, name: str) -> float:
        return sum(self.duration(s) for s in self.spans if s["name"] == name)

    def collect_engine_metrics(self) -> None:
        """Attach each span's own Spark jobs and stage metrics (run after
        the traced region, so the lookups add nothing to traced wall)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for s in self.spans:
            group = f"perfbench-{self.trace_id}-{s['span_id']}"
            jobs = sorted(tracker.getJobIdsForGroup(group))
            m = dict.fromkeys(
                (
                    "executor_run_ms",
                    "shuffle_write_bytes",
                    "spill_bytes",
                    "peak_exec_mem_bytes",
                    "tasks",
                    "input_records",
                    "result_bytes",
                ),
                0,
            )
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for stage_id in info.stageIds if info is not None else ():
                    if stage_id in seen:
                        continue  # a reused shuffle stage counts once
                    seen.add(stage_id)
                    attempts = store.stageData(stage_id, False, None, False, None)
                    for i in range(attempts.size()):
                        d = attempts.apply(i)
                        if d.status().toString() != "COMPLETE":
                            continue
                        m["executor_run_ms"] += d.executorRunTime()
                        m["shuffle_write_bytes"] += d.shuffleWriteBytes()
                        m["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                        m["peak_exec_mem_bytes"] = max(
                            m["peak_exec_mem_bytes"], d.peakExecutionMemory()
                        )
                        m["tasks"] += d.numCompleteTasks()
                        m["input_records"] += d.inputRecords()
                        m["result_bytes"] += d.resultSize()
            s["jobs"] = len(jobs)
            s["engine"] = m

    def inclusive_engine(self, names: tuple[str, ...]) -> dict:
        """Engine metrics summed over every span with one of ``names`` and
        all of its descendants."""
        ids: set[int] = set()
        for s in self.spans:
            if s["name"] in names:
                ids.update(self.descendants(s["span_id"]))
        out = {"jobs": 0}
        for sid in ids:
            s = self.spans[sid]
            out["jobs"] += s["jobs"]
            for k, v in s["engine"].items():
                if k == "peak_exec_mem_bytes":
                    out[k] = max(out.get(k, 0), v)
                else:
                    out[k] = out.get(k, 0) + v
        return out

    def to_records(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {
                **{k: v for k, v in s.items() if k not in ("start", "end")},
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "self_s": self.self_time(s),
            }
            for s in self.spans
        ]


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident memory of ``root_pid`` and all its descendants."""
    kids = _children_of()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_seconds(root_pid: int) -> float:
    """User plus system CPU seconds of ``root_pid`` and all its descendants,
    including descendants that have already exited and been waited for."""
    kids = _children_of()
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / tick


class RssSampler:
    """Peak summed RSS of a process tree, sampled on a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))


def cpu_times() -> tuple[float, float]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted inside user/nice
    return float(fields[7]), float(sum(fields[:8]))


def steal_frac(start: tuple[float, float], end: tuple[float, float]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0
