"""Measurement from outside the program: process-tree CPU and memory,
host steal and load, Spark status-store harvesting, and spans.

Everything here reads ``/proc`` or Spark's status stores through the
public py4j handles; nothing in ``ocr_compare_spark`` is instrumented.
"""

from __future__ import annotations

import os
import re
import signal
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


# ------------------------------------------------------------ /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+sys CPU seconds of the process tree under ``root``: the
    driver, the JVM and the Python workers. Reaped children are
    counted through their parent's cutime/cstime."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after the name: utime=11 stime=12 cutime=13 cstime=14
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest/guest_nice are already counted in user/nice
    total = sum(vals[:8])
    return vals[7], total


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostLog:
    """Steal ticks and load average sampled at every boundary the
    benchmark marks, so each run records the host it ran on."""

    def __init__(self) -> None:
        self.samples: list[dict] = []
        self.mark("start")

    def mark(self, label: str) -> None:
        steal, total = host_ticks()
        self.samples.append(
            {"label": label, "t": time.time(), "steal": steal, "total": total, "load1": loadavg()}
        )

    def steal_frac(self, a: int = 0, b: int = -1) -> float:
        s0, s1 = self.samples[a], self.samples[b]
        dt = s1["total"] - s0["total"]
        return (s1["steal"] - s0["steal"]) / dt if dt > 0 else 0.0

    def summary(self) -> dict:
        loads = [s["load1"] for s in self.samples]
        return {
            "steal_frac": self.steal_frac(),
            "load1_min": min(loads),
            "load1_max": max(loads),
            "samples": self.samples,
        }


def stop_tree(root: int, timeout: float = 20.0) -> list[int]:
    """Wait for every process below ``root`` to end; kill the ones
    still alive after ``timeout``. Returns the pids that were killed."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        rest = [p for p in descendants(root) if p != root]
        if not rest:
            return []
        time.sleep(0.2)
    killed = [p for p in descendants(root) if p != root]
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    return killed


# -------------------------------------------------- Spark status store


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": 1024.0 * MB, "TiB": 1024.0**2 * MB,
}
_TOTAL_RE = re.compile(r"([-0-9.,]+)\s*([A-Za-z]+)?")

#: SQL plan metric name -> (ledger key, scale to the ledger unit)
SQL_METRICS = {
    "time to start Python workers": ("py_start_s", 1.0),
    "time to initialize Python workers": ("py_init_s", 1.0),
    "time to run Python workers": ("py_run_s", 1.0),
    "data sent to Python workers": ("arrow_in_mb", 1.0 / MB),
    "data returned from Python workers": ("arrow_out_mb", 1.0 / MB),
}


def _sql_total(text: str | None) -> float:
    """The total of a formatted SQL metric ("total (min, med, max
    ...)\\n4.8 s (...)" or a bare "850 ms") in seconds or bytes."""
    if not text:
        return 0.0
    line = text.split("\n")[-1]
    m = _TOTAL_RE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Harvester:
    """Per-job-group metrics read from Spark's status stores."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for j in _seq(self.store.jobsList(None)):
            g = j.jobGroup()
            if not g.isDefined() or g.get() != group:
                continue
            sub, end = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and end.isDefined()):
                continue
            out.append(
                {
                    "job_id": j.jobId(),
                    "start": sub.get().getTime() / 1000.0,
                    "end": end.get().getTime() / 1000.0,
                    "stages": [int(s) for s in _seq(j.stageIds())],
                }
            )
        return sorted(out, key=lambda j: j["job_id"])

    def _stage(self, sid: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            s = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stages have no attempt in the store
            return None
        return {
            "tasks": s.numCompleteTasks(),
            "executor_run_s": s.executorRunTime() / 1e3,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_read_mb": (s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead()) / MB,
            "shuffle_write_mb": s.shuffleWriteBytes() / MB,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
            "input_mb": s.inputBytes() / MB,
        }

    def _sql(self, job_ids: set[int]) -> dict:
        out = {key: 0.0 for key, _ in SQL_METRICS.values()}
        for e in _seq(self.sql.executionsList()):
            jobs = {int(k) for k in _seq(e.jobs().keys().toSeq())}
            if not jobs & job_ids:
                continue
            values = self.sql.executionMetrics(e.executionId())
            for m in _seq(e.metrics()):
                hit = SQL_METRICS.get(m.name())
                if hit is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[hit[0]] += _sql_total(v.get()) * hit[1]
        return out

    def group(self, group: str) -> dict:
        """Jobs, summed stage metrics and summed Python/Arrow SQL
        metrics of every job that ran under ``group``."""
        jobs = self.jobs(group)
        totals = {
            "jobs": len(jobs), "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "input_mb": 0.0,
        }
        for j in jobs:
            for sid in j["stages"]:
                st = self._stage(sid)
                if st:
                    for k, v in st.items():
                        totals[k] += v
        totals.update(self._sql({j["job_id"] for j in jobs}))
        return {"metrics": totals, "jobs": jobs}


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    cur_s = cur_e = None
    total = 0.0
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


# ------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory: name, start, end, parent, run id. Every
    span also names the Spark job group its calls ran under, so the
    harvested status-store metrics can be keyed by it."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}:{sid}:{name}"
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id, "group": group}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(sid)
            self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.enabled:
                self._stack.pop()
                if self._stack:
                    self.sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_s(self, span: dict) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [(c["start"], c["end"]) for c in self.children(span["id"])]
        return (span["end"] - span["start"]) - union_s(kids, span["start"], span["end"])

    def subtree(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(self.spans[s])
            todo.extend(c["id"] for c in self.children(s))
        return out
