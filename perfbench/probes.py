"""Measurement probes that sit outside the engine: layer-boundary spans,
process CPU and memory from ``/proc``, host steal time, and the Spark
event-log reader that turns one session's log into per-layer engine
metrics. Nothing here imports the engine."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Layer-boundary spans (name, start, end, parent) kept in memory and
    written out once when the run ends. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_s": time.perf_counter() - self._t0,
            "end_s": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        covered by direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end_s"] - s["start_s"]
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end_s"] - s["start_s"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans, "self_s": self.self_times()}, f, indent=1)


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of the given processes, including their reaped
    children (fields utime, stime, cutime, cstime)."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _CLK_TCK


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def host_cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user
    return vals[7], sum(vals[:8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class CpuMeter:
    """CPU seconds of this process (the Spark driver) plus the JVM process tree (the
    JVM and its Python workers), read around a measured region."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def read(self) -> float:
        return cpu_seconds([os.getpid()]) + cpu_seconds(descendants(self.jvm_pid))

    def python_worker_pids(self) -> list[int]:
        return [p for p in descendants(self.jvm_pid)[1:] if "pyspark" in cmdline(p)]


# ------------------------------------------------------------ event log

_PY_METRICS = {
    "data sent to Python workers": "arrow.data_sent_bytes",
    "data returned from Python workers": "arrow.data_received_bytes",
    "time to run Python workers": "arrow.python_total_s",
    "time to start Python workers": "arrow.python_boot_s",
    "time to initialize Python workers": "arrow.python_init_s",
}


def read_event_log(path: str, wanted: set[str], cores: int, wall_s: float, passes: int) -> dict:
    """Engine metrics of the jobs whose description is in ``wanted`` (the
    measured passes), as per-pass averages. ``wall_s`` is the summed wall
    time of those passes, the base of ``spark.idle_core_share``. When the
    passes called ``write_output``, also ``pipeline.exec_s`` (its output
    writes) and ``sink.commit_extra_s`` (its metrics and manifest writes)."""
    stage_desc: dict[int, str] = {}
    jobs = 0
    tasks: list[dict] = []
    # parquet-write SQL executions per description, in start order: the
    # first is write_output's output write, the rest its metrics/manifest
    write_start: dict[int, tuple[str, int]] = {}
    write_ms: dict[str, list[int]] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev.endswith("SparkListenerSQLExecutionStart"):
                plan = e.get("physicalPlanDescription") or ""
                if e.get("description") in wanted and "InsertIntoHadoopFsRelationCommand" in plan:
                    write_start[e["executionId"]] = (e["description"], e["time"])
            elif ev.endswith("SparkListenerSQLExecutionEnd") and e.get("executionId") in write_start:
                desc, start = write_start.pop(e["executionId"])
                write_ms.setdefault(desc, []).append(e["time"] - start)
            elif ev == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description")
                if desc in wanted:
                    jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_desc[sid] = desc
            elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_desc:
                tasks.append(e)
    acc = {k: 0.0 for k in (
        "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.scan_bytes",
        "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
        "spark.shuffle_fetch_wait_s", "spark.spill_bytes", *_PY_METRICS.values(),
    )}
    kernel_ms: list[float] = []
    for e in tasks:
        m = e.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        acc["spark.task_run_s"] += run_ms / 1e3
        acc["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["spark.scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        acc["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        acc["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["spark.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        acc["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        is_kernel = False
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            key = _PY_METRICS.get(a.get("Name"))
            if key is None:
                continue
            upd = float(a.get("Update") or 0)
            # sizes are bytes; run time is a millisecond metric, boot and
            # init time nanosecond metrics
            if key == "arrow.python_total_s":
                upd /= 1e3
            elif key.endswith("_s"):
                upd /= 1e9
            acc[key] += upd
            is_kernel = is_kernel or key == "arrow.data_sent_bytes"
        if is_kernel:
            kernel_ms.append(float(run_ms))
    n = max(1, passes)
    out = {k: v / n for k, v in acc.items()}
    out["spark.jobs"] = jobs / n
    out["spark.tasks"] = len(tasks) / n
    out["spark.idle_core_share"] = max(0.0, 1.0 - acc["spark.task_run_s"] / (cores * wall_s)) if wall_s else 0.0
    out["spark.kernel_task_p50_ms"] = statistics.median(kernel_ms) if kernel_ms else 0.0
    out["spark.kernel_task_max_ms"] = max(kernel_ms) if kernel_ms else 0.0
    if write_ms:
        # the output write executes the pipeline
        out["pipeline.exec_s"] = sum(w[0] for w in write_ms.values()) / 1e3 / n
        out["sink.commit_extra_s"] = sum(sum(w[1:]) for w in write_ms.values()) / 1e3 / n
    return out
