"""Per-layer rollups from the Spark event log, and a process-tree RSS sampler.

The event log is switched on for the traced passes only, by adding
Spark's own ``EventLoggingListener`` to the running context's listener
bus and removing it after. Untraced and traced passes therefore run in
the same warm JVM and Python workers, and their wall-time difference is
the cost of tracing. The log is written uncompressed (the default codec, zstd,
needs a Python package the parser does not have).

The benchmark records one span per call (query name, layer, start, end);
every Spark job of a call carries the query name as its job group.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

MB = float(1 << 20)

LAYER_METRICS = [
    ("wall_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("jvm_gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("python_boot_s", "s"),
    ("python_run_s", "s"),
    ("python_io_mb", "MB"),
    ("driver_s", "s"),
    ("peak_exec_mem_mb", "MB"),
]

_PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"
_PY_IO = ("data sent to Python workers", "data returned from Python workers")


class EventLog:
    """Spark's EventLoggingListener, attached to a live context."""

    def __init__(self, spark, log_dir: str):
        self.jsc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        os.makedirs(log_dir, exist_ok=True)
        conf = (
            self.jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self.app_id = f"perfbench-{os.getpid()}-{int(time.time() * 1000)}"
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.app_id, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf, self.jsc.hadoopConfiguration(),
        )
        self.path = os.path.join(log_dir, self.app_id)

    def __enter__(self):
        self.listener.start()
        self.jsc.addSparkListener(self.listener)
        return self

    def __exit__(self, *exc):
        # the bus delivers asynchronously: let it hand over the events of
        # the jobs that already finished before the listener goes
        self.jsc.listenerBus().waitUntilEmpty()
        self.jsc.removeSparkListener(self.listener)
        self.listener.stop()

    def events(self):
        with open(self.path) as f:
            for line in f:
                yield json.loads(line)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def rollup(events, spans, layer_of: dict[str, str]) -> dict[str, dict[str, float]]:
    """Sum the event log per layer. ``spans`` are (query, t0_ms, t1_ms)."""
    job_group: dict[int, str] = {}
    job_iv: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            job_iv[jid] = [e["Submission Time"], e["Submission Time"]]
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_iv:
                job_iv[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            layer = layer_of.get(job_group.get(stage_job.get(e["Stage ID"], -1), ""))
            if layer is None:
                continue
            m, o = e.get("Task Metrics") or {}, out[layer]
            o["tasks"] += 1
            o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
            o["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            o["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            o["shuffle_read_mb"] += (
                sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            ) / MB
            o["peak_exec_mem_mb"] = max(
                o["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / MB
            )
            for a in e["Task Info"].get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if upd is None:
                    continue
                if name in _PY_BOOT:
                    o["python_boot_s"] += float(upd) / 1e3
                elif name == _PY_RUN:
                    o["python_run_s"] += float(upd) / 1e3
                elif name in _PY_IO:
                    o["python_io_mb"] += float(upd) / MB
    for jid, group in job_group.items():
        if group in layer_of:
            out[layer_of[group]]["jobs"] += 1
    for query, t0, t1 in spans:
        inside = [
            (max(a, t0), min(b, t1))
            for jid, (a, b) in job_iv.items()
            if job_group[jid] == query and b > t0 and a < t1
        ]
        o = out[layer_of[query]]
        o["wall_s"] += (t1 - t0) / 1e3
        o["driver_s"] += (t1 - t0 - _union_ms(inside)) / 1e3
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (the JVM and its Python workers)."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_mb(root: int) -> float:
    """Summed RSS of every descendant of ``root``."""
    page, total = os.sysconf("SC_PAGE_SIZE"), 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / MB


class RssSampler:
    """Peak descendant RSS between ``start`` and ``stop``, sampled every 50 ms."""

    def __init__(self, interval: float = 0.05):
        self.interval, self.peak = interval, 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self.peak = 0.0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak
