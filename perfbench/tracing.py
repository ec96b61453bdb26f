"""Per-layer tracing: spans in memory, Spark job groups, event-log totals.

Every call into an engine layer is wrapped in ``Tracer.span(layer)``.
Once ``Tracer.start`` has run, a span records the call's wall time in
memory and tags the Spark jobs it starts with ``setJobGroup(layer)``;
before that it does nothing. ``Tracer.start`` also attaches an
uncompressed, non-rolling event log to the running session, so the
untraced work a run compares against runs without it; after the log is
closed, task CPU, shuffle and spill are summed per job group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark, log_dir: str):
        self.spark = spark
        self.log_dir = log_dir
        self.enabled = False
        self.spans: list[tuple[str, float]] = []
        self._listener = None

    def start(self) -> None:
        """Attach the event log (EventLoggingListener, the listener
        spark.eventLog.enabled installs at start-up) and turn job groups
        on."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        conf = (
            sc._jsc.sc().conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        os.makedirs(self.log_dir, exist_ok=True)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(self.log_dir)), conf,
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        sc._jsc.sc().addSparkListener(self._listener)
        self.enabled = True

    def close(self) -> None:
        """Drain the listener bus and close the event log."""
        if self._listener is None:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((layer, time.perf_counter() - t0))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def seconds(self, layer: str) -> list[float]:
        return [dt for name, dt in self.spans if name == layer]


def job_group_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from every event log in ``log_dir``:
    jobs (count), task_cpu_s, shuffle_read_bytes, shuffle_write_bytes,
    spill_bytes. Stages are attributed to the group of the job that
    submitted them (SparkListenerJobStart carries spark.jobGroup.id)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: {
            "jobs": 0,
            "task_cpu_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
    )
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
                    totals[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    t = totals[stage_group.get(ev.get("Stage ID"), "untraced")]
                    t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics", {})
                    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(totals)


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files
