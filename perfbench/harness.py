"""Session lifecycle for one benchmark run: a SparkSession fitted to the
machine it runs on (all cores, a driver heap that fits its RAM, scratch and
spark.local.dir inside the checkout, which is the only place a run may
write), the environment record, a peak-RSS sampler, and a shutdown
that waits for the JVM and its Python workers to exit."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time

from perfbench import common, tracing

# 4 GiB driver heap: the engine default (24g) does not fit a 15 GB box
# that other jobs share; every workload here peaks well below this.
DRIVER_MEM = "4g"


def machine() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / (1 << 20), 1),
        "python": platform.python_version(),
    }


class Run:
    """Owns the work directory, the SparkSession and the RSS sampler."""

    def __init__(self, name: str, trace: bool):
        self.work = os.path.join(common.ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.event_dir = os.path.join(self.work, "eventlog")
        os.makedirs(self.tmp, exist_ok=True)
        self.trace = trace
        self.spark = None
        self.tracer = None
        self._peak_rss = 0.0
        self._sampling = False
        self._sampler = None

    def start_session(self):
        # the Python UDF workers are forked by the JVM: they import
        # goprowl_spark through PYTHONPATH, not through this sys.path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (common.ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = self.tmp
        # local mode takes its block/shuffle dirs from this variable
        # before spark.local.dir; keep both inside the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
        from goprowl_spark.session import get_spark

        extra = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = get_spark(
            "perfbench", cores=os.cpu_count(), extra_conf=extra
        )
        self.tracer = tracing.Tracer(self.spark, self.event_dir)
        return self.spark

    def environment(self) -> dict:
        env = machine()
        env["spark"] = self.spark.version
        env["java"] = self.spark.sparkContext._jvm.System.getProperty("java.version")
        env["driver_mem"] = os.environ["SPARK_DRIVER_MEM"]
        env["cores"] = self.spark.sparkContext.defaultParallelism
        return env

    # ------------------------------------------------------------ RSS

    def start_rss_sampler(self, period: float = 0.25) -> None:
        def loop():
            while self._sampling:
                self._peak_rss = max(self._peak_rss, common.rss_mb_of_tree(os.getpid()))
                time.sleep(period)

        self._sampling = True
        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def stop_rss_sampler(self) -> float:
        self._sampling = False
        if self._sampler is not None:
            self._sampler.join()
        return self._peak_rss

    # ------------------------------------------------------------ shutdown

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait for both to exit (the Python
        worker daemon exits with the JVM)."""
        self._sampling = False
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.tracer.close()
        gateway = SparkContext._gateway
        started = [pid for pid in common.proc_tree(os.getpid()) if pid != os.getpid()]
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (subprocess.TimeoutExpired, OSError):
                proc.kill()
                proc.wait()
        # the JVM's children (the pyspark worker daemon and its forks) are
        # reparented when it exits; wait until every process that was in
        # our tree before the stop is gone
        deadline = time.time() + 20
        while time.time() < deadline and any(_alive(p) for p in started):
            time.sleep(0.2)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False

