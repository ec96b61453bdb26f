"""Where a warm crawl round's CPU goes, per process and per JVM thread.

``python tools/cpu_split.py [--seed N] [--rounds N]`` crawls perfbench's
crawl_polite fixture (``common.crawl_params``) through its warm-up rounds and
``--rounds`` more, and prints each round's process-tree CPU seconds from
/proc, split into: the driver (this process and its non-JVM descendants), the
JVM's threads by name (executor tasks, JIT, GC and VM thread, other) while
they live, its exited threads, and its child processes, the Python workers
(reaped ones too), so the groups sum to perfbench's ``cpu_s_of_tree``; then
the round's Janino compiles and wall time.
"""

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench import common, harness, wl_crawl  # noqa: E402

GROUPS = ("driver", "jvm_task", "jvm_jit", "jvm_gc", "jvm_other", "jvm_exited", "py_workers")
THREADS = {"Executor task": "jvm_task", "C1 Compiler": "jvm_jit", "C2 Compiler": "jvm_jit",
           "GC Thread": "jvm_gc", "G1 ": "jvm_gc", "VM Thread": "jvm_gc"}


def _stat(path: str) -> tuple[str, list[int]]:
    """(comm, [ppid, utime, stime, cutime, cstime]) of a /proc stat file."""
    with open(path) as fh:
        head, tail = fh.read().rsplit(")", 1)
    f = tail.split()
    return head.split("(", 1)[1], [int(f[1])] + [int(x) for x in f[11:15]]


def snapshot(root: int) -> tuple[dict[str, int], dict[int, tuple[str, int]]]:
    """CPU ticks under ``root`` per group (JVM total as jvm_exited), and per live JVM thread."""
    procs = {}
    for name in filter(str.isdigit, os.listdir("/proc")):
        try:
            procs[int(name)] = _stat(f"/proc/{name}/stat")
        except OSError:  # exited since the listing
            pass
    kids: dict[int, list[int]] = {}
    for pid, (_, f) in procs.items():
        kids.setdefault(f[0], []).append(pid)
    out, threads, stack = dict.fromkeys(GROUPS, 0), {}, [(root, "driver")]
    while stack:
        pid, group = stack.pop()
        comm, f = procs.get(pid, ("", [0] * 5))
        if group == "driver" and comm == "java":  # the driver JVM
            out["jvm_exited"] += f[1] + f[2]
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    tcomm, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
                except OSError:  # exited since the listing
                    continue
                g = next((v for k, v in THREADS.items() if tcomm.startswith(k)), "jvm_other")
                threads[int(tid)] = (g, tf[1] + tf[2])
            out["py_workers"] += f[3] + f[4]
            stack.extend((k, "py_workers") for k in kids.get(pid, []))
        else:
            out[group] += sum(f[1:])
            stack.extend((k, group) for k in kids.get(pid, []))
    return out, threads


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()
    h = harness.Run("cpu_split", trace=False)
    tck = os.sysconf("SC_CLK_TCK")
    try:
        spark = h.start_session()
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        eng = wl_crawl._engine(spark, os.path.join(h.work, "crawl"), common.crawl_params(args.seed))
        eng.start()
        for _ in range(wl_crawl.WARM_ROUNDS):
            eng.crawl_round()
        for r in range(args.rounds):
            compiles = codegen.METRIC_COMPILATION_TIME().getCount()
            (b, b_threads), t0 = snapshot(os.getpid()), time.perf_counter()
            if not eng.crawl_round():
                sys.exit("the frontier drained")
            wall, (a, a_threads) = time.perf_counter() - t0, snapshot(os.getpid())
            d = {g: a[g] - b[g] for g in GROUPS}
            for tid, (g, ticks) in a_threads.items():  # a live thread's own time
                t = ticks - b_threads.get(tid, (g, 0))[1]
                d[g], d["jvm_exited"] = d[g] + t, d["jvm_exited"] - t
            n = codegen.METRIC_COMPILATION_TIME().getCount() - compiles
            groups = " + ".join(f"{g} {d[g] / tck:.2f}" for g in GROUPS)
            print(f"round {r + 1}: cpu {sum(d.values()) / tck:.2f} s = {groups}; compiles {n}; wall {wall:.2f} s")
    finally:
        h.stop()
        shutil.rmtree(h.work, ignore_errors=True)


if __name__ == "__main__":
    main()
