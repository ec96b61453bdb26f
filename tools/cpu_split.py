"""Where a warm crawl round's or search block's CPU goes, per process and
per JVM thread.

``python tools/cpu_split.py [--workload crawl_polite] [--seed N] [--rounds N]``
crawls perfbench's crawl_polite fixture (``common.crawl_params``) through its
warm-up rounds and ``--rounds`` more, and prints each round's process-tree CPU
seconds from /proc, split into: the driver (this process and its non-JVM
descendants), the JVM's threads by name (executor tasks, JIT, GC and VM
thread, other) while they live, its exited threads, and its child processes,
the Python workers (reaped ones too), so the groups sum to perfbench's
``cpu_s_of_tree``; then the round's Janino compiles and wall time.

``python tools/cpu_split.py --workload search_mixed [--seed N] [--blocks N]``
builds search_mixed's store and runs its warm-up as ``perfbench/wl_search.py``
does, then splits each of ``--blocks`` blocks (one write, nine reads) the same
way, with the block's Spark jobs (each op runs under its own job group),
Janino compiles and wall time, and ends with a table of per-op-kind medians.
The per-op /proc reads (a few ms each) are charged to the driver group.
"""

import argparse
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench import common, harness, wl_crawl, wl_search  # noqa: E402

GROUPS = ("driver", "jvm_task", "jvm_jit", "jvm_gc", "jvm_other", "jvm_exited", "py_workers")
THREADS = {"Executor task": "jvm_task", "C1 Compiler": "jvm_jit", "C2 Compiler": "jvm_jit",
           "GC Thread": "jvm_gc", "G1 ": "jvm_gc", "VM Thread": "jvm_gc"}
TCK = os.sysconf("SC_CLK_TCK")


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


def split(before, after) -> dict[str, float]:
    """CPU seconds per group between two snapshots."""
    (b, b_threads), (a, a_threads) = before, after
    d = {g: a[g] - b[g] for g in GROUPS}
    for tid, (g, ticks) in a_threads.items():  # a live thread's own time
        t = ticks - b_threads.get(tid, (g, 0))[1]
        d[g], d["jvm_exited"] = d[g] + t, d["jvm_exited"] - t
    return {g: v / TCK for g, v in d.items()}


def _line(label: str, d: dict[str, float], tail: str) -> str:
    groups = " + ".join(f"{g} {d[g]:.2f}" for g in GROUPS)
    return f"{label}: cpu {sum(d.values()):.2f} s = {groups}; {tail}"


def crawl_rounds(h, spark, codegen, seed: int, rounds: int) -> None:
    eng = wl_crawl._engine(spark, os.path.join(h.work, "crawl"), common.crawl_params(seed))
    eng.start()
    for _ in range(wl_crawl.WARM_ROUNDS):
        eng.crawl_round()
    for r in range(rounds):
        compiles = codegen.METRIC_COMPILATION_TIME().getCount()
        b, t0 = snapshot(os.getpid()), time.perf_counter()
        if not eng.crawl_round():
            sys.exit("the frontier drained")
        wall, d = time.perf_counter() - t0, split(b, snapshot(os.getpid()))
        n = codegen.METRIC_COMPILATION_TIME().getCount() - compiles
        print(_line(f"round {r + 1}", d, f"compiles {n}; wall {wall:.2f} s"))


def search_blocks(h, spark, codegen, seed: int, blocks: int) -> None:
    from goprowl_spark import corpus
    from goprowl_spark.engine import GoProwlSearchEngine

    # A copy of wl_search.run's "# fixture" and "# warm-up" blocks
    # (perfbench/wl_search.py:159-183, untimed here): FIXTURES store builds,
    # the last one serving the blocks, then one block's reads on the first
    # store. perfbench is not edited for this tool, so a change to those
    # lines must be copied here, or this splits a different workload from
    # the one cpu_ms_per_item measures.
    p = common.search_params(seed)
    pages = [(corpus.url(i), *wl_search._page_doc(i)) for i in p["doc_pages"]]
    engines = []
    for k in range(wl_search.FIXTURES):
        eng = GoProwlSearchEngine(spark, os.path.join(h.work, f"store{k}"))
        eng.batch_index(wl_search._doc_rows(spark, pages))
        engines.append(eng)
    eng = engines[-1]
    model = {
        r["doc_id"]: (r["title"], r["content"])
        for r in eng.store.get_all().select("doc_id", "title", "content").collect()
    }
    warm = wl_search.Client(h, engines[0], dict(model), p["n_pages"])
    stream = common.op_stream(p["op_seed"] ^ 1, corpus.VOCAB)
    next(stream)
    for _ in range(wl_search.READS_PER_BLOCK):
        warm.read(*next(stream))

    client = wl_search.Client(h, eng, model, p["n_pages"])
    stream = common.op_stream(p["op_seed"], corpus.VOCAB)
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    by_kind: dict[str, list[tuple[dict[str, float], float, int, int]]] = {}
    for blk in range(blocks):
        t_block, jobs_block = time.perf_counter(), 0
        compiles_block = codegen.METRIC_COMPILATION_TIME().getCount()
        first = snap = snapshot(os.getpid())
        for i in range(wl_search.READS_PER_BLOCK + 1):
            kind, args = next(stream)
            group = f"cpu_split-b{blk}-op{i}"
            sc.setJobGroup(group, kind)
            compiles, t = codegen.METRIC_COMPILATION_TIME().getCount(), time.perf_counter()
            if kind in common.READ_KINDS:
                client.read(kind, args)
            else:
                client.write(kind, args)
            wall = time.perf_counter() - t
            after = snapshot(os.getpid())
            jobs = len(tracker.getJobIdsForGroup(group))
            n = codegen.METRIC_COMPILATION_TIME().getCount() - compiles
            by_kind.setdefault(kind, []).append((split(snap, after), wall, jobs, n))
            snap, jobs_block = after, jobs_block + jobs
        wall = time.perf_counter() - t_block
        n = codegen.METRIC_COMPILATION_TIME().getCount() - compiles_block
        print(_line(f"block {blk + 1}", split(first, snap),
                    f"jobs {jobs_block}; compiles {n}; wall {wall:.2f} s"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)

    print("per op kind, medians over its ops (cpu and groups in s, wall in ms):")
    cols = ("cpu", "jvm_task", "jvm_jit", "jvm_other", "driver", "py_workers")
    print(f"  {'kind':<14} {'n':>3} " + " ".join(f"{c:>10}" for c in cols) + f" {'wall':>8} {'jobs':>5} {'compiles':>8}")
    for kind, ops in sorted(by_kind.items()):
        med = {c: statistics.median(sum(d.values()) if c == "cpu" else d[c] for d, *_ in ops) for c in cols}
        print(f"  {kind:<14} {len(ops):>3} " + " ".join(f"{med[c]:>10.2f}" for c in cols)
              + f" {statistics.median(w for _, w, _, _ in ops) * 1000:>8.0f}"
              + f" {statistics.median(j for *_, j, _ in ops):>5g}"
              + f" {statistics.median(n for *_, n in ops):>8g}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("crawl_polite", "search_mixed"), default="crawl_polite")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=3, help="crawl_polite rounds to split")
    ap.add_argument("--blocks", type=int, default=6, help="search_mixed blocks to split")
    args = ap.parse_args()
    h = harness.Run("cpu_split", trace=False)
    try:
        spark = h.start_session()
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        if args.workload == "crawl_polite":
            crawl_rounds(h, spark, codegen, args.seed, args.rounds)
        else:
            search_blocks(h, spark, codegen, args.seed, args.blocks)
    finally:
        h.stop()
        shutil.rmtree(h.work, ignore_errors=True)


if __name__ == "__main__":
    main()
