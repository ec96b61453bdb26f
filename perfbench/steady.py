"""Steadiness check: run one workload once per seed, one run at a time,
and print each end-to-end metric's median and spread (inter-quartile
distance as a share of the median) next to its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload crawl_polite --seeds 1 2 3 4 5

Each run's last output line is appended to --log (default
.perfbench_work/steady.jsonl) as {"workload", "seed", "result"}.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--log", default=os.path.join(common.ROOT, ".perfbench_work", "steady.jsonl"))
    args = ap.parse_args(argv)
    bench = common.load_benchmark_json()
    os.makedirs(os.path.dirname(args.log), exist_ok=True)

    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in args.seeds:
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(common.BENCH_DIR, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=common.ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(lines[-1])
        with open(args.log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed, "result": result}) + "\n")
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        shown = " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items())
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} {shown}", flush=True)

    if len(args.seeds) >= 2:
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            print(f"{m['name']}: median {statistics.median(xs):.4g} {m['unit']}, "
                  f"spread {common.spread(xs):.3f}, bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
