"""Benchmark of record for goprowl_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process starts one SparkSession on
every core of the machine, builds the workload's inputs from --seed,
measures for --seconds, checks the outputs outside the timed window and
prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, gathered from spans, Spark
job groups and the event log (see perfbench/README.md). The lines before
it name the machine, every workload-specific metric with its unit and,
when traced, the end-to-end metric each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not os.path.isdir(os.path.join(_ROOT, "goprowl_spark")):
    sys.exit("goprowl_spark/ not found next to perfbench/: run from the root of a source checkout")
sys.path.insert(0, _ROOT)

from perfbench import common  # noqa: E402

WORKLOADS = {
    "crawl_polite": "perfbench.wl_crawl",
    "search_mixed": "perfbench.wl_search",
}
# layers whose event-log totals are reported as <layer>.task_cpu_s etc.
LAYERS = (
    "crawl", "politeness", "parse", "seen_filter", "tables",
    "ranking", "store", "search", "engine", "contract",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def moves_key(name: str) -> str:
    """The layers.json entry that maps per-layer metric ``name``."""
    layer, _, rest = name.partition(".")
    if layer in LAYERS and rest in ("task_cpu_s", "shuffle_read_bytes", "spill_bytes"):
        return "*." + rest
    if layer == "contract":
        return "contract.*_s"
    return name


def per_layer_metrics(layers: dict, totals: dict, spec: list[dict]) -> tuple[dict, list[str]]:
    """Fill every declared per-layer metric: workload-measured values,
    then event-log totals per job group; anything the workload does not
    exercise is reported as 0, the time or count this workload spends in
    that layer, and listed as absent."""
    values = {k: v for k, v in layers.items() if not k.startswith("_")}
    for layer in LAYERS:
        t = totals.get(layer)
        if t is None:
            continue
        values[f"{layer}.task_cpu_s"] = t["task_cpu_s"]
        values[f"{layer}.shuffle_read_bytes"] = t["shuffle_read_bytes"]
        values[f"{layer}.spill_bytes"] = t["spill_bytes"]
    if "seen_filter" in totals:
        values["seen_filter.shuffle_bytes"] = totals["seen_filter"]["shuffle_write_bytes"]
    if "crawl" in totals and layers.get("_rounds"):
        values["crawl.jobs_per_round"] = totals["crawl"]["jobs"] / layers["_rounds"]
    absent = [m["name"] for m in spec if m["name"] not in values]
    for name in absent:
        values[name] = 0
    return {m["name"]: values[m["name"]] for m in spec}, absent


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    bench = common.load_benchmark_json()

    import importlib

    from perfbench import harness, tracing

    wl = importlib.import_module(WORKLOADS[args.workload])
    h = harness.Run(args.workload, bool(args.trace))
    t_start = time.perf_counter()
    try:
        out = wl.run(h, args.seed, args.seconds)
        env = h.environment()
        t_stop = time.perf_counter()
        h.stop()
        out["detail"]["teardown_s"] = (time.perf_counter() - t_stop, "s")
        totals = tracing.job_group_totals(h.event_dir) if args.trace else {}
    except Exception:
        traceback.print_exc()
        h.stop()
        shutil.rmtree(h.work, ignore_errors=True)
        return 1
    shutil.rmtree(h.work, ignore_errors=True)

    print("env " + json.dumps(env, sort_keys=True))
    for name, (value, unit) in out["detail"].items():
        print(f"detail {name} = {value:.6g} {unit}")
    if args.trace:
        layers = out["layers"]
        for layer in sorted({name for name, _ in h.tracer.spans}):
            secs = h.tracer.seconds(layer)
            print(f"spans {layer}: n={len(secs)} total_s={sum(secs):.3f} max_s={max(secs):.3f}")
        spec = bench["per_layer"]
        metrics, absent = per_layer_metrics(layers, totals, spec)
        moves = common.load_layers()["moves"]
        for name, value in metrics.items():
            print(f"layer {name} = {value:.6g}  moves {','.join(moves.get(moves_key(name), []))}")
        if absent:
            print(f"absent (no call into these layers on {args.workload}, reported as 0): " + " ".join(absent))
        units = {m["name"]: m["unit"] for m in spec}
    else:
        metrics = out["metrics"]
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        missing = set(units) - set(metrics)
        if missing:
            raise SystemExit(f"workload did not report {sorted(missing)}")
    print(f"wall_s = {time.perf_counter() - t_start:.3f}")
    print(
        common.result_line(
            out["failed"] == 0, out["attempted"], out["failed"],
            {k: metrics[k] for k in units}, units,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
