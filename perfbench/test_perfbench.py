"""Self-tests for the benchmark's pure logic; no SparkSession is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from goprowl_spark import corpus  # noqa: E402
from perfbench import common, crawl_oracle, headline, run  # noqa: E402

BENCH = common.load_benchmark_json()
WL_SOURCES = {
    name: open(os.path.join(common.BENCH_DIR, mod.split(".")[-1] + ".py")).read()
    for name, mod in run.WORKLOADS.items()
}


# ------------------------------------------------------------ tail rule


def test_tail_with_few_samples_is_the_maximum():
    assert common.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert common.tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)


def test_tail_leaves_exactly_ten_samples_above():
    xs = [float(i) for i in range(100)]
    value, pct, n = common.tail(xs)
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    value, pct, n = common.tail([float(i) for i in range(11)])
    assert (value, n) == (0.0, 11)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        common.tail([])


def test_spread_is_iqr_over_median():
    assert common.spread([10.0] * 5) == 0.0
    assert math.isclose(common.spread([8.0, 9.0, 10.0, 11.0, 12.0]), 0.3)


# ------------------------------------------------- metric declarations


def test_workloads_match_benchmark_json():
    assert {w["name"] for w in BENCH["workloads"]} == set(run.WORKLOADS)


def test_every_workload_reports_every_end_to_end_metric():
    for wl, src in WL_SOURCES.items():
        metrics = src[src.index('"metrics": {') + len('"metrics": {'):]
        metrics = metrics[: metrics.index("}")]
        reported = set(re.findall(r'"([a-z0-9_.]+)":', metrics))
        assert reported == {m["name"] for m in BENCH["end_to_end"]}, wl


def test_end_to_end_contract():
    names = [m["name"] for m in BENCH["end_to_end"]]
    assert "setup_s" in names
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])


def test_every_per_layer_metric_is_produced_and_mapped():
    sources = "\n".join(WL_SOURCES.values())
    moves = common.load_layers()["moves"]
    for m in BENCH["per_layer"]:
        name = m["name"]
        layer, _, rest = name.partition(".")
        from_event_log = layer in run.LAYERS and rest in (
            "task_cpu_s", "shuffle_read_bytes", "spill_bytes"
        )
        from_run = name in ("seen_filter.shuffle_bytes", "crawl.jobs_per_round")
        produced = (
            from_event_log
            or from_run
            or f'"{name}"' in sources
            or name.startswith("crawl.wave.") and name[len("crawl.wave."):-2] in sources
            or name.startswith("contract.") and name[len("contract."):-2] in common.HEADLINE
        )
        assert produced, name
        assert moves.get(run.moves_key(name)), name


def test_names_are_unique_and_well_formed():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


def test_absent_layers_are_zero_and_listed():
    spec = [{"name": "store.upsert_s"}, {"name": "parse.pages"}, {"name": "crawl.task_cpu_s"}]
    totals = {"crawl": {"task_cpu_s": 1.5, "shuffle_read_bytes": 0, "spill_bytes": 0,
                        "shuffle_write_bytes": 0, "jobs": 4}}
    metrics, absent = run.per_layer_metrics({"parse.pages": 7}, totals, spec)
    assert metrics == {"store.upsert_s": 0, "parse.pages": 7, "crawl.task_cpu_s": 1.5}
    assert absent == ["store.upsert_s"]


def test_result_line_shape():
    line = common.result_line(True, 3, 0, {"setup_s": 1.25}, {"setup_s": "s"})
    assert json.loads(line) == {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"setup_s": {"value": 1.25, "unit": "s"}},
    }
    with pytest.raises(ValueError):
        common.result_line(True, 1, 0, {"x": float("nan")}, {"x": "s"})


# ---------------------------------------------------- seeded generation


def test_crawl_params_are_seeded():
    a, b = common.crawl_params(7), common.crawl_params(7)
    assert a == b
    assert a["seeds"] != common.crawl_params(8)["seeds"]


def test_crawl_seed_host_mix_is_as_stated():
    p = common.crawl_params(3)
    per_host = [0] * corpus.N_HOSTS
    for i in p["seeds"]:
        per_host[corpus.host_id(i)] += 1
    assert per_host == [4 * p["budget"]] + [2 * p["budget"]] * 9
    assert len(set(p["seeds"])) == len(p["seeds"])
    assert p["hot_host_seed_share"] == per_host[0] / sum(per_host)


def test_every_crawl_round_pops_ten_budgets():
    p = common.crawl_params(5)
    rounds, _ = crawl_oracle.replay(
        p["n_pages"], p["seeds"], p["max_depth"], p["budget"], p["robots"], 6
    )
    assert [popped for popped, _ in rounds] == [corpus.N_HOSTS * p["budget"]] * 6


def test_op_stream_is_seeded_and_blocked():
    def take(seed, n):
        s = common.op_stream(seed, corpus.VOCAB)
        return [next(s) for _ in range(n)]

    assert take(1, 40) == take(1, 40)
    assert take(1, 40) != take(2, 40)
    ops = take(4, 30)
    for b in range(3):
        block = ops[b * 10:(b + 1) * 10]
        assert block[0][0] == common.WRITE_KINDS[b]
        kinds = [k for k, _ in block[1:]]
        assert sorted(kinds) == sorted(list(common.READ_KINDS) + ["search_simple"])


def test_search_params_are_seeded():
    assert common.search_params(3) == common.search_params(3)
    assert common.search_params(3)["doc_pages"] != common.search_params(4)["doc_pages"]


def test_generated_tables_are_seeded(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    for d, seed in (("a", 1), ("b", 1), ("c", 2)):
        headline.generate_tables(seed, str(tmp_path / d))
    for name in ("lineitem", "documents", "embeddings"):
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))
