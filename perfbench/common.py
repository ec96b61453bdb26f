"""Pure helpers shared by the benchmark workloads: statistics, the
seeded workload parameters, the metric declarations read from
BENCHMARK.json, the /proc process-tree walk, and result assembly. Nothing
here starts a JVM, so perfbench/test_perfbench.py runs without Spark."""

from __future__ import annotations

import json
import math
import os
import random
import statistics

from goprowl_spark import corpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def load_benchmark_json(root: str = ROOT) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def load_layers(path: str = os.path.join(BENCH_DIR, "layers.json")) -> dict:
    with open(path) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ stats


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    strictly above its rank. Returns (value, percentile, n). With
    ``beyond`` or fewer samples no such percentile exists and the maximum
    is returned, labelled percentile 100, so the caller can print the
    sample count next to it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return xs[-1], 100.0, n
    k = n - beyond - 1  # 0-based rank with exactly `beyond` samples after it
    return xs[k], 100.0 * (k + 1) / n, n


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median: the steadiness
    rule the benchmark's bounds are set against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ------------------------------------------------------------ workloads

# Page-corpus geometry is corpus.host_id: the hot host h0 owns 30 % of
# the pages, h1..h9 share the rest evenly. Seed page ids are drawn per
# host so the host mix of the seed set is a stated property, not an
# accident of the id stride.


def seed_page_ids(rng: random.Random, n_pages: int, per_host: list[int]) -> list[int]:
    """Distinct page ids below ``n_pages``, ``per_host[h]`` of them on
    host h (by corpus.host_id), sorted by host, then id."""
    by_host: list[set[int]] = [set() for _ in per_host]
    while any(len(ids) < n for ids, n in zip(by_host, per_host)):
        i = rng.randrange(n_pages)
        h = corpus.host_id(i)
        if len(by_host[h]) < per_host[h]:
            by_host[h].add(i)
    return [i for ids in by_host for i in sorted(ids)]


def crawl_params(seed: int) -> dict:
    """crawl_polite: a per-host budget with every host's seed backlog at
    least twice the budget, so every measured round pops exactly ten
    budgets; the hot host h0 gets four budgets of seeds (a deliberate
    skew: its backlog grows fastest)."""
    rng = random.Random(f"crawl_polite/{seed}")
    n_pages, budget = 60_000, 100
    per_host = [4 * budget] + [2 * budget] * 9
    return {
        "n_pages": n_pages,
        "seeds": seed_page_ids(rng, n_pages, per_host),
        "hot_host_seed_share": per_host[0] / sum(per_host),
        "max_depth": 3,
        "budget": budget,
        # robots: two cold hosts disallow the pages whose id starts with a
        # digit drawn from the seed (the disallow-prefix rule shape)
        "robots": {
            f"h{h}.test": [f"/p/{rng.randrange(1, 10)}"]
            for h in sorted(rng.sample(range(1, 10), 2))
        },
    }


READ_KINDS = (
    "search_simple",
    "search_field",
    "search_phrase",
    "search_fuzzy",
    "bm25",
    "tfidf",
    "suggest",
    "total",
)
WRITE_KINDS = ("index", "batch_index", "delete")


def search_params(seed: int) -> dict:
    """search_mixed: the store's documents are corpus pages drawn
    uniformly, so their host mix is the corpus's own (30 % on h0, the rest
    spread evenly over h1..h9); queries draw their words from
    corpus.VOCAB."""
    rng = random.Random(f"search_mixed/{seed}")
    n_pages = 200_000
    return {
        "n_pages": n_pages,
        "doc_pages": sorted(rng.sample(range(n_pages), 1200)),
        "op_seed": rng.randrange(1 << 30),
    }


def typo(word: str, rng: random.Random) -> str:
    """One deleted letter: within Levenshtein distance 1 of ``word``."""
    k = rng.randrange(len(word))
    return word[:k] + word[k + 1:]


def read_op(kind: str, rng: random.Random, vocab: list[str]) -> dict:
    w1, w2, w3 = rng.sample(vocab, 3)
    if kind == "search_simple":
        return {"query": f"{w1} {w2}"}
    if kind == "search_field":
        return {"query": f"title:{w1} content:{w2}"}
    if kind == "search_phrase":
        return {"query": f'"{w1} {w2}" {w3}'}
    if kind == "search_fuzzy":
        return {"query": f"{typo(w1, rng)}~1 {w2}"}
    if kind in ("bm25", "tfidf"):
        return {"query": f"{w1} {w2} {w3}"}
    if kind == "suggest":
        return {"prefix": w1[:2]}
    return {"query": w1}


def op_stream(op_seed: int, vocab: list[str]):
    """Endless deterministic stream of (kind, args) ops for search_mixed,
    in blocks of ten: one write, the write kinds taking turns, then nine
    reads (every READ_KINDS kind once, plus one more simple search, in
    seeded order), which all see the write. The mix is the same in every block, so ops/s does not
    depend on where the window ends. Write args carry draws in [0, 1) the
    caller maps onto its live doc set, so the stream needs no store
    state."""
    rng = random.Random(op_seed)
    block = 0
    while True:
        kind = WRITE_KINDS[block % len(WRITE_KINDS)]
        yield kind, {"picks": [rng.random() for _ in range(4)], "page": rng.randrange(1 << 20)}
        kinds = list(READ_KINDS) + ["search_simple"]
        rng.shuffle(kinds)
        for kind in kinds:
            yield kind, read_op(kind, rng, vocab)
        block += 1


# corpus_ops: the ten bench.py headline contract queries
HEADLINE = (
    "agg_q1",
    "topk_per_group",
    "broadcast_join_agg",
    "tfidf_search",
    "bm25_search",
    "search_relevancy",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "emb_cosine_topk",
    "token_counts",
)


# ------------------------------------------------------------ processes


def proc_tree(root_pid: int) -> dict[int, tuple[int, int]]:
    """{pid: (resident pages, CPU clock ticks)} for ``root_pid`` and all
    its descendants, read from /proc (the driver JVM is a child of this
    process and the Python UDF workers are children of the JVM). The
    ticks are user + system time, the process's own and that of the
    children it has reaped, so a worker's time stays counted after it
    exits."""
    children: dict[int, list[int]] = {}
    stat: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        stat[pid] = (int(fields[21]), sum(int(f) for f in fields[11:15]))
    out, stack = {}, [root_pid]
    while stack:
        pid = stack.pop()
        out[pid] = stat.get(pid, (0, 0))
        stack.extend(children.get(pid, []))
    return out


def rss_mb_of_tree(root_pid: int) -> float:
    pages = sum(rss for rss, _ in proc_tree(root_pid).values())
    return pages * os.sysconf("SC_PAGE_SIZE") / (1 << 20)


def cpu_s_of_tree(root_pid: int) -> float:
    """CPU seconds the process tree has used. Time the hypervisor steals
    from the machine is not charged to it, so per-item CPU is steadier on
    a shared machine than wall time."""
    ticks = sum(t for _, t in proc_tree(root_pid).values())
    return ticks / os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------------- output


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    out = {}
    for name, value in metrics.items():
        if not isinstance(value, (int, float)) or math.isnan(value):
            raise ValueError(f"metric {name} has no numeric value: {value!r}")
        out[name] = {"value": value, "unit": units[name]}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": out}
    )
