"""Job budgets: a public op on fixed data starts a fixed number of Spark
jobs. Wall time drifts between runs on a shared box; job counts do not, so
a change that adds a job to an op fails here even when it stays inside the
benchmark's timing bounds. A change that removes jobs lowers the budget in
the same change."""

import pytest

from goprowl_spark import corpus, schemas
from goprowl_spark.crawl import CrawlConfig, CrawlEngine
from goprowl_spark.engine import GoProwlSearchEngine
from goprowl_spark.session import local_df
from goprowl_spark.store import TABLE

N = 300

# Spark jobs one warm crawl round starts: budgeted pop, robots-free, with
# index upkeep, keyed by (fetch path, seen-filter kind).
CRAWL_ROUND_JOBS = {
    ("fetcher", "bloom"): 22,
    ("fetcher", "cuckoo"): 22,
    ("corpus", "bloom"): 22,
    ("corpus", "cuckoo"): 22,
}
# Janino compiles of a third such round. The first two rounds leave every
# class they compiled in the codegen cache, so only stages holding a
# per-round literal (the round number) compile again.
CRAWL_ROUND_COMPILES = {key: 13 for key in CRAWL_ROUND_JOBS}


def jobs_in_group(spark, group: str, fn) -> int:
    """Run ``fn`` under job group ``group``; the number of jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def compiles(spark) -> int:
    """Whole-stage and expression classes Janino has compiled so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.mark.parametrize("path, kind", sorted(CRAWL_ROUND_JOBS))
def test_crawl_round_job_budget(spark, tmp_path, path, kind):
    cfg = CrawlConfig(
        seeds=[corpus.url(0), corpus.url(5)],
        max_depth=3,
        default_budget=3,
        filter_kind=kind,
        maintain_index=True,
    )
    if path == "fetcher":
        eng = CrawlEngine(
            spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
        )
    else:
        eng = CrawlEngine(spark, corpus.corpus_df(spark, N), str(tmp_path), cfg)
    eng.start()
    assert eng.crawl_round()  # warm-up: the measured round is the second
    n = jobs_in_group(
        spark, f"job-budget-crawl-{path}-{kind}", lambda: eng.crawl_round()
    )
    assert 0 < n <= CRAWL_ROUND_JOBS[(path, kind)], n
    before = compiles(spark)
    assert eng.crawl_round()
    n = compiles(spark) - before
    assert n <= CRAWL_ROUND_COMPILES[(path, kind)], n


# Spark jobs one warm store or engine op starts on a 40-page store, in the
# order OPS runs them. A ranked read right after a write recomputes the
# corpus stats and a suggest miss rebuilds the vocabulary; the "hit" reads
# run on the same snapshot as the read before them.
OP_JOBS = {
    "index": 4,
    "bm25_after_write": 9,
    "bm25_hit": 7,
    "tfidf_hit": 7,
    "batch_index": 4,
    "tfidf_after_write": 9,
    "suggest_miss": 4,
    "suggest_hit": 1,
    "delete": 0,
    "search": 2,
    "get_total_results": 3,
}


def _pages(spark, ids):
    return local_df(
        spark,
        [
            (corpus.url(i), [("title", corpus.title(i), "", 0)], corpus.title(i),
             " ".join(corpus.paragraphs(i)), "webpage", None, None, None, None,
             None, None)
            for i in ids
        ],
        schemas.DOCUMENTS,
    )


def _ops(spark, eng, rnd: int) -> dict:
    """OPS of one pass; ``rnd`` picks fresh and existing doc ids."""
    return {
        "index": lambda: eng.index(corpus.url(100 + rnd), "t", "alpha beta"),
        "bm25_after_write": lambda: eng.search_ranked("alpha beta", "bm25").collect(),
        "bm25_hit": lambda: eng.search_ranked("alpha gamma", "bm25").collect(),
        "tfidf_hit": lambda: eng.search_ranked("alpha gamma", "tfidf").collect(),
        "batch_index": lambda: eng.batch_index(_pages(spark, [rnd, 41 + rnd, 50 + rnd])),
        "tfidf_after_write": lambda: eng.search_ranked("alpha beta", "tfidf").collect(),
        "suggest_miss": lambda: eng.suggest("a"),
        "suggest_hit": lambda: eng.suggest("b"),
        "delete": lambda: eng.delete(corpus.url(10 + rnd)),
        "search": lambda: eng.search("alpha").collect(),
        "get_total_results": lambda: eng.get_total_results("alpha"),
    }


@pytest.fixture(scope="module")
def op_jobs(spark, tmp_path_factory):
    """Jobs per op of the second of two passes over OPS (the first warms
    every op up). Neither pass's writes compact: every write appends."""
    eng = GoProwlSearchEngine(spark, str(tmp_path_factory.mktemp("ops")))
    eng.batch_index(_pages(spark, range(40)))
    for fn in _ops(spark, eng, 0).values():
        fn()
    counts = {
        name: jobs_in_group(spark, f"job-budget-op-{name}", fn)
        for name, fn in _ops(spark, eng, 1).items()
    }
    # build 2 directories, each pass 2 per upsert and 1 per delete
    assert eng.store.catalog.delta_counts(TABLE)[0] == 2 + 2 * 5
    return counts


@pytest.mark.parametrize("op", list(OP_JOBS))
def test_store_and_engine_op_job_budget(op_jobs, op):
    assert op_jobs[op] <= OP_JOBS[op], op_jobs


# Spark jobs one warm expire_urls of a single fetched url starts, by mode,
# on a cuckoo crawl with index upkeep whose delete logs have room. The
# rows leave through driver-written delete deltas; the jobs are the loads,
# the expired-url collect, the frontier probe count, and the forget mode's
# rebuild and append of the touched shards or the requeue's frontier
# append.
EXPIRE_JOBS = {"forget": 12, "reenqueue": 9}


@pytest.fixture(scope="module")
def expire_jobs(spark, tmp_path_factory):
    """Jobs per expire_urls mode on the second of two passes (the first
    warms both modes up), each pass expiring a fresh document."""
    cfg = CrawlConfig(
        seeds=[corpus.url(0)], max_depth=3, filter_kind="cuckoo", maintain_index=True
    )
    eng = CrawlEngine(
        spark, None, str(tmp_path_factory.mktemp("expire")), cfg,
        fetcher=corpus.make_fetcher(N),
    )
    eng.run()
    docs = iter(sorted(r["doc_id"] for r in eng.documents().collect()))
    modes = {"forget": False, "reenqueue": True}
    for reenqueue in modes.values():
        assert eng.expire_urls([next(docs)], reenqueue=reenqueue) == 1
    return {
        mode: jobs_in_group(
            spark, f"job-budget-expire-{mode}",
            lambda: eng.expire_urls([next(docs)], reenqueue=reenqueue),
        )
        for mode, reenqueue in modes.items()
    }


@pytest.mark.parametrize("mode", list(EXPIRE_JOBS))
def test_expire_urls_job_budget(expire_jobs, mode):
    assert 0 < expire_jobs[mode] <= EXPIRE_JOBS[mode], expire_jobs
