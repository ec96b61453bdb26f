"""Job budgets: a public op on fixed data starts a fixed number of Spark
jobs. Wall time drifts between runs on a shared box; job counts do not, so
a change that adds a job to an op fails here even when it stays inside the
benchmark's timing bounds. A change that removes jobs lowers the budget in
the same change."""

import pytest

from goprowl_spark import corpus
from goprowl_spark.crawl import CrawlConfig, CrawlEngine

N = 300

# Spark jobs one warm crawl round starts: budgeted pop, robots-free, with
# index upkeep, keyed by (fetch path, seen-filter kind).
CRAWL_ROUND_JOBS = {
    ("fetcher", "bloom"): 22,
    ("fetcher", "cuckoo"): 22,
    ("corpus", "bloom"): 26,
    ("corpus", "cuckoo"): 26,
}


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
